"""Surface guard: every public top-level name in `deduputil_spark/` must be
named by code that ships — the package itself, `__spark_entry__.py`,
`bench.py`, `submit_pipeline.py` or the benchmark under `perfbench/`.  A name that only
tests reach is dead weight unless it is listed below with its reason.

No Spark: the definitions come from an AST scan, and a name counts as named
when it occurs as a whole word in a shipping file anywhere besides its one
definition.  Documentation counts on purpose: `sources/package.py` maps each
of its functions to the reference CLI flag it realizes, and that documented
API is shipped surface even where no shipping module calls it."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "deduputil_spark"
SHIPPING = [
    *sorted(PACKAGE.rglob("*.py")),
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    ROOT / "submit_pipeline.py",
    *sorted(p for p in (ROOT / "perfbench").rglob("*.py") if ".work" not in p.parts),  # not its scratch
]

# Reference semantics kept on purpose although only tests call them.
ALLOWED_TEST_ONLY = {
    "validate_assembly": "fail-fast check that no turn holds the document separator",
    "apply_deltas": "replays J3-J5 delta entries: the inverse compute_deltas is tested against",
    "zlib_block": "scalar F4 zlib block, byte-identical to the reference's zlib_compress_block",
    "minhash_jaccard_estimate": "signature-agreement Jaccard estimate the signature tests check",
    "containment_candidates": "exact-substring containment pass over w-token anchors",
    "verify_substring": "exact `contains` check on containment candidates",
    "incremental_dedup_stream": "A4 streaming append of new transcripts into the block store",
    "streaming_exact_dedup": "A4 watermarked streaming exact-duplicate suppression",
}


def _public_definitions(path: Path) -> list[str]:
    names = []
    for node in ast.parse(path.read_text(), filename=str(path)).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.append(node.name)
        elif isinstance(node, ast.Assign):
            names += [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names.append(node.target.id)
    return [n for n in names if not n.startswith("_")]


def test_every_public_name_has_a_shipping_caller():
    defined = {n: str(p.relative_to(ROOT)) for p in PACKAGE.rglob("*.py") for n in _public_definitions(p)}
    texts = [p.read_text() for p in SHIPPING]

    def named(name: str) -> bool:
        word = re.compile(rf"\b{re.escape(name)}\b")
        return sum(len(word.findall(t)) for t in texts) > 1

    dead = {n: where for n, where in defined.items() if n not in ALLOWED_TEST_ONLY and not named(n)}
    assert not dead, f"public names no shipping code uses (delete them, or allowlist with a reason): {dead}"
    # the allowlist only shrinks: an entry that gained a shipping caller, or
    # whose name is gone, leaves the list
    stale = sorted(n for n in ALLOWED_TEST_ONLY if n not in defined or named(n))
    assert not stale, f"remove from ALLOWED_TEST_ONLY: {stale}"
