"""Surface guards, no Spark: everything is an AST scan.

- Names: every public top-level name in `deduputil_spark/` must be referenced
  by code that ships — the package itself, `__spark_entry__.py`, `bench.py`,
  `submit_pipeline.py` or the benchmark under `perfbench/`.  A reference is a
  name, an attribute or an import alias; a mention in a docstring, comment or
  string does not count.  A name that only tests reach is dead weight unless
  it is listed below with its reason.
- Options: every defaulted parameter of a public top-level function in
  `deduputil_spark/` must be passed, by keyword or by position, by some call
  of that function in shipping code or tests.
  Every `DedupConfig` field must be read as `.field` by shipping code outside
  `config.py` and set by keyword in some `DedupConfig(...)` or `replace(...)`
  call.  An option no caller sets is a constant with extra code around it.

Both allowlists only shrink: an entry that no longer applies fails the test.
"""

from __future__ import annotations

import ast
from functools import cache
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
TESTS = sorted((ROOT / "tests").rglob("*.py"))

# Reference semantics kept on purpose although only tests call them.
ALLOWED_TEST_ONLY = {
    "apply_deltas": "replays J3-J5 delta entries: the inverse compute_deltas is tested against",
    "minhash_jaccard_estimate": "signature-agreement Jaccard estimate the signature tests check",
    "containment_candidates": "exact-substring containment pass over w-token anchors",
    "verify_substring": "exact `contains` check on containment candidates",
    "incremental_dedup_stream": "A4 streaming append of new transcripts into the block store",
    "streaming_exact_dedup": "A4 watermarked streaming exact-duplicate suppression",
    "rabin_bugcompat_scalar": "golden reference: the binary's call-parity rabin for the -f rabin_hash golden",
    "bdiff": "J3 block-level diff of two documents' chunk sequences",
    "pair_recall": "the BASELINE planted-pair recall gate",
    "list_package": "S4 `dedup -t`: list a package's documents",
    "package_stats": "S4 `dedup -s`: a package's dedup statistics",
    "extract_package": "S5 `dedup -x`: reconstruct a package's documents",
    "extract_turns": "S5 `dedup -x` with per-turn metadata restored",
    "remove_from_package": "S4 `dedup -r`: remove documents from a package",
}

# Options kept although no call sets them: "DedupConfig.<field>" or
# "<function>(<parameter>)", each with its reason.
ALLOWED_UNSET_OPTIONS = {
    "DedupConfig.jaccard_threshold": "verify threshold; the frozen perfbench reads it from its config",
    "DedupConfig.max_cc_iterations": "connected-components round bound; the frozen perfbench reads it",
}


@cache
def _tree(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _public_definitions(path: Path) -> list[str]:
    names = []
    for node in _tree(path).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.append(node.name)
        elif isinstance(node, ast.Assign):
            names += [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names.append(node.target.id)
    return [n for n in names if not n.startswith("_")]


def _code_references(paths: list[Path]) -> set[str]:
    """Names that code reads: loaded names, attributes and import aliases."""
    refs: set[str] = set()
    for p in paths:
        for node in ast.walk(_tree(p)):
            if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
                refs.add(node.id)
            elif isinstance(node, ast.Attribute):
                refs.add(node.attr)
            elif isinstance(node, ast.alias):
                refs.add(node.name.rsplit(".", 1)[-1])
    return refs


def _calls(paths: list[Path]) -> dict[str, list[ast.Call]]:
    """Every call in `paths`, keyed by the called name (`f(...)` or `x.f(...)`)."""
    out: dict[str, list[ast.Call]] = {}
    for p in paths:
        for node in ast.walk(_tree(p)):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name:
                    out.setdefault(name, []).append(node)
    return out


def _passes(call: ast.Call, param: str, index: int | None) -> bool:
    """Whether `call` passes `param` (at positional `index`, None if keyword-only)."""
    if any(k.arg in (param, None) for k in call.keywords):  # by name, or via **kwargs
        return True
    if index is None:
        return False
    return any(j == index or (isinstance(a, ast.Starred) and j <= index) for j, a in enumerate(call.args))


def _unset_options() -> set[str]:
    calls = _calls(SHIPPING + TESTS)
    unset = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        for fn in _tree(path).body:
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            a = fn.args
            positional = a.posonlyargs + a.args
            first_default = len(positional) - len(a.defaults)
            defaulted = [(i, arg.arg) for i, arg in enumerate(positional) if i >= first_default]
            defaulted += [(None, arg.arg) for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            for index, param in defaulted:
                if not any(_passes(c, param, index) for c in calls.get(fn.name, [])):
                    unset.add(f"{fn.name}({param})")

    config = PACKAGE / "config.py"
    cls = next(n for n in _tree(config).body if isinstance(n, ast.ClassDef) and n.name == "DedupConfig")
    fields = [n.target.id for n in cls.body if isinstance(n, ast.AnnAssign)]
    read = {
        node.attr
        for p in SHIPPING
        if p != config
        for node in ast.walk(_tree(p))
        if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load)
    }
    set_by_keyword = {k.arg for name in ("DedupConfig", "replace") for c in calls.get(name, []) for k in c.keywords}
    unset |= {f"DedupConfig.{f}" for f in fields if f not in read or f not in set_by_keyword}
    return unset


def test_every_public_name_has_a_shipping_caller():
    defined = {n: str(p.relative_to(ROOT)) for p in PACKAGE.rglob("*.py") for n in _public_definitions(p)}
    refs = _code_references(SHIPPING)
    dead = {n: where for n, where in defined.items() if n not in ALLOWED_TEST_ONLY and n not in refs}
    assert not dead, f"public names no shipping code uses (delete them, or allowlist with a reason): {dead}"
    # the allowlist only shrinks: an entry that gained a shipping caller, or
    # whose name is gone, leaves the list
    stale = sorted(n for n in ALLOWED_TEST_ONLY if n not in defined or n in refs)
    assert not stale, f"remove from ALLOWED_TEST_ONLY: {stale}"


def test_every_option_is_set_by_some_caller():
    unset = _unset_options()
    dead = sorted(unset - set(ALLOWED_UNSET_OPTIONS))
    assert not dead, (
        "options no caller sets or no code reads (delete them and use the one value every "
        f"call gets, or allowlist with a reason): {dead}"
    )
    stale = sorted(set(ALLOWED_UNSET_OPTIONS) - unset)
    assert not stale, f"remove from ALLOWED_UNSET_OPTIONS: {stale}"
