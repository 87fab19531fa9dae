"""S1 — document assembly (the Spark analog of the reference's file scan).

The reference ingests byte streams file-at-a-time
(/root/reference/src/dedup.c:769-862).  Our "file" is a conversation: turns
ordered by `turn_idx` joined with a separator.  One hash-aggregate shuffle,
fully JVM-side (collect_list + array_sort of (turn_idx, text) structs —
partial aggregation applies, so map-side combine happens before the exchange).

Contract: `(conv_id, turn_idx)` is unique (input_hint) and `DOC_SEP` must not
occur in turn text (the reconstruction round-trip re-splits on it; mirrors the
reference keeping the raw tail so extraction is exact,
/root/reference/src/dedup.c:842,851).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DOC_SEP = "\n"


def assemble_documents(transcripts: DataFrame) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) ->
    docs(conv_id, doc_text, n_turns, n_chars).

    array_sort on struct(turn_idx, ...) sorts by turn_idx first — a stable,
    deterministic per-conversation ordering independent of shuffle order.
    """
    turn_struct = F.struct(F.col("turn_idx"), F.col("text"))
    return (
        transcripts.groupBy("conv_id")
        .agg(
            F.concat_ws(
                DOC_SEP,
                F.transform(F.array_sort(F.collect_list(turn_struct)), lambda s: s["text"]),
            ).alias("doc_text"),
            F.count(F.lit(1)).alias("n_turns"),
        )
        .withColumn("n_chars", F.length("doc_text"))
    )


#: per-turn metadata columns preserved through a package round-trip — the
#: Spark analog of the reference's stat fields (mode at
#: /root/reference/src/dedup.c:1761, atime/mtime at :1798-1802)
TURN_META_COLS = ("role", "tool", "ts")


def turn_metadata(transcripts: DataFrame) -> DataFrame:
    """transcripts -> (conv_id, roles, tools, tss): the per-turn metadata in
    turn_idx order, one array column per field, ready to ride in file_meta.

    The reference restores mode/atime/mtime on extract
    (/root/reference/src/dedup.c:1761,1798-1802); our per-turn analog is
    (role, tool, ts), so `extract_turns` can rebuild the FULL transcript row,
    not just its text."""
    srt = F.array_sort(
        F.collect_list(F.struct("turn_idx", *[F.col(c) for c in TURN_META_COLS]))
    )
    return transcripts.groupBy("conv_id").agg(
        F.transform(srt, lambda s: s["role"]).alias("roles"),
        F.transform(srt, lambda s: s["tool"]).alias("tools"),
        F.transform(srt, lambda s: s["ts"]).alias("tss"),
    )


def validate_assembly(transcripts: DataFrame) -> None:
    """Fail fast if a turn contains the separator (would break re-split)."""
    bad = transcripts.filter(F.col("text").contains(DOC_SEP)).limit(1).count()
    if bad:
        raise ValueError(f"turn text contains the document separator {DOC_SEP!r}")
