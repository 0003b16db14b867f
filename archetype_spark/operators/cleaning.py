"""Corpus cleaning operators: line-level boilerplate removal and PII
scrubbing ([N] training-data tier).

Boilerplate removal is the CCNet/RefinedWeb curation stage: web pages
repeat navigation chrome, cookie banners and footers VERBATIM across
many pages, and those lines survive document-level dedup because the
surrounding content differs. The standard fix is line-level document
frequency: split documents into lines, count how many DOCUMENTS each
distinct line appears in, drop lines above a threshold, reassemble
the documents in original line order.

Scale shape (same as the stop-shingle knob, operators/dedup.py
max_shingle_df): the df-count shuffles the 8-byte line hash, never
line bodies twice; the HOT set (lines above threshold) is tiny —
boilerplate is by definition few DISTINCT strings repeated massively
— so flagging is a broadcast-sized join against it, and a hot
navigation line shared by millions of pages costs one counter, not a
quadratic blowup. Reassembly is one per-doc aggregation whose
collect_list is bounded by single-document size (the same safe-by-
construction bound as packing's payload materialization).

PII scrubbing is pure narrow JVM expression work: regex classes for
emails/phones/IPv4s counted and redacted per document, zero
exchanges of its own — the shape you want for a pass that must touch
every byte of 100 TB exactly once.

The reference has no cleaning surface (its dependency surface stops
at string functions); both operators are beyond-reference additions
from the brief's training-pipeline tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from archetype_spark.operators.util import fan_out


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_sep: str = "\n",
    max_line_df: int = 3,
) -> DataFrame:
    """Drop every line occurring in more than `max_line_df` DISTINCT
    documents; reassemble survivors in original order. Returns
    (id_col, text_col, n_lines, n_kept) — text_col is the cleaned
    document (empty string when every line was boilerplate; the doc
    row itself always survives so downstream length/quality gates
    decide its fate, not this operator).

    The df-count keys on xxhash64 of the line (8-byte shuffle key for
    arbitrarily long lines — the digest-for-body trade every blocking
    operator here makes; the DuckDB oracle counts raw strings as the
    semantic ground truth). Within-document repeats count once
    (document frequency, not term frequency — a page repeating its own
    divider is repetition_filter's business, not boilerplate's)."""
    lines = (
        fan_out(df)
        .select(
            F.col(id_col).alias("_id"),
            F.posexplode(F.split(F.col(text_col), F.lit(line_sep))).alias(
                "_pos", "_line"
            ),
        )
        .withColumn("_h", F.xxhash64("_line"))
    )
    dfc = (
        lines.select("_id", "_h")
        .dropDuplicates()
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    hot = dfc.filter(F.col("_df") > max_line_df).select(
        "_h", F.lit(True).alias("_hot")
    )
    flagged = lines.join(hot, "_h", "left")
    kept = F.when(F.col("_hot").isNull(), F.struct("_pos", "_line"))
    return (
        flagged.groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count(kept).alias("n_kept"),
            F.array_join(
                F.transform(F.array_sort(F.collect_list(kept)), lambda x: x["_line"]),
                line_sep,
            ).alias(text_col),
        )
        .select(
            F.col("_id").alias(id_col),
            text_col,
            F.col("n_lines").cast("bigint").alias("n_lines"),
            F.col("n_kept").cast("bigint").alias("n_kept"),
        )
    )


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Corpus-wide paragraph-level dedup keeping the FIRST occurrence
    (RefinedWeb/MassiveText-style): split documents into paragraphs,
    keep each distinct paragraph only at its globally-first position
    (min (doc_id, position) over every occurrence), drop every other
    occurrence, reassemble survivors in original order. Complements
    `remove_boilerplate_lines`: the df-threshold drops hot lines from
    EVERY document, while keep-first retains exactly one copy of each
    repeated paragraph — the right semantics when the paragraph is
    legitimate content that merely spread across mirrors.

    Returns (id_col, text_col, n_paras, n_kept); the doc row always
    survives (possibly with empty text) so downstream gates decide
    its fate.

    Scale shape: occurrences shuffle on the paragraph's xxhash64
    (8-byte key for arbitrarily long paragraphs); the winner per
    paragraph is a struct-MIN aggregate — map-side combinable, so a
    paragraph repeated across a million mirrors (or the hyper-hot
    empty line) costs one partial min per task, never the per-key
    sort/buffer a window row_number would pay on the hot key. The
    winner join is a 1-row-per-distinct-paragraph build side, so hot
    keys can't skew the build and AQE splits any fat probe
    partitions. Like `remove_boilerplate_lines`, the occurrence
    branch feeds both the winner aggregate and the probe, so the
    text is split/exploded twice (column pruning makes the branches
    non-identical, so no ReusedExchange) — the deliberate trade:
    one extra narrow scan versus caching an exploded 100 TB corpus
    or sorting hot keys in a single window task. Reassembly is one
    per-doc aggregation whose collect_list is bounded by document
    size (the packing-payload safe-by-construction bound)."""
    paras = (
        fan_out(df)
        .select(
            F.col(id_col).alias("_id"),
            F.posexplode(F.split(F.col(text_col), F.lit(sep))).alias(
                "_pos", "_para"
            ),
        )
        .withColumn("_h", F.xxhash64("_para"))
    )
    winner_tbl = paras.groupBy("_h").agg(F.min(F.struct("_id", "_pos")).alias("_w"))
    flagged = paras.join(winner_tbl, "_h").withColumn(
        "_keep",
        (F.col("_id") == F.col("_w._id")) & (F.col("_pos") == F.col("_w._pos")),
    )
    kept = F.when(F.col("_keep"), F.struct("_pos", "_para"))
    return (
        flagged.groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.count(kept).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept)), lambda x: x["_para"]
                ),
                sep,
            ).alias(text_col),
        )
        .select(
            F.col("_id").alias(id_col),
            text_col,
            F.col("n_paras").cast("bigint").alias("n_paras"),
            F.col("n_kept").cast("bigint").alias("n_kept"),
        )
    )


#: (pattern, replacement) per PII class, applied IN THIS ORDER (emails
#: first: once redacted they can no longer feed digit patterns). The
#: regex subset used (char classes, bounded repeats, \b, \d) means the
#: same pattern string runs identically under Java regex (Spark) and
#: RE2 (DuckDB oracle).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "phone": (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    "ip": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
}


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, tuple[str, str]] | None = None,
    audit: bool = True,
) -> DataFrame:
    """Redact PII classes from `text_col`, sequentially per pattern;
    with `audit`, an `n_<class>` count column records how many matches
    each class had AT ITS TURN (counts see the text as already
    scrubbed by earlier classes — the sequential contract an auditor
    can replay exactly).

    Pure narrow column expressions: no shuffle, no UDF — the pass
    fuses into whatever scan/stage already reads the text at 100 TB.
    """
    pats = PII_PATTERNS if patterns is None else patterns
    out = df
    for name, (pat, repl) in pats.items():
        if audit:
            out = out.withColumn(
                f"n_{name}",
                F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0)))
                .cast("bigint"),
            )
        out = out.withColumn(
            text_col, F.regexp_replace(F.col(text_col), pat, repl)
        )
    return out
