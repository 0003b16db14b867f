"""Sequence packing: assign documents to fixed-token-budget training
sequences — the last hop of an LLM data pipeline, where a cleaned,
deduped corpus becomes the (seq_id, docs...) groups a tokenizer/
writer materializes.

The scalable formulation is cumulative-sum bucketing: within a shard,
docs are laid out in a deterministic order and doc d starts at offset
cumsum(tokens up to d, exclusive); its sequence is offset // budget.
That is one partitioned window (running sum) plus integer division —
exact, order-stable, and replayable in any SQL engine (the oracle).

Scale: the window MUST be partitioned (here by a shard column; real
pipelines use lang/domain/hash-shard). An unpartitioned ORDER BY
over the whole corpus is the classic single-task window trap — one
executor sorts 100 TB. Within a shard the running sum is a single
shuffle on the shard key; shards are independent, so width scales
with the cluster. Docs longer than the budget inflate their sequence
past the budget rather than being split — token-level splitting
needs a tokenizer and belongs to the writer stage downstream.

`pack_exact_sequences` is that writer-stage complement: it cuts the
shard's concatenated token stream at EXACT budget boundaries, so a
doc crossing a cut emits one piece per overlapped sequence and every
sequence holds exactly `budget` tokens (the shard's last one
excepted) — the GPT-style pretraining layout where nothing inflates
past the context window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    shard_col: str = "lang",
    budget: int = 1024,
) -> DataFrame:
    """Adds (seq_id, seq_offset): doc's sequence index within its
    shard and its token offset inside that sequence. Deterministic:
    layout order is `id_col` ascending within each shard value."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    w = (
        Window.partitionBy(shard_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    return df.withColumn("seq_id", (start / budget).cast("bigint")).withColumn(
        "seq_offset", start % budget
    )


def pack_payloads(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str = "n_tokens",
    shard_col: str = "lang",
    budget: int = 1024,
    sep: str = "\n",
) -> DataFrame:
    """The writer stage after `pack_sequences`: materialize each
    (shard, seq_id) group's actual training payload — member docs
    concatenated with `sep` in the same deterministic id order the
    offsets were computed in. Returns one row per sequence:
    (shard_col, seq_id, n_docs, payload).

    Scale: the per-group collect is SAFE here, uniquely, because
    group size is capped by the token budget (a sequence holds at
    most ~budget tokens plus one overflowing doc) — this is the one
    place a collect_list can't skew. Sorting happens inside each
    collected array (array_sort on (offset, id) structs), not as a
    shuffle sort; the groupBy is the same single shard-key exchange
    the packing window already established."""
    packed = pack_sequences(df, id_col, tokens_col, shard_col, budget)
    member = F.struct(F.col("seq_offset"), F.col(id_col), F.col(text_col).alias("_t"))
    return (
        packed.groupBy(shard_col, "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_sort(F.collect_list(member)).alias("_m"),
        )
        .withColumn(
            "payload",
            F.array_join(F.transform(F.col("_m"), lambda m: m["_t"]), sep),
        )
        .drop("_m")
    )


def pack_exact_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_col: str = "lang",
    budget: int = 1024,
) -> DataFrame:
    """Token-split packing: conceptually concatenate each shard's
    whitespace-token stream in `id_col` order and cut it every
    `budget` tokens. Each document emits one row per sequence it
    overlaps — (shard_col, seq_id, id_col, piece_idx, piece_tokens,
    piece_text) — so EVERY sequence totals exactly `budget` tokens
    (the shard's final partial sequence excepted), unlike
    pack_sequences, which keeps documents whole and lets an
    over-budget doc inflate its sequence.

    Scale: the same single partitioned running-sum window as
    pack_sequences, then a NARROW sequence+explode (the
    mixture_resample shape — pieces per doc = overlapped sequences,
    no join, no extra shuffle) and per-piece token slicing as plain
    column work. The token model is the corpus-wide whitespace
    convention (functions/text.tokens); a subword tokenizer would
    slot into the same offsets downstream."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    toks = F.split(F.col(text_col), " ")
    base = df.select(
        F.col(shard_col), F.col(id_col), F.col(text_col), F.size(toks).alias("_nt")
    )
    w = (
        Window.partitionBy(shard_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("_nt").over(w), F.lit(0)).cast("bigint")
    spanned = base.select(
        shard_col, id_col, text_col, "_nt", start.alias("_start")
    ).filter(F.col("_nt") > 0)
    k0 = F.floor(F.col("_start") / budget)
    k1 = F.floor((F.col("_start") + F.col("_nt") - 1) / budget)
    pieces = spanned.select(
        shard_col,
        id_col,
        text_col,
        "_nt",
        "_start",
        F.posexplode(F.sequence(k0, k1)).alias("piece_idx", "seq_id"),
    )
    lo = F.greatest(F.col("_start"), F.col("seq_id") * budget)
    hi = F.least(F.col("_start") + F.col("_nt"), (F.col("seq_id") + 1) * budget)
    return pieces.select(
        shard_col,
        F.col("seq_id").cast("bigint").alias("seq_id"),
        id_col,
        F.col("piece_idx").cast("int").alias("piece_idx"),
        (hi - lo).cast("bigint").alias("piece_tokens"),
        F.array_join(
            F.slice(
                F.split(F.col(text_col), " "),
                (lo - F.col("_start") + 1).cast("int"),
                (hi - lo).cast("int"),
            ),
            " ",
        ).alias("piece_text"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Overlapping token-window chunking — the retrieval/embedding
    prep stage (split long docs into `window`-token chunks whose
    starts step by `stride`, so consecutive chunks overlap by
    window - stride tokens and every token is covered). Chunk count
    per doc: 1 + ceil(max(n_tokens - window, 0) / stride); the last
    chunk may be shorter than `window`; every doc emits at least one
    chunk. Returns (id_col, chunk_id, chunk_tokens, chunk_text).

    Scale: entirely narrow — a literal-bounded sequence+explode plus
    per-chunk list slicing as plain column work; zero exchanges, so
    chunking fuses onto the scan and downstream stages (e.g. the
    embedding mapInPandas) see chunk rows without a shuffle having
    happened. Contrast with `pack_exact_sequences` (cuts a SHARD's
    concatenated stream at budget boundaries for pretraining):
    chunking is per-document and overlap-friendly, packing is
    cross-document and exact-budget."""
    if window <= 0 or stride <= 0:
        raise ValueError(f"window/stride must be positive, got {window}/{stride}")
    if stride > window:
        raise ValueError(
            f"stride {stride} > window {window} would skip tokens — the "
            "every-token-covered contract requires stride <= window"
        )
    w = F.split(F.col(text_col), " ")
    nt = F.size(w)
    n_chunks = (
        F.lit(1)
        + F.ceil(F.greatest(nt - window, F.lit(0)) / F.lit(float(stride)))
    ).cast("int")
    out = (
        df.withColumn("_w", w)
        .withColumn("_nt", nt)
        .withColumn(
            "chunk_id", F.explode(F.sequence(F.lit(0), n_chunks - 1))
        )
    )
    lo = F.col("chunk_id") * stride + 1
    hi = F.least(F.col("chunk_id") * stride + window, F.col("_nt"))
    return out.select(
        id_col,
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        (hi - lo + 1).cast("bigint").alias("chunk_tokens"),
        F.array_join(F.slice("_w", lo, hi - lo + 1), " ").alias("chunk_text"),
    )


def span_corruption(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 3,
    mask_pct: int = 15,
    numbering: str = "narrow",
) -> DataFrame:
    """T5-style span-corruption example construction: partition each
    document's tokens into consecutive `span_tokens` blocks, mask
    ~`mask_pct`% of blocks (chosen by the portable sha256 bucket of
    (doc_id, block) — layout-independent and engine-replayable, the
    sampling-module fence), replace each masked block with an
    incremental `<extra_id_k>` sentinel in the input and emit the
    `<extra_id_k> original tokens` concatenation as the target — the
    denoising-objective writer stage.

    Returns (id_col, n_blocks, n_masked, input_text, target_text).

    Scale: the default narrow formulation is entirely per-row column
    work — flags, sentinel numbering and reassembly are array
    expressions; zero exchanges, so corruption fuses onto the scan
    like the chunker. Its sentinel prefix-count re-filters a growing
    slice per MASKED block (`when()` short-circuits the unmasked
    ones), so the asymptotic cost is O(mask_pct·blocks²) cheap
    boolean ops. For book-length inputs use `numbering="exploded"`:
    blocks are exploded to rows, the sentinel index is a per-doc
    running-sum window (the q68 shape — partitioned by doc, never
    global), and the document is reassembled with an array_sort'd
    collect_list; truly linear at the price of one exchange. Both
    are row-identical (`bench.py --ab q93`)."""
    if numbering not in ("narrow", "exploded"):
        raise ValueError(f"unknown numbering {numbering!r}")
    if numbering == "exploded":
        return _span_corruption_exploded(
            df, id_col, text_col, span_tokens, mask_pct
        )
    from archetype_spark.operators.sampling import hash_bucket

    w = F.split(F.col(text_col), " ")
    nb = F.ceil(F.size(w) / F.lit(float(span_tokens))).cast("int")
    key = lambda b: F.concat_ws(  # noqa: E731
        ":", F.col(id_col).cast("string"), b.cast("string")
    )
    flags = F.transform(
        F.sequence(F.lit(1), nb), lambda b: hash_bucket(key(b)) < mask_pct
    )
    out = df.withColumn("_w", w).withColumn("_f", flags)
    prefix_masked = lambda b: F.size(  # noqa: E731
        F.filter(F.slice("_f", 1, b - 1), lambda x: x)
    )
    sentinel = lambda b: F.concat(  # noqa: E731
        F.lit("<extra_id_"), prefix_masked(b).cast("string"), F.lit(">")
    )
    w2 = F.col("_w")
    btxt2 = lambda b: F.array_join(  # noqa: E731
        F.slice(w2, (b - 1) * span_tokens + 1, span_tokens), " "
    )
    input_text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.size("_f")),
            lambda b: F.when(F.element_at("_f", b), sentinel(b)).otherwise(
                btxt2(b)
            ),
        ),
        " ",
    )
    target_text = F.array_join(
        F.filter(
            F.transform(
                F.sequence(F.lit(1), F.size("_f")),
                lambda b: F.when(
                    F.element_at("_f", b),
                    F.concat(sentinel(b), F.lit(" "), btxt2(b)),
                ),
            ),
            lambda x: x.isNotNull(),
        ),
        " ",
    )
    return out.select(
        F.col(id_col),
        F.size("_f").cast("bigint").alias("n_blocks"),
        F.size(F.filter("_f", lambda x: x)).cast("bigint").alias("n_masked"),
        input_text.alias("input_text"),
        target_text.alias("target_text"),
    )


def _span_corruption_exploded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int,
    mask_pct: int,
) -> DataFrame:
    """Linear span corruption for book-length documents: one block =
    one row, sentinel index = per-doc running-sum window (partitioned
    by doc — never a global sort), document reassembled by
    array_sort'd collect_list. O(blocks) work and memory per doc at
    the cost of one exchange; row-identical to the narrow form
    (equality-checked by `bench.py --ab q93`)."""
    from archetype_spark.operators.sampling import hash_bucket

    w = F.split(F.col(text_col), " ")
    nb = F.ceil(F.size(w) / F.lit(float(span_tokens))).cast("int")
    key = lambda b: F.concat_ws(  # noqa: E731
        ":", F.col(id_col).cast("string"), b.cast("string")
    )
    # Each struct carries ONLY its own block text, so the exploded
    # rows are O(total tokens), not O(blocks x doc length).
    pieces = F.transform(
        F.sequence(F.lit(1), nb),
        lambda b: F.struct(
            b.alias("b"),
            (hash_bucket(key(b)) < mask_pct).alias("m"),
            F.array_join(
                F.slice(F.col("_w"), (b - 1) * span_tokens + 1, span_tokens),
                " ",
            ).alias("t"),
        ),
    )
    # explode_OUTER: a NULL-text doc (NULL pieces array) keeps one
    # all-NULL row, so every doc reaches the single per-doc aggregate
    # and the NULL-aggregate outputs match the narrow formulation
    # without any re-attach join — the linear path stays one exchange.
    ex = (
        df.withColumn("_w", w)
        .select(F.col(id_col), F.explode_outer(pieces).alias("_p"))
        .select(
            id_col,
            F.col("_p.b").alias("_b"),
            F.col("_p.m").alias("_m"),
            F.col("_p.t").alias("_t"),
        )
    )
    wcum = (
        Window.partitionBy(id_col)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    k = F.coalesce(F.sum(F.col("_m").cast("int")).over(wcum), F.lit(0))
    sent = F.concat(F.lit("<extra_id_"), k.cast("string"), F.lit(">"))
    ex = ex.withColumn(
        "_in", F.when(F.col("_m"), sent).otherwise(F.col("_t"))
    ).withColumn(
        "_tg", F.when(F.col("_m"), F.concat(sent, F.lit(" "), F.col("_t")))
    )
    # groupBy reuses the window's hash partitioning on id_col — the
    # whole linear path costs exactly one exchange. The `has` guard
    # turns a NULL-text doc's single all-NULL row into the same NULL
    # aggregates the narrow formulation emits.
    has = F.count("_b") > 0
    return ex.groupBy(id_col).agg(
        F.when(has, F.count("_b")).cast("bigint").alias("n_blocks"),
        F.sum(F.col("_m").cast("bigint")).alias("n_masked"),
        F.when(
            has,
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_b", "_in"))),
                    lambda s: s["_in"],
                ),
                " ",
            ),
        ).alias("input_text"),
        F.when(
            has,
            F.array_join(
                F.filter(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("_b", "_tg"))),
                        lambda s: s["_tg"],
                    ),
                    lambda x: x.isNotNull(),
                ),
                " ",
            ),
        ).alias("target_text"),
    )
