"""Text-analysis operators over `documents` ([N] north-star):
per-doc stats, quality scoring, language-ID, fingerprinting.

All are native-expression plans (no UDFs); language-ID is a
stopword-profile scorer whose profile table is a broadcast literal —
at 100 TB the work is one map-side join against a ~100-row dim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from archetype_spark.functions.text import (
    avg_token_len,
    fingerprint60_portable,
    fingerprint64,
    punct_ratio,
    quality_score,
    token_count,
    uniq_token_ratio,
)

# Tiny deterministic stopword profiles. The corpus text is synthetic
# English-ish word soup, so predictions are a deterministic function of
# content, not expected to match the synthetic `lang` labels.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "fr": ["le", "la", "de", "et", "un", "est", "que", "pour"],
    "zh": ["de", "shi", "bu", "le", "zai", "ren", "you", "ta"],
}
LANGS = sorted(STOPWORDS)  # deterministic priority order for ties


def _ngram_parts(text_col: str, n: int) -> F.Column:
    """Array of n-gram part-structs (fields "0".."n-1") over the
    split-on-space tokens: arrays_zip of n shifted slices. Stays in
    whole-stage codegen end to end, where the former
    transform(sequence, i -> slice/element_at...) ran as an
    interpreted higher-order lambda per row (same-JVM A/B: the
    bigram explode pass 0.28 -> 0.20 s at sf0.1, rows identical).
    Short docs (< n tokens) yield an empty array via the
    greatest(.., 0) slice-length guard — F.sequence's count-DOWN trap
    never applies because there is no sequence. Callers explode and
    assemble the gram (concat_ws) or use the parts directly, so the
    string build also happens post-explode in codegen."""
    w = F.split(F.col(text_col), " ")
    ln = F.greatest(F.size(w) - n + 1, F.lit(0))
    return F.arrays_zip(*[F.slice(w, i + 1, ln) for i in range(n)])


def doc_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document stats: token count, avg token length, lexical
    diversity, punctuation ratio, composite quality score."""
    return df.select(
        F.col(id_col),
        token_count(text_col).alias("n_tokens"),
        F.round(avg_token_len(text_col), 6).alias("avg_token_len"),
        F.round(uniq_token_ratio(text_col), 6).alias("uniq_ratio"),
        F.round(punct_ratio(text_col), 6).alias("punct_ratio"),
        quality_score(text_col).alias("quality"),
    )


def pred_lang_col(text_col: str = "text") -> F.Column:
    """Predicted-language COLUMN: argmax stopword hits over the text,
    ties by lang code ascending, zero hits everywhere -> 'unknown'.
    Pure narrow expression (array filter/size + array_max over
    struct(score, -lang_rank)) — usable per document (lang_id) or per
    chunk (mixed_language_stats) without a shuffle."""
    toks = F.split(F.col(text_col), " ")
    structs = []
    for i, lang in enumerate(LANGS):
        sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        structs.append(
            F.struct(
                F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).alias("s"),
                F.lit(-i).alias("neg_rank"),
            )
        )
    best = F.array_max(F.array(*structs))
    lang_arr = F.array(*[F.lit(lang) for lang in LANGS])
    return F.when(
        best["s"] > 0, F.element_at(lang_arr, -best["neg_rank"] + 1)
    ).otherwise(F.lit("unknown"))


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Predicted language = argmax stopword hits; ties break by lang
    code ascending; zero hits everywhere -> 'unknown'."""
    return df.select(F.col(id_col), pred_lang_col(text_col).alias("pred_lang"))


def tf_idf(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-(doc, token) smoothed TF-IDF:
    tf * (ln((N+1)/(df+1)) + 1), rounded to 6.

    Fully lazy composition — no driver-side scalar: the corpus size N
    rides along as a one-row broadcast cross join, document frequency
    is one shuffle on token, and the tf/df join shuffles token keys
    (AQE skew-split covers stopword-grade hot tokens; drop-top-k
    filtering is the knob past that). At 100 TB this is the standard
    two-aggregation shape — nothing materializes on the driver."""
    toks = df.select(
        F.col(id_col).alias(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    # Lazy localCheckpoint (the dsir_importance pattern): `tf` feeds
    # BOTH the document-frequency aggregate and the probe join — each
    # reference otherwise re-runs the token explode + count pipeline
    # from the scan (2 scans / 2 Generates in the executed q63 plan).
    tf = (
        toks.groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)
    return (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .select(
            F.col(id_col),
            "token",
            F.col("tf").cast("bigint").alias("tf"),
            F.round(F.col("tf") * idf, 6).alias("tf_idf"),
        )
    )


def doc_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = False,
) -> DataFrame:
    """Fingerprint of normalized text — the O(1)-space doc identity for
    incremental dedup at ingest time. Default: 64-bit xxhash (fastest).
    `portable=True`: sha256-prefix variant any engine reproduces — the
    oracle-gated corpus query (q44) uses this form."""
    fp = fingerprint60_portable(text_col) if portable else fingerprint64(text_col)
    return df.select(F.col(id_col), fp.alias("fingerprint"))


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    max_frac: float = 0.2,
) -> DataFrame:
    """Per-doc n-gram repetition signal (the Gopher-rules quality
    family: a document whose single most frequent n-gram accounts for
    more than `max_frac` of all its n-grams is boilerplate/spam-like
    and gets keep=false).

    Returns (id, n_ngrams, top_ngram_frac, keep). Docs with fewer
    than n tokens have zero n-grams: frac 0.0, keep true.

    Scale: explode + two aggregations, both shuffling (id, ngram)
    /(id) keys — no UDFs, no per-doc maps materialized driver-side.
    The count table is the same shape TF-IDF builds; at 100 TB this
    is two map-side-combinable aggs over the token stream.
    """
    # non-distinct n-grams (repetition is the point), via the codegen
    # arrays_zip parts (_ngram_parts) with the gram string assembled
    # post-explode. fan_out: single-file corpora otherwise run the
    # whole gram-generation projection in ONE task (observed: q69's
    # 3 s was dominated by (0+1)/1 stages); group on the gram's
    # xxhash64, not the string — counts are identical absent 64-bit
    # collisions and the shuffle key is 8 bytes (same digest-for-body
    # trade as the Jaccard inverted index).
    from archetype_spark.operators.util import fan_out

    grams = fan_out(df).select(
        F.col(id_col), F.explode(_ngram_parts(text_col, n)).alias("_z")
    ).select(
        id_col,
        F.concat_ws(" ", *[F.col("_z")[str(i)] for i in range(n)]).alias("_g"),
    )
    per_gram = grams.groupBy(id_col, F.xxhash64("_g").alias("_g")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    per_doc = per_gram.groupBy(id_col).agg(
        F.sum("_c").alias("n_ngrams"), F.max("_c").alias("_top")
    )
    frac = F.round(F.col("_top").cast("double") / F.col("n_ngrams"), 6)
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_ngrams"), F.lit(0)).cast("bigint").alias("n_ngrams"),
            F.coalesce(frac, F.lit(0.0)).alias("top_ngram_frac"),
        )
        .withColumn("keep", F.col("top_ngram_frac") <= F.lit(max_frac))
    )


def relative_quality_gate(
    scored: DataFrame,
    group_col: str,
    score_col: str,
    q: float = 0.5,
) -> DataFrame:
    """Keep rows at or above their group's q-th score percentile —
    relative quality filtering (keep the top half of every domain,
    DCLM/FineWeb-style) rather than one global absolute threshold
    that over-prunes hard domains and under-prunes easy ones.

    The fence is the exact DISCRETE percentile (smallest score whose
    cumulative count reaches ceil(q * n)): no interpolation, so the
    boundary is an actual element and engines agree bit-for-bit (a
    continuous percentile's `lo + (hi-lo)*frac` differs in the last
    ulp across engines and flips boundary rows).

    Scale: no per-group sort over the data. The score column is
    rounded to 6 decimals HERE (not assumed pre-rounded — quality
    scores in (0, 1] then yield <= ~1e6 distinct values), so the
    per-(group, score) histogram — a map-side combinable
    aggregation — stays bounded regardless of corpus size; the
    cumulative window runs over the histogram, not the corpus, and
    the per-group fences broadcast back for a narrow filter. Two
    passes over the input, which any relative (data-dependent)
    threshold requires. Output rows carry the rounded score.
    """
    from pyspark.sql import Window

    if not 0.0 < q <= 1.0:
        raise ValueError(f"q must be in (0, 1], got {q}")
    scored = scored.withColumn(
        score_col, F.round(F.col(score_col).cast("double"), 6)
    )
    # Lazy localCheckpoint on the bounded histogram (the
    # dsir_importance pattern): `hist` feeds BOTH the cumulative
    # window and the per-group totals — each reference otherwise
    # re-runs the scored-input pipeline from the scan.
    hist = (
        scored.groupBy(group_col, score_col)
        .agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint(eager=False)
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(score_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("_cum", F.sum("_c").over(w))
    tot = hist.groupBy(group_col).agg(F.sum("_c").alias("_n"))
    fences = (
        cum.join(tot, group_col)
        .filter(F.col("_cum") >= F.ceil(F.lit(q) * F.col("_n")))
        .groupBy(group_col)
        .agg(F.min(score_col).alias("_fence"))
    )
    return (
        scored.join(F.broadcast(fences), group_col)
        .filter(F.col(score_col) >= F.col("_fence"))
        .drop("_fence")
    )


def vocab_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    top_v: int = 500,
) -> DataFrame:
    """Vocabulary coverage / out-of-vocabulary scoring: build the
    top-`top_v` n-gram vocabulary by corpus term frequency (ties
    broken by n-gram text ascending — a total order both engines
    reproduce), then score every document by the fraction of its
    n-gram occurrences falling OUTSIDE that vocabulary. High OOV
    rate flags text unlike the corpus mainstream (boilerplate
    soup, wrong-language shards, OCR noise) — the cheap engine-side
    stand-in for tokenizer-fit / perplexity screening.

    Returns (id_col, n_ngrams, n_oov, oov_rate). Documents shorter
    than `n` tokens have zero n-grams and report oov_rate 0.

    Scale: n-gram counts are one map-side-combinable aggregation on
    the gram string; the vocabulary is a top-V TakeOrdered (never a
    global sort) and broadcasts back — V rows by construction — so
    the per-doc pass is scan + broadcast probe + one groupBy on the
    doc id. Hot n-grams cost one counter each; nothing driver-side
    except the V-row limit."""
    from archetype_spark.operators.util import fan_out
    from archetype_spark.queries.relational import round_like_duckdb

    grams = fan_out(df).select(
        F.col(id_col).alias("_id"),
        F.explode(_ngram_parts(text_col, n)).alias("_z"),
    ).select(
        "_id",
        F.concat_ws(" ", *[F.col("_z")[str(i)] for i in range(n)]).alias("_g"),
    )
    vocab = (
        grams.groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_tf"))
        .orderBy(F.col("_tf").desc(), F.col("_g"))
        .limit(top_v)
        .select("_g", F.lit(True).alias("_in_vocab"))
    )
    probed = grams.join(F.broadcast(vocab), "_g", "left")
    per_doc = probed.groupBy("_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ngrams"),
        F.count(F.when(F.col("_in_vocab").isNull(), 1)).cast("bigint").alias("n_oov"),
    )
    return (
        df.select(F.col(id_col).alias("_id"))
        .join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_ngrams", F.lit(0)).cast("bigint").alias("n_ngrams"),
            F.coalesce("n_oov", F.lit(0)).cast("bigint").alias("n_oov"),
            F.when(
                F.coalesce(F.col("n_ngrams"), F.lit(0)) == 0, F.lit(0.0)
            )
            .otherwise(
                round_like_duckdb(F.col("n_oov") / F.col("n_ngrams"), 6)
            )
            .alias("oov_rate"),
        )
    )


def bigram_surprisal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-trained bigram surprisal scoring — the engine-side
    analog of perplexity filtering (CCNet trains KenLM; here the
    corpus itself is the LM): per document, the mean negative log
    probability of its token bigrams under add-one-smoothed corpus
    statistics, p(b|a) = (c(a,b) + 1) / (c(a) + V). High surprisal
    flags text the corpus finds improbable (noise, wrong language);
    low flags rote repetition.

    Returns (id_col, n_bigrams, sum_micro_nats, avg_surprisal):
    per-bigram surprisals quantize to integer micro-nats
    (round(-ln(p) * 1e6), DuckDB ROUND semantics) and SUM as exact
    integers — the q57 lesson: float log-sums differ across engines
    by accumulation order, integer sums never do. The single ln per
    DISTINCT (a, b) pair is the only float op; its 1-ulp engine
    variance only matters within 1e-12 of a rounding boundary.

    Scale: two map-side-combinable count aggregations (bigram pairs,
    unigram contexts) + a one-row distinct-token broadcast; the
    per-position probe joins key on the gram strings — the TF-IDF
    shuffle shape. Hot bigrams cost one counter; nothing driver-side.
    """
    from archetype_spark.operators.util import fan_out
    from archetype_spark.queries.relational import round_like_duckdb

    w = F.split(F.col(text_col), " ")
    toks = fan_out(df).select(
        F.col(id_col).alias("_id"), F.explode(w).alias("_a")
    )
    grams = fan_out(df).select(
        F.col(id_col).alias("_id"),
        F.explode(_ngram_parts(text_col, 2)).alias("_z"),
    ).select(
        "_id", F.col("_z")["0"].alias("_a"), F.col("_z")["1"].alias("_b")
    )
    cab = grams.groupBy("_a", "_b").agg(F.count(F.lit(1)).alias("_cab"))
    # Lazy localCheckpoint (the dsir_importance pattern): `ca` is
    # consumed by BOTH the vocabulary count and the probe join, and
    # each reference otherwise re-runs the token explode + count
    # pipeline from the scan.
    ca = (
        toks.groupBy("_a")
        .agg(F.count(F.lit(1)).alias("_ca"))
        .localCheckpoint(eager=False)
    )
    # |V| = countDistinct(_a) over toks == the number of groups in
    # `ca` — same value by definition, zero extra passes over the
    # corpus (the countDistinct form cost one more explode scan plus
    # a two-exchange distinct aggregate).
    v = ca.agg(F.count(F.lit(1)).alias("_v"))
    s_int = round_like_duckdb(
        -F.log((F.col("_cab") + 1) / (F.col("_ca") + F.col("_v"))) * 1e6, 0
    ).cast("bigint")
    scored = (
        grams.join(cab, ["_a", "_b"])
        .join(ca, "_a")
        .crossJoin(F.broadcast(v))
        .select("_id", s_int.alias("_s"))
    )
    per_doc = scored.groupBy("_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum("_s").cast("bigint").alias("sum_micro_nats"),
    )
    return (
        df.select(F.col(id_col).alias("_id"))
        .join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.coalesce("sum_micro_nats", F.lit(0))
            .cast("bigint")
            .alias("sum_micro_nats"),
            F.when(F.coalesce(F.col("n_bigrams"), F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                round_like_duckdb(
                    F.col("sum_micro_nats") / (F.col("n_bigrams") * F.lit(1e6)), 6
                )
            )
            .alias("avg_surprisal"),
        )
    )


def mixed_language_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    majority_frac: float = 0.8,
) -> DataFrame:
    """Mixed-language / code-switching detection: language-ID each
    non-overlapping `window`-token chunk (the per-chunk granularity
    document-level lang-id cannot see), then measure per-document
    agreement. A document whose majority-language share falls below
    `majority_frac` is flagged mixed — the curation gate for
    concatenation artifacts, wrong-language embeds and boilerplate
    stitched across languages. `n_langs` counts distinct predicted
    chunk languages, 'unknown' included.

    Returns (id_col, n_chunks, n_langs, major_lang, major_share,
    is_mixed); majority ties break by lang code ascending.

    Scale: chunking and per-chunk prediction are narrow expressions
    (zero exchanges — see chunk_documents); the agreement is two
    map-side-combinable aggregations on the doc id, with the majority
    argmax a struct-MIN (no window over chunk rows)."""
    from archetype_spark.operators.packing import chunk_documents
    from archetype_spark.queries.relational import round_like_duckdb

    chunks = chunk_documents(df, id_col, text_col, window=window, stride=window)
    pred = chunks.select(
        id_col, pred_lang_col("chunk_text").alias("_pl")
    )
    per_lang = pred.groupBy(id_col, "_pl").agg(F.count(F.lit(1)).alias("_c"))
    per_doc = per_lang.groupBy(id_col).agg(
        F.sum("_c").alias("n_chunks"),
        F.count(F.lit(1)).alias("n_langs"),
        F.min(
            F.struct((-F.col("_c")).alias("_negc"), F.col("_pl").alias("_l"))
        ).alias("_m"),
    )
    share = round_like_duckdb(
        (-F.col("_m._negc")).cast("double") / F.col("n_chunks"), 6
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n_chunks").cast("bigint").alias("n_chunks"),
        F.col("n_langs").cast("bigint").alias("n_langs"),
        F.col("_m._l").alias("major_lang"),
        share.alias("major_share"),
        (share < majority_frac).alias("is_mixed"),
    )


def dsir_importance(
    df: DataFrame,
    target,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, Data Selection
    via Importance Resampling): documents featurize as HASHED bigram
    counts over `n_buckets` buckets; the target distribution (rows
    where the boolean Column `target` holds) and the raw distribution
    (all rows) are estimated with add-one smoothing; each document's
    log importance weight sum_g ln(p_target(g) / p_raw(g)) measures
    how target-like it is — the data-selection signal for up-sampling
    target-domain-looking text out of a raw crawl.

    Returns (id_col, n_feats, sum_micro_nats, avg_log_ratio): the
    per-occurrence log ratios quantize to integer micro-nats (the
    q89 recipe — DuckDB-ROUND on the only float op, exact integer
    sums, so engines agree without float-accumulation tolerances).
    Bucket hashing is the portable sha256 prefix (sampling.py
    hash_bucket — 16 hash bits mod n_buckets, exactly uniform for
    power-of-two bucket counts ≤ 65536), replayable in any SQL
    engine.

    Scale: two count aggregations keyed on the ≤ n_buckets bucket id
    (map-side combine collapses each task's contribution to at most
    n_buckets rows, so hot buckets cost one counter per task); the
    scored distribution is a ≤ n_buckets-row BROADCAST, so the
    per-occurrence probe join is map-side; the ln evaluates once per
    bucket, not per occurrence. Nothing scales with corpus size
    except the two narrow gram scans."""
    from archetype_spark.operators.sampling import hash_bucket
    from archetype_spark.operators.util import fan_out
    from archetype_spark.queries.relational import round_like_duckdb

    grams = fan_out(df).select(
        F.col(id_col).alias("_id"),
        # NULL target (e.g. a NULL flag column) counts as not-target:
        # an un-coalesced NULL would NULL a bucket's target count, NULL
        # its score, and silently drop those grams from sum_micro_nats
        # while n_feats still counted them.
        F.coalesce(target.cast("boolean"), F.lit(False)).alias("_tgt"),
        F.explode(_ngram_parts(text_col, 2)).alias("_z"),
    ).select(
        "_id",
        "_tgt",
        hash_bucket(
            F.concat_ws(" ", F.col("_z")["0"], F.col("_z")["1"]), n_buckets
        ).alias("_bkt"),
    )
    dist = grams.groupBy("_bkt").agg(
        F.count(F.lit(1)).alias("_craw"),
        F.sum(F.col("_tgt").cast("bigint")).alias("_ctgt"),
    )
    # Lazy localCheckpoint on the <= n_buckets-row distribution: it is
    # referenced TWICE below (the totals aggregate and the score
    # projection), and each reference otherwise re-instantiates the
    # whole gram-explode + count pipeline (3 Generate stages in the
    # executed q102 plan). The checkpoint makes both references read
    # ONE computed RDD; eager=False so materialization rides the first
    # consuming job instead of paying its own (same-JVM 9-rep medians
    # 1.28 -> 1.11 s, rows identical).
    dist = dist.localCheckpoint(eager=False)
    totals = dist.agg(
        F.sum("_craw").alias("_nraw"), F.sum("_ctgt").alias("_ntgt")
    )
    s_int = round_like_duckdb(
        (
            F.log((F.col("_ctgt") + 1) / (F.col("_ntgt") + n_buckets))
            - F.log((F.col("_craw") + 1) / (F.col("_nraw") + n_buckets))
        )
        * 1e6,
        0,
    ).cast("bigint")
    scores = F.broadcast(
        dist.crossJoin(F.broadcast(totals)).select("_bkt", s_int.alias("_s"))
    )
    per_doc = (
        grams.join(scores, "_bkt")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_feats"),
            F.sum("_s").cast("bigint").alias("sum_micro_nats"),
        )
    )
    return (
        df.select(F.col(id_col).alias("_id"))
        .join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_feats", F.lit(0)).cast("bigint").alias("n_feats"),
            F.coalesce("sum_micro_nats", F.lit(0))
            .cast("bigint")
            .alias("sum_micro_nats"),
            F.when(F.coalesce(F.col("n_feats"), F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                round_like_duckdb(
                    F.col("sum_micro_nats") / (F.col("n_feats") * F.lit(1e6)), 6
                )
            )
            .alias("avg_log_ratio"),
        )
    )
