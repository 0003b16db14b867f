"""Round-7 curation-tier query corpus (q84+): the next ring of
training-data-pipeline stages beyond the SURVEY §2 inventory —
paragraph dedup, vocabulary coverage, chunking, mixture derivation.

Same contract as every query module: each query is a
`(spark, sf_dir) -> DataFrame` callable with a colocated DuckDB
oracle; every computed column is aliased identically on both sides.
The reference has no curation surface (its dependency chain stops at
Daft's relational layer) — these are beyond-reference additions from
the brief's training-pipeline tier, kept in their own module so
northstar.py stays navigable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from archetype_spark.tables import load


def _chunked(d: DataFrame, k: int) -> DataFrame:
    """Give the (newline-free) synthetic corpus paragraph structure:
    deterministic k-token chunks joined by newlines — the q80 seam,
    replayed exactly by each oracle's `ln` CTE.

    r16: ONE codegen'd regexp pass (turn the space after every k-th
    token into a newline) instead of the interpreted
    transform/slice/array_join rebuild — for split-on-single-space
    tokens the two are identical on every input ([^ ]* mirrors
    split's empty tokens; a short/empty tail never matches, exactly
    like the final partial slice). Same-JVM A/B at sf0.1:
    0.57 -> 0.10 s per pass, outputs byte-identical corpus-wide
    (unit-pinned for the empty/short/trailing-space edges in
    tests/test_cleaning.py)."""
    pat = "((?:[^ ]* ){" + str(k - 1) + "}[^ ]*) "
    return d.select(
        "doc_id", F.regexp_replace("text", pat, "$1\n").alias("text")
    )


def q84_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph dedup, keep-first (operators/cleaning.py
    dedup_paragraphs): every distinct paragraph survives only at its
    globally-first (doc_id, position); ~6% of the corpus's 4-token
    paragraphs are cross- or within-document repeats at sf0.01.
    Output: per-doc paragraph audit + sha256 of the reassembled text
    (pinning the exact survivor set and order)."""
    from archetype_spark.operators import cleaning

    d = load(spark, sf_dir, "documents")
    lined = _chunked(d, 4)
    deduped = cleaning.dedup_paragraphs(lined)
    return deduped.select(
        "doc_id",
        "n_paras",
        "n_kept",
        F.sha2(F.col("text"), 256).alias("clean_sha"),
    ).orderBy("doc_id")


def q85_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sign random projection (operators/projections.py
    random_sign_projection): 64-dim float vectors to 8 integer
    micro-unit dimensions via the seed-derived sha256 sign matrix —
    the JL dimensionality-reduction pre-step ahead of ANN indexing.
    Integer-exact, so the oracle reproduces every value bit-for-bit
    from the seed alone. Output long-form: one row per (vec_id,
    proj_dim)."""
    from archetype_spark.operators import projections

    e = load(spark, sf_dir, "embeddings")
    proj = projections.random_sign_projection(e, k=8, seed=0)
    return (
        proj.select(
            "vec_id", F.posexplode("proj").alias("proj_dim", "proj")
        )
        .select(
            "vec_id",
            F.col("proj_dim").cast("bigint").alias("proj_dim"),
            F.col("proj").cast("bigint").alias("proj"),
        )
        .orderBy("vec_id", "proj_dim")
    )


def q86_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage scoring (operators/textstats.py
    vocab_coverage): top-500 corpus bigram vocabulary (term
    frequency, ties by text — at sf0.01 it covers ~63% of bigram
    occurrences), each doc scored by its out-of-vocabulary bigram
    fraction — the engine-side stand-in for tokenizer-fit/perplexity
    screening. Per-row ratios round with DuckDB semantics
    (round_like_duckdb) so boundary rows hash identically."""
    from archetype_spark.operators import textstats

    d = load(spark, sf_dir, "documents")
    return textstats.vocab_coverage(d, n=2, top_v=500).orderBy("doc_id")


def q87_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (operators/packing.py
    chunk_documents): 32-token windows stepping by 24 (8-token
    overlap) — the retrieval/embedding prep stage, per-document and
    entirely narrow (zero exchanges before the presentation sort).
    Output: one row per chunk with its token count and sha256-pinned
    text."""
    from archetype_spark.operators import packing

    d = load(spark, sf_dir, "documents")
    chunks = packing.chunk_documents(d, window=32, stride=24)
    return chunks.select(
        "doc_id",
        "chunk_id",
        "chunk_tokens",
        F.sha2(F.col("chunk_text"), 256).alias("chunk_sha"),
    ).orderBy("doc_id", "chunk_id")


def q88_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened mixture resampling (operators/sampling.py
    temperature_resample): per-language rates derived from corpus
    counts with target share ∝ sqrt(n_g) (alpha = 0.5 — sqrt chosen
    because it is IEEE-exact, so both engines derive identical
    rates), then the q78 repeat/drop machinery applies them with the
    portable hash fence. Output: per-lang rate + emitted-set
    checksums."""
    from archetype_spark.operators import sampling

    d = load(spark, sf_dir, "documents")
    out = sampling.temperature_resample(d, "lang")
    return (
        out.groupBy("lang")
        .agg(
            F.max("rate_pct").cast("int").alias("rate_pct"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
            F.sum("dup_idx").cast("bigint").alias("sum_dup_idx"),
        )
        .orderBy("lang")
    )


def q89_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram surprisal (operators/textstats.py
    bigram_surprisal): mean -ln p(b|a) per document under add-one
    smoothed corpus bigram statistics — the perplexity-filter analog
    with the corpus as its own LM. Per-bigram surprisals quantize to
    integer micro-nats and SUM exactly, so engines agree without
    float-sum tolerances."""
    from archetype_spark.operators import textstats

    d = load(spark, sf_dir, "documents")
    return textstats.bigram_surprisal(d).orderBy("doc_id")


def q90_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle containment pairs (operators/dedup.py
    containment_pairs): the asymmetric dedup signal — a short doc
    embedded in a long one scores containment ~1 where Jaccard stays
    tiny. 3-gram shingles, max-containment gate at 0.1 (the corpus's
    organic overlap band: 168 pairs at sf0.01); both directed ratios
    emitted, rounded with DuckDB semantics on both sides."""
    from archetype_spark.operators import dedup

    d = load(spark, sf_dir, "documents")
    return dedup.containment_pairs(d, n=3, threshold=0.1)


def q91_signcode_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-code banded ANN (operators/projections.py signcode_topk):
    the q85 projection's downstream purpose end-to-end — 4 bands of
    4-bit random-hyperplane bucket codes from the projected signs
    (integer-exact, so every blocking key agrees across engines
    bit-for-bit), candidates share any band's bucket
    (OR-amplification), exact round-6 cosine re-rank, top-3 per
    vector. The q30 output schema restricted to banded candidates."""
    from archetype_spark.operators import projections

    e = load(spark, sf_dir, "embeddings")
    return projections.signcode_topk(e, k=3, code_bits=4, n_bands=4, seed=0)


def q92_mixed_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-language / code-switching detection (operators/
    textstats.py mixed_language_stats): language-ID every
    non-overlapping 16-token chunk with the q38 stopword scorer, then
    per-doc agreement — majority share below 0.8 flags the document
    mixed. Chunking + per-chunk prediction are narrow; the agreement
    is two map-side aggs with a struct-MIN majority argmax."""
    from archetype_spark.operators import textstats

    d = load(spark, sf_dir, "documents")
    return textstats.mixed_language_stats(d, window=16).orderBy("doc_id")


def q93_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption (operators/packing.py
    span_corruption): 3-token blocks, ~15% masked by the portable
    hash fence, incremental <extra_id_k> sentinels, input/target
    construction — the denoising-objective writer stage, entirely
    narrow. Output pins both constructed texts by sha256."""
    from archetype_spark.operators import packing

    d = load(spark, sf_dir, "documents")
    out = packing.span_corruption(d, span_tokens=3, mask_pct=15)
    return out.select(
        "doc_id",
        "n_blocks",
        "n_masked",
        F.sha2(F.col("input_text"), 256).alias("input_sha"),
        F.sha2(F.col("target_text"), 256).alias("target_sha"),
    ).orderBy("doc_id")


def q94_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted sampling without replacement (operators/
    sampling.py weighted_sample, Efraimidis-Spirakis): top-100 docs
    by the -ln(u)/quality key — inclusion odds proportional to the
    q35 quality score, draw reproducible from the seed alone. Output:
    the ranked sample manifest."""
    from archetype_spark.functions.text import quality_score
    from archetype_spark.operators import sampling

    d = load(spark, sf_dir, "documents")
    scored = d.select("doc_id", quality_score("text").alias("weight"))
    out = sampling.weighted_sample(scored, "weight", k=100, seed=0)
    return out.select("sample_rank", "doc_id", "sample_key", "weight").orderBy(
        "sample_rank"
    )


def q95_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-7 stages composed as ONE lazy plan (the q70
    pattern): line-level boilerplate removal -> structural gate (at
    least half the lines survive, none-empty) -> mixed-language gate
    on the cleaned text -> temperature-flattened resampling of the
    survivors -> per-lang manifest. Catalyst sees a single tree, so
    column pruning and filter placement work across stage boundaries
    — the composability claim, verified end-to-end by one oracle.
    Output: per-lang rate + survivor checksums + total clean bytes."""
    from archetype_spark.operators import cleaning, sampling, textstats

    d = load(spark, sf_dir, "documents")
    lined = _chunked(d, 3)
    cleaned = cleaning.remove_boilerplate_lines(lined, max_line_df=3)
    kept = cleaned.filter(
        (F.col("n_kept") * 2 >= F.col("n_lines")) & (F.col("n_kept") > 0)
    )
    flat = kept.select(
        "doc_id", F.regexp_replace("text", "\n", " ").alias("text")
    )
    # Exchange barrier on the cleaned-flat frame: `flat` is referenced
    # by BOTH downstream arms (the mixed-language gate and the pool
    # join), and the pool is referenced twice again inside
    # temperature_resample — without a barrier Catalyst inlines the
    # whole chunk+boilerplate pipeline per reference (~6 copies, 30
    # parquet scans in the executed plan). The hash exchange makes
    # every alias a ReusedExchange of ONE computed pipeline (the
    # minhash_lsh_pairs pattern; same-JVM quiet-rep medians
    # 3.52 -> 3.08 s).
    flat = flat.repartition("doc_id")
    pure = textstats.mixed_language_stats(flat, window=16).filter(
        ~F.col("is_mixed")
    )
    pool = (
        flat.join(pure.select("doc_id"), "doc_id", "left_semi")
        .join(d.select("doc_id", "lang"), "doc_id")
    )
    mixed = sampling.temperature_resample(pool, "lang")
    return (
        mixed.groupBy("lang")
        .agg(
            F.max("rate_pct").cast("int").alias("rate_pct"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
            F.sum("dup_idx").cast("bigint").alias("sum_dup_idx"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        )
        .orderBy("lang")
    )


def q96_cluster_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster diversity cap (operators/similarity.py
    cluster_cap): at most 20 vectors per persisted-IVF cell, chosen
    by the portable hash order — topic-balance enforcement over the
    SAME index q61 probes and q72 dedups (one quantizer, three
    consumers). Output: the per-cell cap report."""
    from archetype_spark.operators import ann_index, similarity

    e = load(spark, sf_dir, "embeddings")
    idx = ann_index.default_index_dir(sf_dir, "ivf_embeddings")
    return similarity.cluster_cap(e, cap=20, index_dir=idx)


def cluster_cap_oracle(sf_dir: str, require_live_index: bool = True) -> str | None:
    """DuckDB SQL replaying q96 over the SAME persisted assignment
    parquet (the ivf_oracle contract); None when the index isn't on
    disk yet (rows-only degrade, same as q61/q72/q77)."""
    import os

    from archetype_spark.operators import ann_index

    idx = ann_index.default_index_dir(sf_dir, "ivf_embeddings")
    if require_live_index and not os.path.isdir(idx):
        return None
    return f"""
        WITH assign AS (
          SELECT id, CAST(cell AS INT) AS cell
          FROM read_parquet('{idx}/assignments/**/*.parquet', hive_partitioning=true)
        ), r AS (
          SELECT id, cell,
                 ROW_NUMBER() OVER (PARTITION BY cell ORDER BY
                   CAST(('0x' || substr(sha256('0:' || CAST(id AS VARCHAR)), 1, 15))::UBIGINT
                        AS BIGINT), id) AS rk
          FROM assign
        )
        SELECT cell,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(COUNT(*) FILTER (rk <= 20) AS BIGINT) AS n_kept,
               CAST(SUM(id) FILTER (rk <= 20) AS BIGINT) AS sum_kept_ids
        FROM r GROUP BY cell ORDER BY cell
    """


def q97_verbatim_leaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring leak detection (operators/decontam.py
    verbatim_leaks): training docs sharing ANY exact 8-token window
    with the eval split — the verbatim complement to q71's fractional
    3-gram budget, over the same q67 hash split fences (train < 80,
    eval >= 90). Same broadcast-eval shape; the training side never
    shuffles for the probe."""
    from archetype_spark.operators import decontam, sampling

    d = load(spark, sf_dir, "documents")
    split = sampling.hash_bucket("doc_id")
    train = d.filter(split < 80)
    ev = d.filter(split >= 90)
    return decontam.verbatim_leaks(train, ev, n=8).orderBy("doc_id")


def q98_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-type classification over the persisted MinHash index
    (operators/dedup.py minhash_containment_from_signatures):
    directed containment estimates for every pair the q65 banded
    sweep surfaces — a symmetric mirror shows both containments ~J,
    a subset embed pushes the short side toward 1. The slot-match
    count recovers exactly from the rounded estimate, and the
    containment algebra is integer products + one double division,
    so the oracle replays it bit-for-bit over the same signature
    parquet + exact shingle counts."""
    from archetype_spark.operators import ann_index, dedup
    from archetype_spark.queries.northstar import MINHASH_INDEX

    d = load(spark, sf_dir, "documents")
    sigs = ann_index.ensure_minhash(
        d, ann_index.default_index_dir(sf_dir, "minhash_documents"),
        **MINHASH_INDEX,
    )
    return dedup.minhash_containment_from_signatures(sigs, d)


QUERIES = {
    "q84_paragraph_dedup": q84_paragraph_dedup,
    "q85_random_projection": q85_random_projection,
    "q86_oov_rate": q86_oov_rate,
    "q87_doc_chunks": q87_doc_chunks,
    "q88_temperature_mix": q88_temperature_mix,
    "q89_bigram_surprisal": q89_bigram_surprisal,
    "q90_containment_pairs": q90_containment_pairs,
    "q91_signcode_topk": q91_signcode_topk,
    "q92_mixed_language": q92_mixed_language,
    "q93_span_corruption": q93_span_corruption,
    "q94_weighted_sample": q94_weighted_sample,
    "q95_curation_v2": q95_curation_v2,
    "q96_cluster_cap": q96_cluster_cap,
    "q97_verbatim_leaks": q97_verbatim_leaks,
    "q98_minhash_containment": q98_minhash_containment,
}


def q99_stream_curation_face(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch face of the STREAMING curation entry
    (streaming/curation.py, the q95 stateless subset over ingest-
    dedup): portable-fingerprint dedup to the min-id keeper, then the
    exact `stateless_curation` passes the foreachBatch path runs per
    micro-batch (line chunking -> structural gate -> flatten ->
    mixed-language gate), aggregated to the per-lang survivor
    manifest. Oracle-gated end to end; the batch==stream equivalence
    test (tests/test_streaming.py) ties the arriving-data path to
    this very composition, so the driver's hash check transitively
    covers the stream."""
    from archetype_spark.functions.text import fingerprint60_portable
    from archetype_spark.streaming import curation

    d = load(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    stamped = d.withColumn("fingerprint", fingerprint60_portable("text"))
    # Min-id keeper as ONE fingerprint-keyed window (the hash_dedup /
    # q57 shape) instead of groupBy-min + join-back: doc_id is unique,
    # so row_number()==1 under (fingerprint ORDER BY doc_id) IS the
    # min-id winner — same rows, one exchange instead of two plus a
    # join (same-JVM 7-rep medians 2.45 -> 1.95 s).
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    uniq = (
        stamped.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "fingerprint")
    )
    surv = curation.stateless_curation(uniq)
    return (
        surv.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        )
        .orderBy("lang")
    )


QUERIES["q99_stream_curation_face"] = q99_stream_curation_face


def q102_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (operators/textstats.py
    dsir_importance): hashed-bigram likelihood ratios between the
    target slice (lang = 'en') and the raw corpus — the
    data-selection signal for importance resampling (Xie et al.
    2023). 1024 portable hash buckets, add-one smoothing,
    micro-nat-exact integer sums."""
    from archetype_spark.operators import textstats

    d = load(spark, sf_dir, "documents")
    return textstats.dsir_importance(
        d, target=F.col("lang") == "en", n_buckets=1024
    ).orderBy("doc_id")


QUERIES["q102_dsir_importance"] = q102_dsir_importance


def q103_quality_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail quality tiers (operators/
    sampling.py quality_tiers, exact NTILE face): per-lang thirds by
    the shared composite quality score, deterministic tie order.
    The approx (sketch-threshold) face is the 100 TB path and is
    test-pinned against this one."""
    from archetype_spark.operators import sampling

    d = load(spark, sf_dir, "documents")
    return sampling.quality_tiers(d, n_tiles=3, by="lang").orderBy("doc_id")


QUERIES["q103_quality_tiers"] = q103_quality_tiers


def q133_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction (operators/html_text — the web-corpus
    ingestion step upstream of every text operator): each document is
    wrapped JVM-side in synthetic HTML (title + h1 + script/style/
    comment/footer noise, the body escaped into a <pre> main block),
    and the stdlib-parser extraction recovers the title, the link
    count, and the main-content block — which must equal the ORIGINAL
    text bit-exactly, pinned by digest. The oracle digests the SOURCE
    column, never this operator's output, so tag stripping, entity
    decoding, script/comment exclusion and largest-block selection
    all sit inside the hash gate. Synthesis stays in codegen (chained
    replace); only the parse crosses into Python (Arrow-batched)."""
    from archetype_spark.operators.html_text import html_fields

    d = load(spark, sf_dir, "documents")
    esc = F.expr(
        "replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'),"
        " '>', '&gt;')"
    )
    h1 = F.expr(
        "replace(replace(replace(substring(text, 1, 8), '&', '&amp;'),"
        " '<', '&lt;'), '>', '&gt;')"
    )
    html = F.concat(
        F.lit("<html><head><title>doc "),
        F.col("doc_id").cast("string"),
        F.lit(
            '</title><style>body {color:#333}</style></head><body>'
            '<script type="text/javascript">var x = '
            '"<div>not content</div>";</script><h1>'
        ),
        h1,
        F.lit('</h1><div class="main"><pre>'),
        esc,
        F.lit(
            "</pre></div><!-- generated --><p>footer &amp; links: "
            '<a href="/a?x=1&amp;y=2">a</a> <a href="/b">b</a></p>'
            "</body></html>"
        ),
    )
    from archetype_spark.operators.util import fan_out_if_narrow

    # The single-file corpus otherwise runs the Python parse in ONE
    # task; the synthesis projection stays in codegen either way.
    ex = html_fields(
        fan_out_if_narrow(d.select("doc_id", html.alias("html"))), "html"
    )
    return ex.select(
        "doc_id",
        "title",
        F.md5(F.encode(F.col("main_text"), "UTF-8")).alias("text_digest"),
        F.col("n_links").cast("int").alias("n_links"),
    )


QUERIES["q133_html_extract"] = q133_html_extract


def q134_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF -> text extraction (operators/pdf_text — the document half
    of the ingestion tier beside q133's HTML): each document becomes
    a real two-page PDF (correct xref, FlateDecode content streams;
    page 1 embeds the text losslessly as one TJ segment array, page 2
    a footer), and the stdlib extraction — object scan, page-tree
    walk, inflate, content tokenization with string escapes — must
    return the ORIGINAL text bit-exactly. As with q133 the oracle
    digests the SOURCE column, so the whole parse chain sits inside
    the hash gate; the footer and page count pin the page-tree walk."""
    from archetype_spark.operators import pdf_text

    d = load(spark, sf_dir, "documents")
    pdfs = pdf_text.synth_pdf_from_text(d)
    ex = pdf_text.pdf_fields(pdfs, "payload")
    page1 = F.split(F.col("pdf_text"), "\f").getItem(0)
    page2 = F.split(F.col("pdf_text"), "\f").getItem(1)
    return ex.select(
        "doc_id",
        F.col("n_pages").cast("int").alias("n_pages"),
        F.md5(F.encode(page1, "UTF-8")).alias("text_digest"),
        page2.alias("footer"),
    )


QUERIES["q134_pdf_extract"] = q134_pdf_extract


def q135_warc_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The web-corpus ingestion CHAIN, end to end inside one hash
    gate: each document becomes a two-record gzip-member WARC (the
    Common Crawl layout — warcinfo + an HTTP response whose HTML body
    escapes the text losslessly), then operators/warc_io splits the
    records and the HTTP message, the response body routes through
    operators/html_text, and the extracted main-content block must
    equal the ORIGINAL text bit-exactly. Three real operators (WARC
    record parse incl. gzip members, HTTP response split, HTML
    extraction) each sit in the decode path of the digest the oracle
    derives from the SOURCE column alone — a bug in any of them
    breaks the hash. The warcinfo record pins record filtering; the
    URI pins header extraction."""
    from archetype_spark.operators import warc_io
    from archetype_spark.operators.html_text import html_fields

    d = load(spark, sf_dir, "documents")
    warcs = warc_io.synth_warc_from_text(d)
    recs = warc_io.warc_records(warcs, "payload")
    resp = recs.filter(
        (F.col("warc_type") == "response") & (F.col("http_status") == 200)
    ).select(
        "doc_id",
        "target_uri",
        F.decode(F.col("body"), "UTF-8").alias("html"),
    )
    ex = html_fields(resp, "html")
    return ex.select(
        "doc_id",
        "target_uri",
        F.md5(F.encode(F.col("main_text"), "UTF-8")).alias("text_digest"),
    )


QUERIES["q135_warc_pipeline"] = q135_warc_pipeline

ORACLES = {
    "q84_paragraph_dedup": """
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        ln AS (SELECT doc_id, i AS pos,
                      array_to_string(w[(i-1)*4+1:(i-1)*4+4], ' ') AS para
               FROM t, unnest(generate_series(1, CAST(ceil(len(w)/4.0) AS INT))) AS u(i)),
        fl AS (SELECT doc_id, pos, para,
                      ROW_NUMBER() OVER (PARTITION BY para
                                         ORDER BY doc_id, pos) = 1 AS keep
               FROM ln)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_paras,
               CAST(COUNT(*) FILTER (keep) AS BIGINT) AS n_kept,
               sha256(COALESCE(string_agg(CASE WHEN keep THEN para END,
                                          chr(10) ORDER BY pos), '')) AS clean_sha
        FROM fl GROUP BY doc_id ORDER BY doc_id
    """,
    # q85: the sign matrix rebuilt entry-by-entry from the same
    # sha256 derivation, inputs quantized with the same half-away
    # ROUND, and the projection summed as exact integers — identical
    # across engines by construction (no float accumulation).
    "q85_random_projection": """
        WITH u AS (SELECT vec_id, i - 1 AS d,
                          CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS qv
                   FROM embeddings,
                        unnest(generate_series(1, len(embedding))) AS t(i)),
        m AS (SELECT d.d, j.j,
                     CASE WHEN ('0x' || substr(sha256('rp:0:' || d.d || ':' || j.j), 1, 1))::UBIGINT % 2 = 0
                          THEN 1 ELSE -1 END AS s
              FROM (SELECT unnest(generate_series(0, 63)) AS d) d,
                   (SELECT unnest(generate_series(0, 7)) AS j) j)
        SELECT u.vec_id,
               CAST(m.j AS BIGINT) AS proj_dim,
               CAST(SUM(u.qv * m.s) AS BIGINT) AS proj
        FROM u JOIN m ON u.d = m.d
        GROUP BY u.vec_id, m.j
        ORDER BY vec_id, proj_dim
    """,
    # q86: bigram term-frequency vocabulary (top-500, ties by text),
    # per-doc OOV fraction over a left probe — docs shorter than the
    # n-gram width report zero grams and rate 0.
    "q86_oov_rate": """
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        g AS (SELECT doc_id, array_to_string(w[i:i+1], ' ') AS ng
              FROM t, unnest(generate_series(1, len(w) - 1)) AS u(i)),
        c AS (SELECT ng, COUNT(*) AS tf FROM g GROUP BY ng),
        v AS (SELECT ng FROM c ORDER BY tf DESC, ng LIMIT 500),
        p AS (SELECT g.doc_id, COUNT(*) AS n_ngrams,
                     COUNT(*) FILTER (v.ng IS NULL) AS n_oov
              FROM g LEFT JOIN v ON g.ng = v.ng GROUP BY g.doc_id)
        SELECT d.doc_id,
               CAST(COALESCE(p.n_ngrams, 0) AS BIGINT) AS n_ngrams,
               CAST(COALESCE(p.n_oov, 0) AS BIGINT) AS n_oov,
               CASE WHEN COALESCE(p.n_ngrams, 0) = 0 THEN 0.0
                    ELSE ROUND(p.n_oov * 1.0 / p.n_ngrams, 6) END AS oov_rate
        FROM documents d LEFT JOIN p USING (doc_id) ORDER BY doc_id
    """,
    # q87: same chunk-count formula and per-chunk slice bounds; the
    # sha256 pins every chunk's exact text.
    "q87_doc_chunks": """
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
                          len(string_split(text, ' ')) AS nt
                   FROM documents),
        c AS (SELECT doc_id, w, nt,
                     unnest(generate_series(0,
                        CAST(ceil(greatest(nt - 32, 0) / 24.0) AS BIGINT))) AS k
              FROM t)
        SELECT doc_id,
               CAST(k AS BIGINT) AS chunk_id,
               CAST(least(k * 24 + 32, nt) - (k * 24 + 1) + 1 AS BIGINT)
                 AS chunk_tokens,
               sha256(array_to_string(
                 w[CAST(k * 24 + 1 AS INT):CAST(least(k * 24 + 32, nt) AS INT)],
                 ' ')) AS chunk_sha
        FROM c ORDER BY doc_id, chunk_id
    """,
    # q88: rates rebuilt from counts with the identical exact-input
    # arithmetic (IEEE sqrt, milli-unit ROUND, integer products, one
    # double division), then the q78 repeat/drop replay.
    "q88_temperature_mix": """
        WITH c AS (SELECT lang, COUNT(*) AS n_g FROM documents GROUP BY lang),
        w AS (SELECT lang, n_g, CAST(ROUND(sqrt(n_g) * 1000) AS BIGINT) AS w
              FROM c),
        t AS (SELECT SUM(n_g) AS n, SUM(w) AS sw FROM w),
        r AS (SELECT lang, n_g,
                     CAST(FLOOR((100 * t.n * w.w) * 1.0 / (t.sw * w.n_g)) AS INT)
                       AS rate_pct
              FROM w, t),
        b AS (SELECT d.doc_id, d.lang, r.rate_pct,
                     ('0x' || substr(sha256(CAST(d.doc_id AS VARCHAR)), 1, 4))::UBIGINT
                       % 100 AS bucket
              FROM documents d JOIN r USING (lang)),
        cc AS (SELECT doc_id, lang, rate_pct,
                      CAST(rate_pct // 100 AS INT)
                        + CASE WHEN bucket < rate_pct % 100 THEN 1 ELSE 0 END AS n
               FROM b),
        xp AS (SELECT doc_id, lang, rate_pct,
                      unnest(generate_series(0, n - 1)) AS dup_idx
               FROM cc WHERE n > 0)
        SELECT lang, CAST(MAX(rate_pct) AS INT) AS rate_pct,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
               CAST(SUM(dup_idx) AS BIGINT) AS sum_dup_idx
        FROM xp GROUP BY lang ORDER BY lang
    """,
    # q89: identical smoothed-probability derivation; the only float
    # ops are the shared-input ln and two exact-integer divisions,
    # quantized to micro-nats before any summation.
    "q89_bigram_surprisal": """
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        tok AS (SELECT doc_id, unnest(w) AS a FROM t),
        g AS (SELECT doc_id, w[i] AS a, w[i+1] AS b
              FROM t, unnest(generate_series(1, len(w) - 1)) AS u(i)),
        cab AS (SELECT a, b, COUNT(*) AS cab FROM g GROUP BY a, b),
        ca AS (SELECT a, COUNT(*) AS ca FROM tok GROUP BY a),
        v AS (SELECT COUNT(DISTINCT a) AS v FROM tok),
        s AS (SELECT g.doc_id,
                     CAST(ROUND(-ln((cab.cab + 1) * 1.0 / (ca.ca + v.v)) * 1000000)
                          AS BIGINT) AS s
              FROM g JOIN cab USING (a, b) JOIN ca USING (a), v),
        p AS (SELECT doc_id, COUNT(*) AS n_bigrams, SUM(s) AS sm
              FROM s GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
               CAST(COALESCE(p.sm, 0) AS BIGINT) AS sum_micro_nats,
               CASE WHEN COALESCE(p.n_bigrams, 0) = 0 THEN 0.0
                    ELSE ROUND(p.sm * 1.0 / (p.n_bigrams * 1000000.0), 6)
               END AS avg_surprisal
        FROM documents d LEFT JOIN p USING (doc_id) ORDER BY doc_id
    """,
    # q90: raw-string shingle join (ground truth for Spark's xxhash64
    # keys); both engines gate on the ROUND(...,6) values.
    "q90_containment_pairs": """
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        idx AS (SELECT doc_id, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i, w
                FROM t),
        sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
               FROM idx),
        cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        i AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
        r AS (SELECT i.da AS doc_id, i.db AS other_doc_id,
                     ROUND(i.c * 1.0 / ca.n, 6) AS containment,
                     ROUND(i.c * 1.0 / cb.n, 6) AS other_containment,
                     GREATEST(ROUND(i.c * 1.0 / ca.n, 6),
                              ROUND(i.c * 1.0 / cb.n, 6)) AS max_containment
              FROM i JOIN cnt ca ON i.da = ca.doc_id
                     JOIN cnt cb ON i.db = cb.doc_id)
        SELECT * FROM r WHERE max_containment >= 0.1
        ORDER BY doc_id, other_doc_id
    """,
    # q91: the q85 projection CTEs (16 dims = 4 bands x 4 bits) +
    # per-band sign codes + any-band candidate union + the q30
    # cosine/rank replay.
    "q91_signcode_topk": """
        WITH u AS (SELECT vec_id, i - 1 AS d,
                          CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS qv
                   FROM embeddings,
                        unnest(generate_series(1, len(embedding))) AS t(i)),
        m AS (SELECT d.d, j.j,
                     CASE WHEN ('0x' || substr(sha256('rp:0:' || d.d || ':' || j.j), 1, 1))::UBIGINT % 2 = 0
                          THEN 1 ELSE -1 END AS s
              FROM (SELECT unnest(generate_series(0, 63)) AS d) d,
                   (SELECT unnest(generate_series(0, 15)) AS j) j),
        p AS (SELECT u.vec_id, m.j, SUM(u.qv * m.s) AS proj
              FROM u JOIN m ON u.d = m.d GROUP BY u.vec_id, m.j),
        code AS (SELECT vec_id, j // 4 AS band,
                        SUM(CASE WHEN proj >= 0
                                 THEN CASE j % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
                                                 WHEN 2 THEN 4 ELSE 8 END
                                 ELSE 0 END) AS c
                 FROM p GROUP BY vec_id, j // 4),
        cand AS (SELECT DISTINCT a.vec_id AS ca, b.vec_id AS cb
                 FROM code a JOIN code b
                   ON a.band = b.band AND a.c = b.c AND a.vec_id <> b.vec_id),
        scored AS (SELECT ca AS vec_id, cb AS other_vec_id,
                          ROUND(list_cosine_similarity(
                            CAST(ea.embedding AS DOUBLE[]),
                            CAST(eb.embedding AS DOUBLE[])), 6) AS cos_sim
                   FROM cand JOIN embeddings ea ON ca = ea.vec_id
                             JOIN embeddings eb ON cb = eb.vec_id),
        ranked AS (SELECT vec_id, other_vec_id, cos_sim,
                          ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, other_vec_id) AS rnk
                   FROM scored)
        SELECT vec_id, CAST(rnk AS INT) AS rank, other_vec_id, cos_sim
        FROM ranked WHERE rnk <= 3 ORDER BY vec_id, rank
    """,
}


# Same-JVM A/B pairs register into the shared northstar registry;
# one-way import, no cycle (northstar never imports this module).
from archetype_spark.queries.northstar import AB_VARIANTS  # noqa: E402


def _q93_exploded_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q93 with the exploded sentinel numbering (one row per block +
    a per-doc window) instead of the narrow per-row fold."""
    from archetype_spark.operators import packing

    d = load(spark, sf_dir, "documents")
    out = packing.span_corruption(d, span_tokens=3, mask_pct=15, numbering="exploded")
    return out.select(
        "doc_id",
        "n_blocks",
        "n_masked",
        F.sha2(F.col("input_text"), 256).alias("input_sha"),
        F.sha2(F.col("target_text"), 256).alias("target_sha"),
    ).orderBy("doc_id")


# `--ab q93`: sentinel-numbering formulations (row-identical; the
# crossover is document LENGTH — see packing.span_corruption's
# docstring and the r8 BASELINE.md table: narrow wins on corpus-length
# docs, exploded wins >10x from ~30k tokens).
AB_VARIANTS["q93"] = {
    "narrow": q93_span_corruption,
    "exploded": _q93_exploded_variant,
}

# q92's oracle needs northstar's stopword VALUES literal, available
# once the import above has run: the q87 chunk bounds (stride ==
# window), the q38 per-chunk lang scorer, a ROW_NUMBER majority with
# the same (count DESC, lang ASC) tie order as Spark's struct-MIN.
from archetype_spark.queries.northstar import _STOPWORD_VALUES  # noqa: E402

ORACLES["q92_mixed_language"] = f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
                          len(string_split(text, ' ')) AS nt
                   FROM documents),
        ch AS (SELECT doc_id, k,
                      array_to_string(
                        w[CAST(k * 16 + 1 AS INT):CAST(least(k * 16 + 16, nt) AS INT)],
                        ' ') AS ctext
               FROM (SELECT doc_id, w, nt,
                            unnest(generate_series(0,
                               CAST(ceil(greatest(nt - 16, 0) / 16.0) AS BIGINT))) AS k
                     FROM t)),
        ctoks AS (SELECT doc_id, k, unnest(string_split(ctext, ' ')) AS tkn FROM ch),
        sw(lang, w) AS (VALUES {_STOPWORD_VALUES}),
        hits AS (SELECT c.doc_id, c.k, s.lang, COUNT(*) AS score
                 FROM ctoks c JOIN sw s ON c.tkn = s.w GROUP BY 1, 2, 3),
        best AS (SELECT doc_id, k, lang,
                        ROW_NUMBER() OVER (PARTITION BY doc_id, k
                              ORDER BY score DESC, lang) AS rn
                 FROM hits),
        pl AS (SELECT c.doc_id, c.k, COALESCE(b.lang, 'unknown') AS lang
               FROM ch c LEFT JOIN (SELECT doc_id, k, lang FROM best WHERE rn = 1) b
               ON c.doc_id = b.doc_id AND c.k = b.k),
        cnt AS (SELECT doc_id, lang, COUNT(*) AS c FROM pl GROUP BY 1, 2),
        major AS (SELECT doc_id, lang, c,
                         ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY c DESC, lang) AS rn
                  FROM cnt),
        agg AS (SELECT doc_id, SUM(c) AS n_chunks, COUNT(*) AS n_langs
                FROM cnt GROUP BY 1)
        SELECT a.doc_id,
               CAST(a.n_chunks AS BIGINT) AS n_chunks,
               CAST(a.n_langs AS BIGINT) AS n_langs,
               m.lang AS major_lang,
               ROUND(m.c * 1.0 / a.n_chunks, 6) AS major_share,
               ROUND(m.c * 1.0 / a.n_chunks, 6) < 0.8 AS is_mixed
        FROM agg a JOIN major m ON a.doc_id = m.doc_id AND m.rn = 1
        ORDER BY a.doc_id
    """

# q99: the streaming-curation batch face — portable-fingerprint dedup
# to the min-id keeper (the q64 fingerprint fragment), the q92
# chunk-majority language CTE chain rebased onto the deduped keeper
# set, survivors = non-empty AND not mixed, then the per-lang
# manifest. Flattening the 3-token line structure reconstructs the
# original text exactly (single-space token streams), so the oracle
# gates on the original text — the same identity the Spark side's
# lined->flatten round-trip encodes.
ORACLES["q99_stream_curation_face"] = """
        WITH f AS (SELECT doc_id, text, lang,
                          CAST(('0x' || substr(sha256(lower(regexp_replace(text, '\\s+', ' ', 'g'))), 1, 15))::UBIGINT AS BIGINT)
                            AS fingerprint
                   FROM documents),
        keep AS (SELECT fingerprint, MIN(doc_id) AS doc_id
                 FROM f GROUP BY 1),
        d AS (SELECT f.doc_id, f.text, f.lang
              FROM f JOIN keep ON f.fingerprint = keep.fingerprint
                              AND f.doc_id = keep.doc_id
              WHERE length(f.text) > 0),
        t AS (SELECT doc_id, string_split(text, ' ') AS w,
                     len(string_split(text, ' ')) AS nt
              FROM d),
        ch AS (SELECT doc_id, k,
                      array_to_string(
                        w[CAST(k * 16 + 1 AS INT):CAST(least(k * 16 + 16, nt) AS INT)],
                        ' ') AS ctext
               FROM (SELECT doc_id, w, nt,
                            unnest(generate_series(0,
                               CAST(ceil(greatest(nt - 16, 0) / 16.0) AS BIGINT))) AS k
                     FROM t)),
        ctoks AS (SELECT doc_id, k, unnest(string_split(ctext, ' ')) AS tkn FROM ch),
        sw(lang, w) AS (VALUES {stopwords}),
        hits AS (SELECT c.doc_id, c.k, s.lang, COUNT(*) AS score
                 FROM ctoks c JOIN sw s ON c.tkn = s.w GROUP BY 1, 2, 3),
        best AS (SELECT doc_id, k, lang,
                        ROW_NUMBER() OVER (PARTITION BY doc_id, k
                              ORDER BY score DESC, lang) AS rn
                 FROM hits),
        pl AS (SELECT c.doc_id, c.k, COALESCE(b.lang, 'unknown') AS lang
               FROM ch c LEFT JOIN (SELECT doc_id, k, lang FROM best WHERE rn = 1) b
               ON c.doc_id = b.doc_id AND c.k = b.k),
        cnt AS (SELECT doc_id, lang, COUNT(*) AS c FROM pl GROUP BY 1, 2),
        major AS (SELECT doc_id, lang, c,
                         ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY c DESC, lang) AS rn
                  FROM cnt),
        agg AS (SELECT doc_id, SUM(c) AS n_chunks FROM cnt GROUP BY 1),
        pure AS (SELECT a.doc_id
                 FROM agg a JOIN major m ON a.doc_id = m.doc_id AND m.rn = 1
                 WHERE ROUND(m.c * 1.0 / a.n_chunks, 6) >= 0.8)
        SELECT d.lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(d.doc_id) AS BIGINT) AS sum_doc_id,
               CAST(SUM(length(d.text)) AS BIGINT) AS total_chars
        FROM d JOIN pure ON d.doc_id = pure.doc_id
        GROUP BY d.lang
        ORDER BY d.lang
    """.replace("{stopwords}", _STOPWORD_VALUES)

# q102: the DSIR replay — identical gram derivation, the same 16-bit
# sha256 bucket (hash_bucket's documented DuckDB form), add-one
# smoothed distributions, per-bucket micro-nat quantization with
# DuckDB ROUND, exact integer sums.
ORACLES["q102_dsir_importance"] = """
        WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w
                   FROM documents),
        g AS (SELECT doc_id, (lang = 'en') AS tgt,
                     w[CAST(i AS INT)] || ' ' || w[CAST(i + 1 AS INT)] AS gram
              FROM (SELECT doc_id, lang, w,
                           unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i
                    FROM t)),
        gb AS (SELECT doc_id, tgt,
                      CAST(('0x' || substr(sha256(gram), 1, 4))::UBIGINT % 1024 AS INT) AS bkt
               FROM g),
        dist AS (SELECT bkt, COUNT(*) AS craw,
                        SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ctgt
                 FROM gb GROUP BY 1),
        tot AS (SELECT SUM(craw) AS nraw, SUM(ctgt) AS ntgt FROM dist),
        sc AS (SELECT bkt,
                      CAST(ROUND((ln((ctgt + 1) / (ntgt + 1024))
                                  - ln((craw + 1) / (nraw + 1024))) * 1e6, 0) AS BIGINT) AS s
               FROM dist, tot),
        pd AS (SELECT gb.doc_id, COUNT(*) AS n_feats, SUM(sc.s) AS sum_micro_nats
               FROM gb JOIN sc ON gb.bkt = sc.bkt GROUP BY 1)
        SELECT d.doc_id,
               CAST(COALESCE(pd.n_feats, 0) AS BIGINT) AS n_feats,
               CAST(COALESCE(pd.sum_micro_nats, 0) AS BIGINT) AS sum_micro_nats,
               CASE WHEN COALESCE(pd.n_feats, 0) = 0 THEN 0.0
                    ELSE ROUND(pd.sum_micro_nats / (pd.n_feats * 1e6), 6)
               END AS avg_log_ratio
        FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
        ORDER BY d.doc_id
    """

# q103: the q35/q94 quality derivation + standard NTILE with the
# identical (quality DESC, doc_id) total order.
ORACLES["q103_quality_tiers"] = """
        WITH base AS (
          SELECT doc_id, lang,
                 len(string_split(text, ' ')) AS nt,
                 len(list_distinct(string_split(text, ' '))) AS nu,
                 length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS npunct,
                 length(text) AS nchar
          FROM documents
        ), q AS (
          SELECT doc_id, lang,
                 ROUND(0.5 * LEAST(nt / 50.0, 1.0)
                       + 0.4 * (CASE WHEN nt > 0 THEN nu * 1.0 / nt ELSE 0.0 END)
                       + 0.1 * (1.0 - CASE WHEN nchar > 0
                                           THEN npunct * 1.0 / nchar ELSE 0.0 END),
                       6) AS quality
          FROM base
        )
        SELECT doc_id, lang, quality,
               CAST(NTILE(3) OVER (PARTITION BY lang
                                   ORDER BY quality DESC, doc_id) AS INT) AS tier
        FROM q
        ORDER BY doc_id
    """

# q84: the 4-token chunk paragraphs, global first-occurrence winner
# per paragraph (min (doc_id, pos)), position-ordered reassembly of
# the kept occurrences. The oracle keys on raw paragraph STRINGS (the
# semantic ground truth for Spark's xxhash64 keys — the usual
# digest-for-body trade); sha256 pins the reassembled bytes.

# q93: blocks via generate_series, the same sha256 mask fence, a
# prefix-count window for sentinel numbering, ordered string_agg
# reassembly of both constructed texts.
ORACLES["q93_span_corruption"] = """
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        b AS (SELECT doc_id, i AS blk,
                     array_to_string(w[(i-1)*3+1:(i-1)*3+3], ' ') AS btxt,
                     ('0x' || substr(sha256(doc_id || ':' || i), 1, 4))::UBIGINT
                       % 100 < 15 AS m
              FROM t, unnest(generate_series(1, CAST(ceil(len(w)/3.0) AS INT))) AS u(i)),
        k AS (SELECT *, COALESCE(COUNT(*) FILTER (m) OVER (
                          PARTITION BY doc_id ORDER BY blk
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS kk
              FROM b),
        agg AS (SELECT doc_id,
                       CAST(COUNT(*) AS BIGINT) AS n_blocks,
                       CAST(COUNT(*) FILTER (m) AS BIGINT) AS n_masked,
                       string_agg(CASE WHEN m THEN '<extra_id_' || kk || '>'
                                       ELSE btxt END, ' ' ORDER BY blk) AS itext,
                       COALESCE(string_agg(CASE WHEN m THEN
                                  '<extra_id_' || kk || '> ' || btxt END,
                                  ' ' ORDER BY blk), '') AS ttext
                FROM k GROUP BY doc_id)
        SELECT doc_id, n_blocks, n_masked,
               sha256(itext) AS input_sha, sha256(ttext) AS target_sha
        FROM agg ORDER BY doc_id
    """

# q94: the q35 quality derivation, the q83 hash uniform (+1 BEFORE
# the double cast), the A-ES key in integer micro-units, top-100.
ORACLES["q94_weighted_sample"] = """
        WITH base AS (
          SELECT doc_id,
                 len(string_split(text, ' ')) AS nt,
                 len(list_distinct(string_split(text, ' '))) AS nu,
                 length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS npunct,
                 length(text) AS nchar
          FROM documents
        ), q AS (
          SELECT doc_id,
                 ROUND(0.5 * LEAST(nt / 50.0, 1.0)
                       + 0.4 * (CASE WHEN nt > 0 THEN nu * 1.0 / nt ELSE 0.0 END)
                       + 0.1 * (1.0 - CASE WHEN nchar > 0
                                           THEN npunct * 1.0 / nchar ELSE 0.0 END),
                       6) AS weight
          FROM base
        ), keyed AS (
          SELECT doc_id, weight,
                 CAST(ROUND(-ln(
                     CAST(('0x' || substr(sha256('0:' || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT + 1
                          AS DOUBLE) / 1152921504606846976.0)
                   / weight * 1000000) AS BIGINT) AS sample_key
          FROM q WHERE weight > 0
        ), ranked AS (
          SELECT doc_id, weight, sample_key,
                 ROW_NUMBER() OVER (ORDER BY sample_key, doc_id) AS sample_rank
          FROM keyed
        )
        SELECT CAST(sample_rank AS BIGINT) AS sample_rank, doc_id,
               sample_key, weight
        FROM ranked WHERE sample_rank <= 100 ORDER BY sample_rank
    """

# q95: the q80 clean CTEs -> structural gate -> the q92 scorer over
# the CLEANED text -> the q88 temperature replay over the survivor
# pool, all in one statement — the composition oracle.
ORACLES["q95_curation_v2"] = f"""
        WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        ln AS (SELECT doc_id, i AS pos,
                      array_to_string(w[(i-1)*3+1:(i-1)*3+3], ' ') AS line
               FROM t0, unnest(generate_series(1, CAST(ceil(len(w)/3.0) AS INT))) AS u(i)),
        dfc AS (SELECT line, COUNT(DISTINCT doc_id) AS d FROM ln GROUP BY line),
        hot AS (SELECT line FROM dfc WHERE d > 3),
        fl AS (SELECT l.doc_id, l.pos, l.line, h.line IS NOT NULL AS is_hot
               FROM ln l LEFT JOIN hot h ON l.line = h.line),
        cl AS (SELECT doc_id, COUNT(*) AS n_lines,
                      COUNT(*) FILTER (NOT is_hot) AS n_kept,
                      COALESCE(string_agg(CASE WHEN NOT is_hot THEN line END,
                                          ' ' ORDER BY pos), '') AS ctext
               FROM fl GROUP BY doc_id),
        kept AS (SELECT doc_id, ctext FROM cl
                 WHERE n_kept * 2 >= n_lines AND n_kept > 0),
        t1 AS (SELECT doc_id, string_split(ctext, ' ') AS w,
                      len(string_split(ctext, ' ')) AS nt
               FROM kept),
        ch AS (SELECT doc_id, k,
                      array_to_string(
                        w[CAST(k * 16 + 1 AS INT):CAST(least(k * 16 + 16, nt) AS INT)],
                        ' ') AS chtext
               FROM (SELECT doc_id, w, nt,
                            unnest(generate_series(0,
                               CAST(ceil(greatest(nt - 16, 0) / 16.0) AS BIGINT))) AS k
                     FROM t1)),
        ctoks AS (SELECT doc_id, k, unnest(string_split(chtext, ' ')) AS tkn FROM ch),
        sw(lang, w) AS (VALUES {_STOPWORD_VALUES}),
        hits AS (SELECT c.doc_id, c.k, s.lang, COUNT(*) AS score
                 FROM ctoks c JOIN sw s ON c.tkn = s.w GROUP BY 1, 2, 3),
        best AS (SELECT doc_id, k, lang,
                        ROW_NUMBER() OVER (PARTITION BY doc_id, k
                              ORDER BY score DESC, lang) AS rn
                 FROM hits),
        pl AS (SELECT c.doc_id, c.k, COALESCE(b.lang, 'unknown') AS plang
               FROM ch c LEFT JOIN (SELECT doc_id, k, lang FROM best WHERE rn = 1) b
               ON c.doc_id = b.doc_id AND c.k = b.k),
        cnt AS (SELECT doc_id, plang, COUNT(*) AS c FROM pl GROUP BY 1, 2),
        major AS (SELECT doc_id, plang, c,
                         ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY c DESC, plang) AS rn
                  FROM cnt),
        aggm AS (SELECT doc_id, SUM(c) AS n_chunks FROM cnt GROUP BY 1),
        pure AS (SELECT a.doc_id FROM aggm a JOIN major m
                   ON a.doc_id = m.doc_id AND m.rn = 1
                 WHERE NOT (ROUND(m.c * 1.0 / a.n_chunks, 6) < 0.8)),
        pool AS (SELECT k.doc_id, d.lang, k.ctext
                 FROM kept k JOIN pure USING (doc_id)
                        JOIN documents d USING (doc_id)),
        c2 AS (SELECT lang, COUNT(*) AS n_g FROM pool GROUP BY lang),
        w2 AS (SELECT lang, n_g, CAST(ROUND(sqrt(n_g) * 1000) AS BIGINT) AS w FROM c2),
        tt AS (SELECT SUM(n_g) AS n, SUM(w) AS sw FROM w2),
        r2 AS (SELECT lang, n_g,
                      CAST(FLOOR((100 * tt.n * w2.w) * 1.0 / (tt.sw * w2.n_g)) AS INT)
                        AS rate_pct
               FROM w2, tt),
        b2 AS (SELECT p.doc_id, p.lang, p.ctext, r2.rate_pct,
                      ('0x' || substr(sha256(CAST(p.doc_id AS VARCHAR)), 1, 4))::UBIGINT
                        % 100 AS bucket
               FROM pool p JOIN r2 USING (lang)),
        cc2 AS (SELECT doc_id, lang, ctext, rate_pct,
                       CAST(rate_pct // 100 AS INT)
                         + CASE WHEN bucket < rate_pct % 100 THEN 1 ELSE 0 END AS n
                FROM b2),
        xp2 AS (SELECT doc_id, lang, ctext, rate_pct,
                       unnest(generate_series(0, n - 1)) AS dup_idx
                FROM cc2 WHERE n > 0)
        SELECT lang, CAST(MAX(rate_pct) AS INT) AS rate_pct,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
               CAST(SUM(dup_idx) AS BIGINT) AS sum_dup_idx,
               CAST(SUM(length(ctext)) AS BIGINT) AS total_chars
        FROM xp2 GROUP BY lang ORDER BY lang
    """

# q97: the q71 split fences + raw-string 8-token window join (ground
# truth for Spark's xxhash64 keys); windows are DISTINCT per doc on
# both sides.
ORACLES["q97_verbatim_leaks"] = """
        WITH b AS (
          SELECT doc_id, text,
                 ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 4))::UBIGINT
                   % 100 AS bk
          FROM documents
        ),
        tr AS (SELECT doc_id, string_split(text, ' ') AS w FROM b WHERE bk < 80),
        ev AS (SELECT string_split(text, ' ') AS w FROM b WHERE bk >= 90),
        tw AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS s
               FROM tr, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS u(i)),
        tc AS (SELECT doc_id, COUNT(*) AS n FROM tw GROUP BY doc_id),
        ew AS (SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS s
               FROM ev, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS u(i)),
        lk AS (SELECT t.doc_id, COUNT(*) AS c
               FROM tw t JOIN ew e ON t.s = e.s GROUP BY t.doc_id)
        SELECT tr.doc_id,
               CAST(COALESCE(tc.n, 0) AS BIGINT) AS n_windows,
               CAST(COALESCE(lk.c, 0) AS BIGINT) AS n_leaked,
               COALESCE(lk.c, 0) > 0 AS leaked
        FROM tr
        LEFT JOIN tc USING (doc_id)
        LEFT JOIN lk USING (doc_id)
        ORDER BY doc_id
    """

# q133: the synthesis wraps the source text losslessly (escaped into
# the <pre> main block), so extraction must return it BIT-EXACTLY —
# the oracle digests documents.text directly, fully independent of
# both the synthesis and the parser.
ORACLES["q133_html_extract"] = """
    SELECT doc_id, 'doc ' || doc_id AS title,
           md5(text) AS text_digest, 2::INT AS n_links
    FROM documents
"""

# q134: page 1's TJ segments concatenate to the source text exactly,
# so the oracle digests documents.text — independent of both the PDF
# writer and the extraction chain. split('\f') never splits page 1
# (the corpus is newline/formfeed-free plain text).
ORACLES["q134_pdf_extract"] = """
    SELECT doc_id, 2::INT AS n_pages, md5(text) AS text_digest,
           'doc ' || doc_id AS footer
    FROM documents
"""

# q135: the WARC response's HTML <pre> block escapes the source text
# losslessly, so WARC-split + HTTP-split + HTML-extract must compose
# to the identity — the oracle digests documents.text and derives the
# URI from doc_id, independent of all three operators.
ORACLES["q135_warc_pipeline"] = """
    SELECT doc_id, 'http://fixture/doc/' || doc_id AS target_uri,
           md5(text) AS text_digest
    FROM documents
"""
