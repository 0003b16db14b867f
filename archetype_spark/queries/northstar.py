"""North-star [N] query corpus: dedup, similarity, text analysis,
multimodal — Q29/Q30 from SURVEY §2.4 plus the extended operator
queries (q31+). Oracle-gated throughout — including the hash-family
operators (portable sha256-based families diff exactly in DuckDB)
and q61's IVF probe (the oracle reads the same persisted index
parquet the query probes). The only rows-only entry left is
q65_minhash_fast, the xxhash64 fast path benched beside the
oracle-gated portable q40.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from archetype_spark.operators import (
    ann_index,
    cleaning,
    dedup,
    multimodal,
    similarity,
    textstats,
)
from archetype_spark.tables import load

# q42/q61 probe PERSISTED ANN indexes (operators/ann_index.py). The
# build params live here, next to the queries, so the maintenance hook
# (ensure_ann_indexes, called from bench.py's warmup) and the queries
# can never drift apart.
LSH_INDEX = dict(dim=64, n_planes=8, n_tables=6, seed=42)
IVF_INDEX = dict(n_clusters=16, seed=42)
#: The PRODUCTION MinHash signature family q65 probes: xxhash64 slot
#: hashes persisted at ingest time (ann_index.ensure_minhash). The
#: banding constants live with the query/oracle (bands=16, thr=0.45).
MINHASH_INDEX = dict(num_hashes=64, shingle_n=3, hash_family="xxhash64")
SIMHASH_INDEX = dict(hash_family="xxhash64")


def ensure_ann_indexes(spark: SparkSession, sf_dir: str) -> None:
    """Build any missing persisted index for `sf_dir` — the
    ingest-time maintenance step (LanceDB create_index parity):
    LSH buckets + IVF centroids/assignments over embeddings, and the
    MinHash signature table over documents. Queries self-build on
    first call anyway; this hook just keeps the build cost out of
    measured query time."""
    emb = load(spark, sf_dir, "embeddings")
    buckets = ann_index.ensure_lsh(
        emb, ann_index.default_index_dir(sf_dir, "lsh_embeddings"), **LSH_INDEX
    )
    cents, assigned = ann_index.ensure_ivf(
        emb, ann_index.default_index_dir(sf_dir, "ivf_embeddings"), **IVF_INDEX
    )
    sigs = ann_index.ensure_minhash(
        load(spark, sf_dir, "documents"),
        ann_index.default_index_dir(sf_dir, "minhash_documents"),
        **MINHASH_INDEX,
    )
    fps = ann_index.ensure_simhash(
        load(spark, sf_dir, "documents"),
        ann_index.default_index_dir(sf_dir, "simhash_documents"),
        **SIMHASH_INDEX,
    )
    # function-local: the queries package __init__ imports northstar
    # before retrieval_q, so a module-level import here would hit a
    # partially-initialized package
    from archetype_spark.operators.bpe import ensure_bpe
    from archetype_spark.queries.retrieval_q import (
        BPE_INDEX,
        PQ_INDEX,
        _bpe_dir,
        _pq_dir,
    )

    book, codes = ann_index.ensure_pq(emb, _pq_dir(sf_dir), **PQ_INDEX)
    _bpe_merges, segs = ensure_bpe(
        load(spark, sf_dir, "documents"), _bpe_dir(sf_dir), **BPE_INDEX
    )
    # touch each index table so parquet footer/metadata caches are warm
    # before the first probe
    for df in (buckets, cents, assigned, sigs, fps, book, codes, segs):
        df.count()
    # lake-format state families: the Delta/Iceberg tables q104/q105
    # scan (their oracles read the same on-disk state, so cold
    # checkouts need the tables built before oracle_sql() is
    # evaluated) and q106's merged table (pure-SQL oracle, but the
    # build cost belongs in warmup, not measured query time)
    _ensure_delta_documents(spark, sf_dir)
    _ensure_delta_dv_documents(spark, sf_dir)
    _ensure_delta_mapped_documents(spark, sf_dir)
    _ensure_iceberg_documents(spark, sf_dir)
    _ensure_iceberg_dv_documents(spark, sf_dir)
    _ensure_iceberg_cdc_documents(spark, sf_dir)
    _ensure_iceberg_events_days(spark, sf_dir)
    _ensure_iceberg_mirror_documents(spark, sf_dir)
    _ensure_delta_mirror_documents(spark, sf_dir)
    _ensure_hudi_documents(spark, sf_dir)
    _ensure_delta_cdf_documents(spark, sf_dir)
    _ensure_iceberg_cdf_mirror(spark, sf_dir)
    _ensure_delta_merged(spark, sf_dir)
    _ensure_delta_evolved(spark, sf_dir)
    _ensure_zorder_lineitem(spark, sf_dir)
    _ensure_media_pixels(sf_dir)
    _ensure_media_audio(sf_dir)
    _ensure_video_frames(sf_dir)


# ------------------------------------------------------------------- Q29/Q30
def q29_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup then per-lang counts (SURVEY §2.4 Q29)."""
    d = load(spark, sf_dir, "documents")
    return (
        dedup.exact_dedup(d.select("text", "lang"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("docs"))
        .orderBy("lang")
    )


def q30_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors (SURVEY §2.4 Q30): pairs with
    vec_id < other_vec_id, ranked by rounded similarity desc, tie by
    other_vec_id."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.topk_bruteforce(emb, k=5)


# ------------------------------------------------------- extended [N] corpus
def q31_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the events props payload (the
    reference's Daft surface exposes .json.query, SURVEY §2.2)."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_val"),
    ).orderBy("event_id")


def q32_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (reshaping family, SURVEY §2.2): lineitem counts by
    linestatus x returnflag. Values are pinned so the plan needs no
    discovery pass."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.count(F.lit(1)))
        .fillna(0, subset=["A", "N", "R"])
        .orderBy("l_linestatus")
    )


def q33_hash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash dedup: distinct sha256(normalized text) per lang —
    the 100 TB-friendly exact-dedup (shuffles 32-byte digests, not
    bodies)."""
    d = dedup.content_hash(load(spark, sf_dir, "documents"))
    return (
        d.groupBy("lang")
        .agg(F.countDistinct("content_sha").alias("uniq_docs"))
        .orderBy("lang")
    )


def q34_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang token statistics (text analysis family)."""
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    return (
        d.select("lang", n_tok.alias("_nt"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").alias("total_tokens"),
            F.round(F.avg("_nt"), 6).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


def q35_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics (operators/textstats.doc_stats)."""
    return textstats.doc_stats(load(spark, sf_dir, "documents")).orderBy("doc_id")


def q36_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs at >= 0.5 (the planted
    near-duplicate family in the corpus)."""
    return dedup.ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), n=3, threshold=0.5
    )


def q37_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup pairs (cosine >= 0.35 — the corpus
    embeddings are near-orthogonal, max observed sim ~0.51)."""
    return similarity.dup_pairs_by_cosine(
        load(spark, sf_dir, "embeddings"), threshold=0.35
    )


def q38_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID per document."""
    return textstats.lang_id(load(spark, sf_dir, "documents")).orderBy("doc_id")


def q39_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token frequency top-20 (explode + count + top-k)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(20)
    )


# ------------------------------------------------ rows-only (non-SQL) entries
def q40_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates, portable universal-hash family
    ((a*h+b) mod 2^31-1 over a sha256-prefix base hash) so the entire
    pipeline — shingling, 64-slot signatures, 16-band blocking,
    estimated-jaccard filter — is diffed exactly against a pure-SQL
    DuckDB oracle. The xxhash64 fast path shares the structure; recall
    vs exact jaccard is asserted in tests/test_dedup.py."""
    return dedup.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"),
        num_hashes=64,
        bands=16,
        threshold=0.45,
        hash_family="portable",
    )


def q41_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, portable hash family (sha256-prefix
    token hashes) so the full pipeline — per-token hashing, 60 bit
    votes, fingerprint assembly, banded blocking, hamming filter — is
    diffed bit-for-bit against a pure-SQL DuckDB oracle. The xxhash64
    fast path shares the identical structure (property-tested)."""
    return dedup.simhash_dup_pairs(
        load(spark, sf_dir, "documents"), max_hamming=8, hash_family="portable"
    )


def q42_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH approximate top-k over the PERSISTED
    bucket index. Oracle-gated since r3: the DuckDB oracle replicates
    the sign-bit pipeline with fold-order-exact unrolled dot products
    (see _lsh_oracle); planted-near-dup recall additionally asserted
    in tests/test_dedup.py at the same 8-plane/6-table setting."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(
        emb,
        k=5,
        index_dir=ann_index.default_index_dir(sf_dir, "lsh_embeddings"),
        **LSH_INDEX,
    )


def q61_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means cells + probe + exact re-rank) approximate top-k —
    the trained-quantizer ANN path next to q42's LSH, probing the
    PERSISTED centroid/assignment index instead of refitting per call.
    Oracle-gated via ivf_oracle(): DuckDB replays the probe over the
    same index parquet; planted-near-dup recall additionally asserted
    in tests/test_dedup.py."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb,
        k=5,
        n_probe=4,
        index_dir=ann_index.default_index_dir(sf_dir, "ivf_embeddings"),
        **IVF_INDEX,
    )


def q78_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain upsampling (operators/sampling.py mixture_resample):
    rates above 100% repeat under-represented languages (fr 2.5x,
    zh 1.3x) while en downsamples to 35% — the full two-sided mixture
    rebalance a training run's data card specifies. Copies are a
    narrow sequence-explode (no shuffle, no self-join); the
    fractional copy is fenced by the same portable sha256 bucket as
    q67/q75. Output: per-lang rows/unique-docs/checksums — sum_dup_idx
    pins the exact per-doc copy counts, not just totals."""
    from archetype_spark.operators import sampling

    out = sampling.mixture_resample(
        load(spark, sf_dir, "documents"), "lang", {"fr": 250, "zh": 130, "en": 35}
    )
    return (
        out.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
            F.sum("dup_idx").cast("bigint").alias("sum_dup_idx"),
        )
        .orderBy("lang")
    )


def q79_pack_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The writer stage q68's manifest feeds (operators/packing.py
    pack_payloads): each (lang, seq_id) training sequence's ACTUAL
    payload — member docs joined in deterministic offset order —
    reported as (n_docs, byte length, sha256) so the oracle pins the
    exact packed bytes without shipping them. The per-group collect
    is budget-bounded (the one safe collect_list), so the writer
    costs the same single shard-key shuffle as the manifest."""
    from archetype_spark.operators import packing

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "text",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    p = packing.pack_payloads(d, budget=2048, sep="\n")
    return p.select(
        "lang",
        "seq_id",
        "n_docs",
        F.length("payload").cast("bigint").alias("payload_len"),
        F.sha2("payload", 256).alias("payload_sha"),
    ).orderBy("lang", "seq_id")


def q77_filtered_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: q61's persisted-IVF probe with the
    searchable set restricted to label=2 vectors (similarity.ivf_topk
    `where=` — LanceDB `.search().where()` parity, the metadata
    predicate every vector store must compose with ANN). Same index
    parquet as q61 — the filter is a post-filter on the candidate
    side, no per-predicate index state; each query's top-5 re-ranks
    within eligible candidates only."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb,
        k=5,
        n_probe=4,
        index_dir=ann_index.default_index_dir(sf_dir, "ivf_embeddings"),
        where=F.col("label") == 2,
        **IVF_INDEX,
    )


#: q62's fetch fixture set. Pinned to the smallest always-present
#: corpus tier rather than the caller's sf_dir: the DuckDB oracle is a
#: fixed SQL string that must name the same files read_blob reads, and
#: fetch semantics (executor-side materialization + digest) don't
#: change with corpus scale. Overridable for ad-hoc runs.
FETCH_FIXTURE_DIR = os.environ.get(
    "SPARK_GRAFT_FETCH_FIXTURES", "/root/testdata/sf0.001"
)
_FETCH_TABLES = ["region", "nation", "documents", "embeddings", "events"]


def q62_url_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-fetch stage (Daft `.url.download()` parity, reference
    pyproject.toml:7-8): file:// refs to the FETCH_FIXTURE_DIR parquet
    artifacts, materialized to payload bytes executor-side, then
    digested. Oracle-gated: DuckDB read_blob fetches the same files
    and both engines digest sha256 over the uppercase-hex encoding
    (DuckDB 1.0 has no sha256(BLOB) overload; hex() canonicalizes
    identically on both). Per-scheme fetch behavior is pinned in
    tests/test_multimodal.py."""
    media = spark.createDataFrame(
        [
            (i, f"file://{os.path.join(FETCH_FIXTURE_DIR, t)}.parquet")
            for i, t in enumerate(_FETCH_TABLES)
        ],
        "media_id long, uri string",
    )
    fetched = multimodal.fetch_payloads(media)
    return fetched.select(
        "media_id",
        "uri",
        F.length("payload").cast("bigint").alias("n_bytes"),
        F.sha2(F.hex("payload"), 256).alias("digest"),
        "fetch_error",
    ).orderBy("media_id")


def q100_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-of-blobs ingest via the built-in `binaryFile` source
    (sources/io.py read_binary_dir — the from-glob-path start of a
    multimodal pipeline, Daft `from_glob_path` parity): list the
    FETCH_FIXTURE_DIR parquet artifacts as opaque blobs and emit
    (file_name, n_bytes, digest). Oracle-gated: DuckDB read_blob
    reads the same files; both engines digest sha256 over the
    uppercase-hex encoding (the q62 canonicalization). Distinct from
    q62: no URI column or Python fetch stage — the SOURCE itself
    materializes the bytes, with distributed listing and pruned
    metadata-only reads."""
    from archetype_spark.sources.io import read_binary_dir

    df = read_binary_dir(spark, FETCH_FIXTURE_DIR, glob="*.parquet")
    return df.select(
        F.regexp_extract("path", r"([^/]+)$", 1).alias("file_name"),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.sha2(F.hex("content"), 256).alias("digest"),
    ).orderBy("file_name")


def _ensure_media_pixels(sf_dir: str) -> str:
    """The real-pixel-decode fixture q121 scans: deterministic image
    FILES (baseline JPEGs incl. a restart-marker one, PNGs, a P6 PNM,
    an LZW GIF whose palette-mapped RGB is exact by construction,
    two uncompressed 24-bit BMPs, and a prefix-coded lossless WebP)
    plus a manifest parquet recording each image's GENERATOR-side
    ground truth — dims and the sha256 of the SOURCE pixel array's
    row-major bytes. The JPEGs are piecewise-uniform per 8x8 tile at
    unit DC quantization, which T.81 round-trips BIT-EXACTLY (only
    the DC coefficient is nonzero and its quant step is 1; pinned by
    tests/test_jpeg.py::test_uniform_image_exact_at_unit_quant), so
    the decoder's pixel bytes must equal the generator's — the oracle
    never runs the decoder, a Huffman/IDCT bug cannot cancel out.
    Driver-side build (KB of data), atomic slot swap, build-once."""
    import json as _json
    import shutil as _shutil
    import uuid as _uuid

    import numpy as _np
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from archetype_spark.operators import bmp_io, jpeg_io, png_io, webp_io

    idx = ann_index.default_index_dir(sf_dir, "media_pixels")
    # schema 2: + GIF (mid 8, gif_io LZW/palette decode, r11)
    # schema 3: + BMP (mids 9-10, bmp_io 24-bit decode, r12)
    # schema 4: + lossless WebP (mid 11, webp_io VP8L decode, r12)
    # schema 5: + progressive JPEG (mid 12, SOF2 scan accumulation,
    #           exact by the same unit-DC-quant tile argument, r12)
    # schema 6: + LOSSY WebP (mid 13, vp8_io RFC 6386 keyframe decode
    #           — exact by the DC-only-at-step-8 argument) and a
    #           VP8X-wrapped VP8L still (mid 14, container walk), r12
    # schema 7: + a `dhash` manifest column (independent pure-python
    #           derivation — q136's expected perceptual hashes) and
    #           two NEAR-DUP rows: mid 15 re-encodes mid 4's exact
    #           pixels as BMP (hamming 0 to mid 4), mid 16 perturbs
    #           one of mid 5's dhash sample points (hamming <= 3,
    #           asserted at build), r12
    # schema 8: + TIFF (mids 17-19, tiff_io: big-endian uncompressed
    #           RGB, PackBits gray, multi-strip LZW + horizontal
    #           predictor RGB — all lossless, exact by construction),
    #           late r12
    expect = {"kind": "media_pixels", "schema": 8, "neardup": 2}
    pfile = os.path.join(idx, "_build_params.json")
    if os.path.exists(pfile):
        try:
            with open(pfile) as fh:
                if _json.load(fh) == expect:
                    return idx
        except (OSError, ValueError):
            pass
    building = os.path.join(
        os.path.dirname(idx), f".building-{_uuid.uuid4().hex}"
    )
    os.makedirs(building, exist_ok=True)
    rows = []

    def tile_image(mid: int, th: int, tw: int) -> _np.ndarray:
        """(8*th, 8*tw) grayscale, each 8x8 tile uniform at a
        deterministic per-(image, tile) value."""
        vals = _np.array(
            [
                [(37 * mid + 11 * r + 23 * c + 5) % 251 for c in range(tw)]
                for r in range(th)
            ],
            dtype=_np.uint8,
        )
        return _np.kron(vals, _np.ones((8, 8), dtype=_np.uint8))

    def dhash_independent(px: "_np.ndarray") -> int:
        """q136's expected hash, derived with plain loops — a second
        implementation of the documented dhash definition (integer
        luma, 9x8 NN sample grid, row-major gradient bits, signed
        int64), deliberately NOT the operator's numpy code path."""
        h0, w0 = px.shape[0], px.shape[1]
        v = 0
        for r in range(8):
            row = []
            for c in range(9):
                y, x = (r * h0) // 8, (c * w0) // 9
                p = px[y, x]
                row.append(
                    (int(p[0]) + int(p[1]) + int(p[2])) // 3
                    if px.ndim == 3
                    else int(p)
                )
            for c in range(8):
                if row[c + 1] > row[c]:
                    v |= 1 << (r * 8 + c)
        return v - (1 << 64) if v & (1 << 63) else v

    src_arrays: dict[int, "_np.ndarray"] = {}
    try:
        for mid in range(20):
            if mid < 4:  # baseline JPEG, exact by unit-DC-quant tiles
                px = tile_image(mid, 2 + mid % 3, 3 + mid % 2)
                payload = jpeg_io.jpeg_encode(
                    px, quality_scale=16, restart_interval=2 if mid == 3 else 0
                )
            elif mid < 7:  # PNG: exact codec, arbitrary content
                rng = _np.random.default_rng(100 + mid)
                shape = (11 + mid, 17 + mid, 3) if mid != 6 else (9, 13)
                px = rng.integers(0, 256, shape, dtype=_np.uint8)
                payload = png_io.png_encode(px)
            elif mid == 7:  # P6 PNM
                rng = _np.random.default_rng(100 + mid)
                px = rng.integers(0, 256, (6, 10, 3), dtype=_np.uint8)
                payload = (
                    b"P6\n10 6\n255\n" + _np.ascontiguousarray(px).tobytes()
                )
            elif mid == 8:  # GIF: indexed lossless — palette RGB exact
                from archetype_spark.operators import gif_io

                rng = _np.random.default_rng(100 + mid)
                pal = rng.integers(0, 256, (32, 3), dtype=_np.uint8)
                gidx = rng.integers(0, 32, (12, 19), dtype=_np.uint8)
                px = pal[gidx]
                payload = gif_io.gif_encode(gidx, pal)
            elif mid == 9:  # BMP: uncompressed 24-bit RGB, exact
                rng = _np.random.default_rng(100 + mid)
                px = rng.integers(0, 256, (7, 11, 3), dtype=_np.uint8)
                payload = bmp_io.bmp_encode(px)
            elif mid == 10:  # BMP from a gray source (expands to RGB)
                g = tile_image(mid, 2, 2)
                px = _np.repeat(g[:, :, None], 3, axis=2)
                payload = bmp_io.bmp_encode(g)
            elif mid == 11:  # lossless WebP (VP8L): prefix-coded, exact
                rng = _np.random.default_rng(100 + mid)
                px = rng.integers(0, 256, (9, 14, 3), dtype=_np.uint8)
                payload = webp_io.webp_encode(px)
            elif mid == 12:  # PROGRESSIVE JPEG: SOF2 DC + per-band AC
                px = tile_image(mid, 3, 2)
                payload = jpeg_io.jpeg_encode_progressive(
                    px, quality_scale=16
                )
            elif mid == 13:  # LOSSY WebP (VP8): 16x16 uniform tiles
                # decode bit-exactly (DC-only residuals at Y DC step 8
                # + loop filter level 0 — vp8_io's docstring argument)
                vals = _np.array(
                    [[(37 * mid + 11 * r + 23 * c + 5) % 251
                      for c in range(3)] for r in range(2)],
                    dtype=_np.uint8,
                )
                px = _np.kron(vals, _np.ones((16, 16), dtype=_np.uint8))
                payload = webp_io.webp_encode_lossy_gray(
                    px, mb_modes=[[0, 1, 4], [2, 3, 0]]
                )
            elif mid == 14:  # VP8X-wrapped VP8L still (container walk)
                rng = _np.random.default_rng(100 + mid)
                px = rng.integers(0, 256, (8, 13, 3), dtype=_np.uint8)
                payload = webp_io.webp_encode_vp8x(px, alpha_chunk=True)
            elif mid == 15:  # NEAR-DUP: mid 4's exact pixels as BMP
                px = src_arrays[4]
                payload = bmp_io.bmp_encode(px)
            elif mid == 17:  # TIFF: big-endian uncompressed RGB
                from archetype_spark.operators import tiff_io

                rng = _np.random.default_rng(100 + mid)
                px = rng.integers(0, 256, (8, 12, 3), dtype=_np.uint8)
                payload = tiff_io.tiff_encode(px, big_endian=True)
            elif mid == 18:  # TIFF: PackBits gray (runs + literals)
                from archetype_spark.operators import tiff_io

                px = tile_image(mid, 2, 3)
                payload = tiff_io.tiff_encode(px, compression="packbits")
            elif mid == 19:  # TIFF: multi-strip LZW + predictor RGB
                from archetype_spark.operators import tiff_io

                rng = _np.random.default_rng(100 + mid)
                px = rng.integers(0, 256, (10, 9, 3), dtype=_np.uint8)
                payload = tiff_io.tiff_encode(
                    px, compression="lzw", rows_per_strip=4, predictor=True
                )
            else:  # NEAR-DUP: mid 5 with one dhash sample perturbed
                px = src_arrays[5].copy()
                h0, w0 = px.shape[0], px.shape[1]
                y, x = (3 * h0) // 8, (4 * w0) // 9
                # flip AGAINST the original luma so >=1 gradient bit
                # genuinely changes (an extreme value inverts the
                # comparisons a mid-range nudge can leave intact)
                lum = int(px[y, x].astype(_np.int64).sum()) // 3
                v = 255 if lum <= 127 else 0
                px[y, x] = (v, v, v)
                d_a = dhash_independent(px)
                d_b = dhash_independent(src_arrays[5])
                ham = bin((d_a ^ d_b) & ((1 << 64) - 1)).count("1")
                assert 0 < ham <= 3, f"engineered near-dup drifted: {ham}"
                payload = png_io.png_encode(px)
            src_arrays[mid] = px
            with open(os.path.join(building, f"m{mid:02d}.img"), "wb") as fh:
                fh.write(payload)
            rows.append(
                {
                    "media_id": mid,
                    "width": int(px.shape[1]),
                    "height": int(px.shape[0]),
                    "n_px": int(px.size),
                    "pixel_digest": __import__("hashlib")
                    .sha256(_np.ascontiguousarray(px).tobytes())
                    .hexdigest(),
                    "dhash": dhash_independent(px),
                }
            )
        _pq.write_table(
            _pa.Table.from_pylist(rows),
            os.path.join(building, "manifest.parquet"),
        )
        with open(os.path.join(building, "_build_params.json"), "w") as fh:
            _json.dump(expect, fh)
        _swap_slot(idx, building)
    except BaseException:
        _shutil.rmtree(building, ignore_errors=True)
        raise
    return idx


def q121_image_pixel_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-pixel decode, oracle-gated end-to-end: ingest
    the media_pixels fixture files via binaryFile, entropy-decode the
    pixels executor-side (multimodal.image_pixel_stats — baseline +
    progressive JPEG Huffman+IDCT, exact PNG, P6, LZW GIF, BMP,
    lossless + lossy WebP incl. the VP8X extended container), and
    emit each image's dims and pixel-bytes sha256. The oracle reads
    the manifest the GENERATOR wrote (dims + source-array digests) —
    the decode must reproduce the source pixels bit-exactly to
    hash-match."""
    from archetype_spark.sources.io import read_binary_dir

    fdir = _ensure_media_pixels(sf_dir)
    blobs = read_binary_dir(spark, fdir, glob="*.img").select(
        F.regexp_extract("path", r"m(\d+)\.img$", 1)
        .cast("long")
        .alias("media_id"),
        F.col("content").alias("payload"),
    )
    return multimodal.image_pixel_stats(blobs).orderBy("media_id")


def q136_image_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual IMAGE near-dup pairs, oracle-gated end-to-end: the
    media_pixels files decode executor-side through the full codec
    dispatch, hash to the 64-bit dhash (multimodal.image_dhash), and
    pair via 4x16-bit band blocking + a hamming<=3 verify — the
    simhash pigeonhole shape on pixels (<=3 differing bits cannot
    touch all four bands, so banding is pure optimization with FULL
    recall, never the correctness boundary; at scale the band
    equi-join is the only shuffle and it moves 8-byte keys, not
    pixels). The fixture plants a cross-container exact re-encode
    (hamming 0) and a one-sample perturbation (hamming<=3, asserted
    at build); the oracle derives the SAME pairs from the manifest's
    independently-computed hashes, so decode + hash + pairing all sit
    inside the gate."""
    from archetype_spark.sources.io import read_binary_dir

    fdir = _ensure_media_pixels(sf_dir)
    blobs = read_binary_dir(spark, fdir, glob="*.img").select(
        F.regexp_extract("path", r"m(\d+)\.img$", 1)
        .cast("long")
        .alias("media_id"),
        F.col("content").alias("payload"),
    )
    dh = multimodal.image_dhash(blobs).select("media_id", "dhash")
    bands = dh.select(
        "media_id",
        "dhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("dhash", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("media_id", "dhash", "b.band", "b.val")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("media_a"),
            F.col("b.media_id").alias("media_b"),
            F.col("a.dhash").alias("__da"),
            F.col("b.dhash").alias("__db"),
        )
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("__da").bitwiseXOR(F.col("__db"))).cast("int"),
        )
        .filter(F.col("hamming") <= 3)
        .select("media_a", "media_b", "hamming")
    )


def media_dhash_oracle(sf_dir: str, require_live_index: bool = True) -> str | None:
    """q136's conditional oracle: the manifest carries each image's
    dhash computed by an INDEPENDENT plain-loop implementation at
    build time, so DuckDB derives the expected pair set with pure
    bit arithmetic — the Spark side must reproduce it through the
    real decode + numpy hash + banded join."""
    man = os.path.join(
        ann_index.default_index_dir(sf_dir, "media_pixels"), "manifest.parquet"
    )
    if require_live_index and not os.path.isfile(man):
        return None
    return f"""
        SELECT a.media_id AS media_a, b.media_id AS media_b,
               bit_count(xor(a.dhash, b.dhash))::INT AS hamming
        FROM read_parquet('{man}') a, read_parquet('{man}') b
        WHERE a.media_id < b.media_id
          AND bit_count(xor(a.dhash, b.dhash)) <= 3
    """


def media_pixels_oracle(sf_dir: str, require_live_index: bool = True) -> str | None:
    """q121's conditional oracle (the q61 builder pattern): the
    generator-side manifest IS the expected result — static per
    sf_dir once the fixture exists; None before it does (rows-only
    degrade on a cold checkout until entry()'s warm-build runs)."""
    man = os.path.join(
        ann_index.default_index_dir(sf_dir, "media_pixels"), "manifest.parquet"
    )
    if require_live_index and not os.path.isfile(man):
        return None
    return f"""
        SELECT media_id, width::INT AS width, height::INT AS height,
               n_px::BIGINT AS n_px, pixel_digest
        FROM read_parquet('{man}')
        ORDER BY media_id
    """


def _ensure_video_frames(sf_dir: str) -> str:
    """The real-video-decode fixture q137 scans: deterministic VIDEO
    files — two AVIs (an MJPG one whose frames are 8x8-tile images at
    unit DC quantization, bit-exact through T.81 by the q121
    media_pixels argument; a rec_groups-interleaved uncompressed
    BI_RGB DIB one, exact for arbitrary content) and two animated
    GIFs (full-frame; and sub-rect frames with transparency plus
    disposal background/previous) — plus a manifest parquet recording
    each frame's GENERATOR-side ground truth: dims and the sha256 of
    the EXPECTED full-canvas pixel bytes. The GIF expectations come
    from an INDEPENDENT plain-loop compositor (the dhash_independent
    pattern), deliberately not gif_io's numpy path, so a compositing
    bug cannot cancel out. Driver-side build (KB), atomic slot swap,
    build-once."""
    import hashlib as _hashlib
    import json as _json
    import shutil as _shutil
    import uuid as _uuid

    import numpy as _np
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from archetype_spark.operators import avi_io, gif_io

    idx = ann_index.default_index_dir(sf_dir, "video_frames")
    # schema 2: + an MP4 Motion-JPEG clip (v04 — mp4_io walks the full
    #           stsd/stsz/stsc/stco sample table; frames are unit-DC
    #           tiles so T.81 round-trips them bit-exactly), late r12
    expect = {"kind": "video_frames", "schema": 2}
    pfile = os.path.join(idx, "_build_params.json")
    if os.path.exists(pfile):
        try:
            with open(pfile) as fh:
                if _json.load(fh) == expect:
                    return idx
        except (OSError, ValueError):
            pass
    building = os.path.join(
        os.path.dirname(idx), f".building-{_uuid.uuid4().hex}"
    )
    os.makedirs(building, exist_ok=True)
    rows = []

    def record(mid: int, frames) -> None:
        for fi, fr in enumerate(frames):
            rows.append(
                {
                    "media_id": mid,
                    "frame_idx": fi,
                    "width": int(fr.shape[1]),
                    "height": int(fr.shape[0]),
                    "frame_digest": _hashlib.sha256(
                        _np.ascontiguousarray(fr).tobytes()
                    ).hexdigest(),
                }
            )

    def tile_frame(mid: int, fi: int, th: int, tw: int) -> "_np.ndarray":
        vals = _np.array(
            [
                [(41 * mid + 13 * fi + 11 * r + 23 * c + 7) % 251
                 for c in range(tw)]
                for r in range(th)
            ],
            dtype=_np.uint8,
        )
        return _np.kron(vals, _np.ones((8, 8), dtype=_np.uint8))

    def composite_independent(frames, pal, screen, bg_index):
        """Plain-loop GIF compositor — the documented GCE semantics
        re-derived without gif_io (or numpy vector ops)."""
        sw0, sh0 = screen
        canvas = [
            [list(int(v) for v in pal[bg_index]) for _ in range(sw0)]
            for _ in range(sh0)
        ]
        outs = []
        for fr in frames:
            fidx = fr["indices"]
            x, y = fr.get("x", 0), fr.get("y", 0)
            t, d = fr.get("transparent"), fr.get("disposal", 0)
            before = (
                [[list(c) for c in row] for row in canvas] if d == 3 else None
            )
            for r in range(fidx.shape[0]):
                for c in range(fidx.shape[1]):
                    v = int(fidx[r, c])
                    if t is not None and v == t:
                        continue
                    canvas[y + r][x + c] = [int(u) for u in pal[v]]
            outs.append(_np.array(canvas, dtype=_np.uint8))
            if d == 2:
                for r in range(fidx.shape[0]):
                    for c in range(fidx.shape[1]):
                        canvas[y + r][x + c] = [
                            int(u) for u in pal[bg_index]
                        ]
            elif d == 3:
                canvas = before
        return outs

    try:
        # v0: AVI / MJPG — exact by the unit-DC-quant tile argument
        mj = [tile_frame(0, fi, 2, 3) for fi in range(6)]
        with open(os.path.join(building, "v00.vid"), "wb") as fh:
            fh.write(
                avi_io.avi_encode(mj, fps_num=24, codec="MJPG", quality_scale=16)
            )
        record(0, mj)
        # v1: AVI / uncompressed DIB, 'rec '-interleaved layout
        rng = _np.random.default_rng(201)
        db = [
            rng.integers(0, 256, (7, 11, 3), dtype=_np.uint8)
            for _ in range(5)
        ]
        with open(os.path.join(building, "v01.vid"), "wb") as fh:
            fh.write(
                avi_io.avi_encode(db, fps_num=30, codec="DIB", rec_groups=True)
            )
        record(1, db)
        # v2: animated GIF, full-canvas frames
        rng = _np.random.default_rng(202)
        pal2 = rng.integers(0, 256, (16, 3), dtype=_np.uint8)
        g2 = [
            {"indices": rng.integers(0, 16, (9, 13), dtype=_np.uint8),
             "disposal": 1, "delay_cs": 4}
            for _ in range(4)
        ]
        with open(os.path.join(building, "v02.vid"), "wb") as fh:
            fh.write(gif_io.gif_encode_frames(g2, pal2, (13, 9), bg_index=3))
        record(2, composite_independent(g2, pal2, (13, 9), 3))
        # v3: animated GIF, sub-rects + transparency + disposal 2/3
        rng = _np.random.default_rng(203)
        pal3 = rng.integers(0, 256, (8, 3), dtype=_np.uint8)
        g3 = [
            {"indices": rng.integers(0, 8, (10, 14), dtype=_np.uint8),
             "disposal": 1, "delay_cs": 4},
            {"indices": rng.integers(0, 8, (4, 6), dtype=_np.uint8),
             "x": 2, "y": 3, "disposal": 2, "transparent": 5, "delay_cs": 4},
            {"indices": rng.integers(0, 8, (3, 5), dtype=_np.uint8),
             "x": 8, "y": 6, "disposal": 3, "transparent": 0, "delay_cs": 4},
            {"indices": rng.integers(0, 8, (5, 7), dtype=_np.uint8),
             "x": 1, "y": 1, "disposal": 0, "delay_cs": 4},
        ]
        with open(os.path.join(building, "v03.vid"), "wb") as fh:
            fh.write(gif_io.gif_encode_frames(g3, pal3, (14, 10), bg_index=1))
        record(3, composite_independent(g3, pal3, (14, 10), 1))
        # v4: MP4 / Motion-JPEG ('jpeg' sample entries) — exact by the
        # unit-DC-quant tile argument, full ISO-BMFF sample-table walk
        from archetype_spark.operators import mp4_io

        m4 = [tile_frame(4, fi, 2, 2) for fi in range(5)]
        with open(os.path.join(building, "v04.vid"), "wb") as fh:
            fh.write(mp4_io.mp4_encode_mjpeg(m4, fps=24, quality_scale=16))
        record(4, m4)
        _pq.write_table(
            _pa.Table.from_pylist(rows),
            os.path.join(building, "manifest.parquet"),
        )
        with open(os.path.join(building, "_build_params.json"), "w") as fh:
            _json.dump(expect, fh)
        _swap_slot(idx, building)
    except BaseException:
        _shutil.rmtree(building, ignore_errors=True)
        raise
    return idx


def q137_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling, oracle-gated end-to-end: ingest the
    video_frames fixture files via binaryFile, decode every frame
    executor-side (multimodal.video_frame_stats — AVI MJPG through
    the full JPEG codec, AVI uncompressed DIB, animated GIF with GCE
    compositing, and MP4 Motion-JPEG via the full ISO-BMFF sample-
    table walk), sample every 2nd frame, and emit each sampled
    frame's dims and pixel-bytes sha256. The oracle reads the
    manifest the GENERATOR wrote (independent plain-loop compositing
    for the GIFs) filtered to even frame_idx — decode, compositing
    AND the sampling arithmetic all sit inside the gate."""
    from archetype_spark.sources.io import read_binary_dir

    fdir = _ensure_video_frames(sf_dir)
    blobs = read_binary_dir(spark, fdir, glob="*.vid").select(
        F.regexp_extract("path", r"v(\d+)\.vid$", 1)
        .cast("long")
        .alias("media_id"),
        F.col("content").alias("payload"),
    )
    return multimodal.video_frame_stats(blobs, every_n=2).orderBy(
        "media_id", "frame_idx"
    )


def video_frames_oracle(sf_dir: str, require_live_index: bool = True) -> str | None:
    """q137's conditional oracle (the q121 pattern): the generator-
    side manifest IS the expected result, filtered to the sampled
    (even) frame indexes; None before the fixture exists (rows-only
    degrade on a cold checkout until entry()'s warm-build runs)."""
    man = os.path.join(
        ann_index.default_index_dir(sf_dir, "video_frames"), "manifest.parquet"
    )
    if require_live_index and not os.path.isfile(man):
        return None
    return f"""
        SELECT media_id, frame_idx::INT AS frame_idx,
               width::INT AS width, height::INT AS height, frame_digest
        FROM read_parquet('{man}')
        WHERE frame_idx % 2 = 0
        ORDER BY media_id, frame_idx
    """


def _ensure_media_audio(sf_dir: str) -> str:
    """The spectral-analysis fixture q129 scans: deterministic 16-bit
    PCM WAV files — pure sinusoids whose frequency is an EXACT rfft
    bin of the 256-sample frame (freq = k * sr / 256), so the
    dominant bin is known ANALYTICALLY: all signal energy lands in
    bin k; int16 quantization scatters only O(N) noise across the
    rest vs the tone's ~A²N²/4. The manifest records (sample_rate,
    n_frames, dominant_bin) from the generator's MATH — the oracle
    never runs an FFT, so a framing, mixdown, or spectrum bug cannot
    cancel out. Includes a stereo clip (mixdown preserves the tone)
    and a ragged-length clip (tail samples dropped: n_frames is the
    floor). Driver-side build, atomic slot swap."""
    import json as _json
    import shutil as _shutil
    import uuid as _uuid

    import numpy as _np
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    idx = ann_index.default_index_dir(sf_dir, "media_audio")
    # schema 2: two clips arrive FLAC-encoded (flac_io — lossless and
    # CRC+MD5-verified, so the decoded samples are bit-identical to
    # the WAV form and the analytic argument is unchanged), one
    # mono/ragged with fixed-predictor blocks, one stereo mid-side.
    # schema 3: three clips arrive COMPRESSED (audio_codecs — G.711
    #           mu-law, G.711 A-law stereo+ragged, IMA ADPCM): lossy
    #           but deterministic, and the analytic argument still
    #           holds — the codecs' quantization noise is wideband
    #           (worst measured SNR 17 dB at the ADPCM clip's bin)
    #           while the tone's coherent FFT gain adds 10*log10(N/2)
    #           ≈ 21 dB, so the dominant bin wins by >35 dB. Late r12.
    expect = {"kind": "media_audio", "schema": 3, "frame": 256}
    pfile = os.path.join(idx, "_build_params.json")
    if os.path.exists(pfile):
        try:
            with open(pfile) as fh:
                if _json.load(fh) == expect:
                    return idx
        except (OSError, ValueError):
            pass
    building = os.path.join(
        os.path.dirname(idx), f".building-{_uuid.uuid4().hex}"
    )
    os.makedirs(building, exist_ok=True)
    rows = []
    try:
        from archetype_spark.operators import flac_io

        sr, n = 8000, 256
        cases = [  # (bin_k, n_frames, channels, tail_samples, container)
            (3, 4, 1, 0, "wav"),
            (17, 6, 1, 0, "wav"),
            (40, 5, 2, 0, "wav"),
            (97, 8, 1, 100, "wav"),  # ragged tail: dropped by framing
            (120, 7, 1, 0, "wav"),
            (5, 9, 2, 37, "wav"),
            (29, 6, 1, 61, "flac"),  # FLAC mono, ragged, fixed blocks
            (64, 5, 2, 0, "flac"),  # FLAC stereo, mid-side decorrelated
            (11, 5, 1, 0, "ulaw"),  # G.711 mu-law mono
            (33, 4, 2, 25, "alaw"),  # G.711 A-law stereo, ragged tail
            (52, 6, 1, 0, "adpcm"),  # IMA ADPCM mono (worst-SNR bin)
            (21, 5, 2, 0, "adpcm"),  # IMA ADPCM stereo word interleave
        ]
        for mid, (k, nf, ch, tail, container) in enumerate(cases):
            t = _np.arange(nf * n + tail)
            tone = _np.round(
                12000.0 * _np.sin(2 * _np.pi * k * t / n)
            ).astype("<i2")
            pcm = (
                tone
                if ch == 1
                else _np.column_stack([tone, tone]).reshape(-1)
            )
            if container == "wav":
                payload = multimodal.wav_encode_pcm16(pcm, sr, channels=ch)
            elif container == "flac":
                payload = flac_io.flac_encode_pcm16(
                    pcm,
                    sr,
                    channels=ch,
                    block_size=512,
                    stereo_mode="mid-side" if ch == 2 else "independent",
                )
            else:  # G.711 / IMA ADPCM — compressed WAV containers
                from archetype_spark.operators import audio_codecs

                payload = audio_codecs.wav_encode_compressed(
                    pcm,
                    sr,
                    {"ulaw": "ulaw", "alaw": "alaw", "adpcm": "ima_adpcm"}[
                        container
                    ],
                    channels=ch,
                )
            ext = "flac" if container == "flac" else "wav"
            name = f"a{mid:02d}.{ext}"
            with open(os.path.join(building, name), "wb") as fh:
                fh.write(payload)
            rows.append(
                {
                    "media_id": mid,
                    "sample_rate": sr,
                    "n_frames": nf,
                    "dominant_bin": k,
                }
            )
        _pq.write_table(
            _pa.Table.from_pylist(rows),
            os.path.join(building, "manifest.parquet"),
        )
        with open(os.path.join(building, "_build_params.json"), "w") as fh:
            _json.dump(expect, fh)
        _swap_slot(idx, building)
    except BaseException:
        _shutil.rmtree(building, ignore_errors=True)
        raise
    return idx


def q129_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frequency-domain audio analysis, oracle-gated end-to-end:
    binaryFile-ingest the WAV **and FLAC** fixtures (flac_io entropy-
    decodes the compressed clips — rice residuals, fixed predictors,
    mid-side stereo — to the same verified PCM), frame + rfft
    executor-side (multimodal.audio_spectral), emit each clip's frame
    count and dominant spectral bin. The oracle reads the generator
    manifest whose expected values are ANALYTIC (exact-bin sinusoids)
    — the q121 pattern with mathematics instead of a lossless codec
    as the independence argument."""
    from archetype_spark.sources.io import read_binary_dir

    fdir = _ensure_media_audio(sf_dir)
    blobs = read_binary_dir(spark, fdir, glob="a*.*").select(
        F.regexp_extract("path", r"a(\d+)\.(?:wav|flac)$", 1)
        .cast("long")
        .alias("media_id"),
        F.col("content").alias("payload"),
    )
    return multimodal.audio_spectral(blobs, frame_size=256).orderBy(
        "media_id"
    )


def media_audio_oracle(sf_dir: str, require_live_index: bool = True) -> str | None:
    """q129's conditional oracle (the q121/media_pixels pattern): the
    analytically-derived manifest IS the expected result."""
    man = os.path.join(
        ann_index.default_index_dir(sf_dir, "media_audio"), "manifest.parquet"
    )
    if require_live_index and not os.path.isfile(man):
        return None
    return f"""
        SELECT media_id, sample_rate::INT AS sample_rate,
               n_frames::INT AS n_frames, dominant_bin::INT AS dominant_bin
        FROM read_parquet('{man}')
        ORDER BY media_id
    """


def q43_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: synthetic media table -> mapInPandas decode
    (deterministic fake codec; oracle-gated since r3)."""
    media = multimodal.synth_media_from_documents(load(spark, sf_dir, "documents"))
    return multimodal.decode_media(media).orderBy("media_id")


def q44_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints, portable (sha256-prefix) variant so the
    values diff exactly against the DuckDB oracle; the xxhash64 fast
    path shares the same normalization and operator."""
    return textstats.doc_fingerprints(
        load(spark, sf_dir, "documents"), portable=True
    ).orderBy("doc_id")


def q48_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize stage: image-kind payloads through the
    Arrow-batched worker, re-emitted at 224x224. The fake codec's
    output payload is a utf-8 hex digest, surfaced as `payload_hex`
    (string) so the oracle compare is engine-portable — bytes
    canonicalize differently across drivers."""
    media = multimodal.synth_media_from_documents(load(spark, sf_dir, "documents"))
    return (
        multimodal.resize_images(media, width=224, height=224)
        .select(
            "media_id",
            F.decode("payload", "utf-8").alias("payload_hex"),
            "width",
            "height",
        )
        .orderBy("media_id")
    )


def q49_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal 1-to-N frame sampling: every 500th frame of each
    video-kind payload (deterministic fake codec; oracle-gated since
    r3)."""
    media = multimodal.synth_media_from_documents(load(spark, sf_dir, "documents"))
    return multimodal.sample_frames(media, every_n=500).orderBy(
        "media_id", "frame_idx"
    )


def q63_tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF (text-analysis family): smoothed per-(doc, token)
    weights, diffed exactly against the same arithmetic in DuckDB
    (ROUND 6 absorbs libm ln ulps)."""
    return textstats.tf_idf(load(spark, sf_dir, "documents")).orderBy(
        "doc_id", "token"
    )


def q101_simhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION SimHash path (the q65 pattern applied to the
    third dedup family): xxhash64 token-vote fingerprints PERSISTED
    at ingest (ann_index.ensure_simhash), with only the banded
    pigeonhole join + exact bit_count(xor) hamming filter re-paid per
    sweep. q41 benches the portable sha256-prefix family computed
    fully in-flight; this entry tracks what a 100 TB pipeline
    actually runs — the token-vote aggregation (SimHash's expensive
    stage, ~2/3 of q41's cost) becomes a per-doc ingest cost.

    Oracle-gated by index replay (simhash_oracle): xxhash64 has no
    DuckDB counterpart, but the fingerprint table is on-disk DATA
    both engines read — banding is integer shift/mask algebra and
    hamming is bit_count(xor), all replayed in SQL over the very
    same parquet."""
    fps = ann_index.ensure_simhash(
        load(spark, sf_dir, "documents"),
        ann_index.default_index_dir(sf_dir, "simhash_documents"),
        **SIMHASH_INDEX,
    )
    return dedup.simhash_pairs_from_fingerprints(
        fps, max_hamming=3, bands=4, hash_family="xxhash64", id_col="id"
    )


def simhash_oracle(sf_dir: str, require_live_index: bool = True) -> str | None:
    """DuckDB SQL replicating q101's banded sweep over the SAME
    persisted xxhash64 fingerprint parquet the Spark query probes
    (the q65/q61 index-replay pattern). Bands are (simhash >> 16b) &
    0xffff for b in 0..3; candidates share any band; the gate is
    bit_count(xor) <= 3 — pure integer algebra, engine-portable.
    Returns None when the index isn't on disk yet (rows-only degrade,
    as q61)."""
    idx = ann_index.default_index_dir(sf_dir, "simhash_documents")
    if require_live_index and not os.path.isdir(idx):
        return None
    bands, width = 4, 16
    return f"""
        WITH fps AS (
          SELECT id, simhash
          FROM read_parquet('{idx}/fingerprints/*.parquet')
        ),
        banded AS (
          SELECT id, simhash, b AS band_idx,
                 (simhash >> (b * {width})) & {(1 << width) - 1} AS bv
          FROM fps, unnest(generate_series(0, {bands - 1})) AS u(b)
        ),
        cand AS (
          SELECT DISTINCT a.id AS doc_id, b.id AS other_doc_id,
                          a.simhash AS fa, b.simhash AS fb
          FROM banded a JOIN banded b
            ON a.band_idx = b.band_idx AND a.bv = b.bv AND a.id < b.id
        )
        SELECT doc_id, other_doc_id,
               CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
        FROM cand
        WHERE bit_count(xor(fa, fb)) <= 3
        ORDER BY doc_id, other_doc_id
    """


def _swap_slot(idx: str, building: str) -> None:
    """Atomic-enough slot swap (the _write_index discipline): rename
    the stale slot ASIDE, rename the new build in, then delete the
    old copy — a concurrent reader sees the complete old slot or the
    complete new one, never an absent/partial slot. If the second
    rename fails, the old slot is restored before re-raising, so a
    failed swap can never leave the slot empty."""
    import shutil as _shutil
    import uuid as _uuid

    old = None
    if os.path.lexists(idx):
        old = os.path.join(os.path.dirname(idx), f".old-{_uuid.uuid4().hex}")
        os.rename(idx, old)
    try:
        os.rename(building, idx)
    except BaseException:
        if old is not None and not os.path.lexists(idx):
            os.rename(old, idx)
        raise
    if old is not None:
        _shutil.rmtree(old, ignore_errors=True)


def _ensure_lake_documents(
    spark: SparkSession, sf_dir: str, kind: str, build, variant: int = 0
) -> str:
    """Shared scaffold for the lake-format query fixtures (q104
    Delta, q105 Iceberg): documents projected to (doc_id, lang,
    n_chars), built ONCE per corpus by `build(base_df, table_path)`
    into a dot-prefixed sibling dir and swapped into the slot
    atomically (the ann_index temp-dir discipline) — a crash
    mid-build leaves only invisible debris, and a concurrent reader
    either sees the complete old slot or none at all (the oracle
    degrades to rows-only, never reads a half-written history).
    Freshness keyed on the corpus fingerprint, like the ANN index
    builders; the driver regenerates testdata between rounds."""
    import json as _json
    import shutil as _shutil
    import uuid as _uuid

    docs = load(spark, sf_dir, "documents")
    idx = ann_index.default_index_dir(sf_dir, kind)
    table = os.path.join(idx, "table")
    expect = {
        "kind": kind,
        # (doc_id, lang, n_chars) by lang; bump to rebuild.
        # v2: r9 writers stamp true record counts in Iceberg
        # manifests — q109's metadata-only COUNT requires a fixture
        # built by the post-r9 writer.
        # v3: r12 equality deletes write under an UNPARTITIONED spec
        # (table-global per the Iceberg spec); the strict-scoping
        # reader treats a partitioned-spec all-null-partition delete
        # (the pre-r12 form) as scoped-to-null-partition, so
        # partitioned fixtures built by the old writer must rebuild.
        # `variant` is the PER-KIND history bump (folded in so other
        # kinds' cached params stay byte-identical): hudi_mesh=1 as
        # of r15 (the mid-mesh delete).
        "schema": 3 + variant,
        "corpus": ann_index.corpus_fingerprint(docs, "doc_id", "text"),
    }
    pfile = os.path.join(idx, "_build_params.json")
    if os.path.exists(pfile):
        try:
            with open(pfile) as fh:
                if _json.load(fh) == expect:
                    return table
        except (OSError, ValueError):
            pass
    building = os.path.join(
        os.path.dirname(idx), f".building-{_uuid.uuid4().hex}"
    )
    os.makedirs(building, exist_ok=True)
    base = docs.select(
        "doc_id", "lang", F.length("text").cast("bigint").alias("n_chars")
    )
    try:
        build(base, os.path.join(building, "table"))
        with open(os.path.join(building, "_build_params.json"), "w") as fh:
            _json.dump(expect, fh)
        _swap_slot(idx, building)
    except BaseException:
        _shutil.rmtree(building, ignore_errors=True)
        raise
    return table


def _ensure_delta_documents(spark: SparkSession, sf_dir: str) -> str:
    """The Delta table q104 scans: a three-commit history — two
    ingest appends (even then odd doc_ids) and a compaction overwrite
    of the full set. The overwrite matters: any log-UNAWARE reader (a
    bare parquet glob) sees every row twice, so matching the oracle
    proves the snapshot replay, not just the parquet bytes."""
    from archetype_spark.sources.delta import write_delta

    def build(base: DataFrame, btable: str) -> None:
        write_delta(
            base.filter(F.col("doc_id") % 2 == 0), btable, partition_by=["lang"]
        )
        write_delta(base.filter(F.col("doc_id") % 2 == 1), btable, mode="append")
        write_delta(base, btable, mode="overwrite")

    return _ensure_lake_documents(spark, sf_dir, "delta_documents", build)


def q104_delta_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake-format source parity: per-lang aggregates over a Delta
    table read by the protocol-native log reader (sources/delta.py) —
    the latest snapshot (post-compaction) AND the version-0 time
    travel snapshot (the first ingest batch). The build history makes
    the log load-bearing (see _ensure_delta_documents); the oracle
    replays the same log in pure DuckDB SQL (read_json_auto over
    _delta_log + a filename-joined parquet glob), so the two engines
    resolve the snapshot independently."""
    from archetype_spark.sources.delta import read_delta

    table = _ensure_delta_documents(spark, sf_dir)

    def agg(df: DataFrame, snap: str) -> DataFrame:
        return (
            df.groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
            )
            .withColumn("snap", F.lit(snap))
        )

    return (
        agg(read_delta(spark, table), "latest")
        .unionByName(agg(read_delta(spark, table, version=0), "v0"))
        .select("snap", "lang", "n_docs", "sum_chars")
    )


def delta_oracle(sf_dir: str, require_live_index: bool = True) -> str | None:
    """DuckDB replay of the SAME Delta log q104's reader resolves:
    adds-minus-removes over read_json_auto('_delta_log/*.json') gives
    the active file set (commit-0 adds give the v0 set), semi-joined
    against a filename-tagged hive-partitioned parquet glob. Static
    per sf_dir — no build-time file list — so it stays correct across
    rebuilds, like the q61/q65/q101 index-replay oracles. None when
    the table isn't on disk yet (rows-only degrade)."""
    table = os.path.join(
        ann_index.default_index_dir(sf_dir, "delta_documents"), "table"
    )
    if require_live_index and not os.path.isdir(
        os.path.join(table, "_delta_log")
    ):
        return None
    return f"""
        WITH log AS (
          SELECT "add", "remove", filename
          FROM read_json_auto('{table}/_delta_log/*.json',
                              format='newline_delimited', filename=1)
        ),
        adds AS (
          SELECT "add".path AS path, filename FROM log
          WHERE "add" IS NOT NULL AND "add".path IS NOT NULL
        ),
        rms AS (
          SELECT "remove".path AS path FROM log
          WHERE "remove" IS NOT NULL AND "remove".path IS NOT NULL
        ),
        active AS (
          SELECT path FROM adds
          WHERE path NOT IN (SELECT path FROM rms)
        ),
        v0 AS (
          SELECT path FROM adds
          WHERE filename LIKE '%00000000000000000000.json'
        ),
        raw AS (
          SELECT lang, n_chars, replace(filename, '{table}/', '') AS rel
          FROM read_parquet('{table}/*/*.parquet',
                            hive_partitioning=1, filename=1)
        )
        SELECT 'latest' AS snap, lang, count(*)::BIGINT AS n_docs,
               sum(n_chars)::BIGINT AS sum_chars
        FROM raw JOIN active ON raw.rel = active.path GROUP BY lang
        UNION ALL
        SELECT 'v0' AS snap, lang, count(*)::BIGINT AS n_docs,
               sum(n_chars)::BIGINT AS sum_chars
        FROM raw JOIN v0 ON raw.rel = v0.path GROUP BY lang
    """


def _ensure_delta_dv_documents(spark: SparkSession, sf_dir: str) -> str:
    """The deletion-vector Delta table q119 scans: one ingest commit
    (repartitioned by lang so each file holds a whole language — row-
    level deletes then MUST use vectors, not whole-file removes),
    followed by TWO DELETE WHERE commits with SQL-reproducible
    predicates (n_chars % 7 = 3, then n_chars % 11 = 5 — the second
    MERGES into the first's vectors). The reader has to parse the
    Z85 + portable-Roaring descriptors and anti-join the positions to
    match; the oracle recomputes ground truth from the SOURCE
    documents view with the same predicates — fully independent of
    sources/dv.py."""
    from archetype_spark.sources.delta import delete_where_delta, write_delta

    def build(base: DataFrame, btable: str) -> None:
        write_delta(
            base.repartition("lang"), btable, partition_by=["lang"]
        )
        delete_where_delta(spark, btable, "n_chars % 7 = 3")
        delete_where_delta(spark, btable, "n_chars % 11 = 5")

    return _ensure_lake_documents(spark, sf_dir, "delta_dv_documents", build)


def q119_delta_deletes_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level deletes on a modern Delta table (reader version 3 /
    deletionVectors): per-lang count+sum over the latest snapshot
    (two merged DELETE WHERE vectors applied) and the v0 time-travel
    snapshot (pre-delete, vectors ignored). Exactness here means the
    bitmap decode and the (file, row position) anti-join dropped
    EXACTLY the predicate rows — the oracle re-derives both snapshots
    from the source documents view in pure SQL."""
    from archetype_spark.sources.delta import read_delta

    table = _ensure_delta_dv_documents(spark, sf_dir)

    def agg(df: DataFrame, snap: str) -> DataFrame:
        return (
            df.groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
            )
            .withColumn("snap", F.lit(snap))
        )

    return (
        agg(read_delta(spark, table), "latest")
        .unionByName(agg(read_delta(spark, table, version=0), "v0"))
        .select("snap", "lang", "n_docs", "sum_chars")
    )


def _ensure_iceberg_dv_documents(spark: SparkSession, sf_dir: str) -> str:
    """The v2 position-delete Iceberg table q120 scans, with a
    history that makes SEQUENCE SCOPING load-bearing: ingest the even
    doc_ids, DELETE WHERE n_chars % 5 = 2 (sequence 1), append the
    odd doc_ids (sequence 2 — the older delete must NOT touch them
    even where its predicate matches), then DELETE WHERE
    n_chars % 9 = 4 (sequence 3, reaches everything). The oracle
    re-derives the surviving set from the source documents view with
    the same cohort/predicate algebra — independent of the manifest
    walk and the position-join."""
    from archetype_spark.sources.iceberg import (
        delete_where_iceberg,
        write_iceberg,
    )

    def build(base: DataFrame, btable: str) -> None:
        even = base.filter(F.col("doc_id") % 2 == 0)
        odd = base.filter(F.col("doc_id") % 2 == 1)
        write_iceberg(
            even.repartition("lang"), btable, partition_by=["lang"]
        )
        delete_where_iceberg(spark, btable, "n_chars % 5 = 2")
        write_iceberg(odd.repartition("lang"), btable, mode="append")
        delete_where_iceberg(spark, btable, "n_chars % 9 = 4")

    return _ensure_lake_documents(spark, sf_dir, "iceberg_dv_documents", build)


def q120_iceberg_deletes_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level deletes on a format-v2 Iceberg table: per-lang
    count+sum over the latest snapshot (two position-delete files
    applied with sequence-number scoping — rows appended between the
    deletes survive the older one even where its predicate matches)
    and the first-snapshot time travel (pre-delete even cohort).
    Oracle: pure SQL over the source documents view."""
    from archetype_spark.sources.iceberg import read_iceberg, snapshots_iceberg

    table = _ensure_iceberg_dv_documents(spark, sf_dir)
    first = snapshots_iceberg(table)[0]["snapshot-id"]

    def agg(df: DataFrame, snap: str) -> DataFrame:
        return (
            df.groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
            )
            .withColumn("snap", F.lit(snap))
        )

    return (
        agg(read_iceberg(spark, table), "latest")
        .unionByName(agg(read_iceberg(spark, table, first), "v0"))
        .select("snap", "lang", "n_docs", "sum_chars")
    )


def _ensure_iceberg_cdc_documents(spark: SparkSession, sf_dir: str) -> str:
    """The EQUALITY-delete Iceberg table q122 scans, with a history
    that makes the spec's STRICT sequence scoping (`>`, not the
    position-delete `>=`) load-bearing twice over: ingest the even
    doc_ids, delete-BY-KEY the evens with n_chars % 5 = 2 (sequence
    1, a value anti-join — no positions anywhere), re-append the odd
    cohort PLUS the deleted keys whose doc_id % 4 = 0 (sequence 2 —
    identical key VALUES, so a `>=` reader or an unscoped one would
    wrongly kill the re-inserts), then UPSERT the odd docs with
    n_chars % 7 = 3 re-langed to 'xx' (sequence 3: ONE commit holding
    the equality delete AND its replacement rows — the inserts escape
    their own delete only under strict scoping). The oracle re-derives
    the surviving set from the source documents view with the same
    cohort algebra — independent of manifests, delete files, and the
    anti-joins."""
    from archetype_spark.sources.iceberg import (
        delete_by_key_iceberg,
        upsert_by_key_iceberg,
        write_iceberg,
    )

    def build(base: DataFrame, btable: str) -> None:
        even = base.filter(F.col("doc_id") % 2 == 0)
        odd = base.filter(F.col("doc_id") % 2 == 1)
        write_iceberg(
            even.repartition("lang"), btable, partition_by=["lang"]
        )
        doomed = even.filter(F.col("n_chars") % 5 == 2)
        delete_by_key_iceberg(spark, btable, doomed.select("doc_id"))
        resurrected = doomed.filter(F.col("doc_id") % 4 == 0)
        write_iceberg(
            odd.unionByName(resurrected).repartition("lang"),
            btable,
            mode="append",
        )
        upsert_by_key_iceberg(
            spark,
            btable,
            odd.filter(F.col("n_chars") % 7 == 3).withColumn(
                "lang", F.lit("xx")
            ),
            ["doc_id"],
        )

    return _ensure_lake_documents(spark, sf_dir, "iceberg_cdc_documents", build)


def q122_iceberg_cdc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality deletes + CDC upsert on a format-v2 Iceberg table:
    per-lang count+sum over the latest snapshot (a delete-by-key, a
    re-append of deleted key values that must SURVIVE under strict
    sequence scoping, and a one-commit upsert whose inserts must
    escape their own delete) and the first-snapshot time travel.
    Oracle: pure SQL over the source documents view."""
    from archetype_spark.sources.iceberg import read_iceberg, snapshots_iceberg

    table = _ensure_iceberg_cdc_documents(spark, sf_dir)
    first = snapshots_iceberg(table)[0]["snapshot-id"]

    def agg(df: DataFrame, snap: str) -> DataFrame:
        return (
            df.groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
            )
            .withColumn("snap", F.lit(snap))
        )

    return (
        agg(read_iceberg(spark, table), "latest")
        .unionByName(agg(read_iceberg(spark, table, first), "v0"))
        .select("snap", "lang", "n_docs", "sum_chars")
    )


def _ensure_delta_mapped_documents(spark: SparkSession, sf_dir: str) -> str:
    """The COLUMN-MAPPED Delta table q124 scans, with a history that
    makes every mapping rule load-bearing: ingest the even doc_ids
    partitioned by lang (v0, physical layout pinned), upgrade to
    mapping mode 'name' (v1), RENAME THE PARTITION COLUMN lang ->
    language (v2 — metadata-only: the hive dirs and every committed
    partitionValues key keep speaking the physical name 'lang'),
    append the odd cohort under the new logical name (v3 — the writer
    must restage under physical names or the old and new files
    diverge), then DELETE WHERE n_chars % 6 = 1 (v4 — deletion
    vectors over a mapped table). The oracle re-derives latest AND
    the pre-mapping v0 snapshot from the source documents view."""
    from archetype_spark.sources import (
        delete_where_delta,
        enable_column_mapping_delta,
        rename_column_delta,
        write_delta,
    )

    def build(base: DataFrame, btable: str) -> None:
        even = base.filter(F.col("doc_id") % 2 == 0)
        odd = base.filter(F.col("doc_id") % 2 == 1)
        write_delta(
            even.repartition("lang"), btable, partition_by=["lang"]
        )
        enable_column_mapping_delta(btable)
        rename_column_delta(btable, "lang", "language")
        write_delta(
            odd.withColumnRenamed("lang", "language").repartition(
                "language"
            ),
            btable,
            mode="append",
            partition_by=["language"],
        )
        delete_where_delta(spark, btable, "n_chars % 6 = 1")

    return _ensure_lake_documents(
        spark, sf_dir, "delta_mapped_documents", build
    )


def q124_delta_mapped_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column mapping end-to-end: per-language count+sum over the
    latest snapshot of a mapped Delta table (partition column RENAMED
    mid-history, post-rename append, deletion-vector delete on top)
    and the pre-mapping v0 time travel (old schema, old column name —
    aliased to the new one for the union). Wrong physical-name
    resolution misreads every pre-rename file as NULLs; a
    partitionValues key under the wrong name breaks the per-language
    split — both hash-mismatch here."""
    from archetype_spark.sources import read_delta

    table = _ensure_delta_mapped_documents(spark, sf_dir)

    def agg(df: DataFrame, lang_col: str, snap: str) -> DataFrame:
        return (
            df.groupBy(F.col(lang_col).alias("language"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
            )
            .withColumn("snap", F.lit(snap))
        )

    return (
        agg(read_delta(spark, table), "language", "latest")
        .unionByName(agg(read_delta(spark, table, version=0), "lang", "v0"))
        .select("snap", "language", "n_docs", "sum_chars")
    )


def _ensure_iceberg_mirror_documents(spark: SparkSession, sf_dir: str) -> str:
    """The Iceberg MIRROR of the q104 Delta table, built by
    cross-format CDC replication (sources/replicate.py): the source's
    three commits (even append, odd append, compaction overwrite)
    replay through read_delta_changes -> latest-wins -> ONE
    upsert-by-key v2 snapshot per sync. The overwrite commit re-adds
    every row, so a latest-wins or equality-delete bug DOUBLES the
    mirror — q126's per-lang counts catch it in the hash gate."""
    from archetype_spark.sources.replicate import replicate

    src = _ensure_delta_documents(spark, sf_dir)

    def build(base: DataFrame, btable: str) -> None:
        replicate(spark, src, btable, "delta", "iceberg", ["doc_id"])

    return _ensure_lake_documents(
        spark, sf_dir, "iceberg_mirror_documents", build
    )


def q126_lake_replication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous lake replication end-to-end: the Delta source's
    full commit history lands in an Iceberg mirror at O(changes) per
    sync (CDC out of the Delta log, equality-delete CDC upsert into
    Iceberg, exactly-once via the mirror's table-property high-water
    mark); the per-lang aggregate over the MIRROR must equal the
    source-view recompute. The source history ends in a compaction
    overwrite that re-adds every row — any duplicate from a broken
    latest-wins cut or unapplied equality delete doubles a count."""
    from archetype_spark.sources.iceberg import read_iceberg

    table = _ensure_iceberg_mirror_documents(spark, sf_dir)
    return (
        read_iceberg(spark, table)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .select("lang", "n_docs", "sum_chars")
    )


def _ensure_delta_mirror_documents(spark: SparkSession, sf_dir: str) -> str:
    """The DELTA mirror of the q122 Iceberg CDC table, built by the
    REVERSE replication direction (Iceberg -> Delta `replicate`): the
    source's four snapshots — v1 ingest (seq 0 after upgrade),
    equality delete, re-append with resurrected keys, one-commit
    upsert — replay through the derived changelog
    (equality_via_prior_snapshot recovers the value-form kills) ->
    sequence-ordered latest-wins -> ONE deletion-vector CDC commit,
    exactly-once via the mirror's txn mark. Every risky seam is
    load-bearing: a missed equality recovery leaves dead rows, a
    broken same-snapshot ranking records upserted keys as deleted,
    and a re-applied batch doubles counts q138's hash gate catches."""
    from archetype_spark.sources.replicate import replicate

    src = _ensure_iceberg_cdc_documents(spark, sf_dir)

    def build(base: DataFrame, btable: str) -> None:
        replicate(spark, src, btable, "iceberg", "delta", ["doc_id"])

    return _ensure_lake_documents(
        spark, sf_dir, "delta_mirror_documents", build
    )


def q138_delta_mirror_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous lake replication, REVERSE direction, end-to-end:
    the Iceberg source's full snapshot history (equality deletes,
    resurrection re-appends, a one-commit upsert) lands in a Delta
    mirror at O(changes) per sync (derived changelog out of the
    Iceberg manifests, deletion-vector CDC apply into Delta,
    exactly-once via the protocol's txn mark); the per-lang aggregate
    over the MIRROR must equal the q122 cohort algebra recomputed
    from the source documents view."""
    from archetype_spark.sources.delta import read_delta

    table = _ensure_delta_mirror_documents(spark, sf_dir)
    return (
        read_delta(spark, table)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .select("lang", "n_docs", "sum_chars")
    )


def _ensure_hudi_documents(spark: SparkSession, sf_dir: str) -> str:
    """The Hudi COPY_ON_WRITE table q139 scans — the q122 history
    shape on the third lake format: ingest the even doc_ids (two file
    groups per lang partition), DELETE-by-key the evens with
    n_chars % 5 = 2 (copy-on-write group rewrites; a group losing
    every row gets an empty shadowing base file), INSERT the odd
    cohort plus the deleted keys with doc_id % 4 = 0 (new file groups
    — identical key VALUES as the deleted rows, so a reader that
    resolves stale slices or lists directories resurrects the old
    copies), then UPSERT the odd docs with n_chars % 7 = 3 re-langed
    to 'xx' (group rewrites + the re-lang moves rows ACROSS partition
    dirs while their group stays put — Hudi partitions are physical
    layout, not row identity here). The oracle re-derives the
    surviving set from the source documents view with the same cohort
    algebra — independent of the timeline, slices, and joins."""
    from archetype_spark.sources.hudi import (
        delete_by_key_hudi,
        upsert_hudi,
        write_hudi,
    )

    def build(base: DataFrame, btable: str) -> None:
        even = base.filter(F.col("doc_id") % 2 == 0)
        odd = base.filter(F.col("doc_id") % 2 == 1)
        write_hudi(
            even, btable, record_key="doc_id", partition_by="lang", buckets=2
        )
        doomed = even.filter(F.col("n_chars") % 5 == 2)
        delete_by_key_hudi(spark, btable, doomed.select("doc_id"))
        resurrected = doomed.filter(F.col("doc_id") % 4 == 0)
        write_hudi(
            odd.unionByName(resurrected), btable,
            record_key="doc_id", mode="insert",
        )
        upsert_hudi(
            spark,
            btable,
            odd.filter(F.col("n_chars") % 7 == 3).withColumn(
                "lang", F.lit("xx")
            ),
        )

    return _ensure_lake_documents(spark, sf_dir, "hudi_documents", build)


def q139_hudi_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi COPY_ON_WRITE snapshot + time travel end-to-end: the
    'latest' cohort aggregates the newest file slice per group
    (timeline-resolved — obsolete base files and the resurrection
    bait never open), the 'v0' cohort time-travels to the first
    commit. The oracle re-derives both from the source documents
    view, so slice resolution, copy-on-write rewrites, empty-file
    shadowing and the timeline cut all sit inside the hash gate."""
    from archetype_spark.sources.hudi import hudi_timeline, read_hudi

    table = _ensure_hudi_documents(spark, sf_dir)
    first = hudi_timeline(table)[0]

    def agg(df: DataFrame, snap: str) -> DataFrame:
        return (
            df.groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
            )
            .select(F.lit(snap).alias("snap"), "lang", "n_docs", "sum_chars")
        )

    return agg(read_hudi(spark, table), "latest").unionByName(
        agg(read_hudi(spark, table, as_of=first), "v0")
    )


def q140_tri_lake_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE lake formats, one Catalyst plan, one mutated state: the
    reverse-replicated Delta mirror (deletion-vector masks + txn
    marks), the Iceberg CDC table (equality deletes under strict
    sequence scoping) and the Hudi copy-on-write table (timeline-
    resolved file slices) each hold the SAME final state — the q122
    cohort history applied through three completely different
    metadata stacks. The per-lang three-way join is the cross-format
    consistency proof: every count column must agree with the others
    AND with the oracle's source-view recompute. Join sides are
    aggregate-tiny and explicitly broadcast — no shuffle join at any
    corpus scale."""
    from archetype_spark.sources.delta import read_delta
    from archetype_spark.sources.hudi import read_hudi
    from archetype_spark.sources.iceberg import read_iceberg

    dm = (
        read_delta(spark, _ensure_delta_mirror_documents(spark, sf_dir))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("delta_docs"),
            F.sum("n_chars").cast("bigint").alias("delta_chars"),
        )
    )
    ic = (
        read_iceberg(spark, _ensure_iceberg_cdc_documents(spark, sf_dir))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("iceberg_docs"))
    )
    hu = (
        read_hudi(spark, _ensure_hudi_documents(spark, sf_dir))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("hudi_docs"))
    )
    return (
        dm.join(F.broadcast(ic), "lang")
        .join(F.broadcast(hu), "lang")
        .select("lang", "delta_docs", "iceberg_docs", "hudi_docs", "delta_chars")
    )


def _ensure_hudi_mor_documents(spark: SparkSession, sf_dir: str) -> str:
    """The Hudi MERGE_ON_READ table q141/q142 read — the fourth lake
    face: ingest the even doc_ids as base files (two file groups per
    lang partition, a deltacommit — MOR's convention), DELETE-by-key
    the evens with n_chars % 5 = 2 (a DELETE log block per affected
    slice, no base rewrite), bulk-INSERT the odd cohort (new base-file
    groups), then UPSERT the surviving evens with n_chars % 7 = 3
    re-langed to 'xx' (an AVRO-DATA log block per affected slice —
    the update predicate excludes deleted keys, so no block order
    ambiguity). Affected slices end the history with base + two log
    files (the delete block and the update block), exercising the
    multi-block merge chain; nothing is compacted, so every read pays
    the real log-merge path."""
    from archetype_spark.sources.hudi import (
        delete_by_key_hudi,
        upsert_hudi,
        write_hudi,
    )

    def build(base: DataFrame, btable: str) -> None:
        even = base.filter(F.col("doc_id") % 2 == 0)
        odd = base.filter(F.col("doc_id") % 2 == 1)
        write_hudi(
            even, btable, record_key="doc_id", partition_by="lang",
            buckets=2, table_type="MERGE_ON_READ",
        )
        delete_by_key_hudi(
            spark, btable,
            even.filter(F.col("n_chars") % 5 == 2).select("doc_id"),
        )
        write_hudi(odd, btable, record_key="doc_id", mode="insert")
        upsert_hudi(
            spark,
            btable,
            even.filter(
                (F.col("n_chars") % 5 != 2) & (F.col("n_chars") % 7 == 3)
            ).withColumn("lang", F.lit("xx")),
        )

    return _ensure_lake_documents(spark, sf_dir, "hudi_mor_documents", build)


def q141_hudi_mor_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi MERGE_ON_READ snapshot + time travel ACROSS the log
    chain: 'latest' merges base files + delete blocks + avro-data
    update blocks per file slice (newest record version wins,
    executor-side log parsing, only log-bearing groups shuffle);
    'mid' cuts the timeline at the delete instant — the delete block
    applies but the later update block and the odd inserts must not;
    'v0' predates every log. The oracle re-derives all three cohorts
    from the source documents view, so block framing, merge order,
    tombstoning and the chain truncation all sit inside the hash
    gate. Parity: Hudi MOR snapshot/read-optimized queries
    (hudi.apache.org Table & Query Types); the reference's connector
    tier reads whatever the format ships."""
    from archetype_spark.sources.hudi import hudi_timeline, read_hudi

    table = _ensure_hudi_mor_documents(spark, sf_dir)
    line = hudi_timeline(table)

    def agg(df: DataFrame, snap: str) -> DataFrame:
        return (
            df.groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
            )
            .select(F.lit(snap).alias("snap"), "lang", "n_docs", "sum_chars")
        )

    return (
        agg(read_hudi(spark, table), "latest")
        .unionByName(agg(read_hudi(spark, table, as_of=line[1]), "mid"))
        .unionByName(agg(read_hudi(spark, table, as_of=line[0]), "v0"))
    )


def q142_hudi_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi INCREMENTAL read (read_hudi_changes): the rows upserted
    by each instant of the MOR fixture's timeline, keyed by commit
    ordinal — seq 0 the even ingest, seq 2 the odd insert, seq 3 the
    re-lang update blocks (parsed from the avro log files); seq 1,
    the delete deltacommit, contributes NO rows (incremental =
    upserts only, the real incremental-relation semantics). Cost
    O(new data): only the files each instant wrote are opened, and
    rewrite survivors are excluded by their preserved
    _hoodie_commit_time. Replay-idempotent by construction — the
    driver's repeated runs hash identically."""
    from archetype_spark.sources.hudi import hudi_timeline, read_hudi_changes

    table = _ensure_hudi_mor_documents(spark, sf_dir)
    seq = {inst: i for i, inst in enumerate(hudi_timeline(table))}
    mapping = F.create_map(
        *[x for inst, i in seq.items() for x in (F.lit(inst), F.lit(i))]
    )
    return (
        read_hudi_changes(spark, table)
        .withColumn("commit_seq", mapping[F.col("_commit_instant")])
        .groupBy("commit_seq", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .select("commit_seq", "lang", "n_docs", "sum_chars")
    )


def q143_hudi_read_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi's SECOND MOR query type, contrasted against the first on
    one table: 'ro' reads base files only (read-optimized — columnar
    latency, staleness bounded by the last compaction; the q141
    fixture never compacts, so every log delete/update is invisible),
    'rt' is the real-time snapshot through the log merge. The oracle
    derives both from the source view, so the DIFFERENCE between the
    cohorts — exactly the un-compacted delete + update blocks — is
    hash-gated: an RO face that accidentally merged logs, or a
    snapshot face that dropped them, each collapse the two cohorts.
    Parity: hudi.apache.org Table & Query Types (read-optimized vs
    snapshot queries)."""
    from archetype_spark.sources.hudi import read_hudi

    table = _ensure_hudi_mor_documents(spark, sf_dir)

    def agg(df: DataFrame, face: str) -> DataFrame:
        return (
            df.groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
            )
            .select(F.lit(face).alias("face"), "lang", "n_docs", "sum_chars")
        )

    return agg(read_hudi(spark, table, read_optimized=True), "ro").unionByName(
        agg(read_hudi(spark, table), "rt")
    )


def _ensure_hudi_clustered_documents(spark: SparkSession, sf_dir: str) -> str:
    """The CLUSTERED Hudi table q144 scans: ingest the full corpus
    copy-on-write (two file groups per lang partition), DELETE-by-key
    n_chars % 5 = 2 (group rewrites), CLUSTER (cluster_hudi — a
    replacecommit rewriting every partition's groups down to one,
    naming the replaced groups), then UPSERT the surviving
    n_chars % 7 = 3 re-langed to 'xx' AFTER the clustering — the
    update must resolve the NEW groups (rows re-stamped with fresh
    file names at cluster time; a reader or group-resolver still
    holding replaced groups mis-routes it)."""
    from archetype_spark.sources.hudi import (
        cluster_hudi,
        delete_by_key_hudi,
        upsert_hudi,
        write_hudi,
    )

    def build(base: DataFrame, btable: str) -> None:
        write_hudi(
            base, btable, record_key="doc_id", partition_by="lang", buckets=2
        )
        delete_by_key_hudi(
            spark, btable,
            base.filter(F.col("n_chars") % 5 == 2).select("doc_id"),
        )
        cluster_hudi(spark, btable, buckets=1)
        upsert_hudi(
            spark,
            btable,
            base.filter(
                (F.col("n_chars") % 5 != 2) & (F.col("n_chars") % 7 == 3)
            ).withColumn("lang", F.lit("xx")),
        )

    return _ensure_lake_documents(
        spark, sf_dir, "hudi_clustered_documents", build
    )


def q144_hudi_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi CLUSTERING (the replacecommit action) end-to-end:
    'latest' resolves only the clustered groups (replaced-group
    exclusion) WITH the post-cluster upsert applied — proving upserts
    route to the new groups; 'pre' time-travels to the instant BEFORE
    the replacecommit, where the original (since-replaced) groups
    must still resolve; 'v0' is the ingest. The oracle recomputes all
    three cohorts from the source view, so exclusion, pre-replace
    resolution and post-cluster group routing are all hash-gated."""
    from archetype_spark.sources.hudi import hudi_timeline, read_hudi

    table = _ensure_hudi_clustered_documents(spark, sf_dir)
    line = hudi_timeline(table)

    def agg(df: DataFrame, snap: str) -> DataFrame:
        return (
            df.groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
            )
            .select(F.lit(snap).alias("snap"), "lang", "n_docs", "sum_chars")
        )

    return (
        agg(read_hudi(spark, table), "latest")
        .unionByName(agg(read_hudi(spark, table, as_of=line[1]), "pre"))
        .unionByName(agg(read_hudi(spark, table, as_of=line[0]), "v0"))
    )


def _ensure_hudi_cleaned_documents(spark: SparkSession, sf_dir: str) -> str:
    """The CLEANED Hudi table q145 scans: ingest the full corpus
    copy-on-write (two groups per lang partition), DELETE-by-key
    n_chars % 5 = 2 (group rewrites — the ingest slices become
    obsolete), UPSERT the survivors with n_chars % 7 = 3 re-langed to
    'xx' (rewrites again), then CLEAN with keep_last=2 — every base
    file only the ingest snapshot could reach physically unlinks
    under a .clean record. The retained reads must not move by a
    row."""
    from archetype_spark.sources.hudi import (
        clean_hudi,
        delete_by_key_hudi,
        upsert_hudi,
        write_hudi,
    )

    def build(base: DataFrame, btable: str) -> None:
        write_hudi(
            base, btable, record_key="doc_id", partition_by="lang", buckets=2
        )
        delete_by_key_hudi(
            spark, btable,
            base.filter(F.col("n_chars") % 5 == 2).select("doc_id"),
        )
        upsert_hudi(
            spark,
            btable,
            base.filter(
                (F.col("n_chars") % 5 != 2) & (F.col("n_chars") % 7 == 3)
            ).withColumn("lang", F.lit("xx")),
        )
        clean_hudi(btable, keep_last=2)

    return _ensure_lake_documents(
        spark, sf_dir, "hudi_cleaned_documents", build
    )


def q145_hudi_cleaned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi CLEANING under the driver gate: after clean_hudi removed
    every file only the expired ingest snapshot referenced, 'latest'
    (delete survivors + re-lang) and 'mid' (the retained delete
    instant — survivors in original lang) must still read EXACTLY
    from the surviving file set; the oracle recomputes both cohorts
    from the source view, so an over-eager cleaner (a needed file
    unlinked) crashes the scan and an under-eager one cannot hide
    (the suite pins files_deleted > 0 and loud expired-instant
    reads). Parity: Hudi cleaner KEEP_LATEST_COMMITS
    (hudi.apache.org concepts); the vacuum_delta /
    expire_snapshots_iceberg face on the third format."""
    from archetype_spark.sources.hudi import hudi_timeline, read_hudi

    table = _ensure_hudi_cleaned_documents(spark, sf_dir)
    line = hudi_timeline(table)  # ingest, delete, upsert, (clean is
    # not a commit action and never enters the timeline walk)

    def agg(df: DataFrame, snap: str) -> DataFrame:
        return (
            df.groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
            )
            .select(F.lit(snap).alias("snap"), "lang", "n_docs", "sum_chars")
        )

    return agg(read_hudi(spark, table), "latest").unionByName(
        agg(read_hudi(spark, table, as_of=line[1]), "mid")
    )


def _ensure_hudi_mesh(spark: SparkSession, sf_dir: str) -> str:
    """The Hudi-sourced replication mesh q146 reads: a MERGE_ON_READ
    source table plays the q141 cohort history (even ingest, delete
    blocks for n_chars % 5 = 2, odd bulk-insert, re-lang upsert for
    n_chars % 7 = 3) — plus a MID-MESH delete (surviving evens with
    n_chars % 9 = 4 outside the re-lang cohort) staged BETWEEN the
    bootstrap and catch-up syncs, so the incremental path must
    propagate a real delete into mirrors where those keys are live —
    while Delta and Iceberg mirrors follow via
    `replicate` (hudi -> delta, hudi -> iceberg) in TWO syncs
    each: a mid-history bootstrap and a final catch-up. Each sync is
    O(changes): upserts from the incremental face, deleted keys from
    the delete blocks, one latest-wins shuffle, one atomic mirror
    commit carrying the high-water mark."""
    from archetype_spark.sources.hudi import (
        delete_by_key_hudi,
        upsert_hudi,
        write_hudi,
    )
    from archetype_spark.sources.replicate import replicate

    def build(base: DataFrame, btable: str) -> None:
        src = os.path.join(btable, "src")
        dm = os.path.join(btable, "delta")
        im = os.path.join(btable, "iceberg")
        even = base.filter(F.col("doc_id") % 2 == 0)
        write_hudi(
            even, src, record_key="doc_id", partition_by="lang",
            buckets=2, table_type="MERGE_ON_READ",
        )
        delete_by_key_hudi(
            spark, src,
            even.filter(F.col("n_chars") % 5 == 2).select("doc_id"),
        )
        # mid-history bootstrap: mirrors hold the post-delete evens
        replicate(spark, src, dm, "hudi", "delta")
        replicate(spark, src, im, "hudi", "iceberg")
        # mid-mesh delete (r14 advisor): these keys are LIVE in both
        # mirrors, so the catch-up sync must propagate a real delete
        # — the bootstrap-era delete's keys never existed there and
        # applied vacuously. Cohort excludes the re-lang upsert's
        # (n_chars % 7 = 3) so no later write resurrects it.
        delete_by_key_hudi(
            spark, src,
            even.filter(
                (F.col("n_chars") % 5 != 2)
                & (F.col("n_chars") % 7 != 3)
                & (F.col("n_chars") % 9 == 4)
            ).select("doc_id"),
        )
        write_hudi(
            base.filter(F.col("doc_id") % 2 == 1), src,
            record_key="doc_id", mode="insert",
        )
        upsert_hudi(
            spark,
            src,
            even.filter(
                (F.col("n_chars") % 5 != 2) & (F.col("n_chars") % 7 == 3)
            ).withColumn("lang", F.lit("xx")),
        )
        # incremental catch-up: inserts + updates land on bootstrapped
        # mirrors as one CDC commit each
        replicate(spark, src, dm, "hudi", "delta")
        replicate(spark, src, im, "hudi", "iceberg")

    return _ensure_lake_documents(spark, sf_dir, "hudi_mesh", build, variant=1)


def q146_hudi_replication_mesh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi as the CDC SOURCE of a tri-format mesh: the MOR source
    table (log-merged snapshot), its Delta mirror (deletion-vector
    commits under txn marks) and its Iceberg mirror (equality-delete
    row-delta snapshots under a table-property mark) must hold the
    SAME final state after a bootstrap + incremental sync each — the
    q140 consistency shape with the third format driving instead of
    following. Deletes replicate from MOR delete blocks
    (read_hudi_deleted_keys), upserts from the incremental face; any
    stale or resurrected row breaks its column against the oracle's
    source-view recompute. Join sides are aggregate-tiny and
    explicitly broadcast. Parity: the reference's connector tier
    reads all three formats; heterogeneous mirrors are how a real
    lakehouse migrates between them."""
    from archetype_spark.sources.delta import read_delta
    from archetype_spark.sources.hudi import read_hudi
    from archetype_spark.sources.iceberg import read_iceberg

    mesh = _ensure_hudi_mesh(spark, sf_dir)
    hu = (
        read_hudi(spark, os.path.join(mesh, "src"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("hudi_docs"),
            F.sum("n_chars").cast("bigint").alias("hudi_chars"),
        )
    )
    dm = (
        read_delta(spark, os.path.join(mesh, "delta"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("delta_docs"))
    )
    ic = (
        read_iceberg(spark, os.path.join(mesh, "iceberg"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("iceberg_docs"))
    )
    return (
        hu.join(F.broadcast(dm), "lang")
        .join(F.broadcast(ic), "lang")
        .select("lang", "hudi_docs", "delta_docs", "iceberg_docs", "hudi_chars")
    )


def _ensure_hudi_archived_documents(spark: SparkSession, sf_dir: str) -> str:
    """The ARCHIVED-timeline Hudi table q147 scans: the q141 MOR
    cohort history (even ingest, delete blocks, odd insert, re-lang
    upsert) followed by archive_hudi(keep_last=1) — every instant but
    the final upsert moves into .hoodie/archived/, so snapshot
    resolution, time travel and the log chains all depend on write
    stats that now live ONLY in the archive's avro blocks. A reader
    that ignored the archive would drop the ingest-era file groups
    silently; the oracle's source-view recompute catches exactly
    that."""
    from archetype_spark.sources.hudi import (
        archive_hudi,
        delete_by_key_hudi,
        upsert_hudi,
        write_hudi,
    )

    def build(base: DataFrame, btable: str) -> None:
        even = base.filter(F.col("doc_id") % 2 == 0)
        write_hudi(
            even, btable, record_key="doc_id", partition_by="lang",
            buckets=2, table_type="MERGE_ON_READ",
        )
        delete_by_key_hudi(
            spark, btable,
            even.filter(F.col("n_chars") % 5 == 2).select("doc_id"),
        )
        write_hudi(
            base.filter(F.col("doc_id") % 2 == 1), btable,
            record_key="doc_id", mode="insert",
        )
        upsert_hudi(
            spark,
            btable,
            even.filter(
                (F.col("n_chars") % 5 != 2) & (F.col("n_chars") % 7 == 3)
            ).withColumn("lang", F.lit("xx")),
        )
        archive_hudi(btable, keep_last=1)

    return _ensure_lake_documents(
        spark, sf_dir, "hudi_archived_documents", build
    )


def q147_hudi_archived_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi ARCHIVED-timeline reads under the driver gate: after
    archival moved every instant but the newest off the active
    timeline, 'latest' (survivors + re-lang + odds), 'mid' (the
    archived delete instant) and 'v0' (the archived ingest) must all
    read exactly — the same three cuts as q141, now resolved through
    the archive's avro blocks instead of active JSON. The file groups
    the even ingest created have NO active write stats at all; a
    timeline reader that skipped the archive would resolve a short
    snapshot, and every per-lang sum would move. Parity: real Hudi
    writers archive by default (hoodie.keep.max.commits), so
    long-lived production tables always carry an archive."""
    from archetype_spark.sources.hudi import hudi_timeline, read_hudi

    table = _ensure_hudi_archived_documents(spark, sf_dir)
    line = hudi_timeline(table)  # archived + active, merged

    def agg(df: DataFrame, snap: str) -> DataFrame:
        return (
            df.groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
            )
            .select(F.lit(snap).alias("snap"), "lang", "n_docs", "sum_chars")
        )

    return (
        agg(read_hudi(spark, table), "latest")
        .unionByName(agg(read_hudi(spark, table, as_of=line[1]), "mid"))
        .unionByName(agg(read_hudi(spark, table, as_of=line[0]), "v0"))
    )


def _ensure_iceberg_v3_documents(spark: SparkSession, sf_dir: str) -> str:
    """The format-version 3 Iceberg table q148 scans: ingest the full
    corpus (v1, partitioned by lang), UPGRADE to v3 (row-lineage
    counter initialized), DELETE WHERE n_chars % 5 = 2 — which now
    lands as puffin DELETION VECTORS, one blob per masked data file,
    not position-delete parquet — then UPDATE WHERE n_chars % 7 = 3
    re-langing survivors to 'xx' (a second DV commit whose masks
    MERGE + SUPERSEDE the first commit's DVs on shared files, plus
    replacement data files carrying first_row_id). Every v3 mechanism
    (puffin framing, CRC, the replace rule, row lineage, time travel
    across the upgrade) sits inside the oracle gate."""
    from archetype_spark.sources.iceberg import (
        delete_where_iceberg,
        update_where_iceberg,
        upgrade_iceberg,
        write_iceberg,
    )

    def build(base: DataFrame, btable: str) -> None:
        write_iceberg(
            base.repartition("lang"), btable, partition_by=["lang"]
        )
        upgrade_iceberg(btable, 3)
        delete_where_iceberg(spark, btable, "n_chars % 5 = 2")
        update_where_iceberg(
            spark, btable, "n_chars % 7 = 3", {"lang": "'xx'"}
        )

    return _ensure_lake_documents(
        spark, sf_dir, "iceberg_v3_documents", build
    )


def q148_iceberg_v3_dv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg FORMAT-VERSION 3 under the driver gate: 'latest' reads
    the post-upgrade state through puffin deletion vectors (the
    delete commit's DVs merged-and-superseded by the update commit's
    on shared files — the one-live-DV-per-file replace rule), 'v0'
    time-travels to the pre-upgrade ingest. A mis-framed blob, a CRC
    the codec fails to verify, a lost merge during the replace, or a
    DV applied to the wrong referenced file each move a per-lang sum
    against the oracle's source-view recompute. Parity: v3 is
    shipping in engines now (Iceberg 1.8+/Spark 4); DVs are its
    flagship feature, and the reference's connector tier reads
    whatever the format ships."""
    from archetype_spark.sources.iceberg import _load_metadata, read_iceberg

    table = _ensure_iceberg_v3_documents(spark, sf_dir)
    first = min(
        s["snapshot-id"] for s in _load_metadata(table)["snapshots"]
    )

    def agg(df: DataFrame, snap: str) -> DataFrame:
        return (
            df.groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
            )
            .select(F.lit(snap).alias("snap"), "lang", "n_docs", "sum_chars")
        )

    return agg(read_iceberg(spark, table), "latest").unionByName(
        agg(read_iceberg(spark, table, snapshot_id=first), "v0")
    )


def _ensure_lake_relay(spark: SparkSession, sf_dir: str) -> str:
    """The six-direction mesh's TRANSITIVE fixture q149 reads: a
    Delta source (CDF on) plays the q127 cohort history (ingest,
    delete n_chars % 7 = 3, re-lang n_chars % 11 = 5 to 'xx') while a
    HUDI mirror follows via `replicate` (delta -> hudi) in two syncs
    (bootstrap + catch-up: the CDF deletes land through
    apply_cdc_hudi's delete commit, updates through its upsert
    commit) — and then an ICEBERG mirror follows the HUDI MIRROR
    (hudi -> iceberg): second-hop CDC whose delete side
    comes from read_hudi_deleted_keys over commits apply_cdc_hudi
    itself wrote. Any loss at either hop breaks the third column."""
    from archetype_spark.sources import (
        delete_where_delta,
        update_where_delta,
        write_delta,
    )
    from archetype_spark.sources.delta import enable_cdf_delta
    from archetype_spark.sources.replicate import replicate

    def build(base: DataFrame, btable: str) -> None:
        src = os.path.join(btable, "delta")
        hm = os.path.join(btable, "hudi")
        im = os.path.join(btable, "iceberg")
        write_delta(base.repartition("lang"), src, partition_by=["lang"])
        enable_cdf_delta(src)
        replicate(spark, src, hm, "delta", "hudi", "doc_id")
        delete_where_delta(spark, src, "n_chars % 7 = 3")
        update_where_delta(
            spark, src, "n_chars % 11 = 5", {"lang": "'xx'"}
        )
        replicate(spark, src, hm, "delta", "hudi", "doc_id")
        replicate(spark, hm, im, "hudi", "iceberg")

    return _ensure_lake_documents(spark, sf_dir, "lake_relay", build)


def q149_lake_relay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRANSITIVE cross-format consistency — the six-direction mesh's
    capstone: the Delta SOURCE, the Hudi mirror that followed it
    (bootstrap + CDF catch-up through apply_cdc_hudi), and the
    Iceberg mirror that followed THE HUDI MIRROR (second-hop CDC:
    upserts from the incremental face, deletes recovered from the
    very commits the first hop wrote) must all hold the same final
    state. One source-view recompute gates all three columns — a row
    lost or resurrected at either hop, a mark replayed twice, or a
    delete the second hop failed to recover moves exactly one column.
    Join sides are aggregate-tiny and explicitly broadcast."""
    from archetype_spark.sources.delta import read_delta
    from archetype_spark.sources.hudi import read_hudi
    from archetype_spark.sources.iceberg import read_iceberg

    relay = _ensure_lake_relay(spark, sf_dir)
    d = (
        read_delta(spark, os.path.join(relay, "delta"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("delta_docs"),
            F.sum("n_chars").cast("bigint").alias("delta_chars"),
        )
    )
    h = (
        read_hudi(spark, os.path.join(relay, "hudi"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("hudi_docs"))
    )
    i = (
        read_iceberg(spark, os.path.join(relay, "iceberg"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("iceberg_docs"))
    )
    return (
        d.join(F.broadcast(h), "lang")
        .join(F.broadcast(i), "lang")
        .select(
            "lang", "delta_docs", "hudi_docs", "iceberg_docs", "delta_chars"
        )
    )


def _ensure_iceberg_nested(spark: SparkSession, sf_dir: str) -> str:
    """The NESTED-typed Iceberg table q150 scans — the r14 verdict's
    named gap (the engine's own embeddings could not round-trip):
    embeddings projected to (vec_id long, label int, embedding
    array<float>, meta struct<dim:long, odd:long>, weight
    decimal(18,2)), written by the protocol-native writer with spec
    field-id assignment for the nested ids. History: even ingest
    (v1, partitioned by label), UPGRADE to format-version 3, odd
    append, then DELETE WHERE vec_id % 7 = 3 — puffin deletion
    vectors masking data files that carry arrays, structs and
    decimals. Same atomic-slot caching discipline as
    _ensure_lake_documents."""
    import json as _json
    import shutil as _shutil
    import uuid as _uuid

    from archetype_spark.sources.iceberg import (
        delete_where_iceberg,
        upgrade_iceberg,
        write_iceberg,
    )

    emb = load(spark, sf_dir, "embeddings")
    idx = ann_index.default_index_dir(sf_dir, "iceberg_nested")
    table = os.path.join(idx, "table")
    expect = {
        "kind": "iceberg_nested",
        "schema": 1,
        "corpus": ann_index.corpus_fingerprint(emb, "vec_id", "embedding"),
    }
    pfile = os.path.join(idx, "_build_params.json")
    if os.path.exists(pfile):
        try:
            with open(pfile) as fh:
                if _json.load(fh) == expect:
                    return table
        except (OSError, ValueError):
            pass
    building = os.path.join(
        os.path.dirname(idx), f".building-{_uuid.uuid4().hex}"
    )
    os.makedirs(building, exist_ok=True)
    base = emb.select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        "embedding",
        F.struct(
            F.size("embedding").cast("long").alias("dim"),
            (F.col("vec_id") % 2).alias("odd"),
        ).alias("meta"),
        F.col("vec_id").cast("decimal(18,2)").alias("weight"),
    )
    try:
        btable = os.path.join(building, "table")
        write_iceberg(
            base.filter(F.col("vec_id") % 2 == 0).repartition("label"),
            btable,
            partition_by=["label"],
        )
        upgrade_iceberg(btable, 3)
        write_iceberg(
            base.filter(F.col("vec_id") % 2 == 1), btable, mode="append"
        )
        delete_where_iceberg(spark, btable, "vec_id % 7 = 3")
        with open(os.path.join(building, "_build_params.json"), "w") as fh:
            _json.dump(expect, fh)
        _swap_slot(idx, building)
    except BaseException:
        _shutil.rmtree(building, ignore_errors=True)
        raise
    return table


def q150_iceberg_nested_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested + decimal Iceberg under the driver gate: per label —
    vector count, decimal weight sum AS BIGINT CENTS, struct-derived
    dimension sum, and the summed squares of every array component
    (explode + agg, staying in whole-stage codegen; higher-order
    F.aggregate runs interpreted). Every value flows through the
    protocol-native nested writer/reader AND the v3 deletion vectors
    the fixture's delete staged, so a mis-bound nested field id, a
    decimal scale lost in staging, a struct column dropped by the
    scan, or a DV that mis-masked an array file each move at least
    one column against the oracle's raw-parquet recompute. The
    component aggregate is 10 rows (one per label) and broadcasts to
    the join. The weight sum quantizes to bigint cents (the corpus'
    documented decimal pattern, see q55's note below) because the
    r15 driver row proved raw DECIMAL output columns sit outside the
    driver's proven hash-canonicalization domain — the decimal
    staging through the writer/reader stays fully exercised (a lost
    scale or mis-bound field id still moves the cents)."""
    from archetype_spark.sources.iceberg import read_iceberg

    table = _ensure_iceberg_nested(spark, sf_dir)
    ice = read_iceberg(spark, table)
    x = F.col("x").cast("double")
    comp = (
        ice.select("label", F.explode("embedding").alias("x"))
        .groupBy("label")
        .agg(F.round(F.sum(x * x), 3).alias("ss"))
    )
    return (
        ice.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            (F.sum("weight") * 100).cast("bigint").alias("w_cents"),
            F.sum(F.col("meta.dim")).cast("bigint").alias("dims"),
        )
        .join(F.broadcast(comp), "label")
        .select("label", "n_vecs", "w_cents", "dims", "ss")
    )


def _ensure_iceberg_bounds_documents(spark: SparkSession, sf_dir: str) -> str:
    """The RANGE-CLUSTERED unpartitioned Iceberg table q151 probes:
    documents written repartitionByRange(8, n_chars) + sorted within
    partitions, so every data file covers a tight n_chars interval
    and the manifests' per-file lower/upper COLUMN BOUNDS (r15) are
    selective — the file-skipping layer that needs no partition
    spec. A second odd/even split append keeps multiple manifests in
    play."""
    from archetype_spark.sources.iceberg import write_iceberg

    def build(base: DataFrame, btable: str) -> None:
        clustered = base.repartitionByRange(8, "n_chars")
        clustered = clustered.sortWithinPartitions("n_chars")
        write_iceberg(clustered.filter(F.col("doc_id") % 2 == 0), btable)
        write_iceberg(
            clustered.filter(F.col("doc_id") % 2 == 1), btable,
            mode="append",
        )

    return _ensure_lake_documents(
        spark, sf_dir, "iceberg_bounds_documents", build
    )


def q151_iceberg_bounds_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-bounds file skipping under the driver gate: a range
    probe (200 <= n_chars < 400) over the range-clustered UNPARTITIONED
    Iceberg table resolves through the manifests' per-file MIN/MAX —
    files whose intervals cannot intersect never open — and the
    row-level re-application keeps the answer exact against the
    oracle's raw-parquet recompute. The pruning itself is pinned by
    test_iceberg_column_bounds_prune_scan; this query pins that
    pruning NEVER changes a value. Parity: every warehouse engine's
    zone-map/min-max skipping; at 100 TB this is the difference
    between a point probe reading KB of manifests + a few files and
    reading the table."""
    from archetype_spark.sources.iceberg import read_iceberg

    table = _ensure_iceberg_bounds_documents(spark, sf_dir)
    return (
        read_iceberg(spark, table, scan_filter={"n_chars": (200, 400)})
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
        .select("lang", "n_docs", "sum_chars", "min_chars", "max_chars")
    )


def _ensure_delta_stats_documents(spark: SparkSession, sf_dir: str) -> str:
    """The range-clustered unpartitioned DELTA table q152 probes:
    documents written repartitionByRange(8, n_chars) + sorted, so
    every add action's protocol stats (minValues/maxValues, r15)
    cover a tight n_chars interval — the q151 shape with the log's
    zone-map layer instead of Iceberg manifests. Two-commit history
    (odd/even split) keeps multiple commits in the active set."""
    from archetype_spark.sources.delta import write_delta

    def build(base: DataFrame, btable: str) -> None:
        clustered = base.repartitionByRange(8, "n_chars")
        clustered = clustered.sortWithinPartitions("n_chars")
        write_delta(clustered.filter(F.col("doc_id") % 2 == 0), btable)
        write_delta(
            clustered.filter(F.col("doc_id") % 2 == 1), btable,
            mode="append",
        )

    return _ensure_lake_documents(
        spark, sf_dir, "delta_stats_documents", build
    )


def q152_delta_stats_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta data skipping under the driver gate: the same range
    probe as q151 resolved through add-action stats — files whose
    recorded [min, max] cannot intersect never enter the plan, and
    the row-level re-application keeps the answer exact against the
    oracle's raw recompute. Pruning itself is pinned by
    test_delta_stats_skipping_and_metadata_count; this query pins
    that it never changes a value. Parity: delta-spark's data
    skipping, the default-on layer every Delta reader leans on."""
    from archetype_spark.sources.delta import read_delta

    table = _ensure_delta_stats_documents(spark, sf_dir)
    return (
        read_delta(spark, table, scan_filter={"n_chars": (200, 400)})
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
        .select("lang", "n_docs", "sum_chars", "min_chars", "max_chars")
    )


def _ensure_delta_cdf_documents(spark: SparkSession, sf_dir: str) -> str:
    """The CHANGE-DATA-FEED Delta table q127 reads and q128 mirrors:
    ingest the full corpus (v0), enable the CDF (v1), DELETE WHERE
    n_chars % 7 = 3 (v2 — the deleted rows land in _change_data as
    'delete' rows), UPDATE lang='xx' WHERE n_chars % 11 = 5 (v3 —
    pre+post images). The update's predicate OVERLAPS the delete's
    (rows with both residues), which makes the r11 resurrection fix
    oracle-gated: a mask scan that still matched dead rows would
    inflate the v3 image counts by exactly that overlap."""
    from archetype_spark.sources import (
        delete_where_delta,
        update_where_delta,
        write_delta,
    )
    from archetype_spark.sources.delta import enable_cdf_delta

    def build(base: DataFrame, btable: str) -> None:
        write_delta(base.repartition("lang"), btable, partition_by=["lang"])
        enable_cdf_delta(btable)
        delete_where_delta(spark, btable, "n_chars % 7 = 3")
        update_where_delta(
            spark, btable, "n_chars % 11 = 5", {"lang": "'xx'"}
        )

    return _ensure_lake_documents(spark, sf_dir, "delta_cdf_documents", build)


def q127_delta_cdf_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Change Data Feed read end-to-end: every change the table's
    history made, aggregated per (commit, change type) — inserts
    derived from the ingest's add actions, deletes and update
    pre/post images served from the _change_data files the mutation
    commits wrote. The oracle re-derives each cohort from the source
    documents view with the fixture's own predicates; the overlap
    between the delete and update predicates pins that dead rows
    never re-enter a change set."""
    from archetype_spark.sources.delta import read_delta_cdf

    table = _ensure_delta_cdf_documents(spark, sf_dir)
    return (
        read_delta_cdf(spark, table, 0)
        .groupBy(
            F.col("_commit_version").alias("commit_v"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .select("commit_v", "change_type", "n_rows", "sum_chars")
    )


def _ensure_iceberg_cdf_mirror(spark: SparkSession, sf_dir: str) -> str:
    """The Iceberg mirror of the CDF table, q128: replication with
    DELETE PROPAGATION — the CDF source's delete and update commits
    apply to the mirror as one equality-delete + upsert snapshot."""
    from archetype_spark.sources.replicate import replicate

    src = _ensure_delta_cdf_documents(spark, sf_dir)

    def build(base: DataFrame, btable: str) -> None:
        replicate(spark, src, btable, "delta", "iceberg", ["doc_id"])

    return _ensure_lake_documents(
        spark, sf_dir, "iceberg_cdf_mirror_documents", build
    )


def q128_cdf_mirror_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-propagating heterogeneous replication end-to-end: the
    mirror must hold EXACTLY the CDF source's final state — corpus
    minus the deleted residue class, the updated rows re-langed, no
    duplicates and no resurrections — recomputed by the oracle from
    the source view. The mirror answers per-lang count+sum."""
    from archetype_spark.sources.iceberg import read_iceberg

    table = _ensure_iceberg_cdf_mirror(spark, sf_dir)
    return (
        read_iceberg(spark, table)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .select("lang", "n_docs", "sum_chars")
    )


def _ensure_iceberg_events_days(spark: SparkSession, sf_dir: str) -> str:
    """The day(ts)-PARTITION-TRANSFORMED Iceberg table q123 scans:
    events written through spec field day(ts) (Iceberg partition
    transform — manifests record each file's day ordinal, the source
    ts column stays in the data files) as two appends (even then odd
    event_id) repartitioned by calendar day so days co-locate into
    prunable files. Same atomic-slot + corpus-fingerprint discipline
    as the other lake fixtures."""
    import json as _json
    import shutil as _shutil
    import uuid as _uuid

    from archetype_spark.sources.iceberg import write_iceberg

    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    idx = ann_index.default_index_dir(sf_dir, "iceberg_events_days")
    table = os.path.join(idx, "table")
    expect = {
        "kind": "iceberg_events_days",
        "schema": 1,  # (event_id, ts, event_type, value) by day(ts)
        "corpus": ann_index.corpus_fingerprint(ev, "event_id", "ts"),
    }
    pfile = os.path.join(idx, "_build_params.json")
    if os.path.exists(pfile):
        try:
            with open(pfile) as fh:
                if _json.load(fh) == expect:
                    return table
        except (OSError, ValueError):
            pass
    building = os.path.join(
        os.path.dirname(idx), f".building-{_uuid.uuid4().hex}"
    )
    os.makedirs(building, exist_ok=True)
    try:
        btable = os.path.join(building, "table")
        for parity in (0, 1):
            write_iceberg(
                ev.filter(F.col("event_id") % 2 == parity).repartition(
                    F.to_date("ts")
                ),
                btable,
                mode="append",
                partition_by=["ts"],
                partition_transforms={"ts": "day"},
            )
        with open(os.path.join(building, "_build_params.json"), "w") as fh:
            _json.dump(expect, fh)
        _swap_slot(idx, building)
    except BaseException:
        _shutil.rmtree(building, ignore_errors=True)
        raise
    return table


def q123_iceberg_day_prune_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range scan over a day(ts)-partition-transformed Iceberg
    table: per-day event count + exact id sum for days [d0+2, d0+6)
    where d0 is the corpus's first day — the bounds derive from the
    data on BOTH sides, so the oracle is a pure source-view replay.
    read_iceberg(scan_filter=...) maps the ts range through the day
    transform at the manifest walk and opens only the 4 matching
    day-partitions out of 30 (pruning pinned by
    tests/test_iceberg_transforms.py; at 100 TB this is the
    O(metadata) planning path the transform spec exists for). The
    range is re-applied row-level, so a pruning bug can only slow the
    query down, never change this oracle-gated answer — while a
    TRANSFORM bug (wrong day ordinal at write) sends rows to wrong
    partitions where pruning drops them, and the hash gate sees it."""
    import datetime as _dt

    from archetype_spark.sources.iceberg import read_iceberg

    table = _ensure_iceberg_events_days(spark, sf_dir)
    d0 = (
        load(spark, sf_dir, "events")
        .agg(F.date_trunc("day", F.min("ts")).alias("d0"))
        .first()["d0"]
    )
    lo = d0 + _dt.timedelta(days=2)
    hi = d0 + _dt.timedelta(days=6)
    return (
        read_iceberg(spark, table, scan_filter={"ts": (lo, hi)})
        .groupBy(
            F.datediff(F.to_date("ts"), F.lit(_dt.date(1970, 1, 1)))
            .cast("bigint")
            .alias("day_ord")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("event_id").cast("bigint").alias("sum_ids"),
        )
        .select("day_ord", "n_events", "sum_ids")
    )


def q130_iceberg_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived Iceberg CHANGELOG (read_iceberg_changes with
    include_deletes — Delta CDF's counterpart, computed from position
    delete files rather than stored change files): every change the
    q120 fixture's four snapshots made, aggregated per (snapshot
    ordinal, change type). The delete cohorts re-derive from the
    SOURCE view with the fixture's predicate algebra — snapshot 4's
    deletes must EXCLUDE rows snapshot 2 already killed (the position
    files name fresh positions only), so a changelog that re-emits
    dead rows or mis-scopes the sequence rule breaks a sum here."""
    from archetype_spark.sources.iceberg import (
        read_iceberg_changes,
        snapshots_iceberg,
    )

    table = _ensure_iceberg_dv_documents(spark, sf_dir)
    snaps = [s["snapshot-id"] for s in snapshots_iceberg(table)]
    ords = F.create_map(
        *[F.lit(x) for sid, i in zip(snaps, range(1, len(snaps) + 1)) for x in (sid, i)]
    )
    return (
        read_iceberg_changes(spark, table, snaps[0], include_deletes=True)
        .select(
            ords[F.col("_snapshot_id")].cast("bigint").alias("snap_ord"),
            "_change_type",
            "n_chars",
        )
        .groupBy("snap_ord", F.col("_change_type").alias("change_type"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .select("snap_ord", "change_type", "n_rows", "sum_chars")
    )


def q131_iceberg_eq_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EQUALITY-delete changelog (read_iceberg_changes with
    include_deletes + equality_via_prior_snapshot — the opt-in that
    makes a mirror built by upsert_by_key_iceberg fully
    changelog-consumable): the q122 CDC fixture's four snapshots —
    ingest, delete-by-key, re-append, one-commit upsert — replayed as
    insert/delete rows and aggregated per (snapshot ordinal, change
    type, lang). The delete cohorts derive by key-joining the PRIOR
    snapshot, so the upsert snapshot's deletes must carry the
    PRE-upsert langs while its inserts carry 'xx', and the
    delete-by-key snapshot's rows must match the equality keys, not
    positions. Oracle: the same cohort algebra over the source
    documents view — independent of manifests and the derivation."""
    from archetype_spark.sources.iceberg import (
        read_iceberg_changes,
        snapshots_iceberg,
    )

    table = _ensure_iceberg_cdc_documents(spark, sf_dir)
    snaps = [s["snapshot-id"] for s in snapshots_iceberg(table)]
    ords = F.create_map(
        *[F.lit(x) for sid, i in zip(snaps, range(1, len(snaps) + 1)) for x in (sid, i)]
    )
    ch = read_iceberg_changes(
        spark,
        table,
        snaps[0],
        include_deletes=True,
        equality_via_prior_snapshot=True,
    )
    return (
        ch.select(
            ords[F.col("_snapshot_id")].cast("bigint").alias("snap_ord"),
            F.col("_change_type").alias("change_type"),
            "lang",
            "n_chars",
        )
        .groupBy("snap_ord", "change_type", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .select("snap_ord", "change_type", "lang", "n_rows", "sum_chars")
    )


#: q132's Avro ingest cohort collects driver-side (the container is
#: hand-encoded); this cap bounds that collect at ~10 MB regardless
#: of the driver's sf. Deterministic (doc_id order) and mirrored in
#: the oracle, so capping changes nothing until the cohort actually
#: exceeds it — and stays oracle-exact when it does.
_AVRO_FIXTURE_MAX_ROWS = 100_000


def _ensure_iceberg_mixed(spark: SparkSession, sf_dir: str) -> str:
    """The MIXED-FORMAT Iceberg table q132 scans: one snapshot
    history whose live file set spans all three spec-legal data
    formats — a PARQUET commit (doc_id%3==0), an ORC commit
    (doc_id%3==1, write_iceberg(file_format='orc') — Spark's native
    JVM ORC writer/scanner), and an AVRO ingest (doc_id%3==2, a
    container hand-encoded by avro_io and registered via
    ingest_avro_files — the executor-side mapInPandas decode path) —
    followed by ONE equality delete (doc_id%7==3) that must apply
    across every format. The content is a pure function of
    `documents`, so the oracle aggregates the SOURCE view directly.
    The avro rows collect driver-side: fixture-scale (the documents
    corpus is thousands of rows), and the container is the INGEST
    input, never a scan path — SIZE-GUARDED at
    _AVRO_FIXTURE_MAX_ROWS so an sf-scaled driver run can never
    balloon the collect (the fixture caps deterministically by
    doc_id order; the oracle applies the same cap)."""
    from archetype_spark.sources import avro_io
    from archetype_spark.sources.iceberg import (
        delete_by_key_iceberg,
        ingest_avro_files,
        write_iceberg,
    )

    def build(base: DataFrame, btable: str) -> None:
        write_iceberg(base.filter(F.col("doc_id") % 3 == 0), btable)
        write_iceberg(
            base.filter(F.col("doc_id") % 3 == 1),
            btable,
            mode="append",
            file_format="orc",
        )
        rows = [
            {
                "doc_id": r["doc_id"],
                "lang": r["lang"],
                "n_chars": r["n_chars"],
            }
            for r in base.filter(F.col("doc_id") % 3 == 2)
            .orderBy("doc_id")
            .limit(_AVRO_FIXTURE_MAX_ROWS)
            .collect()
        ]
        ap = os.path.join(os.path.dirname(btable), "ingest.avro")
        avro_io.write_container(
            ap,
            {
                "type": "record",
                "name": "doc",
                "fields": [
                    {"name": "doc_id", "type": "long"},
                    {"name": "lang", "type": ["null", "string"]},
                    {"name": "n_chars", "type": ["null", "long"]},
                ],
            },
            rows,
        )
        ingest_avro_files(btable, [ap])
        os.remove(ap)
        delete_by_key_iceberg(
            spark,
            btable,
            base.filter(F.col("doc_id") % 7 == 3).select("doc_id"),
        )

    return _ensure_lake_documents(spark, sf_dir, "iceberg_mixed", build)


def q132_iceberg_mixed_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-format Iceberg scan, oracle-gated end-to-end: one
    snapshot whose live files span PARQUET + ORC (native JVM scans,
    per-commit file_format) + AVRO (executor-side avro_io decode over
    binaryFile — this container's Spark ships no avro datasource),
    with an EQUALITY delete applied across all three formats, read
    through the protocol-native manifest walk and aggregated per
    lang. The fixture is a pure function of `documents` (doc_id mod 3
    fans rows across formats, doc_id%7==3 equality-deleted), so the
    static DuckDB oracle aggregates the source view — independent of
    the engine's scan AND of any generator-written expectation."""
    from archetype_spark.sources.iceberg import read_iceberg

    table = _ensure_iceberg_mixed(spark, sf_dir)
    return (
        read_iceberg(spark, table)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .select("lang", "n_docs", "sum_chars")
    )


def _ensure_iceberg_documents(spark: SparkSession, sf_dir: str) -> str:
    """The Iceberg table q105 scans: TWO append snapshots (even then
    odd doc_ids) — append-only on purpose: the active file set then
    equals the data-dir glob, so the DuckDB oracle stays fully
    independent of this engine's manifest walk (metadata-awareness —
    overwrite, time travel, deleted entries — is pinned by
    tests/test_iceberg.py)."""
    from archetype_spark.sources.iceberg import write_iceberg

    def build(base: DataFrame, btable: str) -> None:
        write_iceberg(
            base.filter(F.col("doc_id") % 2 == 0), btable, partition_by=["lang"]
        )
        write_iceberg(
            base.filter(F.col("doc_id") % 2 == 1), btable, mode="append"
        )

    return _ensure_lake_documents(spark, sf_dir, "iceberg_documents", build)


def q105_iceberg_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake-format source parity, second format: per-lang aggregates
    over an Iceberg v1 table resolved by the protocol-native reader
    (sources/iceberg.py — version-hint -> metadata -> manifest-list ->
    Avro manifests, typed partition reconstruction). The table is
    append-only (see _ensure_iceberg_documents) so the DuckDB oracle
    can aggregate the same hive-partitioned data files by glob,
    independent of the manifest walk."""
    from archetype_spark.sources.iceberg import read_iceberg

    table = _ensure_iceberg_documents(spark, sf_dir)
    return (
        read_iceberg(spark, table)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .select("lang", "n_docs", "sum_chars")
    )


def iceberg_oracle(sf_dir: str, require_live_index: bool = True) -> str | None:
    """DuckDB aggregation over the SAME hive-partitioned parquet the
    q105 manifest walk resolves — exact file-set equality holds
    because the table is append-only. None when the table isn't on
    disk yet (rows-only degrade, as q61/q104)."""
    table = os.path.join(
        ann_index.default_index_dir(sf_dir, "iceberg_documents"), "table"
    )
    if require_live_index and not os.path.isdir(
        os.path.join(table, "metadata")
    ):
        return None
    return f"""
        SELECT lang, count(*)::BIGINT AS n_docs,
               sum(n_chars)::BIGINT AS sum_chars
        FROM read_parquet('{table}/data/*/*.parquet', hive_partitioning=1)
        GROUP BY lang
    """


def q107_delta_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (CDC-style) consumption of a Delta log: per-lang
    aggregates of the rows each commit ADDED, over versions 1..2 of
    the q104 fixture (v1 = the odd-doc ingest batch, v2 = the
    compaction overwrite's full rewrite). This is the O(new data)
    path an incremental 100 TB pipeline runs instead of re-reading
    the table per batch — read_delta_changes resolves only the
    files the requested commits added. The oracle replays the same
    log in DuckDB, versioning files by their commit filename."""
    from archetype_spark.sources.delta import read_delta_changes

    table = _ensure_delta_documents(spark, sf_dir)
    return (
        read_delta_changes(spark, table, 1, 2)
        .groupBy(
            F.col("_commit_version").alias("commit_version"), F.col("lang")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .select("commit_version", "lang", "n_docs", "sum_chars")
    )


def delta_changes_oracle(
    sf_dir: str, require_live_index: bool = True
) -> str | None:
    """DuckDB replay of q107's incremental read: adds tagged with the
    version parsed from their commit filename, filtered to 1..2 and
    joined to the filename-tagged parquet glob. Static per sf_dir (no
    build-time file list), like delta_oracle."""
    table = os.path.join(
        ann_index.default_index_dir(sf_dir, "delta_documents"), "table"
    )
    if require_live_index and not os.path.isdir(
        os.path.join(table, "_delta_log")
    ):
        return None
    sql = """
        WITH log AS (
          SELECT "add", filename
          FROM read_json_auto('{table}/_delta_log/*.json',
                              format='newline_delimited', filename=1)
        ),
        adds AS (
          SELECT "add".path AS path,
                 CAST(regexp_extract(filename, '([0-9]{20})[.]json', 1)
                      AS BIGINT) AS commit_version
          FROM log
          WHERE "add" IS NOT NULL AND "add".path IS NOT NULL
        ),
        raw AS (
          SELECT lang, n_chars, replace(filename, '{table}/', '') AS rel
          FROM read_parquet('{table}/*/*.parquet',
                            hive_partitioning=1, filename=1)
        )
        SELECT commit_version, lang, count(*)::BIGINT AS n_docs,
               sum(n_chars)::BIGINT AS sum_chars
        FROM raw JOIN adds ON raw.rel = adds.path
        WHERE commit_version BETWEEN 1 AND 2
        GROUP BY commit_version, lang
    """
    return sql.replace("{table}", table)


def q108_lake_federation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-format federation in ONE Catalyst plan: per-lang
    aggregates from the protocol-native Delta snapshot, the
    protocol-native Iceberg snapshot, and the raw parquet corpus,
    three-way joined on lang. All three resolve the same documents
    projection through different metadata machinery, so equal counts
    per row are the cross-format consistency proof; the join sides
    are aggregate-tiny and explicitly broadcast (no shuffle join at
    any corpus scale)."""
    from archetype_spark.sources.delta import read_delta
    from archetype_spark.sources.iceberg import read_iceberg

    dt = _ensure_delta_documents(spark, sf_dir)
    it = _ensure_iceberg_documents(spark, sf_dir)
    d = (
        read_delta(spark, dt)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("delta_docs"),
            F.sum("n_chars").cast("bigint").alias("delta_chars"),
        )
    )
    i = (
        read_iceberg(spark, it)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("iceberg_docs"))
    )
    p = (
        load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("raw_docs"))
    )
    return (
        d.join(F.broadcast(i), "lang")
        .join(F.broadcast(p), "lang")
        .select("lang", "delta_docs", "delta_chars", "iceberg_docs", "raw_docs")
    )


def _ensure_delta_evolved(spark: SparkSession, sf_dir: str) -> str:
    """The Delta table q110 scans: an ADDITIVE SCHEMA EVOLUTION
    mid-history — ingest the even doc_ids under the original
    (doc_id, lang, n_chars) schema, add a nullable `score` column as
    a metadata-only commit, then append the odd doc_ids WITH scores
    (score = n_chars as double — integral-valued, so sums stay exact
    under any accumulation order). Reading the table correctly
    requires serving NULL for the pre-evolution files and real
    values for the post-evolution ones, which is exactly what the
    oracle recomputes from the source documents view."""
    from archetype_spark.sources.delta import add_column_delta, write_delta

    def build(base: DataFrame, btable: str) -> None:
        write_delta(
            base.filter(F.col("doc_id") % 2 == 0), btable, partition_by=["lang"]
        )
        add_column_delta(btable, "score", "double")
        write_delta(
            base.filter(F.col("doc_id") % 2 == 1).withColumn(
                "score", F.col("n_chars").cast("double")
            ),
            btable,
            mode="append",
        )

    return _ensure_lake_documents(spark, sf_dir, "delta_evolved", build)


def q110_delta_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution end-to-end through the driver's hash gate:
    per-lang aggregates over a Delta table whose history contains an
    add-column evolution (see _ensure_delta_evolved). The
    pre-evolution files MUST read the evolved column as NULL and the
    post-evolution appends must carry values — a reader that dropped
    either cohort, or resolved the wrong schema, hash-mismatches
    against the oracle's independent recompute from the documents
    view."""
    from archetype_spark.sources.delta import read_delta

    table = _ensure_delta_evolved(spark, sf_dir)
    return (
        read_delta(spark, table)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count("score").cast("bigint").alias("n_scored"),
            F.coalesce(F.sum("score"), F.lit(0.0)).alias("sum_score"),
        )
        .select("lang", "n_docs", "n_scored", "sum_score")
    )


def q109_iceberg_metadata_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only COUNT(*) per Iceberg snapshot: answered from the
    manifests' record_count sums (count_rows_iceberg) with ZERO data
    file reads — at 100 TB this is the O(metadata KB) planner
    shortcut, and it is load-bearing proof that the manifests'
    record counts are TRUE (stamped from parquet footers at write
    time). The oracle recomputes each snapshot's expected count from
    the source documents view (snapshot 1 = the even-doc_id ingest,
    snapshot 2 = the full corpus), fully independent of the manifest
    walk — a wrong or placeholder record_count hash-mismatches."""
    from archetype_spark.sources.iceberg import (
        count_rows_iceberg,
        snapshots_iceberg,
    )

    table = _ensure_iceberg_documents(spark, sf_dir)
    snaps = snapshots_iceberg(table)
    rows = [
        (i + 1, count_rows_iceberg(table, s["snapshot-id"]))
        for i, s in enumerate(snaps)
    ]
    return spark.createDataFrame(
        rows, "snap_ordinal bigint, n_docs bigint"
    )


def federation_oracle(
    sf_dir: str, require_live_index: bool = True
) -> str | None:
    """The three-source federation recomputed in DuckDB: Delta active
    set via log replay, Iceberg via the append-only data glob, raw
    from the registered documents view — joined on lang."""
    dt = os.path.join(
        ann_index.default_index_dir(sf_dir, "delta_documents"), "table"
    )
    it = os.path.join(
        ann_index.default_index_dir(sf_dir, "iceberg_documents"), "table"
    )
    if require_live_index and not (
        os.path.isdir(os.path.join(dt, "_delta_log"))
        and os.path.isdir(os.path.join(it, "metadata"))
    ):
        return None
    sql = """
        WITH log AS (
          SELECT "add", "remove"
          FROM read_json_auto('{dt}/_delta_log/*.json',
                              format='newline_delimited')
        ),
        active AS (
          SELECT "add".path AS path FROM log
          WHERE "add" IS NOT NULL AND "add".path IS NOT NULL
            AND "add".path NOT IN (
              SELECT "remove".path FROM log
              WHERE "remove" IS NOT NULL AND "remove".path IS NOT NULL
            )
        ),
        d AS (
          SELECT lang, count(*)::BIGINT AS delta_docs,
                 sum(n_chars)::BIGINT AS delta_chars
          FROM (
            SELECT lang, n_chars, replace(filename, '{dt}/', '') AS rel
            FROM read_parquet('{dt}/*/*.parquet',
                              hive_partitioning=1, filename=1)
          ) raw JOIN active ON raw.rel = active.path
          GROUP BY lang
        ),
        i AS (
          SELECT lang, count(*)::BIGINT AS iceberg_docs
          FROM read_parquet('{it}/data/*/*.parquet', hive_partitioning=1)
          GROUP BY lang
        ),
        p AS (
          SELECT lang, count(*)::BIGINT AS raw_docs
          FROM documents GROUP BY lang
        )
        SELECT d.lang, delta_docs, delta_chars, iceberg_docs, raw_docs
        FROM d JOIN i ON d.lang = i.lang JOIN p ON d.lang = p.lang
    """
    return sql.replace("{dt}", dt).replace("{it}", it)


def q111_iceberg_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental Iceberg consumption — q107's twin on the second
    format: per-(snapshot, lang) aggregates of the rows each snapshot
    ADDED, over snapshots 1..2 of the q105 fixture (1 = the even-doc
    ingest, 2 = the odd-doc append). read_iceberg_changes resolves
    each snapshot's added files from manifest metadata alone
    (status=ADDED entries stamped with the snapshot id), so
    incremental cost is O(new data) at any table size. The oracle
    recomputes both cohorts from the source documents view."""
    from archetype_spark.sources.iceberg import read_iceberg_changes

    table = _ensure_iceberg_documents(spark, sf_dir)
    return (
        read_iceberg_changes(spark, table, 1, 2)
        .groupBy(
            F.col("_snapshot_id").alias("snapshot_id"), F.col("lang")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .select("snapshot_id", "lang", "n_docs", "sum_chars")
    )


def _ensure_delta_merged(spark: SparkSession, sf_dir: str) -> str:
    """The Delta table q106 scans: a CDC-style MERGE INTO exercise.
    Base = customers as (key, name, balance_cents); updates derive
    from orders (per-customer order totals), with every third
    customer's key shifted +10M so the merge exercises BOTH branches
    — matched rows replaced, unmatched rows inserted. merge_delta
    lands it as one overwrite commit, so the post-merge table has
    tombstoned files: a log-UNAWARE reader double-counts, making the
    snapshot resolution load-bearing while the ORACLE stays pure SQL
    over the source views (no file reads — fully independent)."""
    import json as _json
    import shutil as _shutil
    import uuid as _uuid

    from archetype_spark.sources.delta import merge_delta, write_delta

    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    idx = ann_index.default_index_dir(sf_dir, "delta_merged")
    table = os.path.join(idx, "table")
    expect = {
        "kind": "delta_merged",
        "schema": 2,  # v2: cents quantize through decimal(18,2)
        "customer": ann_index.corpus_fingerprint(cust, "c_custkey", "c_name"),
        "orders": ann_index.corpus_fingerprint(
            orders, "o_orderkey", "o_orderstatus"
        ),
    }
    pfile = os.path.join(idx, "_build_params.json")
    if os.path.exists(pfile):
        try:
            with open(pfile) as fh:
                if _json.load(fh) == expect:
                    return table
        except (OSError, ValueError):
            pass
    building = os.path.join(
        os.path.dirname(idx), f".building-{_uuid.uuid4().hex}"
    )
    os.makedirs(building, exist_ok=True)
    btable = os.path.join(building, "table")
    base = cust.select(
        F.col("c_custkey").cast("bigint").alias("k"),
        F.col("c_name").alias("name"),
        # the doubles quantize through decimal(18,2) BEFORE the
        # cents scaling: double*100 would truncate vs DuckDB's round
        (F.col("c_acctbal").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    ups = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("cents")
        )
        .select(
            F.when(
                F.col("o_custkey") % 3 == 0, F.col("o_custkey") + 10_000_000
            )
            .otherwise(F.col("o_custkey"))
            .cast("bigint")
            .alias("k"),
            F.concat(F.lit("cust#"), F.col("o_custkey").cast("string")).alias(
                "name"
            ),
            "cents",
        )
    )
    try:
        write_delta(base, btable)
        merge_delta(spark, btable, ups, keys=["k"])
        with open(os.path.join(building, "_build_params.json"), "w") as fh:
            _json.dump(expect, fh)
        _swap_slot(idx, building)
    except BaseException:
        _shutil.rmtree(building, ignore_errors=True)
        raise
    return table


def q106_delta_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO end-to-end on the Delta backend (see
    _ensure_delta_merged): per-bucket aggregates over the merged
    snapshot. The oracle recomputes the merge in pure SQL over the
    customer/orders views — completely independent of this engine's
    log machinery — while the Spark side MUST resolve the post-merge
    log correctly (the overwrite tombstones every pre-merge file)."""
    from archetype_spark.sources.delta import read_delta

    table = _ensure_delta_merged(spark, sf_dir)
    return (
        read_delta(spark, table)
        .groupBy((F.col("k") % 10).cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .select("bucket", "n_rows", "sum_cents")
    )


def q65_minhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION MinHash path: xxhash64 signatures PERSISTED at
    ingest (ann_index.ensure_minhash — the LanceDB create-index-once
    lifecycle, reference store.py:107-108), banding + estimate swept
    over the stored table per dedup run. q40 benches the portable
    sha256-prefix family computed fully in-flight; this entry tracks
    what a 100 TB pipeline actually runs — signatures are a per-doc
    ingest cost, while every sweep re-pays only the banded join.

    Oracle-gated since r7 (closing VERDICT r6's last verification
    gap): xxhash64 itself has no DuckDB counterpart, but the signature
    table is on-disk DATA both engines read — the oracle
    (minhash_oracle) replays banding by slot-tuple equality and the
    matching-fraction estimate over the very same parquet, the q61
    index-replay pattern. Recall vs exact jaccard remains
    property-tested in tests/test_dedup.py."""
    sigs = ann_index.ensure_minhash(
        load(spark, sf_dir, "documents"),
        ann_index.default_index_dir(sf_dir, "minhash_documents"),
        **MINHASH_INDEX,
    )
    return dedup.minhash_pairs_from_signatures(
        sigs, num_hashes=64, bands=16, threshold=0.45,
        id_col="id", sig_col="sig",
    )


def q64_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-dedup ingest end-to-end (operators/dedup.py
    ingest_dedup): ingest the even-doc_id half of the corpus into a
    fresh table, then re-ingest the FULL corpus — only texts whose
    fingerprint was never seen append. Returns the final table's
    (doc_id, fingerprint); the oracle derives the same set
    algebraically (batch-1 keepers, then min-id keepers among the
    fingerprints batch 1 never saw). Portable fingerprint family so
    the values diff exactly."""
    import tempfile

    d = load(spark, sf_dir, "documents")
    tbl = os.path.join(tempfile.mkdtemp(prefix="ingest_dedup_"), "docs")
    dedup.ingest_dedup(spark, d.filter(F.col("doc_id") % 2 == 0), tbl, portable=True)
    dedup.ingest_dedup(spark, d, tbl, portable=True)
    return spark.read.parquet(tbl).select("doc_id", "fingerprint").orderBy("doc_id")


def q66_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level dedup: the 3-gram Jaccard pair generator (q36)
    feeds connected components (operators/graph.py min-label
    propagation), assigning EVERY doc its transitive duplicate
    cluster and the min-id keeper flag — the step a real pipeline
    runs between pair generation and corpus filtering. Oracle: the
    same closure as a DuckDB recursive CTE."""
    from archetype_spark.operators import graph

    docs = load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    return graph.dedup_clusters(docs, pairs, id_col="doc_id").orderBy("doc_id")


#: Same-JVM A/B pairs for `bench.py --ab <name>`: label -> callable,
#: first entry is the production path. Cross-session single numbers
#: carry 20-40% noise (BASELINE.md), so regression claims about these
#: operators should come from this harness, not from protocol deltas.
AB_VARIANTS: dict = {}
# curation_q and retrieval_q append their variant pairs at import
# time (one-way dependency: they import northstar, never back).


def q67_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test mix table: every doc assigned a
    split by portable sha256 hash bucket of doc_id
    (operators/sampling.py — layout-independent, append-stable), then
    the per-lang x split doc and token counts a training run reads as
    its data card. No UDFs, one aggregation shuffle."""
    from archetype_spark.operators import sampling

    d = load(spark, sf_dir, "documents")
    return (
        sampling.hash_split(d, id_col="doc_id")
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), " "))).alias("total_tokens"),
        )
        .orderBy("lang", "split")
    )


def q68_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (operators/packing.py): docs are
    laid out per-lang in doc_id order, a partitioned running token
    sum assigns each doc a sequence index (offset // 2048), and the
    result is the per-(lang, seq) manifest a training-data writer
    consumes. The window is partitioned by the shard column — never
    global — so the layout scales with the cluster."""
    from archetype_spark.operators import packing

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    return (
        packing.pack_sequences(d, budget=2048)
        .groupBy("lang", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("seq_tokens"),
        )
        .orderBy("lang", "seq_id")
    )


def q69_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-family repetition filter (operators/textstats.py
    repetition_stats): per-doc bigram totals, the top-bigram fraction,
    and the keep verdict at the 0.2 boilerplate threshold."""
    return textstats.repetition_stats(
        load(spark, sf_dir, "documents"), n=2, max_frac=0.2
    ).orderBy("doc_id")


def q70_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation pipeline the round-4 operators exist
    for, as ONE lazy composition: near-dup CLUSTER dedup (q36 Jaccard
    pairs -> q66 connected components, min-id keepers) AND the q69
    repetition gate AND the quality gate (>= 0.5) survive; survivors
    get the q67 hash split; output is the per-(split, lang) corpus
    manifest. Deeper than q57 (which dedups exact copies only): this
    removes whole TRANSITIVE near-duplicate families. Oracle: the
    identical composition in SQL (recursive closure + the shared
    shingle CTEs)."""
    from archetype_spark.functions.text import quality_score, token_count
    from archetype_spark.operators import graph, sampling

    docs = load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    keepers = (
        graph.dedup_clusters(docs, pairs, id_col="doc_id")
        .filter(F.col("is_keeper"))
        .select("doc_id")
    )
    rep_ok = (
        textstats.repetition_stats(docs, n=2, max_frac=0.2)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    kept = (
        docs.join(keepers, "doc_id")
        .join(rep_ok, "doc_id")
        .withColumn("quality", quality_score("text"))
        .filter(F.col("quality") >= 0.5)
        .withColumn("n_tokens", token_count("text"))
    )
    return (
        sampling.hash_split(kept, id_col="doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .orderBy("split", "lang")
    )


def q71_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam.py): the q67
    hash-split's train docs checked for 3-gram overlap against its
    test split (the eval set a training run must not contain), with
    the keep verdict at 20% overlap. The eval shingle set is
    broadcast — the training side never shuffles (see the operator's
    100 TB notes). The corpus' planted near-duplicate families
    straddle split fences, so real contamination exists to catch."""
    from archetype_spark.operators import decontam, sampling

    s = sampling.hash_split(load(spark, sf_dir, "documents"), id_col="doc_id")
    train = s.filter(F.col("split") == "train")
    eval_set = s.filter(F.col("split") == "test")
    return decontam.contamination(
        train, eval_set, n=3, max_frac=0.2
    ).orderBy("doc_id")


def q72_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style embedding dedup verdict blocked by the PERSISTED
    IVF cells (operators/similarity.semantic_dedup) — the same
    ivf_embeddings index q61 probes, reused as dedup blocking: one
    index, two consumers. Oracle-gated via semantic_dedup_oracle():
    DuckDB replays the within-cell pairing over the same assignment
    parquet."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(
        emb,
        threshold=0.35,
        index_dir=ann_index.default_index_dir(sf_dir, "ivf_embeddings"),
        **IVF_INDEX,
    ).orderBy("vec_id")


def q73_stop_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stop-shingle knob, oracle-gated: exact Jaccard over the
    universe with shingles of document frequency > 2 removed before
    the inverted-index self-join (dedup.ngram_jaccard_pairs
    max_shingle_df — the web-scale hot-key control). Same pair
    contract as q36; boilerplate-only pairs vanish and surviving
    scores are exact over the reduced sets."""
    return dedup.ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), n=3, threshold=0.4, max_shingle_df=2
    )


def q74_quality_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster keeper (operators/graph.py
    keep_best_per_cluster): the q36 Jaccard pairs feed connected
    components, then each duplicate cluster keeps its HIGHEST-quality
    member (q35's composite score; ties -> min doc_id) instead of
    q66's blind min-id policy — the canonical copy a curation
    pipeline should retain is the best one. Output is the per-cluster
    manifest (cluster_id, keeper_id, quality, n_docs). The argmax is
    a struct-MAX aggregation (map-side combinable), not a window —
    no per-cluster sort at scale."""
    from archetype_spark.functions.text import quality_score
    from archetype_spark.operators import graph

    docs = load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    scored = docs.select("doc_id", quality_score("text").alias("quality"))
    return graph.keep_best_per_cluster(scored, pairs, "quality").orderBy(
        "cluster_id"
    )


def q75_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture rebalancing (operators/sampling.py
    mixture_sample): the corpus' over-represented languages are
    hash-downsampled to target keep-rates (en 35%, es 80%, rest
    untouched) with the same portable sha256 bucket as q67 — then the
    per-lang data card (docs kept, tokens kept, doc_id checksum) the
    mixture report reads. The filter is a narrow map over the scan;
    nothing dropped is ever shuffled."""
    from archetype_spark.operators import sampling

    kept = sampling.mixture_sample(
        load(spark, sf_dir, "documents"), "lang", {"en": 35, "es": 80}
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), " ")))
            .cast("bigint")
            .alias("total_tokens"),
            F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
        )
        .orderBy("lang")
    )


def q76_relative_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain relative quality filtering (operators/textstats.py
    relative_quality_gate): keep docs at/above their LANGUAGE's median
    quality — the DCLM/FineWeb-style relative gate that a single
    global threshold can't express (it over-prunes hard domains and
    under-prunes easy ones). The fence is the exact discrete
    percentile from a bounded per-(lang, score) histogram — no
    per-lang sort over the corpus, no interpolation — and broadcasts
    back as a narrow filter. Output: the per-lang gate report (docs
    kept, the fence actually applied, membership checksum)."""
    from archetype_spark.functions.text import quality_score

    docs = load(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "lang", quality_score("text").alias("quality"))
    kept = textstats.relative_quality_gate(scored, "lang", "quality", q=0.5)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.round(F.min("quality"), 6).alias("fence"),
            F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
        )
        .orderBy("lang")
    )


def q80_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal (operators/cleaning.py
    remove_boilerplate_lines — the CCNet/RefinedWeb curation stage):
    drop lines appearing in more than 3 distinct documents, reassemble
    in original order. The synthetic corpus has no newlines, so the
    query first gives every document line structure by chunking its
    tokens into aligned 3-token lines (deterministic, replayed exactly
    by the oracle) — at sf0.01 that yields ~7.5k distinct lines of
    which ~50 are cross-document boilerplate. Output: per-doc line
    audit + sha256 of the reassembled text, so the oracle pins the
    exact reassembly, not just the counts."""
    from archetype_spark.operators import cleaning

    d = load(spark, sf_dir, "documents")
    # one codegen'd regexp pass — identical to the former interpreted
    # transform/slice/array_join rebuild (see curation_q._chunked)
    lined = d.select(
        "doc_id",
        F.regexp_replace("text", "((?:[^ ]* ){2}[^ ]*) ", "$1\n").alias(
            "text"
        ),
    )
    cleaned = cleaning.remove_boilerplate_lines(lined, max_line_df=3)
    return cleaned.select(
        "doc_id",
        "n_lines",
        "n_kept",
        F.sha2(F.col("text"), 256).alias("clean_sha"),
    ).orderBy("doc_id")


def q81_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass (operators/cleaning.py scrub_pii): the corpus
    text carries no PII, so the query plants one deterministic email,
    phone and IPv4 per document (derived from doc_id — the synthetic-
    seam pattern the multimodal fakes use), then scrubs and audits.
    Every stage is a narrow JVM regex expression; the plan has zero
    exchanges beyond the presentation orderBy. Output: per-class match
    counts + sha256 of the scrubbed text (pinning the exact
    redactions, same contract as q80)."""
    from archetype_spark.operators import cleaning

    d = load(spark, sf_dir, "documents")
    doc = F.col("doc_id")
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), doc.cast("string"), F.lit("@example.com or 555-"),
            F.lpad((doc % 1000).cast("string"), 3, "0"), F.lit("-"),
            F.lpad((doc % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."), (doc % 256).cast("string"),
            F.lit("."), ((doc * 7) % 256).cast("string"),
        ).alias("text"),
    )
    scrubbed = cleaning.scrub_pii(seeded)
    return scrubbed.select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_ip",
        F.sha2(F.col("text"), 256).alias("clean_sha"),
    ).orderBy("doc_id")


def q82_exact_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-budget token-split packing (operators/packing.py
    pack_exact_sequences): the shard token stream cut every 32 tokens,
    docs crossing a cut split into per-sequence pieces — every
    sequence totals exactly the budget except each lang's last
    (self-evident in the seq_tokens column), closing q68's documented
    over-budget-doc caveat. The budget is deliberately below the
    corpus's median doc length so splitting triggers on nearly every
    document. Output mirrors q79: per-sequence piece/token counts and
    the sha256-pinned payload."""
    from archetype_spark.operators import packing

    d = load(spark, sf_dir, "documents")
    pieces = packing.pack_exact_sequences(d, budget=32)
    member = F.struct(F.col("doc_id"), F.col("piece_text").alias("_t"))
    payload = F.array_join(
        F.transform(F.array_sort(F.collect_list(member)), lambda m: m["_t"]), " "
    )
    return (
        pieces.groupBy("lang", "seq_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pieces"),
            F.sum("piece_tokens").cast("bigint").alias("seq_tokens"),
            payload.alias("_p"),
        )
        .select(
            "lang",
            "seq_id",
            "n_pieces",
            "seq_tokens",
            F.length("_p").cast("bigint").alias("payload_len"),
            F.sha2(F.col("_p"), 256).alias("payload_sha"),
        )
        .orderBy("lang", "seq_id")
    )


def q83_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writer-stage deterministic shuffle (operators/sampling.py
    deterministic_shuffle): reproducible pseudorandom training order
    per shard via a portable sha256 sort key and a PARTITIONED
    row_number — per-lang ranks, never a global single-task window.
    The oracle recomputes the identical key and ranking in DuckDB, so
    the exact example order a training run would consume is
    hash-verified."""
    from archetype_spark.operators import sampling

    d = load(spark, sf_dir, "documents")
    out = sampling.deterministic_shuffle(d, shard_col="lang", seed=7)
    return out.select("lang", "shuffle_rank", "doc_id").orderBy(
        "lang", "shuffle_rank"
    )


QUERIES = {
    "q29_exact_dedup": q29_exact_dedup,
    "q30_cosine_topk": q30_cosine_topk,
    "q31_json_extract": q31_json_extract,
    "q32_pivot": q32_pivot,
    "q33_hash_dedup": q33_hash_dedup,
    "q34_token_stats": q34_token_stats,
    "q35_doc_quality": q35_doc_quality,
    "q36_ngram_jaccard": q36_ngram_jaccard,
    "q37_embedding_dups": q37_embedding_dups,
    "q38_lang_id": q38_lang_id,
    "q39_top_tokens": q39_top_tokens,
    "q40_minhash_pairs": q40_minhash_pairs,
    "q41_simhash_pairs": q41_simhash_pairs,
    "q42_lsh_topk": q42_lsh_topk,
    "q43_media_decode": q43_media_decode,
    "q44_fingerprints": q44_fingerprints,
    "q48_media_resize": q48_media_resize,
    "q49_frame_sample": q49_frame_sample,
    "q61_ivf_topk": q61_ivf_topk,
    "q62_url_fetch": q62_url_fetch,
    "q63_tf_idf": q63_tf_idf,
    "q64_ingest_dedup": q64_ingest_dedup,
    "q65_minhash_fast": q65_minhash_fast,
    "q66_dedup_clusters": q66_dedup_clusters,
    "q67_training_mix": q67_training_mix,
    "q68_sequence_pack": q68_sequence_pack,
    "q69_repetition": q69_repetition,
    "q70_corpus_curation": q70_corpus_curation,
    "q71_decontamination": q71_decontamination,
    "q72_semantic_dedup": q72_semantic_dedup,
    "q73_stop_shingle_jaccard": q73_stop_shingle_jaccard,
    "q74_quality_keeper": q74_quality_keeper,
    "q75_mixture_sample": q75_mixture_sample,
    "q76_relative_quality_gate": q76_relative_quality_gate,
    "q77_filtered_ivf_topk": q77_filtered_ivf_topk,
    "q78_mixture_resample": q78_mixture_resample,
    "q79_pack_payloads": q79_pack_payloads,
    "q80_boilerplate_lines": q80_boilerplate_lines,
    "q81_pii_scrub": q81_pii_scrub,
    "q82_exact_pack": q82_exact_pack,
    "q83_deterministic_shuffle": q83_deterministic_shuffle,
    "q100_binary_ingest": q100_binary_ingest,
    "q101_simhash_fast": q101_simhash_fast,
    "q104_delta_scan": q104_delta_scan,
    "q119_delta_deletes_scan": q119_delta_deletes_scan,
    "q120_iceberg_deletes_scan": q120_iceberg_deletes_scan,
    "q121_image_pixel_decode": q121_image_pixel_decode,
    "q122_iceberg_cdc_scan": q122_iceberg_cdc_scan,
    "q123_iceberg_day_prune_scan": q123_iceberg_day_prune_scan,
    "q124_delta_mapped_scan": q124_delta_mapped_scan,
    "q126_lake_replication": q126_lake_replication,
    "q127_delta_cdf_scan": q127_delta_cdf_scan,
    "q128_cdf_mirror_scan": q128_cdf_mirror_scan,
    "q129_audio_spectral": q129_audio_spectral,
    "q130_iceberg_changelog": q130_iceberg_changelog,
    "q131_iceberg_eq_changelog": q131_iceberg_eq_changelog,
    "q132_iceberg_mixed_formats": q132_iceberg_mixed_formats,
    "q136_image_near_dups": q136_image_near_dups,
    "q137_video_frames": q137_video_frames,
    "q138_delta_mirror_scan": q138_delta_mirror_scan,
    "q139_hudi_scan": q139_hudi_scan,
    "q140_tri_lake_consistency": q140_tri_lake_consistency,
    "q141_hudi_mor_scan": q141_hudi_mor_scan,
    "q142_hudi_changes": q142_hudi_changes,
    "q143_hudi_read_optimized": q143_hudi_read_optimized,
    "q144_hudi_clustered_scan": q144_hudi_clustered_scan,
    "q145_hudi_cleaned_scan": q145_hudi_cleaned_scan,
    "q146_hudi_replication_mesh": q146_hudi_replication_mesh,
    "q147_hudi_archived_scan": q147_hudi_archived_scan,
    "q148_iceberg_v3_dv_scan": q148_iceberg_v3_dv_scan,
    "q149_lake_relay": q149_lake_relay,
    "q150_iceberg_nested_scan": q150_iceberg_nested_scan,
    "q151_iceberg_bounds_prune": q151_iceberg_bounds_prune,
    "q152_delta_stats_prune": q152_delta_stats_prune,
    "q105_iceberg_scan": q105_iceberg_scan,
    "q106_delta_merge_upsert": q106_delta_merge_upsert,
    "q107_delta_changes": q107_delta_changes,
    "q108_lake_federation": q108_lake_federation,
    "q109_iceberg_metadata_counts": q109_iceberg_metadata_counts,
    "q110_delta_evolution_scan": q110_delta_evolution_scan,
    "q111_iceberg_changes": q111_iceberg_changes,
}

_STOPWORD_VALUES = ", ".join(
    f"('{lang}', '{w}')"
    for lang in textstats.LANGS
    for w in textstats.STOPWORDS[lang]
)

# q40 oracle: the portable MinHash family replicated in pure SQL —
# 64 MIN aggregates over (a_i*h+b_i) mod 2^31-1 with the SAME seeded
# coefficient literals the Spark operator uses, identical banding
# (concat_ws slot keys), identical estimate arithmetic.
_MH_N = 64
_MH_BANDS = 16
_MH_RPB = _MH_N // _MH_BANDS
_MH_COEFFS = dedup.minhash_coeffs(_MH_N)
_MH_SIG = ",\n                 ".join(
    f"MIN(({a} * h + {b}) % {dedup.MINHASH_P}) AS s{i}"
    for i, (a, b) in enumerate(_MH_COEFFS)
)
_MH_BAND_CASES = "\n                   ".join(
    f"WHEN {b} THEN concat_ws('_', "
    + ", ".join(f"s{b * _MH_RPB + j}" for j in range(_MH_RPB))
    + ")"
    for b in range(_MH_BANDS)
)
_MH_EST = " + ".join(
    f"(CASE WHEN x.s{i} = y.s{i} THEN 1 ELSE 0 END)" for i in range(_MH_N)
)
_MINHASH_ORACLE = f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        elig AS (SELECT doc_id, w FROM toks WHERE len(w) >= 3),
        idx AS (SELECT doc_id, unnest(generate_series(1, len(w) - 2)) AS i, w
                FROM elig),
        sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
               FROM idx),
        bh AS (SELECT doc_id,
                      CAST(('0x' || substr(sha256(s), 1, 7))::UBIGINT AS BIGINT) AS h
               FROM sh),
        sig AS (SELECT doc_id,
                 {_MH_SIG}
                FROM bh GROUP BY doc_id),
        banded AS (
          SELECT doc_id, b AS band_idx,
                 CASE b {_MH_BAND_CASES}
                 END AS bk
          FROM sig, unnest(generate_series(0, {_MH_BANDS - 1})) AS u(b)
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS other_doc_id
          FROM banded a JOIN banded b
            ON a.band_idx = b.band_idx AND a.bk = b.bk AND a.doc_id < b.doc_id
        )
        SELECT c.doc_id, c.other_doc_id,
               ROUND(({_MH_EST}) / {_MH_N}.0, 6) AS est_jaccard
        FROM cand c
        JOIN sig x ON x.doc_id = c.doc_id
        JOIN sig y ON y.doc_id = c.other_doc_id
        WHERE ({_MH_EST}) / {_MH_N}.0 >= 0.45
        ORDER BY c.doc_id, c.other_doc_id
"""

# q42 oracle: the sign-bit LSH pipeline replicated in pure SQL. The
# hazard with float-based oracles is the bucket SIGN: a projection
# near 0 flips under a different accumulation order. Spark's
# aggregate(zip_with(...)) is a deterministic LEFT fold, and SQL's
# `+` chain is left-associative — so the oracle unrolls every dot
# product term-by-term in the same order, making each IEEE operation
# bit-identical on both engines (plane literals round-trip exactly via
# repr). The re-rank cosine needs no such care: ROUND(...,6) absorbs
# last-ulp differences away from (measure-zero) rounding boundaries.
def _lsh_oracle() -> str:
    from archetype_spark.operators.similarity import _hyperplanes

    dim, n_planes, n_tables, seed, k = (
        LSH_INDEX["dim"],
        LSH_INDEX["n_planes"],
        LSH_INDEX["n_tables"],
        LSH_INDEX["seed"],
        5,
    )
    per_table = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed + t)
        bits = []
        for j, p in enumerate(planes):
            proj = " + ".join(f"v[{i + 1}] * {p[i]!r}" for i in range(dim))
            bits.append(f"(CASE WHEN ({proj}) >= 0 THEN {1 << j} ELSE 0 END)")
        bucket = " + ".join(bits)
        per_table.append(
            f"SELECT vec_id, v, n, {t} AS table_idx,"
            f" CAST({bucket} AS BIGINT) AS bucket FROM e"
        )
    buckets_sql = "\n          UNION ALL\n          ".join(per_table)
    dot_ab = " + ".join(f"a.v[{i + 1}] * b.v[{i + 1}]" for i in range(dim))
    norm_terms = " + ".join(f"v[{i + 1}] * v[{i + 1}]" for i in range(dim))
    return f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                 sqrt({norm_terms}) AS n
          FROM embeddings
        ),
        b AS (
          {buckets_sql}
        ),
        cand AS (
          SELECT DISTINCT ba.vec_id AS ida, bb.vec_id AS idb
          FROM b ba JOIN b bb
            ON ba.table_idx = bb.table_idx AND ba.bucket = bb.bucket
           AND ba.vec_id < bb.vec_id
        ),
        pairs AS (
          SELECT c.ida AS vec_id, c.idb AS other_vec_id,
                 ROUND(CASE WHEN a.n * b.n > 0
                            THEN ({dot_ab}) / (a.n * b.n) END, 6) AS cos_sim
          FROM cand c
          JOIN e a ON a.vec_id = c.ida
          JOIN e b ON b.vec_id = c.idb
        ),
        ranked AS (
          SELECT vec_id, other_vec_id, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY cos_sim DESC, other_vec_id) AS rnk
          FROM pairs
        )
        SELECT vec_id, CAST(rnk AS INT) AS rank, other_vec_id, cos_sim
        FROM ranked WHERE rnk <= {k} ORDER BY vec_id, rank
    """


# q41 oracle: the portable SimHash family replicated in pure SQL —
# generated (60 vote aggregates + fingerprint assembly) to mirror
# operators/dedup.simhash63(hash_family='portable') term for term.
_SH_BITS = dedup.SIMHASH_BITS["portable"]  # 60
_SH_BANDS = 4
_SH_WIDTH = (_SH_BITS + 1) // _SH_BANDS  # 15
_SH_VOTES = ",\n                 ".join(
    f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
    for j in range(_SH_BITS)
)
_SH_FP = " + ".join(
    f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(_SH_BITS)
)
_SH_BAND_VALS = ", ".join(str(b) for b in range(_SH_BANDS))
_SIMHASH_ORACLE = f"""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
        ), h AS (
          SELECT doc_id,
                 CAST(('0x' || substr(sha256(t), 1, 15))::UBIGINT AS BIGINT) AS h
          FROM tok
        ), votes AS (
          SELECT doc_id,
                 {_SH_VOTES}
          FROM h GROUP BY doc_id
        ), fp AS (
          SELECT doc_id, CAST({_SH_FP} AS BIGINT) AS f FROM votes
        ), banded AS (
          SELECT doc_id, f, b AS band_idx,
                 (f >> (b * {_SH_WIDTH})) & {(1 << _SH_WIDTH) - 1} AS bv
          FROM fp, unnest([{_SH_BAND_VALS}]) AS u(b)
        ), cand AS (
          SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS other_doc_id,
                 a.f AS fa, b.f AS fb
          FROM banded a JOIN banded b
            ON a.band_idx = b.band_idx AND a.bv = b.bv AND a.doc_id < b.doc_id
        )
        SELECT doc_id, other_doc_id,
               CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(fa, fb)) <= 8
        ORDER BY doc_id, other_doc_id
"""

ORACLES = {
    "q29_exact_dedup": """
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS docs FROM
          (SELECT DISTINCT text, lang FROM documents) t
        GROUP BY lang ORDER BY lang
    """,
    "q30_cosine_topk": """
        WITH pairs AS (
          SELECT a.vec_id AS vec_id, b.vec_id AS other_vec_id,
                 ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                              CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        ), ranked AS (
          SELECT vec_id, other_vec_id, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY cos_sim DESC, other_vec_id) AS rnk
          FROM pairs
        )
        SELECT vec_id, CAST(rnk AS INT) AS rank, other_vec_id, cos_sim
        FROM ranked WHERE rnk <= 5 ORDER BY vec_id, rank
    """,
    "q31_json_extract": """
        SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
        FROM events ORDER BY event_id
    """,
    "q32_pivot": """
        SELECT l_linestatus,
               CAST(COUNT(*) FILTER (l_returnflag = 'A') AS BIGINT) AS "A",
               CAST(COUNT(*) FILTER (l_returnflag = 'N') AS BIGINT) AS "N",
               CAST(COUNT(*) FILTER (l_returnflag = 'R') AS BIGINT) AS "R"
        FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
    """,
    "q33_hash_dedup": """
        SELECT lang,
               CAST(COUNT(DISTINCT sha256(lower(regexp_replace(text, '\\s+', ' ', 'g')))) AS BIGINT)
                 AS uniq_docs
        FROM documents GROUP BY lang ORDER BY lang
    """,
    "q34_token_stats": """
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
               ROUND(AVG(len(string_split(text, ' '))), 6) AS avg_tokens
        FROM documents GROUP BY lang ORDER BY lang
    """,
    "q35_doc_quality": """
        WITH base AS (
          SELECT doc_id,
                 len(string_split(text, ' ')) AS nt,
                 len(list_distinct(string_split(text, ' '))) AS nu,
                 length(replace(text, ' ', '')) AS nchar_nospace,
                 length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS npunct,
                 length(text) AS nchar
          FROM documents
        ), m AS (
          SELECT doc_id,
                 CAST(nt AS INT) AS n_tokens,
                 CASE WHEN nt > 0 THEN nchar_nospace * 1.0 / nt ELSE 0.0 END AS atl,
                 CASE WHEN nt > 0 THEN nu * 1.0 / nt ELSE 0.0 END AS ur,
                 CASE WHEN nchar > 0 THEN npunct * 1.0 / nchar ELSE 0.0 END AS pr,
                 nt
          FROM base
        )
        SELECT doc_id, n_tokens,
               ROUND(atl, 6) AS avg_token_len,
               ROUND(ur, 6) AS uniq_ratio,
               ROUND(pr, 6) AS punct_ratio,
               ROUND(0.5 * LEAST(nt / 50.0, 1.0) + 0.4 * ur + 0.1 * (1.0 - pr), 6) AS quality
        FROM m ORDER BY doc_id
    """,
    "q36_ngram_jaccard": None,  # filled below from _JACCARD_CTES

    "q37_embedding_dups": """
        SELECT a.vec_id AS vec_id, b.vec_id AS other_vec_id,
               ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
        ORDER BY vec_id, other_vec_id
    """,
    "q38_lang_id": f"""
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        sw(lang, w) AS (VALUES {_STOPWORD_VALUES}),
        hits AS (SELECT k.doc_id, s.lang, COUNT(*) AS score
                 FROM toks k JOIN sw s ON k.t = s.w GROUP BY 1, 2),
        best AS (SELECT doc_id, lang,
                        ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, lang) AS rn
                 FROM hits)
        SELECT d.doc_id, COALESCE(b.lang, 'unknown') AS pred_lang
        FROM documents d LEFT JOIN (SELECT doc_id, lang FROM best WHERE rn = 1) b
        USING (doc_id) ORDER BY doc_id
    """,
    "q39_top_tokens": """
        SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        GROUP BY t ORDER BY freq DESC, token LIMIT 20
    """,
    # The multimodal fakes are deterministic sha256 arithmetic, so they
    # ARE DuckDB-expressible (VERDICT r2 ask #8): the Python-worker
    # mapInPandas path is diffed end-to-end against pure SQL.
    "q43_media_decode": """
        WITH m AS (
          SELECT doc_id AS media_id,
                 ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
                 sha256(text) AS d
          FROM documents
        ), h AS (
          SELECT media_id, kind, d, ('0x' || substr(d, 1, 8))::UBIGINT AS h FROM m
        )
        SELECT media_id, kind,
          CASE WHEN kind IN ('image','video') THEN CAST(64 + h % 1920 AS INT) END AS width,
          CASE WHEN kind IN ('image','video') THEN CAST(64 + (h // 256) % 1080 AS INT) END AS height,
          CASE WHEN kind = 'audio' THEN CAST(500 + h % 600000 AS BIGINT)
               WHEN kind = 'video' THEN CAST(1000 + h % 3600000 AS BIGINT) END AS duration_ms,
          CASE WHEN kind = 'video' THEN CAST(1 + (h // 16) % 10000 AS INT) END AS n_frames,
          d AS content_digest
        FROM h ORDER BY media_id
    """,
    "q63_tf_idf": """
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        ), tf AS (
          SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        ), dfreq AS (
          SELECT token, COUNT(*) AS df FROM tf GROUP BY 1
        ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT t.doc_id, t.token, CAST(t.tf AS BIGINT) AS tf,
               ROUND(t.tf * (ln((n.n_docs + 1.0) / (d.df + 1.0)) + 1.0), 6)
                 AS tf_idf
        FROM tf t JOIN dfreq d USING (token) CROSS JOIN n
        ORDER BY doc_id, token
    """,
    "q40_minhash_pairs": _MINHASH_ORACLE,
    "q41_simhash_pairs": _SIMHASH_ORACLE,
    "q42_lsh_topk": _lsh_oracle(),
    "q44_fingerprints": """
        SELECT doc_id,
               CAST(('0x' || substr(sha256(lower(regexp_replace(text, '\\s+', ' ', 'g'))), 1, 15))::UBIGINT AS BIGINT)
                 AS fingerprint
        FROM documents ORDER BY doc_id
    """,
    "q48_media_resize": """
        SELECT doc_id AS media_id, sha256(text) AS payload_hex,
               CAST(224 AS INT) AS width, CAST(224 AS INT) AS height
        FROM documents WHERE doc_id % 3 = 0 ORDER BY media_id
    """,
    "q49_frame_sample": """
        WITH v AS (
          SELECT doc_id AS media_id, sha256(text) AS d,
                 ('0x' || substr(sha256(text), 1, 8))::UBIGINT AS h
          FROM documents WHERE doc_id % 3 = 2
        ), f AS (
          SELECT media_id, d, CAST(1 + (h // 16) % 10000 AS INT) AS n_frames FROM v
        )
        SELECT media_id, CAST(fi AS INT) AS frame_idx,
               substr(sha256(d || CAST(fi AS VARCHAR)), 1, 16) AS frame_digest
        FROM f, unnest(generate_series(0, n_frames - 1, 500)) AS t(fi)
        ORDER BY media_id, frame_idx
    """,
    "q62_url_fetch": None,  # filled below — needs the fixture paths
    "q64_ingest_dedup": """
        WITH f AS (
          SELECT doc_id,
                 CAST(('0x' || substr(sha256(lower(regexp_replace(text, '\\s+', ' ', 'g'))), 1, 15))::UBIGINT AS BIGINT)
                   AS fingerprint
          FROM documents
        ), b1 AS (
          SELECT fingerprint, MIN(doc_id) AS doc_id
          FROM f WHERE doc_id % 2 = 0 GROUP BY 1
        ), b2 AS (
          SELECT fingerprint, MIN(doc_id) AS doc_id
          FROM f WHERE fingerprint NOT IN (SELECT fingerprint FROM b1)
          GROUP BY 1
        )
        SELECT doc_id, fingerprint FROM b1
        UNION ALL
        SELECT doc_id, fingerprint FROM b2
        ORDER BY doc_id
    """,
    # q61's oracle is built per-sf_dir by ivf_oracle() below (it reads
    # the PERSISTED index parquet, whose path depends on the corpus
    # dir) and merged in by all_oracles() — not a static entry here.
}

_FETCH_PATHS = [
    os.path.join(FETCH_FIXTURE_DIR, t) + ".parquet" for t in _FETCH_TABLES
]
_FETCH_VALUES = ", ".join(
    f"({i}, 'file://{p}', '{p}')" for i, p in enumerate(_FETCH_PATHS)
)
_FETCH_LIST = ", ".join(f"'{p}'" for p in _FETCH_PATHS)
ORACLES["q62_url_fetch"] = f"""
        WITH u(media_id, uri, path) AS (VALUES {_FETCH_VALUES}),
        b AS (SELECT filename, content FROM read_blob([{_FETCH_LIST}]))
        SELECT u.media_id, u.uri,
               CAST(octet_length(b.content) AS BIGINT) AS n_bytes,
               sha256(hex(b.content)) AS digest,
               CAST(NULL AS VARCHAR) AS fetch_error
        FROM u JOIN b ON b.filename = u.path
        ORDER BY media_id
"""

ORACLES["q100_binary_ingest"] = f"""
        SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
               CAST(octet_length(content) AS BIGINT) AS n_bytes,
               sha256(hex(content)) AS digest
        FROM read_blob('{FETCH_FIXTURE_DIR}/*.parquet')
        ORDER BY file_name
"""

# Shared 3-gram Jaccard pair derivation (the q36 semantics): q36
# emits the pairs themselves; q66 feeds them into a recursive-CTE
# transitive closure; q73 reuses the shingle derivation with the
# stop-shingle filter spliced between derivation and pairing. One
# text, all oracles — no drift possible.
_SHINGLE_CTES = """
        toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        idx AS (SELECT doc_id, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i, w
                FROM toks),
        sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM idx)
"""
_JACCARD_CTES = _SHINGLE_CTES + """,
        cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (SELECT a.doc_id AS doc_id, b.doc_id AS other_doc_id, COUNT(*) AS c
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
"""

ORACLES["q36_ngram_jaccard"] = f"""
        WITH {_JACCARD_CTES}
        SELECT i.doc_id, i.other_doc_id,
               ROUND(i.c * 1.0 / (ca.n + cb.n - i.c), 6) AS jaccard
        FROM inter i
        JOIN cnt ca ON ca.doc_id = i.doc_id
        JOIN cnt cb ON cb.doc_id = i.other_doc_id
        WHERE ROUND(i.c * 1.0 / (ca.n + cb.n - i.c), 6) >= 0.5
        ORDER BY i.doc_id, i.other_doc_id
    """

# Shared duplicate-cluster closure at the 0.5 threshold: the q36
# pair derivation -> symmetric edges -> recursive min-label closure
# (exactly what operators/graph.py iterates in Spark). Spark filters
# on the ROUNDED jaccard (q36 output contract), so the prs CTE here
# does too. Consumers: q66 (singleton back-fill over all docs), q70
# (min-id keepers feeding the curation gates), q74 (quality-argmax
# keepers). One text, all oracles — no drift possible.
_CLUSTER_CTES = f"""{_JACCARD_CTES},
        prs AS (
          SELECT i.doc_id AS a, i.other_doc_id AS b
          FROM inter i
          JOIN cnt ca ON ca.doc_id = i.doc_id
          JOIN cnt cb ON cb.doc_id = i.other_doc_id
          WHERE ROUND(i.c * 1.0 / (ca.n + cb.n - i.c), 6) >= 0.5
        ),
        edges AS (SELECT a, b FROM prs UNION ALL SELECT b AS a, a AS b FROM prs),
        reach(node, lbl) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
        )"""

ORACLES["q66_dedup_clusters"] = f"""
        WITH RECURSIVE {_CLUSTER_CTES}
        SELECT node AS doc_id, MIN(lbl) AS cluster_id,
               (MIN(lbl) = node) AS is_keeper
        FROM reach GROUP BY node ORDER BY doc_id
    """

ORACLES["q68_sequence_pack"] = """
        WITH t AS (
          SELECT doc_id, lang, len(string_split(text, ' ')) AS nt FROM documents
        ), s AS (
          SELECT lang, nt,
                 COALESCE(SUM(nt) OVER (PARTITION BY lang ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
          FROM t
        )
        SELECT lang, CAST(start // 2048 AS BIGINT) AS seq_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(nt) AS BIGINT) AS seq_tokens
        FROM s GROUP BY lang, seq_id ORDER BY lang, seq_id
    """

ORACLES["q69_repetition"] = """
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        gr AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g
               FROM toks, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS t(i)),
        pg AS (SELECT doc_id, g, COUNT(*) AS c FROM gr GROUP BY doc_id, g),
        pd AS (SELECT doc_id, SUM(c) AS n_ngrams, MAX(c) AS top FROM pg GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(COALESCE(pd.n_ngrams, 0) AS BIGINT) AS n_ngrams,
               COALESCE(ROUND(pd.top * 1.0 / pd.n_ngrams, 6), 0.0) AS top_ngram_frac,
               COALESCE(ROUND(pd.top * 1.0 / pd.n_ngrams, 6), 0.0) <= 0.2 AS keep
        FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
        ORDER BY d.doc_id
    """

ORACLES["q70_corpus_curation"] = f"""
        WITH RECURSIVE {_CLUSTER_CTES},
        keepers AS (
          SELECT node AS doc_id FROM reach GROUP BY node HAVING MIN(lbl) = node
        ),
        bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g
               FROM toks, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS t(i)),
        pg AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g),
        pd AS (SELECT doc_id, SUM(c) AS n_ngrams, MAX(c) AS top FROM pg GROUP BY doc_id),
        rep_ok AS (
          SELECT d.doc_id FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
          WHERE COALESCE(ROUND(pd.top * 1.0 / pd.n_ngrams, 6), 0.0) <= 0.2
        ),
        m AS (
          SELECT doc_id, lang,
                 len(string_split(text, ' ')) AS nt,
                 CASE WHEN len(string_split(text, ' ')) > 0
                      THEN len(list_distinct(string_split(text, ' '))) * 1.0
                           / len(string_split(text, ' '))
                      ELSE 0.0 END AS ur,
                 CASE WHEN length(text) > 0
                      THEN length(regexp_replace(text, '[^.!?,;:]', '', 'g')) * 1.0
                           / length(text)
                      ELSE 0.0 END AS pr
          FROM documents
        ),
        kept AS (
          SELECT m.doc_id, m.lang, m.nt
          FROM m
          JOIN keepers USING (doc_id)
          JOIN rep_ok USING (doc_id)
          WHERE ROUND(0.5 * least(m.nt / 50.0, 1.0) + 0.4 * m.ur
                      + 0.1 * (1.0 - m.pr), 6) >= 0.5
        ),
        s AS (
          SELECT lang, nt,
                 CASE
                   WHEN ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 4))::UBIGINT % 100 < 80
                     THEN 'train'
                   WHEN ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 4))::UBIGINT % 100 < 90
                     THEN 'val'
                   ELSE 'test'
                 END AS split
          FROM kept
        )
        SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(nt) AS BIGINT) AS total_tokens
        FROM s GROUP BY split, lang ORDER BY split, lang
    """

# q73: the q36 shingle derivation with the stop-shingle filter in
# SQL — shingles above document frequency 2 leave the universe, set
# sizes and intersections recomputed over what remains. The oracle
# filters on raw shingle strings (the semantic ground truth for the
# xxhash64-keyed Spark semi-join, as in q36).
ORACLES["q73_stop_shingle_jaccard"] = f"""
        WITH {_SHINGLE_CTES},
        dfc AS (SELECT s, COUNT(*) AS c FROM sh GROUP BY s),
        kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfc USING (s)
                 WHERE dfc.c <= 2),
        kcnt AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
        kinter AS (SELECT a.doc_id AS doc_id, b.doc_id AS other_doc_id,
                          COUNT(*) AS c
                   FROM kept a JOIN kept b
                     ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
        SELECT i.doc_id, i.other_doc_id,
               ROUND(i.c * 1.0 / (ca.n + cb.n - i.c), 6) AS jaccard
        FROM kinter i
        JOIN kcnt ca ON ca.doc_id = i.doc_id
        JOIN kcnt cb ON cb.doc_id = i.other_doc_id
        WHERE ROUND(i.c * 1.0 / (ca.n + cb.n - i.c), 6) >= 0.4
        ORDER BY i.doc_id, i.other_doc_id
    """

# q74: the shared cluster closure + the q35 quality computation,
# argmax per cluster replayed as a window (quality DESC, doc_id ASC
# — the exact order the Spark struct-MAX over (quality, -doc_id)
# encodes). Quality values are identical to q35's green oracle, so
# the ROUND semantics carry over unchanged.
ORACLES["q74_quality_keeper"] = f"""
        WITH RECURSIVE {_CLUSTER_CTES},
        clu AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id
                FROM reach GROUP BY node),
        m AS (
          SELECT doc_id,
                 len(string_split(text, ' ')) AS nt,
                 CASE WHEN len(string_split(text, ' ')) > 0
                      THEN len(list_distinct(string_split(text, ' '))) * 1.0
                           / len(string_split(text, ' '))
                      ELSE 0.0 END AS ur,
                 CASE WHEN length(text) > 0
                      THEN length(regexp_replace(text, '[^.!?,;:]', '', 'g')) * 1.0
                           / length(text)
                      ELSE 0.0 END AS pr
          FROM documents
        ),
        q AS (
          SELECT doc_id,
                 ROUND(0.5 * least(nt / 50.0, 1.0) + 0.4 * ur
                       + 0.1 * (1.0 - pr), 6) AS quality
          FROM m
        ),
        r AS (
          SELECT c.cluster_id, c.doc_id, q.quality,
                 ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                       ORDER BY q.quality DESC, c.doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY c.cluster_id) AS nd
          FROM clu c JOIN q USING (doc_id)
        )
        SELECT cluster_id, doc_id AS keeper_id, quality,
               CAST(nd AS BIGINT) AS n_docs
        FROM r WHERE rn = 1 ORDER BY cluster_id
    """

# q75: the q67 sha256 bucket with per-lang keep fences — the kept
# set is recomputed independently in SQL and summarized to the same
# data card (the doc_id checksum pins the exact membership, not just
# the counts).
ORACLES["q75_mixture_sample"] = """
        WITH b AS (
          SELECT doc_id, lang, len(string_split(text, ' ')) AS nt,
                 ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 4))::UBIGINT
                   % 100 AS bucket
          FROM documents
        ),
        kept AS (
          SELECT * FROM b
          WHERE bucket < CASE lang WHEN 'en' THEN 35 WHEN 'es' THEN 80
                                   ELSE 100 END
        )
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(nt) AS BIGINT) AS total_tokens,
               CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
        FROM kept GROUP BY lang ORDER BY lang
    """

# q76: the q35 quality formula + the discrete-percentile histogram
# fence, replayed verbatim — per-(lang, quality) counts, cumulative
# sum over the histogram, fence = smallest quality reaching
# ceil(0.5 * n), gate at quality >= fence. No interpolation anywhere,
# so the fence is an actual element both engines agree on.
ORACLES["q76_relative_quality_gate"] = """
        WITH m AS (
          SELECT doc_id, lang,
                 len(string_split(text, ' ')) AS nt,
                 CASE WHEN len(string_split(text, ' ')) > 0
                      THEN len(list_distinct(string_split(text, ' '))) * 1.0
                           / len(string_split(text, ' '))
                      ELSE 0.0 END AS ur,
                 CASE WHEN length(text) > 0
                      THEN length(regexp_replace(text, '[^.!?,;:]', '', 'g')) * 1.0
                           / length(text)
                      ELSE 0.0 END AS pr
          FROM documents
        ),
        s AS (
          SELECT doc_id, lang,
                 ROUND(0.5 * least(nt / 50.0, 1.0) + 0.4 * ur
                       + 0.1 * (1.0 - pr), 6) AS quality
          FROM m
        ),
        h AS (SELECT lang, quality, COUNT(*) AS c FROM s GROUP BY 1, 2),
        cum AS (SELECT lang, quality,
                       SUM(c) OVER (PARTITION BY lang ORDER BY quality) AS cumc
                FROM h),
        tot AS (SELECT lang, COUNT(*) AS n FROM s GROUP BY 1),
        f AS (SELECT cum.lang, MIN(cum.quality) AS fence
              FROM cum JOIN tot USING (lang)
              WHERE cumc >= CEIL(0.5 * n) GROUP BY 1),
        kept AS (SELECT s.* FROM s JOIN f USING (lang)
                 WHERE s.quality >= f.fence)
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
               ROUND(MIN(quality), 6) AS fence,
               CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
        FROM kept GROUP BY lang ORDER BY lang
    """

# q78: the q75 bucket with repeat semantics — copies = pct // 100
# plus a bucket-fenced fractional copy, exploded via
# generate_series (inclusive 0..n-1 in both engines). sum_dup_idx
# pins per-doc copy counts: a doc with n copies contributes
# n(n-1)/2, so any miscounted doc shifts the checksum.
ORACLES["q78_mixture_resample"] = """
        WITH b AS (
          SELECT doc_id, lang,
                 ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 4))::UBIGINT
                   % 100 AS bucket,
                 CASE lang WHEN 'fr' THEN 250 WHEN 'zh' THEN 130
                           WHEN 'en' THEN 35 ELSE 100 END AS pct
          FROM documents
        ),
        c AS (
          SELECT doc_id, lang,
                 CAST(pct // 100 AS INT)
                   + CASE WHEN bucket < pct % 100 THEN 1 ELSE 0 END AS n
          FROM b
        ),
        xp AS (
          SELECT doc_id, lang, unnest(generate_series(0, n - 1)) AS dup_idx
          FROM c WHERE n > 0
        )
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
               CAST(SUM(dup_idx) AS BIGINT) AS sum_dup_idx
        FROM xp GROUP BY lang ORDER BY lang
    """

# q79: q68's running-sum bucketing + ordered string_agg — the
# payload digest pins byte-exact packing (separator, order, and
# membership all feed the sha256; both engines emit lowercase hex,
# the q33/q62-proven digest parity).
ORACLES["q79_pack_payloads"] = """
        WITH t AS (
          SELECT doc_id, lang, text, len(string_split(text, ' ')) AS nt
          FROM documents
        ), s AS (
          SELECT doc_id, lang, text,
                 COALESCE(SUM(nt) OVER (PARTITION BY lang ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
          FROM t
        ), g AS (
          SELECT lang, CAST(start // 2048 AS BIGINT) AS seq_id,
                 COUNT(*) AS n_docs,
                 string_agg(text, chr(10) ORDER BY doc_id) AS payload
          FROM s GROUP BY 1, 2
        )
        SELECT lang, seq_id, CAST(n_docs AS BIGINT) AS n_docs,
               CAST(length(payload) AS BIGINT) AS payload_len,
               sha256(payload) AS payload_sha
        FROM g ORDER BY lang, seq_id
    """

# q80: the 3-token chunk "lines", line document-frequency, hot-line
# drop and position-ordered reassembly replayed in SQL. The oracle
# counts/joins raw line STRINGS (ground truth for the Spark side's
# xxhash64 line keys, the usual digest-for-body trade); the sha256
# pins the exact reassembled text byte-for-byte.
ORACLES["q80_boilerplate_lines"] = """
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        ln AS (SELECT doc_id, i AS pos,
                      array_to_string(w[(i-1)*3+1:(i-1)*3+3], ' ') AS line
               FROM t, unnest(generate_series(1, CAST(ceil(len(w)/3.0) AS INT))) AS u(i)),
        dfc AS (SELECT line, COUNT(DISTINCT doc_id) AS d FROM ln GROUP BY line),
        hot AS (SELECT line FROM dfc WHERE d > 3),
        fl AS (SELECT l.doc_id, l.pos, l.line, h.line IS NOT NULL AS is_hot
               FROM ln l LEFT JOIN hot h ON l.line = h.line)
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(COUNT(*) FILTER (NOT is_hot) AS BIGINT) AS n_kept,
               sha256(COALESCE(string_agg(CASE WHEN NOT is_hot THEN line END,
                                          chr(10) ORDER BY pos), '')) AS clean_sha
        FROM fl GROUP BY doc_id ORDER BY doc_id
    """

# q81: the same seeded-PII derivation, then the scrub_pii pattern
# sequence replayed with identical regex literals (the pattern subset
# runs identically under Java regex and RE2) — counts taken at each
# class's turn, redactions nested in the same order.
_PII_EMAIL = cleaning.PII_PATTERNS["email"][0]
_PII_PHONE = cleaning.PII_PATTERNS["phone"][0]
_PII_IP = cleaning.PII_PATTERNS["ip"][0]
ORACLES["q81_pii_scrub"] = f"""
        WITH seeded AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com or 555-'
                      || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS t
          FROM documents
        ), s1 AS (
          SELECT doc_id,
                 len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_email,
                 regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t
          FROM seeded
        ), s2 AS (
          SELECT doc_id, n_email,
                 len(regexp_extract_all(t, '{_PII_PHONE}')) AS n_phone,
                 regexp_replace(t, '{_PII_PHONE}', '<PHONE>', 'g') AS t
          FROM s1
        ), s3 AS (
          SELECT doc_id, n_email, n_phone,
                 len(regexp_extract_all(t, '{_PII_IP}')) AS n_ip,
                 regexp_replace(t, '{_PII_IP}', '<IP>', 'g') AS t
          FROM s2
        )
        SELECT doc_id, CAST(n_email AS BIGINT) AS n_email,
               CAST(n_phone AS BIGINT) AS n_phone,
               CAST(n_ip AS BIGINT) AS n_ip,
               sha256(t) AS clean_sha
        FROM s3 ORDER BY doc_id
    """

# q82: the q68 running-sum window + generate_series over the
# overlapped sequence range per doc, token slices via 1-based
# inclusive list slicing — DuckDB replays the exact cut points and
# the sha256 pins every payload byte.
ORACLES["q82_exact_pack"] = """
        WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
        s AS (SELECT doc_id, lang, w, len(w) AS nt,
                COALESCE(SUM(len(w)) OVER (PARTITION BY lang ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
              FROM t),
        p AS (SELECT doc_id, lang, w, nt, start,
                     unnest(generate_series(CAST(start // 32 AS BIGINT),
                                            CAST((start + nt - 1) // 32 AS BIGINT))) AS k
              FROM s WHERE nt > 0),
        pc AS (SELECT lang, k AS seq_id, doc_id, w, start,
                      greatest(start, k * 32) AS lo,
                      least(start + nt, (k + 1) * 32) AS hi
               FROM p),
        px AS (SELECT lang, seq_id, doc_id, hi - lo AS ptok,
                      array_to_string(w[CAST(lo - start + 1 AS INT):CAST(hi - start AS INT)], ' ') AS ptext
               FROM pc),
        g AS (SELECT lang, seq_id, COUNT(*) AS n_pieces, SUM(ptok) AS seq_tokens,
                     string_agg(ptext, ' ' ORDER BY doc_id) AS payload
              FROM px GROUP BY 1, 2)
        SELECT lang, CAST(seq_id AS BIGINT) AS seq_id,
               CAST(n_pieces AS BIGINT) AS n_pieces,
               CAST(seq_tokens AS BIGINT) AS seq_tokens,
               CAST(length(payload) AS BIGINT) AS payload_len,
               sha256(payload) AS payload_sha
        FROM g ORDER BY lang, seq_id
    """

# q83: the portable shuffle key + per-shard ranking replayed in SQL.
ORACLES["q83_deterministic_shuffle"] = """
        WITH k AS (
          SELECT lang, doc_id,
                 CAST(('0x' || substr(sha256('7:' || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
                      AS BIGINT) AS sk
          FROM documents
        )
        SELECT lang,
               CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY sk, doc_id) AS BIGINT)
                 AS shuffle_rank,
               doc_id
        FROM k ORDER BY lang, shuffle_rank
    """

# q71: the q67 split fences + the q36 shingle derivation, composed —
# train docs' distinct 3-gram shingles probed against the test
# split's shingle union. The oracle joins raw shingle STRINGS (the
# semantic ground truth); Spark joins xxhash64 digests (exact absent
# 64-bit collisions, same trade as the Jaccard inverted index).
ORACLES["q71_decontamination"] = """
        WITH b AS (
          SELECT doc_id, text,
                 ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 4))::UBIGINT % 100 AS bk
          FROM documents
        ),
        tr AS (SELECT doc_id, text FROM b WHERE bk < 80),
        ev AS (SELECT text FROM b WHERE bk >= 90),
        tt AS (SELECT doc_id, string_split(text, ' ') AS w FROM tr),
        tidx AS (SELECT doc_id, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i, w
                 FROM tt),
        tsh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM tidx),
        tcnt AS (SELECT doc_id, COUNT(*) AS n FROM tsh GROUP BY doc_id),
        et AS (SELECT string_split(text, ' ') AS w FROM ev),
        eidx AS (SELECT unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i, w FROM et),
        esh AS (SELECT DISTINCT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM eidx),
        shared AS (SELECT t.doc_id, COUNT(*) AS c
                   FROM tsh t JOIN esh e ON t.s = e.s GROUP BY 1)
        SELECT tr.doc_id,
               CAST(COALESCE(tc.n, 0) AS BIGINT) AS n_shingles,
               CAST(COALESCE(sh.c, 0) AS BIGINT) AS n_shared,
               COALESCE(ROUND(sh.c * 1.0 / tc.n, 6), 0.0) AS contam_frac,
               COALESCE(ROUND(sh.c * 1.0 / tc.n, 6), 0.0) <= 0.2 AS keep
        FROM tr
        LEFT JOIN tcnt tc USING (doc_id)
        LEFT JOIN shared sh USING (doc_id)
        ORDER BY doc_id
    """

ORACLES["q67_training_mix"] = """
        WITH s AS (
          SELECT lang,
                 CASE
                   WHEN ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 4))::UBIGINT % 100 < 80
                     THEN 'train'
                   WHEN ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 4))::UBIGINT % 100 < 90
                     THEN 'val'
                   ELSE 'test'
                 END AS split,
                 len(string_split(text, ' ')) AS nt
          FROM documents
        )
        SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(nt) AS BIGINT) AS total_tokens
        FROM s GROUP BY lang, split ORDER BY lang, split
    """

#: The scale the driver's CORRECTNESS protocol runs at; all_oracles()
#: builds q61's index-reading oracle against this dir by default.
CORRECTNESS_SF_DIR = "/root/testdata/sf0.01"


def ivf_oracle(
    sf_dir: str, require_live_index: bool = True, label: int | None = None
) -> str | None:
    """DuckDB SQL replicating q61's IVF probe against the PERSISTED
    index for `sf_dir`'s embeddings table.

    The trained k-means quantizer itself is a MLlib artifact no SQL
    engine can re-derive — but it doesn't have to: the index IS data
    (centroids + assignments parquet, operators/ann_index.py), and the
    probe is plain SQL over it. Both engines read the SAME index
    files, so fit nondeterminism (k-means init depends on input
    partitioning) can never split them; only the probe semantics —
    n_probe nearest cells by L2 distance (squared in Spark, DuckDB's
    list_distance is its sqrt: same ordering), cell-equi-join
    candidates, exact cosine re-rank rounded to 6dp (the q30-proven
    portable form) — are re-expressed.

    With `require_live_index` (the driver path), returns None when no
    index exists on disk yet, degrading q61 to the rows-only check
    instead of erroring if the oracle were somehow evaluated before
    the Spark side ever built the index. `__spark_entry__.entry()`
    warm-builds the CORRECTNESS_SF_DIR index during the driver's
    smoke phase, which precedes correctness, so in practice the
    oracle is present. Constants mirror q61: IVF_INDEX (n_clusters=16
    via the committed index), n_probe=4, k=5.

    With `label`, replicates q77's FILTERED search instead: the
    candidate side is restricted to embeddings of that label before
    ranking — the same post-filter position the Spark operator's
    `where=` applies."""
    idx = ann_index.default_index_dir(sf_dir, "ivf_embeddings")
    if require_live_index and not os.path.isdir(idx):
        return None
    label_join = (
        f" JOIN embeddings lf ON lf.vec_id = a.id AND lf.label = {label}"
        if label is not None
        else ""
    )
    return f"""
        WITH cents AS (
          SELECT CAST(cell AS INT) AS cell, CAST(centroid AS DOUBLE[]) AS centroid
          FROM read_parquet('{idx}/centroids/*.parquet')
        ), assign AS (
          SELECT id, CAST(cell AS INT) AS cell
          FROM read_parquet('{idx}/assignments/**/*.parquet', hive_partitioning=true)
        ), probe AS (
          SELECT e.vec_id, c.cell,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.centroid),
                              c.cell) AS pr
          FROM embeddings e CROSS JOIN cents c
        ), probed AS (
          SELECT vec_id, cell FROM probe WHERE pr <= 4
        ), cand AS (
          SELECT p.vec_id, a.id AS other_vec_id
          FROM probed p JOIN assign a ON p.cell = a.cell AND p.vec_id <> a.id{label_join}
        ), pairs AS (
          SELECT c.vec_id, c.other_vec_id,
                 ROUND(list_cosine_similarity(CAST(qa.embedding AS DOUBLE[]),
                                              CAST(qb.embedding AS DOUBLE[])), 6) AS cos_sim
          FROM cand c
          JOIN embeddings qa ON qa.vec_id = c.vec_id
          JOIN embeddings qb ON qb.vec_id = c.other_vec_id
        ), ranked AS (
          SELECT vec_id, other_vec_id, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY cos_sim DESC, other_vec_id) AS rnk
          FROM pairs
        )
        SELECT vec_id, CAST(rnk AS INT) AS rank, other_vec_id, cos_sim
        FROM ranked WHERE rnk <= 5 ORDER BY vec_id, rank
    """


def semantic_dedup_oracle(sf_dir: str, require_live_index: bool = True) -> str | None:
    """DuckDB SQL replicating q72's within-cell dedup over the SAME
    persisted IVF assignment parquet the Spark operator reads (the
    ivf_oracle contract: the trained quantizer is index DATA both
    engines consume; only the pairing/verdict algebra is re-expressed).
    Returns None when the index isn't on disk yet (rows-only degrade,
    same as q61)."""
    idx = ann_index.default_index_dir(sf_dir, "ivf_embeddings")
    if require_live_index and not os.path.isdir(idx):
        return None
    return f"""
        WITH assign AS (
          SELECT id, CAST(cell AS INT) AS cell
          FROM read_parquet('{idx}/assignments/**/*.parquet', hive_partitioning=true)
        ), e AS (
          SELECT a.id, a.cell, CAST(m.embedding AS DOUBLE[]) AS v
          FROM assign a JOIN embeddings m ON m.vec_id = a.id
        ), prs AS (
          SELECT a.id AS ida, b.id AS idb
          FROM e a JOIN e b ON a.cell = b.cell AND a.id < b.id
          WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.35
        ), nl AS (SELECT ida AS id, COUNT(*) AS c FROM prs GROUP BY 1),
        ns AS (SELECT idb AS id, COUNT(*) AS c FROM prs GROUP BY 1)
        SELECT a.id AS vec_id, a.cell,
               CAST(COALESCE(nl.c, 0) + COALESCE(ns.c, 0) AS BIGINT) AS n_dups,
               (COALESCE(ns.c, 0) = 0) AS is_keeper
        FROM assign a
        LEFT JOIN nl ON nl.id = a.id
        LEFT JOIN ns ON ns.id = a.id
        ORDER BY vec_id
    """


def minhash_oracle(
    sf_dir: str, require_live_index: bool = True, containment: bool = False
) -> str | None:
    """DuckDB SQL replicating q65's banded sweep over the SAME
    persisted xxhash64 signature parquet the Spark query probes.

    xxhash64 has no DuckDB counterpart — but it doesn't need one: the
    signature table is index DATA (ann_index.ensure_minhash), exactly
    like q61's centroids/assignments. Only the sweep algebra is
    re-expressed — banding by slot-tuple equality (the ground truth
    the Spark side's 8-byte band-key hash must agree with; a key
    collision could only admit a candidate the estimate filter then
    re-checks), the matching-slot fraction, and the >= 0.45 gate on
    the ROUNDED estimate, mirroring the Spark filter. Returns None
    when the index isn't on disk yet (rows-only degrade, as q61)."""
    idx = ann_index.default_index_dir(sf_dir, "minhash_documents")
    if require_live_index and not os.path.isdir(idx):
        return None
    n, bands = MINHASH_INDEX["num_hashes"], 16
    rpb = n // bands
    band_eq = " AND ".join(
        f"a.sig[a.band_idx*{rpb} + {j + 1}] = b.sig[b.band_idx*{rpb} + {j + 1}]"
        for j in range(rpb)
    )
    est = " + ".join(
        f"(CASE WHEN x.sig[{i + 1}] = y.sig[{i + 1}] THEN 1 ELSE 0 END)"
        for i in range(n)
    )
    base = f"""
        WITH sigs AS (
          SELECT id, sig FROM read_parquet('{idx}/signatures/*.parquet')
        ),
        banded AS (
          SELECT id, sig, b AS band_idx
          FROM sigs, unnest(generate_series(0, {bands - 1})) AS u(b)
        ),
        cand AS (
          SELECT DISTINCT a.id AS doc_id, b.id AS other_doc_id
          FROM banded a JOIN banded b
            ON a.band_idx = b.band_idx AND a.id < b.id AND {band_eq}
        )"""
    if not containment:
        return (
            base
            + f"""
        SELECT c.doc_id, c.other_doc_id,
               ROUND(({est}) / {n}.0, 6) AS est_jaccard
        FROM cand c
        JOIN sigs x ON x.id = c.doc_id
        JOIN sigs y ON y.id = c.other_doc_id
        WHERE ROUND(({est}) / {n}.0, 6) >= 0.45
        ORDER BY c.doc_id, c.other_doc_id
    """
        )
    # q98: attach exact shingle-set sizes and the integer-exact
    # containment algebra (m = slot-match count; est_inter =
    # m*(na+nb)/(n+m); directed containments est_inter/na|nb).
    return (
        base
        + f""",
        sz AS (
          SELECT id AS doc_id, n_sh AS n
          FROM read_parquet('{idx}/signatures/*.parquet')
        ),
        scored AS (
          SELECT c.doc_id, c.other_doc_id,
                 ROUND(({est}) / {n}.0, 6) AS est_jaccard,
                 CAST(({est}) AS BIGINT) AS m,
                 sa.n AS na, sb.n AS nb
          FROM cand c
          JOIN sigs x ON x.id = c.doc_id
          JOIN sigs y ON y.id = c.other_doc_id
          JOIN sz sa ON sa.doc_id = c.doc_id
          JOIN sz sb ON sb.doc_id = c.other_doc_id
          WHERE ROUND(({est}) / {n}.0, 6) >= 0.45
        )
        SELECT doc_id, other_doc_id, est_jaccard,
               ROUND((m * (na + nb)) * 1.0 / (({n} + m) * na), 6)
                 AS est_containment,
               ROUND((m * (na + nb)) * 1.0 / (({n} + m) * nb), 6)
                 AS other_est_containment
        FROM scored ORDER BY doc_id, other_doc_id
    """
    )


# q106: the MERGE recomputed in pure SQL over the source views — no
# file reads, fully independent of the engine's Delta log machinery.
ORACLES["q106_delta_merge_upsert"] = """
    WITH base AS (
      SELECT CAST(c_custkey AS BIGINT) AS k, c_name AS name,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM customer
    ),
    ups AS (
      SELECT CASE WHEN o_custkey % 3 = 0 THEN o_custkey + 10000000
                  ELSE o_custkey END AS k,
             'cust#' || CAST(o_custkey AS VARCHAR) AS name,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    merged AS (
      SELECT * FROM base WHERE k NOT IN (SELECT k FROM ups)
      UNION ALL
      SELECT * FROM ups
    )
    SELECT CAST(k % 10 AS BIGINT) AS bucket,
           COUNT(*)::BIGINT AS n_rows,
           SUM(cents)::BIGINT AS sum_cents
    FROM merged GROUP BY bucket
"""

# q109: each snapshot's expected count recomputed from the source
# documents view — snapshot 1 is the even-doc_id ingest append,
# snapshot 2 the full corpus (see _ensure_iceberg_documents). The
# Spark side answers from manifest record_count sums alone, so a
# placeholder/wrong count in any manifest hash-mismatches here.
ORACLES["q109_iceberg_metadata_counts"] = """
    SELECT 1::BIGINT AS snap_ordinal, count(*)::BIGINT AS n_docs
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT 2::BIGINT AS snap_ordinal, count(*)::BIGINT AS n_docs
    FROM documents
"""

# q110: the evolved table's two cohorts recomputed from the source
# view — even doc_ids ingested pre-evolution (score must read NULL),
# odd doc_ids appended post-evolution with score = n_chars (integral
# doubles: exact under any accumulation order).
ORACLES["q110_delta_evolution_scan"] = """
    SELECT lang, count(*)::BIGINT AS n_docs,
           (count(*) FILTER (doc_id % 2 = 1))::BIGINT AS n_scored,
           COALESCE(sum(n_chars) FILTER (doc_id % 2 = 1), 0)::DOUBLE
             AS sum_score
    FROM documents GROUP BY lang
"""

# q119: both snapshots recomputed from the source view with the
# fixture's own DELETE predicates (n_chars % 7 = 3 then % 11 = 5; see
# _ensure_delta_dv_documents) — the oracle never touches the deletion
# vectors, so a bitmap-decode or position-join bug cannot cancel out.
ORACLES["q119_delta_deletes_scan"] = """
    SELECT 'latest' AS snap, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM documents
    WHERE n_chars % 7 <> 3 AND n_chars % 11 <> 5
    GROUP BY lang
    UNION ALL
    SELECT 'v0' AS snap, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM documents GROUP BY lang
"""

# q120: the Iceberg twin — latest = (even cohort minus BOTH delete
# predicates) + (odd cohort minus only the SECOND: the odds were
# appended after delete 1, so sequence scoping shields them); v0 =
# the even ingest. All recomputed from the source view.
ORACLES["q120_iceberg_deletes_scan"] = """
    SELECT 'latest' AS snap, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM documents
    WHERE (doc_id % 2 = 0 AND n_chars % 5 <> 2 AND n_chars % 9 <> 4)
       OR (doc_id % 2 = 1 AND n_chars % 9 <> 4)
    GROUP BY lang
    UNION ALL
    SELECT 'v0' AS snap, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
"""

# q122: the equality-delete/CDC history replayed as cohort algebra
# over the source view — latest = evens minus the delete-by-key set
# (n_chars % 5 = 2) plus the re-appended quarter of it (doc_id % 4 =
# 0, alive ONLY under strict `>` scoping), plus the odds with the
# upsert's re-lang applied (n_chars % 7 = 3 -> 'xx'; the replacement
# rows survive their same-commit delete ONLY under strict scoping);
# v0 = the even ingest. Any >= scoping, unscoped apply, missed
# delete, or double-applied upsert breaks a per-lang sum.
ORACLES["q122_iceberg_cdc_scan"] = """
    SELECT 'latest' AS snap, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM (
      SELECT CASE WHEN doc_id % 2 = 1 AND n_chars % 7 = 3
                  THEN 'xx' ELSE lang END AS lang,
             n_chars
      FROM documents
      WHERE doc_id % 2 = 1
         OR n_chars % 5 <> 2
         OR doc_id % 4 = 0
    ) GROUP BY lang
    UNION ALL
    SELECT 'v0' AS snap, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
"""

# q123: the day-window aggregation replayed from the source view with
# the same data-derived bounds (first day + [2, 6)). The Spark side
# answers through the day(ts) partition transform + manifest pruning;
# a wrong day ordinal at write (off-by-one, tz drift, floor-vs-trunc)
# moves rows into partitions the pruned scan never opens, so the
# per-day sums mismatch here.
ORACLES["q123_iceberg_day_prune_scan"] = """
    WITH b AS (
      SELECT CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS d0
      FROM events
    )
    SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE))::BIGINT
             AS day_ord,
           count(*)::BIGINT AS n_events,
           sum(event_id)::BIGINT AS sum_ids
    FROM events, b
    WHERE ts >= d0 + INTERVAL 2 DAY AND ts < d0 + INTERVAL 6 DAY
    GROUP BY day_ord
"""

# q124: the column-mapping history replayed from the source view —
# latest = all docs minus the DV delete predicate (n_chars % 6 = 1),
# keyed by the RENAMED partition column; v0 = the pre-mapping even
# ingest under the OLD name (aliased). A physical-name resolution bug
# NULLs the pre-rename files; a partitionValues key under the wrong
# name breaks the per-language split.
ORACLES["q124_delta_mapped_scan"] = """
    SELECT 'latest' AS snap, lang AS language, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM documents WHERE n_chars % 6 <> 1 GROUP BY lang
    UNION ALL
    SELECT 'v0' AS snap, lang AS language, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
"""

# q126: the replicated mirror's content recomputed from the source
# view — the Delta history's final overwrite re-adds every row, so a
# broken latest-wins cut or an unapplied equality delete doubles
# every count here.
ORACLES["q126_lake_replication"] = """
    SELECT lang, count(*)::BIGINT AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars
    FROM documents GROUP BY lang
"""

# q127: each CDF cohort recomputed from the source view with the
# fixture's predicates — v0 inserts = the corpus; v2 deletes =
# n_chars%7=3; v3 pre/post images = n_chars%11=5 MINUS the rows v2
# already deleted (the resurrection-fix pin: a mask scan matching
# dead rows inflates both image cohorts by the residue overlap).
ORACLES["q127_delta_cdf_scan"] = """
    SELECT 0::BIGINT AS commit_v, 'insert' AS change_type,
           count(*)::BIGINT AS n_rows,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars
    FROM documents
    UNION ALL
    SELECT 2::BIGINT, 'delete', count(*)::BIGINT,
           CAST(sum(length(text)) AS BIGINT)
    FROM documents WHERE length(text) % 7 = 3
    UNION ALL
    SELECT 3::BIGINT, 'update_preimage', count(*)::BIGINT,
           CAST(sum(length(text)) AS BIGINT)
    FROM documents WHERE length(text) % 11 = 5 AND length(text) % 7 <> 3
    UNION ALL
    SELECT 3::BIGINT, 'update_postimage', count(*)::BIGINT,
           CAST(sum(length(text)) AS BIGINT)
    FROM documents WHERE length(text) % 11 = 5 AND length(text) % 7 <> 3
"""

# q128: the mirror's final state from the source view — corpus minus
# the deleted residue, updated rows re-langed; a resurrection,
# duplicate, or unpropagated delete breaks a per-lang sum.
ORACLES["q128_cdf_mirror_scan"] = """
    SELECT CASE WHEN length(text) % 11 = 5 THEN 'xx' ELSE lang END AS lang,
           count(*)::BIGINT AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars
    FROM documents WHERE length(text) % 7 <> 3
    GROUP BY 1
"""

# q130: the derived changelog's four cohorts from the source view —
# snap 1 insert = even ingest; snap 2 delete = evens with n_chars%5=2;
# snap 3 insert = odd append; snap 4 delete = the %9=4 rows still
# alive then (evens must exclude the snap-2 kill — re-emitting dead
# rows breaks the sum).
ORACLES["q130_iceberg_changelog"] = """
    SELECT 1::BIGINT AS snap_ord, 'insert' AS change_type,
           count(*)::BIGINT AS n_rows,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT 2::BIGINT, 'delete', count(*)::BIGINT,
           CAST(sum(length(text)) AS BIGINT)
    FROM documents WHERE doc_id % 2 = 0 AND length(text) % 5 = 2
    UNION ALL
    SELECT 3::BIGINT, 'insert', count(*)::BIGINT,
           CAST(sum(length(text)) AS BIGINT)
    FROM documents WHERE doc_id % 2 = 1
    UNION ALL
    SELECT 4::BIGINT, 'delete', count(*)::BIGINT,
           CAST(sum(length(text)) AS BIGINT)
    FROM documents
    WHERE (doc_id % 2 = 0 AND length(text) % 5 <> 2
           AND length(text) % 9 = 4)
       OR (doc_id % 2 = 1 AND length(text) % 9 = 4)
"""

# q131: the equality changelog's six cohorts from the source view —
# the fixture algebra of _ensure_iceberg_cdc_documents. snap 4's
# DELETE cohort carries the PRE-upsert langs (prior-snapshot join)
# while its INSERT cohort is re-langed 'xx'; snap 3 re-inserts the
# resurrected evens, which snap 2 already emitted as deletes.
ORACLES["q131_iceberg_eq_changelog"] = """
    WITH base AS (
      SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
    ),
    changes AS (
      SELECT 1 AS snap_ord, 'insert' AS change_type, lang, n_chars
      FROM base WHERE doc_id % 2 = 0
      UNION ALL
      SELECT 2, 'delete', lang, n_chars
      FROM base WHERE doc_id % 2 = 0 AND n_chars % 5 = 2
      UNION ALL
      SELECT 3, 'insert', lang, n_chars
      FROM base WHERE doc_id % 2 = 1
      UNION ALL
      SELECT 3, 'insert', lang, n_chars
      FROM base
      WHERE doc_id % 2 = 0 AND n_chars % 5 = 2 AND doc_id % 4 = 0
      UNION ALL
      SELECT 4, 'insert', 'xx', n_chars
      FROM base WHERE doc_id % 2 = 1 AND n_chars % 7 = 3
      UNION ALL
      SELECT 4, 'delete', lang, n_chars
      FROM base WHERE doc_id % 2 = 1 AND n_chars % 7 = 3
    )
    SELECT snap_ord::BIGINT AS snap_ord, change_type, lang,
           count(*)::BIGINT AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM changes
    GROUP BY snap_ord, change_type, lang
"""

# q111: each snapshot's added cohort recomputed from the source view
# (snapshot 1 = even doc_ids, snapshot 2 = odd; see
# _ensure_iceberg_documents) — independent of the manifest walk.
ORACLES["q111_iceberg_changes"] = """
    SELECT 1::BIGINT AS snapshot_id, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
    UNION ALL
    SELECT 2::BIGINT AS snapshot_id, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM documents WHERE doc_id % 2 = 1 GROUP BY lang
"""

# q132: the mixed-format fixture is a pure function of documents
# (doc_id mod 3 fans rows across PARQUET/ORC/AVRO commits, and the
# doc_id%7==3 cohort is equality-deleted across all three), so the
# oracle aggregates the SOURCE view — independent of the manifest
# walk, the three scan paths, and any generator-written expectation.
ORACLES["q132_iceberg_mixed_formats"] = f"""
    SELECT lang, count(*)::BIGINT AS n_docs,
           CAST(sum(n) AS BIGINT) AS sum_chars
    FROM (
      SELECT lang, length(text) AS n FROM documents
      WHERE doc_id % 3 IN (0, 1) AND doc_id % 7 <> 3
      UNION ALL
      SELECT lang, n FROM (
        SELECT lang, length(text) AS n, doc_id FROM documents
        WHERE doc_id % 3 = 2 ORDER BY doc_id
        LIMIT {_AVRO_FIXTURE_MAX_ROWS}
      ) WHERE doc_id % 7 <> 3
    ) GROUP BY lang
"""

# q139: the Hudi table's two cohorts from the source view — same
# algebra as q122 (the fixture replays the same history on the third
# lake format): 'latest' = equality-delete survivors + resurrected
# %4 keys + re-langed odd upserts; 'v0' = the even ingest. A stale
# file slice, a directory-listing read, or a broken empty-file shadow
# moves a per-lang sum.
ORACLES["q139_hudi_scan"] = """
    SELECT 'latest' AS snap, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM (
      SELECT CASE WHEN doc_id % 2 = 1 AND n_chars % 7 = 3
                  THEN 'xx' ELSE lang END AS lang,
             n_chars
      FROM documents
      WHERE doc_id % 2 = 1
         OR n_chars % 5 <> 2
         OR doc_id % 4 = 0
    ) GROUP BY lang
    UNION ALL
    SELECT 'v0' AS snap, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
"""

# q140: the three-format consistency join — one cohort-algebra
# recompute feeds all three count columns (they must agree with each
# other AND the source view; any one format resolving a stale row
# breaks its column).
ORACLES["q140_tri_lake_consistency"] = """
    SELECT lang, count(*)::BIGINT AS delta_docs,
           count(*)::BIGINT AS iceberg_docs,
           count(*)::BIGINT AS hudi_docs,
           sum(n_chars)::BIGINT AS delta_chars
    FROM (
      SELECT CASE WHEN doc_id % 2 = 1 AND n_chars % 7 = 3
                  THEN 'xx' ELSE lang END AS lang,
             n_chars
      FROM documents
      WHERE doc_id % 2 = 1
         OR n_chars % 5 <> 2
         OR doc_id % 4 = 0
    ) GROUP BY lang
"""

# q141: the MOR table's three cohorts from the source view — 'latest'
# = delete-block survivors with the update blocks' re-lang applied +
# the odd inserts; 'mid' (timeline cut at the delete instant) = the
# survivors in their ORIGINAL lang, no odds; 'v0' = the even ingest.
# A mis-framed block, a merge that lets the base row outrank its
# update, a tombstone that leaks past its instant, or a chain cut in
# the wrong place each move a per-lang sum.
ORACLES["q141_hudi_mor_scan"] = """
    SELECT 'latest' AS snap, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM (
      SELECT CASE WHEN n_chars % 7 = 3 THEN 'xx' ELSE lang END AS lang,
             n_chars
      FROM documents WHERE doc_id % 2 = 0 AND n_chars % 5 <> 2
      UNION ALL
      SELECT lang, n_chars FROM documents WHERE doc_id % 2 = 1
    ) GROUP BY lang
    UNION ALL
    SELECT 'mid' AS snap, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM documents WHERE doc_id % 2 = 0 AND n_chars % 5 <> 2
    GROUP BY lang
    UNION ALL
    SELECT 'v0' AS snap, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
"""

# q143: read-optimized vs real-time on the uncompacted MOR fixture —
# 'ro' sees only base files (all evens + all odds, original lang: the
# log delete/update blocks are invisible), 'rt' is the merged q141
# 'latest' algebra. The cohorts MUST differ by exactly the log
# deltas; either face borrowing the other's path collapses them.
ORACLES["q143_hudi_read_optimized"] = """
    SELECT 'ro' AS face, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM documents GROUP BY lang
    UNION ALL
    SELECT 'rt' AS face, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM (
      SELECT CASE WHEN n_chars % 7 = 3 THEN 'xx' ELSE lang END AS lang,
             n_chars
      FROM documents WHERE doc_id % 2 = 0 AND n_chars % 5 <> 2
      UNION ALL
      SELECT lang, n_chars FROM documents WHERE doc_id % 2 = 1
    ) GROUP BY lang
"""

# q144: the clustered table's three cohorts — 'latest' = delete
# survivors with the POST-cluster re-lang applied (resolved from the
# replacement groups only), 'pre' = survivors in original lang read
# at the instant before the replacecommit (the replaced groups must
# still resolve), 'v0' = the ingest. Replaced-group leakage,
# pre-replace exclusion, or a mis-routed post-cluster upsert each
# move a per-lang sum.
ORACLES["q144_hudi_clustered_scan"] = """
    SELECT 'latest' AS snap, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM (
      SELECT CASE WHEN n_chars % 7 = 3 THEN 'xx' ELSE lang END AS lang,
             n_chars
      FROM documents WHERE n_chars % 5 <> 2
    ) GROUP BY lang
    UNION ALL
    SELECT 'pre' AS snap, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM documents WHERE n_chars % 5 <> 2 GROUP BY lang
    UNION ALL
    SELECT 'v0' AS snap, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM documents GROUP BY lang
"""

# q145: the cleaned table's two retained cohorts — cleaning must not
# move a row of any retained read: 'latest' = delete survivors with
# the re-lang, 'mid' = survivors in original lang at the retained
# delete instant. An over-eager cleaner crashes the scan (missing
# file); a wrong retention cut moves a per-lang sum.
ORACLES["q145_hudi_cleaned_scan"] = """
    SELECT 'latest' AS snap, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM (
      SELECT CASE WHEN n_chars % 7 = 3 THEN 'xx' ELSE lang END AS lang,
             n_chars
      FROM documents WHERE n_chars % 5 <> 2
    ) GROUP BY lang
    UNION ALL
    SELECT 'mid' AS snap, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM documents WHERE n_chars % 5 <> 2 GROUP BY lang
"""

# q146: the Hudi-sourced mesh — one cohort-algebra recompute feeds
# the source column AND both mirror columns (final state = delete
# survivors with the upsert's re-lang + the odd inserts). A delete
# the mirror never learned of, a stale bootstrap row the incremental
# sync failed to overwrite, or a double-applied batch breaks exactly
# one column's counts.
ORACLES["q146_hudi_replication_mesh"] = """
    SELECT lang, count(*)::BIGINT AS hudi_docs,
           count(*)::BIGINT AS delta_docs,
           count(*)::BIGINT AS iceberg_docs,
           sum(n_chars)::BIGINT AS hudi_chars
    FROM (
      SELECT CASE WHEN n_chars % 7 = 3 THEN 'xx' ELSE lang END AS lang,
             n_chars
      FROM documents WHERE doc_id % 2 = 0 AND n_chars % 5 <> 2
        AND (n_chars % 7 = 3 OR n_chars % 9 <> 4)
      UNION ALL
      SELECT lang, n_chars FROM documents WHERE doc_id % 2 = 1
    ) GROUP BY lang
"""

# q147: identical cohort algebra to q141 — archival must not move a
# row in any cut; the three snapshots now resolve through the
# archive's avro blocks (only the final upsert instant stays active).
ORACLES["q147_hudi_archived_scan"] = """
    SELECT 'latest' AS snap, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM (
      SELECT CASE WHEN n_chars % 7 = 3 THEN 'xx' ELSE lang END AS lang,
             n_chars
      FROM documents WHERE doc_id % 2 = 0 AND n_chars % 5 <> 2
      UNION ALL
      SELECT lang, n_chars FROM documents WHERE doc_id % 2 = 1
    ) GROUP BY lang
    UNION ALL
    SELECT 'mid' AS snap, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM documents WHERE doc_id % 2 = 0 AND n_chars % 5 <> 2
    GROUP BY lang
    UNION ALL
    SELECT 'v0' AS snap, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
"""

# q149: the transitive relay — the q127 CDF cohort algebra recomputed
# once feeds the source column AND both mirror hops (Delta -> Hudi ->
# Iceberg); final state = delete survivors with the update's re-lang.
ORACLES["q149_lake_relay"] = """
    SELECT lang, count(*)::BIGINT AS delta_docs,
           count(*)::BIGINT AS hudi_docs,
           count(*)::BIGINT AS iceberg_docs,
           sum(n_chars)::BIGINT AS delta_chars
    FROM (
      SELECT CASE WHEN n_chars % 11 = 5 THEN 'xx' ELSE lang END AS lang,
             n_chars
      FROM documents WHERE n_chars % 7 <> 3
    ) GROUP BY lang
"""

# q148: the v3 DV lifecycle — 'latest' = delete survivors with the
# update's re-lang (the q145 cohort algebra, now resolved through
# puffin deletion vectors with the replace rule); 'v0' = the full
# pre-upgrade ingest.
ORACLES["q148_iceberg_v3_dv_scan"] = """
    SELECT 'latest' AS snap, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM (
      SELECT CASE WHEN n_chars % 7 = 3 THEN 'xx' ELSE lang END AS lang,
             n_chars
      FROM documents WHERE n_chars % 5 <> 2
    ) GROUP BY lang
    UNION ALL
    SELECT 'v0' AS snap, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM documents GROUP BY lang
"""

# q150: the nested-typed Iceberg table recomputed from the raw
# embeddings parquet — the fixture's delete (vec_id % 7 = 3) filters,
# the struct's dim re-derives as len(embedding), the decimal weight
# as the same CAST, and the component sum-of-squares re-aggregates
# from UNNEST. Aggregate-level ROUND absorbs float merge order. The
# weight sum is quantized to bigint cents on BOTH sides: r15's one
# red driver row proved a raw DECIMAL output column diverges in the
# driver's hash canonicalization even when values agree exactly.
ORACLES["q150_iceberg_nested_scan"] = """
    WITH kept AS (
      SELECT vec_id, label, embedding,
             CAST(vec_id AS DECIMAL(18,2)) AS weight
      FROM embeddings WHERE vec_id % 7 <> 3
    ),
    comp AS (
      SELECT label,
             ROUND(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 3) AS ss
      FROM (SELECT label, UNNEST(embedding) AS x FROM kept)
      GROUP BY label
    )
    SELECT k.label AS label, COUNT(*)::BIGINT AS n_vecs,
           CAST(SUM(k.weight) * 100 AS BIGINT) AS w_cents,
           SUM(len(k.embedding))::BIGINT AS dims,
           ANY_VALUE(c.ss) AS ss
    FROM kept k JOIN comp c ON k.label = c.label
    GROUP BY k.label
"""

# q151: the bounds-pruned range probe recomputed from raw parquet —
# if manifest MIN/MAX pruning ever skipped a file it shouldn't, a
# lang's count/sum/min/max moves.
ORACLES["q151_iceberg_bounds_prune"] = """
    SELECT lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars,
           min(n_chars)::BIGINT AS min_chars,
           max(n_chars)::BIGINT AS max_chars
    FROM (
      SELECT lang, length(text) AS n_chars FROM documents
    ) WHERE n_chars >= 200 AND n_chars < 400
    GROUP BY lang
"""

# q152: the Delta twin of q151 — identical recompute; a file the
# stats layer wrongly skipped moves a lang's aggregate.
ORACLES["q152_delta_stats_prune"] = """
    SELECT lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars,
           min(n_chars)::BIGINT AS min_chars,
           max(n_chars)::BIGINT AS max_chars
    FROM (
      SELECT lang, length(text) AS n_chars FROM documents
    ) WHERE n_chars >= 200 AND n_chars < 400
    GROUP BY lang
"""

# q142: the incremental face per commit ordinal — seq 0 the even
# ingest, seq 2 the odd insert, seq 3 the update blocks' rows ('xx',
# parsed back out of the avro log files); the delete instant (seq 1)
# is absent by the incremental-relation contract. A survivor leaking
# into a rewrite window, a log row emitted under the wrong instant,
# or a replayed window drifting all break the hash.
ORACLES["q142_hudi_changes"] = """
    SELECT 0 AS commit_seq, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
    UNION ALL
    SELECT 2 AS commit_seq, lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM documents WHERE doc_id % 2 = 1 GROUP BY lang
    UNION ALL
    SELECT 3 AS commit_seq, 'xx' AS lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM documents WHERE doc_id % 2 = 0 AND n_chars % 5 <> 2
                     AND n_chars % 7 = 3
"""

# q138: the reverse-replicated Delta mirror's final state — the q122
# 'latest' cohort algebra recomputed from the source view (survivors
# of the equality delete plus the resurrected %4 keys, odd upserts
# re-langed). A dead row the changelog failed to recover, a
# same-snapshot ranking bug, or a double-applied batch all move a
# per-lang sum.
ORACLES["q138_delta_mirror_scan"] = """
    SELECT lang, count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS sum_chars
    FROM (
      SELECT CASE WHEN doc_id % 2 = 1 AND n_chars % 7 = 3
                  THEN 'xx' ELSE lang END AS lang,
             n_chars
      FROM documents
      WHERE doc_id % 2 = 1
         OR n_chars % 5 <> 2
         OR doc_id % 4 = 0
    ) GROUP BY lang
"""


# --------------------------------------------------- q116: Z-ORDER layout
def _ensure_zorder_lineitem(spark: SparkSession, sf_dir: str) -> str:
    """The Z-ORDERED Delta table q116 scans: lineitem's scan columns
    written as two ingest appends (even/odd orderkeys), then
    OPTIMIZE'd with compact_delta(zorder_by=(l_quantity,
    l_extendedprice)) — the Morton-clustered rewrite
    (operators/zorder.py). The append->compact history makes the log
    load-bearing (a log-unaware glob double-counts every row), and
    the clustered layout is what the pruning test measures; q116's
    oracle is the SAME box predicate over the source view, so
    matching proves rewrite fidelity end-to-end. Same atomic-slot +
    corpus-fingerprint discipline as the other lake fixtures."""
    import json as _json
    import shutil as _shutil
    import uuid as _uuid

    from archetype_spark.sources.delta import compact_delta, write_delta

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    idx = ann_index.default_index_dir(sf_dir, "delta_lineitem_zorder")
    table = os.path.join(idx, "table")
    expect = {
        "kind": "delta_lineitem_zorder",
        "schema": 1,  # (orderkey, linenumber, quantity, extendedprice)
        "corpus": ann_index.corpus_fingerprint(li, "l_orderkey", "l_quantity"),
    }
    pfile = os.path.join(idx, "_build_params.json")
    if os.path.exists(pfile):
        try:
            with open(pfile) as fh:
                if _json.load(fh) == expect:
                    return table
        except (OSError, ValueError):
            pass
    building = os.path.join(os.path.dirname(idx), f".building-{_uuid.uuid4().hex}")
    os.makedirs(building, exist_ok=True)
    try:
        btable = os.path.join(building, "table")
        write_delta(li.filter(F.col("l_orderkey") % 2 == 0), btable)
        write_delta(
            li.filter(F.col("l_orderkey") % 2 == 1), btable, mode="append"
        )
        compact_delta(
            spark,
            btable,
            target_files=8,
            zorder_by=("l_quantity", "l_extendedprice"),
        )
        with open(os.path.join(building, "_build_params.json"), "w") as fh:
            _json.dump(expect, fh)
        _swap_slot(idx, building)
    except BaseException:
        _shutil.rmtree(building, ignore_errors=True)
        raise
    return table


def q116_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D box scan over the Z-ORDERED Delta lineitem table: quantity
    in [10, 20] AND extendedprice in [20000, 40000] — the predicate
    shape Morton clustering exists for (each rewritten file covers a
    z-rectangle, so the box overlaps few files; linear sort prunes on
    one dimension only — measured in tests/test_zorder.py). Values
    pass through the rewrite untouched, so the PURE-SQL oracle over
    the source view proves log replay + rewrite fidelity."""
    table = _ensure_zorder_lineitem(spark, sf_dir)
    from archetype_spark.sources.delta import read_delta

    return (
        read_delta(spark, table)
        .filter(
            (F.col("l_quantity") >= 10)
            & (F.col("l_quantity") <= 20)
            & (F.col("l_extendedprice") >= 20000.0)
            & (F.col("l_extendedprice") <= 40000.0)
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    )


QUERIES["q116_zorder_scan"] = q116_zorder_scan
ORACLES["q116_zorder_scan"] = """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_extendedprice BETWEEN 20000.0 AND 40000.0
    ORDER BY l_orderkey, l_linenumber
"""
