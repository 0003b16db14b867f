"""Deduplication operators over the `documents` table ([N] north-star).

Five strategies, cheapest-first; all are pure DataFrame plans — the
expensive ones (pairwise jaccard) are *blocked* so no unbounded cross
join ever appears in the plan:

1. exact          — dropDuplicates on the raw columns
2. content-hash   — sha256 of normalized text; canonical keeper =
                    min id per hash (one shuffle on a 32-byte key;
                    at 100 TB this beats comparing full text bodies)
3. n-gram Jaccard — exact set similarity via shingle inverted index:
                    explode distinct shingles -> self-equi-join on
                    shingle -> per-pair intersection counts. The join
                    key is the shingle, so only docs sharing >=1
                    shingle ever meet — this is the blocking.
4. MinHash + LSH  — signature = min over shingles of xxhash64(s, seed_i);
                    band the signature, candidate pairs = equi-join on
                    (band_idx, band_hash); estimate jaccard as matching
                    signature fraction. Scales to 100 TB: cost is
                    O(docs x num_hashes) + a join keyed on band hashes.
5. SimHash        — 63-bit weighted-token fingerprint; near-dup =
                    small hamming distance, banded for blocking.

The reference has no dedup operator (its dependency surface has
`distinct`, SURVEY §2.2 aggregation row); these are the [N] additions.
"""

from __future__ import annotations

import os
import random
import sys

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from archetype_spark.functions.text import shingles, tokens
from archetype_spark.operators.util import fan_out

try:  # pyspark vendors cloudpickle; plain cloudpickle as fallback
    from pyspark.cloudpickle import register_pickle_by_value
except ImportError:  # pragma: no cover
    from cloudpickle import register_pickle_by_value

# The portable signature kernel runs in Python workers, which may not
# be able to import this package (consumer cwd outside the repo).
register_pickle_by_value(sys.modules[__name__])

#: Modulus of the portable MinHash family: Mersenne prime 2^31-1. With
#: a 28-bit base hash and 31-bit coefficients, a*h+b < 2^60 — no 64-bit
#: overflow in ANY engine (DuckDB BIGINT arithmetic errors on overflow
#: rather than wrapping, so staying under 2^63 is a correctness
#: requirement of the oracle, not a nicety).
MINHASH_P = (1 << 31) - 1


def minhash_coeffs(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Seeded (a, b) pairs of the universal family h_i = (a*h+b) mod P.
    Deterministic: the DuckDB oracle embeds the same literals."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]


def exact_dedup(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Exact duplicate removal (Q29 semantics)."""
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()


def content_hash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append a sha256 hex digest of the whitespace-normalized text."""
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return df.withColumn("content_sha", F.sha2(norm, 256))


def hash_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep one canonical row (min id) per content hash. The shuffle
    key is the 64-hex digest, not the document body."""
    hashed = content_hash(df, text_col)
    w_min = F.min(id_col).alias("_keep_id")
    keepers = hashed.groupBy("content_sha").agg(w_min)
    return (
        hashed.join(keepers, "content_sha")
        .filter(F.col(id_col) == F.col("_keep_id"))
        .drop("_keep_id", "content_sha")
    )


def _doc_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, shingle) exploded pairs + per-doc distinct-shingle counts.
    Fanned out first: shingling is the per-row-expensive stage and
    single-file inputs would otherwise run it in one task."""
    return fan_out(df).select(
        F.col(id_col).alias("_id"), shingles(text_col, n).alias("_sh")
    ).withColumn("_n_sh", F.size("_sh"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard over distinct n-gram shingles for every doc pair
    sharing at least one shingle. Returns (doc_id, other_doc_id,
    jaccard) with doc_id < other_doc_id, jaccard rounded to 6.

    Scale: the self-join is keyed on xxhash64 of the shingle, not the
    shingle string — an 8-byte shuffle/compare key instead of a
    multi-word text key (the same digest-for-body trade hash_dedup
    and q57 make: agreement with raw-string equality is exact absent
    64-bit collisions, ~n_distinct^2/2^65 — immaterial below ~1e8
    distinct shingles per skew domain; the DuckDB oracle keeps the
    raw-string join as the semantic ground truth the digest must
    match). Frequency-skewed shingles are the remaining hazard — AQE
    skew-join handles moderate skew; for web-scale corpora set
    `max_shingle_df`.

    max_shingle_df (the stop-shingle knob): drop shingles appearing
    in more than this many documents BEFORE the self-join, and
    compute Jaccard exactly over the REDUCED shingle universe (both
    the intersection and the per-doc set sizes exclude stop
    shingles — the IR stopword-removal semantics, deterministic and
    SQL-expressible). A boilerplate shingle shared by k documents
    contributes k² join rows; at web scale a single hot navigation
    string is a straggler task AQE can only split, not shrink.
    Filtering costs one extra aggregation + semi-join on the shingle
    hash and removes the quadratic term at its source; pairs sharing
    ONLY stop shingles (boilerplate-overlap, the classic false
    positive) stop surfacing at all. Off (None) by default — the
    oracle-gated corpus query (q36) runs the unfiltered exact form.
    """
    docs = _doc_shingles(df, id_col, text_col, n)
    # explode_OUTER on purpose: a plain explode lets
    # InferFiltersFromGenerate push `size(_sh) > 0` (with the whole
    # shingle tree inlined) below the fan-out exchange into a one-task
    # map-side filter (same trap as the band hash in minhash_lsh_pairs).
    # Outer generate implies no non-empty constraint; the inner equi-
    # join on _s drops the null rows of empty docs anyway — which is
    # why the hash wrap must preserve NULL (xxhash64 of a NULL input
    # is a constant, and empty docs must NOT join each other).
    ex = docs.select("_id", "_n_sh", F.explode_outer("_sh").alias("_s0")).select(
        "_id",
        "_n_sh",
        F.when(F.col("_s0").isNotNull(), F.xxhash64("_s0")).alias("_s"),
    )
    if max_shingle_df is not None:
        # Same barrier as below, one stage earlier: the stop-shingle
        # machinery references `ex` three times (DF count, semi-join
        # probe, per-doc recount) and each reference otherwise
        # re-runs the shingling Generate (3 Generate stages in the
        # executed q73 plan). Partitioning by `_s` here also
        # pre-positions the DF aggregation and the semi-join.
        ex = ex.repartition(
            df.sparkSession.sparkContext.defaultParallelism, F.col("_s")
        )
        keep = (
            ex.groupBy("_s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("_s")
        )
        ex = ex.join(keep, "_s", "left_semi")
        # set sizes must match the reduced universe: recount per doc
        n_sh = ex.groupBy("_id").agg(F.count(F.lit(1)).alias("_n_sh2"))
        ex = ex.drop("_n_sh").join(n_sh, "_id").withColumnRenamed("_n_sh2", "_n_sh")
    # Exchange barrier on the join key BEFORE the self-join (the
    # minhash_pairs_from_signatures pattern): without it each side of
    # the self-join re-runs the whole shingling subtree (the broadcast
    # build side re-shingles the corpus — observed in the executed
    # plan as two Generate stages over one ReusedExchange). With it
    # both aliases read ONE computed exchange, and since the exchange
    # is hashpartitioned on `_s` the join itself needs no further
    # shuffle. Measured same-JVM at sf0.1: q36 1.31->1.24 s,
    # q73 1.61->1.50 s, rows identical.
    ex = ex.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col("_s")
    )
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a._s") == F.col("b._s")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(
            F.col("a._id").alias("doc_id"),
            F.col("b._id").alias("other_doc_id"),
            F.col("a._n_sh").alias("_na"),
            F.col("b._n_sh").alias("_nb"),
        )
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    jac = F.round(
        F.col("_c").cast("double") / (F.col("_na") + F.col("_nb") - F.col("_c")), 6
    ).alias("jaccard")
    return (
        inter.select("doc_id", "other_doc_id", jac)
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_id", "other_doc_id")
    )


def minhash_signature(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, sig: array<bigint>) MinHash signatures. Empty-shingle docs
    get an empty signature and never produce candidates.

    hash_family:
    - 'xxhash64' (default): slot i = min over shingles of
      xxhash64(shingle, i) — JVM-native, no Python.
    - 'portable': one sha256-prefix base hash per shingle (a JVM
      expression), then the universal family (a_i*h + b_i) mod 2^31-1
      per slot in ONE Arrow-batched mapInPandas numpy kernel
      (`_portable_minhash`) — any engine reproduces the exact
      signature. A kernel, not 64 nested F.transform lambdas: those
      evaluate interpreted, and same-JVM A/B of q40 (`bench.py --ab`,
      local[3], 5 reps) read 1.71 -> 1.04 s at sf0.01 and
      7.85 -> 1.34 s at sf0.1 for the kernel, signatures identical.
      The oracle-gated corpus query (q40) uses it.

    The shingle array (and the portable base-hash array) is
    materialized in its own projection BEFORE the signature
    expression: inlining would re-evaluate the whole subtree once per
    hash slot (64x per row — observed as a multi-minute single-task
    stage at sf0.1)."""
    shingled = fan_out(df).select(
        F.col(id_col).alias("_id"), shingles(text_col, shingle_n).alias("_sh")
    )
    if hash_family == "xxhash64":
        sig = F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda i: F.array_min(
                F.transform(F.col("_sh"), lambda s: F.xxhash64(s, i))
            ),
        )
        return shingled.select(
            "_id",
            F.when(F.size("_sh") > 0, sig)
            .otherwise(F.array().cast("array<bigint>"))
            .alias("_sig"),
        )
    based = shingled.select(
        "_id",
        F.transform(
            F.col("_sh"),
            lambda s: F.conv(F.substring(F.sha2(s, 256), 1, 7), 16, 10).cast(
                "bigint"
            ),
        ).alias("_bh"),
    )
    coeffs = np.array(minhash_coeffs(num_hashes), dtype=np.int64)
    out_schema = T.StructType(
        [
            based.schema["_id"],
            T.StructField("_sig", T.ArrayType(T.LongType(), True), False),
        ]
    )

    def kernel(batches):
        for pdf in batches:
            bh = pdf["_bh"].to_numpy()
            lengths = np.fromiter((len(x) for x in bh), np.int64, len(bh))
            flat = np.concatenate(bh) if len(bh) else np.empty(0, np.int64)
            sig = _portable_minhash(flat, lengths, coeffs)
            yield pd.DataFrame({"_id": pdf["_id"], "_sig": sig})

    return based.mapInPandas(kernel, schema=out_schema)


def _portable_minhash(
    base: np.ndarray, lengths: np.ndarray, coeffs: np.ndarray
) -> list[np.ndarray]:
    """Portable-family signatures of a batch of documents: document d
    owns the next lengths[d] entries of `base` (its shingles' 28-bit
    base hashes), and slot i of its signature is
    min over those h of (a_i*h + b_i) mod MINHASH_P, for the (a_i, b_i)
    rows of `coeffs`. Documents with no shingles get [].

    Exact in int64: h < 2^28 and a, b < 2^31, so a*h + b < 2^60.
    Working memory is a few S-length vectors (S = len(base)): the
    slots are a loop, never a (num_hashes x S) matrix, which at
    10k-token documents would be gigabytes per Arrow batch.

    Private on purpose: the kernel ships to workers by value, so this
    name must resolve to the function itself. Timing wrappers around
    the module's public functions (perfbench's tracer) close over the
    SparkContext, which cannot be pickled."""
    starts = (np.cumsum(lengths) - lengths)[lengths > 0]
    sig = np.empty((len(starts), len(coeffs)), dtype=np.int64)
    if len(starts):
        for i, (a, b) in enumerate(coeffs):
            sig[:, i] = np.minimum.reduceat((a * base + b) % MINHASH_P, starts)
    rows = iter(sig)
    empty = np.empty(0, dtype=np.int64)
    return [next(rows) if n else empty for n in lengths]


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs: returns (doc_id,
    other_doc_id, est_jaccard) where est_jaccard = fraction of equal
    signature slots, for candidate pairs that collide in >=1 band.

    rows_per_band = num_hashes/bands tunes the S-curve; 64/16 -> 4
    targets jaccard ~0.5+. All hashing is columnar; the only shuffles
    are the band-key join and the final distinct.
    """
    assert num_hashes % bands == 0
    # Filter short docs on the CHEAP precondition (token count) before
    # signatures exist. Filtering on size(_sig)>0 afterwards lets
    # Catalyst push that predicate below the fan-out exchange, inlining
    # the whole 64-slot signature tree into a map-side filter that runs
    # in one task (observed: 214s single-task stage at sf0.1, with the
    # signatures then recomputed after the shuffle anyway).
    eligible = df.filter(F.size(tokens(text_col)) >= shingle_n)
    sigs = minhash_signature(
        eligible, id_col, text_col, num_hashes, shingle_n, hash_family
    )
    return minhash_pairs_from_signatures(sigs, num_hashes, bands, threshold)


def minhash_pairs_from_signatures(
    sigs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    id_col: str = "_id",
    sig_col: str = "_sig",
) -> DataFrame:
    """Banding + estimate stage of MinHash-LSH over an EXISTING
    signature table — either the in-flight projection
    minhash_lsh_pairs builds, or a PERSISTED (id, sig) parquet table
    maintained at ingest (operators/ann_index.py ensure_minhash, the
    LanceDB create-index-once lifecycle): at 100 TB signatures are
    computed once when a document arrives, while dedup sweeps re-run
    the cheap banding join against the stored table many times."""
    assert num_hashes % bands == 0
    rpb = num_hashes // bands
    sigs = sigs.select(F.col(id_col).alias("_id"), F.col(sig_col).alias("_sig"))
    # Exchange barrier AFTER the signature projection: the banded
    # stage below references `_sig` five times (4 band-slot
    # element_at's + the carry-through), and without a barrier the
    # optimizer inlines the whole signature tree into each reference —
    # the signature was measured recomputing ~5x per doc at sf0.1
    # (3.3s -> 2.3s for the portable family with the barrier; rows
    # identical). One round-robin shuffle of (id, 64-slot sig) rows is
    # strictly smaller than the banded-explode shuffle that follows,
    # so at 100 TB this trades a recompute-per-reference for a
    # fraction of an exchange already being paid. For a parquet-backed
    # signature table the same repartition is the fan-out that keeps a
    # small-file scan from running the banding in one task.
    sigs = sigs.repartition(sigs.sparkSession.sparkContext.defaultParallelism)
    # Explode a LITERAL band-index sequence first, then hash the band's
    # rpb signature slots per exploded row. Exploding a computed
    # array-of-hashes instead looks equivalent but is a trap:
    # InferFiltersFromGenerate derives `size(bands_array) > 0`, and
    # predicate pushdown substitutes the whole signature tree into a
    # filter below the fan-out exchange — 64 signature evaluations per
    # row in a single map task (observed: 214s one-task stage at
    # sf0.1). A literal sequence folds the inferred filter away.
    # Band key: xxhash64 over the band's slots for BOTH families — an
    # 8-byte join key either way. The oracle joins on slot-tuple
    # equality directly; agreement is exact absent 64-bit collisions
    # (the key never reaches the output, so a collision could only add
    # a candidate pair, which the est_jaccard filter then re-checks
    # against the full signature — a collision-admitted pair below
    # threshold is still dropped, making the emitted set fully
    # collision-immune unless a colliding pair ALSO matches >=
    # threshold slots by chance).
    band_slots = [
        F.element_at("_sig", F.col("_band_idx") * rpb + j + 1) for j in range(rpb)
    ]
    band_key = F.xxhash64(*band_slots, F.col("_band_idx"))
    banded = sigs.select(
        "_id", "_sig", F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("_band_idx")
    ).withColumn("_bh", band_key)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._band_idx") == F.col("b._band_idx"))
            & (F.col("a._bh") == F.col("b._bh"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("doc_id"),
            F.col("b._id").alias("other_doc_id"),
            F.col("a._sig").alias("_sa"),
            F.col("b._sig").alias("_sb"),
        )
        .dropDuplicates(["doc_id", "other_doc_id"])
    )
    est = F.round(
        F.aggregate(
            F.zip_with("_sa", "_sb", lambda x, y: F.when(x == y, 1).otherwise(0)),
            F.lit(0),
            lambda acc, v: acc + v,
        ).cast("double")
        / F.lit(num_hashes),
        6,
    ).alias("est_jaccard")
    return (
        cand.select("doc_id", "other_doc_id", est)
        .filter(F.col("est_jaccard") >= threshold)
        .orderBy("doc_id", "other_doc_id")
    )


def ingest_dedup(
    spark,
    batch: DataFrame,
    table_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = False,
) -> DataFrame:
    """Incremental-dedup ingest (VERDICT r3 ask #9): the composed
    entry point a pipeline user calls per arriving batch —

      1. fingerprint the batch (functions/text.py: xxhash64 fast path,
         or the sha256-prefix portable family when an external engine
         must reproduce the table);
      2. collapse in-batch duplicates to the canonical keeper
         (min id per fingerprint — same policy as hash_dedup);
      3. anti-join survivors against the ALREADY-INGESTED fingerprints;
      4. append only the new rows to `table_path`.

    Returns the appended rows (id, fingerprint, text columns), already
    materialized. Re-ingesting any previously-seen batch appends 0
    rows (idempotence is property-tested).

    Scale shape: the anti-join is keyed on the 8-byte fingerprint, so
    the shuffle moves (fingerprint, id) of the EXISTING corpus — the
    column-pruned scan reads one bigint column of the table, never the
    text bodies (exactly the content-hash-dedup trade). The append
    itself is parquet mode=append: at 100 TB you'd funnel it through a
    transactional table format; the dedup algebra is identical.
    """
    from archetype_spark.functions.text import fingerprint60_portable, fingerprint64

    fp = (fingerprint60_portable if portable else fingerprint64)(text_col)
    stamped = batch.withColumn("fingerprint", fp)
    # min-id keeper per fingerprint as ONE fingerprint-keyed window
    # (the hash_dedup shape) instead of agg + join-back — the join
    # form re-shuffled both sides on the same key the aggregation
    # just used (guide §2.4: operations keyed the same way should
    # share one exchange). Same keeper set: ids are unique, so
    # row_number(id asc) == 1 IS the min-id row.
    w = Window.partitionBy("fingerprint").orderBy(F.col(id_col).asc())
    batch_uniq = (
        stamped.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if os.path.isdir(table_path):
        seen = spark.read.parquet(table_path).select("fingerprint")
        fresh = batch_uniq.join(seen, "fingerprint", "left_anti")
    else:
        fresh = batch_uniq
    out_cols = [id_col, "fingerprint"] + [
        c for c in batch.columns if c not in (id_col, "fingerprint")
    ]
    # localCheckpoint BEFORE the append: `fresh`'s lineage reads
    # table_path (the seen-fingerprint scan), so writing to the same
    # path from the live plan would race its own input; pinning also
    # keeps the returned frame valid after the append. LAZY: the
    # count() below is the first action and materializes (and
    # truncates) the checkpoint in the same job — two jobs per batch
    # instead of three, with the pin still in place before the write.
    fresh = fresh.select(*out_cols).localCheckpoint(eager=False)
    if fresh.count() > 0:
        fresh.write.mode("append").parquet(table_path)
    return fresh


#: Bits per SimHash fingerprint by family. xxhash64: 63 (bit 63 left
#: clear to stay in signed int64 under ANSI mode). portable: 60 — the
#: sha256-prefix hash any engine reproduces is 15 hex chars = 60 bits.
SIMHASH_BITS = {"xxhash64": 63, "portable": 60}


def simhash63(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash fingerprint: bit_j = sign of sum over tokens of
    (+1 if bit j of hash(token) else -1).

    hash_family: 'xxhash64' (fastest, JVM-native — the default) or
    'portable' (first 15 hex chars of sha256 as a 60-bit int), which a
    DuckDB oracle computes identically — the oracle-gated corpus query
    (q41) uses it."""
    bits = SIMHASH_BITS[hash_family]
    tok = tokens(text_col)
    if hash_family == "xxhash64":
        hfn = lambda t: F.xxhash64(t)
    else:
        hfn = lambda t: F.conv(
            F.substring(F.sha2(t, 256), 1, 15), 16, 10
        ).cast("bigint")
    # Explode + SUM groupBy, deliberately: a shuffle-free per-row
    # formulation (60 F.aggregate folds over a materialized hash
    # array) was benchmarked at sf0.1 and is ~20% SLOWER — higher-
    # order LambdaFunction expressions evaluate interpreted, while
    # this shape keeps hashing + votes inside whole-stage codegen.
    # The shuffle it pays is only per-doc partial-agg rows,
    # negligible against the hash work.
    #
    # Two vote-compression steps (both bit-identical to the naive
    # ±1-sum, which remains the oracle's SQL form):
    # 1. ONES-counts instead of ±1 sums: sign(sum ±1) > 0 ⟺
    #    2*ones_j > n_tokens — drops the ±1 CASE per (token, bit).
    # 2. PACKED counters: three 21-bit ones-counts per 64-bit SUM
    #    slot (bit j contributes (h>>j & 1) << (k*21)), so the agg
    #    carries bits/3 sum columns instead of `bits` — measured
    #    2.13 s → 1.69 s for the portable signature at sf0.1.
    # Packing bound: a counter saturates at 2^21-1 tokens; documents
    # past 2M tokens would corrupt neighbor counters, so such rows
    # raise loudly (raise_error) instead of fingerprinting wrong —
    # split degenerate multi-MB docs upstream (they have no
    # meaningful single fingerprint anyway).
    # Fingerprint assembly, r16: the unrolled 60-term
    # when(ones*2>nt)<<j ADD chain was measured costing ~1.3 s of
    # DRIVER time per execution — analysis/optimization/codegen walk
    # the O(bits)-node tree on every fresh plan (same-object
    # re-execution ran 0.59 s where a rebuilt plan ran 1.92 s). The
    # vote unpack now runs as ONE higher-order aggregate over the
    # packed-counter array: the lambda body is a constant-size tree,
    # and interpreted evaluation only touches #docs rows (the
    # CLAUDE.md higher-order caveat applies to per-token-occurrence
    # work — the per-TOKEN explode+SUM phase stays in codegen
    # unchanged). Same-JVM A/B: fingerprint stage 2.10 -> 0.75 s at
    # sf0.1, fingerprints bit-identical.
    ex = fan_out(df).select(
        F.col(id_col).alias("_id"), F.explode(tok).alias("_t")
    ).withColumn("_h", hfn(F.col("_t")))
    groups = [list(range(j, min(j + 3, bits))) for j in range(0, bits, 3)]
    packed = []
    for gi, g in enumerate(groups):
        expr = None
        for k, j in enumerate(g):
            term = F.shiftleft(F.shiftright("_h", j).bitwiseAND(F.lit(1)), k * 21)
            expr = term if expr is None else expr + term
        packed.append(F.sum(expr).alias(f"_p{gi}"))
    agg = ex.groupBy("_id").agg(F.count(F.lit(1)).alias("_nt"), *packed)
    parr = F.array(*[F.col(f"_p{gi}") for gi in range(len(groups))])
    # bit j lives in packed slot (j DIV 3) at offset (j % 3)*21 —
    # groups are consecutive triples, so the arithmetic mapping holds
    # for any `bits`. 2097151 = 2^21 - 1, the counter mask.
    fp = F.expr(
        f"""aggregate(sequence(0, {bits - 1}), CAST(0 AS BIGINT),
          (acc, j) -> acc + shiftleft(
            CASE WHEN (shiftright(element_at(_parr, CAST(j DIV 3 AS INT) + 1),
                                  (j % 3) * 21) & 2097151) * 2 > _nt
                 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END, j))"""
    )
    guarded = F.when(F.col("_nt") < F.lit(1 << 21), fp).otherwise(
        F.raise_error(
            F.lit("simhash packed votes overflow: document exceeds 2^21 tokens")
        ).cast("bigint")
    )
    return agg.withColumn("_parr", parr).select("_id", guarded.alias("simhash"))


def simhash_pairs_from_fingerprints(
    fps: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    hash_family: str = "xxhash64",
    id_col: str = "_id",
    fp_col: str = "simhash",
) -> DataFrame:
    """The SimHash SWEEP alone, over an already-fingerprinted frame —
    the production shape when fingerprints persist as index state
    (ann_index.ensure_simhash, the q65 pattern applied to SimHash):
    banding, the pigeonhole candidate join and the exact
    bit_count(xor) hamming filter all run over stored 8-byte
    fingerprints; the token-vote computation (the expensive stage)
    happens once at ingest, never per sweep."""
    fps = fps.select(F.col(id_col).alias("_id"), F.col(fp_col).alias("simhash"))
    width = (SIMHASH_BITS[hash_family] + 1) // bands
    banded = fps.select(
        "_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", b * width).bitwiseAND(F.lit((1 << width) - 1))
                    for b in range(bands)
                ]
            )
        ).alias("_band_idx", "_bv"),
    )
    # Exchange barrier before the self-join (the minhash_lsh_pairs /
    # ngram_jaccard_pairs pattern): without it BOTH aliases re-run the
    # upstream fingerprint pipeline (token hashing + vote aggregation
    # — the expensive stage) from the scan; with it the second alias
    # is a ReusedExchange of one computed banding.
    banded = banded.repartition("_band_idx", "_bv")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._band_idx") == F.col("b._band_idx"))
            & (F.col("a._bv") == F.col("b._bv"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("doc_id"),
            F.col("b._id").alias("other_doc_id"),
            F.col("a.simhash").alias("_fa"),
            F.col("b.simhash").alias("_fb"),
        )
        .dropDuplicates(["doc_id", "other_doc_id"])
    )
    hamming = F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb"))).alias("hamming")
    return (
        cand.select("doc_id", "other_doc_id", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("doc_id", "other_doc_id")
    )


def simhash_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs: block on any equal band of the
    fingerprint (pigeonhole: hamming<=bands-1 guarantees one clean
    band), then filter by exact hamming via bit_count(xor).
    Fingerprints are computed inline (ad-hoc frames); a corpus
    queried repeatedly should persist them (ann_index.ensure_simhash)
    and sweep with simhash_pairs_from_fingerprints."""
    fps = simhash63(df, id_col, text_col, hash_family)
    return simhash_pairs_from_fingerprints(
        fps, max_hamming=max_hamming, bands=bands, hash_family=hash_family
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Shingle CONTAINMENT (Broder's asymmetric cousin of Jaccard):
    for every doc pair sharing a shingle, c(A in B) = |A∩B| / |A| —
    the signal Jaccard structurally misses: a short document wholly
    embedded in a long one (quote farms, article+comments mirrors,
    wrapper pages) has tiny Jaccard (union is the long doc) but
    containment ~1 for the short side. Emits (doc_id, other_doc_id,
    containment, other_containment, max_containment) for unordered
    pairs (doc_id < other_doc_id) with max_containment >= threshold;
    ratios round to 6 with DuckDB semantics so both engines gate on
    the identical rounded value (the q36 pair-oracle alignment).

    Scale: identical shape to `ngram_jaccard_pairs` — the pair join
    keys on the shingle's xxhash64 (8-byte key), candidate pairs are
    blocked by shared shingles, and the per-pair intersection count
    is one map-side-combinable aggregation. Same skew caveats; the
    stop-shingle knob belongs upstream if boilerplate shingles
    dominate."""
    from archetype_spark.queries.relational import round_like_duckdb

    docs = _doc_shingles(df, id_col, text_col, n)
    ex = docs.select("_id", "_n_sh", F.explode_outer("_sh").alias("_s0")).select(
        "_id",
        "_n_sh",
        F.when(F.col("_s0").isNotNull(), F.xxhash64("_s0")).alias("_s"),
    )
    # NO exchange barrier here, unlike ngram_jaccard_pairs: AQE already
    # reuses the pre-explode stage across the two aliases, and the
    # shingle explode + hash projection are cheap to re-run relative
    # to shuffling the exploded rows (same-JVM A/B at sf0.1: a `_s`
    # barrier read 1.80 -> 2.10 s — regression, reverted).
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a._s") == F.col("b._s")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(
            F.col("a._id").alias("doc_id"),
            F.col("b._id").alias("other_doc_id"),
            F.col("a._n_sh").alias("_na"),
            F.col("b._n_sh").alias("_nb"),
        )
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    c_ab = round_like_duckdb(F.col("_c").cast("double") / F.col("_na"), 6)
    c_ba = round_like_duckdb(F.col("_c").cast("double") / F.col("_nb"), 6)
    return (
        inter.select(
            "doc_id",
            "other_doc_id",
            c_ab.alias("containment"),
            c_ba.alias("other_containment"),
            F.greatest(c_ab, c_ba).alias("max_containment"),
        )
        .filter(F.col("max_containment") >= threshold)
        .orderBy("doc_id", "other_doc_id")
    )


def minhash_containment_from_signatures(
    sigs: DataFrame,
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.45,
    shingle_n: int = 3,
    id_col: str = "id",
    sig_col: str = "sig",
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Containment estimates for the pairs the MinHash index
    surfaces — the duplicate-TYPE classifier: a symmetric mirror has
    both directed containments ~J, while a subset embed pushes the
    short side's containment toward 1. From the estimated Jaccard
    (recovered exactly as the integer slot-match count m =
    est * num_hashes — every num_hashes-th is exact at 6 decimals)
    and the exact per-doc shingle-set sizes:
    est_inter = m * (na + nb) / (num_hashes + m), containment_a =
    est_inter / na — all products exact integers, one double
    division, both engines identical.

    Scope honesty: this classifies pairs ABOVE the Jaccard gate. A
    low-J subset pair (tiny doc inside a huge one) never reaches the
    banded candidate stage — that regime belongs to the exact blocked
    tier (`containment_pairs`) or a dedicated containment sketch.

    Scale: the pair sweep is q65's banded join over the persisted
    signature table; the size attach is one narrow per-doc
    projection joined on the 8-byte id — no new shuffle shape."""
    from archetype_spark.queries.relational import round_like_duckdb

    pairs = minhash_pairs_from_signatures(
        sigs,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        id_col=id_col,
        sig_col=sig_col,
    )
    if "n_sh" in sigs.columns:
        # sig_schema 2 indexes carry the size — no corpus re-shingle
        sizes = sigs.select(
            F.col(id_col).alias("_szid"), F.col("n_sh").cast("bigint").alias("_n")
        )
    else:
        sizes = docs.select(
            F.col(doc_id_col).alias("_szid"),
            F.size(shingles(text_col, shingle_n)).cast("bigint").alias("_n"),
        )
    m = F.round(F.col("est_jaccard") * num_hashes).cast("bigint")
    est_inter_num = m * (F.col("_na") + F.col("_nb"))
    den = F.lit(num_hashes) + m
    c_a = round_like_duckdb(
        est_inter_num.cast("double") / (den * F.col("_na")).cast("double"), 6
    )
    c_b = round_like_duckdb(
        est_inter_num.cast("double") / (den * F.col("_nb")).cast("double"), 6
    )
    return (
        pairs.join(
            sizes.withColumnRenamed("_szid", "_ida").withColumnRenamed("_n", "_na"),
            F.col("doc_id") == F.col("_ida"),
        )
        .join(
            sizes.withColumnRenamed("_szid", "_idb").withColumnRenamed("_n", "_nb"),
            F.col("other_doc_id") == F.col("_idb"),
        )
        .select(
            "doc_id",
            "other_doc_id",
            "est_jaccard",
            c_a.alias("est_containment"),
            c_b.alias("other_est_containment"),
        )
        .orderBy("doc_id", "other_doc_id")
    )
