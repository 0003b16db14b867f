"""Deterministic random projection of embedding columns — the
dimensionality-reduction pre-step of a large-scale similarity stack
(project 64-dim vectors to k dims before LSH/IVF candidate
generation; Johnson-Lindenstrauss distance preservation with a
sign-matrix, Achlioptas 2003).

Design constraints, in order:

1. **Portable determinism.** The projection matrix is derived from
   sha256 of "rp:<seed>:<d>:<j>" — any engine reproduces the exact
   matrix from the seed alone, so a DuckDB oracle (or a future
   re-ingest on different hardware) replays the projection
   bit-for-bit. No RNG state is stored or shipped.
2. **Integer exactness.** Inputs quantize to integer micro-units
   (round(x * 1e6), DuckDB ROUND half-away-from-zero semantics,
   mirrored exactly below) and the projection is an INTEGER
   sign-sum — no float accumulation, so the result is
   order-independent and identical across engines, batch sizes and
   partitionings. (A float dot product differs in the last ulp by
   summation order — the q57 lesson, solved the same way: micro-unit
   integers.)
3. **Narrow at scale.** The production path is one Arrow-batched
   mapInPandas GEMM per partition (int64 matmul against the k×d sign
   matrix) — zero shuffles, zero joins; the matrix is rebuilt from
   the seed inside each worker (512 ints — cheaper to rederive than
   to broadcast).

The reference's stack delegates vector indexing to LanceDB, which
applies (opaque, trained) PQ transforms to the same end; this is the
engine-portable, seed-reproducible counterpart.
"""

from __future__ import annotations

import hashlib
import sys

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # pyspark vendors cloudpickle; plain cloudpickle as fallback
    from pyspark.cloudpickle import register_pickle_by_value
except ImportError:  # pragma: no cover
    from cloudpickle import register_pickle_by_value

register_pickle_by_value(sys.modules[__name__])


def sign_matrix(dim: int, k: int, seed: int = 0) -> np.ndarray:
    """The (dim, k) ±1 matrix: entry (d, j) is +1 iff the first hex
    nibble of sha256('rp:<seed>:<d>:<j>') is even. DuckDB computes the
    identical entry as
    ('0x' || substr(sha256('rp:<seed>:' || d || ':' || j), 1, 1))
    ::UBIGINT % 2 = 0."""
    m = np.empty((dim, k), dtype=np.int64)
    for d in range(dim):
        for j in range(k):
            nib = hashlib.sha256(f"rp:{seed}:{d}:{j}".encode()).hexdigest()[0]
            m[d, j] = 1 if int(nib, 16) % 2 == 0 else -1
    return m


def _quantize(x: np.ndarray) -> np.ndarray:
    """round(x * 1e6) with DuckDB ROUND semantics (half away from
    zero), as exact int64."""
    scaled = x.astype(np.float64) * 1e6
    return np.where(
        scaled >= 0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5)
    ).astype(np.int64)


def random_sign_projection(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    seed: int = 0,
) -> DataFrame:
    """Project `vec_col` (array<float>) to k integer dimensions:
    proj[j] = sum_d round(vec[d] * 1e6) * sign(d, j). Returns
    (id_col, proj: array<bigint>) — micro-unit scale; divide by 1e6
    (and 1/sqrt(k) if unit-norm JL scaling is wanted) downstream.

    One narrow mapInPandas stage; the plan adds no exchange, so the
    projection fuses onto whatever scan/stage already reads the
    vectors — the shape that matters when this runs ahead of ANN
    indexing over 100 TB of embeddings."""
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("proj", T.ArrayType(T.LongType(), False), False),
        ]
    )

    def project(batches):
        mat = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = np.stack(pdf[vec_col].to_numpy())
            if mat is None:
                mat = sign_matrix(vecs.shape[1], k, seed)
            proj = _quantize(vecs) @ mat
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "proj": list(proj)}
            )

    return df.select(id_col, vec_col).mapInPandas(project, schema=out_schema)


def projection_distance_preserved(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    seed: int = 0,
) -> DataFrame:
    """Diagnostic: per-row squared norms in original vs projected
    space (micro-unit scale) for JL-quality eyeballing; E[|Px|^2] =
    k * |x|^2 for a ±1 sign matrix. orig_sq quantizes each coordinate
    with the SAME half-away-from-zero rounding as the projection's
    `_quantize`, so both norms measure one quantization of the
    vector and the JL ratio is exact."""
    proj = random_sign_projection(df, id_col, vec_col, k, seed)

    def _q(x):  # half away from zero, matching _quantize
        s = (x * 1e6).cast("double")
        return (
            F.when(s >= 0, F.floor(s + F.lit(0.5)))
            .otherwise(F.ceil(s - F.lit(0.5)))
            .cast("bigint")
        )

    orig = df.select(
        id_col,
        F.aggregate(
            F.transform(vec_col, lambda x: _q(x) * _q(x)),
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, v: acc + v.cast("decimal(38,0)"),
        ).alias("orig_sq"),
    )
    pr = proj.select(
        id_col,
        F.aggregate(
            F.transform("proj", lambda p: p * p),
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, v: acc + v.cast("decimal(38,0)"),
        ).alias("proj_sq"),
    )
    return orig.join(pr, id_col)


def _band_gemm_candidates(
    coded_vec: DataFrame, k: int, margin: float
) -> DataFrame:
    """Per-(band, code) bucket GEMM candidate pairs for signcode_topk:
    one normalized numpy matrix product per bucket, emitting each
    member's top-(k within `margin`) same-bucket neighbors as
    unordered id pairs. The merge property makes this exact for a
    downstream global top-k: any pair in a vector's final top-k
    shares at least one bucket with it, and inside that bucket fewer
    than k members can outrank it (every bucket-mate outranking it is
    itself a candidate), so the pair survives the bucket's own top-k
    cut. The margin covers f64-GEMM-vs-exact-fold drift plus the
    round-6 tie window (the _gemm_candidate_pairs superset argument);
    per member the k smallest other ids are always included, so
    NULL-cosine (zero-norm) tail ranks survive pruning. Candidates
    only — callers re-score every pair with the exact JVM fold.

    Scale shape: replaces scoring ~(bucket_pop)^2 pairs per bucket in
    the JVM with one BLAS product per bucket plus a top-k cut — the
    shuffle carries each vector once per band instead of each
    candidate PAIR once, which is the smaller volume whenever buckets
    hold more than ~2*n_bands members (always, past toy scale)."""
    kk, mg = int(k), float(margin)

    def gen(pdf):
        import numpy as _np
        import pandas as _pd

        empty = _pd.DataFrame(
            {
                "_cand_a": _pd.Series([], dtype="int64"),
                "_cand_b": _pd.Series([], dtype="int64"),
            }
        )
        n = len(pdf)
        if n < 2:
            return empty
        ids = pdf["_id"].to_numpy(_np.int64)
        M = _np.stack([_np.asarray(v, dtype=_np.float64) for v in pdf["_v"]])
        nrm = _np.linalg.norm(M, axis=1)
        nz = nrm > 0
        Mn = _np.zeros_like(M)
        Mn[nz] = M[nz] / nrm[nz, None]
        take = min(kk, n - 1)
        # smallest-ids extras (NULL-tail rule): every member always
        # emits pairs with the k+1 smallest ids present (self rows
        # filtered below), covering zero-norm members and short
        # finite tails exactly like _gemm_candidate_pairs
        order = _np.argsort(ids)
        small = order[: min(kk + 1, n)]
        out_q = [_np.repeat(_np.arange(n), small.size)]
        out_a = [_np.tile(small, n)]
        block = 2048
        for s in range(0, n, block):
            S = Mn[s : s + block] @ Mn.T
            S[:, ~nz] = -_np.inf
            S[~nz[s : s + block], :] = -_np.inf
            S[_np.arange(S.shape[0]), _np.arange(s, s + S.shape[0])] = -_np.inf
            kth = -_np.partition(-S, take - 1, axis=1)[:, take - 1]
            band = (S >= kth[:, None] - mg) & _np.isfinite(S)
            qi, aj = _np.nonzero(band)
            out_q.append(qi + s)
            out_a.append(aj)
        qi = _np.concatenate(out_q)
        aj = _np.concatenate(out_a)
        keep = qi != aj
        a, b = ids[qi[keep]], ids[aj[keep]]
        return _pd.DataFrame(
            {"_cand_a": _np.minimum(a, b), "_cand_b": _np.maximum(a, b)}
        ).drop_duplicates()

    return coded_vec.select("_band", "_code", "_id", "_v").groupBy(
        "_band", "_code"
    ).applyInPandas(gen, "_cand_a long, _cand_b long")


def signcode_topk(
    emb: DataFrame,
    k: int = 3,
    code_bits: int = 4,
    n_bands: int = 4,
    seed: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    auto_max_bytes: int | None = None,
) -> DataFrame:
    """Sign-code banded ANN: the projection's downstream purpose,
    end-to-end. The vector projects to n_bands * code_bits integer
    dimensions (one `random_sign_projection` call — the same portable
    integer projection q85 verifies, so every blocking key is
    engine-exact by construction); each band's `code_bits` signs form
    a bucket code (random-hyperplane LSH); candidates are pairs
    sharing ANY band's bucket (OR-amplification — a single band's
    ~(1 - θ/π)^bits recall compounds to 1-(1-p^bits)^bands, the
    standard banded-LSH S-curve); exact round-6 cosine re-ranks and
    keeps the top-k per vector.

    Returns (vec_id, rank, other_vec_id, cos_sim) — the q30 schema,
    restricted to banded candidates.

    Scale: candidates group on (band, code) — a bucket population of
    ~n / 2^code_bits per band (size the bits to the corpus), each
    bucket one BLAS product that emits only per-member top-(k within
    margin) pairs; pair dedup across bands is a distinct on the
    8-byte id pair; scoring attaches vectors by id (broadcast while
    the corpus fits the similarity budget, shuffle joins past it);
    ranking is a per-vector window over candidate rows only. The
    projection adds no exchange."""
    proj = random_sign_projection(
        emb, id_col, vec_col, k=n_bands * code_bits, seed=seed
    )
    # static literal band codes (code_bits/n_bands are Python ints):
    # plain codegen arithmetic, no higher-order lambdas
    band_codes = F.array(
        *[
            sum(
                (
                    F.when(
                        F.element_at("proj", b * code_bits + j + 1) >= 0,
                        F.lit(1 << j),
                    ).otherwise(F.lit(0))
                    for j in range(code_bits)
                ),
                F.lit(0),
            )
            for b in range(n_bands)
        ]
    )
    coded = proj.select(
        F.col(id_col).alias("_id"),
        F.posexplode(band_codes).alias("_band", "_code"),
    )
    from archetype_spark.operators.similarity import (
        AUTO_BROADCAST_MAX_BYTES,
        GEMM_MARGIN,
        _estimate_build_bytes,
        _exact_pairs_from_candidates,
    )

    budget = (
        AUTO_BROADCAST_MAX_BYTES if auto_max_bytes is None else auto_max_bytes
    )
    est = _estimate_build_bytes(emb, vec_col)
    # Per-bucket GEMM candidates (r16): attach the vector to each
    # coded row and run one BLAS product per (band, code) bucket,
    # emitting only per-member top-(k within margin) pairs — a
    # (band, code) self-join scored EVERY same-bucket pair in the JVM
    # (~pop^2/2 per bucket; 465k exact folds at sf0.1) when the
    # downstream window can only ever keep k of them. Shuffle volume
    # is one vector copy per band instead of one row per candidate
    # pair (smaller whenever buckets hold more than ~2*n_bands
    # members); exactness is the merge property + the margin-superset
    # argument (_band_gemm_candidates docstring).
    evec = emb.select(F.col(id_col).alias("_eid"), F.col(vec_col).alias("_v"))
    if est <= budget:
        evec = F.broadcast(evec)
    coded_vec = coded.join(evec, F.col("_id") == F.col("_eid"))
    cand = _band_gemm_candidates(coded_vec, k=k, margin=GEMM_MARGIN).dropDuplicates()
    # Re-rank through the shared budget-gated broadcast scorer (the
    # GEMM tier's funnel): candidate rows carry only two 8-byte ids
    # through the shuffle; vectors attach map-side from the broadcast
    # while the corpus fits the similarity budget (id-keyed shuffle
    # joins are the documented fallback past it — same trade as
    # similarity.topk_bruteforce's tiers).
    once = _exact_pairs_from_candidates(
        emb, cand, id_col, vec_col, max_bytes=budget, est_bytes=est
    )
    # Mirror via a 2-element explode, NOT a self-union: a union's two
    # branches each re-evaluate the whole candidate+scoring subtree
    # (the projection mapInPandas ran TWICE in the executed plan —
    # 19 parquet scans for one query); the explode emits both
    # directions from one pass of the scored rows.
    scored = once.select(
        F.explode(
            F.array(
                F.struct("vec_id", "other_vec_id", "cos_sim"),
                F.struct(
                    F.col("other_vec_id").alias("vec_id"),
                    F.col("vec_id").alias("other_vec_id"),
                    F.col("cos_sim"),
                ),
            )
        ).alias("_m")
    ).select("_m.*")
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_sim"), F.asc("other_vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "rank", "other_vec_id", "cos_sim")
        .orderBy("vec_id", "rank")
    )
