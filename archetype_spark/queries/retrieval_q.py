"""Retrieval/tokenization-tier queries (q112-q118, q125), oracle-gated.

q112: BM25 top-20 — corpus-derived query terms (top-5 tokens by
document frequency, len >= 4), Robertson k1/b scoring in integer
micro-units (operators/retrieval.py).
q113: hybrid retrieval — the BM25 ranking fused with an exact-cosine
ranking (query = the lowest-vec_id embedding) by reciprocal-rank
fusion; top-20 by fused micro-score. Exact face (full rankings).
q117: q113's bounded-depth production face — both rankings cut to
their top-1000 before ranking (TakeOrderedAndProject, no full-corpus
single-task sort); own LIMIT-then-rank oracle, top-20 pinned equal
to q113's by test.
q114: PQ asymmetric-distance top-5 neighbors over the persisted
product-quantization index (a capability extension: the reference
only BTree-indexes entity_id/step — store.py:107-108 — while its
LanceDB backend offers IVF_PQ as a library feature); its oracle
replays the integer ADC scan in
pure SQL over the SAME persisted codebook/codes parquet (the
q61/q65 conditional-oracle pattern — fit nondeterminism can never
split engines because both read one committed index).
q118: the composite IVF_PQ probe (q114's 100 TB face): coarse-cell
probing restricts the residual-ADC scan to n_probe of n_clusters
cells of the persisted composite index; same conditional-oracle
pattern, replaying probe-cell choice AND residual ADC in SQL.
q125: q118 + EXACT REFINEMENT (Faiss IndexRefineFlat shape): stage 1
surfaces refine*k candidates from the codes, stage 2 re-scores only
those against the true micro vectors and keeps the exact top-k; the
oracle replays both stages.

Column-name/type discipline: every aggregate and rank is aliased
identically here and in the SQL; every cross-engine float is either
quantized to integer micro-units before any SUM (BM25 terms, RRF
contributions, ADC distances — the q57 lesson) or derived from
micro-quantized integer vectors whose dot/sqrt/divide pipeline is
bit-identical across IEEE engines (the cosine ranking key — see
_sem_ranking; no ROUND(..,6) boundary survives anywhere)."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from archetype_spark.operators import ann_index, bpe, retrieval, similarity
from archetype_spark.tables import load

#: PQ build params (the ensure_pq/oracle contract): 64-dim embeddings
#: split into 8 subspaces of 8 dims, 16 codes each — a 64x compression
#: of the vector column (8 int8-range codes vs 64 floats). Lives here
#: next to the query + oracle so probe and maintenance can never
#: drift (the LSH_INDEX/IVF_INDEX convention in northstar.py).
PQ_INDEX = dict(m=8, n_codes=16, seed=42)


def _pq_dir(sf_dir: str) -> str:
    return ann_index.default_index_dir(sf_dir, "pq_embeddings")


#: Composite IVF_PQ build params (ensure_ivf_pq/oracle contract):
#: 16 coarse cells over the 64-dim embeddings, residuals encoded
#: 8 subspaces x 16 codes. Probes scan n_probe=4 of the 16 cells —
#: nominally 1/4 of the codes the flat-PQ scan (q114) reads.
IVF_PQ_INDEX = dict(n_clusters=16, m=8, n_codes=16, seed=42)
IVF_PQ_N_PROBE = 4


def _ivf_pq_dir(sf_dir: str) -> str:
    return ann_index.default_index_dir(sf_dir, "ivf_pq_embeddings")


#: BPE training budget (operators/bpe.py): 16 learned merges — enough
#: to fuse every hot bigram of the synthetic vocabulary while keeping
#: the ingest-time fit to 16 vocabulary-table rounds.
BPE_INDEX = dict(n_merges=16)


def _bpe_dir(sf_dir: str) -> str:
    return ann_index.default_index_dir(sf_dir, "bpe_documents")


def q112_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 against the corpus's own top-5
    document-frequency terms. The top-20 cut is orderBy+limit
    (TakeOrderedAndProject — distributed top-k, no global sort); the
    rank column is a row_number over the surviving 20 rows only."""
    docs = load(spark, sf_dir, "documents")
    top = (
        retrieval.bm25_scores(docs)
        .orderBy(F.desc("bm25_micro"), F.asc("doc_id"))
        .limit(20)
    )
    w = Window.orderBy(F.desc("bm25_micro"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("int"))
        .select("rank", "doc_id", "n_terms", "bm25_micro")
        .orderBy("rank")
    )


def _sem_ranking(emb: DataFrame, depth: int | None = None) -> DataFrame:
    """(doc_id, rank_sem): exact-cosine ranking of every embedding
    against the lowest-vec_id query vector. The ranking key is an
    exact-integer surrogate (the q113 lesson): components quantize to
    micro bigints ONCE (micro_quantize, DuckDB ROUND rule), making
    every dot product an exact integer in double regardless of
    summation order, so cosq = dot/(sqrt(nA)*sqrt(nQ)) is the same
    three correctly-rounded IEEE ops on identical integers in Spark
    and DuckDB — bit-identical, no ROUND(...,6) boundary for a 1-ulp
    engine divergence to flip adjacent ranks across.

    Built as selectExpr STRINGS (r16 VERDICT next-round #5: the
    Column-by-Column construction paid ~150 py4j round-trips at the
    sandbox's 1.5 ms RTT); the parsed trees are value-identical to
    functions.vectors.micro_quantize / dot / norm /
    cosine_prenormed, whose Column forms remain the documented
    reference."""
    # micro_quantize("embedding"): round_like_duckdb(x*1e6, 0) per
    # element, scale p = 1.0 so *1.0D/÷1.0D are exact IEEE no-ops
    micro = (
        "transform(embedding, x -> CAST("
        "FLOOR(ABS(CAST(x AS DOUBLE) * 1.0E6) * 1.0D + 0.5D) / 1.0D"
        " * (CASE WHEN CAST(x AS DOUBLE) * 1.0E6 < 0 THEN -1.0D ELSE 1.0D END)"
        " AS BIGINT))"
    )
    emq = emb.selectExpr("vec_id", f"{micro} AS _em")
    qv = emq.orderBy("vec_id").limit(1).selectExpr(
        "vec_id AS _qid", "_em AS _qm"
    )
    d = (
        "aggregate(zip_with(_em, _qm,"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, v) -> acc + v)"
    )
    na = (
        "SQRT(aggregate(_em, 0.0D,"
        " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
    )
    nq = na.replace("_em", "_qm")
    sem_scored = (
        emq.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != F.col("_qid"))
        .selectExpr(
            "vec_id",
            f"CASE WHEN {na} * {nq} > 0 THEN {d} / ({na} * {nq}) END AS cosq",
        )
    )
    return retrieval.rank_by(
        sem_scored, ["cosq"], "rank_sem", "vec_id", depth=depth
    ).select(F.col("vec_id").alias("doc_id"), "rank_sem")


def q113_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (k=60) of the full
    BM25 ranking with the full exact-cosine ranking against the
    lowest-vec_id embedding; top-20 by fused micro-score with the
    per-list ranks carried through (NULL where a doc appears in only
    one list). This is the exact (oracle) face; q117 is the
    bounded-depth production face (the q103 exact-vs-approx
    duality)."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    lex = retrieval.rank_by(
        retrieval.bm25_scores(docs).select("doc_id", "bm25_micro"),
        ["bm25_micro"],
        "rank_lex",
        "doc_id",
    ).select("doc_id", "rank_lex")
    fused = retrieval.rrf_fuse(lex, _sem_ranking(emb))
    top = fused.orderBy(F.desc("rrf_micro"), F.asc("doc_id")).limit(20)
    w = Window.orderBy(F.desc("rrf_micro"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("int"))
        .select("rank", "doc_id", "rrf_micro", "rank_lex", "rank_sem")
        .orderBy("rank")
    )


#: Bounded ranked depth for the q117 production face: both source
#: rankings cut to their top-RRF_DEPTH rows (TakeOrderedAndProject,
#: no full-corpus single-task sort). Any doc outside a list's top-D
#: forfeits at most round(1e6/(60+D)) = 943 fused micro-points —
#: far below any real top-20 fused score (two in-depth ranks).
RRF_DEPTH = 1000


def q117_hybrid_rrf_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q113's production face: identical fusion, but each source
    ranking is bounded to its top-RRF_DEPTH rows BEFORE ranking — the
    full-corpus single-task Window sorts become distributed
    TakeOrderedAndProject cuts, the 100 TB shape the retrieval module
    docstring derives. Oracle-gated on its own (the bounded semantic
    is plain LIMIT-then-rank SQL); tests pin top-20 equality with
    q113 at test scale."""
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    lex = retrieval.rank_by(
        retrieval.bm25_scores(docs).select("doc_id", "bm25_micro"),
        ["bm25_micro"],
        "rank_lex",
        "doc_id",
        depth=RRF_DEPTH,
    ).select("doc_id", "rank_lex")
    fused = retrieval.rrf_fuse(lex, _sem_ranking(emb, depth=RRF_DEPTH))
    top = fused.orderBy(F.desc("rrf_micro"), F.asc("doc_id")).limit(20)
    w = Window.orderBy(F.desc("rrf_micro"), F.asc("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("int"))
        .select("rank", "doc_id", "rrf_micro", "rank_lex", "rank_sem")
        .orderBy("rank")
    )


def q114_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-5 neighbors per vector (self excluded) over the
    persisted 8x16 product-quantization index; distances are exact
    int64 micro-unit squared-L2 sums, ranked (dist asc, id asc)."""
    emb = load(spark, sf_dir, "embeddings")
    codebook, codes = ann_index.ensure_pq(emb, _pq_dir(sf_dir), **PQ_INDEX)
    return similarity.pq_adc_topk(emb, codebook, codes, k=5)


def q118_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF_PQ top-5 neighbors per vector (self excluded) over the
    persisted composite index: probe the 4 nearest of 16 coarse cells,
    ADC-score only those cells' residual codes — ~1/4 of the codes
    q114's flat scan reads. Distances are exact int64 micro-unit
    squared-L2 sums, ranked (dist asc, id asc); the oracle replays
    probe-cell choice and the residual ADC in pure SQL over the SAME
    persisted cells/codebook/codes_long parquet (the q114 pattern —
    fit nondeterminism can never split engines because both read one
    committed index)."""
    emb = load(spark, sf_dir, "embeddings")
    cells, codebook, codes = ann_index.ensure_ivf_pq(
        emb, _ivf_pq_dir(sf_dir), **IVF_PQ_INDEX
    )
    return similarity.ivf_pq_topk(
        emb,
        cells,
        codebook,
        codes,
        k=5,
        n_probe=IVF_PQ_N_PROBE,
        index_dir=_ivf_pq_dir(sf_dir),
    )


def q125_ivf_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval over the SAME persisted IVF_PQ index q118
    probes: stage 1 surfaces refine*k = 15 candidates per vector from
    the compressed codes, stage 2 re-scores ONLY those against their
    true (micro-quantized) vectors and keeps the exact-metric top-5 —
    the production rerank shape (Faiss IndexRefineFlat) that buys
    back quantization-error misrankings for O(refine*k*dim) extra
    reads per query. The oracle replays BOTH stages in pure SQL over
    the same committed index + embeddings view."""
    emb = load(spark, sf_dir, "embeddings")
    cells, codebook, codes = ann_index.ensure_ivf_pq(
        emb, _ivf_pq_dir(sf_dir), **IVF_PQ_INDEX
    )
    return similarity.ivf_pq_rerank_topk(
        emb,
        cells,
        codebook,
        codes,
        k=5,
        refine=3,
        n_probe=IVF_PQ_N_PROBE,
        index_dir=_ivf_pq_dir(sf_dir),
    )


def q115_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document LEARNED-token budget over the persisted BPE
    artifact (operators/bpe.py): explode words, broadcast-join the
    fit-time segmentation table, SUM subtoken counts. The training
    itself is iterative (not SQL-expressible; pinned by exact
    reference-implementation equivalence in tests/test_bpe.py); this
    query verifies the artifact's USE — the oracle replays the same
    join/sum over the same persisted parquet (the q65 pattern)."""
    docs = load(spark, sf_dir, "documents")
    _merges, segments = bpe.ensure_bpe(docs, _bpe_dir(sf_dir), **BPE_INDEX)
    return bpe.bpe_token_counts(docs, segments).orderBy("doc_id")


# ------------------------------------------------------------------ oracles
#: Shared BM25 CTE block (q112 + q113): tokenization, query-term
#: derivation, tf/df/length stats, and per-doc micro-unit scoring —
#: textually ONE definition so the two oracles can never drift.
_BM25_CTES = """
        toks AS (
          SELECT doc_id, len(string_split(text, ' ')) AS dl,
                 unnest(string_split(text, ' ')) AS token
          FROM documents
        ), qterms AS (
          SELECT token, COUNT(DISTINCT doc_id) AS df
          FROM toks WHERE length(token) >= 4
          GROUP BY token ORDER BY df DESC, token LIMIT 5
        ), stats AS (
          SELECT COUNT(*) AS n_docs,
                 SUM(len(string_split(text, ' '))) AS total_dl
          FROM documents
        ), tf AS (
          SELECT t.doc_id, t.token, t.dl, COUNT(*) AS tf
          FROM toks t JOIN qterms q USING (token)
          GROUP BY t.doc_id, t.token, t.dl
        ), scored AS (
          SELECT tf.doc_id,
                 CAST(ROUND(
                   ln((s.n_docs - q.df + 0.5) / (q.df + 0.5) + 1.0)
                   * ((tf.tf * 2.2)
                      / (tf.tf + 1.2 * (0.25 + 0.75
                         * ((tf.dl * s.n_docs) / CAST(s.total_dl AS DOUBLE)))))
                   * 1000000.0, 0) AS BIGINT) AS s_micro
          FROM tf JOIN qterms q USING (token) CROSS JOIN stats s
        ), bm AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
                 CAST(SUM(s_micro) AS BIGINT) AS bm25_micro
          FROM scored GROUP BY doc_id
        )
"""

#: Shared exact-cosine CTE block (q113 + q117): embeddings quantize
#: to micro bigints ONCE (the micro_quantize rule), every dot product
#: is an exact integer in double, and cosq is three correctly-rounded
#: IEEE ops on those integers — bit-identical to the Spark plan, so
#: the sem ranking has no float rank boundary (ADVICE r9 fix).
_SEM_CTES = """
        emq AS (
          SELECT vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(ROUND(x * 1000000.0, 0) AS BIGINT)) AS em
          FROM embeddings
        ), qv AS (
          SELECT vec_id, em AS qm FROM emq ORDER BY vec_id LIMIT 1
        ), sem0 AS (
          SELECT e.vec_id,
                 list_dot_product(CAST(e.em AS DOUBLE[]), CAST(q.qm AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(e.em AS DOUBLE[]), CAST(e.em AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(q.qm AS DOUBLE[]), CAST(q.qm AS DOUBLE[])))) AS cosq
          FROM emq e CROSS JOIN qv q WHERE e.vec_id <> q.vec_id
        )
"""

#: Shared RRF fuse + top-20 tail (q113 + q117): consumes `lex`
#: (doc_id, rank_lex) and `sem` (doc_id, rank_sem) CTEs.
_RRF_TAIL = """
        , fused AS (
          SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
                 (COALESCE(CAST(ROUND(1000000.0 / (60 + l.rank_lex), 0) AS BIGINT), 0)
                  + COALESCE(CAST(ROUND(1000000.0 / (60 + s.rank_sem), 0) AS BIGINT), 0)) AS rrf_micro,
                 l.rank_lex, s.rank_sem
          FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
        )
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf_micro DESC, doc_id) AS INT) AS rank,
               doc_id, rrf_micro, rank_lex, rank_sem
        FROM fused ORDER BY rrf_micro DESC, doc_id LIMIT 20
"""

QUERIES = {
    "q112_bm25_topk": q112_bm25_topk,
    "q113_hybrid_rrf": q113_hybrid_rrf,
    "q114_pq_adc_topk": q114_pq_adc_topk,
    "q115_bpe_token_counts": q115_bpe_token_counts,
    "q117_hybrid_rrf_bounded": q117_hybrid_rrf_bounded,
    "q118_ivf_pq_topk": q118_ivf_pq_topk,
    "q125_ivf_pq_rerank": q125_ivf_pq_rerank,
}

ORACLES = {
    "q112_bm25_topk": f"""
        WITH {_BM25_CTES}
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY bm25_micro DESC, doc_id) AS INT) AS rank,
               doc_id, n_terms, bm25_micro
        FROM bm ORDER BY bm25_micro DESC, doc_id LIMIT 20
    """,
    "q113_hybrid_rrf": f"""
        WITH {_BM25_CTES}
        , {_SEM_CTES}
        , lex AS (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY bm25_micro DESC, doc_id) AS INT) AS rank_lex
          FROM bm
        ), sem AS (
          SELECT vec_id AS doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY cosq DESC, vec_id) AS INT) AS rank_sem
          FROM sem0
        )
        {_RRF_TAIL}
    """,
    "q117_hybrid_rrf_bounded": f"""
        WITH {_BM25_CTES}
        , {_SEM_CTES}
        , lex AS (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY bm25_micro DESC, doc_id) AS INT) AS rank_lex
          FROM bm ORDER BY bm25_micro DESC, doc_id LIMIT 1000
        ), sem AS (
          SELECT vec_id AS doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY cosq DESC, vec_id) AS INT) AS rank_sem
          FROM sem0 ORDER BY cosq DESC, vec_id LIMIT 1000
        )
        {_RRF_TAIL}
    """,
}


def pq_oracle(sf_dir: str, require_live_index: bool = True) -> str | None:
    """DuckDB SQL replaying q114's ADC scan over the SAME persisted PQ
    index (codebook.centroid_micro + codes_long), built per-sf_dir
    because the index path and subspace width come from the committed
    _params.json. Every arithmetic step is integer-exact: quantized
    query micro-vectors, per-subspace squared-L2 via
    qq - 2qc + cc on values far inside double's 2^53 exact-integer
    range, and a bigint SUM across subspaces. Returns None when the
    index isn't on disk yet (rows-only degrade, the q61 contract)."""
    idx = _pq_dir(sf_dir)
    params_path = os.path.join(idx, "_params.json")
    if not os.path.isfile(params_path):
        # Unlike the static oracles, this one is underivable without
        # the committed params (subspace width), so a cold checkout
        # degrades to rows-only regardless of require_live_index.
        return None
    with open(params_path) as fh:
        params = json.load(fh)
    ds = params["dim"] // params["m"]
    return f"""
        WITH book AS (
          SELECT CAST(m AS INT) AS m, CAST(code AS INT) AS code,
                 CAST(centroid_micro AS BIGINT[]) AS cm
          FROM read_parquet('{idx}/codebook/*.parquet')
        ), q AS (
          SELECT vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(ROUND(x * 1000000.0, 0) AS BIGINT)) AS qm
          FROM embeddings
        ), lut AS (
          SELECT q.vec_id, b.m, b.code,
                 CAST(list_dot_product(CAST(q.qm[(b.m*{ds}+1):(b.m*{ds}+{ds})] AS DOUBLE[]),
                                       CAST(q.qm[(b.m*{ds}+1):(b.m*{ds}+{ds})] AS DOUBLE[]))
                    - 2 * list_dot_product(CAST(q.qm[(b.m*{ds}+1):(b.m*{ds}+{ds})] AS DOUBLE[]),
                                           CAST(b.cm AS DOUBLE[]))
                    + list_dot_product(CAST(b.cm AS DOUBLE[]), CAST(b.cm AS DOUBLE[]))
                   AS BIGINT) AS d2
          FROM q CROSS JOIN book b
        ), cl AS (
          SELECT id, CAST(m AS INT) AS m, CAST(code AS INT) AS code
          FROM read_parquet('{idx}/codes_long/**/*.parquet', hive_partitioning=true)
        ), dists AS (
          SELECT l.vec_id, c.id AS other_vec_id,
                 CAST(SUM(l.d2) AS BIGINT) AS dist_micro
          FROM cl c JOIN lut l ON l.m = c.m AND l.code = c.code
          WHERE c.id <> l.vec_id
          GROUP BY l.vec_id, c.id
        ), ranked AS (
          SELECT vec_id, other_vec_id, dist_micro,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY dist_micro, other_vec_id) AS rnk
          FROM dists
        )
        SELECT vec_id, CAST(rnk AS INT) AS rank, other_vec_id, dist_micro
        FROM ranked WHERE rnk <= 5 ORDER BY vec_id, rank
    """


def ivf_pq_oracle(
    sf_dir: str,
    require_live_index: bool = True,
    rerank: tuple[int, int] | None = None,
) -> str | None:
    """DuckDB SQL replaying q118's two-level probe over the SAME
    persisted composite index: probe-cell choice (n_probe smallest
    int64 micro squared-L2 to the persisted cell centroid_micro, cell
    tie-break), then residual ADC over codes_long restricted to the
    probed cells. The residual LUT term ||(qs - cs) - b||^2 expands
    into six dot products of available integer lists (qq + cc + bb
    - 2qc - 2qb + 2cb) — every term an exact integer in double (micro
    values <= ~1e6, subspace width 8 => partial sums << 2^53), so
    dist_micro is bit-identical to the Spark kernel's int64 math.
    With `rerank=(k, refine)` the stage-1 cut widens to refine*k and
    a refinement block re-scores those candidates on the exact micro
    squared-L2 between the true vectors (q125's two-stage shape).
    Returns None when the index isn't on disk yet (rows-only degrade,
    the q61/q114 contract)."""
    idx = _ivf_pq_dir(sf_dir)
    params_path = os.path.join(idx, "_params.json")
    if not os.path.isfile(params_path):
        # Underivable without the committed params (subspace width),
        # so a cold checkout degrades to rows-only regardless of
        # require_live_index (the q114 contract).
        return None
    with open(params_path) as fh:
        params = json.load(fh)
    ds = params["dim"] // params["m"]
    n_probe = IVF_PQ_N_PROBE

    def dd(a: str, b: str) -> str:
        return f"list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"

    qs = f"p.qm[(b.m*{ds}+1):(b.m*{ds}+{ds})]"
    cs = f"p.cm[(b.m*{ds}+1):(b.m*{ds}+{ds})]"
    if rerank is None:
        tail = """
        SELECT vec_id, CAST(rnk AS INT) AS rank, other_vec_id, dist_micro
        FROM ranked WHERE rnk <= 5 ORDER BY vec_id, rank"""
    else:
        k_, refine_ = rerank
        # stage-2 exact distance between the TRUE micro vectors: the
        # qq - 2qc + cc expansion keeps every term an exact integer
        # in double (dim * (≈e6)^2 << 2^53)
        tail = f""", cand AS (
          SELECT vec_id, other_vec_id FROM ranked
          WHERE rnk <= {k_ * refine_}
        ), exact AS (
          SELECT c.vec_id, c.other_vec_id,
                 CAST({dd('q1.qm', 'q1.qm')} - 2 * {dd('q1.qm', 'q2.qm')}
                      + {dd('q2.qm', 'q2.qm')} AS BIGINT) AS dist_micro
          FROM cand c
          JOIN q q1 ON q1.vec_id = c.vec_id
          JOIN q q2 ON q2.vec_id = c.other_vec_id
        ), rr AS (
          SELECT vec_id, other_vec_id, dist_micro,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY dist_micro, other_vec_id) AS rnk
          FROM exact
        )
        SELECT vec_id, CAST(rnk AS INT) AS rank, other_vec_id, dist_micro
        FROM rr WHERE rnk <= {k_} ORDER BY vec_id, rank"""
    return f"""
        WITH cells AS (
          SELECT CAST(cell AS INT) AS cell,
                 CAST(centroid_micro AS BIGINT[]) AS cm
          FROM read_parquet('{idx}/cells/*.parquet')
        ), q AS (
          SELECT vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> CAST(ROUND(x * 1000000.0, 0) AS BIGINT)) AS qm
          FROM embeddings
        ), cd AS (
          SELECT q.vec_id, q.qm, c.cell, c.cm,
                 CAST({dd('q.qm', 'q.qm')} - 2 * {dd('q.qm', 'c.cm')}
                      + {dd('c.cm', 'c.cm')} AS BIGINT) AS d2c
          FROM q CROSS JOIN cells c
        ), probe AS (
          SELECT vec_id, qm, cell, cm FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                          ORDER BY d2c, cell) AS rn
            FROM cd
          ) WHERE rn <= {n_probe}
        ), book AS (
          SELECT CAST(m AS INT) AS m, CAST(code AS INT) AS code,
                 CAST(centroid_micro AS BIGINT[]) AS bm
          FROM read_parquet('{idx}/codebook/*.parquet')
        ), lut AS (
          SELECT p.vec_id, p.cell, b.m, b.code,
                 CAST({dd(qs, qs)} + {dd(cs, cs)} + {dd('b.bm', 'b.bm')}
                      - 2 * {dd(qs, cs)} - 2 * {dd(qs, 'b.bm')}
                      + 2 * {dd(cs, 'b.bm')} AS BIGINT) AS d2
          FROM probe p CROSS JOIN book b
        ), cl AS (
          SELECT id, CAST(cell AS INT) AS cell,
                 CAST(m AS INT) AS m, CAST(code AS INT) AS code
          FROM read_parquet('{idx}/codes_long/**/*.parquet', hive_partitioning=true)
        ), dists AS (
          SELECT l.vec_id, c.id AS other_vec_id,
                 CAST(SUM(l.d2) AS BIGINT) AS dist_micro
          FROM cl c JOIN lut l
            ON l.cell = c.cell AND l.m = c.m AND l.code = c.code
          WHERE c.id <> l.vec_id
          GROUP BY l.vec_id, c.id
        ), ranked AS (
          SELECT vec_id, other_vec_id, dist_micro,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY dist_micro, other_vec_id) AS rnk
          FROM dists
        ){tail}
    """


def bpe_oracle(sf_dir: str, require_live_index: bool = True) -> str | None:
    """DuckDB SQL replaying q115's token counting over the SAME
    persisted segmentation table: explode words, left-join the
    vocabulary, SUM n_subtokens with the chars+1 fallback for unseen
    words (unreachable under ensure_bpe's fingerprint, mirrored for
    totality). Returns None when the artifact isn't on disk yet
    (rows-only degrade, the q61 contract)."""
    idx = _bpe_dir(sf_dir)
    if require_live_index and not os.path.isdir(idx):
        return None
    return f"""
        WITH seg AS (
          SELECT word, n_subtokens
          FROM read_parquet('{idx}/segments/**/*.parquet', hive_partitioning=true)
        ), toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents
        )
        SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(COALESCE(s.n_subtokens, length(t.word) + 1)) AS BIGINT) AS n_bpe_tokens
        FROM toks t LEFT JOIN seg s USING (word)
        GROUP BY t.doc_id ORDER BY doc_id
    """


# Same-JVM A/B pair (`bench.py --ab q113`): full-corpus global-window
# ranking vs the bounded-depth TakeOrderedAndProject face. Top-20
# rows identical at every tested scale (the forfeited tail is <= 943
# fused micro-points per list at D=1000); the crossover is corpus
# size — the full face funnels every per-doc row through ONE sort
# task, the bounded face never materializes a full-corpus ordering.
from archetype_spark.queries.northstar import AB_VARIANTS  # noqa: E402

AB_VARIANTS["q113"] = {
    "full_rank": q113_hybrid_rrf,
    "bounded_depth": q117_hybrid_rrf_bounded,
}
