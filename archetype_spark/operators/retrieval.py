"""Lexical (BM25) retrieval and reciprocal-rank fusion.

Capability extension beyond the reference: the reference itself does
no retrieval — its only index calls are BTree on entity_id/step
(reference archetype/core/store.py:107-108) — though its LanceDB
backend ships vector search as a library capability. A training-data
pipeline needs retrieval on BOTH sides — BM25 scoring for
retrieval-based quality filtering and dataset-vs-benchmark leak
triage, plus a fusion rule to combine lexical and embedding rankings
into one hybrid retrieval. This module adds both as plain DataFrame
plans: BM25 (Robertson/Sparck Jones,
k1/b form) and reciprocal-rank fusion (Cormack & Clarke, SIGIR'09:
score = sum 1/(k + rank_i)).

Hash-gating discipline (the q57/q89 lesson): every float expression is
evaluated ONCE per (doc, term) — idf x tf-saturation — then quantized
to integer micro-units (round(score * 1e6), DuckDB ROUND semantics)
and summed as exact bigints, so cross-engine float accumulation order
can never split the oracle. RRF contributions quantize the same way
(round(1e6 / (k + rank))). The only libm call is one ln per query
term; its 1-ulp engine variance matters only within 1e-12 of a
rounding boundary.

Scale shape: the query-term set is a handful of rows broadcast below
the token explode, so the only full-corpus shuffle keyed on
(doc, term) carries rows for query terms alone — everything else is
narrow scans plus one-row stat broadcasts. The rankings RRF consumes
come from rank_by, which has two faces: the exact full ranking
(global row_number — a single-task sort, the oracle face) and the
bounded-depth production face (rank_by(depth=D): TakeOrderedAndProject
top-D, no full-corpus single-task stage — every rank beyond D = 2e6
contributes 0 micro after rounding, and depths beyond ~1e4 contribute
<= 16 micro, so bounding D is a rounding-exact cut, not an
approximation knob).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F



def _round_like_duckdb(col: F.Column, scale: int) -> F.Column:
    # operators -> queries imports stay function-local (the textstats
    # layering convention); resolved once at first call.
    from archetype_spark.queries.relational import round_like_duckdb

    return round_like_duckdb(col, scale)


#: BM25 constants (the standard Robertson defaults). (k1 + 1) is kept
#: as the literal 2.2 — NOT computed as k1 + 1 — so the Spark plan and
#: the SQL oracle parse the identical double.
BM25_K1 = 1.2
BM25_K1_PLUS_1 = 2.2
BM25_B = 0.75
#: RRF smoothing constant (Cormack & Clarke use 60).
RRF_K = 60

#: Ceiling on the derived-term when-chain literal fold (guide §7.3:
#: one plan node per term re-creates the planning-cost trap the
#: simhash packed-counter fix removed). At or under the cutoff the
#: fold wins execution time (r16 batch 11c measurements); past it
#: bm25_scores attaches df via a broadcast join of the same collected
#: rows. The token isin() filter stays in both regimes — it plans as
#: a single InSet predicate regardless of term count.
_LITERAL_FOLD_MAX_TERMS = 64


def _tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, dl, token): one row per token occurrence, each carrying the
    document's token count so downstream aggs never need a second join
    back to the document table.

    No fan_out (r17): the unconditional repartition shuffled the WHOLE
    corpus to feed a stage whose output the query-term isin filter
    immediately cuts to a handful of rows — at 100 TB that is a full
    payload shuffle for nothing (guide §2.4), and locally the
    split+explode runs faster in the scan stage than the round-robin
    exchange costs (same-JVM bm25 medians 0.97 -> 0.91, rows
    identical). The only shuffle left is the (doc, term) groupBy's
    own, carrying query-term occurrences alone."""
    w = F.split(F.col(text_col), " ")
    return docs.select(
        F.col(id_col),
        F.size(w).alias("dl"),
        F.explode(w).alias("token"),
    )


def derive_query_terms(
    docs: DataFrame,
    n_terms: int = 5,
    min_token_len: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The corpus's own top-`n_terms` tokens by document frequency
    (ties by token), restricted to tokens of at least `min_token_len`
    chars — a deterministic, regeneration-proof query-term set derived
    from the data instead of hard-coded literals. Returns
    (token, df)."""
    # df = number of DOCS containing the token: dedup per document in
    # codegen (array_distinct on the split array) and count plain
    # rows, instead of explode-everything + countDistinct — the
    # distinct aggregate plans as TWO exchanges (partial on
    # (token, doc), re-agg on token) where this shape needs ONE, with
    # map-side partial counts (guide §2.3 "aggregate before you
    # shuffle"). Values identical by construction.
    # No fan_out (r17): partial aggregation distributes on the scan's
    # natural width; the round-robin exchange of the raw docs cost
    # more than the whole single-stage derivation locally (collect
    # job 0.42 -> 0.18 s, rows identical) and is a full-corpus
    # shuffle at scale (guide §2.4).
    w = F.split(F.col(text_col), " ")
    return (
        docs
        .select(F.explode(F.array_distinct(w)).alias("token"))
        .filter(F.length("token") >= min_token_len)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(n_terms)
    )


def bm25_scores(
    docs: DataFrame,
    terms: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document BM25 against a query-term set: (id_col, n_terms,
    bm25_micro) for every document matching at least one term.

    bm25_micro = SUM over matched terms of
        round(1e6 * idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)))
    with idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1) (the Lucene
    non-negative form) and dl/avgdl expanded as (dl * N) / total_dl so
    both engines divide exact integers exactly once.

    Shuffle audit: `terms` broadcasts below the token explode, so the
    one wide aggregation — groupBy (doc, term, dl) — carries only
    query-term occurrences; corpus stats (N, total token count) are a
    one-row broadcast crossJoin; df rides along on the broadcast term
    rows. No join is keyed on anything wider than (doc, term).

    CONSTRUCTION-TIME EAGER when terms is None: the derived term set
    is collected (one bounded Spark job) while the DataFrame is being
    BUILT, and the term/df values are frozen into the plan as
    literals. Build and execute against the same sf_dir snapshot —
    if the underlying table changes between construction and
    execution the folded df values describe the old snapshot
    (ADVICE r16 low; acceptable under the documented collect-cap
    discipline, noted here so callers can't miss it)."""
    literal_df = None
    if terms is None:
        # Materialize the derived term set (n_terms rows of bounded
        # metadata — the documented collect-cap discipline, same
        # class as the IVF centroid reads): the lazy frame would
        # otherwise be referenced by TWO broadcast builds whose
        # projections differ, each re-running the full corpus
        # token-explode + top-k subtree (guide §7.4: "compute the
        # small side first"). With the rows in hand, fold them into
        # the plan as LITERALS — an isin() filter over the token
        # explode and a when-chain for df — so the scoring pass needs
        # no broadcast exchange or hash probe at all (guide §1.2:
        # per-task work after the shape is right). Values are exactly
        # the derived rows.
        derived = derive_query_terms(
            docs, id_col=id_col, text_col=text_col
        ).collect()
        literal_df = {r["token"]: int(r["df"]) for r in derived}
    toks = _tokens(docs, id_col, text_col)
    stats = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col(text_col), " "))).alias("total_dl"),
    )
    if literal_df is not None:
        matched = toks.filter(F.col("token").isin(*literal_df))
    else:
        matched = toks.join(F.broadcast(terms.select("token")), "token")
    tf = matched.groupBy(id_col, "token", "dl").agg(
        F.count(F.lit(1)).alias("tf")
    )
    if literal_df is not None and len(literal_df) <= _LITERAL_FOLD_MAX_TERMS:
        # the when-chain as ONE CASE string inside the batched
        # selectExpr below (last-collected term outermost, matching
        # the F.when(...).otherwise(prev) nesting this replaces)
        # (backslash is the SQL literal escape: doubled first, or a
        # token like `a\b` reads as another string and loses its score)
        case = "CAST(NULL AS BIGINT)"
        for tok, dfv in literal_df.items():
            esc = tok.replace("\\", "\\\\").replace("'", "''")
            case = (
                f"CASE WHEN token = '{esc}' THEN CAST({int(dfv)} AS BIGINT) "
                f"ELSE {case} END"
            )
        df_sql = "df"
        scored_src = tf.withColumn("df", F.expr(case)).crossJoin(
            F.broadcast(stats)
        )
    elif literal_df is not None:
        # Past the cutoff the when-chain is the §7.3 planning-cost
        # trap the simhash fix removed (one plan node per term);
        # attach df by broadcast-joining the collected rows instead.
        term_rows = F.broadcast(
            docs.sparkSession.createDataFrame(
                [(t, d) for t, d in literal_df.items()], "token string, df long"
            )
        )
        df_sql = "df"
        scored_src = tf.join(term_rows, "token").crossJoin(F.broadcast(stats))
    else:
        df_sql = "df"
        scored_src = tf.join(F.broadcast(terms), "token").crossJoin(
            F.broadcast(stats)
        )
    # Scoring tail as ONE selectExpr string (r16 VERDICT next-round
    # #5: the Column-by-Column form cost ~130 py4j round-trips per
    # construction at the sandbox's 1.5 ms RTT). The parsed tree is
    # value-identical to the Column chain it replaces:
    #   ratio = (dl * n_docs) / CAST(total_dl AS DOUBLE)
    #     -- integer product exact in double, ONE correctly-rounded
    #     -- division, identical bits in Spark and DuckDB
    #   idf   = ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
    #   sat   = (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * ratio))
    #   s_micro = round_like_duckdb(idf * sat * 1e6, 0)  (p = 1.0,
    #     so the *1.0/÷1.0 steps are exact IEEE no-ops)
    s = (
        f"LN((n_docs - {df_sql} + 0.5D) / ({df_sql} + 0.5D) + 1.0D)"
        f" * ((tf * {BM25_K1_PLUS_1!r}D) / (tf + {BM25_K1!r}D *"
        f" ({1.0 - BM25_B!r}D + {BM25_B!r}D *"
        f" ((dl * n_docs) / CAST(total_dl AS DOUBLE))))) * 1.0E6"
    )
    scored = scored_src.selectExpr(
        "`" + id_col.replace("`", "``") + "`",
        f"CAST(FLOOR(ABS({s}) * 1.0D + 0.5D) / 1.0D *"
        f" (CASE WHEN {s} < 0 THEN -1.0D ELSE 1.0D END) AS BIGINT)"
        " AS s_micro",
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("s_micro").alias("bm25_micro"),
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "doc_id",
    rank_a_col: str = "rank_lex",
    rank_b_col: str = "rank_sem",
    k: int = RRF_K,
) -> DataFrame:
    """Reciprocal-rank fusion of two rankings (id_col, <rank col>):
    full outer join on the id, each present rank contributing
    round(1e6 / (k + rank)) micro-points — ids absent from one list
    simply lack that term (Cormack & Clarke's rule). Returns
    (id_col, rrf_micro, rank_a_col, rank_b_col) with absent ranks
    NULL."""

    def _contrib(col: str) -> F.Column:
        return F.coalesce(
            _round_like_duckdb(
                F.lit(1e6) / (F.lit(k) + F.col(col)), 0
            ).cast("bigint"),
            F.lit(0).cast("bigint"),
        )

    fused = ranked_a.join(ranked_b, id_col, "full_outer")
    return fused.select(
        F.col(id_col),
        (_contrib(rank_a_col) + _contrib(rank_b_col)).alias("rrf_micro"),
        F.col(rank_a_col),
        F.col(rank_b_col),
    )


def rank_by(
    df: DataFrame,
    order_cols: list,
    rank_col: str,
    tie_col: str,
    depth: int | None = None,
) -> DataFrame:
    """Row_number ranking by (order_cols desc-first, tie_col asc).

    depth=None — the full-ranking (oracle) face: a global Window,
    i.e. ONE task sorts every already-reduced per-doc row. Exact, but
    a wall at corpus scale.

    depth=D — the production face: orderBy+limit(D) first, which
    Spark plans as TakeOrderedAndProject (distributed per-partition
    top-D + driver merge, NO full-corpus single-task sort), then rank
    only the D survivors (the residual Window sorts <= D rows). The
    top-D rows' ranks are identical to the full ranking's; docs
    beyond D drop out, costing a downstream RRF consumer at most
    round(1e6/(k + D)) micro-points per list — <= 943 at D=1000,
    <= 16 at D=6e4, exactly 0 past ~2e6 (rounding kills the tail)."""
    order = [*[F.desc(c) for c in order_cols], F.asc(tie_col)]
    src = df if depth is None else df.orderBy(*order).limit(int(depth))
    w = Window.orderBy(*order)
    return src.withColumn(rank_col, F.row_number().over(w).cast("int"))
