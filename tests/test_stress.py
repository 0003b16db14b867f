"""Opt-in 10x stress suite (SPARK_GRAFT_STRESS=1): the hostile
corpus behind SCALE.md's Measured Headroom section, reproducible —
50k docs (sf0.1 x 10 copies, so every doc has 9 exact near-dups),
every doc prefixed with one shared boilerplate line (a key hot in
ALL docs), 20k embeddings. Skipped by default: it adds minutes and
its purpose is headroom regression checks, not correctness (the
oracle corpus owns correctness).

This suite is what caught the unsized-local-JVM-heap OOM (see
session.get_spark): keep it runnable.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_STRESS") != "1",
    reason="set SPARK_GRAFT_STRESS=1 to run the 10x stress suite",
)

SF = "/root/testdata/sf0.1"


@pytest.fixture(scope="module")
def stress_docs(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("stress") / "documents.parquet"
    d = spark.read.parquet(f"{SF}/documents.parquet")
    copies = d.crossJoin(
        F.broadcast(spark.range(10).withColumnRenamed("id", "copy"))
    )
    big = copies.select(
        (F.col("doc_id") + F.col("copy") * 1_000_000).alias("doc_id"),
        F.concat(
            F.lit("this site uses cookies accept to continue "), F.col("text")
        ).alias("text"),
        "lang",
    )
    big.repartition(8).write.parquet(str(out))
    return spark.read.parquet(str(out))


def test_stress_hotkey_cleaning(stress_docs):
    """Hot-key paragraph dedup and line removal complete on 50k docs
    with one key hot in every doc; the hot paragraph survives exactly
    once corpus-wide."""
    from archetype_spark.operators import cleaning

    w = F.split(F.col("text"), " ")
    nch = F.ceil(F.size(w) / F.lit(4.0)).cast("int")
    lined = stress_docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), nch),
                lambda i: F.array_join(F.slice(w, (i - 1) * 4 + 1, 4), " "),
            ),
            "\n",
        ).alias("text"),
    )
    deduped = cleaning.dedup_paragraphs(lined)
    agg = deduped.agg(
        F.sum("n_paras").alias("np"), F.sum("n_kept").alias("nk")
    ).collect()[0]
    assert agg["np"] > agg["nk"] > 0
    cleaned = cleaning.remove_boilerplate_lines(lined, max_line_df=3)
    # the injected hot line is boilerplate everywhere: no doc keeps it
    kept_hot = cleaned.filter(
        F.col("text").contains("this site uses cookies")
    ).count()
    assert kept_hot == 0


@pytest.fixture(scope="module")
def long_docs(spark):
    """64 book-length documents (10k tokens each, deterministic token
    stream varying per doc) plus an exact-duplicate partner for the
    first 8 — document LENGTH stress, complementing stress_docs'
    corpus-SIZE stress (r7 only scaled size; chunking, packing, span
    corruption, shingling and the per-doc windows all have
    length-dependent cost)."""
    base = spark.range(64).select(
        (F.col("id") + 5_000_000).alias("doc_id"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.lit(10_000)),
                lambda t: F.concat(
                    F.lit("w"),
                    ((t * 2654435761 + F.col("id") * 97) % 4999).cast(
                        "string"
                    ),
                ),
            ),
            " ",
        ).alias("text"),
        F.lit("en").alias("lang"),
    )
    dups = base.filter(F.col("doc_id") < 5_000_008).select(
        (F.col("doc_id") + 1_000).alias("doc_id"), "text", "lang"
    )
    return base.unionAll(dups).cache()


def test_stress_long_doc_chunk_pack(long_docs):
    """Chunking and exact-budget packing stay linear and correct on
    10k-token documents: full token coverage, exact budget cuts."""
    from archetype_spark.operators import packing

    ch = packing.chunk_documents(long_docs, window=512, stride=384)
    agg = ch.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.max("chunk_tokens").alias("max_ct"),
    )
    rows = agg.collect()
    # 1 + ceil((10000 - 512) / 384) = 26 chunks per doc
    assert all(r["n_chunks"] == 26 and r["max_ct"] == 512 for r in rows)
    pk = packing.pack_exact_sequences(long_docs, budget=2048)
    seq_tot = (
        pk.groupBy("lang", "seq_id")
        .agg(F.sum("piece_tokens").alias("t"))
        .collect()
    )
    # every sequence exactly at budget except the shard's last
    assert sum(1 for r in seq_tot if r["t"] != 2048) <= 1
    assert sum(r["t"] for r in seq_tot) == 72 * 10_000


def test_stress_long_doc_span_corruption(long_docs):
    """Both sentinel-numbering formulations agree on book-length
    documents; the exploded (linear) one is the documented scale path
    and must complete here without blowing memory."""
    from archetype_spark.operators import packing

    key = ("doc_id", "n_blocks", "n_masked", "input_text", "target_text")
    outs = {
        n: {
            tuple(r[c] for c in key)
            for r in packing.span_corruption(long_docs, numbering=n).collect()
        }
        for n in ("narrow", "exploded")
    }
    assert outs["narrow"] == outs["exploded"]
    one = next(iter(outs["narrow"]))
    assert one[1] == pytest.approx(3334, abs=1)  # ceil(10000/3) blocks


def test_stress_long_doc_minhash(long_docs):
    """Shingling + banded MinHash on 10k-token docs: the planted
    exact-duplicate pairs collide and estimate ~1.0 Jaccard."""
    from archetype_spark.operators import dedup

    pairs = dedup.minhash_lsh_pairs(
        long_docs, hash_family="xxhash64", threshold=0.8
    ).collect()
    found = {
        (min(r["doc_id"], r["other_doc_id"]), max(r["doc_id"], r["other_doc_id"]))
        for r in pairs
    }
    planted = {(5_000_000 + i, 5_001_000 + i) for i in range(8)}
    assert planted <= found
    for r in pairs:
        if (r["doc_id"], r["other_doc_id"]) in planted:
            assert r["est_jaccard"] >= 0.99


@pytest.fixture(scope="module")
def stress_emb(spark):
    """20k vectors: sf0.1 embeddings x 10 copies, each copy's
    coordinates deterministically jittered by ~1e-4 so siblings are
    near- (not exact-) duplicates — the planted ground truth for
    recall-at-scale."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    copies = e.crossJoin(
        F.broadcast(spark.range(10).withColumnRenamed("id", "copy"))
    )
    jitter = lambda x, i: (  # noqa: E731
        x
        + ((F.col("copy") * (i + 7)) % 11 - 5).cast("float") * F.lit(1e-4)
    )
    return copies.select(
        (F.col("vec_id") + F.col("copy") * 1_000_000).alias("vec_id"),
        F.transform("embedding", jitter).alias("embedding"),
        "label",
    ).cache()


def _sibling_recall(res, k_col="other_vec_id"):
    fam = lambda v: v % 1_000_000  # noqa: E731
    hits, qs = set(), set()
    for r in res:
        qs.add(r["vec_id"])
        if fam(r[k_col]) == fam(r["vec_id"]):
            hits.add(r["vec_id"])
    return len(hits) / len(qs), len(qs)


def test_stress_ann_recall_lsh(stress_emb):
    """Sign-bit LSH at 10x corpus with production settings: >=90% of
    queries retrieve a planted sibling in their top-k."""
    from archetype_spark.operators import similarity

    res = similarity.lsh_topk(
        stress_emb, dim=64, k=5, n_planes=8, n_tables=4
    ).collect()
    recall, n_q = _sibling_recall(res)
    assert n_q > 15_000
    assert recall >= 0.9, recall


def test_stress_ann_recall_ivf(stress_emb):
    """IVF at 10x corpus (cells scaled with the corpus, production
    probe count): sibling recall >= 0.9."""
    from archetype_spark.operators import similarity

    res = similarity.ivf_topk(
        stress_emb, k=5, n_clusters=64, n_probe=4
    ).collect()
    recall, n_q = _sibling_recall(res)
    assert n_q > 15_000
    assert recall >= 0.9, recall


def test_stress_ann_recall_ivf_pq(stress_emb, tmp_path_factory):
    """IVF_PQ (the r10 composite index) at 10x corpus with
    corpus-scaled settings (64 cells for 20k vectors, m=8 residual
    subspaces): sibling recall >= 0.9 while the probe scans only
    n_probe/n_clusters = 1/8 of the codes."""
    from archetype_spark.operators import ann_index, similarity

    idx = str(tmp_path_factory.mktemp("ivfpq") / "idx")
    cells, book, codes = ann_index.ensure_ivf_pq(
        stress_emb, idx, n_clusters=64, m=8, n_codes=16, seed=42
    )
    res = similarity.ivf_pq_topk(
        stress_emb, cells, book, codes, k=5, n_probe=8
    ).collect()
    recall, n_q = _sibling_recall(res)
    assert n_q > 15_000
    assert recall >= 0.9, recall


def test_stress_rank_by_bounded_topk(stress_docs):
    """q117's bounded-depth production face at 10x corpus: ranking
    50k per-doc rows with depth=100 (TakeOrderedAndProject, no
    full-corpus single-task sort) returns EXACTLY the full global
    ranking's first 100 rows, ranks included."""
    from archetype_spark.operators import retrieval

    scored = stress_docs.select(
        "doc_id", F.length("text").cast("bigint").alias("score")
    )
    full = retrieval.rank_by(scored, ["score"], "rank", "doc_id")
    bounded = retrieval.rank_by(scored, ["score"], "rank", "doc_id", depth=100)
    want = [(r["doc_id"], r["rank"]) for r in full.orderBy("rank").limit(100).collect()]
    got = [(r["doc_id"], r["rank"]) for r in bounded.orderBy("rank").collect()]
    assert got == want and len(got) == 100


def test_stress_ann_recall_signcode(stress_emb):
    """Banded sign-code ANN at 10x corpus, code bits sized to the
    corpus (2^10 buckets for 20k vectors): sibling recall >= 0.9."""
    from archetype_spark.operators import projections

    res = projections.signcode_topk(
        stress_emb, k=5, code_bits=10, n_bands=4
    ).collect()
    recall, n_q = _sibling_recall(res)
    assert n_q > 15_000
    assert recall >= 0.9, recall


def test_stress_minhash_cc(stress_docs):
    """Banded MinHash + component closure over 10x dup groups: every
    source doc's 10 copies land in one component."""
    from archetype_spark.operators import dedup, graph

    pairs = dedup.minhash_lsh_pairs(
        stress_docs, hash_family="xxhash64", threshold=0.8
    )
    comp = graph.connected_components(
        pairs.select(F.col("doc_id").alias("a"), F.col("other_doc_id").alias("b")),
        "a",
        "b",
    )
    n_comp = comp.select("component").distinct().count()
    # ~5k source docs -> at most ~5k components among the paired docs
    assert 0 < n_comp < 5500, n_comp


def test_stress_streaming_curation(spark, stress_docs, tmp_path):
    """The foreachBatch curation path at 10x corpus: 50k docs drained
    in 5 micro-batches through ingest-dedup + the stateless passes.
    Cross-batch dedup must collapse the 10 planted copies of every
    source doc to one curated row (first-arrival keeper), and the
    curated table must equal the one-shot batch pass."""
    from pyspark.sql import functions as F

    from archetype_spark.streaming import curation

    docs = stress_docs.select("doc_id", "text", "lang")
    src = str(tmp_path / "arrivals")
    # five arrival files split by copy index (copies of the same text
    # arrive in DIFFERENT micro-batches -> the anti-join must work
    # across batches, not just within one)
    for i in range(5):
        docs.filter((F.col("doc_id") / 1_000_000).cast("int") % 5 == i).coalesce(
            2
        ).write.parquet(f"{src}/batch={i:02d}")

    stream_dir = str(tmp_path / "stream")
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{src}/batch=*")
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, _id: curation.curate_batch(spark, b, stream_dir)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = spark.read.parquet(f"{stream_dir}/curated")
    n_curated = got.count()
    n_fp = got.select("fingerprint").distinct().count()
    assert n_curated == n_fp  # exactly one keeper per distinct text
    # 10 copies of each source doc -> at most one survivor per family
    fam = got.select((F.col("doc_id") % 1_000_000).alias("f")).groupBy("f").count()
    assert fam.agg(F.max("count")).first()[0] == 1
    batch_dir = str(tmp_path / "batch")
    curation.curate_corpus(spark, docs, batch_dir)
    want = spark.read.parquet(f"{batch_dir}/curated")
    # same fingerprint set (keeper ids may differ: first-arrival vs
    # min-id when copies of one text span batches — both canonical)
    gs = {r["fingerprint"] for r in got.select("fingerprint").collect()}
    ws = {r["fingerprint"] for r in want.select("fingerprint").collect()}
    assert gs == ws and len(gs) > 1000


def test_stress_delta_many_commit_log(spark, stress_docs, tmp_path):
    """Lake-backend headroom: 50k docs land as a Delta table through
    12 commits (10 ingest appends + compaction overwrite + one more
    append), a checkpoint, and a vacuum. Snapshot resolution stays
    driver-side metadata work; the scan reads exactly the active
    files (a log-unaware glob would see every row twice after the
    compaction rewrite — until vacuum physically removes them)."""
    import time

    from archetype_spark.sources import (
        checkpoint_delta,
        read_delta,
        vacuum_delta,
        write_delta,
    )

    t = str(tmp_path / "t")
    base = stress_docs.select(
        "doc_id", "lang", F.length("text").cast("bigint").alias("n_chars")
    )
    n = base.count()
    for i in range(10):  # one ingest commit per 10x copy band
        write_delta(
            base.filter((F.col("doc_id") / 1_000_000).cast("int") == i),
            t,
            mode="append" if i else "append",
            partition_by=["lang"] if i == 0 else None,
        )
    write_delta(base, t, mode="overwrite")  # compaction rewrite
    write_delta(base.limit(0), t, mode="append")  # v11: empty commit
    checkpoint_delta(t)
    start = time.time()
    got = read_delta(spark, t)
    resolve_s = time.time() - start  # plan/metadata only, pre-action
    assert resolve_s < 2.0, f"snapshot resolution took {resolve_s:.2f}s"
    assert got.count() == n
    # time travel to the first ingest band (before vacuum removes it)
    assert read_delta(spark, t, version=0).count() == base.filter(
        (F.col("doc_id") / 1_000_000).cast("int") == 0
    ).count()
    # vacuum drops the pre-compaction files; current rows unchanged,
    # and the vacuumed time travel now fails LOUDLY at execution
    deleted = vacuum_delta(t)
    assert deleted["data_files"] > 0
    assert read_delta(spark, t).count() == n
    import pytest as _pytest

    with _pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        read_delta(spark, t, version=0).count()


def test_stress_iceberg_cdc_chain(spark, stress_docs, tmp_path):
    """Lake-backend headroom, equality-delete face: 10x docs ingested
    once, then a CDC chain of 6 upsert-by-key commits (each re-langs
    one doc_id band) and a delete-by-key commit — 7 equality-delete
    files live at once, each applied with strict sequence scoping.
    The read must resolve every upsert exactly once (no duplicates,
    no resurrections), and compaction must materialize the whole
    chain back to a metadata-countable clean snapshot."""
    from archetype_spark.sources import (
        compact_iceberg,
        count_rows_iceberg,
        read_iceberg,
        write_iceberg,
    )
    from archetype_spark.sources.iceberg import (
        delete_by_key_iceberg,
        upsert_by_key_iceberg,
    )

    t = str(tmp_path / "t")
    base = stress_docs.select(
        "doc_id", "lang", F.length("text").cast("bigint").alias("n_chars")
    )
    write_iceberg(base.repartition(8), t)
    for i in range(6):
        batch = base.filter(F.col("doc_id") % 37 == i).withColumn(
            "lang", F.lit(f"cdc{i}")
        )
        upsert_by_key_iceberg(spark, t, batch, ["doc_id"])
    delete_by_key_iceberg(
        spark, t, base.filter(F.col("doc_id") % 37 == 6).select("doc_id")
    )
    exp_n = base.filter(F.col("doc_id") % 37 != 6).count()
    got = read_iceberg(spark, t)
    assert got.count() == exp_n
    # upserts replaced, never duplicated
    assert got.select("doc_id").distinct().count() == exp_n
    # every surviving band-2 row carries the upserted lang
    assert (
        got.filter(
            (F.col("doc_id") % 37 == 2) & (F.col("lang") != "cdc2")
        ).count()
        == 0
    )
    # n_chars rode through every upsert unchanged
    exp_sum = base.filter(F.col("doc_id") % 37 != 6).agg(
        F.sum("n_chars")
    ).first()[0]
    assert got.agg(F.sum("n_chars")).first()[0] == exp_sum
    compact_iceberg(spark, t, target_files=8)
    assert count_rows_iceberg(t) == exp_n


def test_stress_iceberg_day_partition_prune(spark, stress_docs, tmp_path):
    """Manifest pruning at 10x: a million-row day(ts)-partitioned
    table over 40 synthetic days; a 5-day scan_filter window must
    open ~1/8 of the files and answer exactly."""
    import datetime

    from archetype_spark.sources import read_iceberg, write_iceberg

    t = str(tmp_path / "t")
    base = stress_docs.select(
        F.col("doc_id").alias("event_id"),
        (
            F.lit(datetime.datetime(2024, 1, 1))
            + F.make_interval(hours=(F.col("doc_id") % 960).cast("int"))
        ).alias("ts"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    write_iceberg(
        base.repartition(F.to_date("ts")),
        t,
        partition_by=["ts"],
        partition_transforms={"ts": "day"},
    )
    lo = datetime.datetime(2024, 1, 10)
    hi = datetime.datetime(2024, 1, 15)
    pruned = read_iceberg(spark, t, scan_filter={"ts": (lo, hi)})
    exp = base.filter((F.col("ts") >= lo) & (F.col("ts") < hi)).agg(
        F.count(F.lit(1)), F.sum("event_id"), F.sum("n_chars")
    ).first()
    got = pruned.agg(
        F.count(F.lit(1)), F.sum("event_id"), F.sum("n_chars")
    ).first()
    assert tuple(got) == tuple(exp)
    n_all = len(set(read_iceberg(spark, t).inputFiles()))
    n_kept = len(set(pruned.inputFiles()))
    assert n_kept <= n_all * 5 // 40 + 1, (n_kept, n_all)


def test_stress_wide_delete_never_collects_positions_delta(
    spark, stress_docs, tmp_path, monkeypatch
):
    """Wide DELETE/UPDATE WHERE at 10x: masking >=20% of 50k rows
    with the driver's position budget pinned to 1000 forces the
    executor bitmap path (one descriptor row per masked file on the
    driver, never the position set) — and the answer must match the
    predicate exactly, including a second wide mask that merges with
    the first commit's deletion vectors executor-side."""
    from archetype_spark.sources import (
        delete_where_delta,
        read_delta,
        update_where_delta,
        write_delta,
    )
    from archetype_spark.sources import delta as delta_mod

    t = str(tmp_path / "wide_delta")
    write_delta(stress_docs.repartition(8), t)
    n = stress_docs.count()
    monkeypatch.setattr(delta_mod, "DV_DRIVER_COLLECT_MAX", 1000)
    out = delete_where_delta(spark, t, "doc_id % 4 = 0")
    assert delta_mod._LAST_MASK_PATH == "executor"
    assert out["rows_deleted"] >= n // 5  # a genuinely wide mask
    left = read_delta(spark, t)
    assert left.filter("doc_id % 4 = 0").count() == 0
    assert left.count() == n - out["rows_deleted"]
    # second wide mask: existing blobs merge executor-side and the
    # dead guard itself runs off-driver
    monkeypatch.setattr(delta_mod, "DV_DEAD_BROADCAST_MAX", 1000)
    out2 = update_where_delta(
        spark, t, "doc_id % 4 = 1", {"lang": "'masked'"}
    )
    assert delta_mod._LAST_MASK_PATH == "executor"
    assert out2["rows_updated"] >= n // 5
    left2 = read_delta(spark, t)
    assert left2.count() == n - out["rows_deleted"]
    assert (
        left2.filter("doc_id % 4 = 1").filter("lang != 'masked'").count()
        == 0
    )


def test_stress_wide_delete_never_collects_positions_iceberg(
    spark, stress_docs, tmp_path, monkeypatch
):
    """The Iceberg twin: a wide DELETE WHERE past the probe cap
    writes its position-delete files from the WORKERS (one per
    masked data file) and the driver sees O(files) manifest rows."""
    from archetype_spark.sources import (
        delete_where_iceberg,
        read_iceberg,
        write_iceberg,
    )
    from archetype_spark.sources import iceberg as ice_mod

    t = str(tmp_path / "wide_ice")
    write_iceberg(stress_docs.repartition(8), t)
    n = stress_docs.count()
    monkeypatch.setattr(ice_mod, "POS_DELETE_DRIVER_COLLECT_MAX", 1000)
    out = delete_where_iceberg(spark, t, "doc_id % 4 = 0")
    assert ice_mod._LAST_MASK_PATH == "executor"
    assert out["rows_deleted"] >= n // 5
    assert out["delete_files"] == 8  # one per masked data file
    left = read_iceberg(spark, t)
    assert left.filter("doc_id % 4 = 0").count() == 0
    assert left.count() == n - out["rows_deleted"]


def test_stress_lake_relay(spark, stress_docs, tmp_path):
    """The transitive mesh at 10x: a Delta CDF source mutates while a
    Hudi mirror follows (bootstrap + catch-up), and an Iceberg mirror
    follows the HUDI MIRROR — both hops incremental, the second hop's
    deletes recovered from commits apply_cdc_hudi wrote. All three
    tables must converge per-lang exactly."""
    from archetype_spark.sources import (
        delete_where_delta,
        update_where_delta,
        write_delta,
    )
    from archetype_spark.sources.delta import enable_cdf_delta, read_delta
    from archetype_spark.sources.hudi import read_hudi
    from archetype_spark.sources.iceberg import read_iceberg
    from archetype_spark.sources.replicate import replicate

    src = str(tmp_path / "dsrc")
    hm, im = str(tmp_path / "hm"), str(tmp_path / "im")
    base = stress_docs.select(
        "doc_id", "lang", F.length("text").cast("bigint").alias("n_chars")
    )
    write_delta(base.repartition("lang"), src, partition_by=["lang"])
    enable_cdf_delta(src)
    # hop 1+2 bootstrap mid-history
    replicate(spark, src, hm, "delta", "hudi", "doc_id")
    replicate(spark, hm, im, "hudi", "iceberg")
    delete_where_delta(spark, src, "n_chars % 7 = 3")
    update_where_delta(spark, src, "n_chars % 11 = 5", {"lang": "'xx'"})
    # incremental catch-up through both hops
    replicate(spark, src, hm, "delta", "hudi", "doc_id")
    replicate(spark, hm, im, "hudi", "iceberg")

    def state(df):
        return sorted(
            tuple(r)
            for r in df.groupBy("lang")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("n_chars").alias("s"),
            )
            .collect()
        )

    exp = state(read_delta(spark, src))
    assert state(read_hudi(spark, hm)) == exp
    assert state(read_iceberg(spark, im)) == exp


def test_stress_iceberg_v3_wide_dv_delete(
    spark, stress_docs, tmp_path, monkeypatch
):
    """v3 at 10x: a wide DELETE past the probe cap builds each masked
    file's DELETION VECTOR bitmap in the WORKERS (applyInPandas per
    file) — the driver handles one compressed blob per file, never
    the position set — then a SECOND wide delete exercises the
    merge-and-supersede replace rule over the same files."""
    from archetype_spark.sources import iceberg as ice_mod
    from archetype_spark.sources.iceberg import (
        _live_entries,
        _load_metadata,
        delete_where_iceberg,
        read_iceberg,
        upgrade_iceberg,
        write_iceberg,
    )

    t = str(tmp_path / "wide_v3")
    write_iceberg(stress_docs.repartition(8), t)
    upgrade_iceberg(t, 3)
    n = stress_docs.count()
    monkeypatch.setattr(ice_mod, "POS_DELETE_DRIVER_COLLECT_MAX", 1000)
    out = delete_where_iceberg(spark, t, "doc_id % 4 = 0")
    assert ice_mod._LAST_MASK_PATH == "executor"
    assert out["delete_files"] == 8  # one DV per masked data file
    out2 = delete_where_iceberg(spark, t, "doc_id % 4 = 1")
    left = read_iceberg(spark, t)
    assert left.filter("doc_id % 4 <= 1").count() == 0
    assert left.count() == n - out["rows_deleted"] - out2["rows_deleted"]
    # replace rule held at scale: still one live DV per data file
    meta = _load_metadata(t)
    snap = {s["snapshot-id"]: s for s in meta["snapshots"]}[
        meta["current-snapshot-id"]
    ]
    _d, deletes, _e = _live_entries(t, snap, meta)
    refs = [d[2]["referenced"] for d in deletes if d[2] is not None]
    assert len(refs) == len(set(refs)) == 8


def test_stress_iceberg_mixed_formats(spark, stress_docs, tmp_path):
    """Mixed-format headroom at 50k rows: doc_id mod 3 fans the
    corpus across a PARQUET commit, an ORC commit and an AVRO ingest
    (the executor-side avro_io decode path chews ~17k rows), then ONE
    equality delete kills the doc_id%7==3 cohort across all three
    formats. The aggregate must equal the same algebra over the
    source frame — scan-path-independent."""
    from archetype_spark.sources import avro_io
    from archetype_spark.sources.iceberg import (
        delete_by_key_iceberg,
        ingest_avro_files,
        read_iceberg,
        write_iceberg,
    )

    t = str(tmp_path / "t")
    base = stress_docs.select(
        "doc_id", "lang", F.length("text").cast("bigint").alias("n_chars")
    )
    write_iceberg(base.filter(F.col("doc_id") % 3 == 0), t)
    write_iceberg(
        base.filter(F.col("doc_id") % 3 == 1),
        t,
        mode="append",
        file_format="orc",
    )
    rows = [
        {"doc_id": r["doc_id"], "lang": r["lang"], "n_chars": r["n_chars"]}
        for r in base.filter(F.col("doc_id") % 3 == 2).collect()
    ]
    ap = str(tmp_path / "ingest.avro")
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
    ingest_avro_files(t, [ap])
    delete_by_key_iceberg(
        spark, t, base.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    )
    got = (
        read_iceberg(spark, t)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("s"),
            F.sum(F.hash("lang").cast("bigint")).alias("h"),
        )
        .collect()[0]
    )
    want = (
        base.filter(F.col("doc_id") % 7 != 3)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("s"),
            F.sum(F.hash("lang").cast("bigint")).alias("h"),
        )
        .collect()[0]
    )
    assert (got.n, got.s, got.h) == (want.n, want.s, want.h)


def test_stress_ingestion_chain(spark, stress_docs):
    """Web-ingestion headroom at 50k docs: the q135 chain (WARC
    synthesis -> record + HTTP split -> HTML extraction) end to end,
    every extracted main-content block joined back against the source
    text — zero mismatches allowed. All three stages are Arrow-batched
    per-row Python, so this pins the linear-scale behavior (and the
    gzip-member walk) at 10x the oracle corpus."""
    from archetype_spark.operators import warc_io
    from archetype_spark.operators.html_text import html_fields

    base = stress_docs.select("doc_id", "text")
    n = base.count()
    recs = warc_io.warc_records(warc_io.synth_warc_from_text(base), "payload")
    resp = recs.filter(
        (F.col("warc_type") == "response") & (F.col("http_status") == 200)
    ).select("doc_id", F.decode("body", "UTF-8").alias("html"))
    ex = html_fields(resp, "html").select("doc_id", "main_text")
    joined = ex.join(base, "doc_id")
    agg = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("main_text") == F.col("text")).cast("long")
        ).alias("exact"),
    ).collect()[0]
    assert agg.n == n and agg.exact == n


def test_stress_reverse_replication_chain(spark, stress_docs, tmp_path):
    """Reverse-replication headroom: the 10x CDC chain (ingest + 6
    equality-delete upserts + a delete) replayed into a Delta mirror
    in TWO syncs — the first cuts mid-chain, the second catches up
    from the txn mark. The derived changelog pays one prior-snapshot
    scan per equality snapshot (the documented cost); the mirror must
    equal the source bit-for-bit with no duplicates and no
    resurrections across the sync boundary."""
    from archetype_spark.sources import read_iceberg, write_iceberg
    from archetype_spark.sources.delta import read_delta
    from archetype_spark.sources.iceberg import (
        delete_by_key_iceberg,
        upsert_by_key_iceberg,
    )
    from archetype_spark.sources.replicate import replicate, replicated_mark

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    base = stress_docs.select(
        "doc_id", "lang", F.length("text").cast("bigint").alias("n_chars")
    )
    write_iceberg(base.repartition(8), src)
    for i in range(3):
        upsert_by_key_iceberg(
            spark,
            src,
            base.filter(F.col("doc_id") % 37 == i).withColumn(
                "lang", F.lit(f"cdc{i}")
            ),
            ["doc_id"],
        )
    # first sync: ingest + 3 upserts (sequences 0..3)
    replicate(spark, src, dst, "iceberg", "delta", ["doc_id"])
    assert replicated_mark(dst, "iceberg", "delta") == 3
    for i in range(3, 6):
        upsert_by_key_iceberg(
            spark,
            src,
            base.filter(F.col("doc_id") % 37 == i).withColumn(
                "lang", F.lit(f"cdc{i}")
            ),
            ["doc_id"],
        )
    delete_by_key_iceberg(
        spark, src, base.filter(F.col("doc_id") % 37 == 6).select("doc_id")
    )
    # catch-up sync: only the unacknowledged tail replays
    out = replicate(spark, src, dst, "iceberg", "delta", ["doc_id"])
    assert out["from_sequence"] == 4
    mirror = read_delta(spark, dst)
    source = read_iceberg(spark, src)
    exp_n = base.filter(F.col("doc_id") % 37 != 6).count()
    assert mirror.count() == exp_n
    assert mirror.select("doc_id").distinct().count() == exp_n
    # state equality without a driver-side collect: anti-joins both
    # ways over the full row are empty
    cols = ["doc_id", "lang", "n_chars"]
    assert (
        mirror.select(cols).exceptAll(source.select(cols)).limit(1).count()
        == 0
    )
    assert (
        source.select(cols).exceptAll(mirror.select(cols)).limit(1).count()
        == 0
    )


def test_stress_video_many_frames(spark, tmp_path):
    """Video-decode headroom: a 600-frame uncompressed AVI, a
    150-frame MJPG AVI and the same 150 frames as a multi-chunk MP4
    Motion-JPEG track decode executor-side; frame sampling keeps
    only every 25th/10th frame, so the emitted rows stay O(sampled)
    while the decode walks every chunk. Digest spot-checks pin the
    sampled frames to their generator arrays."""
    import hashlib

    import numpy as np

    from archetype_spark.operators import avi_io, multimodal

    rng = np.random.default_rng(97)
    dib_frames = [
        rng.integers(0, 256, (24, 32, 3), dtype=np.uint8) for _ in range(600)
    ]

    def tile(fi):
        vals = np.array(
            [[(13 * fi + 11 * r + 23 * c + 7) % 251 for c in range(4)]
             for r in range(3)],
            dtype=np.uint8,
        )
        return np.kron(vals, np.ones((8, 8), dtype=np.uint8))

    mjpg_frames = [tile(fi) for fi in range(150)]
    from archetype_spark.operators import mp4_io

    df = spark.createDataFrame(
        [
            (0, bytearray(avi_io.avi_encode(dib_frames, codec="DIB"))),
            (1, bytearray(avi_io.avi_encode(mjpg_frames, codec="MJPG"))),
            (2, bytearray(mp4_io.mp4_encode_mjpeg(
                mjpg_frames, fps=24, samples_per_chunk=16))),
        ],
        "media_id long, payload binary",
    )
    rows = {
        (r.media_id, r.frame_idx): r.frame_digest
        for r in multimodal.video_frame_stats(df, every_n=25).collect()
    }
    assert len([k for k in rows if k[0] == 0]) == 24  # 600 / 25
    assert len([k for k in rows if k[0] == 1]) == 6  # ceil(150 / 25)
    assert len([k for k in rows if k[0] == 2]) == 6  # MP4, same frames
    for fi in (0, 275, 575):
        assert rows[(0, fi)] == hashlib.sha256(
            np.ascontiguousarray(dib_frames[fi]).tobytes()
        ).hexdigest()
    for fi in (0, 125):
        digest = hashlib.sha256(
            np.ascontiguousarray(mjpg_frames[fi]).tobytes()
        ).hexdigest()
        assert rows[(1, fi)] == digest
        assert rows[(2, fi)] == digest  # MP4 samples == AVI pictures


def test_stress_hudi_cow_chain(spark, stress_docs, tmp_path):
    """Hudi copy-on-write headroom: 10x docs ingested across lang
    partitions, then 4 upsert commits (each re-langs a doc_id band —
    cross-partition moves included) and a delete commit. Every
    rewrite touches only the groups owning matched keys; the snapshot
    must resolve the newest slice per group with no duplicates, no
    resurrections, and a metadata-only count that agrees."""
    from archetype_spark.sources.hudi import (
        count_rows_hudi,
        delete_by_key_hudi,
        read_hudi,
        upsert_hudi,
        write_hudi,
    )

    t = str(tmp_path / "t")
    base = stress_docs.select(
        "doc_id", "lang", F.length("text").cast("bigint").alias("n_chars")
    )
    write_hudi(base, t, record_key="doc_id", partition_by="lang", buckets=4)
    for i in range(4):
        upsert_hudi(
            spark,
            t,
            base.filter(F.col("doc_id") % 41 == i).withColumn(
                "lang", F.lit(f"cdc{i}")
            ),
        )
    delete_by_key_hudi(
        spark, t, base.filter(F.col("doc_id") % 41 == 4).select("doc_id")
    )
    exp_n = base.filter(F.col("doc_id") % 41 != 4).count()
    got = read_hudi(spark, t)
    assert got.count() == exp_n
    assert got.select("doc_id").distinct().count() == exp_n
    assert count_rows_hudi(t) == exp_n
    assert (
        got.filter(
            (F.col("doc_id") % 41 == 2) & (F.col("lang") != "cdc2")
        ).count()
        == 0
    )
    exp_sum = base.filter(F.col("doc_id") % 41 != 4).agg(
        F.sum("n_chars")
    ).first()[0]
    assert got.agg(F.sum("n_chars")).first()[0] == exp_sum


def test_stress_hudi_mor_chain(spark, stress_docs, tmp_path):
    """Hudi MERGE_ON_READ headroom: the CoW chain's history replayed
    as LOG BLOCKS over 10x docs — 4 update deltacommits (avro-data
    blocks, cross-partition re-langs) + a delete deltacommit (delete
    blocks), then a compaction, then one MORE update block on the
    compacted slices. The snapshot merge must resolve newest-wins per
    (group, key) across the whole chain with no duplicates and no
    resurrections; the metadata-only count and the incremental face
    must agree; and no base file is ever rewritten outside the
    compaction."""
    from archetype_spark.sources.hudi import (
        compact_hudi,
        count_rows_hudi,
        delete_by_key_hudi,
        read_hudi,
        read_hudi_changes,
        upsert_hudi,
        write_hudi,
    )

    t = str(tmp_path / "t")
    base = stress_docs.select(
        "doc_id", "lang", F.length("text").cast("bigint").alias("n_chars")
    )
    write_hudi(
        base, t, record_key="doc_id", partition_by="lang", buckets=4,
        table_type="MERGE_ON_READ",
    )
    for i in range(4):
        upsert_hudi(
            spark,
            t,
            base.filter(F.col("doc_id") % 41 == i).withColumn(
                "lang", F.lit(f"cdc{i}")
            ),
        )
    delete_by_key_hudi(
        spark, t, base.filter(F.col("doc_id") % 41 == 4).select("doc_id")
    )
    exp_n = base.filter(F.col("doc_id") % 41 != 4).count()
    got = read_hudi(spark, t)
    assert got.count() == exp_n
    assert got.select("doc_id").distinct().count() == exp_n
    assert count_rows_hudi(t) == exp_n
    # the chain is logs, not rewrites: one base file per group+lang
    # from the ingest, everything after it dot-prefixed log files
    n_parquet = sum(
        len([f for f in fs if f.endswith(".parquet")])
        for _d, _s, fs in os.walk(t)
        if ".hoodie" not in _d and ".stage" not in _d
    )
    groups_per_lang = 4
    langs = base.select("lang").distinct().count()
    assert n_parquet == groups_per_lang * langs
    compact_hudi(spark, t)
    assert read_hudi(spark, t).count() == exp_n
    upsert_hudi(
        spark,
        t,
        base.filter(F.col("doc_id") % 41 == 5).withColumn(
            "lang", F.lit("cdc5")
        ),
    )
    got = read_hudi(spark, t)
    assert got.count() == exp_n
    assert (
        got.filter(
            (F.col("doc_id") % 41 == 5) & (F.col("lang") != "cdc5")
        ).count()
        == 0
    )
    assert count_rows_hudi(t) == exp_n
    # incremental: every instant's adds, replayed twice, agree
    inc = read_hudi_changes(spark, t)
    assert inc.count() == inc.count()
    # upserts-only contract: ingest + 5 update batches, no deletes
    exp_inc = base.count() + sum(
        base.filter(F.col("doc_id") % 41 == i).count() for i in range(4)
    ) + base.filter(
        (F.col("doc_id") % 41 == 5)
    ).count()
    assert inc.count() == exp_inc
    # cleaning at 10x: unreachable pre-compaction slices and their
    # log chains unlink; the retained snapshot still reads exactly
    from archetype_spark.sources.hudi import clean_hudi

    out = clean_hudi(t, keep_last=2)
    assert out["files_deleted"] > 0
    got = read_hudi(spark, t)
    assert got.count() == exp_n
    assert got.select("doc_id").distinct().count() == exp_n
    # retained as_of snapshots read EXACTLY after the clean (their
    # files survived), and a cleaned instant fails loudly — never a
    # silently short snapshot
    from archetype_spark.sources.hudi import hudi_timeline

    line = hudi_timeline(t)
    retained = read_hudi(spark, t, as_of=line[-2])
    assert retained.count() == exp_n
    with pytest.raises(Exception):
        read_hudi(spark, t, as_of=line[0]).count()
    # the incremental face still replays the retained tail
    assert read_hudi_changes(
        spark, t, begin_instant=line[-2]
    ).count() == base.filter(F.col("doc_id") % 41 == 5).count()


def test_stress_hudi_archive_replication_mesh(spark, stress_docs, tmp_path):
    """r14 lifecycle headroom at 10x: a MOR source plays updates +
    deletes, ARCHIVES all but the newest instants, keeps writing, and
    two mirror formats follow through bootstrap + incremental syncs —
    archival must not move a row in the source, and both mirrors must
    converge to the source's exact final state (counts and sums),
    with the second sync O(changes) on already-bootstrapped state."""
    from archetype_spark.sources.delta import read_delta
    from archetype_spark.sources.hudi import (
        archive_hudi,
        delete_by_key_hudi,
        read_hudi,
        upsert_hudi,
        write_hudi,
    )
    from archetype_spark.sources.iceberg import read_iceberg
    from archetype_spark.sources.replicate import replicate

    t = str(tmp_path / "src")
    dm, im = str(tmp_path / "dm"), str(tmp_path / "im")
    base = stress_docs.select(
        "doc_id", "lang", F.length("text").cast("bigint").alias("n_chars")
    )
    write_hudi(
        base, t, record_key="doc_id", partition_by="lang", buckets=4,
        table_type="MERGE_ON_READ",
    )
    for i in range(3):
        upsert_hudi(
            spark,
            t,
            base.filter(F.col("doc_id") % 37 == i).withColumn(
                "lang", F.lit(f"cdc{i}")
            ),
        )
    delete_by_key_hudi(
        spark, t, base.filter(F.col("doc_id") % 37 == 3).select("doc_id")
    )
    # mid-history bootstrap of both mirrors
    replicate(spark, t, dm, "hudi", "delta")
    replicate(spark, t, im, "hudi", "iceberg")
    before = read_hudi(spark, t).agg(
        F.count(F.lit(1)), F.sum("n_chars")
    ).first()
    out = archive_hudi(t, keep_last=2)
    assert out["archived"] >= 3
    after = read_hudi(spark, t).agg(
        F.count(F.lit(1)), F.sum("n_chars")
    ).first()
    assert tuple(before) == tuple(after)  # archival moved no row
    # post-archive writes + catch-up syncs across the archive boundary
    upsert_hudi(
        spark,
        t,
        base.filter(F.col("doc_id") % 37 == 4).withColumn(
            "lang", F.lit("cdc4")
        ),
    )
    delete_by_key_hudi(
        spark, t, base.filter(F.col("doc_id") % 37 == 5).select("doc_id")
    )
    replicate(spark, t, dm, "hudi", "delta")
    replicate(spark, t, im, "hudi", "iceberg")
    src_state = (
        read_hudi(spark, t)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("s"),
        )
    )
    exp = sorted(tuple(r) for r in src_state.collect())
    got_d = sorted(
        tuple(r)
        for r in read_delta(spark, dm)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("s"))
        .collect()
    )
    got_i = sorted(
        tuple(r)
        for r in read_iceberg(spark, im)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("s"))
        .collect()
    )
    assert got_d == exp
    assert got_i == exp


def test_stress_streaming_mirror_crash_replay(spark, stress_docs, tmp_path):
    """r15: the streaming lake SOURCE face at 10x — a Delta source
    plays a 50k-doc multi-commit history while a continuous
    stream_replicate mirror follows; the stream then 'crashes'
    (stopped, checkpoint DELETED), the source keeps committing, and a
    restarted stream must converge the mirror exactly: the replayed
    commit files re-trigger the face, the mirror mark no-ops the
    already-applied range, and only the new range lands — no
    duplicate rows, no resurrected deletes, no extra mirror
    snapshots for the replay."""
    import shutil

    from archetype_spark.sources.delta import (
        delete_where_delta,
        enable_cdf_delta,
        write_delta,
    )
    from archetype_spark.sources.iceberg import (
        read_iceberg,
        snapshots_iceberg,
    )
    from archetype_spark.streaming import stream_replicate

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")
    base = stress_docs.select(
        "doc_id", "lang", F.length("text").cast("bigint").alias("n_chars")
    )
    write_delta(base.repartition(8), src)
    enable_cdf_delta(src)
    delete_where_delta(spark, src, "n_chars % 7 = 3")
    q = stream_replicate(
        spark, src, dst, "delta", "iceberg", key="doc_id",
        checkpoint=ckpt, available_now=True,
    )
    q.awaitTermination(300)
    assert not q.exception(), q.exception()
    # crash: checkpoint gone, history continues
    shutil.rmtree(ckpt)
    from archetype_spark.sources.delta import update_where_delta

    update_where_delta(spark, src, "n_chars % 11 = 5", {"lang": "'xx'"})
    delete_where_delta(spark, src, "n_chars % 13 = 6")
    n_before = len(snapshots_iceberg(dst))
    q2 = stream_replicate(
        spark, src, dst, "delta", "iceberg", key="doc_id",
        checkpoint=str(tmp_path / "ckpt2"), available_now=True,
    )
    q2.awaitTermination(300)
    assert not q2.exception(), q2.exception()
    from archetype_spark.sources.delta import read_delta

    exp = sorted(
        tuple(r)
        for r in read_delta(spark, src)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("s"))
        .collect()
    )
    got = sorted(
        tuple(r)
        for r in read_iceberg(spark, dst)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("s"))
        .collect()
    )
    assert got == exp
    # the replayed range produced no duplicate mirror commits: at
    # most the genuinely-new syncs' snapshots appeared
    assert len(snapshots_iceberg(dst)) <= n_before + 2


def test_stress_zonemap_prune_both_formats(spark, stress_docs, tmp_path):
    """r15: zone-map file skipping at 10x — 50k docs range-clustered
    into 16 files per format; a narrow n_chars probe must open only
    the intersecting files (pruning RATIO asserted, not just
    plan shape) and still answer exactly; the unbounded scan stays
    complete. Delta rides add-action stats, Iceberg manifest column
    bounds — same fixture algebra, both gates."""
    from archetype_spark.sources.delta import read_delta, write_delta
    from archetype_spark.sources.iceberg import read_iceberg, write_iceberg

    base = stress_docs.select(
        "doc_id", "lang", F.length("text").cast("bigint").alias("n_chars")
    )
    clustered = base.repartitionByRange(16, "n_chars").sortWithinPartitions(
        "n_chars"
    )
    td, ti = str(tmp_path / "delta"), str(tmp_path / "ice")
    write_delta(clustered, td)
    write_iceberg(clustered, ti)
    lo, hi = 280, 320  # a narrow band of the ~44-620 n_chars range
    exp = base.filter(
        (F.col("n_chars") >= lo) & (F.col("n_chars") < hi)
    ).agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("s")
    ).first()
    for name, read, t in (
        ("delta", read_delta, td),
        ("iceberg", read_iceberg, ti),
    ):
        full = read(spark, t)
        n_all = len(full.inputFiles())
        assert n_all >= 12, (name, n_all)
        probe = read(spark, t, scan_filter={"n_chars": (lo, hi)})
        n_open = len(probe.inputFiles())
        # a 40-char band of a range-clustered corpus intersects only
        # a few of 16 range files — the pruning RATIO is the feature
        assert n_open <= n_all // 3, (name, n_open, n_all)
        got = probe.agg(
            F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("s")
        ).first()
        assert tuple(got) == tuple(exp), name
        assert full.count() == 50_000, name
