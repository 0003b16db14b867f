"""The lake formats as streaming SOURCES
(streaming/lake_source.py): a file stream over each table's commit
log triggers the idempotent batch replication faces. Pins per
format: batch == stream mirror equivalence (the streaming/curation.py
pattern), a continuously-running mesh direction fed while live, and
mid-stream crash replay (lost checkpoint included) landing as
no-ops via the mirror mark."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from archetype_spark.sources.delta import (
    delete_where_delta,
    enable_cdf_delta,
    read_delta,
    write_delta,
)
from archetype_spark.sources.hudi import (
    delete_by_key_hudi,
    read_hudi,
    upsert_hudi,
    write_hudi,
)
from archetype_spark.sources.iceberg import (
    delete_by_key_iceberg,
    read_iceberg,
    upsert_by_key_iceberg,
    write_iceberg,
)
from archetype_spark.sources.replicate import replicate
from archetype_spark.streaming import stream_replicate

_DDL = "id long, name string, v long"


def _drain(q):
    q.awaitTermination(120)
    assert not q.exception(), q.exception()


def _delta_src(spark, path):
    write_delta(
        spark.createDataFrame(
            [(1, "ann", 10), (2, "bob", 20), (3, "cho", 30)], _DDL
        ).coalesce(1),
        path,
    )
    enable_cdf_delta(path)
    delete_where_delta(spark, path, "id = 3")
    write_delta(
        spark.createDataFrame([(4, "dee", 40)], _DDL).coalesce(1),
        path,
        mode="append",
    )
    return path


def _rows(df):
    return sorted(tuple(r) for r in df.select("id", "name", "v").collect())


def test_delta_stream_equals_batch(spark, tmp_path):
    src = _delta_src(spark, str(tmp_path / "src"))
    batch_dst = str(tmp_path / "batch")
    replicate(spark, src, batch_dst, "delta", "iceberg", ["id"])
    stream_dst = str(tmp_path / "stream")
    q = stream_replicate(
        spark, src, stream_dst, "delta", "iceberg", key="id",
        checkpoint=str(tmp_path / "ckpt"), available_now=True,
    )
    _drain(q)
    assert _rows(read_iceberg(spark, stream_dst)) == _rows(
        read_iceberg(spark, batch_dst)
    )
    assert _rows(read_iceberg(spark, stream_dst)) == [
        (1, "ann", 10),
        (2, "bob", 20),
        (4, "dee", 40),
    ]


def test_iceberg_stream_equals_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    write_iceberg(
        spark.createDataFrame(
            [(1, "ann", 10), (2, "bob", 20)], _DDL
        ).coalesce(1),
        src,
    )
    upsert_by_key_iceberg(
        spark,
        src,
        spark.createDataFrame([(2, "bob2", 21), (3, "cho", 30)], _DDL),
        ["id"],
    )
    delete_by_key_iceberg(
        spark, src, spark.createDataFrame([(1,)], "id long")
    )
    batch_dst = str(tmp_path / "batch")
    replicate(spark, src, batch_dst, "iceberg", "hudi", "id")
    stream_dst = str(tmp_path / "stream")
    q = stream_replicate(
        spark, src, stream_dst, "iceberg", "hudi", key="id",
        checkpoint=str(tmp_path / "ckpt"), available_now=True,
    )
    _drain(q)
    assert _rows(read_hudi(spark, stream_dst)) == _rows(
        read_hudi(spark, batch_dst)
    )
    assert _rows(read_hudi(spark, stream_dst)) == [
        (2, "bob2", 21),
        (3, "cho", 30),
    ]


def test_hudi_stream_equals_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    write_hudi(
        spark.createDataFrame(
            [(1, "ann", 10), (2, "bob", 20)], _DDL
        ),
        src,
        record_key="id",
        table_type="MERGE_ON_READ",
    )
    upsert_hudi(
        spark, src, spark.createDataFrame([(2, "bob2", 21)], _DDL)
    )
    delete_by_key_hudi(spark, src, spark.createDataFrame([(1,)], "id long"))
    batch_dst = str(tmp_path / "batch")
    replicate(spark, src, batch_dst, "hudi", "delta")
    stream_dst = str(tmp_path / "stream")
    q = stream_replicate(
        spark, src, stream_dst, "hudi", "delta",
        checkpoint=str(tmp_path / "ckpt"), available_now=True,
    )
    _drain(q)
    assert _rows(read_delta(spark, stream_dst)) == _rows(
        read_delta(spark, batch_dst)
    )
    assert _rows(read_delta(spark, stream_dst)) == [(2, "bob2", 21)]


def test_continuous_mirror_follows_live_commits(spark, tmp_path):
    """One mesh direction running CONTINUOUSLY: commits written while
    the query is live land in the mirror after processAllAvailable —
    the readStream file source sees each atomically-renamed commit
    file without restart."""
    src = str(tmp_path / "src")
    write_delta(
        spark.createDataFrame([(1, "ann", 10)], _DDL).coalesce(1), src
    )
    enable_cdf_delta(src)
    dst = str(tmp_path / "dst")
    q = stream_replicate(
        spark, src, dst, "delta", "iceberg", key="id",
        checkpoint=str(tmp_path / "ckpt"),
        processing_time="0 seconds",
    )
    try:
        q.processAllAvailable()
        assert _rows(read_iceberg(spark, dst)) == [(1, "ann", 10)]
        # live commits while the query runs
        write_delta(
            spark.createDataFrame([(2, "bob", 20)], _DDL).coalesce(1),
            src,
            mode="append",
        )
        delete_where_delta(spark, src, "id = 1")
        q.processAllAvailable()
        assert not q.exception(), q.exception()
        assert _rows(read_iceberg(spark, dst)) == [(2, "bob", 20)]
    finally:
        q.stop()


def test_crash_replay_and_lost_checkpoint_are_noops(spark, tmp_path):
    """Exactly-once survives the stream dying mid-history AND losing
    its checkpoint: the restart replays already-applied commits, the
    mirror mark turns them into no-ops, and only the genuinely new
    range applies — no duplicates, no lost deletes."""
    src = str(tmp_path / "src")
    write_delta(
        spark.createDataFrame(
            [(1, "ann", 10), (2, "bob", 20)], _DDL
        ).coalesce(1),
        src,
    )
    enable_cdf_delta(src)
    dst = str(tmp_path / "dst")
    q = stream_replicate(
        spark, src, dst, "delta", "iceberg", key="id",
        checkpoint=str(tmp_path / "ckpt1"), available_now=True,
    )
    _drain(q)  # "crash": the query is gone after this drain
    assert _rows(read_iceberg(spark, dst)) == [(1, "ann", 10), (2, "bob", 20)]
    # history continues while no stream is running
    delete_where_delta(spark, src, "id = 1")
    write_delta(
        spark.createDataFrame([(3, "cho", 30)], _DDL).coalesce(1),
        src,
        mode="append",
    )
    # restart with a FRESH checkpoint: every commit file replays
    q2 = stream_replicate(
        spark, src, dst, "delta", "iceberg", key="id",
        checkpoint=str(tmp_path / "ckpt2"), available_now=True,
    )
    _drain(q2)
    assert _rows(read_iceberg(spark, dst)) == [(2, "bob", 20), (3, "cho", 30)]
    # and the mirror history shows no duplicate application: one
    # more drain with yet another checkpoint must not add a snapshot
    from archetype_spark.sources.iceberg import snapshots_iceberg

    n_snaps = len(snapshots_iceberg(dst))
    q3 = stream_replicate(
        spark, src, dst, "delta", "iceberg", key="id",
        checkpoint=str(tmp_path / "ckpt3"), available_now=True,
    )
    _drain(q3)
    assert len(snapshots_iceberg(dst)) == n_snaps


def test_unknown_direction_and_missing_key_refuse(spark, tmp_path):
    src = str(tmp_path / "src")
    write_delta(
        spark.createDataFrame([(1, "ann", 10)], _DDL).coalesce(1), src
    )
    with pytest.raises(ValueError, match="direction"):
        stream_replicate(spark, src, str(tmp_path / "d"), "delta", "delta")
    with pytest.raises(ValueError, match="key"):
        stream_replicate(spark, src, str(tmp_path / "d"), "delta", "iceberg")
    with pytest.raises(FileNotFoundError):
        from archetype_spark.streaming import read_lake_commits_stream

        read_lake_commits_stream(spark, str(tmp_path / "nope"), "iceberg")
