"""Cross-format CDC replication (sources/replicate.py): all six
directions of the Delta/Iceberg/Hudi mesh through `replicate`, each
exactly-once via the mirror's own high-water mark (`replicated_mark`).
Pins: direction refusals, bootstrap, O(changes) incremental sync,
idempotent re-run, latest-wins across a multi-commit batch, overwrite
handling, crash-window replay, and the loud refusal on source
deletes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from archetype_spark.sources import (
    delete_where_delta,
    read_iceberg,
    snapshots_iceberg,
    write_delta,
)
from archetype_spark.sources.replicate import replicate, replicated_mark


@pytest.fixture()
def src_people(spark, tmp_path):
    src = str(tmp_path / "src")
    write_delta(
        spark.createDataFrame(
            [(1, "ann", 10), (2, "bob", 20)], "id long, name string, v long"
        ).coalesce(1),
        src,
    )
    write_delta(
        spark.createDataFrame(
            [(3, "cho", 30)], "id long, name string, v long"
        ).coalesce(1),
        src,
        mode="append",
    )
    return src


def _mirror_rows(spark, dst):
    return sorted(tuple(r) for r in read_iceberg(spark, dst).collect())


@pytest.mark.parametrize(
    "src_format, dst_format, keys, match",
    [
        ("delta", "delta", ["id"], "direction"),
        ("hudi", "hudi", None, "direction"),
        ("delta", "parquet", ["id"], "direction"),
        ("orc", "iceberg", ["id"], "direction"),
        ("delta", "iceberg", None, "keys"),
        ("iceberg", "hudi", None, "keys"),
        ("iceberg", "hudi", ["a", "b"], "one record key"),
    ],
)
def test_bad_direction_refuses_before_touching_disk(
    tmp_path, src_format, dst_format, keys, match
):
    """Same-format, unknown-format and key-less directions refuse with
    ValueError before any table is read or written — no Spark session
    is needed to reach the refusal, and the mirror path stays absent."""
    from archetype_spark.streaming import stream_replicate

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    with pytest.raises(ValueError, match=match):
        replicate(None, src, dst, src_format, dst_format, keys)
    with pytest.raises(ValueError, match=match):
        stream_replicate(None, src, dst, src_format, dst_format, keys)
    if match == "direction":
        with pytest.raises(ValueError, match=match):
            replicated_mark(dst, src_format, dst_format)
    assert not (tmp_path / "dst").exists()


def test_bootstrap_and_incremental_sync(spark, tmp_path, src_people):
    dst = str(tmp_path / "dst")
    out = replicate(spark, src_people, dst, "delta", "iceberg", ["id"])
    assert (out["from_version"], out["to_version"]) == (0, 1)
    assert out["rows_inserted"] == 3
    assert replicated_mark(dst, "delta", "iceberg") == 1
    assert _mirror_rows(spark, dst) == [
        (1, "ann", 10),
        (2, "bob", 20),
        (3, "cho", 30),
    ]
    # idempotent: nothing new -> no-op, no mirror commit
    again = replicate(spark, src_people, dst, "delta", "iceberg", ["id"])
    assert again == {"from_version": 2, "to_version": 1}
    assert len(snapshots_iceberg(dst)) == 1
    assert replicated_mark(dst, "delta", "iceberg") == 1
    # incremental: one more source commit moves only its rows
    write_delta(
        spark.createDataFrame(
            [(4, "dee", 40)], "id long, name string, v long"
        ).coalesce(1),
        src_people,
        mode="append",
    )
    inc = replicate(spark, src_people, dst, "delta", "iceberg", ["id"])
    assert (inc["from_version"], inc["to_version"]) == (2, 2)
    assert inc["rows_inserted"] == 1
    assert len(_mirror_rows(spark, dst)) == 4


def test_latest_wins_across_commits_and_overwrite(spark, tmp_path, src_people):
    dst = str(tmp_path / "dst")
    # commit 2: re-add key 1 with a new value (append-only CDC style)
    write_delta(
        spark.createDataFrame(
            [(1, "ann2", 11)], "id long, name string, v long"
        ).coalesce(1),
        src_people,
        mode="append",
    )
    out = replicate(spark, src_people, dst, "delta", "iceberg", ["id"])
    assert out["rows_inserted"] == 3  # 3 distinct keys, latest rows
    assert _mirror_rows(spark, dst) == [
        (1, "ann2", 11),
        (2, "bob", 20),
        (3, "cho", 30),
    ]
    # overwrite commit: full rewritten set replays as one upsert
    full = spark.createDataFrame(
        [(1, "ann3", 12), (2, "bob", 20), (3, "cho", 30)],
        "id long, name string, v long",
    ).coalesce(1)
    write_delta(full, src_people, mode="overwrite")
    replicate(spark, src_people, dst, "delta", "iceberg", ["id"])
    assert _mirror_rows(spark, dst) == [
        (1, "ann3", 12),
        (2, "bob", 20),
        (3, "cho", 30),
    ]


def test_partial_range_then_catchup(spark, tmp_path, src_people):
    dst = str(tmp_path / "dst")
    out = replicate(
        spark, src_people, dst, "delta", "iceberg", ["id"], end=0
    )
    assert (out["from_version"], out["to_version"]) == (0, 0)
    assert out["rows_inserted"] == 2
    assert replicated_mark(dst, "delta", "iceberg") == 0
    out2 = replicate(spark, src_people, dst, "delta", "iceberg", ["id"])
    assert (out2["from_version"], out2["to_version"]) == (1, 1)
    assert out2["rows_inserted"] == 1
    assert len(_mirror_rows(spark, dst)) == 3


def test_source_deletes_refuse(spark, tmp_path, src_people):
    dst = str(tmp_path / "dst")
    replicate(spark, src_people, dst, "delta", "iceberg", ["id"])
    delete_where_delta(spark, src_people, "id = 2")
    with pytest.raises(NotImplementedError):
        replicate(spark, src_people, dst, "delta", "iceberg", ["id"])
    # the refusal left the mark untouched: nothing was applied
    assert replicated_mark(dst, "delta", "iceberg") == 1
    assert len(_mirror_rows(spark, dst)) == 3


def test_upsert_commit_insert_outranks_its_paired_delete(spark, tmp_path):
    """A single upsert_by_key_delta commit emits BOTH a 'delete' and
    an 'insert' change row for every matched key. The latest-wins cut
    must rank the same-commit insert above its paired delete, or the
    mirror nondeterministically records live keys as deleted (silent
    data loss). Many keys make an arbitrary tie-break near-certain to
    pick at least one delete."""
    from archetype_spark.sources.delta import (
        enable_cdf_delta,
        upsert_by_key_delta,
    )

    src = str(tmp_path / "src")
    n = 60
    write_delta(
        spark.createDataFrame(
            [(i, f"v{i}", i) for i in range(n)], "id long, name string, v long"
        ).coalesce(2),
        src,
    )
    enable_cdf_delta(src)
    ups = spark.createDataFrame(
        [(i, f"new{i}", i + 1000) for i in range(0, n, 2)],
        "id long, name string, v long",
    )
    upsert_by_key_delta(spark, src, ups, ["id"])
    dst = str(tmp_path / "dst")
    replicate(spark, src, dst, "delta", "iceberg", ["id"])
    rows = {r["id"]: (r["name"], r["v"]) for r in read_iceberg(spark, dst).collect()}
    assert len(rows) == n  # every key live — none lost to its paired delete
    for i in range(n):
        if i % 2 == 0:
            assert rows[i] == (f"new{i}", i + 1000)
        else:
            assert rows[i] == (f"v{i}", i)


def test_mirror_history_time_travels_per_sync(spark, tmp_path, src_people):
    dst = str(tmp_path / "dst")
    replicate(spark, src_people, dst, "delta", "iceberg", ["id"])
    write_delta(
        spark.createDataFrame(
            [(1, "annX", 99)], "id long, name string, v long"
        ).coalesce(1),
        src_people,
        mode="append",
    )
    replicate(spark, src_people, dst, "delta", "iceberg", ["id"])
    snaps = snapshots_iceberg(dst)
    assert len(snaps) == 2  # one mirror snapshot per sync
    first = snaps[0]["snapshot-id"]
    pre = {r["id"]: r["v"] for r in read_iceberg(spark, dst, first).collect()}
    cur = {r["id"]: r["v"] for r in read_iceberg(spark, dst).collect()}
    assert pre[1] == 10 and cur[1] == 99


# ------------------------------------------------ Iceberg -> Delta (reverse)


@pytest.fixture()
def src_ice(spark, tmp_path):
    """An Iceberg source with the risky history: v1 append (seq 0
    after upgrade), equality delete (seq 1), append incl. a
    resurrected key (seq 2), one-commit upsert (seq 3)."""
    from archetype_spark.sources.iceberg import (
        delete_by_key_iceberg,
        upsert_by_key_iceberg,
        write_iceberg,
    )

    src = str(tmp_path / "ice_src")
    write_iceberg(
        spark.createDataFrame(
            [(1, "ann", 10), (2, "bob", 20), (3, "cho", 30)],
            "id long, name string, v long",
        ).coalesce(1),
        src,
    )
    delete_by_key_iceberg(
        spark, src, spark.createDataFrame([(2,)], "id long")
    )
    write_iceberg(
        spark.createDataFrame(
            [(2, "bob2", 21), (4, "dee", 40)], "id long, name string, v long"
        ).coalesce(1),
        src,
        mode="append",
    )
    upsert_by_key_iceberg(
        spark,
        src,
        spark.createDataFrame([(3, "cho2", 31)], "id long, name string, v long"),
        ["id"],
    )
    return src


def _delta_rows(spark, dst):
    from archetype_spark.sources.delta import read_delta

    return sorted(tuple(r) for r in read_delta(spark, dst).collect())


def test_reverse_bootstrap_full_history(spark, tmp_path, src_ice):
    dst = str(tmp_path / "delta_dst")
    out = replicate(spark, src_ice, dst, "iceberg", "delta", ["id"])
    assert (out["from_sequence"], out["to_sequence"]) == (0, 3)
    assert replicated_mark(dst, "iceberg", "delta") == 3
    # the resurrected key 2 (re-append after its equality delete) and
    # the one-commit upsert of key 3 must both land in their newest
    # state; key 1 untouched, key 4 plain insert
    assert _delta_rows(spark, dst) == [
        (1, "ann", 10),
        (2, "bob2", 21),
        (3, "cho2", 31),
        (4, "dee", 40),
    ]
    # idempotent no-op
    again = replicate(spark, src_ice, dst, "iceberg", "delta", ["id"])
    assert again["from_sequence"] is None
    assert _delta_rows(spark, dst) == [
        (1, "ann", 10),
        (2, "bob2", 21),
        (3, "cho2", 31),
        (4, "dee", 40),
    ]


def test_reverse_partial_range_then_catchup(spark, tmp_path, src_ice):
    """Crash-window replay: sync to an early sequence, then catch up —
    the txn mark scopes the second sync to the unacknowledged tail,
    and a delete that arrives in that tail propagates."""
    from archetype_spark.sources.iceberg import delete_by_key_iceberg

    dst = str(tmp_path / "delta_dst")
    out1 = replicate(
        spark, src_ice, dst, "iceberg", "delta", ["id"], end=1
    )
    assert (out1["from_sequence"], out1["to_sequence"]) == (0, 1)
    assert replicated_mark(dst, "iceberg", "delta") == 1
    assert _delta_rows(spark, dst) == [(1, "ann", 10), (3, "cho", 30)]
    # a fresh delete lands in the un-replicated tail (seq 4)
    delete_by_key_iceberg(
        spark, src_ice, spark.createDataFrame([(4,)], "id long")
    )
    out2 = replicate(spark, src_ice, dst, "iceberg", "delta", ["id"])
    assert (out2["from_sequence"], out2["to_sequence"]) == (2, 4)
    assert _delta_rows(spark, dst) == [
        (1, "ann", 10),
        (2, "bob2", 21),
        (3, "cho2", 31),
    ]


def test_reverse_mirror_equals_source_via_roundtrip(spark, tmp_path, src_ice):
    """The two directions compose: Iceberg -> Delta mirror -> Iceberg
    mirror-of-mirror equals the original source state."""
    mid = str(tmp_path / "delta_mid")
    back = str(tmp_path / "ice_back")
    replicate(spark, src_ice, mid, "iceberg", "delta", ["id"])
    replicate(spark, mid, back, "delta", "iceberg", ["id"])
    assert _mirror_rows(spark, back) == sorted(
        tuple(r) for r in read_iceberg(spark, src_ice).collect()
    )


def test_reverse_refuses_v1_source(spark, tmp_path):
    from archetype_spark.sources.iceberg import write_iceberg

    src = str(tmp_path / "v1_src")
    write_iceberg(
        spark.createDataFrame([(1, "a")], "id long, s string").coalesce(1),
        src,
    )
    with pytest.raises(NotImplementedError, match="format v1"):
        replicate(spark, src, str(tmp_path / "d"), "iceberg", "delta", ["id"])


# --------------------------------------------------- Hudi as the CDC source


def _hudi_src(spark, tmp_path, table_type="COPY_ON_WRITE"):
    from archetype_spark.sources.hudi import write_hudi

    src = str(tmp_path / "hsrc")
    write_hudi(
        spark.createDataFrame(
            [(1, "ann", 10), (2, "bob", 20), (3, "cho", 30)],
            "id long, name string, v long",
        ),
        src,
        record_key="id",
        table_type=table_type,
    )
    return src


def _hupd(spark, rows):
    return spark.createDataFrame(rows, "id long, name string, v long")


@pytest.mark.parametrize("ttype", ["COPY_ON_WRITE", "MERGE_ON_READ"])
def test_hudi_to_delta_bootstrap_upserts_deletes(
    spark, tmp_path, ttype
):
    """Hudi -> Delta mirror: bootstrap, then an incremental sync
    carrying an upsert AND a delete lands as one commit; deleted keys
    recover from delete blocks (MOR) or the prior-slice diff (CoW)."""
    from archetype_spark.sources.delta import read_delta
    from archetype_spark.sources.hudi import (
        delete_by_key_hudi,
        upsert_hudi,
    )

    src = _hudi_src(spark, tmp_path, table_type=ttype)
    dst = str(tmp_path / "dmirror")
    out = replicate(spark, src, dst, "hudi", "delta")
    assert out["rows_inserted"] == 3
    # idempotent re-run is a no-op
    again = replicate(spark, src, dst, "hudi", "delta")
    assert "rows_inserted" not in again and "rows_deleted" not in again
    # source keeps moving: update 2, insert 4, delete 1
    upsert_hudi(spark, src, _hupd(spark, [(2, "bob2", 21), (4, "dee", 40)]))
    delete_by_key_hudi(spark, src, spark.createDataFrame([(1,)], "id long"))
    out2 = replicate(spark, src, dst, "hudi", "delta")
    assert out2["from_instant"] == out["to_instant"]
    got = sorted(tuple(r) for r in read_delta(spark, dst).collect())
    assert got == [(2, "bob2", 21), (3, "cho", 30), (4, "dee", 40)]
    assert replicated_mark(dst, "hudi", "delta") == out2["to_instant"]


@pytest.mark.parametrize("ttype", ["COPY_ON_WRITE", "MERGE_ON_READ"])
def test_hudi_to_iceberg_mirror_follows(spark, tmp_path, ttype):
    """Hudi -> Iceberg mirror: the same batch lands as one v2
    row-delta snapshot with the mark in the same commit; a key
    deleted then re-inserted across instants lands in its newest
    state (latest-wins)."""
    from archetype_spark.sources.hudi import (
        delete_by_key_hudi,
        upsert_hudi,
    )

    src = _hudi_src(spark, tmp_path, table_type=ttype)
    dst = str(tmp_path / "imirror")
    replicate(spark, src, dst, "hudi", "iceberg")
    assert _mirror_rows(spark, dst) == [
        (1, "ann", 10), (2, "bob", 20), (3, "cho", 30)
    ]
    # delete 2, then re-insert it newer — the insert must win the cut
    delete_by_key_hudi(spark, src, spark.createDataFrame([(2,)], "id long"))
    upsert_hudi(spark, src, _hupd(spark, [(2, "bob3", 22)]))
    delete_by_key_hudi(spark, src, spark.createDataFrame([(3,)], "id long"))
    out = replicate(spark, src, dst, "hudi", "iceberg")
    assert _mirror_rows(spark, dst) == [(1, "ann", 10), (2, "bob3", 22)]
    assert replicated_mark(dst, "hudi", "iceberg") == out["to_instant"]
    # replay-idempotence: a third sync applies nothing
    assert replicate(spark, src, dst, "hudi", "iceberg").get(
        "rows_deleted"
    ) is None


def test_hudi_deleted_keys_cow_group_wipe(spark, tmp_path):
    """A CoW delete that wipes an entire file group (empty shadow)
    still reports its dead keys via the prior-slice diff."""
    from archetype_spark.sources.hudi import (
        delete_by_key_hudi,
        read_hudi_deleted_keys,
        write_hudi,
    )

    src = str(tmp_path / "h")
    write_hudi(
        spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y")],
            "id long, name string, grp string",
        ),
        src,
        record_key="id",
        partition_by="grp",
    )
    delete_by_key_hudi(
        spark, src, spark.createDataFrame([(1,), (2,)], "id long")
    )
    dead = read_hudi_deleted_keys(spark, src).collect()
    assert sorted(r["id"] for r in dead) == [1, 2]


# ------------------------------------------------- Hudi as the CDC sink


def _hudi_mirror_rows(spark, dst):
    from archetype_spark.sources.hudi import read_hudi

    return sorted(tuple(r) for r in read_hudi(spark, dst).collect())


def test_delta_to_hudi_mirror_follows(spark, tmp_path, src_people):
    """Delta -> Hudi: bootstrap, then a CDF batch carrying deletes +
    updates lands as the delete+upsert commit pair with the mark on
    the final commit; idempotent re-run; latest-wins across commits."""
    from archetype_spark.sources.delta import (
        enable_cdf_delta,
        upsert_by_key_delta,
    )

    src, dst = src_people, str(tmp_path / "hmirror")
    out = replicate(spark, src, dst, "delta", "hudi", "id")
    assert out.get("rows_inserted") == 3
    assert replicate(spark, src, dst, "delta", "hudi", "id")[
        "from_version"
    ] == out["to_version"] + 1  # no-op re-run
    enable_cdf_delta(src)
    delete_where_delta(spark, src, "id = 1")
    upsert_by_key_delta(
        spark,
        src,
        spark.createDataFrame(
            [(2, "bob2", 21), (4, "dee", 40)], "id long, name string, v long"
        ),
        ["id"],
    )
    out2 = replicate(spark, src, dst, "delta", "hudi", "id")
    assert _hudi_mirror_rows(spark, dst) == [
        (2, "bob2", 21), (3, "cho", 30), (4, "dee", 40)
    ]
    assert replicated_mark(dst, "delta", "hudi") == out2["to_version"]


def test_iceberg_to_hudi_mirror_follows(spark, tmp_path, src_ice):
    """Iceberg -> Hudi: the changelog cut (equality kills recovered
    via the prior snapshot) applies as Hudi commits; a key deleted
    then re-inserted lands in its newest state."""
    from archetype_spark.sources.iceberg import (
        delete_by_key_iceberg,
        upsert_by_key_iceberg,
    )

    src, dst = src_ice, str(tmp_path / "hmirror2")
    replicate(spark, src, dst, "iceberg", "hudi", "id")
    assert _hudi_mirror_rows(spark, dst) == [
        (1, "ann", 10), (2, "bob2", 21), (3, "cho2", 31), (4, "dee", 40)
    ]
    delete_by_key_iceberg(
        spark, src, spark.createDataFrame([(2,)], "id long")
    )
    upsert_by_key_iceberg(
        spark,
        src,
        spark.createDataFrame([(2, "bob3", 22)], "id long, name string, v long"),
        ["id"],
    )
    delete_by_key_iceberg(
        spark, src, spark.createDataFrame([(3,)], "id long")
    )
    out = replicate(spark, src, dst, "iceberg", "hudi", "id")
    got = _hudi_mirror_rows(spark, dst)
    assert (2, "bob3", 22) in got and all(r[0] != 3 for r in got)
    assert replicated_mark(dst, "iceberg", "hudi") == out["to_sequence"]
    # replay-idempotence
    again = replicate(spark, src, dst, "iceberg", "hudi", "id")
    assert again["from_sequence"] is None


def test_v3_dv_supersede_keeps_reinserted_row_live(spark, tmp_path):
    """The advisor's silent-wrong scenario (r14): on a v3 source,
    delete k=1 (DV), genuinely re-insert k=1, then delete ANOTHER row
    of the same data file — the superseding DV merges k=1's old
    position, and a changelog that re-reported it would outrank the
    re-insert in the latest-wins cut, silently dropping the live row
    from the mirror. The delta-emitting changelog must keep it."""
    from archetype_spark.sources.iceberg import (
        delete_where_iceberg,
        upgrade_iceberg,
        write_iceberg,
    )

    src, dst = str(tmp_path / "v3src"), str(tmp_path / "v3dst")
    write_iceberg(
        spark.createDataFrame(
            [(1, "ann", 10), (2, "bob", 20), (3, "cho", 30)],
            "id long, name string, v long",
        ).coalesce(1),
        src,
    )
    upgrade_iceberg(src, 3)
    delete_where_iceberg(spark, src, F.col("id") == 1)  # DV{A: pos(1)}
    write_iceberg(
        spark.createDataFrame(
            [(1, "ann2", 11)], "id long, name string, v long"
        ).coalesce(1),
        src,
    )  # genuine re-insert
    delete_where_iceberg(spark, src, F.col("id") == 2)  # supersede DV
    replicate(spark, src, dst, "iceberg", "delta", ["id"])
    assert _delta_rows(spark, dst) == [(1, "ann2", 11), (3, "cho", 30)]
