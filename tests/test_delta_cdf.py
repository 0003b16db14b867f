"""Delta Change Data Feed (sources/delta.py): enable_cdf_delta,
change-data files written by DELETE/UPDATE, read_delta_cdf semantics
(inserts derived from appends, deletes/update images served from
_change_data, loud refusal for pre-CDF mutations), vacuum retention
of referenced change files, column-mapping composition, and the
delete-propagating replication path it unlocks. Protocol semantics
from the PUBLIC Delta spec ("Add CDC File", "Change Data Files")."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from archetype_spark.sources import (
    delete_where_delta,
    read_delta,
    read_iceberg,
    snapshots_iceberg,
    update_where_delta,
    vacuum_delta,
    write_delta,
)
from archetype_spark.sources.delta import (
    _snapshot_actions,
    enable_cdf_delta,
    read_delta_cdf,
)


@pytest.fixture()
def people(spark):
    return spark.createDataFrame(
        [(1, "ann", "us"), (2, "bob", "us"), (3, "cho", "jp")],
        "id long, name string, country string",
    ).coalesce(1)


def _changes(spark, t, start=0, end=None):
    return sorted(
        (r["_commit_version"], r["_change_type"], r["id"])
        for r in read_delta_cdf(spark, t, start, end).collect()
    )


def test_delete_and_update_write_change_files(spark, tmp_path, people):
    t = str(tmp_path / "t")
    write_delta(people, t)  # v0
    enable_cdf_delta(t)  # v1
    meta, _a, _t2, protocol = _snapshot_actions(
        os.path.abspath(t), return_protocol=True
    )
    assert meta["configuration"]["delta.enableChangeDataFeed"] == "true"
    assert int(protocol["minWriterVersion"]) >= 4
    delete_where_delta(spark, t, "id = 1")  # v2
    update_where_delta(spark, t, "id = 2", {"name": "upper(name)"})  # v3
    assert os.path.isdir(os.path.join(t, "_change_data"))
    got = _changes(spark, t)
    assert got == [
        (0, "insert", 1),
        (0, "insert", 2),
        (0, "insert", 3),
        (2, "delete", 1),
        (3, "update_postimage", 2),
        (3, "update_preimage", 2),
    ]
    # image VALUES: preimage carries the old name, postimage the new
    rows = {
        r["_change_type"]: r["name"]
        for r in read_delta_cdf(spark, t, 3, 3).collect()
    }
    assert rows == {"update_preimage": "bob", "update_postimage": "BOB"}
    # the snapshot read is unaffected by the change files
    assert sorted(r["id"] for r in read_delta(spark, t).collect()) == [2, 3]


def test_pre_cdf_mutations_refuse(spark, tmp_path, people):
    t = str(tmp_path / "t")
    write_delta(people, t)
    delete_where_delta(spark, t, "id = 1")  # v1: no CDF yet
    enable_cdf_delta(t)
    with pytest.raises(NotImplementedError, match="without change-data"):
        read_delta_cdf(spark, t, 0).count()
    # a range that skips the pre-CDF mutation works
    delete_where_delta(spark, t, "id = 2")  # v3, with CDF
    got = _changes(spark, t, 3)
    assert got == [(3, "delete", 2)]


def test_vacuum_keeps_referenced_change_files(spark, tmp_path, people):
    t = str(tmp_path / "t")
    write_delta(people, t)
    enable_cdf_delta(t)
    delete_where_delta(spark, t, "id = 1")
    write_delta(read_delta(spark, t), t, mode="overwrite")  # tombstones
    n_cdc = sum(len(fs) for _r, _d, fs in os.walk(t + "/_change_data"))
    assert n_cdc >= 1
    vacuum_delta(t)
    n_cdc_after = sum(
        len(fs) for _r, _d, fs in os.walk(t + "/_change_data")
    )
    assert n_cdc_after == n_cdc  # still referenced by commit 2's cdc
    # and the CDF range still reads
    assert _changes(spark, t, 2, 2) == [(2, "delete", 1)]


def test_cdf_composes_with_column_mapping(spark, tmp_path, people):
    from archetype_spark.sources import (
        enable_column_mapping_delta,
        rename_column_delta,
    )

    t = str(tmp_path / "t")
    write_delta(people, t)
    enable_column_mapping_delta(t)
    rename_column_delta(t, "country", "nation")
    enable_cdf_delta(t)
    delete_where_delta(spark, t, "nation = 'us'")
    ch = read_delta_cdf(spark, t, 4, 4)
    assert ch.columns == [
        "id",
        "name",
        "nation",
        "_change_type",
        "_commit_version",
    ]
    assert sorted(r["id"] for r in ch.collect()) == [1, 2]
    # the change files themselves carry PHYSICAL names
    import pyarrow.parquet as pq

    cdc_files = [
        os.path.join(r, n)
        for r, _d, fs in os.walk(t + "/_change_data")
        for n in fs
        if n.endswith(".parquet")
    ]
    names = set(pq.read_schema(cdc_files[0]).names)
    assert "country" in names and "nation" not in names


def test_replication_propagates_deletes_from_cdf_source(
    spark, tmp_path, people
):
    from archetype_spark.sources.replicate import replicate, replicated_mark

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    write_delta(people, src)
    enable_cdf_delta(src)
    replicate(spark, src, dst, "delta", "iceberg", ["id"])
    assert sorted(
        r["id"] for r in read_iceberg(spark, dst).collect()
    ) == [1, 2, 3]
    # source mutates: one delete, one update, one insert
    delete_where_delta(spark, src, "id = 1")
    update_where_delta(spark, src, "id = 2", {"name": "'BOB'"})
    write_delta(
        spark.createDataFrame(
            [(4, "dee", "de")], "id long, name string, country string"
        ).coalesce(1),
        src,
        mode="append",
    )
    out = replicate(spark, src, dst, "delta", "iceberg", ["id"])
    assert out["rows_inserted"] == 2  # the update image + the insert
    got = sorted(tuple(r) for r in read_iceberg(spark, dst).collect())
    assert got == [
        (2, "BOB", "us"),  # updated, not duplicated
        (3, "cho", "jp"),  # untouched
        (4, "dee", "de"),  # inserted
    ]  # id=1 DELETED from the mirror
    assert replicated_mark(dst, "delta", "iceberg") == 4
    # idempotent: a no-op makes no mirror commit
    n_snaps = len(snapshots_iceberg(dst))
    again = replicate(spark, src, dst, "delta", "iceberg", ["id"])
    assert again == {"from_version": 5, "to_version": 4}
    assert len(snapshots_iceberg(dst)) == n_snaps
    assert len(read_iceberg(spark, dst).collect()) == 3


def test_delete_then_reinsert_same_key_in_range(spark, tmp_path, people):
    """A key deleted and re-inserted inside one replication range must
    land in its FINAL state (alive), not deleted — the latest-wins cut
    ordered by commit version."""
    from archetype_spark.sources.replicate import replicate

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    write_delta(people, src)
    enable_cdf_delta(src)
    delete_where_delta(spark, src, "id = 1")
    write_delta(
        spark.createDataFrame(
            [(1, "ann2", "uk")], "id long, name string, country string"
        ).coalesce(1),
        src,
        mode="append",
    )
    replicate(spark, src, dst, "delta", "iceberg", ["id"])
    got = {r["id"]: r["name"] for r in read_iceberg(spark, dst).collect()}
    assert got == {1: "ann2", 2: "bob", 3: "cho"}
    # and the inverse: inserted then deleted -> absent
    write_delta(
        spark.createDataFrame(
            [(9, "zed", "zz")], "id long, name string, country string"
        ).coalesce(1),
        src,
        mode="append",
    )
    delete_where_delta(spark, src, "id = 9")
    replicate(spark, src, dst, "delta", "iceberg", ["id"])
    assert 9 not in {
        r["id"] for r in read_iceberg(spark, dst).collect()
    }
