"""Cross-format lake replication: all six directions of the
Delta/Iceberg/Hudi mesh through one face, `replicate`. A source table
keeps committing and a mirror in another format follows at
O(changes) per sync, never O(table).

Each sync composes a source-side latest-wins cut of the pending
commits (_delta_pending: read_delta_cdf, or the adds-only
read_delta_changes without the Change Data Feed; _iceberg_pending:
the read_iceberg_changes changelog with equality kills recovered via
the prior snapshot; _hudi_pending: read_hudi_changes +
read_hudi_deleted_keys) with the sink's CDC apply engine
(apply_cdc_iceberg / apply_cdc_delta / apply_cdc_hudi). The engine
writes the exactly-once high-water mark in the sink's own atomic
commit coordinate, so a crashed-and-retried sync re-reads it
(`replicated_mark`) and skips what was applied:

- Iceberg mirror: table property `replication.{delta,hudi}.last-*`
  in the same metadata commit as the row-delta snapshot;
- Delta mirror: `txn` action appId `{iceberg,hudi}-replication` in
  the same log commit as the deletion-vector masks;
- Hudi mirror: extraMetadata `replication.{delta,iceberg}.last-*` on
  the final commit (a crash before it replays the whole batch, which
  is idempotent).

Declared limits (loud, inherited from the readers): Delta source
commits that mutated rows BEFORE enable_cdf_delta carry no
change-data files and refuse — nothing on disk says which rows died;
Iceberg sources without v2 sequence numbers (format v1) refuse — the
mark needs a monotonic commit coordinate.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from archetype_spark.sources.delta import (
    _latest_version,
    _snapshot_actions,
    apply_cdc_delta,
    last_txn_version,
    read_delta_cdf,
    read_delta_changes,
)
from archetype_spark.sources.hudi import (
    _hoodie_dir,
    _load_properties,
    apply_cdc_hudi,
    hudi_timeline,
    last_commit_mark_hudi,
    read_hudi_changes,
    read_hudi_deleted_keys,
)
from archetype_spark.sources.iceberg import (
    _current_metadata_version,
    _load_metadata,
    apply_cdc_iceberg,
    read_iceberg_changes,
)

#: source format -> its commit coordinate, as named in the marks
_COORD = {"delta": "version", "iceberg": "sequence", "hudi": "instant"}


def _mark_name(src_format: str, dst_format: str) -> str:
    """The mark's key in the mirror (txn appId, table property or
    extraMetadata key); refuses an impossible direction."""
    if src_format == dst_format or {src_format, dst_format} - set(_COORD):
        raise ValueError(
            f"no replication direction {src_format!r} -> {dst_format!r}"
        )
    if dst_format == "delta":
        return f"{src_format}-replication"
    return f"replication.{src_format}.last-{_COORD[src_format]}"


def _direction_keys(src_format: str, dst_format: str, keys) -> list[str]:
    """Refuse an impossible direction before anything touches disk;
    returns `keys` as a list (empty for a Hudi source, whose key is
    self-describing)."""
    _mark_name(src_format, dst_format)
    if src_format == "hudi":
        return []
    if keys is None:
        raise ValueError(
            f"{src_format} -> {dst_format} replication needs `keys`"
        )
    keys = [keys] if isinstance(keys, str) else list(keys)
    if dst_format == "hudi" and len(keys) != 1:
        raise ValueError(
            f"a Hudi mirror has one record key; got keys={keys}"
        )
    return keys


def replicated_mark(dst: str, src_format: str, dst_format: str):
    """The highest source coordinate already applied to the mirror at
    `dst` (None for a fresh mirror): a Delta version or Iceberg
    sequence number as int, a Hudi instant as str. Read from the
    mirror's own commit coordinate, so snapshot expiry, log
    checkpoints and archival never re-open the window."""
    name = _mark_name(src_format, dst_format)
    table = os.path.abspath(dst)
    if dst_format == "delta":
        v = last_txn_version(table, name)
    elif dst_format == "iceberg":
        if _current_metadata_version(table) is None:
            return None
        v = (_load_metadata(table).get("properties") or {}).get(name)
    else:
        if not os.path.isdir(_hoodie_dir(table)):
            return None
        v = last_commit_mark_hudi(table, name)
    if v is None:
        return None
    return str(v) if src_format == "hudi" else int(v)


def replicate(
    spark: SparkSession,
    src: str,
    dst: str,
    src_format: str,
    dst_format: str,
    keys: str | Sequence[str] | None = None,
    end=None,
) -> dict:
    """Sync the `dst_format` mirror at `dst` with every commit of the
    `src_format` table at `src` past the mirror's mark, up to `end` (a
    Delta version, Iceberg sequence number or Hudi instant; default:
    the latest). `keys` identify rows (latest commit wins inside a
    batch); a Hudi source reads its record key from hoodie.properties,
    a Hudi mirror takes exactly one. Idempotent: a re-run after
    success is a no-op, after a crash it replays only the
    unacknowledged range. Returns the source's range —
    from/to_version (Delta, from inclusive), from/to_sequence
    (Iceberg, from None when nothing is pending) or from/to_instant
    (Hudi, from = the exclusive mark) — plus the apply engine's
    counts when a batch was applied."""
    keys = _direction_keys(src_format, dst_format, keys)
    last = replicated_mark(dst, src_format, dst_format)
    pending = {
        "delta": _delta_pending,
        "iceberg": _iceberg_pending,
        "hudi": _hudi_pending,
    }[src_format]
    out, end, keys, ups, gone = pending(spark, src, last, end, keys)
    if ups is None:
        return out
    mark = _mark_name(src_format, dst_format)
    if dst_format == "iceberg":
        res = apply_cdc_iceberg(
            spark, dst, gone, ups, keys, properties_update={mark: str(end)}
        )
    elif dst_format == "delta":
        res = apply_cdc_delta(spark, dst, gone, ups, keys, txn=(mark, int(end)))
    else:
        res = apply_cdc_hudi(
            spark, dst, gone, ups, keys[0], extra_metadata={mark: str(end)}
        )
    out.update(res)
    return out


def _delta_pending(spark: SparkSession, src: str, last, end, keys):
    """The latest-wins cut of a Delta source's commits after `last`
    up to `end`: returns (range, end, keys, upserts, deleted-keys),
    the frames None when the mirror is caught up."""
    src = os.path.abspath(src)
    latest = _latest_version(src)
    if latest is None:
        raise FileNotFoundError(f"not a Delta table: {src}")
    end = latest if end is None else int(end)
    start = 0 if last is None else last + 1
    out = {"from_version": start, "to_version": end}
    if start > end:
        return out, end, keys, None, None
    conf = _snapshot_actions(src)[0].get("configuration") or {}
    if str(conf.get("delta.enableChangeDataFeed", "")).lower() == "true":
        # full-fidelity CDC: deletes and update images replicate
        changes = read_delta_cdf(spark, src, start, end)
        # latest-wins per key: newest commit first, and within a
        # commit rank change types by finality — pre-image (0) loses
        # to delete (1) loses to insert/post-image (2). The middle
        # rank matters: upsert_by_key_delta emits a 'delete' AND an
        # 'insert' for the same key in ONE commit (net-changes form),
        # and an arbitrary tie-break could record a live key as
        # deleted in the mirror. The same-commit insert must win.
        pri = (
            F.when(F.col("_change_type") == "update_preimage", 0)
            .when(F.col("_change_type") == "delete", 1)
            .otherwise(2)
        )
        w = Window.partitionBy(*keys).orderBy(
            F.desc("_commit_version"), F.desc(pri)
        )
        latest = (
            changes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        ups = latest.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).drop("_change_type", "_commit_version")
        gone = latest.filter(F.col("_change_type") == "delete").select(
            *keys
        )
    else:
        # source without the Change Data Feed: the adds-only reader —
        # upserts replicate (incl. overwrite rewrites), row deletes
        # refuse loudly inside read_delta_changes
        changes = read_delta_changes(spark, src, start, end)
        w = Window.partitionBy(*keys).orderBy(F.desc("_commit_version"))
        ups = (
            changes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "_commit_version")
        )
        gone = ups.select(*keys).limit(0)
    return out, end, keys, ups, gone


def _iceberg_pending(spark: SparkSession, src: str, last, end, keys):
    """The latest-wins cut of an Iceberg source's snapshots with
    sequence number in (last, end], as _delta_pending. Cost: the
    changed rows plus one prior-snapshot scan per equality-delete
    snapshot (recovering value-form kills), one shuffle on `keys`."""
    src = os.path.abspath(src)
    if _current_metadata_version(src) is None:
        raise FileNotFoundError(f"not an Iceberg table: {src}")
    meta = _load_metadata(src)
    snaps = meta.get("snapshots") or []
    if not snaps:
        raise FileNotFoundError(f"no snapshots in Iceberg table {src}")
    if int(meta.get("format-version", 1)) < 2:
        raise NotImplementedError(
            f"Iceberg source {src} is format v1: replication needs the "
            "monotonic v2 sequence number for its high-water mark "
            "(upgrade the table — any row-delta write does)"
        )

    # the spec's v1->v2 upgrade rule: snapshots written before the
    # upgrade have sequence number 0. That prefix is FROZEN (every
    # post-upgrade commit sequences >= 1), so a mark of 0 is exact:
    # "all pre-upgrade snapshots applied".
    def eff_seq(s: dict) -> int:
        return int(s.get("sequence-number") or 0)

    end = max(eff_seq(s) for s in snaps) if end is None else int(end)
    start = -1 if last is None else int(last)
    pending = [s for s in snaps if start < eff_seq(s) <= end]
    out = {
        "from_sequence": (
            min(eff_seq(s) for s in pending) if pending else None
        ),
        "to_sequence": end,
    }
    if not pending:
        return out, end, keys, None, None
    changes = read_iceberg_changes(
        spark,
        src,
        pending[0]["snapshot-id"],
        pending[-1]["snapshot-id"],
        include_deletes=True,
        equality_via_prior_snapshot=True,
    )
    # snapshot ids are random 64-bit values; order the cut by each
    # snapshot's ORDINAL in the metadata list (commit order — it
    # refines ties among seq-0 pre-upgrade snapshots, and sequence
    # order everywhere else). Driver-side KB mapping, broadcast into
    # the plan.
    ordinal = {int(s["snapshot-id"]): i for i, s in enumerate(snaps)}
    seq_map = spark.createDataFrame(
        [
            (int(s["snapshot-id"]), ordinal[int(s["snapshot-id"])])
            for s in pending
        ],
        "_snapshot_id bigint, __seq bigint",
    )
    changes = changes.join(F.broadcast(seq_map), "_snapshot_id")
    # same-snapshot ranking: a one-commit upsert emits a 'delete' AND
    # an 'insert' for the same key at ONE sequence number; the insert
    # must win or the mirror records a live key as deleted (the same
    # rationale as the CDF direction's change-type ranking)
    pri = F.when(F.col("_change_type") == "delete", 1).otherwise(2)
    w = Window.partitionBy(*keys).orderBy(F.desc("__seq"), F.desc(pri))
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__seq", "_snapshot_id")
    )
    ups = latest.filter(F.col("_change_type") == "insert").drop(
        "_change_type"
    )
    gone = latest.filter(F.col("_change_type") == "delete").select(*keys)
    return out, end, keys, ups, gone


def _hudi_pending(spark: SparkSession, src: str, last, end, _keys):
    """The latest-wins cut of a Hudi source's instants in (last, end],
    as _delta_pending; the keys are the table's record key."""
    src = os.path.abspath(src)
    key = _load_properties(src)["hoodie.table.recordkey.fields"]
    timeline = hudi_timeline(src)
    if not timeline:
        raise FileNotFoundError(f"Hudi table has no completed commits: {src}")
    end = timeline[-1] if end is None else str(end)
    if end not in timeline:
        raise ValueError(f"end instant {end!r} is not a completed instant")
    out = {"from_instant": last, "to_instant": end}
    if last is not None and last >= end:
        return out, end, [key], None, None
    ups_raw = read_hudi_changes(
        spark, src, begin_instant=last, end_instant=end
    )
    gone_raw = read_hudi_deleted_keys(
        spark, src, begin_instant=last, end_instant=end
    )
    # latest-wins per key across the batch: newest instant first;
    # within one instant an upsert outranks a delete (the same
    # finality ranking as the Delta/Iceberg directions — Hudi's own
    # faces never mix them in one instant, foreign writers may)
    data_cols = [c for c in ups_raw.columns if c != "_commit_instant"]
    combined = ups_raw.withColumn("__pri", F.lit(2)).unionByName(
        gone_raw.withColumn("__pri", F.lit(1)), allowMissingColumns=True
    )
    w = Window.partitionBy(key).orderBy(
        F.desc("_commit_instant"), F.desc("__pri")
    )
    latest = (
        combined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    ups = latest.filter(F.col("__pri") == 2).select(*data_cols)
    gone = latest.filter(F.col("__pri") == 1).select(key)
    return out, end, [key], ups, gone
