"""Protocol-native Apache Hudi tables — COPY_ON_WRITE and
MERGE_ON_READ — no hudi-spark bundle, no JVM extensions: the timeline
and file-layout conventions from the public Hudi table format
(hudi.apache.org "Table & Query Types" + the storage layout docs,
table version 6 — the pre-1.0 layout current fleets run) implemented
over plain JSON + parquet + the log-block codec in
sources/hudi_log.py, the same design stance as sources/delta.py and
sources/iceberg.py.

Layout written and read:

- `.hoodie/hoodie.properties` — table name/type/version and the
  record-key + partition-path fields (the upsert faces read them
  back, so a table is self-describing).
- `.hoodie/archived/` — the ARCHIVED timeline: HoodieLogFormat files
  of avro-data blocks holding instants moved off the active timeline
  (`archive_hudi`, the real writer's hoodie.keep.max.commits
  behavior). The reader merges archived + active instants, so file
  groups whose only write stats live in the archive stay visible;
  unreadable archive shapes refuse loudly (_archived_entries).
- `.hoodie/<instant>.rollback` — a rollback instant: its metadata
  names the command-block log files the rollback appended
  (partitionMetadata[*].rollbackLogFiles); those logs join their
  slice's chain so the dead instant's blocks mask at merge.
- `.hoodie/<instant>.<action>` — COMPLETED instant metadata (JSON),
  action `commit` (CoW writes, MOR compaction), `deltacommit` (MOR
  writes) or `replacecommit` (clustering): `partitionToWriteStats`
  maps each partition path to one stat per written file {fileId,
  path, numWrites, numUpdateWrites, numDeletes, prevCommit};
  replacecommits add `partitionToReplaceFileIds`. Transition files
  (`.requested`/`.inflight`) mark the in-flight states like the real
  writer. Instants are 17-digit millisecond timestamps, strictly
  monotonic per table.
- base files: `<partitionpath>/<fileId>_<writeToken>_<instant>.parquet`
  — a FILE GROUP is all files sharing a fileId; copy-on-write
  UPDATE/DELETE rewrites a group as a new base file at the new
  instant (a new FILE SLICE) and never touches the old one.
- log files: `<partitionpath>/.<fileId>_<baseInstant>.log.<v>_<token>`
  — MERGE_ON_READ updates/deletes append avro-data / delete blocks
  (hudi_log.py) to the newest file slice instead of rewriting it;
  a snapshot read merges them onto the base file per slice, newest
  record version wins. Compaction (`compact_hudi`) folds a slice's
  logs into a new base file under a `commit` instant.
- every row carries the five Hudi meta columns
  (`_hoodie_commit_time`, `_hoodie_commit_seqno`,
  `_hoodie_record_key`, `_hoodie_partition_path`,
  `_hoodie_file_name`), stamped executor-side at write. Rewrites
  (CoW upsert survivors, compaction, clustering) PRESERVE the meta
  of unchanged records — real writers do, and the incremental face
  (`read_hudi_changes`) depends on `_hoodie_commit_time` naming the
  instant that produced each row.

Snapshot resolution is TIMELINE-ONLY, never a directory listing: the
completed instants' write stats name every base and log file, so the
reader picks the newest slice per file group (plus its ordered log
chain) from O(timeline JSON); uncommitted/crashed writes are
invisible by construction — the same O(metadata) planning shape as
the Delta log replay and the Iceberg manifest walk. Time travel =
truncating the completed-instant list at `as_of`; a replacecommit at
or before the cut excludes its replaced groups, one after it leaves
them visible.

Scale shape: writes stage through Spark's parquet writer partitioned
by file group (one shuffle on the record key), the driver handles
O(written files) renames + stats — never row data; MOR log files are
written EXECUTOR-side (one applyInPandas task per affected group,
the Delta deletion-vector pattern), and the MOR snapshot merge
shuffles ONLY the log-bearing groups' rows on (group, record key) —
clean groups stream straight from parquet. Rollback command blocks
(a foreign writer's crashed-then-rolled-back MOR write) mask the
dead instant's log entries chain-wide per the public
HoodieLogFormat semantics. Declared limits (loud, never silently
wrong): HFile/parquet log blocks and non-rollback command blocks
refuse by name (hudi_log.py); MOR log record schemas nest
arrays/structs/maps with string/long/int/double/float/boolean and
timestamp/timestamp_ntz/date leaves at ANY depth (Avro logical
types; the epoch wire conversion walks `_wire_plan` trees on both
sides), and non-string-key maps encode as entry-record arrays
(logicalType 'map', the Iceberg-manifest spelling) rebuilt via
map_from_entries after from_json — remaining leaf types (binary,
decimal) refuse by name; multi-level partition paths refuse;
clustering refuses log-bearing groups (compact first).

Reference parity: SURVEY.md §2.2 Sources row — the reference's
dependency surface reads lakehouse tables through its connector tier;
Delta + Iceberg + Hudi covers the three open table formats that tier
serves, and MERGE_ON_READ is the default table type for streaming
Hudi ingest in the wild.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from archetype_spark.sources import hudi_log
from archetype_spark.sources.io import parquet_cached

try:  # pyspark vendors cloudpickle; plain cloudpickle as fallback
    from pyspark.cloudpickle import register_pickle_by_value
except ImportError:  # pragma: no cover
    from cloudpickle import register_pickle_by_value

# mapInPandas/applyInPandas closures below reference this module and
# the log codec; by-value registration keeps Spark Python workers
# independent of the consumer's cwd (the multimodal.py pattern).
register_pickle_by_value(sys.modules[__name__])
register_pickle_by_value(hudi_log)
from archetype_spark.sources import avro_io  # noqa: E402

register_pickle_by_value(avro_io)

_HOODIE = ".hoodie"
_META_COLS = (
    "_hoodie_commit_time",
    "_hoodie_commit_seqno",
    "_hoodie_record_key",
    "_hoodie_partition_path",
    "_hoodie_file_name",
)
_WRITE_TOKEN = "0-0-0"


# ------------------------------------------------------------------ timeline


def _hoodie_dir(path: str) -> str:
    return os.path.join(os.path.abspath(path), _HOODIE)


def _load_properties(path: str) -> dict[str, str]:
    pfile = os.path.join(_hoodie_dir(path), "hoodie.properties")
    if not os.path.isfile(pfile):
        raise FileNotFoundError(f"not a Hudi table (no hoodie.properties): {path}")
    props: dict[str, str] = {}
    with open(pfile) as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            k, _, v = line.partition("=")
            props[k] = v
    ttype = props.get("hoodie.table.type", "COPY_ON_WRITE")
    if ttype not in ("COPY_ON_WRITE", "MERGE_ON_READ"):
        raise NotImplementedError(f"Hudi table type {ttype!r}")
    return props


#: completed DATA-instant actions, in file-suffix form
_ACTIONS = (".commit", ".deltacommit", ".replacecommit")
#: the rollback action: masks a failed instant's MOR log blocks
_ROLLBACK = ".rollback"

#: the archived-timeline record shape this module writes: the SAME
#: JSON payload the active timeline held, inside the HoodieLogFormat
#: container real archives use. Real HoodieArchivedMetaEntry records
#: instead embed the metadata as typed Avro sub-records
#: (hoodieCommitMetadata / hoodieReplaceCommitMetadata / ...) —
#: _archived_entries accepts BOTH shapes (the Avro sub-record decodes
#: to the same dict-of-lists the JSON holds) and refuses anything
#: else loudly.
_ARCHIVE_SCHEMA = {
    "type": "record",
    "name": "HoodieArchivedMetaEntry",
    "fields": [
        {"name": "commitTime", "type": ["null", "string"]},
        {"name": "actionType", "type": ["null", "string"]},
        {"name": "actionState", "type": ["null", "string"]},
        {"name": "metadataJson", "type": ["null", "string"]},
    ],
}

#: archived actionType values that can contribute file slices or
#: masks; clean/savepoint entries are metadata-only and skip
_ARCHIVE_ACTIONS = ("commit", "deltacommit", "replacecommit", "rollback")

#: archived metadata sub-record field per action (the real
#: HoodieArchivedMetaEntry layout)
_ARCHIVE_META_FIELDS = (
    "hoodieCommitMetadata",
    "hoodieReplaceCommitMetadata",
    "hoodieRollbackMetadata",
)


def _archived_dir(path: str) -> str:
    return os.path.join(_hoodie_dir(path), "archived")


def _archived_entries(path: str) -> list[tuple[str, str, dict]]:
    """Completed instants parsed out of `.hoodie/archived/` —
    ascending [(instant, action_suffix, metadata)]. Long-lived real
    tables archive old instants off the active timeline
    (hoodie.keep.max.commits); a timeline-only reader that ignored
    them would silently DROP every file group whose only write stats
    live in the archive. Archive files are HoodieLogFormat files of
    avro-data blocks; records carry the instant metadata either as
    this module's `metadataJson` payload or as the real writer's
    typed sub-record — anything else refuses loudly (never guess at
    an archive)."""
    adir = _archived_dir(path)
    if not os.path.isdir(adir):
        return []
    out: list[tuple[str, str, dict]] = []
    for name in sorted(os.listdir(adir)):
        fp = os.path.join(adir, name)
        if not os.path.isfile(fp):
            continue
        with open(fp, "rb") as fh:
            data = fh.read()
        for btype, header, content in hudi_log.read_blocks(data, name=name):
            if btype != hudi_log.AVRO_DATA_BLOCK:
                raise NotImplementedError(
                    f"Hudi archived-timeline file {name}: block type "
                    f"{btype} — avro-data archive blocks only"
                )
            for rec in hudi_log.decode_avro_data(header, content):
                action = rec.get("actionType")
                instant = rec.get("commitTime")
                if not instant or not action:
                    raise ValueError(
                        f"Hudi archived entry in {name} lacks "
                        "commitTime/actionType"
                    )
                if action not in _ARCHIVE_ACTIONS:
                    continue  # clean/savepoint: metadata-only
                if rec.get("metadataJson") is not None:
                    meta = json.loads(rec["metadataJson"])
                else:
                    sub = next(
                        (
                            rec[f]
                            for f in _ARCHIVE_META_FIELDS
                            if isinstance(rec.get(f), dict)
                        ),
                        None,
                    )
                    if sub is None:
                        raise NotImplementedError(
                            f"Hudi archived entry for instant {instant} "
                            f"in {name} carries neither metadataJson nor "
                            "a typed metadata sub-record — refusing "
                            "rather than resolving a short snapshot"
                        )
                    meta = sub
                out.append((str(instant), "." + action, meta))
    return sorted(out, key=lambda e: e[0])


def _active_instants(path: str, rollbacks: bool = False) -> list[tuple[str, str]]:
    """ACTIVE completed instants with their action suffix, ascending.
    Transition files (.requested/.inflight) are ignored."""
    hd = _hoodie_dir(path)
    if not os.path.isdir(hd):
        raise FileNotFoundError(f"not a Hudi table: {path}")
    suffixes = _ACTIONS + ((_ROLLBACK,) if rollbacks else ())
    out = []
    for name in os.listdir(hd):
        for action in suffixes:
            if name.endswith(action):
                out.append((name[: -len(action)], action))
                break
    return sorted(out)


def _timeline_with_meta(
    path: str, rollbacks: bool = False
) -> list[tuple[str, str, dict]]:
    """The COMPLETE completed timeline — archived + active, ascending
    — with each instant's metadata loaded: [(instant, action, meta)].
    Active wins a duplicate instant (the archive crash window leaves
    an instant in both places with identical payloads). Rollback
    instants are included only when `rollbacks` — they carry no data,
    only log-block masks."""
    entries: dict[str, tuple[str, dict]] = {}
    for instant, action, meta in _archived_entries(path):
        if action == _ROLLBACK and not rollbacks:
            continue
        entries[instant] = (action, meta)
    for instant, action in _active_instants(path, rollbacks=rollbacks):
        entries[instant] = (action, _read_commit(path, instant, action))
    return [
        (i, a, m) for i, (a, m) in sorted(entries.items())
    ]


def _timeline_actions(path: str) -> list[tuple[str, str]]:
    """COMPLETED data instants with their action suffix, ascending:
    [(instant, '.commit' | '.deltacommit' | '.replacecommit')] —
    archived AND active (an archived instant's writes are still part
    of the snapshot)."""
    return [(i, a) for i, a, _m in _timeline_with_meta(path)]


def hudi_timeline(path: str) -> list[str]:
    """COMPLETED data instants (all actions), ascending — the timeline
    the snapshot reader resolves against, archived instants included."""
    return [instant for instant, _action in _timeline_actions(path)]


def _next_instant(path: str) -> str:
    """Strictly monotonic 17-digit millisecond instant."""
    hd = _hoodie_dir(path)
    prev = ""
    if os.path.isdir(hd):
        stamps = [
            n.split(".", 1)[0]
            for n in os.listdir(hd)
            if n[:1].isdigit()
        ]
        prev = max(stamps, default="")
    now = time.strftime("%Y%m%d%H%M%S") + f"{int(time.time()*1000)%1000:03d}"
    return now if now > prev else str(int(prev) + 1)


def _read_commit(path: str, instant: str, action: str = ".commit") -> dict:
    with open(os.path.join(_hoodie_dir(path), f"{instant}{action}")) as fh:
        return json.load(fh)


def _publish_commit(
    path: str, instant: str, metadata: dict, action: str = ".commit"
) -> None:
    """requested -> inflight -> completed, the completed file written
    atomically (tmp + rename) so a crash never leaves a readable
    half-commit. `action` names the instant kind (.commit /
    .deltacommit / .replacecommit); the plain-commit inflight keeps
    the real writer's bare `<instant>.inflight` name."""
    hd = _hoodie_dir(path)
    os.makedirs(hd, exist_ok=True)
    inflight = (
        f"{instant}.inflight"
        if action == ".commit"
        else f"{instant}{action}.inflight"
    )
    for name in (f"{instant}{action}.requested", inflight):
        with open(os.path.join(hd, name), "w"):
            pass
    tmp = os.path.join(hd, f".{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as fh:
        json.dump(metadata, fh)
    os.rename(tmp, os.path.join(hd, f"{instant}{action}"))


def _file_slices(path: str, as_of: str | None = None) -> dict[str, dict]:
    """Latest FILE SLICE per file group from the completed timeline
    alone: {fileId: {path, partition, instant, logs}} where `logs` is
    the ordered [(instant, path)] chain appended to that base file by
    deltacommits. A new base file (CoW rewrite or MOR compaction)
    starts a fresh slice, resetting the chain; a replacecommit at or
    before the cut drops its replaced groups entirely. A group whose
    latest rewrite carries no file (every row deleted writes an empty
    base file instead, see _write_commit) never reaches here without
    one.

    Rollback instants (active or archived) name the command-block log
    files the rollback appended (`partitionMetadata[*].rollbackLogFiles`,
    the public HoodieRollbackMetadata shape); those join their group's
    chain so the parser sees the mask — the file group is recovered
    from the log file NAME's fileId prefix."""
    slices: dict[str, dict] = {}
    rb_logs: dict[str, set[str]] = {}  # fid -> rollback-appended paths
    rb_dead: dict[str, int] = {}  # fid -> dead instants masking it
    for instant, action, meta in _timeline_with_meta(path, rollbacks=True):
        if as_of is not None and instant > str(as_of):
            break
        if action == _ROLLBACK:
            n_dead = len(
                {str(c) for c in meta.get("commitsRollback") or []}
                | {
                    str(c.get("commitTime")) if isinstance(c, dict) else str(c)
                    for c in meta.get("instantsRollback") or []
                }
                | (
                    {str(meta["instantToRollback"])}
                    if meta.get("instantToRollback")
                    else set()
                )
            ) or 1
            for _part, pm in (meta.get("partitionMetadata") or {}).items():
                for rel in pm.get("rollbackLogFiles") or []:
                    name = os.path.basename(rel)
                    fid = name[1:].split("_", 1)[0]
                    sl = slices.get(fid)
                    if sl is None:
                        # the rolled-back write targeted a group whose
                        # slice opened AFTER this cut (or never
                        # completed a base) — nothing to mask here
                        continue
                    sl["logs"].append((instant, rel))
                    rb_logs.setdefault(fid, set()).add(rel)
                    rb_dead[fid] = rb_dead.get(fid, 0) + n_dead
            continue
        if action == ".replacecommit":
            for _part, fids in (
                meta.get("partitionToReplaceFileIds") or {}
            ).items():
                for fid in fids:
                    slices.pop(fid, None)
        for part, stats in (meta.get("partitionToWriteStats") or {}).items():
            for st in stats:
                if st["path"].endswith(".parquet"):
                    slices[st["fileId"]] = {
                        "path": st["path"],
                        "partition": part,
                        "instant": instant,
                        "logs": [],
                    }
                else:  # a log file appended to the group's open slice
                    sl = slices.get(st["fileId"])
                    if sl is None:
                        raise ValueError(
                            f"Hudi log file {st['path']} targets file "
                            f"group {st['fileId']} with no base file at "
                            f"instant {instant}"
                        )
                    sl["logs"].append((instant, st["path"]))
    # chain integrity: log versions must run 1..n with no gap — a gap
    # means a commit this timeline no longer names wrote a log file
    # between two we can see (a hole the merge would silently skip).
    # EXCEPT below a rollback-appended log's version: a write that
    # died INFLIGHT leaves its physical log named by no completed
    # instant (versions [1,3] with the rollback holding 3), and that
    # hole is exactly the dead write the rollback's command block
    # masks — refusing there would reject a validly rolled-back table.
    import re as _re

    for fid, sl in slices.items():
        rb = rb_logs.get(fid, set())
        versions, rb_max = [], 0
        for _i, p in sl["logs"]:
            m = _re.search(r"\.log\.(\d+)", os.path.basename(p))
            if m:
                v = int(m.group(1))
                versions.append(v)
                if p in rb:
                    rb_max = max(rb_max, v)
        if versions != sorted(set(versions)):
            raise ValueError(
                f"Hudi log chain for file group {fid} has duplicate "
                f"or disordered versions: {versions} — refusing to "
                "merge an ambiguous chain"
            )
        missing = set(range(1, versions[-1] + 1)) - set(versions) if versions else set()
        uncovered = {v for v in missing if v > rb_max}
        covered = missing - uncovered
        if uncovered:
            raise ValueError(
                f"Hudi log chain for file group {fid} has a version "
                f"gap at {sorted(uncovered)} (have {versions}) not "
                "covered by any rollback instant — refusing to merge "
                "a chain with a hole"
            )
        if len(covered) > rb_dead.get(fid, 0):
            # each rollback masks a COUNTED set of dead instants, and
            # a dead inflight write leaves at most one log hole per
            # slice — more holes than dead instants means a hole a
            # COMPLETED commit's log once filled (lost/mis-archived
            # naming), which no mask covers
            raise ValueError(
                f"Hudi log chain for file group {fid} has "
                f"{len(covered)} version gap(s) {sorted(covered)} but "
                f"its rollback instants mask only "
                f"{rb_dead.get(fid, 0)} dead write(s) — a completed "
                "commit's log is unaccounted for; refusing to merge"
            )
    return slices


# --------------------------------------------------------------------- write


def _stamp_meta(
    df: DataFrame,
    instant: str,
    record_key: str,
    fg_partitions: dict[str, str],
    preserve_meta: bool = False,
) -> DataFrame:
    """Add the five Hudi meta columns; `__hoodie_fg` must already
    name each row's file group (it becomes the file name). The
    partition path comes from the GROUP's physical partition, not the
    row's field value: an upsert that changes the partition field
    keeps the row in its original file group (global-index
    update.partition.path=false semantics), so the meta column must
    agree with where the file actually lives.

    `preserve_meta=True` is the INTERNAL-rewrite contract (upsert/
    delete survivors, compaction pass-throughs): rows that already
    carry commit_time/seqno/key/partition keep them — real writers
    preserve unmerged records' meta, and `read_hudi_changes` depends
    on `_hoodie_commit_time` naming the instant that produced each
    row. `_hoodie_file_name` is ALWAYS restamped: every row passing
    through this function physically lands in this commit's new base
    file, so the column must name that file (real merge-handle
    output), never the pre-rewrite one. The default (False) is the
    public-ingest contract: all five columns are overwritten
    unconditionally, so a caller frame that happens to carry FOREIGN
    meta columns (e.g. `read_hudi(..., with_meta=True)` output fed
    into `write_hudi`) cannot smuggle stale commit times / file names
    into a new table — a later upsert resolves file groups from
    `_hoodie_file_name`, and a stale value routes keys to
    non-existent groups (silent duplicate keys)."""
    spark = df.sparkSession
    pp_map = spark.createDataFrame(
        list(fg_partitions.items()) or [("", "")],
        "__hoodie_fg string, __hoodie_pp string",
    )
    df = df.join(F.broadcast(pp_map), "__hoodie_fg", "left")
    part_path = F.coalesce(F.col("__hoodie_pp"), F.lit(""))
    seq = F.row_number().over(
        Window.partitionBy("__hoodie_fg").orderBy(
            F.col(record_key).cast("string")
        )
    )
    fresh = {
        "_hoodie_commit_time": F.lit(instant),
        "_hoodie_commit_seqno": F.concat_ws(
            "_", F.lit(instant), F.lit("0"), seq.cast("string")
        ),
        "_hoodie_record_key": F.col(record_key).cast("string"),
        "_hoodie_partition_path": part_path,
        "_hoodie_file_name": F.concat(
            F.concat_ws(
                "_",
                F.col("__hoodie_fg"),
                F.lit(_WRITE_TOKEN),
                F.lit(instant),
            ),
            F.lit(".parquet"),
        ),
    }
    for name, expr in fresh.items():
        if (
            preserve_meta
            and name != "_hoodie_file_name"
            and name in df.columns
        ):
            df = df.withColumn(name, F.coalesce(F.col(name), expr))
        else:
            df = df.withColumn(name, expr)
    return df.drop("__hoodie_pp")


def _write_commit(
    df: DataFrame,
    path: str,
    instant: str,
    record_key: str,
    fg_partitions: dict[str, str],
    rewritten: dict[str, dict] | None = None,
    op: str = "upsert",
    extra_metadata: dict[str, str] | None = None,
    action: str = ".commit",
    extra_stats: dict[str, list[dict]] | None = None,
    replace_file_ids: dict[str, list[str]] | None = None,
    preserve_meta: bool = False,
) -> dict:
    """Stage `df` (carrying __hoodie_fg) partitioned by file group,
    move each staged file to its spec name under its partition dir
    (`fg_partitions` maps fileId -> hive-style partition path, ''
    unpartitioned — partition COLUMNS stay in the data files, the
    Hudi default), and publish the commit. `rewritten` maps fileId ->
    its PRIOR slice for groups this commit rewrites; a rewritten
    group that produced no staged output (all rows deleted) gets an
    explicit EMPTY base file — the new slice must shadow the old."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = os.path.abspath(path)
    rewritten = rewritten or {}
    stage = None
    if df is not None:
        stamped = _stamp_meta(
            df, instant, record_key, fg_partitions,
            preserve_meta=preserve_meta,
        )
        data_cols = [c for c in stamped.columns if c != "__hoodie_fg"]
        ordered = stamped.select(
            *_META_COLS,
            *[c for c in data_cols if c not in _META_COLS],
            "__hoodie_fg",
        )
        stage = os.path.join(table, f".stage-{uuid.uuid4().hex}")
        ordered.write.mode("overwrite").partitionBy("__hoodie_fg").parquet(
            stage
        )

    stats: dict[str, list[dict]] = {}
    seen: set[str] = set()
    for root, _dirs, files in os.walk(stage or ""):
        parquets = [n for n in files if n.endswith(".parquet")]
        if not parquets:
            continue
        rel = os.path.relpath(root, stage).split(os.sep)
        fg = next(
            s.split("=", 1)[1] for s in rel if s.startswith("__hoodie_fg=")
        )
        part = fg_partitions.get(fg, "")
        if len(parquets) != 1:
            # one base file per file group per commit is the format's
            # invariant; Spark may split a group only if the caller
            # repartitioned incorrectly — refuse rather than mis-name
            raise RuntimeError(
                f"file group {fg} staged {len(parquets)} files; "
                "expected exactly one base file"
            )
        name = f"{fg}_{_WRITE_TOKEN}_{instant}.parquet"
        dst_dir = os.path.join(table, part) if part else table
        os.makedirs(dst_dir, exist_ok=True)
        src = os.path.join(root, parquets[0])
        dst = os.path.join(dst_dir, name)
        n_rows = pq.read_metadata(src).num_rows
        os.rename(src, dst)
        seen.add(fg)
        rel_path = f"{part}/{name}" if part else name
        prior = rewritten.get(fg)
        n_del = 0
        if op == "delete" and prior:
            # real write stats record how many records the rewrite
            # dropped: prior base rows minus survivors (CoW slices
            # carry no logs on the delete path)
            prior_rows = pq.read_metadata(
                os.path.join(table, prior["path"])
            ).num_rows
            n_del = max(prior_rows - n_rows, 0)
        stats.setdefault(part, []).append(
            {
                "fileId": fg,
                "path": rel_path,
                "numWrites": n_rows,
                "numUpdateWrites": n_rows if prior else 0,
                "numDeletes": n_del,
                "prevCommit": prior["instant"] if prior else "null",
            }
        )
    # rewritten groups whose every row died: write an EMPTY base file
    # with the prior slice's schema so the new slice shadows the old
    for fg, prior in rewritten.items():
        if fg in seen:
            continue
        schema = pq.read_schema(os.path.join(table, prior["path"]))
        part = prior["partition"]
        name = f"{fg}_{_WRITE_TOKEN}_{instant}.parquet"
        dst_dir = os.path.join(table, part) if part else table
        os.makedirs(dst_dir, exist_ok=True)
        pq.write_table(
            pa.Table.from_pylist([], schema=schema),
            os.path.join(dst_dir, name),
        )
        stats.setdefault(part, []).append(
            {
                "fileId": fg,
                "path": f"{part}/{name}" if part else name,
                "numWrites": 0,
                "numUpdateWrites": 0,
                # every prior-slice row died (that is what made the
                # shadow empty)
                "numDeletes": pq.read_metadata(
                    os.path.join(table, prior["path"])
                ).num_rows,
                "prevCommit": prior["instant"],
            }
        )
    import shutil

    if stage is not None:
        shutil.rmtree(stage, ignore_errors=True)
    for part, extra in (extra_stats or {}).items():
        stats.setdefault(part, []).extend(extra)
    meta: dict = {
        "partitionToWriteStats": stats,
        "operationType": op.upper(),
        "compacted": op == "compact",
    }
    if replace_file_ids:
        meta["partitionToReplaceFileIds"] = {
            p: sorted(fids) for p, fids in replace_file_ids.items()
        }
    if extra_metadata:
        meta["extraMetadata"] = dict(extra_metadata)
    _publish_commit(table, instant, meta, action=action)
    return {
        "instant": instant,
        "files_written": sum(len(v) for v in stats.values()),
    }


def _assign_new_groups(
    df: DataFrame, part_field: str | None, buckets: int
) -> tuple[DataFrame, dict[str, str]]:
    """Bucket fresh rows into NEW file groups: uuid fileIds assigned
    per (partition value, bucket) — the distinct pairs are
    O(partitions x buckets) driver-side metadata, broadcast back.
    Returns (frame with __hoodie_fg, {fileId: hive partition path})."""
    spark = df.sparkSession
    bucket = F.pmod(F.xxhash64(F.col("__hoodie_key")), F.lit(buckets))
    df = df.withColumn("__bucket", bucket)
    part_expr = (
        F.col(part_field).cast("string") if part_field else F.lit("")
    )
    df = df.withColumn("__pv", part_expr)
    pairs = [
        (r["__pv"], r["__bucket"])
        for r in df.select("__pv", "__bucket").distinct().collect()
    ]
    rows = [
        (pv, b, uuid.uuid4().hex[:8] + "-" + uuid.uuid4().hex[:4])
        for pv, b in pairs
    ]
    fg_parts = {
        fg: (f"{part_field}={pv}" if part_field else "")
        for pv, _b, fg in rows
    }
    mapping = spark.createDataFrame(
        rows, "__pv string, __bucket bigint, __hoodie_fg string"
    )
    return (
        df.join(F.broadcast(mapping), ["__pv", "__bucket"]).drop(
            "__pv", "__bucket"
        ),
        fg_parts,
    )


# ------------------------------------------------------- MERGE_ON_READ logs

#: Spark typeName() -> Avro primitive, the declared MOR log subset
_AVRO_PRIMS = {
    "long": "long",
    "integer": "int",
    "string": "string",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
}

#: temporal Spark types -> (avro logical type, wire kind) — stored in
#: log records as the Iceberg/Avro epoch forms (micros / days), the
#: real HoodieAvroDataBlock convention
_AVRO_TEMPORALS = {
    "timestamp": (
        {"type": "long", "logicalType": "timestamp-micros"},
        "ts",  # tz-aware: stored as TRUE UTC epoch-micros
    ),
    "timestamp_ntz": (
        {"type": "long", "logicalType": "timestamp-micros"},
        "ntz",  # wall clock: stored as-is, no zone conversion
    ),
    "date": ({"type": "int", "logicalType": "date"}, "date"),
}

#: the wire schema _parse_log_frame emits before from_json typing
_LOG_PARSE_SCHEMA = (
    "__fg string, __ord string, __seq long, __op string, "
    "__key string, __json string"
)


def _rolled_back_instants(path: str) -> set[str]:
    """The DEAD instants the timeline's rollback actions name —
    accepted in every public HoodieRollbackMetadata spelling
    (commitsRollback strings, instantsRollback strings or
    HoodieInstantInfo dicts, instantToRollback). O(timeline JSON),
    archived rollbacks included."""
    dead: set[str] = set()
    for _i, action, meta in _timeline_with_meta(path, rollbacks=True):
        if action != _ROLLBACK:
            continue
        for c in meta.get("commitsRollback") or []:
            dead.add(str(c))
        for c in meta.get("instantsRollback") or []:
            dead.add(str(c.get("commitTime")) if isinstance(c, dict) else str(c))
        if meta.get("instantToRollback"):
            dead.add(str(meta["instantToRollback"]))
    return dead


def _fg_expr():
    """fileId from `_hoodie_file_name` — base files are
    `<fileId>_<token>_<instant>.parquet`, log files
    `.<fileId>_<base>.log.<v>_<token>` (the leading dot strips)."""
    return F.regexp_extract(F.col("_hoodie_file_name"), r"^\.?([^_]+)", 1)


def _avro_name(colpath: str) -> str:
    """A valid Avro record name from a column path."""
    import re

    return "r_" + re.sub(r"[^A-Za-z0-9_]", "_", colpath)


def _avro_type_for(dt, colpath: str):
    """Spark DataType -> the non-null Avro branch for MOR log record
    fields; arrays/structs/maps recurse with nullable elements.
    Temporal leaves carry Avro logical types at ANY depth (r15 — the
    epoch<->ISO wire conversion walks the `_wire_plan` tree in both
    executor closures). Maps with NON-STRING keys encode as an Avro
    array of {key, value} records tagged logicalType 'map' (the
    standard Avro spelling — Iceberg manifests use the same form;
    plain Avro maps require string keys)."""
    tn = dt.typeName()
    if tn in _AVRO_TEMPORALS:
        return _AVRO_TEMPORALS[tn][0]
    prim = _AVRO_PRIMS.get(tn)
    if prim is not None:
        return prim
    if tn == "array":
        return {
            "type": "array",
            "items": ["null", _avro_type_for(dt.elementType, colpath + "[]")],
        }
    if tn == "struct":
        return {
            "type": "record",
            "name": _avro_name(colpath),
            "fields": [
                {
                    "name": f.name,
                    "type": [
                        "null",
                        _avro_type_for(f.dataType, f"{colpath}.{f.name}"),
                    ],
                }
                for f in dt.fields
            ],
        }
    if tn == "map":
        if dt.keyType.typeName() != "string":
            return {
                "type": "array",
                "logicalType": "map",
                "items": {
                    "type": "record",
                    "name": _avro_name(colpath + "_kv"),
                    "fields": [
                        {
                            "name": "key",
                            "type": _avro_type_for(
                                dt.keyType, colpath + "{k}"
                            ),
                        },
                        {
                            "name": "value",
                            "type": [
                                "null",
                                _avro_type_for(
                                    dt.valueType, colpath + "{v}"
                                ),
                            ],
                        },
                    ],
                },
            }
        return {
            "type": "map",
            "values": ["null", _avro_type_for(dt.valueType, colpath + "{}")],
        }
    raise NotImplementedError(
        f"MOR log record column {colpath!r} of type {tn}: supported "
        "leaves are string/long/int/double/float/boolean/"
        "timestamp/timestamp_ntz/date; containers are "
        "array/struct/map"
    )


def _wire_plan(dt):
    """JSON-able conversion tree for one column of a MOR log record,
    walked by the executor closures on BOTH sides of the wire:
    temporal leaves marked with their epoch kind ('ts' zone-
    normalized micros / 'ntz' wall-clock micros / 'date' days) at any
    depth, non-string-key maps marked 'kvmap' (their avro encoding is
    an entry-record array; from_json later parses it as
    array<struct<key,value>> and `_rebuild_from_parsed` restores the
    MapType). None = the subtree needs no conversion (the common
    all-primitive case costs nothing)."""
    tn = dt.typeName()
    t = _AVRO_TEMPORALS.get(tn)
    if t is not None:
        return {"k": t[1]}
    if tn == "array":
        sub = _wire_plan(dt.elementType)
        return {"k": "array", "item": sub} if sub else None
    if tn == "struct":
        fields = {}
        for f in dt.fields:
            sub = _wire_plan(f.dataType)
            if sub:
                fields[f.name] = sub
        return {"k": "record", "fields": fields} if fields else None
    if tn == "map":
        vk = _wire_plan(dt.valueType)
        if dt.keyType.typeName() != "string":
            return {"k": "kvmap", "key": _wire_plan(dt.keyType), "value": vk}
        return {"k": "map", "value": vk} if vk else None
    return None


def _avro_schema_for(schema) -> dict:
    """Spark StructType -> Avro record schema for MOR log records.
    Temporal columns carry Avro logical types (timestamp-micros /
    date, the real data-block convention); arrays/structs/maps nest
    with primitive leaves; anything else refuses by name (module
    docstring)."""
    return {
        "type": "record",
        "name": "HoodieRecord",
        "fields": [
            {
                "name": f.name,
                "type": ["null", _avro_type_for(f.dataType, f.name)],
            }
            for f in schema.fields
        ],
    }


def _wire_plans(schema) -> dict[str, dict]:
    """{column: `_wire_plan` tree} for the schema's conversion-
    needing columns — threaded into the executor-side parse/write
    closures so epoch ints and ISO strings convert consistently on
    both sides, at ANY nesting depth (r15; previously top-level
    only). 'ts' (TimestampType) is zone-normalized: Arrow delivers
    it to Python as session-local naive wall clock — nested values
    identically, probed — so the writer localizes to the session
    zone and converts to UTC before taking epoch-micros (real
    HoodieAvroDataBlock timestamp-micros are UTC instants), and the
    parser emits offset-bearing ISO strings that from_json resolves
    to the same instant in ANY reader session zone. 'ntz'
    stores/reads the wall clock verbatim."""
    out = {}
    for f in schema.fields:
        p = _wire_plan(f.dataType)
        if p:
            out[f.name] = p
    return out


def _append_log_files(
    df: DataFrame,
    table: str,
    instant: str,
    record_key: str,
    fg_meta: dict[str, dict],
    avro_schema: dict | None = None,
    deletes: bool = False,
) -> dict[str, list[dict]]:
    """EXECUTOR-side MOR log append: one applyInPandas task per
    affected file group serializes its block (an avro-data block of
    the group's update records, or a delete-record list) and writes
    the slice's next log file; the driver handles one stat row per
    group — never record data (the Delta deletion-vector bitmap
    pattern, delta.py _mask_bitmaps_executor). `fg_meta` maps each
    group to its partition, base instant and pre-allocated log name
    (O(affected groups) driver metadata). Returns commit write stats
    keyed by partition. Columns needing wire conversion (temporal
    leaves at any depth, non-string-key maps) walk their `_wire_plan`
    trees inside the closure."""
    import pandas as pd

    session_tz = df.sparkSession.conf.get("spark.sql.session.timeZone")

    out_schema = (
        "fileId string, partition string, path string, "
        "numUpdateWrites long, numDeletes long"
    )
    data_fields = (
        []
        if deletes or avro_schema is None
        else [
            (f["name"], f["type"][1])
            for f in avro_schema["fields"]
            if f["name"] not in _META_COLS
        ]
    )
    plans = {}
    if not deletes and avro_schema is not None:
        for f in df.schema.fields:
            if f.name in _META_COLS:
                continue
            p = _wire_plan(f.dataType)
            if p:
                plans[f.name] = p

    def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        fg = pdf["__hoodie_fg"].iloc[0]
        m = fg_meta[fg]
        part = m["partition"]
        if deletes:
            keys = [(str(k), part, 0) for k in pdf["__hoodie_key"]]
            block = hudi_log.delete_block(keys, instant)
            n_upd, n_del = 0, len(keys)
        else:
            import datetime as _dt

            def _isna(v) -> bool:
                if v is None:
                    return True
                try:  # arrays/dicts aren't scalar-nan testable
                    return bool(pd.isna(v))
                except (TypeError, ValueError):
                    return False

            def _wire(v, typ):
                """Pandas value -> avro-encodable, recursing through
                containers; conversion-free subtrees only (temporal /
                kvmap paths route through _wire_p's plan walk)."""
                if _isna(v):
                    return None
                if isinstance(typ, list):  # nullable union
                    return _wire(v, typ[1])
                if isinstance(typ, dict):
                    t = typ.get("type")
                    if t == "array":
                        return [_wire(x, typ["items"]) for x in v]
                    if t == "map":
                        items = v.items() if isinstance(v, dict) else v
                        return {
                            str(k): _wire(x, typ["values"])
                            for k, x in items
                        }
                    if t == "record":
                        return {
                            f["name"]: _wire(v.get(f["name"]), f["type"])
                            for f in typ["fields"]
                        }
                if typ in ("long", "int"):
                    return int(v)
                if typ in ("double", "float"):
                    return float(v)
                if typ == "boolean":
                    return bool(v)
                return str(v)

            def _to_epoch(v, kind):
                if kind == "date":
                    d = (
                        v.date()
                        if isinstance(v, (pd.Timestamp, _dt.datetime))
                        else v
                    )
                    return (d - _dt.date(1970, 1, 1)).days
                ts = pd.Timestamp(v)
                if kind == "ts":
                    # Arrow hands TimestampType over as session-local
                    # naive wall clock (top-level AND nested);
                    # normalize to a true UTC instant
                    ts = (
                        ts.tz_localize(session_tz)
                        if ts.tzinfo is None
                        else ts.tz_convert("UTC")
                    )
                return ts.value // 1000

            def _wire_p(v, typ, plan):
                """The plan-walking twin of _wire: converts temporal
                leaves to their epoch forms and non-string-key maps
                to entry-record arrays, at any depth."""
                if plan is None:
                    return _wire(v, typ)
                if _isna(v):
                    return None
                if isinstance(typ, list):
                    return _wire_p(v, typ[1], plan)
                k = plan["k"]
                if k in ("ts", "ntz", "date"):
                    return _to_epoch(v, k)
                if k == "array":
                    return [_wire_p(x, typ["items"], plan["item"]) for x in v]
                if k == "map":
                    items = v.items() if isinstance(v, dict) else v
                    return {
                        str(kk): _wire_p(x, typ["values"], plan["value"])
                        for kk, x in items
                    }
                if k == "record":
                    ft = {f["name"]: f["type"] for f in typ["fields"]}
                    return {
                        n: _wire_p(v.get(n), t_, plan["fields"].get(n))
                        for n, t_ in ft.items()
                    }
                if k == "kvmap":
                    items = v.items() if isinstance(v, dict) else v
                    kt = typ["items"]["fields"][0]["type"]
                    vt = typ["items"]["fields"][1]["type"]
                    return [
                        {
                            "key": _wire_p(kk, kt, plan["key"]),
                            "value": _wire_p(x, vt, plan["value"]),
                        }
                        for kk, x in items
                    ]
                return _wire(v, typ)

            recs = []
            for i, row in enumerate(pdf.to_dict("records")):
                rec = {}
                for name, prim in data_fields:
                    rec[name] = _wire_p(row.get(name), prim, plans.get(name))
                rec["_hoodie_commit_time"] = instant
                rec["_hoodie_commit_seqno"] = f"{instant}_0_{i + 1}"
                rec["_hoodie_record_key"] = str(row[record_key])
                rec["_hoodie_partition_path"] = part
                rec["_hoodie_file_name"] = m["name"]
                recs.append(rec)
            block = hudi_log.avro_data_block(recs, avro_schema, instant)
            n_upd, n_del = len(recs), 0
        dst_dir = os.path.join(table, part) if part else table
        os.makedirs(dst_dir, exist_ok=True)
        # "wb": a crashed prior attempt at this (never-committed)
        # version is overwritten, not extended
        with open(os.path.join(dst_dir, m["name"]), "wb") as fh:
            fh.write(block)
        return pd.DataFrame(
            [[fg, part, m["path"], n_upd, n_del]],
            columns=[
                "fileId", "partition", "path",
                "numUpdateWrites", "numDeletes",
            ],
        )

    stats: dict[str, list[dict]] = {}
    for r in (
        df.groupBy("__hoodie_fg").applyInPandas(write_group, out_schema)
    ).collect():
        stats.setdefault(r["partition"], []).append(
            {
                "fileId": r["fileId"],
                "path": r["path"],
                "numWrites": 0,
                "numUpdateWrites": int(r["numUpdateWrites"]),
                "numDeletes": int(r["numDeletes"]),
                "prevCommit": fg_meta[r["fileId"]]["base_instant"],
            }
        )
    return stats


def _log_fg_meta(slices: dict[str, dict], fgs) -> dict[str, dict]:
    """Pre-allocate each affected group's next log file name from its
    slice state — O(affected groups), driver-side metadata only."""
    out = {}
    for fg in fgs:
        sl = slices[fg]
        name = hudi_log.log_file_name(
            fg, sl["instant"], len(sl["logs"]) + 1, _WRITE_TOKEN
        )
        part = sl["partition"]
        out[fg] = {
            "partition": part,
            "base_instant": sl["instant"],
            "name": name,
            "path": f"{part}/{name}" if part else name,
        }
    return out


def _parse_log_frame(
    spark: SparkSession,
    paths: list[str],
    plans: dict[str, dict] | None = None,
) -> DataFrame:
    """EXECUTOR-side log parsing: a path frame fans the log files out
    to workers, which open them directly (log names are dot-prefixed
    per the spec, so Spark's binaryFile source would hide them) and
    run hudi_log.parse_log_entries. Record payloads leave the worker
    as JSON strings (from_json applies the table schema downstream)
    — log bytes never touch the driver. `plans` (from `_wire_plans`)
    converts the blocks' epoch-micros/epoch-days ints to the ISO
    strings from_json expects, at any depth; kvmap entry-record
    arrays pass through as-is (from_json parses them as
    array<struct<key,value>> and `_rebuild_from_parsed` restores the
    MapType downstream)."""
    # parallelize with explicit slices, NOT createDataFrame +
    # repartition: the local-relation + exchange form spends a whole
    # shuffle stage distributing a handful of path strings; RDD
    # slicing hands each worker its paths with zero stages.
    path_df = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(p,) for p in paths], min(len(paths), 32)
        ),
        "path string",
    )
    plans = dict(plans or {})

    def parse(batches):
        import datetime as _dt
        import json as _json
        import os as _os

        import pandas as _pd

        epoch_d = _dt.date(1970, 1, 1)
        epoch_ts = _dt.datetime(1970, 1, 1)
        epoch_utc = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)

        def unwire(v, plan):
            if v is None or plan is None:
                return v
            k = plan["k"]
            if k == "ts":
                # UTC instant WITH offset: from_json resolves it
                # identically in any reader session zone
                return (
                    epoch_utc + _dt.timedelta(microseconds=int(v))
                ).isoformat()
            if k == "ntz":
                return (
                    epoch_ts + _dt.timedelta(microseconds=int(v))
                ).isoformat()
            if k == "date":
                return (epoch_d + _dt.timedelta(days=int(v))).isoformat()
            if k == "array":
                return [unwire(x, plan["item"]) for x in v]
            if k == "map":
                return {kk: unwire(x, plan["value"]) for kk, x in v.items()}
            if k == "record":
                fp = plan["fields"]
                return {n: unwire(x, fp.get(n)) for n, x in v.items()}
            if k == "kvmap":
                return [
                    {
                        "key": unwire(e.get("key"), plan["key"]),
                        "value": unwire(e.get("value"), plan["value"]),
                    }
                    for e in v
                ]
            return v

        for pdf in batches:
            rows = []
            for pth in pdf["path"]:
                name = _os.path.basename(pth)
                fid = name[1:].split("_", 1)[0]
                with open(pth, "rb") as fh:
                    content = fh.read()
                entries = hudi_log.parse_log_entries(content, name)
                # same-file rollback masking: a command block kills
                # every entry of its target instant in THIS file (the
                # append-capable writer's shape); cross-file masks
                # apply downstream from the .rollback metadata
                file_dead = {
                    rec["targetInstant"]
                    for _i, op, rec in entries
                    if op == "rollback"
                }
                for seq, (instant, op, rec) in enumerate(entries):
                    if op == "rollback" or instant in file_dead:
                        continue
                    if op == "upsert":
                        for col, plan in plans.items():
                            if rec.get(col) is not None:
                                rec[col] = unwire(rec[col], plan)
                        rows.append(
                            (
                                fid,
                                instant,
                                seq,
                                op,
                                str(rec.get("_hoodie_record_key")),
                                _json.dumps(rec),
                            )
                        )
                    else:  # delete tombstone
                        rows.append(
                            (fid, instant, seq, op, str(rec["recordKey"]), None)
                        )
            yield _pd.DataFrame(
                rows,
                columns=["__fg", "__ord", "__seq", "__op", "__key", "__json"],
            )

    return path_df.mapInPandas(parse, _LOG_PARSE_SCHEMA)


def _from_json_parse_type(dt):
    """(parse-side type, changed) for one column: from_json refuses
    MapType keys other than string, so non-string-key maps parse as
    the entry-record array the avro wire already carries
    (array<struct<key,value>>) and `_rebuild_from_parsed` restores
    the MapType after. Recursive; changed=False means the type is
    from_json-safe as-is."""
    from pyspark.sql.types import (
        ArrayType,
        MapType,
        StructField,
        StructType,
    )

    tn = dt.typeName()
    if tn == "array":
        sub, ch = _from_json_parse_type(dt.elementType)
        return ArrayType(sub, dt.containsNull), ch
    if tn == "struct":
        fields, ch = [], False
        for f in dt.fields:
            sub, c = _from_json_parse_type(f.dataType)
            fields.append(StructField(f.name, sub, f.nullable))
            ch = ch or c
        return StructType(fields), ch
    if tn == "map":
        vt, vc = _from_json_parse_type(dt.valueType)
        if dt.keyType.typeName() != "string":
            kt, _kc = _from_json_parse_type(dt.keyType)
            return (
                ArrayType(
                    StructType(
                        [
                            StructField("key", kt, False),
                            StructField("value", vt, True),
                        ]
                    )
                ),
                True,
            )
        return MapType(dt.keyType, vt, dt.valueContainsNull), vc
    return dt, False


def _rebuild_from_parsed(expr, parse_dt, want_dt):
    """Typed Column from its from_json parse twin: identity when the
    types already match (the common case — zero plan change); entry
    arrays rebuild via map_from_entries; containers recurse with
    F.transform / a null-guarded F.struct."""
    if parse_dt == want_dt:
        return expr
    wn = want_dt.typeName()
    if wn == "map" and parse_dt.typeName() == "array":
        entry = parse_dt.elementType
        rebuilt = F.transform(
            expr,
            lambda e: F.struct(
                _rebuild_from_parsed(
                    e["key"], entry["key"].dataType, want_dt.keyType
                ).alias("key"),
                _rebuild_from_parsed(
                    e["value"], entry["value"].dataType, want_dt.valueType
                ).alias("value"),
            ),
        )
        return F.map_from_entries(rebuilt)
    if wn == "array":
        return F.transform(
            expr,
            lambda x: _rebuild_from_parsed(
                x, parse_dt.elementType, want_dt.elementType
            ),
        )
    if wn == "struct":
        inner = F.struct(
            *[
                _rebuild_from_parsed(
                    expr[f.name], pf.dataType, f.dataType
                ).alias(f.name)
                for f, pf in zip(want_dt.fields, parse_dt.fields)
            ]
        )
        return F.when(expr.isNull(), F.lit(None).cast(want_dt)).otherwise(
            inner
        )
    return expr.cast(want_dt)


def _merge_slices(
    spark: SparkSession, table: str, slices: dict[str, dict]
) -> DataFrame:
    """Resolve a snapshot (meta columns included) from file slices:
    base parquet for every group, with each log-bearing group's
    blocks merged on top — newest record version per (group, key)
    wins, delete blocks tombstone. Scale shape: the clean/dirty split
    is FILE-level (the slice map names each group's base file), so
    groups without logs stream straight from their own parquet scan —
    no second scan, no runtime group filter — and only log-bearing
    groups' rows shuffle on (group, record key), the inherent MOR
    merge cost, paid exactly where a delta exists. Each log file
    parses ONCE: upserts and tombstones leave the single Arrow stage
    as one frame (a two-branch formulation would re-run the parse per
    branch)."""
    dirty = {fid: s for fid, s in slices.items() if s["logs"]}
    clean_paths = [
        os.path.join(table, s["path"])
        for fid, s in slices.items()
        if fid not in dirty
    ]
    dirty_paths = [
        os.path.join(table, s["path"]) for s in dirty.values()
    ]
    if not dirty:
        return parquet_cached(spark, *clean_paths)
    base_dirty = parquet_cached(spark, *dirty_paths)
    cols = list(base_dirty.columns)
    log_paths = [
        os.path.join(table, p) for s in dirty.values() for _i, p in s["logs"]
    ]
    parsed = _parse_log_frame(
        spark, log_paths, plans=_wire_plans(base_dirty.schema)
    )
    # rollback masking, the cross-file half: command blocks living in
    # the SAME log file as their dead blocks are consumed inside the
    # parse closure; blocks rolled back from a DIFFERENT file (an
    # object-storage writer appends the command as a new log file
    # under a .rollback instant) mask here via the driver-side dead
    # set — O(timeline) metadata, a literal IN filter, no shuffle. A
    # dead instant is dead at every as_of (rollback only ever targets
    # instants that never completed), so the unconditional mask is
    # exact.
    dead = _rolled_back_instants(table)
    if dead:
        parsed = parsed.filter(~F.col("__ord").isin(sorted(dead)))
    # FAILFAST: a log payload that fails typed parsing (foreign
    # writer, schema drift, out-of-range temporal) must raise, not
    # silently null the row's columns — PERMISSIVE would let the
    # __key coalesce below resurrect such a row with all-null data
    parse_schema, _changed = _from_json_parse_type(base_dirty.schema)
    struct = F.from_json(
        "__json", parse_schema, {"mode": "FAILFAST"}
    ).alias("__d")
    log_rows = parsed.select(
        "__fg", "__ord", "__seq", "__op", "__key", struct
    ).select(
        "__fg",
        "__ord",
        "__seq",
        "__op",
        F.coalesce(F.col("__d._hoodie_record_key"), F.col("__key")).alias(
            "_hoodie_record_key"
        ),
        *[
            _rebuild_from_parsed(
                F.col(f"__d.{c}"),
                parse_schema[c].dataType,
                base_dirty.schema[c].dataType,
            ).alias(c)
            for c in cols
            if c != "_hoodie_record_key"
        ],
    )
    dirty_df = (
        base_dirty.withColumn("__fg", _fg_expr())
        .withColumn("__ord", F.col("_hoodie_commit_time"))
        .withColumn("__seq", F.lit(-1).cast("long"))
        .withColumn("__op", F.lit("base"))
    )
    merged = (
        dirty_df.unionByName(log_rows)
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("__fg", "_hoodie_record_key").orderBy(
                    F.col("__ord").desc(), F.col("__seq").desc()
                )
            ),
        )
        .filter((F.col("__rn") == 1) & (F.col("__op") != "delete"))
        .select(*cols)
    )
    if not clean_paths:
        return merged
    return parquet_cached(spark, *clean_paths).unionByName(merged)


def write_hudi(
    df: DataFrame,
    path: str,
    record_key: str,
    partition_by: str | None = None,
    buckets: int = 1,
    mode: str = "create",
    extra_metadata: dict[str, str] | None = None,
    table_type: str = "COPY_ON_WRITE",
) -> dict:
    """Create a Hudi table (mode='create'; `table_type` COPY_ON_WRITE
    or MERGE_ON_READ) or bulk-insert into an existing one as NEW file
    groups (mode='insert' — the append shape; key collisions with
    existing groups are the upsert face's job, not checked here).
    Inserts always write base files (both table types); a MOR table's
    instants publish as deltacommits, the real writer's convention.
    One shuffle (the bucket assignment window); `buckets` file groups
    per partition value."""
    table = os.path.abspath(path)
    exists = os.path.isdir(_hoodie_dir(table))
    if mode == "create":
        if exists:
            raise FileExistsError(f"Hudi table already exists: {table}")
        if record_key not in df.columns:
            raise ValueError(f"record key {record_key!r} not in {df.columns}")
        if partition_by is not None and partition_by not in df.columns:
            raise ValueError(f"partition field {partition_by!r} not in frame")
        if table_type not in ("COPY_ON_WRITE", "MERGE_ON_READ"):
            raise ValueError(f"write_hudi table_type {table_type!r}")
        os.makedirs(_hoodie_dir(table), exist_ok=True)
        props = {
            "hoodie.table.name": os.path.basename(table),
            "hoodie.table.type": table_type,
            "hoodie.table.version": "6",
            "hoodie.timeline.layout.version": "1",
            "hoodie.table.recordkey.fields": record_key,
        }
        if partition_by:
            props["hoodie.table.partition.fields"] = partition_by
        with open(
            os.path.join(_hoodie_dir(table), "hoodie.properties"), "w"
        ) as fh:
            fh.write("#Updated at " + time.strftime("%c") + "\n")
            for k, v in props.items():
                fh.write(f"{k}={v}\n")
    elif mode == "insert":
        props = _load_properties(table)
        table_key = props["hoodie.table.recordkey.fields"]
        table_part = props.get("hoodie.table.partition.fields")
        if record_key != table_key:
            raise ValueError(
                f"record key {record_key!r} disagrees with the table's "
                f"hoodie.properties ({table_key!r}); the table's key "
                "governs inserts"
            )
        if partition_by is not None and partition_by != table_part:
            raise ValueError(
                f"partition field {partition_by!r} disagrees with the "
                f"table's hoodie.properties ({table_part!r})"
            )
        record_key, partition_by = table_key, table_part
    else:
        raise ValueError(f"write_hudi mode {mode!r}: create or insert")
    if mode == "insert":
        table_type = _load_properties(table).get(
            "hoodie.table.type", "COPY_ON_WRITE"
        )
    instant = _next_instant(table)
    keyed = df.withColumn("__hoodie_key", F.col(record_key).cast("string"))
    assigned, fg_parts = _assign_new_groups(keyed, partition_by, buckets)
    return _write_commit(
        assigned.drop("__hoodie_key"), table, instant, record_key, fg_parts,
        op="insert" if mode == "insert" else "bulk_insert",
        extra_metadata=extra_metadata,
        action=".deltacommit" if table_type == "MERGE_ON_READ" else ".commit",
    )


def _snapshot_with_groups(
    spark: SparkSession, path: str
) -> tuple[DataFrame, dict[str, dict], str, str | None]:
    """Current snapshot WITH meta columns (MOR logs merged), plus the
    slice map and the table's key/partition fields — the shared
    preamble of the mutation faces."""
    props = _load_properties(path)
    record_key = props["hoodie.table.recordkey.fields"]
    part_field = props.get("hoodie.table.partition.fields")
    slices = _file_slices(path)
    if not slices:
        raise FileNotFoundError(f"Hudi table has no completed commits: {path}")
    table = os.path.abspath(path)
    cur = _merge_slices(spark, table, slices)
    return cur, slices, record_key, part_field


def upsert_hudi(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    precombine: str | None = None,
    extra_metadata: dict[str, str] | None = None,
) -> dict:
    """CDC upsert. COPY_ON_WRITE: file groups owning an updated key
    are rewritten at the new instant (surviving rows + update rows,
    one base file each) — survivors KEEP their meta columns, real
    merge-handle semantics. MERGE_ON_READ: each affected group gets
    its slice's next LOG file carrying an avro-data block of the
    group's updates (executor-side, O(updates) bytes written — the
    base file is never rewritten). Both: fresh keys insert as new
    base-file groups in the same instant; group resolution is one
    semi-join against the snapshot's key->group map, and the commit
    publishes atomically after all files land.

    Duplicate record keys WITHIN the updates batch collapse via
    `precombine` (largest value wins, real Hudi's
    hoodie.datasource.write.precombine.field semantics); without one
    a duplicated key raises loudly — writing both rows would leave
    duplicate record keys in the snapshot, silently wrong."""
    table = os.path.abspath(path)
    mor = (
        _load_properties(table).get("hoodie.table.type") == "MERGE_ON_READ"
    )
    cur, slices, record_key, part_field = _snapshot_with_groups(spark, table)
    if record_key not in updates.columns:
        raise ValueError(
            f"record key {record_key!r} not in updates frame {updates.columns}"
        )
    if precombine is not None:
        if precombine not in updates.columns:
            raise ValueError(
                f"precombine field {precombine!r} not in updates frame "
                f"{updates.columns}"
            )
        rank = F.row_number().over(
            Window.partitionBy(F.col(record_key).cast("string")).orderBy(
                F.col(precombine).desc()
            )
        )
        updates = (
            updates.withColumn("__pc_rank", rank)
            .filter(F.col("__pc_rank") == 1)
            .drop("__pc_rank")
        )
    else:
        dup = (
            updates.groupBy(F.col(record_key).cast("string"))
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                "updates batch carries duplicate record keys; pass "
                "precombine=<field> to collapse them (largest wins) — "
                "writing both would leave duplicate keys in the snapshot"
            )
    # key -> owning file group, from the meta columns (no listing)
    keyed = cur.withColumn("__cur_fg", _fg_expr())
    upd_keys = updates.select(
        F.col(record_key).cast("string").alias("__k")
    ).dropDuplicates()
    owners = (
        keyed.join(
            upd_keys, keyed["_hoodie_record_key"] == upd_keys["__k"], "inner"
        )
        .select("__cur_fg")
        .distinct()
        .collect()
    )
    affected = {r["__cur_fg"] for r in owners}
    rewritten = {fg: slices[fg] for fg in affected if fg in slices}
    data_cols = [c for c in cur.columns if c not in _META_COLS]
    # updated rows land in their CURRENT group; fresh keys get new ones
    key_to_fg = keyed.select(
        F.col("_hoodie_record_key").alias("__k"), "__cur_fg"
    ).dropDuplicates(["__k"])
    upd = updates.select(*data_cols).withColumn(
        "__k", F.col(record_key).cast("string")
    )
    matched = upd.join(key_to_fg, "__k").select(
        *data_cols, F.col("__cur_fg").alias("__hoodie_fg")
    )
    fresh = upd.join(key_to_fg, "__k", "left_anti").withColumnRenamed(
        "__k", "__hoodie_key"
    )
    instant = _next_instant(table)
    fg_parts: dict[str, str] = {}
    base_df = None
    if fresh.limit(1).count() > 0:
        base_df, fg_parts = _assign_new_groups(fresh, part_field, 1)
        base_df = base_df.drop("__hoodie_key")

    if mor:
        # affected groups: append ONE log file each (avro-data block)
        log_stats: dict[str, list[dict]] = {}
        if affected:
            fg_meta = _log_fg_meta(slices, affected)
            avro_schema = _avro_schema_for(cur.schema)
            log_stats = _append_log_files(
                matched,
                table,
                instant,
                record_key,
                fg_meta,
                avro_schema=avro_schema,
            )
        return _write_commit(
            base_df, table, instant, record_key, fg_parts,
            op="upsert", action=".deltacommit", extra_stats=log_stats,
            extra_metadata=extra_metadata,
        )

    # copy-on-write: survivors keep commit_time/seqno/key/partition
    # (real merge-handle semantics — read_hudi_changes filters on
    # _hoodie_commit_time); _hoodie_file_name restamps to the NEW
    # base file every row physically lands in (preserve_meta=True)
    survivors = (
        keyed.filter(F.col("__cur_fg").isin(list(affected)))
        .join(
            upd_keys,
            keyed["_hoodie_record_key"] == upd_keys["__k"],
            "left_anti",
        )
        .select(*data_cols, *_META_COLS, F.col("__cur_fg").alias("__hoodie_fg"))
        if affected
        else None
    )
    combined = matched
    if survivors is not None:
        combined = combined.unionByName(survivors, allowMissingColumns=True)
    if base_df is not None:
        combined = combined.unionByName(base_df, allowMissingColumns=True)
    fg_parts.update({fg: sl["partition"] for fg, sl in rewritten.items()})
    combined = combined.repartition("__hoodie_fg")
    return _write_commit(
        combined, table, instant, record_key, fg_parts,
        rewritten=rewritten, op="upsert", extra_metadata=extra_metadata,
        preserve_meta=True,
    )


def delete_by_key_hudi(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    extra_metadata: dict[str, str] | None = None,
) -> dict:
    """Row-level delete by VALUE. COPY_ON_WRITE: file groups owning a
    doomed key are rewritten WITHOUT those rows; a group losing every
    row gets an empty base file so its new slice shadows the old.
    MERGE_ON_READ: each affected group gets its slice's next log file
    carrying a DELETE block of the doomed keys — O(deleted keys)
    bytes, no rewrite. Untouched groups are never read or written."""
    table = os.path.abspath(path)
    mor = (
        _load_properties(table).get("hoodie.table.type") == "MERGE_ON_READ"
    )
    cur, slices, record_key, part_field = _snapshot_with_groups(spark, table)
    key_col = keys.columns[0]
    doomed = keys.select(
        F.col(key_col).cast("string").alias("__k")
    ).dropDuplicates()
    keyed = cur.withColumn("__cur_fg", _fg_expr())
    affected = {
        r["__cur_fg"]
        for r in keyed.join(
            doomed, keyed["_hoodie_record_key"] == doomed["__k"], "inner"
        )
        .select("__cur_fg")
        .distinct()
        .collect()
    }
    if not affected:
        return {"instant": None, "files_written": 0}
    instant = _next_instant(table)
    if mor:
        doomed_fg = (
            keyed.join(
                doomed, keyed["_hoodie_record_key"] == doomed["__k"], "inner"
            )
            .select(
                F.col("_hoodie_record_key").alias("__hoodie_key"),
                F.col("__cur_fg").alias("__hoodie_fg"),
            )
            .dropDuplicates()
        )
        log_stats = _append_log_files(
            doomed_fg,
            table,
            instant,
            record_key,
            _log_fg_meta(slices, affected),
            deletes=True,
        )
        return _write_commit(
            None, table, instant, record_key, {},
            op="delete", action=".deltacommit", extra_stats=log_stats,
            extra_metadata=extra_metadata,
        )
    data_cols = [c for c in cur.columns if c not in _META_COLS]
    # survivors keep their meta columns (unchanged records)
    survivors = (
        keyed.filter(F.col("__cur_fg").isin(list(affected)))
        .join(doomed, keyed["_hoodie_record_key"] == doomed["__k"], "left_anti")
        .select(*data_cols, *_META_COLS, F.col("__cur_fg").alias("__hoodie_fg"))
        .repartition("__hoodie_fg")
    )
    rewritten = {fg: slices[fg] for fg in affected if fg in slices}
    return _write_commit(
        survivors, table, instant, record_key,
        {fg: sl["partition"] for fg, sl in rewritten.items()},
        rewritten=rewritten, op="delete", preserve_meta=True,
        extra_metadata=extra_metadata,
    )


# ---------------------------------------------------------------------- read


def read_hudi(
    spark: SparkSession,
    path: str,
    as_of: str | None = None,
    with_meta: bool = False,
    read_optimized: bool = False,
    partition_filter: dict | None = None,
) -> DataFrame:
    """Snapshot read: the newest FILE SLICE per file group, resolved
    from the completed timeline alone (module docstring) — crashed or
    in-flight writes are invisible, obsolete base files are never
    opened. MERGE_ON_READ slices merge their log blocks onto the base
    file (newest record version wins, delete blocks tombstone); log
    parsing and the merge both run executor-side, and only
    log-bearing groups shuffle. `as_of` time-travels to any completed
    instant — the log chain truncates with the timeline, so a
    mid-chain cut replays exactly the blocks committed by then.
    `read_optimized` is Hudi's second MOR query type: base files
    ONLY, skipping the log merge entirely — columnar-scan latency at
    the cost of staleness bounded by the last compaction (on a CoW
    table, or a fully-compacted MOR one, it equals the snapshot).
    `partition_filter` ({field: value}) prunes file GROUPS at
    O(timeline metadata) — non-matching groups' base and log files
    are never opened (the iceberg scan_filter twin); an unknown field
    refuses. The five meta columns are dropped unless `with_meta`."""
    table = os.path.abspath(path)
    props = _load_properties(table)  # existence + table-type check
    slices = _file_slices(table, as_of=as_of)
    if not slices:
        raise FileNotFoundError(
            f"Hudi table has no completed commits"
            + (f" at or before {as_of}" if as_of else "")
            + f": {table}"
        )
    if partition_filter:
        part_field = props.get("hoodie.table.partition.fields")
        unknown = set(partition_filter) - ({part_field} if part_field else set())
        if unknown:
            raise ValueError(
                f"partition_filter names field(s) {sorted(unknown)}; "
                f"the table partitions by {part_field!r}"
            )
        want = {f"{k}={v}" for k, v in partition_filter.items()}
        slices = {
            fid: s for fid, s in slices.items() if s["partition"] in want
        }
        if not slices:
            raise FileNotFoundError(
                f"no file groups match partition_filter "
                f"{partition_filter} in {table}"
            )
    if read_optimized:
        df = parquet_cached(
            spark, *[os.path.join(table, s["path"]) for s in slices.values()]
        )
    else:
        df = _merge_slices(spark, table, slices)
    if not with_meta:
        df = df.drop(*_META_COLS)
    return df


def count_rows_hudi(path: str, as_of: str | None = None) -> int:
    """Metadata-only COUNT: the newest slice per group sums its base
    stat's numWrites minus its log chain's numDeletes — O(timeline
    JSON), zero data reads (the Hudi twin of count_rows_iceberg).
    Sound for tables written by this module (log upserts only touch
    EXISTING keys — fresh keys land in base files — and delete blocks
    only name LIVE keys); a foreign log that inserts new keys or
    re-deletes dead ones would shift the true count."""
    table = os.path.abspath(path)
    base_counts: dict[str, int] = {}
    log_deletes: dict[str, int] = {}
    for instant, action in _timeline_actions(table):
        if as_of is not None and instant > str(as_of):
            break
        meta = _read_commit(table, instant, action)
        if action == ".replacecommit":
            for _p, fids in (
                meta.get("partitionToReplaceFileIds") or {}
            ).items():
                for fid in fids:
                    base_counts.pop(fid, None)
                    log_deletes.pop(fid, None)
        for _part, stats in (meta.get("partitionToWriteStats") or {}).items():
            for st in stats:
                if st["path"].endswith(".parquet"):
                    base_counts[st["fileId"]] = int(st["numWrites"])
                    log_deletes[st["fileId"]] = 0
                else:
                    log_deletes[st["fileId"]] = log_deletes.get(
                        st["fileId"], 0
                    ) + int(st.get("numDeletes", 0))
    return sum(base_counts.values()) - sum(log_deletes.values())


def compact_hudi(spark: SparkSession, path: str) -> dict:
    """MOR compaction: every log-bearing slice merges (base + blocks,
    newest version wins) into a NEW base file published under a
    `commit` instant — the real writer's convention — resetting the
    group's log chain. Unchanged records keep commit_time/seqno/key/
    partition (`_hoodie_file_name` restamps to the new base file);
    groups without logs are untouched. Time travel to a pre-compaction
    instant still replays the old base + logs (nothing is deleted)."""
    table = os.path.abspath(path)
    props = _load_properties(table)
    if props.get("hoodie.table.type") != "MERGE_ON_READ":
        raise ValueError(f"compact_hudi: not a MERGE_ON_READ table: {table}")
    record_key = props["hoodie.table.recordkey.fields"]
    slices = _file_slices(table)
    dirty = {fid: sl for fid, sl in slices.items() if sl["logs"]}
    if not dirty:
        return {"instant": None, "files_written": 0}
    rows = _merge_slices(spark, table, dirty).withColumn(
        "__hoodie_fg", _fg_expr()
    )
    instant = _next_instant(table)
    return _write_commit(
        rows.repartition("__hoodie_fg"), table, instant, record_key,
        {fg: sl["partition"] for fg, sl in dirty.items()},
        rewritten=dirty, op="compact", preserve_meta=True,
    )


def cluster_hudi(
    spark: SparkSession, path: str, buckets: int = 1
) -> dict:
    """Clustering (the replacecommit action): rewrite every current
    file group into `buckets` fresh groups per partition value and
    publish a `replacecommit` naming the replaced groups — readers at
    or after it resolve only the new groups; time travel before it
    still sees the old ones (nothing is deleted). Records keep their
    meta columns except `_hoodie_file_name`, which must name the new
    file (the group-resolution column). Log-bearing groups refuse —
    compact first (real clustering plans around pending logs; this
    module keeps the two rewrites orthogonal)."""
    table = os.path.abspath(path)
    props = _load_properties(table)
    record_key = props["hoodie.table.recordkey.fields"]
    part_field = props.get("hoodie.table.partition.fields")
    slices = _file_slices(table)
    if not slices:
        raise FileNotFoundError(f"Hudi table has no completed commits: {table}")
    pending = [fid for fid, sl in slices.items() if sl["logs"]]
    if pending:
        raise NotImplementedError(
            f"cluster_hudi: file groups {sorted(pending)} carry log "
            "files; run compact_hudi first"
        )
    cur = _merge_slices(spark, table, slices)
    keyed = cur.drop("_hoodie_file_name").withColumn(
        "__hoodie_key", F.col(record_key).cast("string")
    )
    assigned, fg_parts = _assign_new_groups(keyed, part_field, buckets)
    replace: dict[str, list[str]] = {}
    for fid, sl in slices.items():
        replace.setdefault(sl["partition"], []).append(fid)
    instant = _next_instant(table)
    return _write_commit(
        assigned.drop("__hoodie_key"), table, instant, record_key, fg_parts,
        op="cluster", action=".replacecommit", replace_file_ids=replace,
        preserve_meta=True,
    )


def hudi_history(spark: SparkSession, path: str) -> DataFrame:
    """Timeline introspection (the DESCRIBE HISTORY / snapshots
    twin): one row per completed instant — (instant, action,
    operation, files_written, rows_written, rows_updated,
    rows_deleted) — from the timeline JSON alone, zero data reads."""
    table = os.path.abspath(path)
    _load_properties(table)
    rows = []
    for instant, action, meta in _timeline_with_meta(table, rollbacks=True):
        n_files = n_rows = n_upd = n_del = 0
        for _p, stats in (meta.get("partitionToWriteStats") or {}).items():
            for st in stats:
                n_files += 1
                n_rows += int(st.get("numWrites", 0))
                n_upd += int(st.get("numUpdateWrites", 0))
                n_del += int(st.get("numDeletes", 0))
        rows.append(
            (
                instant,
                action.lstrip("."),
                str(
                    meta.get("operationType")
                    or ("ROLLBACK" if action == _ROLLBACK else "")
                ),
                n_files,
                n_rows,
                n_upd,
                n_del,
            )
        )
    return spark.createDataFrame(
        rows,
        "instant string, action string, operation string, "
        "files_written int, rows_written long, rows_updated long, "
        "rows_deleted long",
    )


def clean_hudi(path: str, keep_last: int = 2) -> dict:
    """Hudi cleaning (KEEP_LATEST_COMMITS): physically remove data
    files no retained snapshot can reach — the Hudi face of
    vacuum_delta / expire_snapshots_iceberg. Retention = the last
    `keep_last` completed instants: every base/log file some retained
    `as_of` resolves stays; everything else recorded by the timeline
    (obsolete slices, replaced groups, compacted-away logs) unlinks,
    and a `<instant>.clean` metadata file records exactly what was
    removed (the real cleaner's convention). Planning is O(timeline
    JSON) — never a directory listing. Time travel to a cleaned
    instant fails loudly at read (missing files), the vacuum_delta
    contract."""
    table = os.path.abspath(path)
    _load_properties(table)
    actions = _timeline_actions(table)
    if not actions:
        raise FileNotFoundError(f"Hudi table has no completed commits: {table}")
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    retained = [i for i, _a in actions][-keep_last:]
    referenced: set[str] = set()
    for instant in retained:
        for sl in _file_slices(table, as_of=instant).values():
            referenced.add(sl["path"])
            referenced.update(p for _i, p in sl["logs"])
    recorded: set[str] = set()
    for _instant, action, meta in _timeline_with_meta(table, rollbacks=True):
        for _part, stats in (meta.get("partitionToWriteStats") or {}).items():
            for st in stats:
                recorded.add(st["path"])
        if action == _ROLLBACK:  # command logs are physical files too
            for _part, pm in (meta.get("partitionMetadata") or {}).items():
                recorded.update(pm.get("rollbackLogFiles") or [])
    doomed = sorted(recorded - referenced)
    removed = []
    for rel in doomed:
        full = os.path.join(table, rel)
        if os.path.isfile(full):
            os.remove(full)
            removed.append(rel)
    instant = _next_instant(table)
    hd = _hoodie_dir(table)
    tmp = os.path.join(hd, f".{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as fh:
        json.dump(
            {
                "earliestCommitToRetain": retained[0],
                "totalFilesDeleted": len(removed),
                "filesDeleted": removed,
            },
            fh,
        )
    os.rename(tmp, os.path.join(hd, f"{instant}.clean"))
    return {"instant": instant, "files_deleted": len(removed)}


def archive_hudi(path: str, keep_last: int = 30) -> dict:
    """Timeline archival (hoodie.keep.max.commits): move every
    completed instant older than the last `keep_last` off the active
    timeline into `.hoodie/archived/` — the real writer's default
    behavior on long-lived tables, which is why a reader that ignores
    the archive silently drops old file groups. The archive file is a
    HoodieLogFormat file (one avro-data block) whose records carry
    each instant's metadata VERBATIM as `metadataJson` (see
    _ARCHIVE_SCHEMA — the real writer embeds a typed sub-record
    instead; _archived_entries reads both). Data files are untouched:
    archival is timeline metadata movement, cleaning is what removes
    data (clean_hudi).

    Crash-safe ordering: the archive file publishes atomically
    (tmp+rename) BEFORE the active instant files unlink, and the
    reader dedups instants preferring the active copy — a crash
    between the two steps leaves a readable table, re-archiving is
    idempotent."""
    table = os.path.abspath(path)
    _load_properties(table)
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    active = _active_instants(table, rollbacks=True)
    data_instants = [i for i, a in active if a != _ROLLBACK]
    if len(data_instants) <= keep_last:
        return {"archived": 0, "file": None}
    cut = data_instants[-keep_last]  # oldest RETAINED data instant
    to_move = [(i, a) for i, a in active if i < cut]
    if not to_move:
        return {"archived": 0, "file": None}
    records = [
        {
            "commitTime": instant,
            "actionType": action.lstrip("."),
            "actionState": "COMPLETED",
            "metadataJson": json.dumps(_read_commit(table, instant, action)),
        }
        for instant, action in to_move
    ]
    adir = _archived_dir(table)
    os.makedirs(adir, exist_ok=True)
    seq = 1 + max(
        (
            int(n.split(".archive.")[1].split("_")[0])
            for n in os.listdir(adir)
            if ".archive." in n
        ),
        default=0,
    )
    name = f".commits_.archive.{seq}_{_WRITE_TOKEN}"
    block = hudi_log.avro_data_block(
        records, _ARCHIVE_SCHEMA, to_move[-1][0]
    )
    tmp = os.path.join(adir, f".{uuid.uuid4().hex}.tmp")
    with open(tmp, "wb") as fh:
        fh.write(block)
    os.rename(tmp, os.path.join(adir, name))
    hd = _hoodie_dir(table)
    for instant, action in to_move:
        os.remove(os.path.join(hd, f"{instant}{action}"))
        for trans in (
            f"{instant}{action}.requested",
            f"{instant}.inflight"
            if action == ".commit"
            else f"{instant}{action}.inflight",
        ):
            fp = os.path.join(hd, trans)
            if os.path.isfile(fp):
                os.remove(fp)
    return {"archived": len(to_move), "file": name}


def read_hudi_changes(
    spark: SparkSession,
    path: str,
    begin_instant: str | None = None,
    end_instant: str | None = None,
) -> DataFrame:
    """Incremental read, Hudi incremental-query semantics: the rows
    upserted by each instant in (begin_instant, end_instant] — begin
    EXCLUSIVE (None = from the start), end INCLUSIVE (None = latest)
    — tagged with a `_commit_instant` column. Deletes are absent,
    like the real incremental relation (and read_delta_changes).

    Cost O(new data), never O(table): only the files each in-range
    instant WROTE are opened — base files filter to the rows the
    instant stamped (rewrite survivors keep their original
    `_hoodie_commit_time`, so they are excluded for free), log files
    parse executor-side. Compaction commits and replacecommits
    contribute nothing by construction (they re-house existing
    records) and are skipped at O(metadata).

    Loud failures, never silent gaps: an unknown begin/end instant or
    an inverted range raises — an incremental consumer silently
    skipping a missing instant would emit a hole as if it were
    empty."""
    table = os.path.abspath(path)
    _load_properties(table)
    timeline = _timeline_with_meta(table)
    actions = [(i, a) for i, a, _m in timeline]
    metas = {i: m for i, _a, m in timeline}
    if not actions:
        raise FileNotFoundError(f"Hudi table has no completed commits: {table}")
    instants = [i for i, _a in actions]
    if end_instant is None:
        end_instant = instants[-1]
    elif end_instant not in instants:
        raise ValueError(
            f"end instant {end_instant!r} is not a completed instant"
        )
    if begin_instant is not None and begin_instant not in instants:
        raise ValueError(
            f"begin instant {begin_instant!r} is not a completed instant"
        )
    if begin_instant is not None and begin_instant > end_instant:
        raise ValueError(
            f"inverted instant range ({begin_instant!r}, {end_instant!r}]"
        )
    in_range = [
        (i, a)
        for i, a in actions
        if (begin_instant is None or i > begin_instant) and i <= end_instant
    ]
    # a sample base file names the table schema (one always exists)
    any_slices = _file_slices(table, as_of=end_instant)
    sample = next(iter(any_slices.values()))["path"]
    schema = parquet_cached(spark, os.path.join(table, sample)).schema
    data_cols = [c for c in schema.fieldNames() if c not in _META_COLS]
    pieces: list[DataFrame] = []
    for instant, action in in_range:
        if action == ".replacecommit":
            continue  # clustering re-houses records, adds none
        meta = metas[instant]
        if meta.get("operationType") == "COMPACT":
            continue  # compaction bakes in already-emitted records
        base_paths, log_paths = [], []
        for _part, stats in (meta.get("partitionToWriteStats") or {}).items():
            for st in stats:
                if st["path"].endswith(".parquet"):
                    if int(st["numWrites"]):
                        base_paths.append(os.path.join(table, st["path"]))
                elif int(st.get("numUpdateWrites", 0)):
                    log_paths.append(os.path.join(table, st["path"]))
        if base_paths:
            pieces.append(
                parquet_cached(spark, *base_paths)
                .filter(F.col("_hoodie_commit_time") == instant)
                .select(
                    F.lit(instant).alias("_commit_instant"), *data_cols
                )
            )
        if log_paths:
            parsed = _parse_log_frame(
                spark, log_paths, plans=_wire_plans(schema)
            )
            parse_schema, _ch = _from_json_parse_type(schema)
            pieces.append(
                parsed.filter(
                    (F.col("__op") == "upsert")
                    & (F.col("__ord") == instant)
                )
                .select(
                    F.from_json(
                        "__json", parse_schema, {"mode": "FAILFAST"}
                    ).alias("__d")
                )
                .select(
                    F.lit(instant).alias("_commit_instant"),
                    *[
                        _rebuild_from_parsed(
                            F.col(f"__d.{c}"),
                            parse_schema[c].dataType,
                            schema[c].dataType,
                        ).alias(c)
                        for c in data_cols
                    ],
                )
            )
    if not pieces:
        return (
            parquet_cached(spark, os.path.join(table, sample))
            .limit(0)
            .select(
                F.lit("").alias("_commit_instant"), *data_cols
            )
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def read_hudi_deleted_keys(
    spark: SparkSession,
    path: str,
    begin_instant: str | None = None,
    end_instant: str | None = None,
) -> DataFrame:
    """The record keys each in-range instant DELETED, as
    (_commit_instant, <record key column, table-typed>) — the delete
    side of the CDC feed `read_hudi_changes` deliberately omits (the
    real incremental relation has no delete rows), which a
    cross-format mirror needs (sources/replicate.py).

    Cost O(deletes + rewritten groups), never O(table): MOR delete
    blocks name their doomed keys outright (parsed executor-side);
    CoW delete commits record only survivor files, so the dead keys
    recover as prior-slice keys of the REWRITTEN groups minus the new
    base files' keys — the same documented prior-state cost as the
    Iceberg changelog's equality_via_prior_snapshot."""
    table = os.path.abspath(path)
    props = _load_properties(table)
    record_key = props["hoodie.table.recordkey.fields"]
    timeline = _timeline_with_meta(table)
    if not timeline:
        raise FileNotFoundError(f"Hudi table has no completed commits: {table}")
    instants = [i for i, _a, _m in timeline]
    if end_instant is None:
        end_instant = instants[-1]
    elif end_instant not in instants:
        raise ValueError(
            f"end instant {end_instant!r} is not a completed instant"
        )
    if begin_instant is not None and begin_instant not in instants:
        raise ValueError(
            f"begin instant {begin_instant!r} is not a completed instant"
        )
    sample = next(iter(_file_slices(table, as_of=end_instant).values()))[
        "path"
    ]
    key_type = dict(
        (f.name, f.dataType)
        for f in parquet_cached(spark, os.path.join(table, sample)).schema.fields
    )[record_key]
    pieces: list[DataFrame] = []
    prev: str | None = None
    for instant, action, meta in timeline:
        at = instant
        if begin_instant is not None and at <= begin_instant:
            prev = at
            continue
        if at > end_instant:
            break
        if action == ".replacecommit" or meta.get("operationType") == (
            "COMPACT"
        ):
            prev = at
            continue
        del_logs: list[str] = []
        rewritten: list[tuple[str, str]] = []  # (fileId, new base path)
        op_delete = str(meta.get("operationType", "")).upper() == "DELETE"
        for _part, stats in (meta.get("partitionToWriteStats") or {}).items():
            for st in stats:
                if st["path"].endswith(".parquet"):
                    rewrite = str(st.get("prevCommit") or "null") != "null"
                    # numDeletes marks the dropping rewrite; op=DELETE
                    # is the fallback for stats that omit the count
                    if rewrite and (
                        int(st.get("numDeletes", 0)) or op_delete
                    ):
                        rewritten.append((st["fileId"], st["path"]))
                elif int(st.get("numDeletes", 0)):
                    del_logs.append(os.path.join(table, st["path"]))
        if del_logs:
            parsed = _parse_log_frame(spark, del_logs)
            pieces.append(
                parsed.filter(
                    (F.col("__op") == "delete") & (F.col("__ord") == at)
                ).select(
                    F.lit(at).alias("_commit_instant"),
                    F.col("__key").cast(key_type).alias(record_key),
                )
            )
        if rewritten:
            if prev is None:
                raise ValueError(
                    f"Hudi instant {at} records deletes but no prior "
                    "instant exists to diff against"
                )
            prior = _file_slices(table, as_of=prev)
            prior_sub = {
                fid: prior[fid] for fid, _p in rewritten if fid in prior
            }
            prior_keys = _merge_slices(spark, table, prior_sub).select(
                "_hoodie_record_key"
            )
            new_keys = parquet_cached(
                spark, *[os.path.join(table, p) for _f, p in rewritten]
            ).select("_hoodie_record_key")
            pieces.append(
                prior_keys.join(new_keys, "_hoodie_record_key", "left_anti")
                .select(
                    F.lit(at).alias("_commit_instant"),
                    F.col("_hoodie_record_key")
                    .cast(key_type)
                    .alias(record_key),
                )
            )
        prev = at
    if not pieces:
        return (
            spark.range(0)
            .select(
                F.lit("").alias("_commit_instant"),
                F.lit(None).cast(key_type).alias(record_key),
            )
            .limit(0)
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def last_commit_mark_hudi(path: str, key: str) -> str | None:
    """The newest completed instant's extraMetadata value for `key`
    (None if never stamped) — the generic exactly-once high-water
    mark readback (replication mirrors; the streaming sink reads its
    app-keyed batch mark through it). Archived instants included."""
    table = os.path.abspath(path)
    for _i, _a, meta in reversed(_timeline_with_meta(table)):
        extra = meta.get("extraMetadata") or {}
        if key in extra:
            return str(extra[key])
    return None


def apply_cdc_hudi(
    spark: SparkSession,
    path: str,
    deletes: DataFrame,
    upserts: DataFrame,
    record_key: str,
    extra_metadata: dict[str, str] | None = None,
    partition_by: str | None = None,
) -> dict:
    """Apply one CDC batch — deletes (a key-only frame) then upserts
    — to a Hudi table: the Hudi face of apply_cdc_delta /
    apply_cdc_iceberg. The format has no mixed delete+upsert commit,
    so the batch lands as up to TWO commits with `extra_metadata`
    (the replication high-water mark) riding only the FINAL one;
    exactly-once still holds because a crash before the mark replays
    the whole batch, and the batch is idempotent (same upsert values,
    already-dead keys delete as no-ops). On a table that does not
    exist yet the deletes are a no-op and the upserts bootstrap it.
    Returns {'rows_deleted', 'rows_upserted'} (bootstrap adds
    'rows_inserted')."""
    table = os.path.abspath(path)
    out: dict = {"rows_deleted": 0, "rows_upserted": 0}
    if not os.path.isdir(_hoodie_dir(table)):
        write_hudi(
            upserts, table, record_key=record_key,
            partition_by=partition_by, extra_metadata=extra_metadata,
        )
        out["rows_inserted"] = count_rows_hudi(table)
        return out
    props = _load_properties(table)
    if props["hoodie.table.recordkey.fields"] != record_key:
        raise ValueError(
            f"record key {record_key!r} disagrees with the mirror's "
            f"hoodie.properties "
            f"({props['hoodie.table.recordkey.fields']!r})"
        )
    dels = deletes.select(
        F.col(record_key).alias(record_key)
    ).dropDuplicates()
    n_del = dels.count()
    if n_del:
        delete_by_key_hudi(spark, table, dels)
        out["rows_deleted"] = n_del
    # the upsert commit carries the mark — it publishes even for an
    # empty updates frame (an empty commit), so the mark always lands
    out["rows_upserted"] = upserts.count()
    upsert_hudi(spark, table, upserts, extra_metadata=extra_metadata)
    return out


# ------------------------------------------------------------------ streaming

_STREAM_KEY = "streaming.batch.{app_id}"


def last_streaming_batch_hudi(path: str, app_id: str) -> int | None:
    """The app's highest committed micro-batch id, from commit
    metadata's extraMetadata (the field Hudi's own streaming writers
    stamp checkpoints into) — newest commit wins; None for a fresh
    table or unseen app."""
    v = last_commit_mark_hudi(path, _STREAM_KEY.format(app_id=app_id))
    return int(v) if v is not None else None


def streaming_hudi_sink(
    path: str,
    record_key: str,
    app_id: str,
    partition_by: str | None = None,
    buckets: int = 1,
    mode: str = "insert",
    precombine: str | None = None,
    table_type: str = "COPY_ON_WRITE",
):
    """`foreachBatch` body for an exactly-once streaming Hudi sink —
    the Hudi face of streaming_delta_sink / streaming_iceberg_sink:
    one timeline instant per micro-batch, the app's batch high-water
    mark stamped into the SAME instant's extraMetadata (the completed
    timeline file publishes atomically, so there is no window where
    rows are applied but the mark is not). On restart Structured
    Streaming replays the last unacknowledged batch; the sink skips
    batch ids at or below the logged mark. The first batch bootstraps
    the table (`table_type` picks CoW or MOR).

    `mode='insert'` (default) appends every batch as new file groups
    — the append-only event-stream shape. `mode='upsert'` is the CDC
    stream shape: each batch upserts by the record key (pass
    `precombine` to collapse intra-batch duplicate keys, largest
    wins); on a MERGE_ON_READ table that means one LOG FILE per
    affected slice per batch — the production streaming-Hudi layout,
    compacted out-of-band via compact_hudi.

    Usage:
        q = (df.writeStream.foreachBatch(
                 streaming_hudi_sink(table, "event_id", app_id="cur"))
             .option("checkpointLocation", ckpt).start())
    """
    if mode not in ("insert", "upsert"):
        raise ValueError(f"streaming_hudi_sink mode {mode!r}")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        table = os.path.abspath(path)
        exists = os.path.isdir(_hoodie_dir(table))
        if exists:
            last = last_streaming_batch_hudi(table, app_id)
            if last is not None and batch_id <= last:
                return  # replayed batch: its commit already landed
        mark = {_STREAM_KEY.format(app_id=app_id): str(batch_id)}
        if not exists:
            write_hudi(
                batch_df,
                table,
                record_key=record_key,
                partition_by=partition_by,
                buckets=buckets,
                mode="create",
                table_type=table_type,
                extra_metadata=mark,
            )
        elif mode == "insert":
            write_hudi(
                batch_df,
                table,
                record_key=record_key,
                partition_by=partition_by,
                buckets=buckets,
                mode="insert",
                extra_metadata=mark,
            )
        else:
            upsert_hudi(
                batch_df.sparkSession,
                table,
                batch_df,
                precombine=precombine,
                extra_metadata=mark,
            )

    return sink
