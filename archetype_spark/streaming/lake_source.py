"""Continuous lake replication — the lake formats as STREAMING
SOURCES (VERDICT r14 #5): `readStream` over a table's commit log +
`foreachBatch` over the idempotent batch replication faces, so a
continuous cross-format mirror is a real Structured Streaming query
instead of a hand-rolled poll loop.

Spark-first shape: Structured Streaming's FILE source does the
incremental discovery — every lake format commits by atomically
renaming a new file into its log directory (Delta `_delta_log/*.json`,
Iceberg `metadata/v*.metadata.json`, Hudi completed-instant files in
`.hoodie/`), so a file stream over that directory yields exactly the
"a new commit landed" signal, checkpointable and trigger-paced by the
engine. The micro-batch body then calls the batch face
(`sources.replicate.replicate`, any of the six directions), which
resolves everything pending past the MIRROR's high-water mark and
applies it as one marked commit.

Exactly-once does NOT lean on the stream checkpoint: each face
carries its mark in the mirror's own atomic commit coordinate (table
properties / txn action / commit extraMetadata), so a replayed
micro-batch, a deleted checkpoint, or a concurrent manual sync all
land as no-ops — the checkpoint only bounds redundant triggers. That
is the sinks' exactly-once pattern reversed onto the source side: the
sink marks what it has APPLIED rather than the source marking what it
has emitted, which is the only coordinate that survives a mid-batch
crash (the mark and the data commit are one atomic write).

Scale shape: the file stream lists one metadata directory (KB-scale
entries, never data files); each micro-batch moves O(changes since
mark) through the batch face's documented plan. A 100 TB source
table's stream costs exactly its commit cadence."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from archetype_spark.sources.replicate import _direction_keys, replicate

#: per-format commit-log location + the glob matching ONLY completed
#: instants (atomically renamed into place): Hudi inflight/requested
#: marker files carry extra suffixes the brace glob excludes.
#: .rollback is included as a TRIGGER: this engine's rollbacks only
#: ever mask instants that never completed (so nothing replicated can
#: be rolled back), but a foreign writer's rollback still changes
#: visible state and must wake the sync rather than leave the mirror
#: stale until an unrelated future commit.
_COMMIT_GLOBS = {
    "delta": ("_delta_log", "*.json"),
    "iceberg": ("metadata", "v*.metadata.json"),
    "hudi": (".hoodie", "*.{commit,deltacommit,replacecommit,rollback}"),
}


def read_lake_commits_stream(
    spark: SparkSession, table: str, fmt: str
) -> DataFrame:
    """The commit-log tail of a lake table as a Structured Streaming
    file source: each completed commit file appears once, in arrival
    order, checkpointable. Rows are the log files' text lines — the
    content is incidental (consumers key on ARRIVAL; the batch faces
    re-resolve pending work from the mirror mark), but text beats
    binaryFile here because commit logs are KB-scale JSON and the
    lines make the stream debuggable."""
    if fmt not in _COMMIT_GLOBS:
        raise ValueError(
            f"unknown lake format {fmt!r}; expected one of "
            f"{sorted(_COMMIT_GLOBS)}"
        )
    sub, glob = _COMMIT_GLOBS[fmt]
    log_dir = os.path.join(os.path.abspath(table), sub)
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(
            f"not a {fmt} table (no {sub} directory): {table}"
        )
    return (
        spark.readStream.format("text")
        .option("pathGlobFilter", glob)
        .load(log_dir)
    )


def stream_replicate(
    spark: SparkSession,
    src: str,
    dst: str,
    src_format: str,
    dst_format: str,
    key: str | None = None,
    checkpoint: str | None = None,
    available_now: bool = False,
    processing_time: str | None = None,
):
    """Start a CONTINUOUS cross-format mirror: any of the six mesh
    directions as a Structured Streaming query. Returns the started
    StreamingQuery (caller owns stop()/awaitTermination()).

    `available_now=True` drains everything pending and stops — the
    batch==stream equivalence shape; `processing_time` paces a
    long-running mirror. A mid-stream crash (or a lost checkpoint)
    replays at most one already-applied range, which the mirror mark
    turns into a no-op — the exactly-once contract is the FACE's,
    the stream only schedules it."""
    keys = _direction_keys(src_format, dst_format, key)
    src = os.path.abspath(src)
    dst = os.path.abspath(dst)
    stream = read_lake_commits_stream(spark, src, src_format)

    def apply_batch(batch_df, batch_id):
        # rows are commit-log lines; only the TRIGGER matters — the
        # face resolves the actual pending range from the mirror mark
        replicate(spark, src, dst, src_format, dst_format, keys)

    w = stream.writeStream.foreachBatch(apply_batch)
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    if available_now:
        w = w.trigger(availableNow=True)
    elif processing_time is not None:
        w = w.trigger(processingTime=processing_time)
    return w.start()
