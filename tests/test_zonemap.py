"""Golden on-disk encodings of the zone-map layer: the Delta add
action's `stats` JSON and the Iceberg manifest entry's
`lower_bounds`/`upper_bounds` bytes, both derived from one pyarrow-
written parquet footer. The literals pin the exact strings and bytes
existing tables carry, so a change to the shared footer walk cannot
silently re-encode what readers already prune on. No Spark."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq

from archetype_spark.sources.delta import _file_stats_json
from archetype_spark.sources.iceberg import _bounds_fields

#: Iceberg schema fields for the file below; only the fixed-width
#: primitives record bounds (strings, structs are skipped).
ICE_FIELDS = [
    {"id": 1, "name": "id", "required": False, "type": "long"},
    {"id": 2, "name": "score", "required": False, "type": "double"},
    {"id": 3, "name": "day", "required": False, "type": "date"},
    {"id": 4, "name": "ts", "required": False, "type": "timestamp"},
    {"id": 5, "name": "tstz", "required": False, "type": "timestamptz"},
    {"id": 6, "name": "name", "required": False, "type": "string"},
    {"id": 7, "name": "maybe", "required": False, "type": "int"},
    {"id": 8, "name": "part", "required": False, "type": "string"},
    {
        "id": 9,
        "name": "nested",
        "required": False,
        "type": {"type": "struct", "fields": []},
    },
]

DELTA_STATS = (
    '{"numRecords": 12, "minValues": {"day": "2024-01-01", "id": 14, '
    '"score": -2.25, "ts": "2024-05-01T12:00:00Z", '
    '"tstz": "2024-05-01T00:00:00Z"}, "maxValues": {"day": "2024-02-03", '
    '"id": 163, "score": 3.25, "ts": "2024-05-01T23:00:11.000011Z", '
    '"tstz": "2024-05-01T03:07:00Z"}, "nullCount": {"day": 0, "id": 0, '
    '"maybe": 6, "name": 0, "score": 0, "ts": 0, "tstz": 0}}'
)

ICE_LOWER = [
    (1, "0e00000000000000"),
    (2, "00000000000002c0"),
    (3, "0b4d0000"),
    (4, "0030d93963170600"),
    (5, "0080ed2a59170600"),
]
ICE_UPPER = [
    (1, "a300000000000000"),
    (2, "0000000000000a40"),
    (3, "2c4d0000"),
    (4, "cb14d9726c170600"),
    (5, "001db1c75b170600"),
]


def _write_golden(path: str) -> None:
    """12 rows in 3 row groups. `maybe` is all-NULL in the first group
    (no min/max there, so no bounds; its null count still sums);
    `part` is the Delta partition column; `nested` yields dotted leaf
    paths; `name` is a string (null count only)."""
    n = 12
    utc = dt.timezone.utc
    t = pa.table(
        {
            "id": pa.array(
                [100 + 7 * i - (i % 3) * 50 for i in range(n)], pa.int64()
            ),
            "score": pa.array([0.5 * i - 2.25 for i in range(n)], pa.float64()),
            "day": pa.array(
                [dt.date(2024, 1, 1) + dt.timedelta(days=3 * i) for i in range(n)],
                pa.date32(),
            ),
            "ts": pa.array(
                [
                    dt.datetime(2024, 5, 1, 12)
                    + dt.timedelta(seconds=3601 * i, microseconds=i)
                    for i in range(n)
                ],
                pa.timestamp("us"),
            ),
            "tstz": pa.array(
                [
                    dt.datetime(2024, 5, 1, tzinfo=utc)
                    + dt.timedelta(minutes=17 * i)
                    for i in range(n)
                ],
                pa.timestamp("us", tz="UTC"),
            ),
            "name": pa.array([f"n{i:02d}" for i in range(n)], pa.string()),
            "maybe": pa.array(
                [None if i < 4 or i % 5 == 0 else i * 11 for i in range(n)],
                pa.int32(),
            ),
            "part": pa.array(["a" if i < 6 else "b" for i in range(n)]),
            "nested": pa.array(
                [{"x": i, "y": f"y{i}"} for i in range(n)],
                pa.struct([("x", pa.int64()), ("y", pa.string())]),
            ),
        }
    )
    pq.write_table(t, path, row_group_size=4)


def test_delta_stats_and_iceberg_bounds_golden(tmp_path):
    path = str(tmp_path / "golden.parquet")
    _write_golden(path)
    assert pq.ParquetFile(path).metadata.num_row_groups == 3

    assert _file_stats_json(path, ["part"]) == DELTA_STATS

    got = _bounds_fields(path, "parquet", ICE_FIELDS)
    assert sorted(got) == ["lower_bounds", "upper_bounds"]
    assert [(e["key"], e["value"].hex()) for e in got["lower_bounds"]] == (
        ICE_LOWER
    )
    assert [(e["key"], e["value"].hex()) for e in got["upper_bounds"]] == (
        ICE_UPPER
    )
    # non-parquet files and schemas without a boundable column record
    # nothing
    assert _bounds_fields(path, "orc", ICE_FIELDS) == {}
    assert _bounds_fields(path, "parquet", ICE_FIELDS[5:6]) == {}
