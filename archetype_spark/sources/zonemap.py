"""Zone-map file skipping shared by the Delta and Iceberg readers: a
`scan_filter` ({column: scalar | (lo, hi)}) skips files whose
recorded MIN/MAX bounds cannot match, then re-applies row-level
(`scan_filter_predicate`), so pruning is an optimization, never the
answer. The formats share the parquet footer walk their writers
encode bounds from (`footer_stats`) and the interval test
(`interval_survives`); each keeps only its on-disk encoding (Delta
stats JSON, Iceberg bound bytes) and its value-domain converter.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import functions as F


def footer_stats(
    abs_path: str, keep: Callable[[str], bool]
) -> tuple[int, dict, dict, dict]:
    """(num_rows, mins, maxs, null counts) from a parquet footer for
    the leaf columns `keep(path_in_schema)` accepts: min of mins / max
    of maxs across row groups. A group without statistics or min/max
    for a column drops that column's bounds, and string/binary bounds
    are never kept (parquet may TRUNCATE them and a truncated max
    would prune wrong); a group without a null count drops that
    column's count (a partial count would be wrong). Footer-only
    read, O(KB)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    nulls: dict[str, int] = {}
    dropped: set[str] = set()
    no_nulls: set[str] = set()
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for c in range(rg.num_columns):
            col = rg.column(c)
            name = col.path_in_schema
            if not keep(name):
                continue
            st = col.statistics
            if st is None or st.null_count is None:
                no_nulls.add(name)
                nulls.pop(name, None)
            elif name not in no_nulls:
                nulls[name] = nulls.get(name, 0) + int(st.null_count)
            if (
                name in dropped
                or st is None
                or not st.has_min_max
                or isinstance(st.min, (bytes, str))
            ):
                dropped.add(name)
                mins.pop(name, None)
                maxs.pop(name, None)
                continue
            if name not in mins or st.min < mins[name]:
                mins[name] = st.min
            if name not in maxs or st.max > maxs[name]:
                maxs[name] = st.max
    return md.num_rows, mins, maxs, nulls


def interval_survives(lo, hi, flt, to_domain: Callable) -> bool:
    """Can a file whose values lie in the closed [lo, hi] hold a row
    matching `flt` — a scalar (equality) or a (f_lo, f_hi) half-open
    range with None unbounding a side? `to_domain` maps filter values
    into the bounds' domain (None = incomparable). Conservative: an
    unknown bound, an unconvertible value or an incomparable pair
    keeps the file."""
    if lo is None and hi is None:
        return True
    try:
        if isinstance(flt, tuple):
            f_lo = to_domain(flt[0])
            f_hi = to_domain(flt[1])
            if f_lo is not None and hi is not None and hi < f_lo:
                return False
            if f_hi is not None and lo is not None and lo >= f_hi:
                return False
        else:
            v = to_domain(flt)
            if v is None:
                return True
            if lo is not None and v < lo:
                return False
            if hi is not None and v > hi:
                return False
    except TypeError:
        pass  # incomparable foreign value: keep the file
    return True


def scan_filter_predicate(scan_filter: dict):
    """The row-level Column predicate for `scan_filter`: scalar ->
    equality; (lo, hi) -> lo <= col < hi (None unbounds a side)."""
    pred = F.lit(True)
    for col, flt in scan_filter.items():
        if isinstance(flt, tuple):
            lo, hi = flt
            if lo is not None:
                pred = pred & (F.col(col) >= F.lit(lo))
            if hi is not None:
                pred = pred & (F.col(col) < F.lit(hi))
        else:
            pred = pred & (F.col(col) == F.lit(flt))
    return pred
