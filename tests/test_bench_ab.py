"""`bench.py --ab` harness logic, with the Spark session, the variants
and the clock stubbed out: no Spark job runs."""

from __future__ import annotations

import json
from types import SimpleNamespace

import pytest

import bench
from archetype_spark.queries.northstar import AB_VARIANTS


class _Frame:
    """Stands in for a variant's DataFrame: fixed rows, and a run time
    the stubbed noop sink adds to the fake clock."""

    def __init__(self, rows, secs):
        self.rows, self.secs = rows, secs

    def collect(self):
        return self.rows


class _Clock:
    now = 0.0

    def monotonic(self):
        return self.now


def _stub_harness(monkeypatch, variants):
    """Register `variants` (label -> (rows, run times in call order))
    as `--ab qtest`; the first collect and the warm-up run are each
    given a 0 s run time."""
    clock = _Clock()

    def make(rows, secs):
        it = iter([0.0, 0.0, *secs])
        return lambda spark, sf_dir: _Frame(rows, next(it))

    def materialize(df):
        clock.now += df.secs

    quiet = SimpleNamespace(setLogLevel=lambda level: None)
    spark = SimpleNamespace(sparkContext=quiet)
    monkeypatch.setattr(bench, "get_spark", lambda app_name: spark)
    monkeypatch.setattr(bench, "_materialize", materialize)
    monkeypatch.setattr(bench, "time", clock)
    monkeypatch.setitem(
        AB_VARIANTS, "qtest", {k: make(*v) for k, v in variants.items()}
    )


def test_run_ab_reports_the_median_of_an_even_rep_count(monkeypatch, capsys):
    _stub_harness(
        monkeypatch,
        {"a": ([(1,)], [1.0, 2.0]), "b": ([(1,)], [3.0, 5.0])},
    )
    bench.run_ab("unused", 0.01, "qtest", reps=2)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["samples"] == {"a": [1.0, 2.0], "b": [3.0, 5.0]}
    assert out["medians"] == {"a": 1.5, "b": 4.0}


def test_run_ab_compares_rows_as_multisets(monkeypatch):
    _stub_harness(
        monkeypatch,
        {"a": ([(1,), (2,)], [1.0]), "b": ([(1,), (1,), (2,)], [1.0])},
    )
    with pytest.raises(SystemExit, match="disagree on rows"):
        bench.run_ab("unused", 0.01, "qtest", reps=1)
