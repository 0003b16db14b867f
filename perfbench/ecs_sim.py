"""`ecs_sim` workload: the paper's own step loop on the `ecs` layer.

One episode is a fresh world: seeded entities are spawned through
`World.spawn_from_df` into two archetypes, {Position, Velocity} and
{Position, Velocity, Health}; then `World.step` runs with two processors
(movement on both archetypes, health decay on the second). After every
step one seeded read runs, rotating through `latest(as_of_step=...)`,
`query(step=...)` and an entity-range slice of `get_history`. Every
`despawn_every` steps a seeded `despawn_many` batch retires live
entities, and every `compact_every` steps `store.compact()` runs.

Positions and velocities are integers and `DT` is a power of two, so
every value the engine computes is exact in double precision and the
closed-form model below predicts the final live state and the
history row count exactly.
"""

from __future__ import annotations

import os
import random
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import functions as F

from archetype_spark.ecs import Component, Processor, make_world, processor
from perfbench.corpus import noop

DT = 0.5
HEALTH_DECAY = 3.0  # hp lost per unit time: 1.5 per step, exact


@dataclass
class Position(Component):
    x: float
    y: float


@dataclass
class Velocity(Component):
    vx: float
    vy: float


@dataclass
class Health(Component):
    hp: float


@processor(Position, Velocity, priority=1)
class Movement(Processor):
    def process(self, df, dt):
        return df.withColumns(
            {
                "position__x": F.col("position__x") + F.col("velocity__vx") * dt,
                "position__y": F.col("position__y") + F.col("velocity__vy") * dt,
            }
        )


@processor(Health, priority=2)
class HealthDecay(Processor):
    def process(self, df, dt):
        return df.withColumn("health__hp", F.col("health__hp") - HEALTH_DECAY * dt)


@dataclass(frozen=True)
class Size:
    entities: int
    steps: int
    despawn_every: int
    despawn_fraction: float
    compact_every: int


#: Sizes by name: `full` is what the benchmark measures, `warm` the
#: untimed episode before it (every op kind and every read kind runs
#: once, on few entities), `tiny` the self-test's.
SIZES = {
    "warm": Size(entities=64, steps=3, despawn_every=3, despawn_fraction=0.05, compact_every=3),
    "full": Size(entities=1500, steps=5, despawn_every=3, despawn_fraction=0.05, compact_every=4),
    "tiny": Size(entities=300, steps=3, despawn_every=2, despawn_fraction=0.05, compact_every=3),
}

_A_COLS = "key long, position__x double, position__y double, velocity__vx double, velocity__vy double"
_B_COLS = _A_COLS + ", health__hp double"


class Episode:
    """Seeded inputs, the op plan and the closed-form model of one episode."""

    def __init__(self, seed: int, size: Size):
        rng = random.Random(seed)
        self.size = size
        rows_a, rows_b = [], []
        for key in range(size.entities):
            pos = (float(rng.randint(-1000, 1000)), float(rng.randint(-1000, 1000)))
            vel = (float(rng.randint(-8, 8)), float(rng.randint(-8, 8)))
            if rng.random() < 0.4:
                rows_b.append((key, *pos, *vel, float(rng.randint(100, 1000))))
            else:
                rows_a.append((key, *pos, *vel))
        self.rows_a, self.rows_b = rows_a, rows_b
        # spawn_from_df(order_by=key) hands out dense ids in key order,
        # archetype A first: entity id -> initial row
        self.initial = {i + 1: r for i, r in enumerate(rows_a + rows_b)}
        self.live = set(self.initial)
        self.history_rows = len(self.initial)
        self.rng = rng

    def next_read(self, step: int):
        """(kind, arg) of the read after `step`; kinds rotate."""
        kind = ("latest", "query", "history")[step % 3]
        if kind == "history":
            width = max(1, len(self.initial) // 10)
            lo = self.rng.randint(1, max(1, len(self.initial) - width))
            return kind, (lo, lo + width - 1)
        return kind, self.rng.randint(0, step)

    def despawn_batch(self) -> list[int]:
        k = max(1, int(len(self.live) * self.size.despawn_fraction))
        batch = self.rng.sample(sorted(self.live), k)
        self.live.difference_update(batch)
        return batch

    def expected_state(self, steps: int) -> dict[int, tuple]:
        """Live entity id -> (x, y, hp or None) after `steps` steps."""
        out = {}
        for eid in self.live:
            _, x, y, vx, vy, *hp = self.initial[eid]
            t = steps * DT
            out[eid] = (x + vx * t, y + vy * t, hp[0] - HEALTH_DECAY * t if hp else None)
        return out


def _read(world, kind: str, arg) -> list:
    if kind == "latest":
        return list(world.latest(Position, step=arg).values())
    if kind == "query":
        return list(world.query(Position, step=arg).values())
    lo, hi = arg
    return [
        df.filter(F.col("entity_id").between(lo, hi))
        for df in world.get_history(Position).values()
    ]


def _warehouse_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, name))
    return files, size


def run_episode(spark, seed: int, size: Size, scratch: str, tracer, ops: list, check: bool = True) -> dict:
    """Run one episode; append one record per operation to `ops` and
    return the episode's wall time, check result (unless `check` is
    false) and counters."""
    ep = Episode(seed, size)
    warehouse = os.path.join(scratch, f"ecs-{uuid.uuid4().hex}")
    t_start = time.perf_counter()

    def op(kind, fn, **extra):
        rec = {"kind": kind, "ok": True, **extra}
        t0 = time.perf_counter()
        try:
            with tracer.span("op", kind) as span:
                rec["span"] = span
                fn()
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        rec["seconds"] = time.perf_counter() - t0
        ops.append(rec)

    world = make_world(spark, warehouse, simulation="perfbench", run="r1")
    world.add_processor(Movement())
    world.add_processor(HealthDecay())
    a = spark.createDataFrame(ep.rows_a, _A_COLS)
    b = spark.createDataFrame(ep.rows_b, _B_COLS)

    def spawn():
        world.spawn_from_df([Position, Velocity], a, order_by=["key"])
        world.spawn_from_df([Position, Velocity, Health], b, order_by=["key"])

    op("spawn", spawn)
    for s in range(1, size.steps + 1):
        live = len(ep.live)
        op("step", lambda: world.step(DT), live=live)
        ep.history_rows += live
        kind, arg = ep.next_read(s)

        def read(kind=kind, arg=arg):
            with tracer.span("phase", "construct"):
                frames = _read(world, kind, arg)
            with tracer.span("phase", "execute"):
                for df in frames:
                    noop(df)

        op("read", read, read_kind=kind)
        if s % size.despawn_every == 0:
            batch = ep.despawn_batch()
            op("despawn", lambda batch=batch: world.despawn_many(batch))
        if s % size.compact_every == 0:
            op("compact", lambda: world.store.compact())
    wall = time.perf_counter() - t_start

    files, nbytes = _warehouse_usage(warehouse)
    problem = _check(world, ep, size.steps) if check else None
    shutil.rmtree(warehouse, ignore_errors=True)
    return {
        "wall_s": wall,
        "problem": problem,
        "warehouse_files": files,
        "warehouse_bytes": nbytes,
    }


def _check(world, ep: Episode, steps: int) -> str | None:
    """Compare the engine's final live state and resolved history row
    count with the closed-form model; None when both match."""
    want = ep.expected_state(steps)
    got = {}
    for df in world.latest(Position).values():
        hp = F.col("health__hp") if "health__hp" in df.columns else F.lit(None)
        for r in df.select("entity_id", "position__x", "position__y", hp.alias("hp")).collect():
            got[r[0]] = (r[1], r[2], r[3])
    if got != want:
        wrong = sorted(set(got) ^ set(want)) or sorted(
            e for e in want if got.get(e) != want[e]
        )
        return f"final live state differs from the model at {len(wrong)} entities, e.g. {wrong[:5]}"
    rows = sum(df.count() for df in world.get_history(Position).values())
    if rows != ep.history_rows:
        return f"history has {rows} rows, the model {ep.history_rows}"
    return None
