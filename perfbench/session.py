"""One fresh-interpreter benchmark session (started by ``run.py``).

Roles:

* ``setup`` — engine import, ``get_spark``, registry import and one
  trivial action, then exit. Timed from the parent's spawn instant
  (``time.monotonic`` is system-wide), so interpreter start counts.
* ``workload`` — the same setup, then a cold pass, untimed warm-up
  passes, timed warm passes for ``--seconds``, output checks and the
  run record. With ``--trace 1`` the layer wrappers are installed on
  the cold pass and on every other timed pass.

The result is written as JSON to ``--out``; stdout is left to Spark.
"""

from __future__ import annotations

import time

_T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def setup(spawn_ts: float, cpus: int) -> tuple:
    marks = {}
    t = time.monotonic()
    import etl_orders_spark  # noqa: F401

    marks["engine_import_s"] = time.monotonic() - t
    from etl_orders_spark.session import get_spark

    t = time.monotonic()
    spark = get_spark("perfbench", cpus=cpus)
    marks["get_spark_s"] = time.monotonic() - t
    t = time.monotonic()
    from etl_orders_spark.plans.registry import query_map

    builders = query_map()
    marks["registry_import_s"] = time.monotonic() - t
    t = time.monotonic()
    spark.range(1).count()
    marks["first_action_s"] = time.monotonic() - t
    marks["setup_s"] = time.monotonic() - spawn_ts
    marks["interpreter_s"] = _T_START - spawn_ts
    return spark, builders, marks


class Units:
    """The units of one workload: registry lanes written to the noop
    sink, or daily ETL batches through ``run_pipeline.run``."""

    def __init__(self, spark, builders, spec: dict, work: str, tracer=None):
        self.spark, self.builders, self.spec, self.work = spark, builders, spec, work
        self.tracer = tracer
        self.batch = 0
        self.raised: set[int] = set()

    def names(self) -> list[str]:
        if self.spec["kind"] == "lanes":
            return list(self.spec["lanes"])
        return [f"batch{i}" for i in range(self.spec["batches_per_pass"])]

    def run(self, name: str, traced: bool, stores, layer) -> None:
        if self.spec["kind"] == "lanes":
            self._lane(name, traced, stores, layer)
        else:
            self._batch(traced, layer)

    def _lane(self, name, traced, stores, layer):
        builder = self.builders[name]
        sf = os.path.join(self.work, "sf")
        if not traced:
            builder(self.spark, sf).write.format("noop").mode("overwrite").save()
            return
        e0 = stores.last_execution_id()
        t0 = time.perf_counter()
        df = self.tracer.building(builder)(self.spark, sf)
        t1 = time.perf_counter()
        layer["builder_sql_execs"] += stores.last_execution_id() - e0
        t2 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t3 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t4 = time.perf_counter()
        layer["build_s"] += t1 - t0
        layer["plan_s"] += t3 - t2
        layer["run_s"] += t4 - t3

    def _batch(self, traced, layer):
        from etl_orders_spark import run_pipeline

        day = os.path.join(self.work, "drops", f"day_{self.batch:03d}")
        out = os.path.join(self.work, "out", f"batch_{self.batch:03d}")
        self.batch += 1
        if not os.path.isdir(day):
            raise RuntimeError(f"no generated drop left for batch {self.batch - 1}")
        t0 = time.perf_counter()
        try:
            run_pipeline.run(self.spark, day, out)
        except Exception:
            self.raised.add(self.batch - 1)
            raise
        if traced:
            layer["unit_s"] += time.perf_counter() - t0


def run_pass(units: Units, traced: bool, stores, tracer, timings: dict, attempts, failures: dict) -> tuple:
    """One pass over every unit. Returns (wall seconds, layer counts)."""
    layer: Counter = Counter()
    if traced:
        tracer.counts.clear()
        tracer.install()
        e0, j0 = stores.last_execution_id(), stores.last_job_id()
    t_pass = time.perf_counter()
    try:
        for name in units.names():
            attempts[name] += 1
            t0 = time.perf_counter()
            try:
                units.run(name, traced, stores, layer)
            except Exception:  # noqa: BLE001 — a failing unit is counted, the pass goes on
                failures[name] = failures.get(name, 0) + 1
                traceback.print_exc()
            timings.setdefault(name, []).append(time.perf_counter() - t0)
    finally:
        wall = time.perf_counter() - t_pass
        if traced:
            tracer.uninstall()
    if traced:
        layer.update(tracer.counts)
        layer.update(stores.sql_metrics(e0 + 1, stores.last_execution_id(), python=True))
        layer.update(stores.stage_metrics(j0 + 1, stores.last_job_id()))
    return wall, layer


def workload(args, spec: dict) -> dict:
    from perfbench import check, layers

    spark, builders, marks = setup(args.spawn_ts, args.cpus)
    stores = layers.StatusStores(spark)
    tracer = layers.Tracer(spark) if args.trace else None
    units = Units(spark, builders, spec, args.work, tracer)
    res: dict = {"setup": marks, "unit_order": units.names()}
    attempts: Counter = Counter()
    failures: dict = {}
    timings: dict = {}

    # cold pass: first pass of the session, cold JIT and empty keyed caches
    cold_units: dict = {}
    res["cold_pass_s"], cold_layer = run_pass(units, bool(args.trace), stores, tracer, cold_units,
                                              attempts, failures)
    res["cold_unit_s"] = {k: v[0] for k, v in cold_units.items()}
    warmups = []
    for _ in range(spec["warmup_passes"]):
        warmups.append(run_pass(units, False, stores, tracer, {}, attempts, failures)[0])
    res["warmup_pass_s"] = warmups

    # timed window: untraced passes only, unless tracing, where traced and
    # untraced passes alternate so the overhead is measured in one JVM
    passes, traced_passes, layer_passes = [], [], []
    # a traced run needs two of each kind at least
    min_passes = spec["min_passes"] + args.trace
    t_window = time.perf_counter()
    i = 0
    while (i < min_passes or time.perf_counter() - t_window < args.seconds) \
            and i < spec["max_passes"]:
        traced = bool(args.trace) and i % 2 == 1
        wall, layer = run_pass(units, traced, stores, tracer, {} if traced else timings, attempts, failures)
        if traced:
            traced_passes.append(wall)
            layer_passes.append(layer)
        else:
            passes.append(wall)
        i += 1
    res["window_s"] = time.perf_counter() - t_window
    res["warm_pass_s"] = passes
    res["traced_pass_s"] = traced_passes
    res["unit_s"] = timings

    t = time.perf_counter()
    verdicts = check.check_workload(spark, builders, spec, args.work, units)
    res["check_s"] = time.perf_counter() - t
    res["checks"] = verdicts
    bad = {n for n, v in verdicts.items() if not v["ok"]}
    res["attempted"] = sum(attempts.values())
    if spec["kind"] == "lanes":
        # a lane whose checked output is wrong was wrong in every pass
        res["failed"] = sum(attempts[n] if n in bad else failures.get(n, 0) for n in attempts)
    else:
        res["failed"] = sum(failures.values()) + len(bad)
    res["failures"] = failures

    res["cached_rdds"], res["cached_mb"] = stores.cached()
    if args.trace:
        res["cold_layer"] = dict(cold_layer)
        res["layer_passes"] = [dict(p) for p in layer_passes]
        res["sources"] = check.etl_bytes(args.work, units.batch) if spec["kind"] == "etl" else {}
    res["jvm_flags"] = list(
        spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    import bench

    t = time.perf_counter()
    res["calibration_sec"] = bench._calibration_probe(spark)
    res["calibration_probe_s"] = time.perf_counter() - t
    return res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--role", choices=("setup", "workload"), required=True)
    ap.add_argument("--spawn-ts", type=float, required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spec", help="workload spec as JSON")
    ap.add_argument("--work")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    if args.role == "setup":
        result = {"setup": setup(args.spawn_ts, args.cpus)[2]}
    else:
        result = workload(args, json.loads(args.spec))
    with open(args.out, "w") as f:
        json.dump(result, f)
    # the parent stops the JVM with the rest of this process group
    os._exit(0)


if __name__ == "__main__":
    raise SystemExit(main())
