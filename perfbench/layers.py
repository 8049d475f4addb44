"""Per-layer accounting for one benchmark session.

Everything here wraps the engine from the outside: module attributes of
the engine are swapped for counting wrappers while a traced pass runs,
and Spark's own status stores (the SQL store and the AppStatusStore,
both populated with the UI disabled) are read between passes. Nothing
in the engine is edited.
"""

from __future__ import annotations

import re
import sys
import time
from collections import Counter

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*(B|KiB|MiB|GiB|TiB|ns|ms|s|m|h)?\b")
_PLAN_METRIC = re.compile(r"SQLPlanMetric\(([^,]*),(\d+),([^)]*)\)")
_METRIC_VALUE = re.compile(r"(\d+) -> (.*?)(?=, \d+ -> |\)$)", re.S)

PEAK_MEMORY = "peak memory"
PYTHON_METRICS = {
    "time to run Python workers": "run",
    "time to start Python workers": "start",
    "time to initialize Python workers": "init",
    "data sent to Python workers": "sent",
}
_PYTHON_NODE = re.compile(r"Python|Arrow|Pandas")


def parse_metric(text: str) -> float:
    """A SQL metric's display string as a number in base units (bytes,
    seconds or a count). Multi-task metrics print a ``total (min, med,
    max ...)`` header line; the total is the first value after it."""
    body = text.split("\n", 1)[1] if text.startswith("total") and "\n" in text else text
    m = _VALUE.search(body)
    if m is None:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, 1) * _TIME.get(unit, 1) if unit else v


class StatusStores:
    """Reads Spark's SQL and app status stores through py4j."""

    def __init__(self, spark):
        self.spark = spark
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = spark._jsc.sc().statusStore()

    def last_execution_id(self) -> int:
        n = self.sql.executionsCount()
        return self.sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def last_job_id(self) -> int:
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def sql_metrics(self, first: int, last: int, python: bool = False) -> Counter:
        """Summed SQL metrics of executions ``first..last`` (inclusive):
        ``peak memory`` always, and the Python-worker metrics of the
        Arrow/pandas nodes when ``python`` is set."""
        out: Counter = Counter()
        for eid in range(first, last + 1):
            ui = self.sql.execution(eid)
            if ui.isEmpty():
                continue
            names = {acc: name for name, acc, _ in _PLAN_METRIC.findall(ui.get().metrics().toString())}
            values = dict(_METRIC_VALUE.findall(self.sql.executionMetrics(eid).toString()))
            has_python = False
            for acc, name in names.items():
                if name == PEAK_MEMORY and acc in values:
                    out["peak_memory_b"] += parse_metric(values[acc])
                elif name in PYTHON_METRICS and acc in values:
                    out["python_" + PYTHON_METRICS[name]] += parse_metric(values[acc])
                    has_python = True
            if python and has_python:
                out["python_rows"] += self._python_rows(eid, values)
        return out

    def _python_rows(self, eid: int, values: dict) -> float:
        nodes = self.sql.planGraph(eid).allNodes()
        rows = 0.0
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if not _PYTHON_NODE.search(node.name()):
                continue
            for name, acc, _ in _PLAN_METRIC.findall(node.metrics().toString()):
                if name == "number of output rows" and acc in values:
                    rows += parse_metric(values[acc])
        return rows

    def stage_metrics(self, first_job: int, last_job: int) -> Counter:
        """Task-side totals over the stages of jobs ``first_job..last_job``."""
        out: Counter = Counter()
        seen: set[int] = set()
        for jid in range(first_job, last_job + 1):
            out["jobs"] += 1
            ids = self.app.job(jid).stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                s = self.app.lastStageAttempt(sid)
                if s.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += s.numCompleteTasks()
                out["task_run_s"] += s.executorRunTime() / 1e3
                out["task_cpu_s"] += s.executorCpuTime() / 1e9
                out["gc_s"] += s.jvmGcTime() / 1e3
                out["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
                out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
                out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
                out["input_mb"] += s.inputBytes() / 2**20
        return out

    def cached(self, settle_s: float = 5.0) -> tuple[int, float]:
        """(cached RDDs, cached MiB) once non-blocking unpersists have
        drained: the storage info is re-read until two reads agree."""
        sc = self.spark._jsc.sc()

        def read():
            infos = sc.getRDDStorageInfo()
            return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / 2**20

        prev, deadline = read(), time.monotonic() + settle_s
        while time.monotonic() < deadline:
            time.sleep(0.25)
            cur = read()
            if cur == prev:
                return cur
            prev = cur
        return prev


class Tracer:
    """Counting wrappers around the engine's layer boundaries.

    ``install`` swaps every binding of the wrapped functions across the
    loaded ``etl_orders_spark`` modules (``from x import f`` copies
    included) and the py4j client's ``send_command``; ``uninstall``
    restores them, so untraced passes run the engine untouched.
    """

    def __init__(self, spark):
        self.spark = spark
        self.counts: Counter = Counter()
        self._swapped: list[tuple[object, str, object]] = []
        self._in_builder = False
        self._open: set[str] = set()

    # --- wrappers -----------------------------------------------------
    def _timed(self, fn, key: str):
        """Time ``fn`` under ``key``; a nested call under the same key
        (``load_table`` calling ``read_parquet``) is not counted twice."""

        def wrapper(*args, **kwargs):
            if key in self._open:
                return fn(*args, **kwargs)
            self._open.add(key)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._open.discard(key)
                self.counts[key + "_s"] += time.perf_counter() - t0

        return wrapper

    def _cache_stage(self, fn):
        import etl_orders_spark.operators.materialize as mat

        def wrapper(df, key):
            before = {id(d) for d in mat._STAGE_CACHE.get(key, [])}
            t0 = time.perf_counter()
            out = fn(df, key)
            self.counts["cache_lookup_s"] += time.perf_counter() - t0
            self.counts["cache_calls"] += 1
            self.counts["cache_hits"] += id(out) in before
            return out

        return wrapper

    def _send_command(self, fn):
        def wrapper(command, *args, **kwargs):
            if self._in_builder and command.startswith("c\n"):
                self.counts["py4j_calls"] += 1
            return fn(command, *args, **kwargs)

        return wrapper

    # --- install / uninstall -------------------------------------------
    def install(self) -> None:
        import etl_orders_spark.operators.materialize as mat
        import etl_orders_spark.plans.reference_pipeline as ref
        import etl_orders_spark.sources.readers as readers
        import etl_orders_spark.sources.writers as writers

        wrappers = [(mat.cache_stage, self._cache_stage(mat.cache_stage)),
                    (writers.write_parquet, self._timed(writers.write_parquet, "write"))]
        for name in ("load_table", "load_table_wide", "read_parquet", "read_csv", "read_json_envelope"):
            fn = getattr(readers, name)
            wrappers.append((fn, self._timed(fn, "read")))
        for name in ("transform_users", "transform_orders", "final_orders_for_load"):
            fn = getattr(ref, name)
            wrappers.append((fn, self._timed(self.building(fn), "build")))
        by_id = {id(fn): w for fn, w in wrappers}
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("etl_orders_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                wrapper = by_id.get(id(val))
                if wrapper is not None:
                    self._swapped.append((mod, attr, val))
                    setattr(mod, attr, wrapper)
        client = self.spark.sparkContext._gateway._gateway_client
        self._swapped.append((client, "send_command", None))
        client.send_command = self._send_command(client.send_command)

    def uninstall(self) -> None:
        for obj, attr, val in reversed(self._swapped):
            if val is None:
                delattr(obj, attr)
            else:
                setattr(obj, attr, val)
        self._swapped.clear()

    def building(self, fn):
        """``fn`` with py4j call counting on while it runs."""

        def wrapper(*args, **kwargs):
            self._in_builder = True
            try:
                return fn(*args, **kwargs)
            finally:
                self._in_builder = False

        return wrapper
