"""spark-graft benchmark: one workload, one seed, one fresh process tree.

    python3 perfbench/run.py --workload text_curation --seed 1 --seconds 6 --trace 0

Run from the repository root. The inputs are generated from ``--seed``
(numpy/pyarrow, no Spark) before any session starts. ``setup_s`` is
sampled in several fresh interpreters; the last of them runs the
workload as one closed-loop client: units run one after another from a
single driver thread on ``local[k]``, k = min(3, cores - 1), so the
JVM's JIT and GC threads and the Python driver keep a core.

With ``--trace 0`` the final stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of the same passes.
The line before it is the run record (cpus, sizes, seed, JVM flags,
calibration probe, steal ticks), also written to
``.perfbench/runs/<workload>-<seed>-<trace>.json``. Every file the run
writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402

TEXT_LANES = ("hybrid_rrf_retrieval", "unigram_lm_encode_docs", "gopher_quality_rules_docs")

# Sizes never depend on the seed. "tiny" is the smoke test's scale.
WORKLOADS = {
    "text_curation": {
        "kind": "lanes", "lanes": TEXT_LANES, "warmup_passes": 1, "min_passes": 3,
        "max_passes": 40,
        "sizes": {"full": {"docs": 500, "vectors": 500}, "tiny": {"docs": 200, "vectors": 100}},
    },
    "etl_daily_load": {
        "kind": "etl", "batches_per_pass": 2, "warmup_passes": 3, "min_passes": 3,
        "max_passes": 8, "sizes": {"full": {"orders_per_day": 100_000},
                                   "tiny": {"orders_per_day": 2_000}},
    },
}
SETUP_SAMPLES = 2  # fresh interpreters timed per run; the last one runs the workload
CHILD_TIMEOUT_S = 150


def _cpus() -> int:
    return max(1, min(3, len(os.sched_getaffinity(0)) - 1))


def _steal() -> tuple[int, int]:
    """(steal ticks, total ticks) from /proc/stat, or zeros off Linux."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return 0, 0


def _git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def _generate(workload: str, spec: dict, sizes: dict, seed: int, work: str) -> dict:
    if workload == "text_curation":
        return gen.corpus(os.path.join(work, "sf"), seed, sizes["docs"], sizes["vectors"])
    days = spec["batches_per_pass"] * (1 + spec["warmup_passes"] + spec["max_passes"])
    return gen.daily_drops(os.path.join(work, "drops"), seed, days, sizes["orders_per_day"])


def _child_env(work: str, cpus: int) -> dict:
    """The engine's defaults, with only the core count pinned; scratch
    space (Spark local dirs, temp files) inside the work directory."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell")
    env["PYTHONPATH"] = ROOT + os.pathsep + env.get("PYTHONPATH", "")
    return env


def _group_alive(pgid: int) -> bool:
    """Whether any process of the group is still running. Zombies count
    as ended: an orphaned JVM is reaped by init, which may never happen
    in a container."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _reap(pgid: int) -> None:
    """Stop every process left in the child's process group (the JVM and
    Python workers) and wait until they have ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 10.0
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def _session(role: str, work: str, cpus: int, log, extra: list[str], timeout: float) -> dict:
    out = os.path.join(work, f"{role}-{time.monotonic_ns()}.json")
    cmd = [sys.executable, os.path.join(HERE, "session.py"), "--role", role,
           "--cpus", str(cpus), "--out", out, *extra]
    spawn = time.monotonic()
    proc = subprocess.Popen([*cmd, "--spawn-ts", repr(spawn)], stdout=log, stderr=log,
                            env=_child_env(work, cpus), cwd=ROOT, start_new_session=True)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _reap(proc.pid)
        proc.wait()
    if code != 0 or not os.path.exists(out):
        raise RuntimeError(f"{role} session failed (exit {code}); see {log.name}")
    with open(out) as f:
        res = json.load(f)
    res["session_wall_s"] = time.monotonic() - spawn
    return res


def _tail(values: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least ten samples
    beyond it: (value, percentile, samples)."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def _per_layer(res: dict, setups: list[dict], cpus: int) -> dict:
    """Per-pass medians over the traced warm passes (``cold.*`` from the
    traced cold pass), setup layers as medians over the setup samples."""
    med = statistics.median

    def layer_view(p: dict, wall: float) -> dict:
        run_s = p.get("run_s", 0.0) or max(0.0, p.get("unit_s", 0.0) - p.get("build_s", 0.0)
                                            - p.get("read_s", 0.0))
        calls = p.get("cache_calls", 0)
        return {
            "plans.build_s": p.get("build_s", 0.0),
            "plans.py4j_calls": p.get("py4j_calls", 0),
            "plans.builder_sql_execs": p.get("builder_sql_execs", 0),
            "catalyst.plan_s": p.get("plan_s", 0.0),
            "exec.run_s": run_s,
            "exec.jobs": p.get("jobs", 0),
            "exec.stages": p.get("stages", 0),
            "exec.tasks": p.get("tasks", 0),
            "exec.task_run_s": p.get("task_run_s", 0.0),
            "exec.task_cpu_s": p.get("task_cpu_s", 0.0),
            "exec.slot_busy_ratio": p.get("task_run_s", 0.0) / (wall * cpus) if wall else 0.0,
            "exec.gc_s": p.get("gc_s", 0.0),
            "exec.peak_mem_mb": p.get("peak_memory_b", 0.0) / 2**20,
            "exec.shuffle_read_mb": p.get("shuffle_read_mb", 0.0),
            "exec.shuffle_write_mb": p.get("shuffle_write_mb", 0.0),
            "exec.spill_mb": p.get("spill_mb", 0.0),
            "exec.input_mb": p.get("input_mb", 0.0),
            "functions.python_total_s": p.get("python_run", 0.0) + p.get("python_start", 0.0)
            + p.get("python_init", 0.0),
            "functions.python_boot_s": p.get("python_start", 0.0) + p.get("python_init", 0.0),
            "functions.python_rows": p.get("python_rows", 0),
            "functions.python_sent_mb": p.get("python_sent", 0.0) / 2**20,
            "materialize.cache_calls": calls,
            "materialize.cache_hits": p.get("cache_hits", 0),
            "materialize.hit_ratio": p.get("cache_hits", 0) / calls if calls else 0.0,
            "materialize.lookup_s": p.get("cache_lookup_s", 0.0),
            "sources.read_s": p.get("read_s", 0.0),
            "sources.write_s": p.get("write_s", 0.0),
        }

    passes = [layer_view(p, w) for p, w in zip(res["layer_passes"], res["traced_pass_s"])]
    out = {k: med(p[k] for p in passes) for k in passes[0]}
    cold = layer_view(res["cold_layer"], res["cold_pass_s"])
    for k in ("plans.build_s", "catalyst.plan_s", "exec.run_s", "exec.task_run_s",
              "functions.python_total_s", "materialize.cache_hits", "materialize.lookup_s"):
        out["cold." + k] = cold[k]
    for k in ("get_spark_s", "first_action_s", "registry_import_s", "engine_import_s"):
        out["session." + k] = med(s[k] for s in setups)
    out["materialize.cached_rdds"] = res["cached_rdds"]
    out["materialize.cached_mb"] = res["cached_mb"]
    src = res.get("sources") or {}
    out["sources.files_written"] = src.get("files_written", 0)
    out["sources.output_mb"] = src.get("output_mb", 0.0)
    out["sources.stored_bytes_per_input_byte"] = src.get("stored_bytes_per_input_byte", 0.0)
    out["trace.overhead_ratio"] = med(res["traced_pass_s"]) / med(res["warm_pass_s"])
    return out


UNITS = {"_s": "s", "_mb": "MiB", "_ratio": "ratio", "_byte": "ratio"}


def _unit(name: str) -> str:
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "count")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "etl_orders_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2

    spec = {k: v for k, v in WORKLOADS[args.workload].items() if k != "sizes"}
    sizes = WORKLOADS[args.workload]["sizes"][args.scale]
    cpus = _cpus()
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    runs = os.path.join(base, "runs")
    os.makedirs(work, exist_ok=True)
    os.makedirs(runs, exist_ok=True)
    steal0 = _steal()
    t_run = time.monotonic()
    try:
        t = time.monotonic()
        inputs = _generate(args.workload, spec, sizes, args.seed, work)
        inputs["gen_s"] = time.monotonic() - t
        with open(os.path.join(runs, f"{args.workload}-{args.seed}-{args.trace}.log"), "w") as log:
            budget = lambda: CHILD_TIMEOUT_S - (time.monotonic() - t_run)  # noqa: E731
            probes = [_session("setup", work, cpus, log, [], budget())
                      for _ in range(SETUP_SAMPLES - 1)]
            res = _session("workload", work, cpus, log, [
                "--spec", json.dumps(spec), "--work", work, "--seconds", str(args.seconds),
                "--trace", str(args.trace)], budget())
        setups = [p["setup"] for p in probes] + [res["setup"]]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal1 = _steal()

    latencies = [x for xs in res["unit_s"].values() for x in xs]
    tail, pct, n_lat = _tail(latencies)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "scale": args.scale, "cpus": len(os.sched_getaffinity(0)), "k": cpus,
        "jvm_flags": res["jvm_flags"], "git_sha": _git_sha(), "inputs": inputs,
        "unit_order": res["unit_order"], "calibration_sec": res["calibration_sec"],
        "steal_ticks": steal1[0] - steal0[0], "total_ticks": steal1[1] - steal0[1],
        "setup_samples": setups, "cold_pass_s": res["cold_pass_s"],
        "cold_unit_s": res["cold_unit_s"], "check_s": res["check_s"],
        "calibration_probe_s": res["calibration_probe_s"],
        "warmup_pass_s": res["warmup_pass_s"], "warm_pass_s": res["warm_pass_s"],
        "traced_pass_s": res["traced_pass_s"], "window_s": res["window_s"],
        "query_tail": {"value_s": tail, "percentile": pct, "samples": n_lat},
        "unit_median_s": {k: statistics.median(v) for k, v in res["unit_s"].items()},
        "cached_rdds": res["cached_rdds"],
        "cached_mb": res["cached_mb"], "checks": res["checks"], "failures": res["failures"],
        "session_wall_s": [p["session_wall_s"] for p in probes] + [res["session_wall_s"]],
        "run_s": time.monotonic() - t_run,
    }
    if args.trace:
        values = _per_layer(res, setups, cpus)
    else:
        values = {
            "setup_s": statistics.median(s["setup_s"] for s in setups),
            "cold_pass_s": res["cold_pass_s"],
            "warm_pass_s": statistics.median(res["warm_pass_s"]),
            "query_p50_s": statistics.median(latencies),
        }
    record["metrics"] = values
    with open(os.path.join(runs, f"{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"run_record": record}, separators=(",", ":")))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
