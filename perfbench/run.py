#!/usr/bin/env python3
"""raptor_spark benchmark: one workload per process on local[4].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics (layers this workload does not call read 0). Human-readable
lines above it name each metric with its unit. See README.md.
"""

import time

T_TOP = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

from measure import (  # noqa: E402
    SparkCounters, Tracer, calib_s, cpu_times, descendants, median,
    peak_rss_bytes, process_age_s, steal_pct,
)

AGE_AT_TOP = process_age_s() - (time.perf_counter() - T_TOP)

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "call_s": "s",
    "throughput_per_s": "1/s",
}
# per workload: the headline name its main metric is known by, and the
# end-to-end metric that carries it
ALIASES = {
    "flagship_backfill": ("backfill_turns_per_s", "throughput_per_s"),
    "corpus_dedup": ("corpus_pass_s", "call_s"),
}
# one timed call of either workload on a warm 4-vCPU host
CALL_NOMINAL_S = 5.0
COUNTERS = ["jobs", "stages", "tasks", "shuffle_write_mb", "spill_mb", "gc_s", "cpu_s"]
EXACT = ["jobs", "stages", "tasks", "shuffle_write_mb", "output_rows"]


@dataclass
class Ctx:
    spark: object
    seed: int
    work: str
    cache: str
    root: str
    tracer: Tracer
    counters: SparkCounters
    group: str = ""


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def start_spark(work: str):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every file Spark, the JVM and Python write inside the checkout
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    # a heap sized up front (as Spark sizes executor heaps) keeps peak
    # RSS from depending on when the adaptive sizing grows it
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = "-XX:+UseParallelGC -Xms3g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    from raptor_spark.session import get_spark

    return get_spark(app="perfbench", master="local[4]", extra_conf={
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "ckpt"),
    })


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for every
    process below this one (JVM, Python workers) to end."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    while kids and time.time() < deadline:
        kids = [p for p in kids if _alive(p)]
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def run(args, work: str) -> dict:
    from workloads import WORKLOADS

    steal0 = cpu_times()
    traced_mode = bool(args.trace)
    tracer = Tracer(traced_mode)
    spark = start_spark(work)
    try:
        ctx = Ctx(spark, args.seed, work, os.path.join(WORK_ROOT, "cache"),
                  ROOT, tracer, SparkCounters(spark))
        wl = WORKLOADS[args.workload](ctx)
        with tracer.span("setup"):
            wl.setup()
        setup_s = AGE_AT_TOP + (time.perf_counter() - T_TOP)

        walls = {False: [], True: []}
        outs_traced, reps_counters = [], []
        attempted = failed = 0
        # a fixed number of calls per window, not as many as fit: on a
        # slower host fewer would fit, and the median would then come
        # from earlier, less warm calls. Traced runs alternate untraced
        # and traced calls, so the difference of their medians is the
        # tracing overhead.
        n_calls = max(2 if traced_mode else 1, round(args.seconds / CALL_NOMINAL_S))
        for rep in range(n_calls):
            traced = traced_mode and rep % 2 == 1
            ctx.group = f"call-{rep}"
            attempted += 1
            ok, out, wall = False, None, None
            try:
                with ctx.counters.group(ctx.group), tracer.span(wl.span, on=traced):
                    t0 = time.perf_counter()
                    out = wl.call(rep, traced)
                    wall = time.perf_counter() - t0
                ok = wl.check(out)
            except Exception:
                traceback.print_exc()
            if not ok:
                failed += 1
                print(f"{args.workload}: call {rep} failed", file=sys.stderr)
            if wall is not None:
                walls[traced].append(wall)
            if out is not None:
                reps_counters.append({**ctx.counters.read(ctx.group),
                                      "output_rows": wl.out_rows(out)})
                if traced:
                    outs_traced.append(out)

        layers = {}
        if traced_mode:
            def trace_attempt(ok: bool) -> None:
                nonlocal attempted, failed
                attempted += 1
                failed += 0 if ok else 1

            with tracer.span("layers"):
                layers = wl.layers(outs_traced, trace_attempt)
            layers["trace.call_self_s"] = median(tracer.self_time(wl.span))
            layers["trace.overhead_s"] = median(walls[True]) - median(walls[False])
        peak_rss = peak_rss_bytes(descendants(os.getpid()))
    finally:
        stop_spark(spark)
    calib = calib_s()
    steal = steal_pct(steal0, cpu_times())

    untraced = walls[False]
    call_s = wl.call_s(untraced) if hasattr(wl, "call_s") else median(untraced)
    e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss / 1e6,
        "call_s": call_s,
        "throughput_per_s": wl.units / call_s if call_s else 0.0,
    }
    alias, src = ALIASES[args.workload]
    print(f"{args.workload}: {alias} = {e2e[src]:.4f} (seed {args.seed}, "
          f"call walls {' '.join(f'{w:.3f}' for w in untraced)} s)")
    history = record_counters(args.workload, reps_counters)
    if not traced_mode:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    else:
        layers.update({"host.steal_pct": steal, "host.calib_s": calib,
                       "trace.spans": len(tracer.spans)})
        layers.update(counter_metrics(reps_counters, history))
        units = per_layer_units()
        extra = sorted(set(layers) - set(units))
        if extra:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {extra}")
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in units.items()}
        tracer.write(
            os.path.join(WORK_ROOT, "traces",
                         f"{args.workload}-{args.seed}-{tracer.run_id}.json"),
            {"workload": args.workload, "seed": args.seed,
             "metrics": {k: v["value"] for k, v in metrics.items()}},
        )
    for k, v in metrics.items():
        if v["value"]:
            print(f"  {k} = {v['value']:.6g} {v['unit']}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def record_counters(workload: str, reps: list[dict]) -> list[list[dict]]:
    """Append this run's per-call counters to the workload's history in
    the work root; return every run recorded there, this one included."""
    path = os.path.join(WORK_ROOT, "cache", f"counters-{workload}.jsonl")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps(reps) + "\n")
    with open(path) as f:
        return [json.loads(line) for line in f]


def counter_metrics(reps: list[dict], history: list[list[dict]]) -> dict:
    """Per-call Spark counters (median over this run's calls), and for
    the deterministic ones min, max and whether they repeat exactly
    across every call of every recorded run of this workload."""
    every = [r for run in history for r in run]
    m = {f"call.{c}": median([r[c] for r in reps]) for c in COUNTERS}
    for c in EXACT:
        vals = [round(r[c], 6) for r in every]
        m[f"call.{c}.min"] = min(vals)
        m[f"call.{c}.max"] = max(vals)
        m[f"call.{c}.exact"] = float(len(set(vals)) == 1)
    m["call.counter_runs"] = len(history)
    return m


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "raptor_spark")):
        print(f"no raptor_spark package under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
