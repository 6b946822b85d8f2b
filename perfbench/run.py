"""Benchmark runner: one seeded, closed-loop workload per invocation.

    python3 perfbench/run.py --workload market_lake --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

Run from the repository root. It generates the workload's inputs
from ``--seed`` under ``.perfbench_run/`` and sets the program up:
``get_spark`` starts the JVM and the workload warms it up (``setup_s``).
It then repeats the workload's phase in a closed loop (one client; the
next operation starts when the previous returns) until ``--seconds``
have passed, and checks the outputs. The last stdout line is the JSON
result: with ``--trace 0`` the end-to-end metrics, with ``--trace 1``
the per-layer metrics of one traced phase (event log on, spans around
every package call), plus the tracing overhead against an untraced
phase of the same run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))



class Ctx:
    """Run-wide state shared by the runner and the workload."""

    def __init__(self, args, root):
        self.seed = args.seed
        self.root = root
        self.inputs = f"{root}/inputs"
        self.work = f"{root}/work"
        self.spark = None
        self.tracer = None
        self.info: dict = {}
        self.setup_no = 0
        self.bytes_written = 0
        self.t0 = time.perf_counter()
        self.timeline: list[tuple[str, float]] = []

    def mark(self, label: str) -> None:
        """Note when a step of the run ended, for the timeline line."""
        self.timeline.append((label, round(time.perf_counter() - self.t0, 2)))


def bench_confs(root: str, event_log: str | None) -> dict[str, str]:
    """Confs that keep every file inside the checkout; the event log only
    in the traced session."""
    java = f"-Djava.io.tmpdir={root}/tmp -XX:-UsePerfData"
    confs = {
        "spark.local.dir": f"{root}/tmp",
        "spark.driver.extraJavaOptions": java,
        "spark.sql.warehouse.dir": f"{root}/warehouse",
        "spark.sql.streaming.checkpointLocation": f"{root}/tmp/ck",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log}",
            "spark.eventLog.compress": "false",
        })
    return confs


def effective_config(spark, n: int) -> dict:
    import pyspark

    g = spark.conf.get
    return {
        "master": spark.sparkContext.master,
        "nproc": n,
        "pyspark": pyspark.__version__,
        "spark.sql.shuffle.partitions": g("spark.sql.shuffle.partitions"),
        "spark.sql.adaptive.enabled": g("spark.sql.adaptive.enabled"),
        "spark.sql.adaptive.coalescePartitions.enabled":
            g("spark.sql.adaptive.coalescePartitions.enabled"),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes":
            g("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
        "spark.sql.adaptive.skewJoin.enabled": g("spark.sql.adaptive.skewJoin.enabled"),
        "spark.driver.memory": g("spark.driver.memory", "default"),
    }


def start(ctx, wl, n: int, event_log: str | None = None) -> float:
    """One set-up: a session from ``get_spark`` plus the workload's
    set-up, and its warm-up on the first (cold) one. Returns its seconds;
    the first one's ``get_spark`` seconds are kept on the context."""
    from stock_market_etl_spark.session import get_spark

    from observe import Tracer

    t0 = time.perf_counter()
    ctx.spark = get_spark(master=f"local[{n}]", shuffle_partitions=n,
                          extra_confs=bench_confs(ctx.root, event_log))
    if ctx.setup_no == 0:
        ctx.session_start_s = time.perf_counter() - t0
    ctx.mark("session")
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.tracer = Tracer(ctx.spark.sparkContext, f"{ctx.seed}-{ctx.setup_no}",
                        enabled=event_log is not None)
    wl.setup(cold=ctx.setup_no == 0)
    ctx.setup_no += 1
    ctx.mark("setup")
    return time.perf_counter() - t0


def percentile_rule(n: int) -> int:
    """p90 from 100 ops up; below, the highest percentile that still has
    ten samples beyond it (p50 when no percentile has)."""
    if n >= 100:
        return 90
    return max(50, int(100 * (1 - 10 / n))) if n else 50


def run_phases(wl, seconds: float, ops: list, walls: list, cpus: list,
               failed: list) -> None:
    """Closed loop: whole phases back to back until ``seconds`` have
    passed (at least one). Records each phase's wall and CPU seconds."""
    from observe import ProcTree

    proc = ProcTree()
    t_end = time.perf_counter() + seconds
    k = 0
    while True:
        t0, c0 = time.perf_counter(), proc.cpu_s()
        try:
            ops.extend(wl.phase(k))
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc()
            failed.append(k)
        walls.append(time.perf_counter() - t0)
        cpus.append(proc.cpu_s() - c0)
        if not failed:
            wl.settle()
        k += 1
        if time.perf_counter() >= t_end:
            return


def run_checks(wl, failed: list) -> list[str]:
    """The workload's output checks; a check that raises is a failure."""
    if failed:
        return ["a phase raised"]
    try:
        return wl.check()
    except Exception:  # noqa: BLE001 - reported as a failed check
        return [traceback.format_exc()]


def layer_metrics(ctx, wl, log, spans, phase_window) -> tuple[dict, set]:
    """The per-layer table for one traced phase."""
    from observe import (ENGINE, engine_counters, span_execs, sql_metric_totals,
                         write_execs)

    t0, t1 = phase_window
    spans = [s for s in spans if s["start"] >= t0 and s["end"] <= t1]
    ex = span_execs(log, spans)
    writes = write_execs(log, ex)
    w = sql_metric_totals(log, writes, {"number of written files": "files",
                                        "written output": "bytes"})
    secs = lambda pred: sum(s["end"] - s["start"] for s in spans  # noqa: E731
                            if pred(s["name"]))
    m = {
        "session.start_s": ctx.session_start_s,
        "session.warmup_s": ctx.cold_setup_s - ctx.session_start_s,
        "session.shuffle_partitions": float(ctx.config["spark.sql.shuffle.partitions"]),
        "io.read_plan_s": secs(lambda n: n == "io.load_table"),
        "io.files_read": sql_metric_totals(log, ex, {"number of files read": "f"})["f"],
        "io.write_s": sum(log["execs"][e]["end"] - log["execs"][e]["start"]
                          for e in writes) / 1000,
        "io.files_written": w["files"],
        "io.bytes_written": w["bytes"],
        "pipeline.backfill_s": secs(lambda n: n == "pipeline.backfill"),
        "pipeline.increment_s": secs(lambda n: n == "pipeline.run_increment"),
        "pipeline.serving_s": secs(lambda n: n == "pipeline.load_serving"),
        "plans.build_s": secs(lambda n: n.startswith("plans.build.")),
        "plans.exec_s": secs(lambda n: n.startswith("plans.exec.")),
    }
    for layer, counters in engine_counters(log, spans).items():
        if layer != "session":
            m.update({f"{layer}.{c}": float(counters[c]) for c in ENGINE})
    m.update(wl.layers(log, spans))
    present = {s["layer"] for s in spans} | {"session"}
    if writes or m["io.files_read"]:
        present.add("io")  # reads and writes inside other layers' calls
    return m, present


def run_all(args, spec) -> int:
    """Every workload BENCHMARK.json lists, one process each, then one
    table of every metric by name and unit."""
    import subprocess

    results = {}
    for w in spec["workloads"]:
        p = subprocess.run(
            [sys.executable, __file__, "--workload", w["name"], "--seed",
             str(args.seed), "--seconds", str(args.seconds), "--trace",
             str(args.trace)], stdout=subprocess.PIPE, text=True, check=False)
        lines = p.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        results[w["name"]] = json.loads(lines[-1]) if p.returncode == 0 else None
    for name, res in results.items():
        if res is None:
            print(f"{name:17s} FAILED")
            continue
        print(f"{name:17s} correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}")
        for k, v in res["metrics"].items():
            print(f"{name:17s} {k:36s} {v['value']:>16.4f} {v['unit']}")
    print(json.dumps(results))
    return 0 if all(r and r["correct"] for r in results.values()) else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import stock_market_etl_spark  # noqa: F401 - fail fast without the program

    from observe import ProcTree
    from workloads import WORKLOADS

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload == "all":
        return run_all(args, spec)
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload}; choose from {sorted(WORKLOADS)}")
    root = os.path.abspath(f".perfbench_run/{args.workload}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(f"{root}/tmp")
    os.environ.update({"TZ": "UTC", "TMPDIR": f"{root}/tmp",
                       "SPARK_LOCAL_DIRS": f"{root}/tmp"})
    time.tzset()
    n = len(os.sched_getaffinity(0))
    ctx = Ctx(args, root)
    wl = WORKLOADS[args.workload](ctx)
    proc = ProcTree()
    try:
        ctx.info = wl.gen(args.seed, ctx.inputs)
        ctx.mark("gen")
        rows = ctx.info["rows"]
        ops: list[float] = []
        walls: list[float] = []
        cpus: list[float] = []
        failed: list = []
        if not args.trace:
            setup_s = start(ctx, wl, n)
            ctx.config = effective_config(ctx.spark, n)
            run_phases(wl, args.seconds, ops, walls, cpus, failed)
            ctx.mark("phases")
            fails = run_checks(wl, failed)
            ctx.mark("checks")
        else:
            # the traced phase sits between two untraced ones; each phase
            # follows a restart on the warm JVM, so they differ only in
            # tracing, and warm-up drift cancels in the mean of the two
            from observe import read_event_log

            ctx.cold_setup_s = start(ctx, wl, n)
            ctx.config = effective_config(ctx.spark, n)
            untraced: list[float] = []
            ctx.spark.stop()
            start(ctx, wl, n)
            run_phases(wl, 0, [], untraced, [], failed)
            ctx.spark.stop()
            log_dir = f"{root}/eventlog"
            start(ctx, wl, n, event_log=log_dir)
            spans = ctx.tracer.spans
            t0 = time.time()
            run_phases(wl, 0, ops, walls, cpus, failed)
            window = (t0, time.time())
            rss = proc.peak_rss_mb()
            fails = run_checks(wl, failed)
            ctx.spark.stop()  # flushes and closes the event log
            metrics, present = layer_metrics(ctx, wl, read_event_log(log_dir),
                                             spans, window)
            start(ctx, wl, n)
            run_phases(wl, 0, [], untraced, [], failed)
            ctx.mark("phases")
            metrics["session.peak_rss_mb"] = rss
            metrics["trace.overhead_s"] = walls[0] - statistics.mean(untraced)
            metrics["trace.spans"] = float(len(spans))
        for f in fails:
            print(f"CHECK FAILED {args.workload}: {f}", file=sys.stderr)
        attempted = max(1, len(ops) + len(failed))
        n_fail = min(attempted, len(failed) + len(fails))
        print("config " + json.dumps(ctx.config, sort_keys=True))
        print("timeline " + " ".join(f"{k}={v}" for k, v in ctx.timeline))
        if not args.trace:
            p = percentile_rule(len(ops))
            lat = sorted(ops)
            wall = statistics.median(walls)
            metrics = {
                "setup_s": setup_s,
                "wall_s": wall,
                "op_p50_s": statistics.median(lat),
                "op_p90_s": statistics.quantiles(lat, n=100)[p - 1] if len(lat) > 1 else lat[0],
                "rows_per_s": rows / wall,
                "cpu_s": statistics.median(cpus),
                "bytes_written_per_row": ctx.bytes_written / rows,
            }
            print(f"ops {len(ops)} in {len(walls)} phases "
                  f"{[round(w, 3) for w in walls]}: {[round(o, 3) for o in ops]}; "
                  f"op_p90_s is p{p} of {len(ops)} ops; "
                  f"error_rate {n_fail / attempted:.4f}; "
                  f"setup {setup_s:.3f}")
            want = spec["end_to_end"]
        else:
            print(f"phases untraced {[round(w, 3) for w in untraced]}, "
                  f"traced {walls[0]:.3f}")
            print("spans " + json.dumps(spans))
            want = spec["per_layer"]
            for m in want:
                layer = m["name"].split(".")[0]
                tag = "" if layer in present | {"trace"} else "  (layer absent)"
                print(f"layer {args.workload:17s} {m['name']:36s} "
                      f"{metrics.get(m['name'], 0.0):>16.4f} {m['unit']}{tag}")
        names = {m["name"]: m["unit"] for m in want}
        if set(metrics) - set(names):
            raise SystemExit(f"metrics not in BENCHMARK.json: {set(metrics) - set(names)}")
        out = {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
               for k, u in names.items()}
        result = {"correct": not fails, "attempted": attempted, "failed": n_fail,
                  "metrics": out}
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
        proc.stop_all()
        shutil.rmtree(root, ignore_errors=True)
        if os.path.isdir(".perfbench_run") and not os.listdir(".perfbench_run"):
            os.rmdir(".perfbench_run")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
