"""Track×grid benchmark: ``storm_profile``, ``season_profile``, ``grid_scan``.

Run from the repository root::

    python3 perfbench/run.py --workload storm_profile --seed 1 --seconds 20 --trace 0

``--workload all`` runs the three workloads in one process. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the ``end_to_end`` metrics of BENCHMARK.json,
or with ``--trace 1`` the ``per_layer`` ones). Everything the run writes
lives under ``.perfbench/`` in the repository root; the inputs are
deleted when it ends, the span file and the per-layer report are kept.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
NAMES = ("storm_profile", "season_profile", "grid_scan")
#: the headline metric each workload exists for, as the issue names it
HEADLINE = {
    "storm_profile": ("storm_p50_s", "s", lambda r: r["op_p50_s"]),
    "season_profile": ("season_points_per_s", "points/s",
                       lambda r: r["items_per_s"]),
    "grid_scan": ("scan_mcells_per_s", "Mcells/s",
                  lambda r: r["items_per_s"] / 1e6),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=NAMES + ("all",), default="all")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def tail(samples: list[float]):
    """The highest of p90/p99/p99.9 with at least ten samples beyond it."""
    for q in (0.999, 0.99, 0.9):
        if len(samples) * (1 - q) >= 10:
            return q, statistics.quantiles(samples, n=1000)[round(q * 1000) - 1]
    return None


def cpu_jiffies():
    """The aggregate CPU line of /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal), or None where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def run_workload(bench, wl_cls, seconds: float) -> dict:
    """Warm up with one operation, then run operations back to back (one
    client, closed loop) until ``seconds`` have passed. The first operation
    of a session starts the Python workers and ships the package: it
    counts in setup_s, not in op_p50_s."""
    wl = wl_cls(bench)
    tr = bench.tracer
    attempted = failed = 0
    latencies: list[float] = []
    items: list[int] = []
    measured_ops: set[int] = set()

    def one(kind: str):
        nonlocal attempted, failed
        attempted += 1
        try:
            with tr.operation(kind):
                if kind == "op":
                    measured_ops.add(tr.op_id)
                lat, n, bad = wl.run_op()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            failed += 1
            return math.inf
        if bad:
            failed += 1
            print(f"[{wl.name}] wrong result: " + "; ".join(bad), file=sys.stderr)
            return math.inf
        items.append(n)
        return lat

    cold = one("warmup")
    bench.op_counters.clear()
    cpu0 = cpu_jiffies()
    deadline = time.perf_counter() + seconds
    while True:
        latencies.append(one("op"))
        if time.perf_counter() >= deadline:
            break
    cpu1 = cpu_jiffies()
    s = bench.setup_times
    p50 = statistics.median(latencies)
    res = {
        "workload": wl.name,
        "item": wl.item,
        "attempted": attempted,
        "failed": failed,
        "n_ops": len(latencies),
        "latencies": latencies,
        "op_p50_s": p50,
        # work per operation is fixed by the workload, so the median
        # operation gives the median throughput
        "items_per_s": statistics.median(items) / p50 if items else 0.0,
        "cold_op_s": cold,
        # CPU time the hypervisor gave to other guests while we measured:
        # the main source of run-to-run spread on a shared virtual machine
        "steal": ((cpu1[7] - cpu0[7]) / max(1, sum(cpu1) - sum(cpu0))
                  if cpu0 and cpu1 else None),
        "setup_s": (s["session.start_s"] + s["setup.inputs_s"]
                    + s["setup.register_s"] + cold),
    }
    if tr.enabled:
        res["per_layer"] = per_layer(bench, wl, res, measured_ops)
    return res


def per_layer(bench, wl, res, ops: set[int]) -> dict:
    tr = bench.tracer
    m = {k: bench.setup_times[k]
         for k in ("session.start_s", "setup.inputs_s", "netcdf.write_s")}
    m["setup.cold_op_s"] = res["cold_op_s"]
    m["trace.op_p50_s"] = res["op_p50_s"]
    m["spark.plan_s"] = statistics.median(tr.durations("spark.plan", ops))
    m["spark.execute_s"] = statistics.median(tr.durations("spark.execute", ops))
    for key in ("spark.jobs", "spark.stages", "spark.tasks",
                "dap.requests", "dap.bytes"):
        m[key] = statistics.median(c[key] for c in bench.op_counters)
    m["dap.max_concurrent"] = bench.dap.max_active
    m.update(bench.probe_layers(wl))
    return m


def finite(x: float) -> float:
    """Failed operations count as infinitely slow; JSON has no infinity,
    so such a value is reported as 1e9 (the run is marked incorrect)."""
    return x if math.isfinite(x) else 1e9


def report_workload(res: dict, trace: bool, seed: int) -> list[str]:
    w = res["workload"]
    name, unit, get = HEADLINE[w]
    lines = []
    t = tail([x for x in res["latencies"] if math.isfinite(x)])
    tail_txt = (f"p{t[0] * 100:g} = {t[1]:.4f} s" if t else
                "no tail percentile: fewer than 10 samples beyond p90")
    lines.append(f"[{w}] {name} = {finite(get(res)):.6g} {unit}")
    steal = ("" if res["steal"] is None else
             f"; host CPU steal {res['steal']:.1%} of the window")
    lines.append(f"[{w}] op_p50_s = {finite(res['op_p50_s']):.4f} s "
                 f"(median of {res['n_ops']} operations; {tail_txt}{steal})")
    lines.append(f"[{w}] items_per_s = {res['items_per_s']:.6g} 1/s "
                 f"({res['item']} per second of operation time)")
    lines.append(f"[{w}] error_rate = {res['failed']}/{res['attempted']} = "
                 f"{res['failed'] / res['attempted']:.4g} "
                 f"(failed or wrong operations / attempted)")
    lines.append(f"[{w}] setup_s = {res['setup_s']:.4f} s (includes the cold "
                 f"first operation, {res['cold_op_s']:.4f} s)")
    if trace:
        lines.append(f"[{w}] traced run, seed {seed}; per-layer metrics:")
        lines += [f"    {k} = {v:.6g}" for k, v in sorted(res["per_layer"].items())]
    return lines


def write_trace_report(bench, results, seed: int) -> list[str]:
    from perfbench.spans import format_table, layer_table

    tag = "_".join(r["workload"] for r in results) + f"_seed{seed}"
    spans_path = os.path.join(OUT, f"spans_{tag}.jsonl")
    bench.tracer.write_jsonl(spans_path)
    lines = ["setup: " + ", ".join(f"{k} = {v:.4f}"
                                    for k, v in sorted(bench.setup_times.items())),
             format_table(layer_table(bench.tracer.spans))]
    for r in results:
        prev = os.path.join(OUT, f"untraced_{r['workload']}.json")
        if os.path.exists(prev):
            with open(prev) as f:
                base = json.load(f)
            over = r["op_p50_s"] - base["op_p50_s"]
            lines.append(
                f"[{r['workload']}] tracing overhead: op_p50_s {r['op_p50_s']:.4f} s "
                f"traced vs {base['op_p50_s']:.4f} s untraced (seed "
                f"{base['seed']}) = {over:+.4f} s ({over / base['op_p50_s']:+.1%})")
        else:
            lines.append(f"[{r['workload']}] tracing overhead: no untraced run "
                         f"of this workload on record under {OUT}")
    lines.append(f"spans: {spans_path}")
    with open(os.path.join(OUT, f"report_{tag}.txt"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return lines


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if (importlib.util.find_spec("modeltracking_spark") is None
            or not os.path.exists(spec_path)):
        print(f"perfbench: no modeltracking_spark package or BENCHMARK.json "
              f"under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    work = os.path.join(OUT, f"work-{os.getpid()}")
    os.makedirs(work)
    # Python, Spark and the JVM put their scratch files under the run's
    # own directory, not the system temp directory
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-XX:-UsePerfData -Djava.io.tmpdir={work}")))
    import tempfile

    tempfile.tempdir = None

    from perfbench.spans import Tracer
    from perfbench.workloads import ALL_INPUTS, WORKLOADS, Bench

    # a terminated run still stops the JVM and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    nproc = len(os.sched_getaffinity(0))
    names = NAMES if args.workload == "all" else (args.workload,)
    bench = Bench(work, args.seed, nproc, Tracer(bool(args.trace)))
    try:
        bench.setup(set().union(*(WORKLOADS[n].needs for n in names)),
                    ALL_INPUTS if args.trace else set())
        results = [run_workload(bench, WORKLOADS[n], args.seconds) for n in names]
    finally:
        try:
            bench.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    correct = all(r["failed"] == 0 for r in results)
    if bench.dap.max_active > nproc:
        print(f"perfbench: {bench.dap.max_active} concurrent DAP requests "
              f"exceed {nproc} cores", file=sys.stderr)
        correct = False
    lines = [f"perfbench: seed {args.seed}, local[{nproc}], "
             f"{args.seconds:g} s per workload"]
    for r in results:
        lines += report_workload(r, bool(args.trace), args.seed)
    key = "per_layer" if args.trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in spec[key]}
    metrics = {}
    for r in results:
        got = (r["per_layer"] if args.trace else
               {k: finite(r[k]) for k in ("setup_s", "op_p50_s", "items_per_s")})
        if set(got) != set(want):
            print(f"perfbench: {r['workload']} metrics differ from BENCHMARK.json "
                  f"{key}: missing {sorted(set(want) - set(got))}, extra "
                  f"{sorted(set(got) - set(want))}", file=sys.stderr)
            correct = False
        prefix = "" if len(results) == 1 else r["workload"] + "."
        metrics.update({prefix + k: {"value": float(v), "unit": want.get(k, "")}
                        for k, v in got.items()})
    os.makedirs(OUT, exist_ok=True)
    if args.trace:
        lines += write_trace_report(bench, results, args.seed)
    else:
        for r in results:
            with open(os.path.join(OUT, f"untraced_{r['workload']}.json"), "w") as f:
                json.dump({"seed": args.seed, "op_p50_s": r["op_p50_s"],
                           "latencies": r["latencies"], "steal": r["steal"]}, f)
    print("\n".join(lines))
    print(json.dumps({
        "correct": correct,
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
