"""Benchmark runner.

One run:   python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0
Report:    python3 perfbench/run.py --report --seed 1

A run generates the workload's inputs from the seed, sets up a local
Spark session from a cold start and warms it up on the workload
(``setup_s``), runs closed-loop passes until ``--seconds`` have
elapsed (always finishing the pass in flight), checks every
output, and prints as its last line one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). Everything
it writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def _children(pid: int) -> list[int]:
    """All descendants of ``pid``, from /proc."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _tree_rss_mb(pid: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid] + _children(pid):
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total / 2**20


class RssSampler(threading.Thread):
    """Peak RSS of this process plus every descendant (the JVM and
    its Python workers), sampled every 0.5 s: the /proc walk holds the
    GIL, so sampling faster would slow the driver thread it measures."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0.0
        self._halt = threading.Event()

    def run(self):
        while not self._halt.is_set():
            self.peak = max(self.peak, _tree_rss_mb(os.getpid()))
            self._halt.wait(0.5)

    def stop(self):
        self._halt.set()
        self.join()


def _environment() -> None:
    """Keep every file the run writes inside WORK. ``-XX:-UsePerfData``
    stops the JVM from writing its counters file to /tmp."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )


def setup(wl) -> tuple:
    """Cold start: import the package, create the session (this starts
    the JVM), then run the workload's own warm-up. A cold first pass
    costs about twice a warm one, nearly all of it JIT and class
    loading, so timed passes start only after the warm-up."""
    t0 = time.perf_counter()
    from data_ingestors_spark.session import get_spark

    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    wl.warm(spark)
    t2 = time.perf_counter()
    return spark, {"get_spark_s": t1 - t0, "warmup_s": t2 - t1, "s": t2 - t0}


def teardown(spark) -> None:
    """Stop Spark, shut the JVM down and wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001
    deadline = time.time() + 30
    while _children(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in _children(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import gen, stats
    from perfbench.metrics import END_TO_END, PER_LAYER, QUERY_LAYER
    from perfbench.trace import NoTracer
    from perfbench.workloads import WORKLOADS

    _environment()
    sampler = RssSampler()
    sampler.start()
    phases = {"start": time.perf_counter()}
    info = gen.make_inputs(WORK, workload, seed)
    print("# inputs " + json.dumps({k: info[k] for k in ("workload", "seed", "why", "rows", "bytes")}), flush=True)

    wl = WORKLOADS[workload](info, WORK)
    phases["inputs"] = time.perf_counter()
    spark, setup_rec = setup(wl)
    setup_s = setup_rec["s"]
    phases["setup"] = time.perf_counter()
    if trace:
        from perfbench.trace import Tracer

        tracer = Tracer(spark, f"{workload}-{seed}-{os.getpid()}")
    else:
        tracer = NoTracer()
    wl.install(tracer)
    passes = []
    try:
        t0 = time.perf_counter()
        while True:
            passes.append(wl.one_pass(spark, len(passes), tracer))
            # a pass whose every operation failed ends the loop early
            if passes[-1]["failed"] == passes[-1]["ops"]:
                break
            if time.perf_counter() - t0 >= seconds:
                break
    finally:
        tracer.restore()
    phases["passes"] = time.perf_counter()
    attempted = sum(p["ops"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    problems = [x for p in passes for x in p["problems"]]

    e2e = {
        "setup_s": setup_s,
        "ok_frac": (attempted - failed) / attempted,
        **{k: statistics.median([p[k] for p in passes]) for k in ("op_s", "light_s", "heavy_s")},
    }
    pass_s = statistics.median([p["pass_s"] for p in passes])
    report = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "inputs": info, "setup": setup_rec, "passes": passes, "problems": problems,
        "end_to_end": e2e,
        "pass_s": pass_s,
        "headline": {
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (sampler.peak, "MB"),
            "fail_frac": (failed / attempted, "ratio"),
            **wl.headline(passes),
        },
        "pass_s_tail": stats.tail([p["pass_s"] for p in passes]),
    }
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    if trace:
        layers = wl.layers(tracer.spans, passes)
        layers["session.get_spark_s"] = setup_rec["get_spark_s"]
        layers["session.warmup_s"] = setup_rec["warmup_s"]
        layers["process.peak_rss_mb"] = sampler.peak
        layers["trace.pass_s"] = pass_s
        layers["trace.overhead_s"] = tracer.overhead_s / len(passes)
        span_path = os.path.join(out_dir, f"spans-{workload}-{seed}.jsonl")
        tracer.dump(span_path)
        report["span_file"] = span_path
        report["per_layer"] = layers
        names = {**PER_LAYER, **(QUERY_LAYER if workload == "queries" else {})}
        # a layer this workload runs must have spans behind it: a wrapper
        # that recorded nothing is a broken measurement, not a zero
        missing = missing_layers(names, wl.PREFIXES, layers)
        if missing:
            failed = attempted
            problems.append(f"no spans behind {len(missing)} layer metrics: {', '.join(missing)}")
        # 0 marks a layer the workload does not run
        metrics = {n: {"value": float(layers.get(n) or 0.0), "unit": u} for n, u in names.items()}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END.items()}
    with open(os.path.join(out_dir, f"report-{workload}-{seed}-trace{int(trace)}.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    teardown(spark)
    sampler.stop()
    shutil.rmtree(info["dir"], ignore_errors=True)
    phases["teardown"] = time.perf_counter()
    marks = list(phases.items())
    print("# phases " + " ".join(
        f"{name}={t - prev:.1f}s" for (_, prev), (name, t) in zip(marks, marks[1:])
    ), file=sys.stderr)
    for p in problems[:20]:
        print(f"# problem: {p}", file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def missing_layers(names, prefixes: tuple[str, ...], layers: dict) -> list[str]:
    """The names a workload with these prefixes must report but has no value for."""
    return [n for n in names if n.startswith(prefixes) and layers.get(n) is None]


def report(seed: int, seconds: float) -> int:
    """Run every workload untraced, then traced, each in its own
    process, and print every metric by name and unit."""
    from perfbench.gen import WHY

    rc = 0
    for workload in WHY:
        runs = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
            res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            rc |= res.returncode
            path = os.path.join(WORK, "out", f"report-{workload}-{seed}-trace{trace}.json")
            if res.returncode or not os.path.exists(path):
                print(f"{workload} trace={trace}: failed (exit {res.returncode})")
                break
            with open(path) as fh:
                runs[trace] = json.load(fh)
        if len(runs) < 2:
            continue
        plain, traced = runs[0], runs[1]
        print(f"== {workload} (seed {seed}): {WHY[workload]}")
        print(f"   inputs: rows {plain['inputs']['rows']}, bytes {plain['inputs']['bytes']}")
        print(f"   correct: {not plain['problems']}, passes: {len(plain['passes'])}")
        for name, (value, unit) in plain["headline"].items():
            print(f"   {name:<44} {value:>14.4f} {unit}")
        for name, value in plain["end_to_end"].items():
            print(f"   e2e {name:<40} {value:>14.4f}")
        print(f"   tracing overhead (traced - untraced pass) "
              f"{traced['pass_s'] - plain['pass_s']:>14.4f} s")
        for name, value in traced["per_layer"].items():
            print(f"   layer {name:<38} {value:>14.4f}")
        print(f"   spans: {traced['span_file']}")
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("ingest", "refresh", "queries"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", action="store_true", help="run all workloads and print every metric")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "data_ingestors_spark")):
        print("data_ingestors_spark package not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.report:
        return report(args.seed, args.seconds)
    if not args.workload:
        ap.error("--workload is required")
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
