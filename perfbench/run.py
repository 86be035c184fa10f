"""meerkat_spark benchmark: three seeded, self-checking workloads.

    python3 perfbench/run.py --workload kql_interactive --seed 1 --seconds 10 --trace 0

Run it from the root of a source checkout. It generates the workload's
inputs from `--seed`, then sets up once, timed as `setup_s`: it starts a
Spark session at local[<nproc>] through `meerkat_spark.session.get_spark`
(with the program's own settings), builds the engine objects and runs the
untimed warm-up pass, one of each of the workload's operations. Then it runs
whole rounds of the workload's operation mix in a closed loop with one
client for `--seconds`, checking every output outside the timed regions.
With `--trace 1` the engine's public functions are wrapped in spans (see
spans.py) and the run reports per-layer metrics instead of end-to-end ones.

Standard output: one JSON line with the run's host stamp and the
workload's own named metrics, then, as the last line, the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Everything else (Spark's logs, failure reports) goes to standard error.
All files are written under `.perfbench/` in the checkout and removed at
exit. See perfbench/README.md for the workloads and their metrics.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_driver_mb": "MB",
    "ok_ratio": "ratio",
    "request_p50_s": "s",
    "rows_per_s": "1/s",
    "round_s": "s",
}
# workload name -> class, defined in the module of the same name
WORKLOADS = {
    "kql_interactive": "KqlInteractive",
    "ingest_maintain": "IngestMaintain",
    "corpus_pipeline": "CorpusPipeline",
}
LAYER_UNITS = {
    "construct_s": "s",
    "construct_jobs": "count",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_cpu_s": "s",
    "spark.task_run_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "trace.overhead_s": "s",
}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith(("ratio", "precision", "recall_at_1")):
        return "ratio"
    return "count"


def _isolate(work: str, cpus: int) -> None:
    """Keep every file the run writes inside `work`, and let Python
    workers import the package from the checkout whatever the cwd."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    old = os.environ.get("PYTHONPATH")
    os.environ.update(
        PYTHONPATH=ROOT + (os.pathsep + old if old else ""),
        TMPDIR=tmp,
        TZ="UTC",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(cpus),
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "pyspark-shell"
        ),
    )
    time.tzset()
    sys.path[:0] = [ROOT, HERE]


def _reset_peak_rss() -> None:
    """Start this process's peak resident set afresh, so the memory of
    input generation is not counted as the program's."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def _peak_rss_mb(pid: int) -> float:
    """Peak resident set of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        return sum(int(line.split()[1]) for line in f if line.startswith("VmHWM:")) / 1024


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
    except OSError:
        pass
    return out


def _stop_jvm(spark) -> None:
    """Stop the session, the JVM and its Python worker daemons, and wait
    until each has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = _children(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)


def _request_layers(wl, spans, tracer) -> dict:
    from common import mean, p50
    from spans import COUNTERS, count, within

    op = f"op.{wl.REQUEST}"
    reqs = [s for s in spans if s.name.startswith(op)]
    inside = within(spans, op)
    execs = [s for s in inside if s.name == "spark.exec"]
    n = max(len(reqs), 1)
    out = {
        "construct_s": mean(s.seconds for s in reqs) - mean(s.seconds for s in execs),
        "construct_jobs": (count(inside, "jobs") - count(execs, "jobs")) / n,
        "spark.exec_s": p50([s.seconds for s in execs]),
    }
    for key in COUNTERS:
        out[f"spark.{key}"] = count(execs, key) / n
    out["trace.overhead_s"] = tracer.overhead_s / max(len(wl.rounds), 1)
    return out


def run(args, work: str) -> tuple[dict, dict]:
    cpus = len(os.sched_getaffinity(0))
    _isolate(work, cpus)
    import pyspark

    from meerkat_spark.session import get_spark
    from spans import Tracer

    cls = getattr(importlib.import_module(args.workload), WORKLOADS[args.workload])
    wl = cls(args.seed, os.path.join(work, "data"))
    tracer = Tracer(enabled=bool(args.trace))
    if args.trace:
        for mod, attr, name in wl.WRAPPED:
            owner = importlib.import_module(mod)
            *path, last = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            tracer.wrap(owner, last, name)
    wl.tracer = tracer

    steal0 = _steal_s()
    _reset_peak_rss()
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    tracer.bind(spark)
    wl.setup(spark)
    setup_s = time.perf_counter() - t0
    setup_spans = tracer.take()
    tracer.overhead_s = 0.0

    wl.run(args.seconds)
    spans = tracer.take()
    from pyspark import SparkContext

    # before the checks of finish(), which are the benchmark's own work
    rss_driver = _peak_rss_mb(os.getpid())
    rss_jvm = _peak_rss_mb(SparkContext._gateway.proc.pid)
    wl.finish()
    missing = {name for _, _, name in wl.WRAPPED} - tracer.fired if args.trace else set()
    for name in sorted(missing):
        wl.expect("tracing", False, f"wrapper {name} never fired")
    tracer.unwrap_all()

    e2e, named = wl.end_to_end()
    e2e.update(
        setup_s=setup_s,
        peak_rss_driver_mb=rss_driver,
        ok_ratio=(wl.attempted - wl.failed) / max(wl.attempted, 1),
        round_s=statistics.median(wl.rounds),
    )
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": cpus,
        "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "loadavg": list(os.getloadavg()),
        "steal_s": _steal_s() - steal0,
        "rounds": len(wl.rounds),
        "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
    }
    stamp["named"]["failed_ratio"] = {
        "value": wl.failed / max(wl.attempted, 1), "unit": "ratio"}
    stamp["named"]["peak_rss_mb"] = {"value": rss_driver + rss_jvm, "unit": "MB"}
    if args.trace:
        layers = _request_layers(wl, spans, tracer)
        module_layers = wl.layers(spans, setup_spans)
        stamp["layers"] = {k: {"value": v, "unit": _unit(k)} for k, v in module_layers.items()}
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    _stop_jvm(spark)
    ok = wl.failed == 0 and wl.attempted > 0
    for m in metrics.values():
        if not isinstance(m["value"], (int, float)) or m["value"] != m["value"]:
            m["value"], ok = 0.0, False  # no sample: the operations failed
    result = {"correct": ok, "attempted": wl.attempted, "failed": wl.failed,
              "metrics": metrics}
    return stamp, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "meerkat_spark", "__init__.py")):
        print(f"perfbench: no meerkat_spark package under {ROOT}; run it from the "
              "root of a source checkout", file=sys.stderr)
        return 2
    # results go to the real stdout; everything else (the JVM inherits
    # fd 1) is sent to stderr so the result stays the last line
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(work)
    # a terminated run still removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        stamp, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(stamp), file=out)
    print(json.dumps(result), file=out, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
