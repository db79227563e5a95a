"""Crawl-round benchmark of the PySpark crawl frontier.

Run from the repository root:

    python3 perfbench/run.py --workload {bulk_round,incremental_crawl} \
        --seed N --seconds S --trace {0,1}

One workload per invocation, on a single local[nproc] Spark process.
Inputs are generated from --seed (cached under perfbench/.cache) and are
never timed. The run sets the engine up (setup_s), warms up, times a
fixed number of crawl rounds, --seconds over a nominal 14 s round (at
least one; the bulk frontier is exhausted by its first), then checks the
output against the workload's correctness gate. --trace 0 reports the
end-to-end metrics; --trace 1 turns on job-group spans and the Spark
event log and reports the per-layer metrics instead. The last stdout
line is one JSON object {"correct", "attempted", "failed", "metrics"};
the lines before it list every metric with its unit and sample count.
Exit code 0 only when every check passed. METRICS.md documents the
workloads and metrics.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 170  # every run must end within 180 s


def default_heap() -> str:
    """A quarter of the machine's memory, in whole GiB (2..8): the
    session default of 48g does not fit small machines."""
    with open("/proc/meminfo") as fh:
        kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    return f"{min(8, max(2, kb // (4 << 20)))}g"


def sandbox(run_dir: str) -> dict[str, str]:
    """Point the temp and scratch locations of Python, the Spark launcher
    and the JVM into ``run_dir``, so a run writes only inside the
    checkout; returns the Spark conf that completes it."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ.setdefault("SPARK_DRIVER_MEM", default_heap())
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    return {
        "spark.ui.showConsoleProgress": "false",
        # a fixed-size driver heap: peak RSS then does not hinge on when
        # G1 decides to grow the heap
        "spark.driver.extraJavaOptions":
            f"-Xms{os.environ['SPARK_DRIVER_MEM']} {jvm_opts}",
    }


def event_log_conf(events_dir: str) -> dict[str, str]:
    """One uncompressed event-log file per application under events_dir."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{events_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def supported_percentile(n: int) -> str:
    """Highest percentile with at least ten samples beyond it."""
    for p in (99.9, 99, 95, 90, 75):
        if n * (1 - p / 100) >= 10:
            return f"p{p:g}"
    return "median only"


def _stop_jvm(spark, jvm_pid: int) -> None:
    """Stop Spark, end the gateway JVM and wait for every process it
    started (the Python worker daemon and workers) to exit."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants

    kids = descendants(jvm_pid)
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 15
        while kids and time.monotonic() < deadline:
            kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for p in kids:
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass


def _untraced_reference(args) -> float:
    """Wall of the first timed round of an untraced run of this workload:
    the cached result of the same seed, else the median over cached
    seeds, else a fresh one-round untraced run in a child process."""
    from perfbench.workloads import NOMINAL_ROUND_S

    res_dir = os.path.join(HERE, ".cache", "results")
    mine = os.path.join(res_dir, f"{args.workload}-seed{args.seed}.json")
    if not os.path.exists(mine):
        others = glob.glob(os.path.join(res_dir, f"{args.workload}-seed*.json"))
        if others:
            vals = []
            for f in others:
                with open(f) as fh:
                    vals.append(json.load(fh)["first_round_s"])
            return statistics.median(vals)
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(NOMINAL_ROUND_S),
             "--trace", "0"],
            cwd=ROOT, stdout=subprocess.DEVNULL, check=True, timeout=RUN_LIMIT_S,
        )
    with open(mine) as fh:
        return json.load(fh)["first_round_s"]


def end_to_end(crawl, peak_rss: int) -> dict[str, tuple[float, int]]:
    """name -> (value, sample count)."""
    walls = crawl.round_walls
    crawl_s = sum(walls)
    fetched = sum(s["fetched"] for s in crawl.round_stats)
    return {
        "setup_s": (crawl.setup_s, 1),
        "crawl_s": (crawl_s, len(walls)),
        "fetch_urls_per_s": (fetched / crawl_s, len(walls)),
        "round_p50_s": (statistics.median(walls), len(walls)),
        "peak_rss_mb": (peak_rss / 1e6, 1),
        "store_bytes_per_page": (crawl.store_bytes_after / crawl.pages_fetched, 1),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import ethereum_raw_data_crawler_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the crawl package under {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench import workloads
    from perfbench.tracing import (
        PeakRss, Tracer, descendants, read_event_log, task_totals,
    )

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_id = uuid.uuid4().hex[:12]
    run_dir = os.path.join(HERE, ".run", f"{args.workload}-{run_id}")

    def abort() -> None:
        print(f"perfbench: run exceeded {RUN_LIMIT_S} s, aborting", file=sys.stderr)
        for p in descendants(os.getpid()):
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass
        shutil.rmtree(run_dir, ignore_errors=True)
        os._exit(3)

    watchdog = threading.Timer(RUN_LIMIT_S - (time.perf_counter() - workloads.T0), abort)
    watchdog.daemon = True
    watchdog.start()
    # before this process sets up its own (traced) environment
    reference = _untraced_reference(args) if args.trace else None

    events_dir = os.path.join(run_dir, "events")
    os.makedirs(events_dir)
    spark_conf = sandbox(run_dir)
    if args.trace:
        conf = [f"{k}={v}" for k, v in event_log_conf(events_dir).items()]
        prior = os.environ.get("SPARK_GRAFT_CONF")
        os.environ["SPARK_GRAFT_CONF"] = ";".join([prior, *conf] if prior else conf)

    from ethereum_raw_data_crawler_spark.session import get_spark

    # generate uncached inputs while the JVM starts; the workload reads
    # (or, had this failed, regenerates) them
    cache_root = os.path.join(HERE, ".cache", "inputs")
    gen = threading.Thread(
        target=workloads.INPUTS[args.workload], args=(cache_root, args.seed)
    )
    gen.start()
    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        cores=cores,
        app_name=f"perfbench-{args.workload}",
        extra=spark_conf,
    )
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    gen.join()
    workloads.log("spark session up")

    ledger = workloads.Ledger()
    tracer = Tracer(run_id, bool(args.trace), spark)
    ctx = workloads.RunContext(
        args.seed, args.seconds, run_dir, cache_root, tracer, ledger
    )
    metrics: dict[str, tuple[float, str, int]] = {}
    crashed = False
    try:
        try:
            rss = PeakRss(jvm_pid)
            rss.start()
            crawl = workloads.WORKLOADS[args.workload](spark, ctx)
            peak = rss.stop()
            if args.trace:
                from perfbench.layers import probe_layers

                layer = probe_layers(spark, crawl, ctx)
                layer["trace.overhead_s"] = crawl.round_walls[0] - reference
            else:
                units = {m["name"]: m["unit"] for m in _declared("end_to_end")}
                for k, (v, n) in end_to_end(crawl, peak).items():
                    metrics[k] = (v, units[k], n)
                tasks, failed_tasks = task_totals(spark)
                ledger.attempted += tasks
                ledger.failed += failed_tasks
        finally:
            try:
                _stop_jvm(spark, jvm_pid)
            finally:
                watchdog.cancel()
            workloads.log("spark stopped")
        if args.trace:
            from perfbench.layers import spark_metrics

            events = read_event_log(events_dir)
            layer.update(spark_metrics(tracer, events, cores))
            ledger.attempted += sum(g.tasks for g in events.values())
            ledger.failed += int(layer["spark.failed_tasks"])
            units = {m["name"]: m["unit"] for m in _declared("per_layer")}
            for k, v in layer.items():
                metrics[k] = (float(v), units[k], len(crawl.round_walls))
            tracer.dump(os.path.join(
                HERE, ".cache", f"spans-{args.workload}-seed{args.seed}.json"))
        else:
            os.makedirs(os.path.join(HERE, ".cache", "results"), exist_ok=True)
            with open(os.path.join(HERE, ".cache", "results",
                                   f"{args.workload}-seed{args.seed}.json"), "w") as fh:
                json.dump({"first_round_s": crawl.round_walls[0],
                           **{k: v for k, (v, _u, _n) in metrics.items()}}, fh)
    except Exception:
        traceback.print_exc()
        crashed = True
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for p in ledger.problems:
        print(f"perfbench: CHECK FAILED {p}", file=sys.stderr)
    for k, (v, unit, n) in metrics.items():
        print(f"# {args.workload} {k} = {v:.6g} {unit} (n={n}, {supported_percentile(n)})")
    correct = not crashed and not ledger.problems
    print(json.dumps({
        "correct": correct,
        "attempted": max(ledger.attempted, 1),
        "failed": max(ledger.failed, 1) if crashed else ledger.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _n) in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


def _declared(kind: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)[kind]


if __name__ == "__main__":
    sys.exit(main())
