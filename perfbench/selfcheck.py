"""Smoke self-check of the crawl benchmark at synth.T1 scale.

    python3 perfbench/selfcheck.py

In one Spark session (event log on, spans on) it runs both workloads at
smoke size and checks that

1. BENCHMARK.json's metric names and units are well formed, and the
   metrics the code reports are exactly the declared end-to-end and
   per-layer sets;
2. each workload's correctness gate passes on the real output and fails
   on a deliberately corrupted one (a seen row dropped for
   incremental_crawl, a pages_out row dropped for bulk_round).

Exits 0 when every check holds. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def corrupt_and_gate(spark, name, crawl, ctx, expect) -> None:
    """Drop one row of the workload's output and re-run its gate."""
    from perfbench import workloads
    from ethereum_raw_data_crawler_spark.schemas import PAGES_OUT, SEEN

    store = crawl.eng.store
    bad = workloads.Ledger()
    if name == "incremental_crawl":
        victim = crawl.eng.seen().orderBy("url_hash").first()["url_hash"]
        store.delete_where(spark, "seen", SEEN, f"url_hash = {victim}", store.round)
        workloads.gate_oracle(
            spark, crawl, workloads._incremental_tables(crawl.inputs),
            crawl.eng.cfg, bad,
        )
        caught = any(p.startswith("oracle.seen") for p in bad.problems)
    else:
        victim = store.read(spark, "pages_out", PAGES_OUT).orderBy("url").first()["url"]
        store.delete_where(spark, "pages_out", PAGES_OUT, f"url = '{victim}'", store.round)
        workloads.gate_bulk(spark, crawl, bad, ctx.seed)
        caught = any(p.startswith("bulk.pages_out_rows") for p in bad.problems)
    expect(caught, f"{name}: gate catches a dropped output row {bad.problems}")


def main() -> int:
    from perfbench import run, workloads
    from perfbench.layers import probe_layers, spark_metrics
    from perfbench.tracing import Tracer, read_event_log
    from ethereum_raw_data_crawler_spark.session import get_spark
    from ethereum_raw_data_crawler_spark.sources import synth

    errors: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(f"selfcheck: {'ok  ' if ok else 'FAIL'} {what}", flush=True)
        if not ok:
            errors.append(what)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {k: [m["name"] for m in bench[k]] for k in ("end_to_end", "per_layer")}
    names = declared["end_to_end"] + declared["per_layer"]
    expect(len(names) == len(set(names)), "metric names are unique")
    expect(all(NAME.match(n) for n in names), "metric names are well formed")
    expect(
        all(UNIT.match(m["unit"]) for k in declared for m in bench[k]),
        "metric units are well formed",
    )
    expect({w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS),
           "declared workloads are the implemented ones")

    run_dir = os.path.join(HERE, ".run", f"selfcheck-{uuid.uuid4().hex[:12]}")
    events = os.path.join(run_dir, "events")
    os.makedirs(events)
    cores = len(os.sched_getaffinity(0))
    spark = get_spark(
        cores=cores,
        app_name="perfbench-selfcheck",
        extra={**run.sandbox(run_dir), **run.event_log_conf(events)},
    )
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    sizes = {"bulk_round": {"n_pages": 2000}, "incremental_crawl": {"scale": synth.T1}}
    layer = {}
    try:
        for i, (name, kw) in enumerate(sizes.items()):
            tracer = Tracer(f"selfcheck{i}", True, spark)
            ctx = workloads.RunContext(
                7, 1, os.path.join(run_dir, name),
                os.path.join(HERE, ".cache", "inputs"), tracer, workloads.Ledger(),
            )
            crawl = workloads.WORKLOADS[name](spark, ctx, **kw)
            expect(not ctx.ledger.problems, f"{name}: gate passes on real output "
                   f"{ctx.ledger.problems}")
            e2e = run.end_to_end(crawl, peak_rss=1)
            expect(sorted(e2e) == sorted(declared["end_to_end"]),
                   f"{name}: end-to-end metric set matches BENCHMARK.json")
            corrupt_and_gate(spark, name, crawl, ctx, expect)
            layer[name] = (probe_layers(spark, crawl, ctx), tracer)
    finally:
        run._stop_jvm(spark, jvm_pid)
    log = read_event_log(events)
    for name, (out, tracer) in layer.items():
        out = dict(out, **spark_metrics(tracer, log, cores))
        out["trace.overhead_s"] = 0.0  # run.py: traced minus untraced crawl_s
        expect(sorted(out) == sorted(declared["per_layer"]),
               f"{name}: per-layer metric set matches BENCHMARK.json "
               f"{sorted(set(out) ^ set(declared['per_layer']))}")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(f"selfcheck: {'PASSED' if not errors else f'{len(errors)} FAILED'}")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
