"""Workloads of the crawl-round benchmark: seeded inputs, the timed crawl,
and the correctness gate each run must pass.

bulk_round        one production-shape round: the frontier holds every
                  corpus URL and one round pops all of them (fetch join,
                  parse UDF; every outlink is already seen, so discovery
                  admits nothing).
incremental_crawl a crawl of the Zipf-skewed fixture corpus from the
                  half-host seed list; a round pops a few hundred URLs and
                  admits mostly new ones, so per-round fixed cost
                  dominates. Gated against the pure-Python oracle
                  scheduler.
"""

from __future__ import annotations

import dataclasses
import os
import random
import shutil
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ethereum_raw_data_crawler_spark.config import CrawlConfig
from ethereum_raw_data_crawler_spark.functions.extract import extract_text
from ethereum_raw_data_crawler_spark.functions.spark_udfs import extract_page_udf
from ethereum_raw_data_crawler_spark.functions.urls import canonicalize_url
from ethereum_raw_data_crawler_spark.plans.oracle import run_oracle
from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine
from ethereum_raw_data_crawler_spark.schemas import PAGES_OUT, SEEN
from ethereum_raw_data_crawler_spark.sources import synth, xlgen

# bulk_round: the engine switches to the distributed large-k pop and the
# shuffled-hash fetch join above 100k popped URLs, but a round that size
# does not fit the benchmark's per-run time budget (see METRICS.md), so
# this round takes the small-k pop and the broadcast fetch join.
BULK_PAGES = 40_000
BULK_HOSTS = 1000

# incremental_crawl: fixture corpus shape (Zipf hosts, robots disallows,
# URL variants, malformed HTML, injected fetch failures)
INC_SCALE = synth.Scale(hosts=500, pages_per_host=60)
INC_BATCH = 5000
INC_HOST_BUDGET = 20

GATE_TEXT_SAMPLE = 200
WARMUP_PARSE_ROWS = 500

# the timed phase of a run is a fixed number of rounds, --seconds divided
# by this nominal round time (reference machine) and rounded, so every run
# of a workload does the same work whatever the machine's speed
NOMINAL_ROUND_S = 14.0


def timed_round_count(seconds: float) -> int:
    return max(1, round(seconds / NOMINAL_ROUND_S))


# ------------------------------------------------------------------ inputs
def _write_parquet(pdf: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    # Spark cannot read TIMESTAMP(NANOS) parquet
    table = table.cast(
        pa.schema(
            [
                f.with_type(pa.timestamp("us", tz=f.type.tz))
                if pa.types.is_timestamp(f.type)
                else f
                for f in table.schema
            ]
        )
    )
    pq.write_table(table, path)


def _cached(cache_root: str, key: str, build) -> str:
    """Directory of generated inputs for ``key``, built once per key."""
    out = os.path.join(cache_root, key)
    if not os.path.exists(os.path.join(out, "_DONE")):
        tmp = f"{out}.tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        build(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        if os.path.exists(out):  # a partial directory from a killed run
            shutil.rmtree(out)
        os.replace(tmp, out)
    return out


def bulk_inputs(cache_root: str, seed: int, n_pages: int = BULK_PAGES) -> str:
    def build(d: str) -> None:
        # xlgen.generate maps gen_partition over Spark partitions; page
        # content is a pure function of the row id, so calling it here in
        # chunks gives the identical corpus without starting a JVM
        chunks = [
            xlgen.gen_partition(
                np.arange(lo, min(lo + 20_000, n_pages)), n_pages, BULK_HOSTS, seed
            )
            for lo in range(0, n_pages, 20_000)
        ]
        pages = pd.concat(chunks, ignore_index=True)
        _write_parquet(pages, os.path.join(d, "pages.parquet"))
        hosts = [f"host{h}.example" for h in range(1, BULK_HOSTS + 1)]
        _write_parquet(
            pd.DataFrame({"host": hosts, "allowed": True, "disallow_prefix": None}),
            os.path.join(d, "robots.parquet"),
        )
        # budget = batch: one round may pop the whole frontier
        _write_parquet(
            pd.DataFrame({"host": hosts, "budget_per_round": np.int32(n_pages)}),
            os.path.join(d, "politeness.parquet"),
        )
        _write_parquet(
            pd.DataFrame({"url": pages["url"], "priority": np.int32(0)}),
            os.path.join(d, "seeds.parquet"),
        )

    return _cached(cache_root, f"xlgen-{n_pages}x{BULK_HOSTS}-seed{seed}", build)


def incremental_inputs(
    cache_root: str, seed: int, scale: synth.Scale = INC_SCALE
) -> str:
    return _cached(
        cache_root,
        f"synth-{scale.hosts}x{scale.pages_per_host}-seed{seed}",
        lambda d: synth.write_corpus(d, scale, seed),
    )


# -------------------------------------------------------------- run state
T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr: seconds since the benchmark process started."""
    print(f"perfbench: {time.perf_counter() - T0:7.1f}s {msg}", file=sys.stderr, flush=True)


@dataclasses.dataclass
class Ledger:
    """Operations attempted and failed in one run. A failure is a call
    that raised, a failed correctness check or a failed Spark task."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = dataclasses.field(default_factory=list)

    def call(self, fn, *args, **kw):
        self.attempted += 1
        try:
            return fn(*args, **kw)
        except Exception:
            self.failed += 1
            raise

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(f"{name}: {detail}" if detail else name)


@dataclasses.dataclass
class RunContext:
    seed: int
    seconds: float
    run_dir: str  # scratch space of this run, removed at exit
    cache_root: str  # generated inputs, kept across runs
    tracer: object
    ledger: Ledger


@dataclasses.dataclass
class Crawl:
    """What a workload leaves for the metrics and the traced layer probes."""

    eng: CrawlEngine
    inputs: str
    pages_pdf: pd.DataFrame  # url, html of the input corpus
    n_seeds: int
    setup_s: float
    round_walls: list[float]
    round_stats: list[dict]
    first_timed_round: int
    pages_fetched: int  # rows in pages_out
    store_bytes_before: int
    store_bytes_after: int


def store_bytes(root: str, skip: str = os.path.join("data", "corpus")) -> int:
    """Bytes of the store's files, without the landed corpus (the
    simulated web that fetches read, written once at set-up)."""
    skip_abs = os.path.join(root, skip)
    total = 0
    for d, _dirs, files in os.walk(root):
        if d == skip_abs or d.startswith(skip_abs + os.sep):
            continue
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _read(spark, inputs: str, name: str):
    return spark.read.parquet(os.path.join(inputs, f"{name}.parquet"))


def _timed_rounds(eng, ledger, tracer, n_rounds: int):
    """``n_rounds`` rounds, or fewer when the frontier is exhausted; each
    round is timed around run_round, so the wall includes commit, bloom
    fold and compaction."""
    walls, stats = [], []
    for _ in range(n_rounds):
        rnd = eng.store.round + 1
        with tracer.span("plans.rounds.run_round", round=rnd):
            t0 = time.perf_counter()
            st = ledger.call(eng.run_round, rnd)
            walls.append(time.perf_counter() - t0)
        stats.append(st)
        if st["discovered"] == 0 and ledger.call(eng.pending_count) == 0:
            break
    return walls, stats


def _warm_up(spark, eng, tracer, inputs: str) -> None:
    """Untimed warm-up before the timed rounds: the pop of the committed
    frontier (the traced run's priority_pop probe) and one parse-UDF pass
    over a corpus sample, so the first timed round does not pay first-use
    costs (JIT, Python workers) that a long crawl pays once. Set-up has
    already run canonicalization, discovery, the filter fold and writes."""
    from perfbench.layers import pop_probe

    pop_probe(eng, tracer)
    (
        _read(spark, inputs, "pages")
        .limit(WARMUP_PARSE_ROWS)
        .select(extract_page_udf("html", "url").alias("ext"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def _crawl(spark, ctx, inputs: str, pages_pdf, n_seeds: int, create) -> Crawl:
    """Set up (timed), warm up, run the timed rounds; ``create(root)``
    calls CrawlEngine.create with the workload's inputs and config."""
    root = os.path.join(ctx.run_dir, "store")
    with ctx.tracer.span("plans.rounds.create"):
        t0 = time.perf_counter()
        eng = ctx.ledger.call(create, root)
        setup_s = time.perf_counter() - t0
    log(f"set up in {setup_s:.1f}s")
    _warm_up(spark, eng, ctx.tracer, inputs)
    log("warmed up")
    bytes_before = store_bytes(root)
    first = eng.store.round + 1
    walls, stats = _timed_rounds(
        eng, ctx.ledger, ctx.tracer, timed_round_count(ctx.seconds)
    )
    log(f"timed {len(walls)} round(s): {sum(walls):.1f}s")
    pages_out = eng.store.manifest()["tables"]["pages_out"]["fragments"]
    return Crawl(
        eng, inputs, pages_pdf, n_seeds, setup_s, walls, stats, first,
        eng.store.fragment_rows(pages_out), bytes_before, store_bytes(root),
    )


# --------------------------------------------------------------- bulk_round
def bulk_round(spark, ctx, n_pages: int = BULK_PAGES) -> Crawl:
    inputs = bulk_inputs(ctx.cache_root, ctx.seed, n_pages)
    pages_pdf = pd.read_parquet(
        os.path.join(inputs, "pages.parquet"), columns=["url", "html"]
    )
    crawl = _crawl(
        spark, ctx, inputs, pages_pdf, n_pages,
        lambda root: CrawlEngine.create(
            spark, root,
            _read(spark, inputs, "pages"),
            _read(spark, inputs, "seeds"),
            _read(spark, inputs, "robots"),
            _read(spark, inputs, "politeness"),
            None,
            CrawlConfig(batch_size=n_pages),
            n_buckets=64,
            prune_pop=False,
        ),
    )
    gate_bulk(spark, crawl, ctx.ledger, ctx.seed)
    log("gate done")
    return crawl


def gate_bulk(spark, crawl: Crawl, ledger: Ledger, seed: int) -> None:
    """fetched == popped == pages_out rows, the seen set unchanged, and
    per-URL text on a seeded sample equal to extract_text of the input."""
    eng = crawl.eng
    seen_before = eng.as_of(crawl.first_timed_round - 1, "seen", SEEN).count()
    st = crawl.round_stats[0]
    rnd = st["round"]
    ledger.check(
        "bulk.fetched_eq_popped",
        st["fetched"] == st["popped"] == len(crawl.pages_pdf),
        f"popped={st['popped']} fetched={st['fetched']} corpus={len(crawl.pages_pdf)}",
    )
    out = eng.store.read(spark, "pages_out", PAGES_OUT).where(f"fetch_round = {rnd}")
    n_out = out.count()
    ledger.check(
        "bulk.pages_out_rows", n_out == st["fetched"], f"pages_out={n_out} fetched={st['fetched']}"
    )
    n_seen = eng.seen().count()
    ledger.check(
        "bulk.seen_unchanged",
        n_seen == seen_before and st["discovered"] == 0,
        f"seen before={seen_before} after={n_seen} discovered={st['discovered']}",
    )
    urls = sorted(crawl.pages_pdf["url"])
    sample = random.Random(seed).sample(urls, min(GATE_TEXT_SAMPLE, len(urls)))
    canon = {canonicalize_url(u): u for u in sample}
    got = {
        r["url"]: r["text"]
        for r in out.where(out.url.isin(list(canon))).select("url", "text").collect()
    }
    html = dict(zip(crawl.pages_pdf["url"], crawl.pages_pdf["html"]))
    bad = [c for c, u in canon.items() if got.get(c) != extract_text(html[u])]
    ledger.check("bulk.text_sample", not bad, f"{len(bad)} of {len(canon)} differ, e.g. {bad[:3]}")


# --------------------------------------------------------- incremental_crawl
def _incremental_tables(inputs: str) -> dict[str, pd.DataFrame]:
    tabs = {
        n: pd.read_parquet(os.path.join(inputs, f"{n}.parquet"))
        for n in ("pages", "seeds", "robots", "politeness", "fetch_failures")
    }
    tabs["politeness"]["budget_per_round"] = np.int32(INC_HOST_BUDGET)
    tabs["fetch_failures"]["fail_attempts"] = tabs["fetch_failures"][
        "fail_attempts"
    ].map(list)
    return tabs


def incremental_crawl(spark, ctx, scale: synth.Scale = INC_SCALE) -> Crawl:
    inputs = incremental_inputs(ctx.cache_root, ctx.seed, scale)
    tabs = _incremental_tables(inputs)
    cfg = CrawlConfig(batch_size=INC_BATCH)
    crawl = _crawl(
        spark, ctx, inputs, tabs["pages"][["url", "html"]], len(tabs["seeds"]),
        lambda root: CrawlEngine.create(
            spark, root,
            _read(spark, inputs, "pages"),
            _read(spark, inputs, "seeds"),
            _read(spark, inputs, "robots"),
            spark.createDataFrame(tabs["politeness"]),
            _read(spark, inputs, "fetch_failures"),
            cfg,
        ),
    )
    gate_oracle(spark, crawl, tabs, cfg, ctx.ledger)
    log("gate done")
    return crawl


def gate_oracle(spark, crawl: Crawl, tabs, cfg: CrawlConfig, ledger: Ledger) -> None:
    """Crawl trace, seen set, per-URL text bytes and final frontier state
    equal to the pure-Python oracle scheduler run for the same rounds."""
    eng = crawl.eng
    res = run_oracle(
        tabs["pages"], tabs["seeds"], tabs["robots"], tabs["politeness"],
        tabs["fetch_failures"], dataclasses.replace(cfg, max_rounds=eng.store.round),
    )
    trace = [
        (int(r.round), int(r.seq), r.url_canon, r.host)
        for r in eng.read_trace().toPandas().sort_values(["round", "seq"]).itertuples()
    ]
    ledger.check(
        "oracle.trace", trace == res.trace, f"engine {len(trace)} rows, oracle {len(res.trace)}"
    )
    seen = {
        (int(r.url_hash), r.url_canon, int(r.first_seen_round))
        for r in eng.seen().toPandas().itertuples()
    }
    want = {(h, c, rnd) for h, (c, rnd) in res.seen.items()}
    ledger.check("oracle.seen", seen == want, f"{len(seen ^ want)} rows differ")
    pages = {
        r.url: (r.text.encode(), int(r.fetch_round), int(r.fetch_seq))
        for r in eng.store.read(spark, "pages_out", PAGES_OUT)
        .select("url", "text", "fetch_round", "fetch_seq")
        .toPandas()
        .itertuples()
    }
    opages = {
        p["url"]: (p["text"].encode(), p["fetch_round"], p["fetch_seq"])
        for p in res.pages_out
    }
    ledger.check(
        "oracle.pages_text",
        pages == opages,
        f"{len(set(pages.items()) ^ set(opages.items()))} pages differ",
    )
    fro = {
        r.url_canon: (
            r.status,
            int(r.retry_count),
            None if pd.isna(r.skip_until) else int(r.skip_until),
        )
        for r in eng.frontier()
        .select("url_canon", "status", "retry_count", "skip_until")
        .toPandas()
        .itertuples()
    }
    ofro = {c: (r.status, r.retry_count, r.skip_until) for c, r in res.frontier.items()}
    ledger.check(
        "oracle.frontier", fro == ofro, f"{len(set(fro.items()) ^ set(ofro.items()))} rows differ"
    )


WORKLOADS = {"bulk_round": bulk_round, "incremental_crawl": incremental_crawl}
INPUTS = {"bulk_round": bulk_inputs, "incremental_crawl": incremental_inputs}
