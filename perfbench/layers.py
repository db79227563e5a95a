"""Per-layer probes and metrics of the traced run.

Each probe calls one layer's public functions from outside the package,
inside a span named after the layer, on the state the timed crawl left:

functions            extract_page / canonicalize_url over the workload's pages
operators            pop_batch on the committed frontier; split_by_bloom /
                     add_keys / delete_keys of scratch Bloom and cuckoo
                     filters on the committed seen keys and the timed
                     rounds' outlink candidates
sources.tablestore   frontier MOR read, delete_where, compact
plans.rounds         run_round's own phases_ms and counts
spark                job groups + event log of the round spans
"""

from __future__ import annotations

import os
import random
import statistics
import time

from pyspark.sql import functions as F

from ethereum_raw_data_crawler_spark.functions.extract import extract_page
from ethereum_raw_data_crawler_spark.functions.spark_udfs import extract_page_udf
from ethereum_raw_data_crawler_spark.functions.urls import canonicalize_url
from ethereum_raw_data_crawler_spark.operators.bloom import (
    PartitionedBloom,
    split_by_bloom,
)
from ethereum_raw_data_crawler_spark.operators.cuckoo import PartitionedCuckoo
from ethereum_raw_data_crawler_spark.operators.priority_pop import pop_batch
from ethereum_raw_data_crawler_spark.schemas import (
    FRONTIER,
    PAGES_OUT,
    POLITENESS,
    SEEN,
    STATUS_PENDING,
)

PHASES = (
    "precompact", "pop", "fetch", "discover", "commit_pages", "commit_seen",
    "commit_frontier", "commit_bloom", "compact",
)
EXTRACT_SAMPLE = 2000
CANON_SAMPLE = 20000
FORGET_BATCH = 500


def _timed(tracer, name: str, fn) -> tuple[float, object]:
    with tracer.span(name) as sp:
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
    return (tracer.self_time(sp) if sp is not None else wall), out


def pop_probe(eng, tracer) -> float:
    """pop_batch + count on the committed frontier snapshot, with the
    eligibility filter and politeness dim run_round uses."""
    rnd = eng.store.round + 1
    eligible = eng.frontier().where(
        (F.col("status") == STATUS_PENDING)
        & (F.col("skip_until").isNull() | (F.col("skip_until") <= F.lit(rnd)))
    )
    scratch: list = []
    popped = pop_batch(
        eligible,
        eng.store.read(eng.spark, "politeness", POLITENESS),
        eng.cfg.batch_size,
        eng.cfg.default_budget,
        prune=eng.prune_pop,
        scratch=scratch,
    )
    try:
        return _timed(tracer, "operators.priority_pop.pop_batch", popped.count)[0]
    finally:
        for df in scratch:
            df.unpersist()


def _functions(crawl, seed: int) -> dict[str, float]:
    """Single-thread timing of the pure functions over the workload's
    own pages (µs per call)."""
    pdf = crawl.pages_pdf
    rng = random.Random(seed)
    idx = rng.sample(range(len(pdf)), min(EXTRACT_SAMPLE, len(pdf)))
    rows = [(pdf["html"].iat[i], canonicalize_url(pdf["url"].iat[i])) for i in idx]
    t0 = time.perf_counter()
    for html, base in rows:
        extract_page(html, base)
    extract_us = (time.perf_counter() - t0) / len(rows) * 1e6
    urls = list(pdf["url"].iloc[rng.sample(range(len(pdf)), min(CANON_SAMPLE, len(pdf)))])
    t0 = time.perf_counter()
    for u in urls:
        canonicalize_url(u)
    canon_us = (time.perf_counter() - t0) / len(urls) * 1e6
    return {
        "functions.extract_page_us": extract_us,
        "functions.canonicalize_url_us": canon_us,
    }


def _filters(spark, crawl, ctx) -> dict[str, float]:
    """Scratch Bloom and cuckoo filters sized as CrawlEngine.create sizes
    the engine's: add the seen keys committed before the first timed
    round, probe the timed rounds' distinct outlink candidates, and (for
    the deletable cuckoo) unlearn a forget_urls-sized batch."""
    eng, tracer = crawl.eng, ctx.tracer
    seen_before = (
        eng.as_of(crawl.first_timed_round - 1, "seen", SEEN).select("url_hash").cache()
    )
    timed = [s["round"] for s in crawl.round_stats]
    pages = eng.store.read(spark, "pages_out", PAGES_OUT).where(
        F.col("fetch_round").isin(timed)
    )
    cands = (
        pages.select(F.explode(extract_page_udf("html", "url").links).alias("u"))
        .select(F.xxhash64("u").alias("url_hash"))
        .distinct()
        .cache()
    )
    n_cands = cands.count()
    truly_new = cands.join(seen_before, "url_hash", "left_anti").count()
    expected = max(crawl.n_seeds * 16, 1 << 20)
    sample = [
        r["url_hash"]
        for r in seen_before.orderBy("url_hash").limit(20 * FORGET_BATCH).collect()
    ]
    forget = random.Random(ctx.seed).sample(sample, min(FORGET_BATCH, len(sample)))
    out: dict[str, float] = {}
    for prefix, cls in (("bloom", PartitionedBloom), ("cuckoo", PartitionedCuckoo)):
        root = os.path.join(ctx.run_dir, f"scratch-{prefix}")
        filt = cls.create(root, n_buckets=cls.buckets_for(expected), expected_keys=expected)
        out[f"{prefix}.add_keys_s"], _ = _timed(
            tracer, f"operators.{prefix}.add_keys",
            lambda: filt.add_keys(seen_before, "url_hash", 0),
        )
        scratch: list = []

        def probe():
            new, maybe = split_by_bloom(cands, "url_hash", filt, spark, scratch=scratch)
            return new.count(), maybe

        out[f"{prefix}.probe_s"], (n_new, maybe) = _timed(
            tracer, f"operators.{prefix}.split_by_bloom", probe
        )
        false_maybe = maybe.join(seen_before, "url_hash", "left_anti").count()
        out[f"{prefix}.definitely_new_frac"] = n_new / n_cands if n_cands else 0.0
        out[f"{prefix}.false_maybe_frac"] = false_maybe / truly_new if truly_new else 0.0
        for df in scratch:
            df.unpersist()
        if prefix == "cuckoo":
            keys = spark.createDataFrame([(h,) for h in forget], "url_hash long")
            out["cuckoo.delete_keys_s"], _ = _timed(
                tracer, "operators.cuckoo.delete_keys",
                lambda: filt.delete_keys(keys, "url_hash", 1),
            )
    cands.unpersist()
    seen_before.unpersist()
    return out


def _tablestore(spark, crawl, ctx) -> dict[str, float]:
    eng, tracer = crawl.eng, ctx.tracer
    store = eng.store
    t = store.manifest()["tables"]["frontier"]
    base_rows = store.fragment_rows(t["fragments"])
    out = {
        "tablestore.frontier_fragments": float(len(t["fragments"]) + len(t["deletes"])),
        "tablestore.delete_debt_frac": (
            store.fragment_rows(t["deletes"]) / base_rows if base_rows else 0.0
        ),
        "tablestore.bytes_written_mb_per_round": (
            (crawl.store_bytes_after - crawl.store_bytes_before)
            / len(crawl.round_walls)
            / 1e6
        ),
    }
    out["tablestore.frontier_read_s"], _ = _timed(
        tracer, "sources.tablestore.read",
        lambda: store.read(spark, "frontier", FRONTIER).write.format("noop").mode("overwrite").save(),
    )
    # takedown of one fetched host's pages (the CLI delete path); time
    # travel must still show them at the prior version
    host = (
        store.read(spark, "pages_out", PAGES_OUT)
        .select(F.regexp_extract("url", r"^https?://([^/]+)/", 1).alias("h"))
        .groupBy("h").count().orderBy(F.desc("count"), "h").first()["h"]
    )
    pred = f"url LIKE 'https://{host}/%'"
    version = store.manifest()["version"]
    out["tablestore.delete_where_s"], n_del = _timed(
        tracer, "sources.tablestore.delete_where",
        lambda: store.delete_where(spark, "pages_out", PAGES_OUT, pred, store.round),
    )
    now = store.read(spark, "pages_out", PAGES_OUT).where(pred).count()
    before = store.read(spark, "pages_out", PAGES_OUT, version=version).where(pred).count()
    ctx.ledger.check(
        "takedown.delete_pages", n_del > 0 and now == 0 and before == n_del,
        f"deleted={n_del} remaining={now} as_of_prior={before}",
    )
    out["tablestore.compact_s"], _ = _timed(
        tracer, "sources.tablestore.compact",
        lambda: store.compact(spark, "frontier", FRONTIER, store.round),
    )
    return out


def _rounds(crawl) -> dict[str, float]:
    def med(xs):
        return float(statistics.median(xs))

    stats = crawl.round_stats
    out = {
        f"rounds.{p}_s": med([s["phases_ms"].get(p, 0) / 1000 for s in stats])
        for p in PHASES
    }
    out["rounds.unattributed_s"] = med(
        [
            w - sum(s["phases_ms"].get(p, 0) for p in PHASES) / 1000
            for w, s in zip(crawl.round_walls, stats)
        ]
    )
    cand = [s["discovered"] + s["deduped"] + s["robots_filtered"] for s in stats]
    out["rounds.admitted_frac"] = (
        sum(s["discovered"] for s in stats) / sum(cand) if sum(cand) else 0.0
    )
    popped = sum(s["popped"] for s in stats)
    out["rounds.fetch_error_frac"] = (
        sum(s["errors"] for s in stats) / popped if popped else 0.0
    )
    return out


def probe_layers(spark, crawl, ctx) -> dict[str, float]:
    """Run the probes that need the live session (after the gate)."""
    out = _rounds(crawl)
    out.update(_functions(crawl, ctx.seed))
    out.update(_filters(spark, crawl, ctx))
    out.update(_tablestore(spark, crawl, ctx))
    pop = ctx.tracer.named("operators.priority_pop.pop_batch")
    out["priority_pop.pop_batch_s"] = ctx.tracer.self_time(pop[-1])
    return out


def spark_metrics(tracer, events, cores: int) -> dict[str, float]:
    """Scheduler metrics of the timed rounds from the event log, per
    round; failed tasks over the whole run."""
    spans = tracer.named("plans.rounds.run_round")
    n = len(spans)
    groups = [events.get(s.group) for s in spans]
    groups = [g for g in groups if g is not None]
    wall = sum(s.duration for s in spans)

    def per_round(attr: str) -> float:
        return sum(getattr(g, attr) for g in groups) / n

    return {
        "spark.jobs_per_round": per_round("jobs"),
        "spark.tasks_per_round": per_round("tasks"),
        "spark.task_busy_frac": per_round("busy_ms") * n / 1000 / (wall * cores),
        "spark.shuffle_write_mb": per_round("shuffle_write_bytes") / 1e6,
        "spark.spill_mb": per_round("spill_bytes") / 1e6,
        "spark.gc_s": per_round("gc_ms") / 1000,
        "spark.failed_tasks": float(sum(g.failed_tasks for g in events.values())),
    }
