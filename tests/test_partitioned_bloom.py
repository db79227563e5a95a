"""Partitioned Bloom seen-set: OR-in on the driver for small filters and
as a bucket-aligned Spark job past the driver bounds (bit-identical
either way), growth as a Spark job, bucket-aligned probe past the
broadcast threshold with ZERO driver bitmap residency, crash catch-up of
the bloom meta, and the NULL-predicate DELETE WHERE fix."""

import glob
import math
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

from ethereum_raw_data_crawler_spark.config import CrawlConfig
from ethereum_raw_data_crawler_spark.operators.bloom import (
    BloomFilter,
    PartitionedBloom,
)
from ethereum_raw_data_crawler_spark.plans.oracle import run_oracle
from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine
from ethereum_raw_data_crawler_spark.sources.tablestore import SnapshotStore


def bucket_files_equal(a, b) -> bool:
    """Same buckets, same n_added, bit-identical bitmap files."""
    return a.buckets.keys() == b.buckets.keys() and all(
        a.buckets[k]["n_added"] == b.buckets[k]["n_added"]
        and np.array_equal(
            np.load(os.path.join(a.dir, a.buckets[k]["file"])),
            np.load(os.path.join(b.dir, b.buckets[k]["file"])),
        )
        for k in a.buckets
    )


# ------------------------------------------------ 10M keys, aligned probe


def test_partitioned_bloom_10m_keys_aligned_probe(spark, tmp_path, bucket_stages):
    """Build the seen filter from 10M keys entirely executor-side, then
    probe with the broadcast path disabled: the candidates repartition by
    bucket, each task loads only its buckets' bitmap files, and the DRIVER
    process never loads a bitmap at all (numpy.load is poisoned driver-side
    for the duration — Python workers are separate processes and re-import
    numpy, so only a driver-side load would trip it)."""
    n = 10_000_000
    keys = spark.range(n).select(F.xxhash64("id").alias("url_hash"))
    pb = PartitionedBloom.create(
        str(tmp_path), n_buckets=64, expected_keys=2 * n, rnd=-1
    )
    saturated = []
    # past DRIVER_COLLECT_MAX_ROWS keys the fold is the bucket-aligned job
    assert bucket_stages(
        64, lambda: saturated.extend(pb.add_keys(keys, "url_hash", 0))
    )
    assert not saturated  # sized for 20M, holds 10M comfortably
    assert pb.n_added_total == n
    assert 0.0 < pb.estimated_saturation() < 0.5

    pb.BROADCAST_MAX_BYTES = 0  # force the 100-TB path
    present = spark.range(0, 50_000).select(
        F.xxhash64("id").alias("url_hash"), F.lit("p").alias("tag")
    )
    absent = spark.range(n, n + 50_000).select(
        F.xxhash64("id").alias("url_hash"), F.lit("a").alias("tag")
    )
    cands = present.unionByName(absent)

    real_load = np.load

    def poisoned(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("driver loaded a bloom bitmap on the aligned path")

    np.load = poisoned
    try:
        new_def, maybe = pb.probe_split(cands, "url_hash", spark)
        got_maybe = {r["tag"] for r in maybe.select("tag").distinct().collect()}
        n_new_present = new_def.where(F.col("tag") == "p").count()
        n_maybe_absent = maybe.where(F.col("tag") == "a").count()
    finally:
        np.load = real_load
    assert pb.last_probe_mode == "aligned"
    assert n_new_present == 0  # no false negatives, ever
    assert "p" in got_maybe
    assert n_maybe_absent / 50_000 < 0.05  # FPR at the design point


def test_partitioned_bloom_per_bucket_growth(spark, tmp_path, bucket_stages):
    """A bucket pushed past design capacity is rebuilt ALONE at its next
    size; untouched buckets keep their files. The small fold runs on the
    driver (no bucket-aligned stage); a twin forced onto the job path
    (``BROADCAST_MAX_BYTES`` = 0) folds the same keys into bit-identical
    files with the same counters and the same saturated bucket."""
    pb, job = (
        PartitionedBloom.create(
            str(tmp_path / side), n_buckets=4, n_bits_per_bucket=256, k=3, rnd=-1
        )
        for side in ("driver", "job")
    )
    job.BROADCAST_MAX_BYTES = 0
    # keys all land in bucket 0: pmod(4k, 4) == 0
    keys = spark.range(2_000).select((F.col("id") * 4).alias("url_hash"))
    saturated, job_saturated = [], []
    assert not bucket_stages(
        4, lambda: saturated.extend(pb.add_keys(keys, "url_hash", 0))
    )
    assert bucket_stages(
        4, lambda: job_saturated.extend(job.add_keys(keys, "url_hash", 0))
    )
    assert saturated == job_saturated == [0]
    assert pb.n_added_total == job.n_added_total == 2_000
    assert bucket_files_equal(pb, job)
    before = {b: e["file"] for b, e in pb.buckets.items()}
    pb.grow_buckets(keys, "url_hash", 0, saturated)
    assert pb.buckets[0]["n_bits"] > 256
    assert pb.buckets[0]["file"] != before[0]
    assert not pb.saturated_buckets()
    # growth preserved membership: every key still maybe-present
    new_def, maybe = pb.probe_split(keys, "url_hash", spark)
    assert new_def.count() == 0


def test_partitioned_bloom_meta_is_atomic_and_gcd(spark, tmp_path):
    pb = PartitionedBloom.create(str(tmp_path), n_buckets=4, rnd=-1)
    for rnd in range(5):
        keys = spark.range(rnd * 100, rnd * 100 + 100).select(
            F.col("id").alias("url_hash")
        )
        pb.add_keys(keys, "url_hash", rnd)
    metas = sorted(glob.glob(os.path.join(str(tmp_path), "bloom", "meta-*.json")))
    assert len(metas) == 2  # keep=2
    assert metas[-1].endswith("meta-000004.json")
    # every surviving bitmap file is referenced by a surviving meta
    pb2 = PartitionedBloom.load(str(tmp_path), 4)
    live = {e["file"] for e in pb2.buckets.values()}
    on_disk = {
        os.path.basename(f)
        for f in glob.glob(os.path.join(str(tmp_path), "bloom", "b*.npy"))
    }
    assert live <= on_disk
    assert pb2.n_added_total == 500


# ------------------------------------------------ engine crash catch-up


def _mk_engine(spark, tmp_path, tabs, cfg, politeness):
    return CrawlEngine.create(
        spark,
        str(tmp_path / "store"),
        spark.createDataFrame(tabs["pages"]),
        spark.createDataFrame(tabs["seeds"]),
        spark.createDataFrame(tabs["robots"]),
        spark.createDataFrame(politeness),
        spark.createDataFrame(tabs["fetch_failures"]),
        cfg,
    )


def test_bloom_meta_catchup_on_resume(spark, t1_tables, tmp_path):
    """A crash between the table commit and the bloom meta write leaves
    the bitmaps one round behind; resume must fold in the missed seen
    fragment (NOT a full rebuild, NOT a silent skip — a stale bitmap means
    false negatives = duplicate URLs) and stay oracle-equivalent."""
    tabs = t1_tables
    relaxed = tabs["politeness"].copy()
    relaxed["budget_per_round"] = 50
    cfg = CrawlConfig(batch_size=400)
    res = run_oracle(
        tabs["pages"], tabs["seeds"], tabs["robots"], relaxed,
        tabs["fetch_failures"], cfg,
    )
    eng = _mk_engine(spark, tmp_path, tabs, cfg, relaxed)
    eng.run(max_rounds=2)
    last = eng.store.round
    # the surviving pre-crash filter: one bucket that holds the keys seen
    # before the last round below design capacity but not the last round's
    # too, so the catch-up fold must trip (and apply) per-bucket growth
    seen_prev = eng.seen().where(F.col("first_seen_round") < last)
    n_prev, n_all = seen_prev.count(), eng.seen().count()
    n_bits = math.ceil((n_prev + n_all) / 2 * 3 / math.log(2) / 64) * 64
    del eng
    # simulate the crash: drop the newest bloom meta only
    os.unlink(str(tmp_path / "store" / "bloom" / f"meta-{last:06d}.json"))
    assert PartitionedBloom.latest_round(str(tmp_path / "store")) == last - 1
    small = PartitionedBloom.create(
        str(tmp_path / "store"), n_buckets=1, n_bits_per_bucket=n_bits, k=3,
        rnd=last - 1,
    )
    assert not small.add_keys(seen_prev.select("url_hash"), "url_hash", last - 1)

    resumed = CrawlEngine.resume(spark, str(tmp_path / "store"))
    assert resumed._bloom.round == last  # caught up, not stale
    # the catch-up saturated the bucket and grew it, as a round's fold does
    assert resumed._bloom.buckets[0]["n_added"] == n_all
    assert resumed._bloom.buckets[0]["n_bits"] > n_bits
    assert not resumed._bloom.saturated_buckets()
    # no false negatives after catch-up: every seen key is maybe-present
    new_def, _ = resumed._bloom.probe_split(
        resumed.seen().select("url_hash"), "url_hash", spark
    )
    assert new_def.count() == 0
    resumed.run()
    trace = [
        (r["round"], r["seq"], r["url_canon"], r["host"])
        for r in resumed.read_trace().orderBy("round", "seq").collect()
    ]
    assert trace == res.trace


# ------------------------------------------------ DELETE WHERE with NULLs


def test_delete_where_null_predicate_keeps_null_rows(spark, tmp_path):
    """Rows where the predicate evaluates to NULL are neither counted as
    matches nor dropped from the rewritten fragment (ADVICE r2, high)."""
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.IntegerType(), True),
        ]
    )
    store = SnapshotStore.create(str(tmp_path / "s"), {"t": "append"})
    pdf = pd.DataFrame(
        {"k": ["a", "b", "c", "d"], "v": [1, 10, None, 20]}
    ).astype({"v": "Int32"})
    df = spark.createDataFrame(pdf, schema)
    txn = store.transaction(0)
    txn.append("t", df)
    txn.commit()

    n = store.delete_where(spark, "t", schema, "v > 5", 1)
    assert n == 2  # b and d; NULL row never counted
    left = {
        (r["k"], r["v"]) for r in store.read(spark, "t", schema).collect()
    }
    assert left == {("a", 1), ("c", None)}  # NULL row RETAINED


def test_delete_where_symlinked_store_root(spark, tmp_path):
    """A store opened through a symlink (or any path whose textual form
    differs from input_file_name()'s resolved file:// URI) still maps
    matched files back onto fragments (ADVICE r2, low): the delete really
    rewrites, instead of committing nothing while reporting
    n_deleted > 0."""
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.IntegerType(), True),
        ]
    )
    real = tmp_path / "real-store-dir"
    real.mkdir()
    link = tmp_path / "link-to-store"
    os.symlink(str(real), str(link))
    store = SnapshotStore.create(str(link), {"t": "append"})
    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "b"], "v": [1, 10]}).astype({"v": "Int32"}),
        schema,
    )
    txn = store.transaction(0)
    txn.append("t", df)
    txn.commit()
    n = store.delete_where(spark, "t", schema, "v > 5", 1)
    assert n == 1
    left = {(r["k"], r["v"]) for r in store.read(spark, "t", schema).collect()}
    assert left == {("a", 1)}


def test_delete_where_store_root_with_space(spark, tmp_path):
    """input_file_name() returns a percent-encoded file:// URI; a store
    root containing a space must still match (unquote before comparing)."""
    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.IntegerType(), True),
        ]
    )
    store = SnapshotStore.create(str(tmp_path / "st ore"), {"t": "append"})
    df = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "b"], "v": [1, 10]}).astype({"v": "Int32"}),
        schema,
    )
    txn = store.transaction(0)
    txn.append("t", df)
    txn.commit()
    n = store.delete_where(spark, "t", schema, "v > 5", 1)
    assert n == 1
    left = {(r["k"], r["v"]) for r in store.read(spark, "t", schema).collect()}
    assert left == {("a", 1)}


# ------------------------------------------------ legacy bloom snapshot


def test_bloom_load_estimates_n_added_for_legacy_snapshot(tmp_path):
    """Snapshots saved before the n_added field must still trip
    should_grow() near saturation (ADVICE r2, low): estimate the count
    from the bitmap instead of defaulting to 0."""
    rng = np.random.default_rng(5)
    bf = BloomFilter(n_bits=1 << 10, k=5)
    bf.add_many(rng.integers(-(2**62), 2**62, size=2_000, dtype=np.int64))
    assert bf.should_grow()
    legacy = str(tmp_path / "legacy.npz")
    np.savez(legacy, words=bf.words, n_bits=bf.n_bits, k=bf.k)  # no n_added
    loaded = BloomFilter.load(legacy)
    assert loaded.n_added > 0
    assert loaded.should_grow()


# ------------------------------------------------ capacity-driven sizing


def test_buckets_for_scales_with_expected_keys():
    """The bucket-count default follows the module docstring's sizing
    table: ~1.2 bytes/URL at fpr 0.01, one bucket's bitmap capped at a
    single task's working size, floor 64."""
    from ethereum_raw_data_crawler_spark.operators.bloom import PartitionedBloom

    assert PartitionedBloom.buckets_for(10**6) == 64
    assert PartitionedBloom.buckets_for(10**9) == 64
    assert PartitionedBloom.buckets_for(10**10) == 90
    assert PartitionedBloom.buckets_for(10**11) == 893
    # a bucket file never exceeds the target
    for n in (10**9, 10**10, 10**11):
        b = PartitionedBloom.buckets_for(n)
        per_bucket_bytes = n * 9.585 / 8 / b
        assert per_bucket_bytes <= (128 << 20) + 1


def test_engine_create_defaults_buckets_from_expected_keys(
    spark, t1_tables, tmp_path
):
    """CrawlEngine.create sizes the partitioned Bloom from the declared
    design capacity instead of a flat 64."""
    from ethereum_raw_data_crawler_spark.config import CrawlConfig
    from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine

    tabs = t1_tables
    eng = CrawlEngine.create(
        spark,
        str(tmp_path / "store"),
        spark.createDataFrame(tabs["pages"]),
        spark.createDataFrame(tabs["seeds"]),
        spark.createDataFrame(tabs["robots"]),
        spark.createDataFrame(tabs["politeness"]),
        None,
        CrawlConfig(batch_size=10),
        expected_keys=10**10,
    )
    assert eng.bloom_buckets == 90
    assert eng._bloom.n_buckets == 90
    # an explicit bloom_buckets always wins over the derivation
    eng2 = CrawlEngine.create(
        spark,
        str(tmp_path / "store2"),
        spark.createDataFrame(tabs["pages"]),
        spark.createDataFrame(tabs["seeds"]),
        spark.createDataFrame(tabs["robots"]),
        spark.createDataFrame(tabs["politeness"]),
        None,
        CrawlConfig(batch_size=10),
        expected_keys=10**10,
        bloom_buckets=8,
    )
    assert eng2._bloom.n_buckets == 8
