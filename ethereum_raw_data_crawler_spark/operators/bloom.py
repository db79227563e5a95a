"""Partitioned Bloom prefilter for the URL-seen set.

The reference dedups with a MongoDB unique index plus a
find-before-insert (reference: mongodb.go:86-92,111-115;
crawler_service.go:433-457 — a read-modify-write race tolerated via
duplicate-key-is-success). Set-based recast: new candidates are
anti-joined against the ``seen`` table BEFORE fetch. At 10^10 URLs that
anti-join shuffles every candidate against a 10^10-row build side each
round; the Bloom bitmap kills the common case (candidate definitely
unseen) map-side with zero shuffle — only maybe-seen candidates reach
the exact anti-join backstop, so the filter is correctness-neutral
(no false negatives by construction; FPR only costs extra join work).

Scale design (SURVEY §Phase 3): the bitmap is PARTITIONED by
``url_hash`` bucket — one immutable bitmap file per bucket beside the
snapshot manifest, referenced by a versioned meta JSON (same
atomic-swap protocol as the table manifests). Maintenance:

  * per-round OR-in of the new seen fragment: one fold over an int64 key
    array groups the keys by bucket, ORs each bucket's keys into its
    prior bitmap file and writes a new immutable file (an LSM-style
    merge). While the whole filter fits ``BROADCAST_MAX_BYTES`` (the
    regime in which the probe already loads every bucket on the driver)
    and the keys fit ``DRIVER_COLLECT_MAX_ROWS``, the fold runs on the
    driver: no Spark job, just the touched buckets' files. Otherwise the
    keys repartition by bucket and each task runs the same fold over ITS
    buckets, so a 10^10-key filter never materializes on the driver;
  * growth is per-bucket: a saturated bucket is rebuilt alone, from the
    seen table filtered to that bucket, at its next size (always the
    bucket-aligned Spark job);
  * probe: small total bitmaps broadcast (exactly the current local
    regime); past ``BROADCAST_MAX_BYTES`` the candidates repartition by
    bucket and each task loads only the bitmap files of the buckets it
    holds — a 10^10-key / ~12 GB seen-set never materializes on the
    driver and never broadcasts.

Sizing math (why the defaults scale; see ``buckets_for``). At FPR p the
optimal bitmap spends ``-ln(p)/ln(2)^2`` bits per key — **9.59 bits ≈
1.2 bytes per URL at the default p = 0.01** (k = 7 probes). Total
bitmap bytes and the bucket count that keeps any ONE bucket's file
comfortably inside a single task's memory (128 MB target):

    expected keys   total bitmap   buckets (>= 64 floor)   bytes/bucket
    10^6            1.2 MB         64                      ~19 KB
    10^8            120 MB         64                      ~1.9 MB
    10^9            1.2 GB         64                      ~19 MB
    10^10           12 GB          90                      128 MB
    10^11           120 GB         893                     128 MB

``CrawlEngine.create`` defaults ``bloom_buckets`` from ``expected_keys``
(seeds × a 16× discovery-growth allowance when not given) via exactly
this table, so a 10^10-URL deployment starts with ~94 buckets instead
of 64 oversized ones. The bucket count is FIXED for the store's
lifetime (the bucket of a key must never change or probes would read
the wrong bitmap); headroom beyond the estimate comes from per-bucket
GROWTH — a saturated bucket rebuilds alone at the next power-of-two
size — so an estimate that is low by even 100× degrades into larger
per-bucket files (amortized rebuilds), never into false negatives.

Vectorized numpy throughout (Arrow batches in mapInPandas — no per-row
Python).
"""

from __future__ import annotations

import functools
import json
import math
import os
import uuid
from typing import Iterator

import numpy as np
import pandas as pd

from ethereum_raw_data_crawler_spark.config import DRIVER_COLLECT_MAX_ROWS


def _mix(h: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64 finalizer over uint64 — k independent hash functions via
    salting. All arithmetic is intentionally mod 2^64 (vectorized, wraparound
    is the algorithm, so overflow warnings are suppressed)."""
    offset = np.uint64((salt * 0x9E3779B97F4A7C15) % (1 << 64))
    with np.errstate(over="ignore"):
        z = (h + offset).astype(np.uint64)
        z ^= z >> np.uint64(30)
        z *= np.uint64(0xBF58476D1CE4E5B9)
        z ^= z >> np.uint64(27)
        z *= np.uint64(0x94D049BB133111EB)
        z ^= z >> np.uint64(31)
    return z


_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint16)


def _bit_positions(keys: np.ndarray, k: int, n_bits: int) -> np.ndarray:
    h = keys.astype(np.int64).view(np.uint64)
    return np.stack([_mix(h, i + 1) % np.uint64(n_bits) for i in range(k)])


def bitmap_add(words: np.ndarray, keys: np.ndarray, k: int, n_bits: int) -> None:
    if len(keys) == 0:
        return
    pos = _bit_positions(np.asarray(keys), k, n_bits).ravel()
    np.bitwise_or.at(
        words, pos >> np.uint64(6), np.uint64(1) << (pos & np.uint64(63))
    )


def bitmap_contains(
    words: np.ndarray, keys: np.ndarray, k: int, n_bits: int
) -> np.ndarray:
    """Boolean mask: True = maybe present, False = definitely absent."""
    if len(keys) == 0:
        return np.zeros(0, dtype=bool)
    pos = _bit_positions(np.asarray(keys), k, n_bits)
    hit = (words[pos >> np.uint64(6)] >> (pos & np.uint64(63))) & np.uint64(1)
    return hit.all(axis=0).astype(bool)


def _optimal_m_k(expected_keys: int, fpr: float) -> tuple[int, int]:
    """n_bits = -n*ln(p)/ln(2)^2 rounded to a word, k = m/n*ln2."""
    n = max(int(expected_keys), 1024)
    m = int(-n * math.log(fpr) / (math.log(2) ** 2))
    m = ((m + 63) // 64) * 64
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _capacity(n_bits: int, k: int) -> int:
    """Keys at which the set-bit fraction reaches ~0.5 (the classic
    design point: FPR ≈ 0.5^k there)."""
    return int(n_bits * math.log(2) / k)


def fits_driver(filt, bits: int) -> bool:
    """The one driver-residency test of a partitioned filter: ``bits`` of
    filter fit ``filt.BROADCAST_MAX_BYTES``. ``probe_split`` broadcasts
    when the materialized buckets fit; ``add_keys``/``delete_keys`` fold
    on the driver when the whole filter (``full_bits``) does."""
    return bits // 8 <= filt.BROADCAST_MAX_BYTES


def driver_keys(filt, keys, key_col: str) -> np.ndarray | None:
    """The int64 keys to fold on the driver, or None for the
    bucket-aligned Spark job: the filter must fit the driver and the keys
    ``DRIVER_COLLECT_MAX_ROWS``. An array the caller holds is taken as
    is; a DataFrame costs one ``limit(bound + 1)`` Arrow collect of
    ``key_col``."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    if not fits_driver(filt, filt.full_bits):
        return None
    if isinstance(keys, DataFrame):
        keys = (
            keys.select(F.col(key_col).cast("long").alias("_key"))
            .limit(DRIVER_COLLECT_MAX_ROWS + 1)
            .toPandas()["_key"]
        )
    arr = np.asarray(keys, dtype=np.int64)
    return arr if len(arr) <= DRIVER_COLLECT_MAX_ROWS else None


def keys_frame(keys, key_col: str):
    """``keys`` as a one-column DataFrame for the Spark job path (an array
    the caller holds is shipped once through the active session)."""
    from pyspark.sql import DataFrame, SparkSession

    if isinstance(keys, DataFrame):
        return keys
    return SparkSession.getActiveSession().createDataFrame(
        pd.DataFrame({key_col: np.asarray(keys, dtype=np.int64)})
    )


def by_bucket(keys: np.ndarray, n_buckets: int) -> Iterator[tuple[int, np.ndarray]]:
    """(bucket, keys) groups of an int64 key array, ``pmod(key, n)``
    bucketing; keys keep their input order within a bucket (cuckoo
    placement depends on it)."""
    if not len(keys):
        return
    bks = np.mod(keys, n_buckets)
    order = np.argsort(bks, kind="stable")
    bks, keys = bks[order], keys[order]
    starts = np.flatnonzero(np.r_[True, bks[1:] != bks[:-1]])
    for lo, hi in zip(starts, np.r_[starts[1:], len(keys)]):
        yield int(bks[lo]), keys[lo:hi]


def _fold_buckets(
    keys: np.ndarray,
    n_buckets: int,
    bloom_dir: str,
    rnd: int,
    prior: dict[int, tuple[str | None, int, int]],
    default_mk: tuple[int, int],
    merge_prior: bool,
    sizes: dict[int, tuple[int, int]],
) -> list[tuple[int, str, int, int, int]]:
    """Fold int64 keys into their buckets' bitmaps: per touched bucket,
    OR the keys into the prior file (``merge_prior``) or a fresh bitmap
    (sized by ``sizes`` when listed) and write a new immutable file.
    Returns (bucket, file, n_bits, k, added) rows. The same function runs
    on the driver and inside each task of the bucket-aligned job."""
    rows = []
    for b, bkeys in by_bucket(keys, n_buckets):
        if b in sizes:
            m, k = sizes[b]
            words = np.zeros(m // 64, dtype=np.uint64)
        else:
            file, m, k = prior.get(b, (None, *default_mk))
            if merge_prior and file is not None:
                words = np.load(os.path.join(bloom_dir, file))
            else:
                words = np.zeros(m // 64, dtype=np.uint64)
        bitmap_add(words, bkeys, k, m)
        fname = f"b{b:05d}-r{rnd}-{uuid.uuid4().hex[:8]}.npy"
        np.save(os.path.join(bloom_dir, fname), words)
        rows.append((b, fname, m, k, len(bkeys)))
    return rows


def run_fold_job(
    keys_df,
    key_col: str,
    n_buckets: int,
    fold,
    out_schema,
    bucket_filter: list[int] | None = None,
) -> list[tuple]:
    """The bucket-aligned Spark job shared by both partitioned filters:
    repartition keys by ``pmod(key, n_buckets)`` and run ``fold`` (an
    int64-array -> stat-rows function) over each task's keys. Only the
    stat rows reach the driver."""
    from pyspark.sql import functions as F

    columns = out_schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = [pdf["_key"].to_numpy(dtype=np.int64) for pdf in batches]
        rows = fold(np.concatenate(chunks)) if chunks else []
        if rows:
            yield pd.DataFrame(rows, columns=columns)

    bucket = F.pmod(F.col("_key"), F.lit(n_buckets))
    keyed = keys_df.select(F.col(key_col).cast("long").alias("_key"))
    if bucket_filter is not None:
        keyed = keyed.where(bucket.isin([int(b) for b in bucket_filter]))
    aligned = keyed.repartition(n_buckets, bucket)
    return [tuple(r) for r in aligned.mapInPandas(run, out_schema).collect()]


class BloomFilter:
    """Plain in-memory bit-array Bloom filter over int64 keys
    (numpy-vectorized). The single-bitmap building block; the engine's
    seen-set uses :class:`PartitionedBloom` (one of these per bucket,
    at rest)."""

    def __init__(self, n_bits: int = 1 << 23, k: int = 5) -> None:
        assert n_bits % 64 == 0
        self.n_bits = n_bits
        self.k = k
        self.words = np.zeros(n_bits // 64, dtype=np.uint64)
        self.n_added = 0

    @classmethod
    def sized_for(cls, expected_keys: int, fpr: float = 0.01) -> "BloomFilter":
        m, k = _optimal_m_k(expected_keys, fpr)
        return cls(n_bits=m, k=k)

    @property
    def capacity(self) -> int:
        return _capacity(self.n_bits, self.k)

    def saturation(self) -> float:
        """Fraction of set bits — the live FPR estimate is saturation^k."""
        set_bits = int(_POPCOUNT8[self.words.view(np.uint8)].sum(dtype=np.int64))
        return set_bits / self.n_bits

    def should_grow(self) -> bool:
        return self.n_added > self.capacity

    def add_many(self, keys: np.ndarray) -> None:
        bitmap_add(self.words, keys, self.k, self.n_bits)
        self.n_added += len(keys)

    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        return bitmap_contains(self.words, keys, self.k, self.n_bits)

    # -- persistence ---------------------------------------------------------
    def save(self, path: str) -> None:
        np.savez(
            path, words=self.words, n_bits=self.n_bits, k=self.k, n_added=self.n_added
        )

    @classmethod
    def load(cls, path: str) -> "BloomFilter":
        z = np.load(path)
        bf = cls(int(z["n_bits"]), int(z["k"]))
        bf.words = z["words"]
        if "n_added" in z:
            bf.n_added = int(z["n_added"])
        else:
            # legacy snapshot without the counter: estimate from the bitmap
            # (n ≈ -m/k · ln(1 - saturation)) so should_grow() still trips
            # for an already-near-saturation filter instead of never
            sat = bf.saturation()
            bf.n_added = (
                bf.capacity + 1
                if sat >= 0.99
                else int(-bf.n_bits / bf.k * math.log(max(1.0 - sat, 1e-12)))
            )
        return bf


class PartitionedBloom:
    """Per-``url_hash``-bucket Bloom bitmaps at rest.

    Layout under ``<store_root>/bloom/``: immutable ``b{bucket}-*.npy``
    word arrays plus ``meta-{round:06d}.json`` mapping bucket ->
    (file, n_bits, k, n_added). The meta is the commit point (temp file
    + ``os.replace``, same as the table manifests): a crash mid-update
    leaves orphan bitmap files and the previous meta — consistent.
    A bucket with no meta entry is an empty bitmap (definitely-absent).

    The bucket of a key is ``pmod(key, n_buckets)`` — computable
    identically JVM-side (``F.pmod``) and in numpy (``np.mod``), so the
    add/grow/probe jobs can repartition candidates to colocate each
    bucket's keys with the one task that touches its bitmap file.
    """

    #: probe broadcasts the whole bucket dict below this total bitmap size;
    #: above it, candidates repartition by bucket and tasks load only their
    #: buckets' files (the 100-TB path — nothing driver-resident)
    BROADCAST_MAX_BYTES = 64 << 20

    def __init__(self, store_root: str) -> None:
        self.dir = os.path.join(store_root, "bloom")
        self.n_buckets: int = 0
        self.round: int = -1
        self.fpr: float = 0.01
        self.default_n_bits: int = 1 << 17
        self.default_k: int = 5
        #: bucket -> {"file": str|None, "n_bits": int, "k": int, "n_added": int}
        self.buckets: dict[int, dict] = {}

    # ---- construction / persistence ----------------------------------------
    @classmethod
    def create(
        cls,
        store_root: str,
        n_buckets: int = 64,
        expected_keys: int | None = None,
        fpr: float = 0.01,
        rnd: int = -1,
        n_bits_per_bucket: int | None = None,
        k: int | None = None,
    ) -> "PartitionedBloom":
        pb = cls(store_root)
        pb.n_buckets = n_buckets
        pb.fpr = fpr
        if n_bits_per_bucket is not None:
            pb.default_n_bits, pb.default_k = n_bits_per_bucket, k or 5
        elif expected_keys is not None:
            pb.default_n_bits, pb.default_k = _optimal_m_k(
                max(expected_keys // n_buckets, 1024), fpr
            )
        os.makedirs(pb.dir, exist_ok=True)
        pb._write_meta(rnd)
        return pb

    @staticmethod
    def buckets_for(
        expected_keys: int,
        fpr: float = 0.01,
        target_bucket_bytes: int = 128 << 20,
    ) -> int:
        """Bucket count for a design capacity: enough buckets that one
        bucket's bitmap (at ``-ln(fpr)/ln(2)^2`` bits/key) stays within
        ``target_bucket_bytes`` — one task comfortably holds one bucket —
        with a floor of 64 for probe/repartition parallelism. See the
        module docstring's sizing table."""
        bits_per_key = -math.log(fpr) / (math.log(2) ** 2)
        total_bytes = expected_keys * bits_per_key / 8
        return max(64, math.ceil(total_bytes / target_bucket_bytes))

    @classmethod
    def latest_round(cls, store_root: str) -> int | None:
        d = os.path.join(store_root, "bloom")
        best = None
        if os.path.isdir(d):
            for f in os.listdir(d):
                if f.startswith("meta-") and f.endswith(".json"):
                    v = int(f[len("meta-") : -len(".json")])
                    best = v if best is None else max(best, v)
        return best

    @classmethod
    def load(cls, store_root: str, rnd: int) -> "PartitionedBloom":
        pb = cls(store_root)
        with open(os.path.join(pb.dir, f"meta-{rnd:06d}.json")) as fh:
            meta = json.load(fh)
        pb.n_buckets = meta["n_buckets"]
        pb.round = meta["round"]
        pb.fpr = meta["fpr"]
        pb.default_n_bits = meta["default_n_bits"]
        pb.default_k = meta["default_k"]
        pb.buckets = {int(b): e for b, e in meta["buckets"].items()}
        return pb

    def _write_meta(self, rnd: int) -> None:
        meta = {
            "round": rnd,
            "n_buckets": self.n_buckets,
            "fpr": self.fpr,
            "default_n_bits": self.default_n_bits,
            "default_k": self.default_k,
            "buckets": {str(b): e for b, e in self.buckets.items()},
        }
        tmp = os.path.join(self.dir, f".meta.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, os.path.join(self.dir, f"meta-{rnd:06d}.json"))
        self.round = rnd
        self._gc(keep=2)

    def _gc(self, keep: int = 2) -> None:
        """Drop meta files past the newest ``keep`` and any bitmap file no
        surviving meta references (superseded by later OR-ins/rebuilds)."""
        # numeric sort on the parsed round (the same parse latest_round
        # uses): lexicographic order breaks once the round number outgrows
        # the zero padding ("meta-1000000.json" < "meta-999999.json")
        metas = sorted(
            (
                f
                for f in os.listdir(self.dir)
                if f.startswith("meta-") and f.endswith(".json")
            ),
            key=lambda f: int(f[len("meta-") : -len(".json")]),
        )
        live: set[str] = set()
        for mf in metas[-keep:]:
            try:
                with open(os.path.join(self.dir, mf)) as fh:
                    m = json.load(fh)
                for e in m["buckets"].values():
                    if e.get("file"):
                        live.add(e["file"])
            except (OSError, json.JSONDecodeError):
                continue
        for f in os.listdir(self.dir):
            if f.startswith("meta-") and f not in metas[-keep:]:
                os.unlink(os.path.join(self.dir, f))
            elif f.startswith("b") and f.endswith(".npy") and f not in live:
                os.unlink(os.path.join(self.dir, f))

    # ---- derived stats -------------------------------------------------------
    @property
    def total_bits(self) -> int:
        """Bits across MATERIALIZED bucket bitmaps — what a broadcast
        would actually ship (empty buckets have no file)."""
        return sum(e["n_bits"] for e in self.buckets.values() if e.get("file"))

    @property
    def n_added_total(self) -> int:
        return sum(e["n_added"] for e in self.buckets.values())

    def estimated_saturation(self) -> float:
        """Bitmap-size-weighted mean of the analytic per-bucket set-bit
        fraction 1 - e^(-k·n/m) — no file IO, the health gauge."""
        if not self.buckets:
            return 0.0
        num = sum(
            (1.0 - math.exp(-e["k"] * e["n_added"] / e["n_bits"])) * e["n_bits"]
            for e in self.buckets.values()
        )
        return num / self.total_bits

    def saturated_buckets(self) -> list[int]:
        return [
            b
            for b, e in self.buckets.items()
            if e["n_added"] > _capacity(e["n_bits"], e["k"])
        ]

    @property
    def full_bits(self) -> int:
        """Bits once every bucket is materialized (empty buckets at the
        default size): the most a driver-side fold loads or allocates."""
        n_files = sum(1 for e in self.buckets.values() if e.get("file"))
        return self.total_bits + (self.n_buckets - n_files) * self.default_n_bits

    # ---- maintenance -------------------------------------------------------
    def _fold(
        self,
        keys,
        key_col: str,
        rnd: int,
        merge_prior: bool,
        sizes: dict[int, tuple[int, int]] | None = None,
        bucket_filter: list[int] | None = None,
    ) -> None:
        """Run :func:`_fold_buckets` — on the driver for an OR-in
        (``merge_prior``) when the filter and keys fit it (see
        :func:`driver_keys`), else as the bucket-aligned Spark job (always
        for a growth rebuild) — then record the new bucket files and
        commit the meta for ``rnd``."""
        from pyspark.sql import types as T

        fold = functools.partial(
            _fold_buckets,
            n_buckets=self.n_buckets,
            bloom_dir=self.dir,
            rnd=rnd,
            prior={
                int(b): (e.get("file"), int(e["n_bits"]), int(e["k"]))
                for b, e in self.buckets.items()
            },
            default_mk=(self.default_n_bits, self.default_k),
            merge_prior=merge_prior,
            sizes=sizes or {},
        )
        arr = driver_keys(self, keys, key_col) if merge_prior else None
        if arr is not None:
            stats = fold(arr)
        else:
            out_schema = T.StructType(
                [
                    T.StructField("bucket", T.IntegerType(), False),
                    T.StructField("file", T.StringType(), False),
                    T.StructField("n_bits", T.LongType(), False),
                    T.StructField("k", T.IntegerType(), False),
                    T.StructField("added", T.LongType(), False),
                ]
            )
            stats = run_fold_job(
                keys_frame(keys, key_col),
                key_col,
                self.n_buckets,
                fold,
                out_schema,
                bucket_filter,
            )
        for b, file, m, k, added in stats:
            if merge_prior and b in self.buckets:
                added += self.buckets[b]["n_added"]
            self.buckets[b] = {
                "file": file, "n_bits": int(m), "k": int(k), "n_added": int(added)
            }
        self._write_meta(rnd)

    def add_keys(self, keys, key_col: str, rnd: int) -> list[int]:
        """OR a round's new keys (a DataFrame with ``key_col``, or an int64
        array) into the bucket bitmaps — on the driver when the filter and
        the keys fit it, else one bucket-aligned Spark job. Commits a new
        meta for ``rnd`` and returns the buckets now past design
        capacity."""
        self._fold(keys, key_col, rnd, merge_prior=True)
        return self.saturated_buckets()

    def grow_buckets(
        self, all_keys_df, key_col: str, rnd: int, grow: list[int]
    ) -> None:
        """Per-bucket growth: rebuild ONLY the saturated buckets from the
        full seen set (filtered executor-side to those buckets), each at
        its next optimal size — the partitioned analogue of the old
        whole-bitmap rebuild, without touching the other buckets."""
        sizes = {
            int(b): _optimal_m_k(2 * self.buckets[b]["n_added"], self.fpr)
            for b in grow
        }
        self._fold(
            all_keys_df,
            key_col,
            rnd,
            merge_prior=False,
            sizes=sizes,
            bucket_filter=grow,
        )

    # ---- probe -----------------------------------------------------------------
    def probe_split(self, df, key_col: str, spark, scratch=None):
        """(definitely_new, maybe_seen) split of ``df`` on ``key_col``.

        Small filters broadcast the whole bucket dict (zero shuffle, the
        local/bench regime). Past ``BROADCAST_MAX_BYTES`` the candidates
        repartition by bucket so each task loads ONLY the bitmap files of
        the buckets it holds — bounded executor memory, zero driver
        residency (``last_probe_mode`` records which path ran, for the
        plan-hygiene tests)."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        B = self.n_buckets
        schema = T.StructType(
            list(df.schema.fields)
            + [T.StructField("_maybe_seen", T.BooleanType(), False)]
        )

        if fits_driver(self, self.total_bits):
            self.last_probe_mode = "broadcast"
            blobs = {
                b: (
                    np.load(os.path.join(self.dir, e["file"])),
                    int(e["n_bits"]),
                    int(e["k"]),
                )
                for b, e in self.buckets.items()
                if e.get("file")
            }
            bc = spark.sparkContext.broadcast(blobs)

            def tag(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    if not len(pdf):
                        continue
                    keys = pdf[key_col].to_numpy(dtype=np.int64)
                    bks = np.mod(keys, B)
                    mask = np.zeros(len(keys), dtype=bool)
                    for b in np.unique(bks):
                        entry = bc.value.get(int(b))
                        if entry is None:
                            continue  # empty bucket: definitely absent
                        sel = bks == b
                        words, m, k = entry
                        mask[sel] = bitmap_contains(words, keys[sel], k, m)
                    yield pdf.assign(_maybe_seen=mask)

            tagged = df.mapInPandas(tag, schema).cache()
        else:
            self.last_probe_mode = "aligned"
            bloom_dir = self.dir
            info = {
                int(b): (e["file"], int(e["n_bits"]), int(e["k"]))
                for b, e in self.buckets.items()
                if e.get("file")
            }

            def tag(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                cache: dict[int, np.ndarray] = {}
                for pdf in batches:
                    if not len(pdf):
                        continue
                    keys = pdf[key_col].to_numpy(dtype=np.int64)
                    bks = np.mod(keys, B)
                    mask = np.zeros(len(keys), dtype=bool)
                    for b in np.unique(bks):
                        entry = info.get(int(b))
                        if entry is None:
                            continue
                        fname, m, k = entry
                        if int(b) not in cache:
                            cache[int(b)] = np.load(os.path.join(bloom_dir, fname))
                        sel = bks == b
                        mask[sel] = bitmap_contains(cache[int(b)], keys[sel], k, m)
                    yield pdf.assign(_maybe_seen=mask)

            tagged = (
                df.repartition(B, F.pmod(F.col(key_col), F.lit(B)))
                .mapInPandas(tag, schema)
                .cache()
            )
        if scratch is not None:
            scratch.append(tagged)
        return (
            tagged.where(~tagged["_maybe_seen"]).drop("_maybe_seen"),
            tagged.where(tagged["_maybe_seen"]).drop("_maybe_seen"),
        )


def split_by_bloom(df, key_col: str, bloom, spark, scratch=None):
    """Split candidates into (definitely_new, maybe_seen) — mapInPandas,
    no row-Python. Only maybe_seen needs the exact anti-join backstop.

    ``bloom`` is any at-rest partitioned filter exposing ``probe_split``
    (:class:`PartitionedBloom` or the deletable
    :class:`~..operators.cuckoo.PartitionedCuckoo`) or a plain in-memory
    :class:`BloomFilter`/``CuckooFilter`` (broadcast whole — unit tests /
    ad-hoc use; both expose ``contains_many``). The tagged intermediate is
    CACHED (owned by ``scratch``): both returned branches read it, and
    without the cache each branch would re-execute the full upstream
    candidate pipeline."""
    if hasattr(bloom, "probe_split"):
        return bloom.probe_split(df, key_col, spark, scratch=scratch)

    from pyspark.sql import types as T

    bc = spark.sparkContext.broadcast(bloom)
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField("_maybe_seen", T.BooleanType(), False)]
    )

    def tag(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mask = bc.value.contains_many(pdf[key_col].to_numpy(dtype=np.int64))
            yield pdf.assign(_maybe_seen=mask)

    tagged = df.mapInPandas(tag, schema).cache()
    if scratch is not None:
        scratch.append(tagged)
    return (
        tagged.where(~tagged["_maybe_seen"]).drop("_maybe_seen"),
        tagged.where(tagged["_maybe_seen"]).drop("_maybe_seen"),
    )
