"""Partitioned cuckoo-filter alternative for the URL-seen set.

The north-star design names a "bloom/cuckoo URL-seen" prefilter; the
engine's default is the partitioned Bloom (operators/bloom.py). This is
the cuckoo twin, and it buys exactly one semantic the Bloom cannot
offer at any size: **deletion**. A Bloom bit, once set, is set forever —
after a takedown or content-expiry "forget", the seen TABLE row is
deleted (the anti-join backstop stays correct) but the filter keeps
answering maybe-seen, so every future re-discovery of that URL pays the
exact anti-join slow path. On a long-running crawl with recrawl/TTL
churn the over-approximation only grows. A cuckoo filter stores
displaceable fingerprints, so ``delete_keys`` genuinely unlearns and a
forgotten URL goes back to the zero-shuffle definitely-new fast path.

Reference correspondence: the reference's only "unlearn" is the row
delete itself (DeleteBlock / DeleteTransactionsByBlockHash,
block_repository_impl.go:264-268) because its dedup is a MongoDB unique
index — the index shrinks with the row. A bitmap prefilter loses that
property; the cuckoo filter restores it at 100-TB scale.

Cost model vs the Bloom (documented trade, not hidden): 16-bit
fingerprints x 4-slot buckets at a 0.90 design load factor spend
~17.8 bits/key (Bloom at FPR 0.01: 9.59) for an FPR of
``2·slots/2^16 ≈ 1.2e-4`` — ~80x fewer false positives AND deletability,
for ~1.9x the bytes. Sizing table (same 128 MB/bucket target as
``PartitionedBloom.buckets_for``):

    expected keys   total filter   buckets (>= 64 floor)
    10^8            223 MB         64
    10^10           22.3 GB        167
    10^11           223 GB         1662

Partial-key cuckoo hashing (Fan et al., CoNEXT'14, public): fingerprint
``fp = mix(h) -> 1..65535``; candidate buckets ``i1 = mix(h) & (nb-1)``
and ``i2 = i1 ^ (mix(fp) & (nb-1))`` — the xor makes relocation possible
knowing only (i, fp). Inserts are batch-vectorized (numpy group-place by
target bucket, two passes), with a deterministic eviction walk only for
the rare overflow keys and a bounded stash behind that. Resize cannot be
done from fingerprints alone (the upper hash bits are gone), so growth =
per-bucket rebuild from the seen table — the same ground-truth-rebuild
protocol ``PartitionedBloom.grow_buckets`` uses.

Maintenance mirrors operators/bloom.py: add/delete is one function over
an int64 key array (group by bucket, load the prior filter file, apply,
write a new immutable file), run on the driver while the whole filter
fits ``BROADCAST_MAX_BYTES`` and the keys fit ``DRIVER_COLLECT_MAX_ROWS``,
else inside the tasks of a bucket-aligned Spark job (mapInPandas over
Arrow batches, no per-row Python). Growth is always that job.
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

from ethereum_raw_data_crawler_spark.operators.bloom import (
    _mix,
    by_bucket,
    driver_keys,
    fits_driver,
    keys_frame,
    run_fold_job,
)

_SLOTS = 4
_DESIGN_LOAD = 0.90  # rebuild trigger; 4-slot cuckoo fills to ~0.95
_STASH_MAX = 4096


def _fingerprints(keys: np.ndarray) -> np.ndarray:
    """16-bit nonzero fingerprint per int64 key (0 marks an empty slot)."""
    h = np.asarray(keys).astype(np.int64).view(np.uint64)
    return (_mix(h, 101) % np.uint64(65535) + np.uint64(1)).astype(np.uint16)


def _alt_offset(fps: np.ndarray, nb: int) -> np.ndarray:
    """The xor partner: i2 = i1 ^ _alt_offset(fp). Pure function of the
    fingerprint so relocation works without the original key."""
    return (_mix(fps.astype(np.uint64), 202) & np.uint64(nb - 1)).astype(np.int64)


class CuckooFilter:
    """In-memory partial-key cuckoo filter over int64 keys.

    ``table`` is (nb, 4) uint16 (0 = empty); ``stash`` is a tiny (n, 2)
    int64 array of (bucket, fp) overflow entries checked by every probe.
    All batch ops are numpy-vectorized; the eviction walk (rare) is a
    bounded per-key loop with a DETERMINISTIC kick schedule so two runs
    over the same insert order produce byte-identical filters.
    """

    def __init__(self, nb: int = 1 << 12) -> None:
        assert nb & (nb - 1) == 0, "bucket count must be a power of two"
        self.nb = nb
        self.table = np.zeros((nb, _SLOTS), dtype=np.uint16)
        self.stash = np.zeros((0, 2), dtype=np.int64)
        self.n_added = 0

    @classmethod
    def sized_for(cls, expected_keys: int) -> "CuckooFilter":
        nb = 1 << max(4, math.ceil(math.log2(max(expected_keys, 64) / (_SLOTS * _DESIGN_LOAD))))
        return cls(nb=nb)

    @property
    def capacity(self) -> int:
        return int(self.nb * _SLOTS * _DESIGN_LOAD)

    def should_grow(self) -> bool:
        return self.n_added > self.capacity or len(self.stash) > _STASH_MAX // 2

    def saturation(self) -> float:
        return self.n_added / (self.nb * _SLOTS)

    # -- hashing ---------------------------------------------------------------
    def _slots_for(self, keys: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        h = np.asarray(keys).astype(np.int64).view(np.uint64)
        fps = _fingerprints(keys)
        i1 = (_mix(h, 1) & np.uint64(self.nb - 1)).astype(np.int64)
        i2 = i1 ^ _alt_offset(fps, self.nb)
        return fps, i1, i2

    # -- insert ------------------------------------------------------------------
    def _place_pass(self, target: np.ndarray, fps: np.ndarray) -> np.ndarray:
        """Vectorized group-place: claim free slots of ``target[i]`` for as
        many keys as fit (intra-batch conflicts resolved by rank within
        bucket). Returns the boolean placed mask."""
        placed = np.zeros(len(target), dtype=bool)
        if not len(target):
            return placed
        order = np.argsort(target, kind="stable")
        t_sorted = target[order]
        # rank of each key within its target-bucket group
        starts = np.flatnonzero(np.r_[True, t_sorted[1:] != t_sorted[:-1]])
        group_id = np.cumsum(np.r_[True, t_sorted[1:] != t_sorted[:-1]]) - 1
        rank = np.arange(len(t_sorted)) - starts[group_id]
        ub = t_sorted[starts]
        free_mask = self.table[ub] == 0  # (U, 4)
        free_count = free_mask.sum(axis=1)
        ok = rank < free_count[group_id]
        # the rank-th free slot of each bucket: free slots sort first
        slot_order = np.argsort(~free_mask, axis=1, kind="stable")  # (U, 4)
        sel = order[ok]
        slots = slot_order[group_id[ok], rank[ok]]
        self.table[target[sel], slots] = fps[sel]
        placed[sel] = True
        return placed

    def _evict_insert(self, i: int, fp: int, max_kicks: int = 500) -> None:
        """Deterministic eviction walk for one overflow entry; lands in the
        stash if the walk fails (bounded; ``should_grow`` trips long
        before the stash cap under the design load factor)."""
        for kick in range(max_kicks):
            row = self.table[i]
            free = np.flatnonzero(row == 0)
            if len(free):
                self.table[i, free[0]] = fp
                return
            slot = kick % _SLOTS  # deterministic kick schedule
            victim = int(row[slot])
            self.table[i, slot] = fp
            fp = victim
            i = i ^ int(_alt_offset(np.array([fp], dtype=np.uint16), self.nb)[0])
        if len(self.stash) >= _STASH_MAX:
            raise RuntimeError(
                "cuckoo filter over capacity (stash full) — grow was not "
                f"applied: n_added={self.n_added} nb={self.nb}"
            )
        self.stash = np.vstack([self.stash, np.array([[i, fp]], dtype=np.int64)])

    def add_many(self, keys: np.ndarray) -> None:
        keys = np.asarray(keys, dtype=np.int64)
        if not len(keys):
            return
        fps, i1, i2 = self._slots_for(keys)
        placed = self._place_pass(i1, fps)
        rem = ~placed
        if rem.any():
            placed2 = np.zeros(len(keys), dtype=bool)
            placed2[rem] = self._place_pass(i2[rem], fps[rem])
            rem &= ~placed2
        for j in np.flatnonzero(rem):  # rare: both candidate buckets full
            self._evict_insert(int(i1[j]), int(fps[j]))
        self.n_added += len(keys)

    # -- probe -------------------------------------------------------------------
    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        keys = np.asarray(keys, dtype=np.int64)
        if not len(keys):
            return np.zeros(0, dtype=bool)
        fps, i1, i2 = self._slots_for(keys)
        f16 = fps[:, None]
        hit = (self.table[i1] == f16).any(axis=1) | (self.table[i2] == f16).any(axis=1)
        for b, fp in self.stash:  # stash is tiny (<= _STASH_MAX)
            hit |= (fps == np.uint16(fp)) & ((i1 == b) | (i2 == b))
        return hit

    # -- delete ------------------------------------------------------------------
    def delete_many(self, keys: np.ndarray) -> int:
        """Remove ONE stored fingerprint per key occurrence (standard
        cuckoo semantics: delete what was inserted). Vectorized with a
        collision-retry loop: when two batch keys resolve to the same
        physical slot, only the first clears it and the rest retry against
        the updated table. Returns the number actually removed."""
        keys = np.asarray(keys, dtype=np.int64)
        removed = 0
        pending = keys
        while len(pending):
            fps, i1, i2 = self._slots_for(pending)
            f16 = fps[:, None]
            m1 = self.table[i1] == f16
            m2 = self.table[i2] == f16
            has1, has2 = m1.any(axis=1), m2.any(axis=1)
            found = has1 | has2
            # stash fallback for keys with no table hit (stash is tiny)
            for j in np.flatnonzero(~found):
                hit = np.flatnonzero(
                    (self.stash[:, 1] == int(fps[j]))
                    & ((self.stash[:, 0] == i1[j]) | (self.stash[:, 0] == i2[j]))
                )
                if len(hit):
                    self.stash = np.delete(self.stash, hit[0], axis=0)
                    removed += 1
            if not found.any():
                break
            bucket = np.where(has1, i1, i2)
            slot = np.where(has1, m1.argmax(axis=1), m2.argmax(axis=1))
            found_idx = np.flatnonzero(found)
            # first occurrence per physical slot wins; the rest retry
            # against the updated table (their key may have a second copy)
            lin = bucket[found_idx] * _SLOTS + slot[found_idx]
            _, first = np.unique(lin, return_index=True)
            winners = found_idx[first]
            self.table[bucket[winners], slot[winners]] = 0
            removed += len(winners)
            losers = np.setdiff1d(found_idx, winners)
            pending = pending[losers]
        self.n_added = max(0, self.n_added - removed)
        return removed

    # -- persistence ---------------------------------------------------------
    def save(self, path: str) -> None:
        np.savez(path, table=self.table, stash=self.stash, n_added=self.n_added)

    @classmethod
    def load(cls, path: str) -> "CuckooFilter":
        z = np.load(path)
        cf = cls(int(z["table"].shape[0]))
        cf.table = z["table"]
        cf.stash = z["stash"]
        cf.n_added = int(z["n_added"])
        return cf


def _apply_buckets(
    keys: np.ndarray,
    n_buckets: int,
    cdir: str,
    rnd: int,
    op: str,
    prior: dict[int, str],
    default_nb: int,
    sizes: dict[int, int],
) -> list[tuple[int, str, int, int, int]]:
    """Apply ``op`` ("add" | "delete" | "rebuild") to int64 keys, bucket
    by bucket: load the prior filter file (a fresh table, sized by
    ``sizes`` when listed, for "rebuild"), apply, write a new immutable
    file. Returns (bucket, file, nb, n_added, applied) rows. The same
    function runs on the driver and inside each task of the
    bucket-aligned job."""
    rows = []
    for b, bkeys in by_bucket(keys, n_buckets):
        if op == "rebuild":
            cf = CuckooFilter(sizes.get(b, default_nb))
        elif b in prior:
            cf = CuckooFilter.load(os.path.join(cdir, prior[b]))
        else:
            cf = CuckooFilter(default_nb)
        if op == "delete":
            applied = cf.delete_many(bkeys)
        else:
            cf.add_many(bkeys)
            applied = len(bkeys)
        fname = f"c{b:05d}-r{rnd}-{uuid.uuid4().hex[:8]}.npz"
        cf.save(os.path.join(cdir, fname))
        rows.append((b, fname, cf.nb, cf.n_added, applied))
    return rows


class PartitionedCuckoo:
    """Per-``url_hash``-bucket cuckoo filters at rest — the deletable twin
    of :class:`~..operators.bloom.PartitionedBloom`, same layout and
    commit protocol so the engine can swap one for the other via config:

      * ``<store_root>/cuckoo/c{bucket}-*.npz`` immutable filter files +
        ``meta-{round:06d}.json`` (temp-file + ``os.replace`` commit, GC
        keeps the newest 2 metas and only files they reference);
      * key -> bucket is ``pmod(key, n_buckets)``, identical JVM-side and
        in numpy, so add/delete/probe jobs colocate each bucket's keys
        with the one task touching its file;
      * growth is per-bucket rebuild from the seen TABLE (ground truth) —
        fingerprints alone cannot be rehashed to a larger table;
      * NEW vs the Bloom: :meth:`delete_keys` — the takedown/recrawl
        unlearn path.
    """

    BROADCAST_MAX_BYTES = 64 << 20

    def __init__(self, store_root: str) -> None:
        self.dir = os.path.join(store_root, "cuckoo")
        self.n_buckets: int = 0
        self.round: int = -1
        self.default_nb: int = 1 << 12
        #: bucket -> {"file": str, "nb": int, "n_added": int}
        self.buckets: dict[int, dict] = {}

    # ---- construction / persistence ----------------------------------------
    @classmethod
    def create(
        cls,
        store_root: str,
        n_buckets: int = 64,
        expected_keys: int | None = None,
        rnd: int = -1,
        **_: object,
    ) -> "PartitionedCuckoo":
        pc = cls(store_root)
        pc.n_buckets = n_buckets
        if expected_keys is not None:
            pc.default_nb = CuckooFilter.sized_for(
                max(expected_keys // n_buckets, 1024)
            ).nb
        os.makedirs(pc.dir, exist_ok=True)
        pc._write_meta(rnd)
        return pc

    @staticmethod
    def buckets_for(
        expected_keys: int, target_bucket_bytes: int = 128 << 20
    ) -> int:
        """Bucket count keeping one bucket's filter file inside a task
        (16-bit x 4-slot at the design load ≈ 17.8 bits/key), floor 64."""
        total_bytes = expected_keys * (16 / _DESIGN_LOAD) / 8
        return max(64, math.ceil(total_bytes / target_bucket_bytes))

    @classmethod
    def latest_round(cls, store_root: str) -> int | None:
        d = os.path.join(store_root, "cuckoo")
        best = None
        if os.path.isdir(d):
            for f in os.listdir(d):
                if f.startswith("meta-") and f.endswith(".json"):
                    v = int(f[len("meta-") : -len(".json")])
                    best = v if best is None else max(best, v)
        return best

    @classmethod
    def load(cls, store_root: str, rnd: int) -> "PartitionedCuckoo":
        pc = cls(store_root)
        with open(os.path.join(pc.dir, f"meta-{rnd:06d}.json")) as fh:
            meta = json.load(fh)
        pc.n_buckets = meta["n_buckets"]
        pc.round = meta["round"]
        pc.default_nb = meta["default_nb"]
        pc.buckets = {int(b): e for b, e in meta["buckets"].items()}
        return pc

    def _write_meta(self, rnd: int) -> None:
        meta = {
            "round": rnd,
            "n_buckets": self.n_buckets,
            "default_nb": self.default_nb,
            "buckets": {str(b): e for b, e in self.buckets.items()},
        }
        tmp = os.path.join(self.dir, f".meta.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, os.path.join(self.dir, f"meta-{rnd:06d}.json"))
        self.round = rnd
        self._gc(keep=2)

    def _gc(self, keep: int = 2) -> None:
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
            elif f.startswith("c") and f.endswith(".npz") and f not in live:
                os.unlink(os.path.join(self.dir, f))

    # ---- derived stats -------------------------------------------------------
    @property
    def total_bits(self) -> int:
        return sum(
            e["nb"] * _SLOTS * 16 for e in self.buckets.values() if e.get("file")
        )

    @property
    def n_added_total(self) -> int:
        return sum(e["n_added"] for e in self.buckets.values())

    def estimated_saturation(self) -> float:
        slots = sum(e["nb"] * _SLOTS for e in self.buckets.values())
        return self.n_added_total / slots if slots else 0.0

    def saturated_buckets(self) -> list[int]:
        return [
            b
            for b, e in self.buckets.items()
            if e["n_added"] > int(e["nb"] * _SLOTS * _DESIGN_LOAD)
        ]

    @property
    def full_bits(self) -> int:
        """Bits once every bucket is materialized (empty buckets at the
        default size): the most a driver-side apply loads or allocates."""
        n_files = sum(1 for e in self.buckets.values() if e.get("file"))
        empty_bits = self.default_nb * _SLOTS * 16
        return self.total_bits + (self.n_buckets - n_files) * empty_bits

    # ---- maintenance -------------------------------------------------------
    def _apply(
        self,
        keys,
        key_col: str,
        rnd: int,
        op: str,
        sizes: dict[int, int] | None = None,
        bucket_filter: list[int] | None = None,
    ) -> int:
        """Run :func:`_apply_buckets` for ``op`` — on the driver for "add" and
        "delete" when the filter and keys fit it (see
        :func:`~..operators.bloom.driver_keys`), else as the bucket-aligned
        Spark job (always for "rebuild") — then record the new bucket
        files and commit the meta for ``rnd``. Returns the keys applied."""
        from pyspark.sql import types as T

        apply = functools.partial(
            _apply_buckets,
            n_buckets=self.n_buckets,
            cdir=self.dir,
            rnd=rnd,
            op=op,
            prior={
                int(b): e["file"] for b, e in self.buckets.items() if e.get("file")
            },
            default_nb=self.default_nb,
            sizes=sizes or {},
        )
        arr = None if op == "rebuild" else driver_keys(self, keys, key_col)
        if arr is not None:
            stats = apply(arr)
        else:
            out_schema = T.StructType(
                [
                    T.StructField("bucket", T.IntegerType(), False),
                    T.StructField("file", T.StringType(), False),
                    T.StructField("nb", T.LongType(), False),
                    T.StructField("n_added", T.LongType(), False),
                    T.StructField("applied", T.LongType(), False),
                ]
            )
            stats = run_fold_job(
                keys_frame(keys, key_col),
                key_col,
                self.n_buckets,
                apply,
                out_schema,
                bucket_filter,
            )
        applied = 0
        for b, file, nb, n_added, n in stats:
            self.buckets[b] = {"file": file, "nb": int(nb), "n_added": int(n_added)}
            applied += int(n)
        self._write_meta(rnd)
        return applied

    def add_keys(self, keys, key_col: str, rnd: int) -> list[int]:
        """Insert keys (a DataFrame with ``key_col``, or an int64 array);
        returns the buckets now past the design load."""
        self._apply(keys, key_col, rnd, op="add")
        return self.saturated_buckets()

    def delete_keys(self, keys, key_col: str, rnd: int) -> int:
        """Unlearn keys (takedown / recrawl-TTL): delete their fingerprints
        and write new immutable files — the operation the Bloom twin
        structurally cannot offer. Returns the number removed."""
        return self._apply(keys, key_col, rnd, op="delete")

    def grow_buckets(self, all_keys_df, key_col: str, rnd: int, grow: list[int]) -> None:
        """Per-bucket growth = rebuild from the seen table at the next
        power-of-two size (a cuckoo table cannot be resized from
        fingerprints — the upper hash bits are gone)."""
        sizes = {
            int(b): CuckooFilter.sized_for(2 * self.buckets[b]["n_added"]).nb
            for b in grow
        }
        self._apply(
            all_keys_df, key_col, rnd, op="rebuild", sizes=sizes, bucket_filter=grow
        )

    # ---- probe -----------------------------------------------------------------
    def probe_split(self, df, key_col: str, spark, scratch=None):
        """(definitely_new, maybe_seen) split — same two regimes as the
        Bloom twin: whole-dict broadcast below ``BROADCAST_MAX_BYTES``,
        bucket-aligned repartition + per-task file loads above it."""
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
                b: CuckooFilter.load(os.path.join(self.dir, e["file"]))
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
                        cf = bc.value.get(int(b))
                        if cf is None:
                            continue
                        sel = bks == b
                        mask[sel] = cf.contains_many(keys[sel])
                    yield pdf.assign(_maybe_seen=mask)

            tagged = df.mapInPandas(tag, schema).cache()
        else:
            self.last_probe_mode = "aligned"
            cdir = self.dir
            info = {
                int(b): e["file"] for b, e in self.buckets.items() if e.get("file")
            }

            def tag(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                cache: dict[int, CuckooFilter] = {}
                for pdf in batches:
                    if not len(pdf):
                        continue
                    keys = pdf[key_col].to_numpy(dtype=np.int64)
                    bks = np.mod(keys, B)
                    mask = np.zeros(len(keys), dtype=bool)
                    for b in np.unique(bks):
                        f = info.get(int(b))
                        if f is None:
                            continue
                        if int(b) not in cache:
                            cache[int(b)] = CuckooFilter.load(os.path.join(cdir, f))
                        sel = bks == b
                        mask[sel] = cache[int(b)].contains_many(keys[sel])
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
