"""Cuckoo-filter URL-seen set (D1 alternative to the Bloom path, seen.py).

The north-star design names "a partitioned Bloom/cuckoo-filter URL-seen
set".  The cuckoo variant adds what a Bloom filter cannot: **deletion**
(recrawl / cache expiry — remove a URL from `seen` so it is fetched again)
at a comparable false-positive budget, because it stores displaceable
fingerprints instead of OR-ed bits (Fan et al., "Cuckoo Filter: Practically
Better Than Bloom", CoNEXT'14 — public paper).

Layout: 4-slot buckets of 16-bit fingerprints (0 = empty), partial-key
cuckoo hashing with a power-of-two bucket count so the alternate index
``i2 = i1 XOR h(fp)`` stays in range and ``alt(alt(i)) == i``.

Partitioning (the "per-partition filters" shape): the filter is **sharded**
by URL hash — shard ``h1 % n_shards``, each shard an independent cuckoo
table.  The distributed build is one ``groupBy(shard).applyInPandas`` where
each task builds exactly one shard (URLs sorted first so eviction walks are
reproducible), and only serialized shard tables reach the driver — never
URLs, same contract as ``seen.build_bloom``.  Because shards are
independent there is no cross-partition eviction chain; merge re-inserts
the other filter's fingerprints shard-by-shard (fingerprint + bucket index
is all an insert needs — the alt index is recoverable by XOR).

Vectorization: hashing (JVM xxhash64 columns on DataFrame paths,
Spark-compatible XXH64 for driver lists) and probe index/gather math are
numpy array ops over whole Arrow batches; only the O(1)-amortized
placement walk per new entry is scalar Python, and it is insert-only (the
probe path — the per-round hot path — is fully vectorized).

A rare eviction walk that exceeds the kick budget lands the entry in a
per-shard stash (checked vectorized alongside the table), so membership
never has false negatives even at high load factors.

``ShardedCuckoo`` is a ``seen.SeenFilter``: its broadcast cache and probe
column (``maybe_contains``) are the Bloom filter's, and the crawl's seen
anti-join is ``seen.anti_join_seen(..., prefilter=cuckoo)`` — one
prefilter-then-exact-confirm plan for both filters.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .seen import BloomFilter, SeenFilter, url_hash_exprs
from .seen import _as_u64 as _hash_u64

_SLOTS = 4
_MAX_KICKS = 500
_FP_MUL = np.uint64(0x5BD1E995)


def _fp_hash(fp: np.ndarray, mask: int) -> np.ndarray:
    """Bucket displacement of a fingerprint (power-of-two mask)."""
    with np.errstate(over="ignore"):
        return (fp.astype(np.uint64) * _FP_MUL) & np.uint64(mask)


def _route_hashes(h1: np.ndarray, h2: np.ndarray, n_shards: int, n_buckets: int):
    """(h1, h2) uint64 arrays -> (shard, bucket, fingerprint) — pure
    numpy; h2 must already be odd-forced (the bloom convention)."""
    shard = h1 % np.uint64(n_shards)
    bucket = (h1 >> np.uint64(32)) % np.uint64(n_buckets)
    fp = (h2 % np.uint64(65535) + np.uint64(1)).astype(np.uint16)
    return shard, bucket, fp


def _route_arrays(values, n_shards: int, n_buckets: int):
    """Batch URL -> (shard, bucket, fingerprint) arrays.  Driver-side
    lists only: DataFrame paths hash JVM-side (seen.url_hash_exprs) and
    route via _route_hashes — no per-row Python in the hot path."""
    h1, h2 = BloomFilter._h12_arrays(values)
    return _route_hashes(h1, h2, n_shards, n_buckets)


class CuckooShard:
    """One independent cuckoo table: (n_buckets, 4) uint16 fingerprints."""

    def __init__(self, n_buckets: int, table: np.ndarray | None = None, stash=None):
        assert n_buckets & (n_buckets - 1) == 0, "power-of-two buckets"
        self.n_buckets = n_buckets
        self.table = (
            table if table is not None else np.zeros((n_buckets, _SLOTS), dtype=np.uint16)
        )
        self.stash: list[tuple[int, int]] = list(stash or [])  # (i1, fp)

    # --- scalar insert/delete (build path) -----------------------------------

    def insert(self, i1: int, fp: int) -> None:
        mask = self.n_buckets - 1
        i2 = (i1 ^ int(_fp_hash(np.array([fp], dtype=np.uint16), mask)[0])) & mask
        for i in (i1, i2):
            row = self.table[i]
            free = np.nonzero(row == 0)[0]
            if len(free):
                row[free[0]] = fp
                return
        # evict deterministically: alternate buckets, slot = kick % 4
        i, cur = i1, fp
        for kick in range(_MAX_KICKS):
            slot = kick % _SLOTS
            cur, self.table[i, slot] = int(self.table[i, slot]), cur
            i = (i ^ int(_fp_hash(np.array([cur], dtype=np.uint16), mask)[0])) & mask
            row = self.table[i]
            free = np.nonzero(row == 0)[0]
            if len(free):
                row[free[0]] = cur
                return
        self.stash.append((i, cur))  # saturated: no false negatives, ever

    def delete(self, i1: int, fp: int) -> bool:
        # Table FIRST (round-3 advice — the round-2 stash-first order was
        # a bug): a table probe matches on (bucket, fp), the same
        # granularity membership is tracked at, so clearing a table slot
        # can only remove a copy this member is indistinguishable from.
        # Stash-first with an fp-only match could consume an *unrelated*
        # stashed member's entry on a colliding 16-bit fp, leaving the
        # deleted member's table copy alive (never refetched by recrawl)
        # and making the stashed member a false negative (anti-join emits
        # it as definite-new without the exact confirm).
        mask = self.n_buckets - 1
        i2 = (i1 ^ int(_fp_hash(np.array([fp], dtype=np.uint16), mask)[0])) & mask
        for i in (i1, i2):
            row = self.table[i]
            hit = np.nonzero(row == fp)[0]
            if len(hit):
                row[hit[0]] = 0
                return True
        # Stash as last resort, and only entries on this fingerprint's own
        # bucket orbit {i1, i2}: the eviction walk only ever moves a
        # fingerprint between its two buckets, so a stashed (si, fp) with
        # si outside the orbit belongs to a different member and must
        # survive this delete.
        for j, (si, sfp) in enumerate(self.stash):
            if sfp == fp and si in (i1, i2):
                del self.stash[j]
                return True
        return False

    def entries(self) -> Iterator[tuple[int, int]]:
        """(bucket_index, fp) of every stored fingerprint (merge source)."""
        b, s = np.nonzero(self.table)
        for i, j in zip(b.tolist(), s.tolist()):
            yield i, int(self.table[i, j])
        yield from self.stash

    def contains_batch(self, i1: np.ndarray, fp: np.ndarray) -> np.ndarray:
        mask = self.n_buckets - 1
        i2 = (i1 ^ _fp_hash(fp, mask)) & np.uint64(mask)
        fp_col = fp[:, None]
        hit = (self.table[i1.astype(np.int64)] == fp_col).any(axis=1)
        hit |= (self.table[i2.astype(np.int64)] == fp_col).any(axis=1)
        for si, sfp in self.stash:
            # orbit-constrained: a stashed fp only matches probes whose
            # bucket pair contains its recorded bucket (fewer false
            # positives than fp-only, and consistent with delete())
            hit |= (fp == sfp) & ((i1 == si) | (i2 == si))
        return hit


class ShardedCuckoo(SeenFilter):
    """URL-sharded cuckoo filter family; the D1 seen-set with deletes."""

    def __init__(self, n_shards: int, n_buckets: int):
        self.n_shards = n_shards
        self.n_buckets = n_buckets
        self.shards = [CuckooShard(n_buckets) for _ in range(n_shards)]

    def __getstate__(self):
        return (
            self.n_shards,
            self.n_buckets,
            [(s.table, s.stash) for s in self.shards],
        )

    def __setstate__(self, state):
        self.n_shards, self.n_buckets, parts = state
        self.shards = [CuckooShard(self.n_buckets, t, st) for t, st in parts]

    @classmethod
    def sized(cls, expected: int, n_shards: int = 32) -> "ShardedCuckoo":
        """~95% max load on 4-slot buckets; size to <=80% for fast inserts."""
        per_shard = max(1, expected) / n_shards
        nb = 1
        while nb * _SLOTS * 0.8 < per_shard:
            nb <<= 1
        return cls(n_shards, max(nb, 64))

    # --- url -> (shard, bucket, fp), batch -----------------------------------

    def _route(self, values) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        return _route_arrays(values, self.n_shards, self.n_buckets)

    def add_many(self, values) -> None:
        vals = [v for v in values if v is not None]
        if not vals:
            return
        shard, bucket, fp = self._route(vals)
        for s, b, f in zip(shard.tolist(), bucket.tolist(), fp.tolist()):
            self.shards[s].insert(b, f)
        self._dirty = True

    def delete_many(self, values) -> int:
        vals = [v for v in values if v is not None]
        if not vals:
            return 0
        shard, bucket, fp = self._route(vals)
        n = 0
        for s, b, f in zip(shard.tolist(), bucket.tolist(), fp.tolist()):
            n += self.shards[s].delete(b, f)
        self._dirty = True
        return n

    def contains_hashes(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """Vectorized membership for pre-hashed members (uint64 arrays, h2
        already odd) — the probe hot path, one numpy gather per shard."""
        shard, bucket, fp = _route_hashes(h1, h2, self.n_shards, self.n_buckets)
        hit = np.zeros(len(h1), dtype=bool)
        for s in np.unique(shard).tolist():
            m = shard == s
            hit[m] = self.shards[s].contains_batch(bucket[m], fp[m])
        return hit

    def contains_many(self, values) -> np.ndarray:
        out = np.zeros(len(values), dtype=bool)
        keep = [(i, v) for i, v in enumerate(values) if v is not None]
        if not keep:
            return out
        pos = np.fromiter((i for i, _ in keep), dtype=np.int64, count=len(keep))
        out[pos] = self.contains_hashes(
            *BloomFilter._h12_arrays([v for _, v in keep])
        )
        return out

    def contains(self, v: str) -> bool:
        return bool(self.contains_many([v])[0])

    def merge(self, other: "ShardedCuckoo") -> "ShardedCuckoo":
        assert (self.n_shards, self.n_buckets) == (other.n_shards, other.n_buckets)
        for mine, theirs in zip(self.shards, other.shards):
            for i, fp in theirs.entries():
                mine.insert(i, fp)
        self._dirty = True
        return self

    def saturated(self, total: int) -> bool:
        """True once ``total`` members exceed ~95% of slot capacity
        (4-slot cuckoo tables stay fast below that load)."""
        return total > 0.95 * self.n_shards * self.n_buckets * _SLOTS

    def bit_size(self) -> int:
        return self.n_shards * self.n_buckets * _SLOTS * 16

    def load_factor(self) -> float:
        filled = sum(int((s.table != 0).sum()) + len(s.stash) for s in self.shards)
        return filled / (self.n_shards * self.n_buckets * _SLOTS)


def build_cuckoo(
    df: DataFrame,
    url_col: str,
    expected: int = 0,
    n_shards: int = 32,
    like: "ShardedCuckoo | None" = None,
) -> ShardedCuckoo:
    """Distributed build: one applyInPandas task per shard (URLs sorted
    inside the task so eviction order — and thus the table — is
    deterministic); only serialized shard tables reach the driver.
    ``like=`` builds a merge-compatible delta (the per-round crawl update
    path)."""
    if like is not None:
        n_shards, n_buckets = like.n_shards, like.n_buckets
    else:
        proto = ShardedCuckoo.sized(expected, n_shards)
        n_buckets = proto.n_buckets

    out_schema = T.StructType(
        [
            T.StructField("shard", T.IntegerType()),
            T.StructField("table", T.BinaryType()),
            T.StructField("stash_i", T.ArrayType(T.LongType())),
            T.StructField("stash_fp", T.ArrayType(T.LongType())),
        ]
    )

    def route(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            # hashes computed JVM-side: pure numpy routing here
            h1 = _hash_u64(pdf["_h1"])
            h2 = _hash_u64(pdf["_h2"]) | np.uint64(1)
            shard, bucket, fp = _route_hashes(h1, h2, n_shards, n_buckets)
            yield pd.DataFrame(
                {
                    "shard": shard.astype(np.int32),
                    "bucket": bucket.astype(np.int64),
                    "fp": fp.astype(np.int64),
                }
            )

    def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        s = CuckooShard(n_buckets)
        order = np.lexsort((pdf["fp"].to_numpy(), pdf["bucket"].to_numpy()))
        for i in order:
            s.insert(int(pdf["bucket"].iloc[i]), int(pdf["fp"].iloc[i]))
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "table": [s.table.tobytes()],
                "stash_i": [[i for i, _ in s.stash]],
                "stash_fp": [[fp for _, fp in s.stash]],
            }
        )

    route_schema = T.StructType(
        [
            T.StructField("shard", T.IntegerType()),
            T.StructField("bucket", T.LongType()),
            T.StructField("fp", T.LongType()),
        ]
    )
    h1e, h2e = url_hash_exprs(url_col)
    # isNotNull: xxhash64(NULL) would collapse every null row onto the
    # fixed (seed, hashInt(1, seed)) sentinel — the documented contract is
    # None -> never a member (round-3 advice)
    rows = (
        df.where(F.col(url_col).isNotNull())
        .select(h1e.alias("_h1"), h2e.alias("_h2"))
        .mapInPandas(route, schema=route_schema)
        .groupBy("shard")
        .applyInPandas(build_shard, schema=out_schema)
        .collect()
    )
    out = ShardedCuckoo(n_shards, n_buckets)
    for r in rows:
        sh = out.shards[r["shard"]]
        sh.table = np.frombuffer(r["table"], dtype=np.uint16).reshape(
            n_buckets, _SLOTS
        ).copy()
        sh.stash = list(zip(r["stash_i"], r["stash_fp"]))
    return out


def expire_from_filter(cf: ShardedCuckoo, df: DataFrame, url_col: str = "url") -> int:
    """TTL expiry, filter side (cache_service.py:77-99 maps Redis key TTL
    to a delete of the expired members): remove every URL in ``df`` from
    the filter so a later crawl re-admits exactly those.  Routing
    (xxhash64 -> shard/bucket/fp) runs JVM-side + numpy in mapInPandas; only
    compact int64 triplets reach the driver — URLs themselves are never
    collected (same invariant as build_cuckoo).  Returns the number of
    fingerprints actually removed."""
    route_schema = T.StructType(
        [
            T.StructField("shard", T.IntegerType()),
            T.StructField("bucket", T.LongType()),
            T.StructField("fp", T.LongType()),
        ]
    )
    n_shards, n_buckets = cf.n_shards, cf.n_buckets

    def route(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            h1 = _hash_u64(pdf["_h1"])
            h2 = _hash_u64(pdf["_h2"]) | np.uint64(1)
            shard, bucket, fp = _route_hashes(h1, h2, n_shards, n_buckets)
            yield pd.DataFrame(
                {
                    "shard": shard.astype(np.int32),
                    "bucket": bucket.astype(np.int64),
                    "fp": fp.astype(np.int64),
                }
            )

    h1e, h2e = url_hash_exprs(url_col)
    # dropDuplicates on the 128-bit hash pair (round-3 advice): duplicate
    # input rows would each issue another delete for the same (bucket, fp),
    # and the extra deletes remove OTHER members' colliding fingerprints
    # (false negatives) and inflate the count.  Deduping on (_h1, _h2) —
    # rather than collected triplets — keeps distinct URLs that collide in
    # the 16-bit fp each entitled to their own delete.  Nulls are excluded
    # for the same reason as build_cuckoo (xxhash64(NULL) sentinel).
    rows = (
        df.where(F.col(url_col).isNotNull())
        .select(h1e.alias("_h1"), h2e.alias("_h2"))
        .dropDuplicates(["_h1", "_h2"])
        .mapInPandas(route, schema=route_schema)
        .collect()
    )
    n = 0
    for r in rows:
        n += cf.shards[r["shard"]].delete(int(r["bucket"]), int(r["fp"]))
    cf._dirty = True
    return n
