"""Partitioned cuckoo filter — the north rule's alternative to the Bloom
URL-seen filter ("partitioned Bloom/cuckoo ... over xxhash64 digests").

Same sharded-sketch-as-data shape as rcspark.dedup: one filter per shard
(shard = pmod(digest, P)), each a numpy table of NBUCKETS×SLOTS uint16
fingerprints, built and probed in vectorized passes. What cuckoo adds over
Bloom, and why a crawl wants it:

- **deletion** — Scrapy's FilesPipeline re-downloads media after
  FILES_EXPIRES days; expiring an entry from a Bloom filter is impossible
  (rebuild required), while a cuckoo filter deletes its fingerprint in
  O(1). `cuckoo_delete` supports the media-expiry dedup path (A17).
- **bounded FPR at higher load** — 16-bit fingerprints, 4-slot buckets
  give FPR ≈ 2·SLOTS/2^16 ≈ 0.012% at ~95% load, ~80× lower than the
  Bloom config at similar memory.

Semantics: standard partial-key cuckoo (Fan et al., CoNEXT'14, public):
fingerprint fp = h(x) & 0xffff (never 0 — 0 marks empty; fp 0 remaps to
1); bucket i1 = h1(x) mod NB; i2 = i1 XOR (h(fp)·mix mod NB). Probe checks
fp in buckets i1, i2 — NO false negatives for inserted keys; relocation
(cuckoo kicking) bounds insert time; a full table raises (size shards for
≤ 95% load, as the Bloom sizing note does).

The driver-facing dedup contract is identical to dedup.filter_unseen, and
so is the code: the shard column, the broadcast probe scaffold
(dedup.probe_broadcast, fed this module's per-shard probe) and the exact
anti-join backstop (dedup.anti_join_backstop) come from rcspark.dedup, so
either sketch can back A4. Only the sketch format, its update and delete
live here. tests/test_cuckoo.py pins no-false-negative, FPR, and delete
behavior.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .constants import BLOOM_SHARDS
from .dedup import anti_join_backstop, probe_broadcast, shard_col
from .xxh import splitmix64

NBUCKETS = 1 << 13  # per shard: 8192 buckets × 4 slots × 2B = 64 KiB
SLOTS = 4
MAX_KICKS = 500

CUCKOO_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("table", T.BinaryType(), False),  # uint16[NBUCKETS*SLOTS]
        T.StructField("nbuckets", T.IntegerType(), False),
        T.StructField("count", T.LongType(), False),
    ]
)


def _fingerprints(digests: np.ndarray) -> np.ndarray:
    """16-bit nonzero fingerprints from int64 digests."""
    fp = (splitmix64(digests.astype(np.uint64)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1
    return fp


def _bucket1(digests: np.ndarray, nbuckets: int) -> np.ndarray:
    h = splitmix64(splitmix64(digests.astype(np.uint64)))
    return (h % np.uint64(nbuckets)).astype(np.int64)


def _alt_bucket(i: np.ndarray, fp: np.ndarray, nbuckets: int) -> np.ndarray:
    """i2 = i1 XOR h(fp) — involutive, so delete/probe work from either."""
    hfp = splitmix64(fp.astype(np.uint64)) % np.uint64(nbuckets)
    return (i.astype(np.uint64) ^ hfp).astype(np.int64) % nbuckets


def _insert_batch(table: np.ndarray, digests: np.ndarray, rng_seed: int) -> int:
    """Insert digests into table (NBUCKETS, SLOTS) in place; returns count
    inserted. Duplicates insert additional copies (idempotent probes).

    The common no-collision path is fully vectorized (ADVICE r1): one pass
    bulk-scatters fingerprints into their first-choice buckets' empty
    slots (rank-within-bucket ≤ free-slots), a second pass does the same
    into alt buckets for the leftovers; only the residue — items whose
    both buckets filled up — walks the inherently sequential kick loop.
    At sane load (<95%) the residue is a tiny fraction of the batch.
    """
    nb = table.shape[0]
    fp = _fingerprints(digests)
    i1 = _bucket1(digests, nb)
    n = len(fp)
    if n == 0:
        return 0

    remaining = np.arange(n)
    cur_bucket = i1.copy()
    for _pass in range(2):  # pass 0: first-choice buckets; pass 1: alt buckets
        if len(remaining) == 0:
            break
        order = np.argsort(cur_bucket[remaining], kind="stable")
        idx_s = remaining[order]
        b_s = cur_bucket[idx_s]
        f_s = fp[idx_s]
        uniq, start = np.unique(b_s, return_index=True)
        counts = np.diff(np.append(start, len(b_s)))
        rank = np.arange(len(b_s)) - np.repeat(start, counts)
        free = (table[uniq] == 0).sum(axis=1)
        fits = rank < np.repeat(free, counts)
        if fits.any():
            rows = b_s[fits]
            # empty slot columns first (stable argsort of occupied-flags);
            # emptiness read BEFORE this pass's writes, ranks are disjoint
            # per bucket, so no two writes target the same cell
            slot_order = np.argsort(table[rows] != 0, axis=1, kind="stable")
            slots = slot_order[np.arange(len(rows)), rank[fits]]
            table[rows, slots] = f_s[fits]
        left = idx_s[~fits]
        cur_bucket[left] = _alt_bucket(cur_bucket[left], fp[left], nb)
        remaining = left

    # residue: sequential cuckoo kicking (deterministic rng)
    rng = np.random.default_rng(rng_seed)
    for idx in remaining:
        f = np.uint16(fp[idx])
        b = i1[idx]
        placed = False
        for b_try in (b, _alt_bucket(np.array([b]), np.array([f]), nb)[0]):
            empty = np.nonzero(table[b_try] == 0)[0]
            if len(empty):
                table[b_try, empty[0]] = f
                placed = True
                break
        cur = b
        kicks = 0
        while not placed:
            slot = int(rng.integers(0, SLOTS))
            f, table[cur, slot] = table[cur, slot], f
            cur = int(_alt_bucket(np.array([cur]), np.array([f]), nb)[0])
            empty = np.nonzero(table[cur] == 0)[0]
            if len(empty):
                table[cur, empty[0]] = f
                placed = True
            kicks += 1
            if kicks > MAX_KICKS:
                raise RuntimeError(
                    "cuckoo shard full — size NBUCKETS for <=95% load"
                )
    return n


def _probe_batch(table: np.ndarray, digests: np.ndarray) -> np.ndarray:
    nb = table.shape[0]
    fp = _fingerprints(digests)
    i1 = _bucket1(digests, nb)
    i2 = _alt_bucket(i1, fp, nb)
    hit1 = (table[i1] == fp[:, None]).any(axis=1)
    hit2 = (table[i2] == fp[:, None]).any(axis=1)
    return hit1 | hit2


def _delete_batch(table: np.ndarray, digests: np.ndarray) -> int:
    """Remove ONE copy of each digest's fingerprint; returns removed count."""
    nb = table.shape[0]
    fp = _fingerprints(digests)
    i1 = _bucket1(digests, nb)
    i2 = _alt_bucket(i1, fp, nb)
    removed = 0
    for f, a, b in zip(fp, i1, i2):
        for bkt in (a, b):
            hits = np.nonzero(table[bkt] == f)[0]
            if len(hits):
                table[bkt, hits[0]] = 0
                removed += 1
                break
    return removed


def empty_cuckoo(spark) -> DataFrame:
    rows = [
        (s, bytes(NBUCKETS * SLOTS * 2), NBUCKETS, 0) for s in range(BLOOM_SHARDS)
    ]
    return spark.createDataFrame(rows, CUCKOO_SCHEMA)


def _as_table(raw: bytes, nbuckets: int) -> np.ndarray:
    return np.frombuffer(raw, dtype=np.uint16).reshape(nbuckets, SLOTS).copy()


def cuckoo_update(new_digests: DataFrame, cuckoo: DataFrame) -> DataFrame:
    """Return the cuckoo table with new digests inserted (cogrouped per
    shard, one vectorized numpy pass each — same shape as bloom_update)."""

    def update(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if right.empty:
            shard = int(left["_shard"].iloc[0])
            table = np.zeros((NBUCKETS, SLOTS), dtype=np.uint16)
            count = 0
        else:
            shard = int(right["shard"].iloc[0])
            table = _as_table(right["table"].iloc[0], int(right["nbuckets"].iloc[0]))
            count = int(right["count"].iloc[0])
        if not left.empty:
            count += _insert_batch(table, left["digest"].to_numpy(), rng_seed=shard)
        return pd.DataFrame(
            {
                "shard": [shard],
                "table": [table.tobytes()],
                "nbuckets": [table.shape[0]],
                "count": [count],
            }
        )

    cand = new_digests.select("digest").withColumn("_shard", shard_col(F.col("digest")))
    return (
        cand.groupBy("_shard")
        .cogroup(cuckoo.groupBy("shard"))
        .applyInPandas(update, CUCKOO_SCHEMA)
    )


def cuckoo_delete(del_digests: DataFrame, cuckoo: DataFrame) -> DataFrame:
    """Remove one fingerprint copy per digest (media-expiry path, A17)."""

    def delete(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if right.empty:
            return pd.DataFrame(
                columns=["shard", "table", "nbuckets", "count"]
            ).astype({"shard": "int32", "nbuckets": "int32", "count": "int64"})
        shard = int(right["shard"].iloc[0])
        table = _as_table(right["table"].iloc[0], int(right["nbuckets"].iloc[0]))
        count = int(right["count"].iloc[0])
        if not left.empty:
            count -= _delete_batch(table, left["digest"].to_numpy())
        return pd.DataFrame(
            {
                "shard": [shard],
                "table": [table.tobytes()],
                "nbuckets": [table.shape[0]],
                "count": [count],
            }
        )

    cand = del_digests.select("digest").withColumn("_shard", shard_col(F.col("digest")))
    return (
        cand.groupBy("_shard")
        .cogroup(cuckoo.groupBy("shard"))
        .applyInPandas(delete, CUCKOO_SCHEMA)
    )


def _cuckoo_probe_shard(row, digests: np.ndarray) -> np.ndarray:
    table = np.frombuffer(row["table"], dtype=np.uint16).reshape(row["nbuckets"], SLOTS)
    return _probe_batch(table, digests)


def cuckoo_probe_broadcast(
    candidates: DataFrame, cuckoo: DataFrame, resources_out: list | None = None
) -> DataFrame:
    """dedup.probe_broadcast over the cuckoo sketch: candidates(digest,
    ...) → + maybe_seen. The Broadcast handle lands in `resources_out`
    for post-action cleanup."""
    return probe_broadcast(candidates, cuckoo, _cuckoo_probe_shard, resources_out)


def filter_unseen_cuckoo(
    candidates: DataFrame,
    cuckoo: DataFrame,
    seen: DataFrame,
    persisted_out: list | None = None,
) -> DataFrame:
    """Drop-in alternative to dedup.filter_unseen backed by the cuckoo
    sketch: the same broadcast probe and exact anti-join backstop.
    Persisted frame and Broadcast handle land in `persisted_out` (both
    expose unpersist()) so long driver sessions can release them after the
    wave's actions."""
    probed = cuckoo_probe_broadcast(candidates, cuckoo, resources_out=persisted_out)
    return anti_join_backstop(probed, seen, persisted_out)
