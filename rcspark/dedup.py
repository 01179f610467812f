"""URL-seen dedup — SURVEY.md A4 (Scrapy RFPDupeFilter → Spark-native).

Two-stage, as mandated by the north_star ("partitioned Bloom/cuckoo URL-seen
filter implemented as vectorized Arrow UDFs over xxhash64 digests"):

1. **Partitioned sketch probe** — the persistent `bloom` table holds one
   bitmap per shard (shard = pmod(digest, P)). The shard bitmaps are
   collected and broadcast, and a scalar pandas UDF probes each Arrow batch
   of candidate digests shard by shard in vectorized numpy passes (no
   per-row Python). Only the `digest` column crosses the JVM↔Python
   boundary and nothing is shuffled. A miss is *definitely new*; only hits
   ("maybe seen") continue to stage 2.
2. **Exact anti-join backstop** — maybe-seen candidates `left_anti`-join the
   exact `seen` table on (digest, url_canon) to kill sketch false positives.
   Joining on url_canon too protects the 10^10-scale case where 64-bit
   digest collisions have expectation ≈ 2.7 (SURVEY.md §1.2).

rcspark.cuckoo backs the same two stages with a cuckoo sketch; both use
`probe_broadcast` and `anti_join_backstop` from here.

Sizing for a 10^10-URL frontier: P = 4096 shards × m = 3 GiB·8/4096 ≈
6.1e7 bits/shard at ~9.6 bits/element gives FPR ≈ 1%; each shard bitmap is
~7.3 MB, and stage 2 then anti-joins only ~1% of candidates instead of all
of them. Locally we run P=32, m=2^20 (constants.py): bloom_update allocates
every shard at that size, so a sketch is at most 4 MiB and broadcasts
cheaply. A 3 GiB sketch would not: that scale needs a shard-partitioned
probe (each task holding one shard bitmap) again — see TODO.md.

The Bloom update is itself a cogrouped map: new digests are OR-ed into their
shard's bitmap and the sketch's shards are rewritten as the wave's snapshot
— the classic "sketch as data, not as service" Spark pattern. The sketch is
sparse: a shard's bitmap is allocated with its first digest, and a missing
shard probes all-miss. The crawl engine grows its sketch from an empty
frame, so its bloom table holds only the shards its URLs reached.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .constants import BLOOM_BITS_PER_SHARD, BLOOM_NUM_HASHES, BLOOM_SHARDS
from .tables import BLOOM_SCHEMA
from .xxh import splitmix64


def shard_col(digest):
    return F.pmod(digest, F.lit(BLOOM_SHARDS)).cast("int")


def _positions(digests: np.ndarray, nbits: int, k: int) -> np.ndarray:
    """(n, k) bit positions for each digest — double hashing over splitmix64."""
    d = digests.astype(np.uint64)
    h1 = splitmix64(d)
    h2 = splitmix64(h1) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[None, :]
    with np.errstate(over="ignore"):
        return ((h1[:, None] + i * h2[:, None]) % np.uint64(nbits)).astype(np.int64)


def _probe_bits(bits: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """True where ALL k positions are set (maybe-seen)."""
    byte_idx = pos >> 3
    masks = np.uint8(1) << (pos & 7).astype(np.uint8)
    return ((bits[byte_idx] & masks) == masks).all(axis=1)


def _set_bits(bits: np.ndarray, pos: np.ndarray) -> None:
    byte_idx = (pos >> 3).ravel()
    masks = (np.uint8(1) << (pos & 7).astype(np.uint8)).ravel()
    np.bitwise_or.at(bits, byte_idx, masks)


def empty_bloom(spark) -> DataFrame:
    """Every shard with an all-zero bitmap, built from a driver-side list
    (read back in Python workers). The crawl engine starts from an empty
    frame instead and lets bloom_update allocate the shards it reaches."""
    rows = [
        (s, bytes(BLOOM_BITS_PER_SHARD // 8), BLOOM_BITS_PER_SHARD, BLOOM_NUM_HASHES)
        for s in range(BLOOM_SHARDS)
    ]
    return spark.createDataFrame(rows, BLOOM_SCHEMA)


def probe_broadcast(
    candidates: DataFrame, sketch: DataFrame, probe_shard, resources_out: list | None = None
) -> DataFrame:
    """candidates(digest, ...) → same rows + boolean `maybe_seen`, via a
    BROADCAST of the sketch's shard rows and a scalar Arrow-batched pandas
    UDF: only the `digest` column crosses the JVM↔Python boundary.

    `probe_shard(row, digests)` takes one shard's sketch row and that
    shard's digests (int64 array) and returns their maybe-seen flags; it
    is pickled with the UDF. A shard with no sketch row probes all-miss.

    The Broadcast handle is appended to `resources_out` when given (it has
    an `unpersist()` like a persisted DataFrame); callers should release
    it after the wave's actions complete or a long driver session
    accumulates broadcast blocks.
    """
    from pyspark.sql.functions import pandas_udf

    shards = {r["shard"]: r for r in sketch.collect()}
    bc = candidates.sparkSession.sparkContext.broadcast(shards)
    if resources_out is not None:
        resources_out.append(bc)

    @pandas_udf("boolean")
    def probe(digest: pd.Series) -> pd.Series:
        sh = bc.value
        d = digest.to_numpy()
        out = np.zeros(len(d), dtype=bool)
        shard_of = d % BLOOM_SHARDS  # numpy's % takes the divisor's sign: pmod
        for s in np.unique(shard_of):
            row = sh.get(int(s))
            if row is not None:
                mask = shard_of == s
                out[mask] = probe_shard(row, d[mask])
        return pd.Series(out)

    return candidates.withColumn("maybe_seen", probe(F.col("digest")))


def _bloom_probe_shard(row, digests: np.ndarray) -> np.ndarray:
    bits = np.frombuffer(row["bits"], dtype=np.uint8)
    return _probe_bits(bits, _positions(digests, row["nbits"], row["k"]))


def bloom_probe_broadcast(
    candidates: DataFrame, bloom: DataFrame, resources_out: list | None = None
) -> DataFrame:
    """probe_broadcast over the Bloom sketch."""
    return probe_broadcast(candidates, bloom, _bloom_probe_shard, resources_out)


def bloom_update(new_digests: DataFrame, bloom: DataFrame) -> DataFrame:
    """Return the bloom table with `new_digests`(digest) OR-ed in.

    Shards with no new digests pass through unchanged (cogroup keeps them:
    full outer over group keys).
    """

    def update(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if right.empty:
            # brand-new shard (fresh warehouse): allocate
            shard = int(left["_shard"].iloc[0])
            bits = np.zeros(BLOOM_BITS_PER_SHARD // 8, dtype=np.uint8)
            nbits, k = BLOOM_BITS_PER_SHARD, BLOOM_NUM_HASHES
        else:
            shard = int(right["shard"].iloc[0])
            bits = np.frombuffer(right["bits"].iloc[0], dtype=np.uint8).copy()
            nbits = int(right["nbits"].iloc[0])
            k = int(right["k"].iloc[0])
        if not left.empty:
            _set_bits(bits, _positions(left["digest"].to_numpy(), nbits, k))
        return pd.DataFrame(
            {"shard": [shard], "bits": [bits.tobytes()], "nbits": [nbits], "k": [k]}
        )

    cand = new_digests.select("digest").withColumn("_shard", shard_col(F.col("digest")))
    return (
        cand.groupBy("_shard")
        .cogroup(bloom.groupBy("shard"))
        .applyInPandas(update, BLOOM_SCHEMA)
    )


def anti_join_backstop(
    probed: DataFrame, seen: DataFrame, persisted_out: list | None = None
) -> DataFrame:
    """Rows of `probed` (candidates + `maybe_seen`) whose (digest,
    url_canon) is NOT in `seen`, without `maybe_seen`: sketch misses pass
    straight through, sketch hits are verified with an exact left_anti
    join (false-positive kill).

    The probed frontier is persisted before the fresh/maybe fan-out —
    without it, Spark recomputes the whole probe subtree once per union
    branch (verified via .explain). At 10^10 scale this is the wave's
    materialization point (the frontier table write); locally
    MEMORY_AND_DISK stands in. The handle lands in `persisted_out` when
    given, to unpersist after the wave.
    """
    from pyspark.storagelevel import StorageLevel

    probed = probed.persist(StorageLevel.MEMORY_AND_DISK)
    if persisted_out is not None:
        persisted_out.append(probed)
    fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    survived = maybe.join(
        seen.select("digest", "url_canon"), on=["digest", "url_canon"], how="left_anti"
    )
    return fresh.unionByName(survived)


def filter_unseen(
    candidates: DataFrame,
    bloom: DataFrame,
    seen: DataFrame,
    persisted_out: list | None = None,
) -> DataFrame:
    """Rows of `candidates` whose (digest, url_canon) is NOT in the seen set:
    the Bloom broadcast probe, then the exact anti-join backstop. Columns
    of `candidates` pass through unchanged. The probe's Broadcast handle
    and the persisted probed frame land in `persisted_out` (both expose
    unpersist())."""
    probed = bloom_probe_broadcast(candidates, bloom, resources_out=persisted_out)
    return anti_join_backstop(probed, seen, persisted_out)
