"""URL-seen dedup — SURVEY.md A4 (Scrapy RFPDupeFilter → Spark-native).

Two-stage, as mandated by the north_star ("partitioned Bloom/cuckoo URL-seen
filter implemented as vectorized Arrow UDFs over xxhash64 digests"):

1. **Partitioned Bloom probe** — the persistent `bloom` table holds one
   bitmap per shard (shard = pmod(digest, P)). Candidate digests are
   cogrouped with their shard's bitmap and probed in a single vectorized
   numpy pass (`applyInPandas`, Arrow-batched — no per-row Python). A miss
   is *definitely new*; only hits ("maybe seen") continue to stage 2.
2. **Exact anti-join backstop** — maybe-seen candidates `left_anti`-join the
   exact `seen` table on (digest, url_canon) to kill Bloom false positives.
   Joining on url_canon too protects the 10^10-scale case where 64-bit
   digest collisions have expectation ≈ 2.7 (SURVEY.md §1.2).

Sizing for a 10^10-URL frontier: P = 4096 shards × m = 3 GiB·8/4096 ≈
6.1e7 bits/shard at ~9.6 bits/element gives FPR ≈ 1%; each shard bitmap is
~7.3 MB — comfortably inside an executor grouped-map task, and stage 2 then
anti-joins only ~1% of candidates instead of all of them. Locally we run
P=32, m=2^20 (constants.py).

The Bloom update is itself a cogrouped map: new digests are OR-ed into their
shard's bitmap and the sketch's shards are rewritten as the wave's snapshot
— the classic "sketch as data, not as service" Spark pattern. The sketch is
sparse: a shard's bitmap is allocated with its first digest, and a missing
shard probes all-miss. The crawl engine grows its sketch from an empty
frame, so its bloom table holds only the shards its URLs reached, and
bloom_bytes() is an upper bound on its size.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .constants import (
    BLOOM_BITS_PER_SHARD,
    BLOOM_BROADCAST_MAX_BYTES,
    BLOOM_NUM_HASHES,
    BLOOM_SHARDS,
)
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


def bloom_bytes() -> int:
    """Size of the sketch empty_bloom allocates: every shard at the default
    nbits. bloom_update keeps a shard's nbits and allocates a missing shard
    at the default, so this bounds any sketch grown from empty_bloom (equal)
    or from an empty frame (sparse: at most this)."""
    return BLOOM_SHARDS * BLOOM_BITS_PER_SHARD // 8


def empty_bloom(spark) -> DataFrame:
    """Every shard with an all-zero bitmap, built from a driver-side list
    (read back in Python workers). The crawl engine starts from an empty
    frame instead and lets bloom_update allocate the shards it reaches."""
    rows = [
        (s, bytes(BLOOM_BITS_PER_SHARD // 8), BLOOM_BITS_PER_SHARD, BLOOM_NUM_HASHES)
        for s in range(BLOOM_SHARDS)
    ]
    return spark.createDataFrame(rows, BLOOM_SCHEMA)


def bloom_probe_broadcast(
    candidates: DataFrame, bloom: DataFrame, resources_out: list | None = None
) -> DataFrame:
    """candidates(digest, ...) → same rows + boolean `maybe_seen`, via a
    BROADCAST of the shard bitmaps and a scalar Arrow-batched pandas UDF.

    Preferred probe path while the sketch is small: only the `digest`
    column crosses the JVM↔Python boundary (the cogroup variant ships
    every candidate column through Arrow and pays a shuffle).
    `filter_unseen` auto-switches to `bloom_probe` once the measured
    sketch size passes BLOOM_BROADCAST_MAX_BYTES.

    The Broadcast handle is appended to `resources_out` when given (it has
    an `unpersist()` like a persisted DataFrame); callers should release
    it after the wave's actions complete or a long driver session
    accumulates broadcast blocks.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    spark = candidates.sparkSession
    shards: dict[int, tuple[bytes, int, int]] = {
        r["shard"]: (bytes(r["bits"]), int(r["nbits"]), int(r["k"]))
        for r in bloom.collect()
    }
    bc = spark.sparkContext.broadcast(shards)
    if resources_out is not None:
        resources_out.append(bc)

    @pandas_udf("boolean")
    def probe(digest: pd.Series) -> pd.Series:
        sh = bc.value
        d = digest.to_numpy()
        out = np.zeros(len(d), dtype=bool)
        shard_of = (d % BLOOM_SHARDS + BLOOM_SHARDS) % BLOOM_SHARDS
        for s in np.unique(shard_of):
            ent = sh.get(int(s))
            if ent is None:
                continue
            bits_b, nbits, k = ent
            mask = shard_of == s
            pos = _positions(d[mask], nbits, k)
            out[mask] = _probe_bits(np.frombuffer(bits_b, dtype=np.uint8), pos)
        return pd.Series(out)

    return candidates.withColumn("maybe_seen", probe(F.col("digest")))


def bloom_probe(candidates: DataFrame, bloom: DataFrame) -> DataFrame:
    """candidates(digest, ...) → same rows + boolean `maybe_seen`.

    Cogroup by shard; one Arrow batch per shard probes all its digests in
    one vectorized pass. A shard with no bloom row (fresh filter) probes
    all-False. (Scale fallback for a filter too big to broadcast — see
    bloom_probe_broadcast for the default path.)
    """
    from pyspark.sql import types as T

    cand = candidates.withColumn("_shard", shard_col(F.col("digest")))
    # (copy — StructType.add mutates the DataFrame's cached schema in place)
    out_schema = T.StructType(
        list(cand.schema.fields) + [T.StructField("maybe_seen", T.BooleanType(), False)]
    )

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return left.assign(maybe_seen=pd.Series([], dtype=bool))
        if right.empty:
            return left.assign(maybe_seen=False)
        bits = np.frombuffer(right["bits"].iloc[0], dtype=np.uint8)
        nbits = int(right["nbits"].iloc[0])
        k = int(right["k"].iloc[0])
        pos = _positions(left["digest"].to_numpy(), nbits, k)
        return left.assign(maybe_seen=_probe_bits(bits, pos))

    return (
        cand.groupBy("_shard")
        .cogroup(bloom.groupBy("shard"))
        .applyInPandas(probe, out_schema)
        .drop("_shard")
    )


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


def filter_unseen(
    candidates: DataFrame,
    bloom: DataFrame,
    seen: DataFrame,
    persisted_out: list | None = None,
    broadcast_max_bytes: int = BLOOM_BROADCAST_MAX_BYTES,
    sketch_bytes: int | None = None,
) -> DataFrame:
    """Rows of `candidates` whose (digest, url_canon) is NOT in the seen set.

    Bloom-negative rows skip the join entirely; bloom-positive rows are
    verified with an exact left_anti join (false-positive kill). Columns of
    `candidates` pass through unchanged.

    Probe-path auto-switch (VERDICT r1 next-round #7): the sketch size is
    measured from the bloom table itself (sum of nbits — a sub-second agg
    over ≤ BLOOM_SHARDS rows). Under `broadcast_max_bytes` the bitmaps are
    broadcast and probed with a scalar pandas UDF (no shuffle); past it —
    a 10^10-URL filter is a few GiB — the cogrouped per-shard probe runs
    instead, so no caller needs to know how big the filter has grown. A
    caller that already knows a bound on the size (the crawl engine's
    sketch is at most bloom_bytes()) passes `sketch_bytes` and skips that
    agg.

    The probed frontier is persisted before the fresh/maybe fan-out —
    without it, Spark recomputes the whole Bloom probe subtree once per
    union branch (verified via .explain). At 10^10 scale this is the
    wave's materialization point (the frontier table write); locally
    MEMORY_AND_DISK stands in. Callers can collect the handle via
    `persisted_out` to unpersist after the wave (broadcast handles are
    appended there too — both expose unpersist()).
    """
    from pyspark.storagelevel import StorageLevel

    # persist the sketch BEFORE the sizing agg: without it the whole
    # upstream bloom_update cogroup evaluates twice — once for sum(nbits),
    # once for the broadcast collect (measured: the double evaluation was
    # most of crawl_bloom_dedup's wall time, VERDICT r2 next-round #4)
    bloom = bloom.persist(StorageLevel.MEMORY_AND_DISK)
    if persisted_out is not None:
        persisted_out.append(bloom)
    if sketch_bytes is None:
        sketch_bytes = (bloom.agg(F.sum("nbits").alias("b")).first()["b"] or 0) // 8
    if sketch_bytes <= broadcast_max_bytes:
        probed = bloom_probe_broadcast(candidates, bloom, resources_out=persisted_out)
        if persisted_out is None:
            # the probe's bitmap now lives in its own broadcast — the bloom
            # DataFrame cache has no further reader, and no caller holds a
            # handle to release it later (ADVICE r3 leak)
            bloom.unpersist()
    else:
        probed = bloom_probe(candidates, bloom)
    probed = probed.persist(StorageLevel.MEMORY_AND_DISK)
    if persisted_out is not None:
        persisted_out.append(probed)
    fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    survived = maybe.join(
        seen.select("digest", "url_canon"), on=["digest", "url_canon"], how="left_anti"
    )
    return fresh.unionByName(survived)
