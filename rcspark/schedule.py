"""Politeness scheduler — SURVEY.md A5/A6 (Scrapy priority queues + per-host
download slots → salted windowed top-k + a deterministic wave clock).

Pop-order contract (constants.py): per host, pending URLs pop in
(priority DESC, discovered_wave ASC, url_canon ASC) order. The per-host
Slot models both delay AND CONCURRENT_REQUESTS_PER_DOMAIN: delay(h) > 0
issues one request per delay tick (group=1, Scrapy semantics); delay == 0
engages bursts of CONCURRENT_PER_DOMAIN per REQUEST_SERVICE_MS tick. The
j-th fetch of h happens at simulated millis ``((j-1) // group) * tick``,
budget(h) = min(PER_HOST_CAP, group · max(1, floor(WAVE_MS / tick))), and
the wave's global crawl order is (fetch_ms ASC, host ASC, j ASC).

Skew (the north rule's A+B axis): rcbuild.info-style crawls have 1-2
dominant hosts holding most of the frontier, so a naive
``Window.partitionBy(host)`` sends the whole dominant host to one task.
Mandated fix — **salted two-phase top-k**:

  phase 1: rank within (host, salt) where salt = pmod(digest, HOST_SALTS);
           keep rank ≤ budget. Each of the S salt partitions keeps at most
           `budget` rows, pruning the dominant host from |host| rows to
           S·budget BEFORE any single-partition work.
  phase 2: exact rank over (host) on the pruned set (≤ S·budget rows/host,
           bounded, tiny) → identical result to the unsalted window,
           provably: phase 1 only discards rows that are out-ranked by
           `budget` rows within their own salt, which therefore cannot be
           in the true per-host top-`budget`.

fetch_ms uses integer milliseconds so the engine (JVM) and the oracle
(Python) compare exactly — no float drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import constants as C
from .constants import HOST_SALTS, PER_HOST_CAP, WAVE_SECONDS
from .session import ARROW_BATCH_ROWS


def order_cols() -> list:
    """The pop-order sort key (needs an active SparkSession to build)."""
    return [
        F.col("priority").desc(),
        F.col("discovered_wave").asc(),
        F.col("url_canon").asc(),
    ]


def with_budget(frontier: DataFrame) -> DataFrame:
    """+ delay_ms (tick), slot_group, budget — from the robots crawl_delay.

    C.DOWNLOAD_DELAY is read at call time (not import time) so tests can
    exercise the delay-0 burst regime by monkeypatching the shared
    constant in BOTH worlds (rcspark.oracle reads it the same way).
    """
    delay_s = F.greatest(
        F.coalesce(F.col("crawl_delay"), F.lit(0.0)), F.lit(C.DOWNLOAD_DELAY)
    )
    raw_ms = F.round(delay_s * 1000).cast("long")
    tick = F.when(raw_ms > 0, raw_ms).otherwise(F.lit(C.REQUEST_SERVICE_MS)).cast("long")
    group = (
        F.when(raw_ms > 0, F.lit(1)).otherwise(F.lit(C.CONCURRENT_PER_DOMAIN)).cast("int")
    )
    budget = F.least(
        F.lit(PER_HOST_CAP),
        group * F.greatest(
            F.lit(1), F.floor(F.lit(WAVE_SECONDS * 1000) / tick).cast("int")
        ),
    ).cast("int")
    return (
        frontier.withColumn("delay_ms", tick)
        .withColumn("slot_group", group)
        .withColumn("budget", budget)
    )


def rank_within_budget(frontier: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(scheduled, leftover): per-host top-`budget` via salted two-phase rank.

    `scheduled` gains: j (1-based per-host rank) and fetch_ms.
    `leftover` keeps the original frontier columns (stays pending).
    """
    fr = frontier.withColumn("_salt", F.pmod(F.col("digest"), F.lit(HOST_SALTS)).cast("int"))

    w1 = Window.partitionBy("host", "_salt").orderBy(*order_cols())
    pruned = fr.withColumn("_r1", F.row_number().over(w1))
    survivors = pruned.filter(F.col("_r1") <= F.col("budget"))
    # rows cut in phase 1 are provably outside the per-host top-budget
    cut_early = pruned.filter(F.col("_r1") > F.col("budget"))

    w2 = Window.partitionBy("host").orderBy(*order_cols())
    ranked = survivors.withColumn("j", F.row_number().over(w2))
    scheduled = (
        ranked.filter(F.col("j") <= F.col("budget"))
        .withColumn(
            "fetch_ms",
            (F.floor((F.col("j") - 1) / F.col("slot_group")) * F.col("delay_ms")).cast(
                "long"
            ),
        )
        .drop("_salt", "_r1")
    )
    leftover = (
        ranked.filter(F.col("j") > F.col("budget"))
        .drop("j", "_salt", "_r1")
        .unionByName(cut_early.drop("_salt", "_r1"))
    )
    return scheduled, leftover


SEQ_MAX_PARTITIONS = 32


def wave_partitions(n_rows: int) -> int:
    """Partitions for at most `n_rows` rows of a crawl wave: one per Arrow
    batch (the unit assign_global_seq's mapInPandas is handed), capped at
    SEQ_MAX_PARTITIONS. Sizes the seq fan-out and the reads of the wave's
    kept rows (run._materialize), never the query that computes them."""
    return max(1, min(SEQ_MAX_PARTITIONS, -(-n_rows // ARROW_BATCH_ROWS)))


def assign_global_seq(
    df: DataFrame,
    order_cols: list,
    seq_offset: int,
    npartitions: int = SEQ_MAX_PARTITIONS,
    persisted_out: list | None = None,
) -> DataFrame:
    """+ seq long: the global crawl-order index, without a single-partition window.

    Scalable zipWithIndex: range-repartition by the total order, sort within
    partitions, then add per-partition offsets (collected as one tiny row per
    partition) inside a mapInPandas — the global sort never funnels through
    one task. `order_cols` must be a unique total order (here:
    (fetch_ms, host), unique because fetch_ms strictly increases per host).

    With ``npartitions=1`` (a wave that fits one Arrow batch, see
    wave_partitions) the only offset is `seq_offset`: no persist and no
    count collect, so the result stays lazy.
    """
    import numpy as np  # local import: executors need it anyway for the UDF

    # one partition needs no range split: coalesce is narrow, no shuffle
    spread = (
        df.coalesce(1) if npartitions == 1 else df.repartitionByRange(npartitions, *order_cols)
    )
    part = spread.sortWithinPartitions(*order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    if npartitions == 1:
        offsets = {0: seq_offset}
    else:
        part = part.persist()
        if persisted_out is not None:
            persisted_out.append(part)
        counts = {r["_pid"]: r["count"] for r in part.groupBy("_pid").count().collect()}
        offsets = {}
        acc = seq_offset
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]

    from pyspark.sql import types as T

    # StructType.add mutates in place — build a fresh copy instead of
    # touching the DataFrame's cached schema object
    out_schema = T.StructType(
        list(part.schema.fields) + [T.StructField("seq", T.LongType(), False)]
    )

    def add_seq(batches):
        local = 0
        for pdf in batches:
            if len(pdf):
                base = offsets[int(pdf["_pid"].iloc[0])] + local
                pdf = pdf.assign(seq=np.arange(base, base + len(pdf), dtype="int64"))
                local += len(pdf)
                yield pdf

    return part.mapInPandas(add_seq, out_schema).drop("_pid")
