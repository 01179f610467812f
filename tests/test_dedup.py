"""Partitioned Bloom + exact anti-join dedup (SURVEY.md A4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rcspark.constants import BLOOM_BITS_PER_SHARD, BLOOM_NUM_HASHES, BLOOM_SHARDS
from rcspark.dedup import bloom_probe_broadcast, bloom_update, empty_bloom, filter_unseen
from rcspark.tables import BLOOM_SCHEMA, empty_frame


def _digests(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], ["url_canon"]).withColumn(
        "digest", F.xxhash64("url_canon")
    )


@pytest.fixture(scope="module")
def bloom_with_5k(spark):
    inserted = [f"http://h{i % 7}.example/p/{i}" for i in range(5000)]
    bloom = bloom_update(_digests(spark, inserted), empty_bloom(spark)).persist()
    bloom.count()
    return inserted, bloom


def test_bloom_no_false_negatives(spark, bloom_with_5k):
    inserted, bloom = bloom_with_5k
    probed = bloom_probe_broadcast(_digests(spark, inserted), bloom)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_bloom_fpr_bounded(spark, bloom_with_5k):
    _, bloom = bloom_with_5k
    novel = [f"http://other{i % 5}.example/q/{i}" for i in range(20000)]
    fp = bloom_probe_broadcast(_digests(spark, novel), bloom).filter(F.col("maybe_seen")).count()
    # theoretical FPR at n=5000/32 shards, m=2^20, k=7 is ~1e-17; any
    # measurable rate means broken mixing — allow a generous 0.1%
    assert fp / len(novel) < 0.001, fp


def test_filter_unseen_exact(spark, bloom_with_5k):
    from pyspark.broadcast import Broadcast

    inserted, bloom = bloom_with_5k
    seen = _digests(spark, inserted).withColumn("wave", F.lit(0))
    mixed = inserted[:500] + [f"http://fresh.example/n/{i}" for i in range(500)]
    held: list = []
    out = filter_unseen(_digests(spark, mixed), bloom, seen, persisted_out=held)
    got = sorted(r.url_canon for r in out.collect())
    assert got == sorted(f"http://fresh.example/n/{i}" for i in range(500))
    # the probe's Broadcast handle is released with the persisted frames
    assert any(isinstance(h, Broadcast) for h in held)
    for h in held:
        h.unpersist()


def test_bloom_update_preserves_untouched_shards(spark):
    b0 = bloom_update(_digests(spark, ["http://a.example/1"]), empty_bloom(spark))
    before = {r.shard: r.bits for r in b0.collect()}
    b1 = bloom_update(_digests(spark, ["http://a.example/2"]), b0)
    after = {r.shard: r.bits for r in b1.collect()}
    assert set(before) == set(after) == set(range(len(before)))
    changed = [s for s in before if before[s] != after[s]]
    assert len(changed) == 1  # exactly the target shard mutated
    assert all(len(bytes(v)) == BLOOM_BITS_PER_SHARD // 8 for v in after.values())


def test_filter_unseen_sparse_sketch_matches_full(spark):
    """A sketch grown from an empty frame holds only the shards its digests
    reached; a missing shard probes all-miss, so the probe returns the
    same rows over it as over the full sketch grown from empty_bloom."""
    inserted = [f"http://h{i % 3}.example/p/{i}" for i in range(12)]
    seen = _digests(spark, inserted).withColumn("wave", F.lit(0))
    sparse = bloom_update(_digests(spark, inserted), empty_frame(spark, BLOOM_SCHEMA))
    full = bloom_update(_digests(spark, inserted), empty_bloom(spark))
    assert sparse.count() < BLOOM_SHARDS == full.count()

    mixed = inserted[:6] + [f"http://fresh.example/z/{i}" for i in range(300)]
    got = {}
    for sketch_name, sketch in (("sparse", sparse), ("full", full)):
        held: list = []
        out = filter_unseen(_digests(spark, mixed), sketch, seen, persisted_out=held)
        got[sketch_name] = sorted(r.url_canon for r in out.collect())
        for h in held:
            h.unpersist()
    want = sorted(f"http://fresh.example/z/{i}" for i in range(300))
    assert all(rows == want for rows in got.values()), {k: len(v) for k, v in got.items()}
