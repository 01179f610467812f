"""The crawl wave's Spark cost scales with its rows: the sized seq fan-out,
AQE-sized shard writes and a per-wave Spark job bound. Its fixed cost is
paid once per session: a re-run wave compiles no new generated classes,
missing tables read without running a task, and the Bloom sketch
starts sparse."""

from __future__ import annotations

import os
import random
import shutil

from pyspark.sql import functions as F

from rcspark.constants import BLOOM_SHARDS
from rcspark.fixtures import make_fixture
from rcspark.run import CrawlEngine
from rcspark.schedule import assign_global_seq, rank_within_budget, with_budget
from rcspark.tables import (
    BLOOM_SCHEMA,
    CORPUS_SCHEMA,
    FRONTIER_SCHEMA,
    N_SHARDS,
    SEEN_SCHEMA,
    Warehouse,
)

from test_crawl_e2e import engine_inputs
from test_robots_schedule import _frontier

# Seed 401 of the crawl benchmark ran 51 and 52 jobs per wave before the
# wave's frames were computed once, and 22 after. A run may differ by a
# job or two, so the bound sits well between the two.
MAX_JOBS_PER_WAVE = 40


def _jobs_in(sc, group: str) -> int:
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _marker_job_id(sc) -> int:
    """Run a one-task marker job and return its id. Spark numbers jobs in
    submission order, so the jobs between two markers are the jobs the
    code between them ran, on any thread (the wave's table writes run on
    pool threads, outside the caller's job group)."""
    sc.setJobGroup("wave-cost-marker", "marker")
    try:
        sc.parallelize([0], 1).count()
        return max(sc.statusTracker().getJobIdsForGroup("wave-cost-marker"))
    finally:
        sc.setJobGroup(None, None)


def _tasks_in_jobs(sc, first: int, last: int) -> int:
    """Tasks run by jobs first..last (inclusive). A job over zero
    partitions takes a job id but has no stage."""
    st = sc.statusTracker()
    jobs = [st.getJobInfo(j) for j in range(first, last + 1)]
    return sum(
        st.getStageInfo(s).numTasks for j in jobs if j is not None for s in j.stageIds
    )


def _classes_compiled(sc) -> int:
    """Generated classes the JVM has compiled so far; a hit in Spark's
    codegen cache compiles nothing."""
    metrics = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _small_crawl(spark, root: str) -> CrawlEngine:
    fx = make_fixture(n_hosts=4, urls_per_host=15, link_fanout=5.0, seed=23)
    web, corpus_src = engine_inputs(spark, fx)
    return CrawlEngine(spark, root, web, corpus_src, fx.robots, fx.seeds, fx.allowed_hosts)


def test_single_partition_seq_matches_and_runs_no_job(spark):
    sc = spark.sparkContext
    scheduled, _ = rank_within_budget(with_budget(_frontier(spark, n=500)))
    order = [F.col("fetch_ms"), F.col("host")]

    sc.setJobGroup("seq-32", "assign_global_seq npartitions=32")
    many = assign_global_seq(scheduled, order, seq_offset=7, npartitions=32)
    sc.setJobGroup("seq-1", "assign_global_seq npartitions=1")
    one = assign_global_seq(scheduled, order, seq_offset=7, npartitions=1)
    sc.setJobGroup("seq-rows", "collect")
    try:
        # the 32-way path collects its per-partition counts; one partition
        # needs no count, so building the frame starts no job at all
        assert _jobs_in(sc, "seq-32") > 0
        assert _jobs_in(sc, "seq-1") == 0
        key = ["url_canon", "seq"]
        rows_one = sorted(tuple(r) for r in one.select(*key).collect())
        rows_many = sorted(tuple(r) for r in many.select(*key).collect())
    finally:
        sc.setJobGroup(None, None)
    assert rows_one == rows_many
    assert sorted(s for _, s in rows_one) == list(range(7, 7 + len(rows_one)))


def test_bucketed_write_one_file_per_shard_dir(spark, tmp_path):
    rng = random.Random(3)
    rows = [
        (rng.getrandbits(63) - (1 << 62), f"http://h{i % 5}.test/p/{i}", 1)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, SEEN_SCHEMA).repartition(5)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.write_wave("seen", df, 1)

    wave_dir = os.path.join(wh.root, "seen", "wave=000001")
    shard_dirs = sorted(d for d in os.listdir(wave_dir) if d.startswith("shard="))
    assert {int(d.split("=")[1]) for d in shard_dirs} == {d % N_SHARDS for d, _, _ in rows}
    for d in shard_dirs:
        parts = [f for f in os.listdir(os.path.join(wave_dir, d)) if f.startswith("part-")]
        assert len(parts) == 1, (d, parts)
    got = sorted(tuple(r) for r in wh.read_appends("seen", 1, SEEN_SCHEMA).collect())
    assert got == sorted(rows)


def test_crawl_wave_job_bound(spark, tmp_path):
    sc = spark.sparkContext
    eng = _small_crawl(spark, str(tmp_path / "wh"))
    held = sc._jsc.getPersistentRDDs().size()
    jobs = []
    for _ in range(2):
        before = _marker_job_id(sc)
        assert eng.run_wave() is not None
        jobs.append(_marker_job_id(sc) - before - 1)
    # wave 0 includes the bootstrap's three table writes
    assert all(0 < n <= MAX_JOBS_PER_WAVE for n in jobs), jobs
    # each wave frees the rows it kept and the frames it persisted
    assert sc._jsc.getPersistentRDDs().size() == held


def test_rerun_wave_compiles_no_new_classes(spark, tmp_path):
    """The session's codegen cache holds a wave's generated classes: a wave
    re-run from its snapshot, with identical plans, compiles none (at
    Spark's default of 100 entries the crawl_drain wave compiled 167)."""
    sc = spark.sparkContext
    eng = _small_crawl(spark, str(tmp_path / "a"))
    assert eng.run_wave() is not None  # bootstrap and wave 0
    shutil.copytree(eng.wh.root, str(tmp_path / "b"))
    first = eng.run_wave()
    before = _classes_compiled(sc)
    again = _small_crawl(spark, str(tmp_path / "b")).run_wave()
    assert again == first
    assert _classes_compiled(sc) - before == 0


def test_empty_reads_have_no_partitions_and_start_no_job(spark, tmp_path):
    sc = spark.sparkContext
    wh = Warehouse(spark, str(tmp_path / "wh"))
    before = _marker_job_id(sc)
    empties = [
        wh.read_snapshot("frontier_pending", 0, FRONTIER_SCHEMA),
        wh.read_appends("corpus", 0, CORPUS_SCHEMA),
    ]
    assert [df.rdd.getNumPartitions() for df in empties] == [0, 0]
    after = _marker_job_id(sc)
    assert after - before - 1 == 0
    assert [df.collect() for df in empties] == [[], []]
    # collecting zero partitions takes a job id but runs no task
    assert _tasks_in_jobs(sc, after + 1, _marker_job_id(sc) - 1) == 0
    assert [df.schema for df in empties] == [FRONTIER_SCHEMA, CORPUS_SCHEMA]


def test_bootstrap_bloom_holds_only_seed_shards(spark, tmp_path):
    eng = _small_crawl(spark, str(tmp_path / "wh"))
    eng._bootstrap()
    seeds = eng.wh.read_snapshot("frontier_pending", 0, FRONTIER_SCHEMA).collect()
    bloom = eng.wh.read_snapshot("bloom", 0, BLOOM_SCHEMA).collect()
    shards = sorted(r.shard for r in bloom)
    assert shards == sorted({r.digest % BLOOM_SHARDS for r in seeds})
    assert 0 < len(shards) < BLOOM_SHARDS
