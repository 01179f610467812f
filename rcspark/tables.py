"""Iceberg-shaped table layer with a local snapshot/manifest fallback.

SURVEY.md A19 / §7.4: the north rule wants Iceberg tables with per-wave
snapshot checkpointing so a killed run resumes exactly. The sandbox has no
iceberg-spark-runtime jar, so this module provides the same commit contract
over plain parquet:

- each wave writes table data under ``<root>/<table>/wave=NNNNNN/`` via a
  write-to-temp + atomic ``os.rename`` (a stand-in for an Iceberg snapshot
  commit);
- a run is only advanced when ``commit(wave, meta)`` atomically replaces
  ``<root>/_manifest.json`` (stand-in for the Iceberg catalog pointer);
- resume reads the last committed manifest; any wave directories beyond it
  are uncommitted garbage from a killed run and are ignored/overwritten.

Tables come in two flavors:
- SNAPSHOT (``frontier_pending``, ``bloom``): each wave holds the full
  current state; read = latest committed wave only. (On real Iceberg this
  becomes copy-on-write MERGE.)
- APPEND (``seen``, ``fetch_log``, ``corpus``, ``lineage``): each wave adds
  rows; read = union of all committed waves. (On real Iceberg: appends.)

At 10^10-frontier scale the bindings change (Iceberg catalog + bucket(digest)
partition spec, see dedup.py/schedule.py docs) but this API surface does not.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SNAPSHOT_TABLES = {"frontier_pending", "bloom"}

# Tables laid out as bucket(digest, P) — the Iceberg partition-spec
# analogue in the parquet fallback: rows are hive-partitioned by
# shard = pmod(digest, P), one file per shard (clustered write). Iceberg
# binds the same spec with a true bucket transform; readers get
# shard-predicate partition pruning either way, and a digest-keyed
# operator (dedup anti-join, Bloom/cuckoo shard build) finds each key's
# rows in exactly one directory.
BUCKETED_TABLES = {"frontier_pending", "seen"}
N_SHARDS = 32  # == constants.BLOOM_SHARDS (kept literal: layout contract)

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("digest", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("discovered_wave", T.IntegerType(), False),
        T.StructField("retry_count", T.IntegerType(), False),
    ]
)

SEEN_SCHEMA = T.StructType(
    [
        T.StructField("digest", T.LongType(), False),
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("wave", T.IntegerType(), False),
    ]
)

BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("bits", T.BinaryType(), False),
        T.StructField("nbits", T.LongType(), False),
        T.StructField("k", T.IntegerType(), False),
    ]
)

FETCH_LOG_SCHEMA = T.StructType(
    [
        T.StructField("wave", T.IntegerType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("digest", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("status", T.IntegerType(), True),
        T.StructField("result", T.StringType(), False),
        T.StructField("fetch_ms", T.LongType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("retry_count", T.IntegerType(), False),
    ]
)

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), False),
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("wave", T.IntegerType(), False),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("wave", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("min_digest", T.LongType(), True),
        T.StructField("max_digest", T.LongType(), True),
        T.StructField("scheduled", T.LongType(), False),
        T.StructField("fetched", T.LongType(), False),
        T.StructField("retried", T.LongType(), False),
        T.StructField("robots_denied", T.LongType(), False),
        T.StructField("failed", T.LongType(), False),
        T.StructField("new_urls", T.LongType(), False),
    ]
)


def empty_frame(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """A `schema` frame with no rows and no partitions, so reading it runs
    no task. (createDataFrame([], schema) splits an empty list over the
    default parallelism and reads it back in Python workers.)"""
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)


class Warehouse:
    """Per-wave snapshot/append storage with atomic manifest commits."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_manifest.json")

    def last_committed(self) -> tuple[int, dict[str, Any]]:
        """(last committed wave, meta). (-1, {}) for a fresh warehouse."""
        if not os.path.exists(self._manifest_path):
            return -1, {}
        with open(self._manifest_path) as f:
            m = json.load(f)
        return m["wave"], m.get("meta", {})

    def commit(self, wave: int, meta: dict[str, Any]) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"wave": wave, "meta": meta}, f)
        os.replace(tmp, self._manifest_path)  # atomic on POSIX

    # -- named refs: tags + branches (Iceberg snapshot-ref semantics) -------
    # [U Iceberg spec §Snapshot References; the Write-Audit-Publish
    # workflow]: a TAG is an immutable named snapshot; a BRANCH is a
    # mutable named head that only moves FORWARD along the linear wave
    # log (this warehouse has no divergent lineages — fast-forward is the
    # only publish operation, exactly the WAP shape). Refs live in a
    # refs.json sidecar with the same atomic tmp+rename protocol as the
    # manifest.

    @property
    def _refs_path(self) -> str:
        return os.path.join(self.root, "refs.json")

    def _load_refs(self) -> dict[str, dict[str, Any]]:
        if not os.path.exists(self._refs_path):
            return {}
        with open(self._refs_path) as f:
            return json.load(f)

    def _save_refs(self, refs: dict[str, dict[str, Any]]) -> None:
        tmp = self._refs_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(refs, f)
        os.replace(tmp, self._refs_path)

    def set_tag(self, name: str, wave: int) -> None:
        """Create an immutable tag at `wave`; re-tagging raises."""
        refs = self._load_refs()
        if name in refs:
            raise ValueError(f"ref {name!r} already exists "
                             f"({refs[name]['kind']} at {refs[name]['wave']})")
        refs[name] = {"kind": "tag", "wave": int(wave)}
        self._save_refs(refs)

    def set_branch(self, name: str, wave: int) -> None:
        """Create a branch, or advance it FORWARD; moving a branch
        backward (or touching a tag) raises."""
        refs = self._load_refs()
        cur = refs.get(name)
        if cur is not None:
            if cur["kind"] != "branch":
                raise ValueError(f"ref {name!r} is a {cur['kind']}, not a branch")
            if int(wave) < cur["wave"]:
                raise ValueError(
                    f"branch {name!r} cannot move backward "
                    f"({cur['wave']} -> {wave})"
                )
        refs[name] = {"kind": "branch", "wave": int(wave)}
        self._save_refs(refs)

    def ref_head(self, name: str) -> tuple[str, int]:
        refs = self._load_refs()
        if name not in refs:
            raise KeyError(f"unknown ref {name!r}")
        return refs[name]["kind"], refs[name]["wave"]

    def fast_forward(self, branch: str, to_ref: str) -> int:
        """Publish: move `branch` forward to `to_ref`'s head (the WAP
        publish step). Returns the new head wave."""
        _, target = self.ref_head(to_ref)
        self.set_branch(branch, target)
        return target

    def read_ref(self, table: str, name: str, schema: T.StructType) -> DataFrame:
        """Read the table as of a ref's head (appends through that wave)."""
        _, wave = self.ref_head(name)
        return self.read_appends(table, wave, schema)

    # -- writes ------------------------------------------------------------
    def _wave_dir(self, table: str, wave: int) -> str:
        return os.path.join(self.root, table, f"wave={wave:06d}")

    def _write_atomic(self, final: str, fill: Callable[[str], None]) -> None:
        """Make directory `final` appear whole or not at all: `fill(tmp)`
        writes everything, sidecars included, into a temp dir that is then
        renamed to `final`. Both paths are cleared first — what they hold
        is garbage from a killed, uncommitted run."""
        tmp = final + ".inprogress"
        for p in (final, tmp):
            if os.path.exists(p):
                shutil.rmtree(p)
        fill(tmp)
        os.rename(tmp, final)

    def write_wave(self, table: str, df: DataFrame, wave: int) -> None:
        """Write one wave's data for `table` with an atomic dir rename.

        BUCKETED_TABLES are clustered by digest shard before writing
        (repartition by shard → partitionBy(shard) → one file per shard)."""
        self._write_atomic(
            self._wave_dir(table, wave), lambda tmp: self._write_data(table, df, tmp)
        )

    def _write_data(self, table: str, df: DataFrame, path: str) -> None:
        """Write `df` as parquet under `path`. BUCKETED_TABLES are hashed
        on shard first: every row of one shard meets in one task, so each
        non-empty shard= dir gets one file. The repartition names no
        partition count, so AQE sizes the task count to the rows instead
        of fanning a small wave out to N_SHARDS tasks."""
        if table in BUCKETED_TABLES and "digest" in df.columns:
            from pyspark.sql import functions as F

            (
                df.withColumn("shard", F.pmod(F.col("digest"), F.lit(N_SHARDS)).cast("int"))
                .repartition("shard")
                .write.mode("overwrite")
                .partitionBy("shard")
                .parquet(path)
            )
        else:
            df.write.mode("overwrite").parquet(path)

    # -- compaction (Iceberg rewrite-data-files analogue) -------------------
    def compact(self, table: str, schema: T.StructType) -> None:
        """Rewrite an APPEND table's committed wave dirs into one
        consolidated dir and advance the manifest atomically.

        A long crawl accumulates one small parquet dir per wave per table
        (the small-files problem); Iceberg solves it with rewrite_data_files
        + a metadata swap, and this is the same two-step here: write the
        union to ``compact=NNNNNN`` (temp + rename), then commit a manifest
        whose ``compacted[table]`` watermark tells read_appends to take the
        consolidated dir instead of the per-wave dirs ≤ it. Readers before
        the commit still see the old dirs (which stay on disk — the atomic
        manifest swap is the only visibility switch), so a kill anywhere
        mid-compaction leaves a fully consistent warehouse.

        Idempotent: a re-run at an unchanged watermark is a no-op (it must
        be — the consolidated dir is the only copy of gc()'d waves, so it
        is never deleted before its replacement is fully written).
        """
        assert table not in SNAPSHOT_TABLES, "compact() is for APPEND tables"
        c, meta = self.last_committed()
        if c < 0:
            return
        if int(meta.get("compacted", {}).get(table, -1)) == c:
            return  # nothing appended since the last compaction: no-op
        df = self.read_appends(table, c, schema)
        final = os.path.join(self.root, table, f"compact={c:06d}")
        tmp = final + ".inprogress"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        # Write the replacement FIRST; any prior compact dir (a lower
        # watermark, or an uncommitted leftover at this name) stays intact
        # and readable until the new copy exists on disk.
        self._write_data(table, df, tmp)
        if os.path.exists(final):  # uncommitted leftover from a killed attempt
            old = final + ".superseded"
            if os.path.exists(old):
                shutil.rmtree(old)
            os.rename(final, old)
            os.rename(tmp, final)
            shutil.rmtree(old)
        else:
            os.rename(tmp, final)
        compacted = dict(meta.get("compacted", {}))
        compacted[table] = c
        self.commit(c, {**meta, "compacted": compacted})

    def gc(self, table: str) -> list[str]:
        """Delete dirs the committed manifest can no longer reference:
        per-wave dirs ≤ the table's compaction watermark and superseded
        compact dirs. Safe to run any time AFTER the compaction commit
        (the atomic manifest swap is the visibility barrier — nothing
        reads these dirs once the watermark is in). Returns removed paths.
        """
        _, meta = self.last_committed()
        cw = int(meta.get("compacted", {}).get(table, -1))
        if cw < 0:
            return []
        removed = []
        gone_waves = []
        tdir = os.path.join(self.root, table)
        for name in sorted(os.listdir(tdir)):
            path = os.path.join(tdir, name)
            m_wave = re.fullmatch(r"wave=(\d+)", name)
            m_comp = re.fullmatch(r"compact=(\d+)", name)
            if m_wave and int(m_wave.group(1)) <= cw:
                shutil.rmtree(path)
                removed.append(path)
                gone_waves.append(int(m_wave.group(1)))
            elif m_comp and int(m_comp.group(1)) != cw:
                shutil.rmtree(path)
                removed.append(path)
            elif name.startswith(("wave=", "compact=")) and not (m_wave or m_comp):
                # crash leftovers from compact()'s write-first swap
                # ('compact=NNNNNN.inprogress' / '.superseded'): never
                # referenced by any manifest, always-deletable garbage —
                # and int(...) on them must not wedge gc forever (ADVICE r3)
                shutil.rmtree(path)
                removed.append(path)
        if gone_waves:
            self._record_gc(table, gone_waves)
        return removed

    def _gc_log_path(self, table: str) -> str:
        return os.path.join(self.root, table, "_gc.json")

    def _record_gc(self, table: str, waves: list[int]) -> None:
        """Tombstone the per-wave dirs gc() removed, so a later historical
        read (through_wave below the compaction watermark) can tell
        'this wave was never written' apart from 'this wave was deleted'."""
        path = self._gc_log_path(table)
        prior: list[int] = []
        if os.path.exists(path):
            with open(path) as f:
                prior = json.load(f).get("waves", [])
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"waves": sorted(set(prior) | set(waves))}, f)
        os.replace(tmp, path)

    def gc_tombstones(self, table: str) -> set[int]:
        path = self._gc_log_path(table)
        if not os.path.exists(path):
            return set()
        with open(path) as f:
            return set(json.load(f).get("waves", []))

    # -- reads -------------------------------------------------------------
    def _read_schema(self, table: str, schema: T.StructType) -> T.StructType:
        if table in BUCKETED_TABLES:
            return T.StructType(
                list(schema.fields) + [T.StructField("shard", T.IntegerType(), True)]
            )
        return schema

    def _read_dir(self, table: str, d: str, schema: T.StructType) -> DataFrame:
        if table in BUCKETED_TABLES:
            # basePath pins partition discovery to THIS wave dir so only the
            # shard= level is treated as a partition (wave=NNNNNN above it
            # would otherwise be discovered too and conflict across dirs)
            df = (
                self.spark.read.option("basePath", d)
                .schema(self._read_schema(table, schema))
                .parquet(d)
            )
            return df.drop("shard")
        return self.spark.read.schema(schema).parquet(d)

    def read_snapshot(self, table: str, wave: int, schema: T.StructType) -> DataFrame:
        """Latest-state table at `wave` (SNAPSHOT flavor)."""
        d = self._wave_dir(table, wave)
        if wave < 0 or not os.path.exists(d):
            return empty_frame(self.spark, schema)
        return self._read_dir(table, d, schema)

    def read_appends(self, table: str, through_wave: int, schema: T.StructType) -> DataFrame:
        """Union of all committed waves ≤ through_wave (APPEND flavor).
        If the manifest carries a compaction watermark for `table`, waves
        ≤ the watermark are read from the consolidated compact dir.

        Raises FileNotFoundError on a historical read (through_wave below
        the compaction watermark) that needs a per-wave dir gc() has
        deleted — the consolidated dir only serves reads AT the watermark,
        so such a read would otherwise silently return partial data."""
        _, meta = self.last_committed()
        cw = int(meta.get("compacted", {}).get(table, -1))
        dirs = []
        if cw >= 0 and cw <= through_wave:
            cd = os.path.join(self.root, table, f"compact={cw:06d}")
            if os.path.exists(cd):
                dirs.append(cd)
        else:
            if cw > through_wave:
                gone = self.gc_tombstones(table) & set(range(0, through_wave + 1))
                if gone:
                    raise FileNotFoundError(
                        f"read_appends({table!r}, through_wave={through_wave}) "
                        f"needs gc()'d wave dirs {sorted(gone)} (compaction "
                        f"watermark is {cw}); historical reads below the "
                        "watermark are only valid before gc()"
                    )
            cw = -1
        # a missing wave dir is fine (not every wave writes every table) —
        # unless gc() deleted it: then only the compact dir holds its rows,
        # and reaching this loop for that wave means the manifest lost the
        # compaction watermark (e.g. a commit that didn't carry meta
        # forward). Silently skipping would return partial data.
        needed = [
            w
            for w in range(cw + 1, through_wave + 1)
            if not os.path.exists(self._wave_dir(table, w))
        ]
        if needed:
            gone = self.gc_tombstones(table) & set(needed)
            if gone:
                raise FileNotFoundError(
                    f"read_appends({table!r}, through_wave={through_wave}) "
                    f"needs gc()'d wave dirs {sorted(gone)} but the manifest "
                    f"compaction watermark is {cw} — was the watermark "
                    "dropped by a commit that didn't carry meta forward?"
                )
        dirs += [
            self._wave_dir(table, w)
            for w in range(cw + 1, through_wave + 1)
            if os.path.exists(self._wave_dir(table, w))
        ]
        if not dirs:
            return empty_frame(self.spark, schema)
        if table in BUCKETED_TABLES:
            from functools import reduce

            return reduce(
                lambda a, b: a.unionByName(b),
                (self._read_dir(table, d, schema) for d in dirs),
            )
        return self.spark.read.schema(schema).parquet(*dirs)

    # -- merge-on-read row-level deletes (Iceberg v2 analogue) --------------
    # [U Iceberg spec §Row-level deletes / format-version=2]: instead of
    # rewriting data files, a delete WRITES a small delete file and readers
    # subtract it on the fly.  Two flavors, matching the spec:
    #   position deletes — (wave, pos) pairs naming physical rows.  `pos`
    #     is the row's ordinal in its wave file (Iceberg readers get it as
    #     the _pos metadata column; here the writer persists it, computed
    #     scalably — see queries.warehouse_position_deletes).  A position
    #     delete applies to rows in waves ≤ its own commit wave.
    #   equality deletes — key values + the delete's data sequence number
    #     (dseq = the wave it was committed in).  Per the spec an equality
    #     delete applies ONLY to data files with a strictly SMALLER
    #     sequence number, so a key re-inserted at wave ≥ dseq survives.
    # Delete files live under <table>/deletes-<kind>/wave=NNNNNN with the
    # same tmp+rename atomicity as data waves.

    def _delete_dir(self, table: str, kind: str, wave: int) -> str:
        return os.path.join(self.root, table, f"deletes-{kind}", f"wave={wave:06d}")

    def write_delete_file(
        self, table: str, df: DataFrame, wave: int, kind: str
    ) -> None:
        """Write one wave's delete file (kind: 'position' | 'equality')."""
        if kind not in ("position", "equality"):
            raise ValueError(f"unknown delete kind {kind!r}")
        self._write_atomic(
            self._delete_dir(table, kind, wave),
            lambda tmp: df.write.mode("overwrite").parquet(tmp),
        )

    def read_delete_files(
        self, table: str, kind: str, through_wave: int, schema: T.StructType
    ) -> DataFrame:
        dirs = [
            self._delete_dir(table, kind, w)
            for w in range(0, through_wave + 1)
            if os.path.exists(self._delete_dir(table, kind, w))
        ]
        if not dirs:
            return empty_frame(self.spark, schema)
        return self.spark.read.schema(schema).parquet(*dirs)

    def read_mor(
        self,
        table: str,
        through_wave: int,
        schema: T.StructType,
        eq_key: str | None = None,
    ) -> DataFrame:
        """Merge-on-read: data waves ≤ through_wave minus position deletes
        (anti-join on (wave, pos)) minus applicable equality deletes
        (key match AND delete dseq > row's wave).  Delete sets are tiny
        relative to data (that is the point of MoR), so both anti-joins
        broadcast the delete side."""
        from pyspark.sql import functions as F

        data = self.read_appends(table, through_wave, schema)
        pos_schema = T.StructType(
            [
                T.StructField("wave", T.LongType(), False),
                T.StructField("pos", T.LongType(), False),
            ]
        )
        pdel = self.read_delete_files(table, "position", through_wave, pos_schema)
        data = data.join(F.broadcast(pdel), ["wave", "pos"], "left_anti")
        if eq_key is not None:
            eq_schema = T.StructType(
                [
                    T.StructField(eq_key, T.LongType(), False),
                    T.StructField("dseq", T.LongType(), False),
                ]
            )
            edel = self.read_delete_files(
                table, "equality", through_wave, eq_schema
            ).withColumnRenamed(eq_key, "_ek")
            data = data.join(
                F.broadcast(edel),
                (F.col(eq_key) == F.col("_ek")) & (F.col("dseq") > F.col("wave")),
                "left_anti",
            )
        return data


# ---------------------------------------------------------------------------
# Partition-spec evolution (batch 22) — the Iceberg behavior the fallback
# layer was missing a visible surface for: a table's partition layout can
# CHANGE mid-history (spec v1 → v2); old waves keep their old directory
# layout, new waves are written under the new spec, and a spec-aware read
# prunes each wave by ITS OWN spec (Iceberg records spec_id per manifest;
# here a _spec.json sidecar per wave dir — Spark ignores underscore files).
# ---------------------------------------------------------------------------

def _spec_path(wave_dir: str) -> str:
    return os.path.join(wave_dir, "_spec.json")


class SpecWarehouse(Warehouse):
    """Warehouse + per-wave partition specs. Kept as a subclass so the
    engine's committed Warehouse behavior (compact/gc/tombstones) stays
    byte-pinned by the existing e2e tests."""

    def write_wave_spec(
        self, table: str, df: DataFrame, wave: int, spec_cols: list[str]
    ) -> None:
        """Write one wave under an explicit partition spec, recording the
        spec beside the data (atomic dir rename, same crash discipline as
        write_wave)."""

        def fill(tmp: str) -> None:
            (
                df.repartition(*spec_cols)
                .write.mode("overwrite")
                .partitionBy(*spec_cols)
                .parquet(tmp)
            )
            with open(_spec_path(tmp), "w") as f:
                json.dump({"spec": spec_cols}, f)

        self._write_atomic(self._wave_dir(table, wave), fill)

    def wave_spec(self, table: str, wave: int) -> list[str]:
        with open(_spec_path(self._wave_dir(table, wave))) as f:
            return list(json.load(f)["spec"])

    def read_wave_pruned(
        self,
        table: str,
        wave: int,
        schema: T.StructType,
        prune: dict[str, str],
    ) -> tuple[DataFrame, int]:
        """(rows matching `prune`, leaf dirs scanned) for one wave.

        Prune keys present in THIS wave's spec prune at the directory
        level (the planner never lists the excluded subtrees — at 10^10
        rows that is the difference between touching one host's files and
        touching the wave); keys not in the spec fall back to a post-scan
        filter over the full wave dir, exactly how Iceberg reads pre-
        evolution data files."""
        import glob as _glob

        from pyspark.sql import functions as F

        d = self._wave_dir(table, wave)
        spec = self.wave_spec(table, wave)
        # leaf-dir glob under the wave dir: spec col k is dir level i
        parts = [
            (f"{c}={prune[c]}" if c in prune else "*") for c in spec
        ]
        pattern = os.path.join(d, *parts) if parts else d
        leaf_dirs = sorted(
            p
            for p in _glob.glob(pattern)
            if os.path.isdir(p)
            and (not spec or os.path.basename(p).startswith(f"{spec[-1]}="))
        )
        residual = {k: v for k, v in prune.items() if k not in spec}
        if not leaf_dirs:  # fully pruned wave: zero dirs touched
            return empty_frame(self.spark, schema), 0
        df = (
            self.spark.read.option("basePath", d)
            .schema(schema)
            .parquet(*leaf_dirs)
        )
        for k, v in residual.items():
            df = df.filter(F.col(k) == v)
        return df, len(leaf_dirs)


# ---------------------------------------------------------------------------
# Schema evolution (batch 22): Iceberg renames/adds columns by FIELD ID —
# old data files keep their old column names; the reader maps each wave's
# columns to the latest schema through the shared ids and NULL-fills
# added fields. Fallback: a _schema.json sidecar per wave recording
# {column_name: field_id}.
# ---------------------------------------------------------------------------

def _schema_sidecar(wave_dir: str) -> str:
    return os.path.join(wave_dir, "_schema.json")


class EvoWarehouse(SpecWarehouse):
    def write_wave_ids(
        self, table: str, df: DataFrame, wave: int, field_ids: dict[str, int]
    ) -> None:
        """Atomic wave write + field-id sidecar. `field_ids` maps every
        column of df to its stable Iceberg-style field id. The sidecar is
        written INTO the tmp dir before the rename (write_wave_spec's
        crash discipline) — a kill can never leave a committed-looking
        wave dir without its schema metadata."""
        missing = set(df.columns) - set(field_ids)
        if missing:
            raise ValueError(f"field_ids missing for {sorted(missing)}")
        if table in BUCKETED_TABLES:
            # this path skips write_wave's digest-shard clustering branch;
            # refuse rather than silently lose bucketing (ADVICE r4)
            raise ValueError(
                f"{table} is bucketed — use write_wave, not write_wave_ids"
            )

        def fill(tmp: str) -> None:
            df.write.mode("overwrite").parquet(tmp)
            with open(_schema_sidecar(tmp), "w") as f:
                json.dump({"field_ids": field_ids}, f)

        self._write_atomic(self._wave_dir(table, wave), fill)

    def read_wave_evolved(
        self,
        table: str,
        wave: int,
        latest_schema: T.StructType,
        latest_ids: dict[str, int],
    ) -> DataFrame:
        """One wave's rows projected to the LATEST schema: columns are
        matched by field id (so renames are free), fields with no id in
        the wave (added after it was written) come back NULL — exactly
        Iceberg's read-time projection semantics."""
        from pyspark.sql import functions as F

        d = self._wave_dir(table, wave)
        with open(_schema_sidecar(d)) as f:
            wave_ids: dict[str, int] = json.load(f)["field_ids"]
        by_id = {v: k for k, v in wave_ids.items()}
        raw = self.spark.read.parquet(d)
        cols = []
        for field in latest_schema.fields:
            old = by_id.get(latest_ids[field.name])
            if old is not None and old in raw.columns:
                cols.append(F.col(old).cast(field.dataType).alias(field.name))
            else:
                cols.append(F.lit(None).cast(field.dataType).alias(field.name))
        return raw.select(*cols)


# ---------------------------------------------------------------------------
# Hidden partitioning (batch 22): Iceberg partitions by TRANSFORMS of
# source columns (bucket(n, col), days(ts), truncate(w, col)) — the user
# never materializes or filters the partition column; predicates on the
# SOURCE column prune directories through the transform. Fallback: the
# transform spec lives in the _spec.json sidecar, the transformed column
# is written as the hive dir level and dropped on read.
# ---------------------------------------------------------------------------

class HiddenPartWarehouse(EvoWarehouse):
    _DAY_FMT = "yyyy-MM-dd"

    def _hidden_expr(self, entry: dict):
        from pyspark.sql import functions as F

        t, col = entry["transform"], entry["col"]
        if t == "bucket":
            return F.pmod(F.col(col), F.lit(int(entry["n"]))).cast("int")
        if t == "days":
            return F.date_format(F.col(col), self._DAY_FMT)
        if t == "truncate":
            return F.substring(F.col(col), 1, int(entry["n"]))
        raise ValueError(f"unknown transform {t!r}")

    def _hidden_value(self, entry: dict, source_value) -> str:
        """Driver-side twin of _hidden_expr for pruning: the partition-dir
        string a source-column predicate value lands in."""
        t = entry["transform"]
        if t == "bucket":
            return str(int(source_value) % int(entry["n"]))
        if t == "days":
            return str(source_value)  # callers pass the day string itself
        if t == "truncate":
            return str(source_value)[: int(entry["n"])]
        raise ValueError(f"unknown transform {t!r}")

    def write_wave_hidden(
        self, table: str, df: DataFrame, wave: int, hspec: list[dict]
    ) -> None:
        out = df
        names = []
        for e in hspec:
            out = out.withColumn(e["name"], self._hidden_expr(e))
            names.append(e["name"])

        def fill(tmp: str) -> None:
            (
                out.repartition(*names)
                .write.mode("overwrite")
                .partitionBy(*names)
                .parquet(tmp)
            )
            with open(_spec_path(tmp), "w") as f:
                json.dump({"hidden": hspec}, f)

        self._write_atomic(self._wave_dir(table, wave), fill)

    def read_wave_hidden_pruned(
        self,
        table: str,
        wave: int,
        schema: T.StructType,
        prune: dict[str, object],
    ) -> tuple[DataFrame, int]:
        """(rows whose SOURCE columns satisfy `prune`, leaf dirs scanned).

        Directory pruning goes through each spec entry's transform (the
        hidden-partitioning contract); transforms are lossy, so the source
        predicate is ALSO applied as a row filter — prune decides what is
        LISTED, the filter decides what is returned, exactly Iceberg's
        partition-pruning + row-filter split."""
        import glob as _glob

        from pyspark.sql import functions as F

        d = self._wave_dir(table, wave)
        with open(_spec_path(d)) as f:
            hspec = json.load(f)["hidden"]
        parts = []
        for e in hspec:
            if e["col"] in prune:
                parts.append(f"{e['name']}={self._hidden_value(e, prune[e['col']])}")
            else:
                parts.append("*")
        leaf = hspec[-1]["name"]
        leaf_dirs = sorted(
            p
            for p in _glob.glob(os.path.join(d, *parts))
            if os.path.isdir(p) and os.path.basename(p).startswith(f"{leaf}=")
        )
        if not leaf_dirs:
            return empty_frame(self.spark, schema), 0
        read_schema = T.StructType(
            list(schema.fields)
            + [T.StructField(e["name"], T.StringType(), True) for e in hspec]
        )
        df = (
            self.spark.read.option("basePath", d)
            .schema(read_schema)
            .parquet(*leaf_dirs)
            .drop(*[e["name"] for e in hspec])
        )
        for e in hspec:
            if e["col"] not in prune:
                continue
            v = prune[e["col"]]
            if e["transform"] == "days":
                df = df.filter(F.date_format(F.col(e["col"]), self._DAY_FMT) == v)
            else:
                df = df.filter(F.col(e["col"]) == v)
        return df, len(leaf_dirs)
