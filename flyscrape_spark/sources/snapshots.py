"""Snapshot-committed table store: parquet data files + atomic JSON
manifests, one snapshot per crawl generation.

This reproduces the Iceberg usage the design calls for (SURVEY §3:
"snapshot-tag per generation", resume = last complete snapshot) without
Iceberg jars, which this environment lacks. The layout is deliberately
Iceberg-shaped so a real catalog can be swapped in on a cluster:

    root/
      data/<table>/gen=NNNNNN/part-*.parquet   -- immutable data files
      _manifests/gen-NNNNNN.json               -- atomic commit marker:
          {gen, tables, schemas, metrics, next_order, lineage}

A generation is visible iff its manifest exists; manifests are written
tmp+rename (atomic on POSIX), so a killed job leaves at most an
invisible partial data dir and resume starts from the last *complete*
generation with zero re-fetches of committed work.

``schemas`` maps each table to the Spark schema (JSON) it was written
with; every read — the commit's read-back, ``resume``, ``invalidate``
— passes it to the reader, so no parquet footer is read in a Spark job
to infer it. Manifests written before the field existed still load
(their tables are read with inference).

Per-partition lineage (north_rule): each commit records, for the
generation's frontier, per-partition row counts, host ranges
(``host_of``) and minimum depth, all from one aggregate over the
committed frontier. Every table's row count rides its parquet write as
an ``Observation``. The engine reads a generation's enqueued count and
minimum depth from these (:meth:`SnapshotStore.stats`), so neither
costs a job of its own.

The reference's analog is the bbolt HTTP cache
(/root/reference/modules/cache/cache.go:46-81) — a KV of fetched
responses giving idempotent re-runs; here the fetched snapshots ARE
the cache, consulted by generation anti-joins instead of per-URL gets.
"""

from __future__ import annotations

import json
import os
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from flyscrape_spark.functions.urls import host_of


class SnapshotStore:
    def __init__(self, root: str):
        self.root = Path(root)
        (self.root / "_manifests").mkdir(parents=True, exist_ok=True)
        self._pending: dict[int, dict] = {}

    # -- paths ------------------------------------------------------------

    def _data_dir(self, table: str, gen: int) -> Path:
        return self.root / "data" / table / f"gen={gen:06d}"

    def _manifest_path(self, gen: int) -> Path:
        return self.root / "_manifests" / f"gen-{gen:06d}.json"

    # -- commit protocol ---------------------------------------------------

    def commit(self, df: DataFrame, table: str, gen: int) -> DataFrame:
        """Write a generation's table and return the read-back handle
        (lineage-truncated: downstream plans scan parquet, not the
        upstream DAG). The read-back takes the written frame's schema,
        so it runs no schema-inference job; the row count rides the
        write (an ``Observation``), and a frontier table also gets its
        lineage aggregate. Both land in :meth:`stats`."""
        path = str(self._data_dir(table, gen))
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite").parquet(path)
        out = df.sparkSession.read.schema(df.schema).parquet(path)
        pending = self._pending.setdefault(
            gen, {"tables": {}, "schemas": {}, "stats": {}})
        pending["tables"][table] = path
        pending["schemas"][table] = json.loads(out.schema.json())
        stats = {"rows": obs.get["rows"]}
        if table == "frontier":
            pending["lineage"] = self._partition_lineage(out)
            stats["depth_min"] = min(
                (p["depth_min"] for p in pending["lineage"]), default=None)
        pending["stats"][table] = stats
        return out

    def stats(self, gen: int, table: str) -> dict:
        """What committing ``table`` for the pending generation ``gen``
        measured on the way: ``rows``, and for the frontier also
        ``depth_min`` (None when empty)."""
        return self._pending[gen]["stats"][table]

    @staticmethod
    def _partition_lineage(frontier: DataFrame) -> list[dict]:
        """Per-partition lineage: row count, host range and minimum
        depth, in one aggregate."""
        rows = (
            frontier.withColumn("host", host_of("url"))
            .withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg(
                F.count("*").alias("rows"),
                F.min("host").alias("host_min"),
                F.max("host").alias("host_max"),
                F.min("depth").alias("depth_min"),
            )
            .collect()
        )
        return [r.asDict() for r in rows]

    def commit_meta(self, gen: int, metrics: dict, next_order: int) -> None:
        """Atomically publish the generation (tmp+rename)."""
        pending = self._pending.pop(gen, {"tables": {}})
        manifest = {
            "gen": gen,
            "tables": pending["tables"],
            "schemas": pending.get("schemas", {}),
            "lineage": pending.get("lineage", []),
            "metrics": metrics,
            "next_order": next_order,
        }
        fd, tmp = tempfile.mkstemp(dir=self.root / "_manifests", suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(gen))

    # -- cache bypass / force-refetch ----------------------------------------

    def invalidate(self, spark: SparkSession, urls: list[str]) -> int:
        """Force-refetch: drop ``urls`` from every committed frontier
        and fetched snapshot, and queue them for re-enqueue on the
        next resume. The reference analog is the cache-bypass header
        (/root/reference/utils.go:14, modules/cache/cache.go:89-95):
        a bypassed URL's cached response is ignored and refetched.

        Mechanics: each affected snapshot is rewritten WITHOUT the
        URLs into a fresh data dir, the manifest is atomically updated
        to point at it (tmp+rename, same protocol as commit_meta), and
        the dropped frontier rows (url, depth) are recorded under
        ``_invalidated/``. ``resume`` re-admits them as candidates —
        the seen anti-join passes (they are gone from seen), so they
        refetch exactly once; everything else stays zero-refetch.
        Returns the number of frontier rows invalidated."""
        import uuid

        urls = [u.strip() for u in urls if u and u.strip()]
        if not urls:
            return 0
        entries: list[dict] = []
        for m in self.manifests():
            gen = m["gen"]
            changed = False
            for table in ("frontier", "fetched", "links"):
                path = m["tables"].get(table)
                if not path:
                    continue
                df = self._read(spark, m, table)
                hits = df.filter(F.col("url").isin(urls))
                hit_rows = hits.select(
                    "url", *(["depth"] if "depth" in df.columns else [])
                ).collect()
                if not hit_rows:
                    continue
                if table == "frontier":
                    entries.extend(
                        {"url": r["url"], "depth": r["depth"]} for r in hit_rows
                    )
                new_path = str(
                    self._data_dir(table, gen).parent
                    / f"gen={gen:06d}-inv-{uuid.uuid4().hex[:8]}"
                )
                df.filter(~F.col("url").isin(urls)).write.mode(
                    "overwrite"
                ).parquet(new_path)
                m["tables"][table] = new_path
                changed = True
            if changed:
                fd, tmp = tempfile.mkstemp(
                    dir=self.root / "_manifests", suffix=".tmp"
                )
                with os.fdopen(fd, "w") as f:
                    json.dump(m, f)
                os.replace(tmp, self._manifest_path(gen))
        if entries:
            inv_dir = self.root / "_invalidated"
            inv_dir.mkdir(exist_ok=True)
            fd, tmp = tempfile.mkstemp(dir=inv_dir, suffix=".tmp")
            with os.fdopen(fd, "w") as f:
                json.dump(entries, f)
            os.replace(tmp, inv_dir / f"inv-{uuid.uuid4().hex[:8]}.json")
        return len(entries)

    def _consume_invalidated(self) -> list[dict]:
        inv_dir = self.root / "_invalidated"
        if not inv_dir.exists():
            return []
        entries: list[dict] = []
        for p in sorted(inv_dir.glob("inv-*.json")):
            with open(p) as f:
                entries.extend(json.load(f))
            os.unlink(p)
        return entries

    # -- resume -------------------------------------------------------------

    @staticmethod
    def _read(spark: SparkSession, manifest: dict, table: str) -> DataFrame:
        """A committed table, read with its recorded schema (no
        inference job); manifests without ``schemas`` infer it."""
        path = manifest["tables"][table]
        schema = manifest.get("schemas", {}).get(table)
        if schema is None:
            return spark.read.parquet(path)
        return spark.read.schema(StructType.fromJson(schema)).parquet(path)

    def manifests(self) -> list[dict]:
        out = []
        for p in sorted((self.root / "_manifests").glob("gen-*.json")):
            with open(p) as f:
                out.append(json.load(f))
        return out

    def resume(self, spark: SparkSession):
        """Return engine state after the last complete generation, or
        None for a fresh crawl:
        (seen_frames, candidates, result_frames, metrics, start_gen,
        next_order). Tables are read with the schemas their manifests
        record, so resuming launches no Spark job."""
        manifests = self.manifests()
        if not manifests:
            return None
        last = manifests[-1]
        gens = [m["gen"] for m in manifests]
        seen_frames = [
            self._read(spark, m, "frontier")
            for m in manifests if "frontier" in m["tables"]
        ]
        result_frames = [
            self._read(spark, m, "fetched")
            for m in manifests if "fetched" in m["tables"]
        ]
        if "links" in last["tables"]:
            candidates = self._read(spark, last, "links")
        else:
            candidates = None
        # force-refetch queue: invalidated URLs re-enter as candidates
        # at their original depth, ordered before link-derived ones
        invalidated = self._consume_invalidated()
        if invalidated:
            from flyscrape_spark.plans.frontier import CAND_SCHEMA

            inv_df = spark.createDataFrame(
                [
                    (e["url"], int(e["depth"]), -1, i)
                    for i, e in enumerate(invalidated)
                ],
                CAND_SCHEMA,
            )
            candidates = (
                inv_df if candidates is None
                else inv_df.unionByName(candidates)
            )
        metrics = [m["metrics"] for m in manifests]
        return (
            seen_frames, candidates, result_frames, metrics,
            max(gens) + 1, last["next_order"],
        )
