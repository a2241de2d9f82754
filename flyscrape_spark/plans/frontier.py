"""The batched BFS URL-frontier — the engine core.

Reference model: a FIFO channel + 500 goroutines + an in-memory
visited hashmap, dedup at enqueue time (/root/reference/scrape.go:
62-131, 270-288). Spark model (SURVEY §3): one DataFrame job per BFS
generation; the frontier *is* a DataFrame; the visited set is an
accumulated hash-keyed table consulted via left-anti join; link
extraction is a vectorized Arrow UDF + posexplode; canonical crawl
order is the sequential-BFS serialization ``(depth, discovery_order)``.

Order of operations per generation — pinned by the reference and easy
to get wrong (SURVEY §7 "What's hard"):

    trim -> in-generation first-seen dedup -> anti-join seen
         -> MARK SEEN (all enqueued URLs, even ones validators will
            drop: scrape.go:276-285 marks visited at enqueue, while
            validators run at fetch time, scrape.go:162-168)
         -> validators (depth <= max, domain, url-regex)
         -> fetch -> extract spans -> extract links -> next generation

Scale design notes (100 TB / 10^10-URL frontier):
- the anti-join shuffles on a 64-bit xxhash64 key, not URL strings;
  the exact URL string rides along as a collision tiebreak.
- Catalyst's runtime bloom injection does NOT cover anti-join build
  sides (measured, BENCH.md), so the engine carries its own explicit
  broadcast bloom (operators/bloom.py, ``seen_bloom=``): definitely-
  unseen candidates bypass the anti-join shuffle entirely, and the
  bitmap grows incrementally (per-generation admitted keys only) —
  the north_star's "broadcast bloom filter" made real.
- lineage is truncated every generation (localCheckpoint here;
  snapshot-table commits in checkpointed mode) so plans stay O(1) in
  the number of generations.
- a small generation's cost is its count of Spark jobs, so no number
  gets a job of its own: the enqueued count and minimum depth ride the
  bucketed ordering's counts collect, the snapshot commit's lineage
  aggregate, or the job that pins the frontier; committed row counts
  ride the parquet write (an Observation); snapshots read back with
  the schema they were written with (no inference job).
- a generation whose URLs all lie past ``config.depth`` (its minimum
  depth, from the aggregate above) is still deduplicated, ordered and
  marked seen, but skips robots.txt, fetch and parse and ends the
  crawl; under a checkpoint it commits empty fetched/links tables.
- canonical total order costs one global sort per generation over
  *newly discovered* URLs only; ``assign_order=False`` skips it for
  throughput benchmarks where order equality is not being asserted.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field as dc_field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flyscrape_spark.config import CrawlConfig
from flyscrape_spark.functions.urls import canonicalize, host_of, host_of_str
from flyscrape_spark.operators.robots import (
    ROBOTS_SCHEMA,
    allowed_filter,
    robots_table,
)
from flyscrape_spark.parse.udfs import make_page_udf
from flyscrape_spark.plans import filters as filter_mod
from flyscrape_spark.plans.filters import validators
from flyscrape_spark.plans.priority import prioritize_frontier
from flyscrape_spark.sources.transport import Transport

CAND_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("depth", IntegerType()),
        StructField("parent_order", LongType()),
        StructField("pos", IntegerType()),
    ]
)

SEEN_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("url_key", LongType()),
        StructField("depth", IntegerType()),
        StructField("discovery_order", LongType()),
    ]
)

# fingerprint mode (CrawlConfig.seen_fingerprint): the seen set also
# carries the second 64-bit key so the anti-join never touches strings
SEEN_SCHEMA_FP = StructType(
    list(SEEN_SCHEMA.fields) + [StructField("url_key2", LongType())]
)


def assign_global_order(
    df: DataFrame, sort_cols: list[str], out_col: str, start: int = 0,
    parts: int | None = None,
) -> DataFrame:
    """Scalable total ordering: global row numbers by ``sort_cols``
    without a single-partition window sort. See
    :func:`assign_global_order_counted` (this is the thin wrapper
    that discards the row count)."""
    return assign_global_order_counted(df, sort_cols, out_col, start,
                                       parts)[0]


def assign_global_order_counted(
    df: DataFrame, sort_cols: list[str], out_col: str, start: int = 0,
    parts: int | None = None,
    bounds: tuple[int, int] | None = None,
) -> tuple[DataFrame, int]:
    """Scalable total ordering: global row numbers by ``sort_cols``
    without a single-partition window sort. Returns (numbered_df,
    total_rows) — the total falls out of the per-bucket counts, so
    callers need NO separate count() job over the result.

    Two modes, same exact result:

    ``bounds=(lo, hi)`` — DETERMINISTIC bucketing (the frontier hot
    path): the caller knows the first sort column's value range (a
    generation's parent_order values are exactly the previous
    generation's discovery_order slice), so bucket ids come from a
    monotonic clamped affine map — NO range-bound sampling job and no
    input pin; the whole ordering is ONE shuffle job + one tiny
    counts collect per generation. Rows hash-shuffle on the bucket
    id (a bucket lives in exactly one partition; one partition may
    hold several buckets, sorted contiguously), per-BUCKET counts
    give offsets, and the numbering pass keeps a per-bucket running
    counter. Correct for ANY monotonic bucketing — bad bounds only
    cost balance, never order. 64x more buckets than partitions keep
    hash-placement imbalance small (~1/sqrt(64) = ±12%; with only a
    few buckets per partition, murmur placement of consecutive ints
    is lumpy — measured 2.3x skew + empty partitions at 8x).

    ``bounds=None`` — SAMPLED range partitioning (generic fallback,
    exact balance): PIN the input first (one eager localCheckpoint —
    without it ``repartitionByRange``'s sampling pass and the shuffle
    itself would each execute the full upstream plan), then
    range-repartition, count per partition, number with offsets.

    Requires unique sort keys (the generation's (parent_order, pos)
    are unique), which makes the result independent of bucket/range
    boundaries. The shuffled output is localCheckpoint-pinned so the
    counts job and the numbering job see the same partitioning."""
    spark = df.sparkSession
    if parts is None:
        parts = spark.sparkContext.defaultParallelism
    if bounds is not None:
        return _assign_order_bucketed(
            df, sort_cols, out_col, start, parts, bounds)[:2]
    pinned = df.localCheckpoint(eager=True)
    ranged = (
        pinned.repartitionByRange(parts, *[F.col(c) for c in sort_cols])
        .sortWithinPartitions(*sort_cols)
        .localCheckpoint(eager=True)
    )
    counts = {
        r["pid"]: r["n"]
        for r in ranged.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").agg(F.count("*").alias("n")).collect()
    }
    offsets = {}
    acc = start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    # StructType.add mutates in place — build a fresh copy
    schema = StructType(list(ranged.schema.fields) + [StructField(out_col, LongType())])

    def number(iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        offset = offsets.get(pid, 0)
        emitted = 0
        for pdf in iterator:
            pdf[out_col] = range(offset + emitted, offset + emitted + len(pdf))
            emitted += len(pdf)
            yield pdf

    return ranged.mapInPandas(number, schema=schema), acc - start


def _assign_order_bucketed(
    df: DataFrame, sort_cols: list[str], out_col: str, start: int,
    parts: int, bounds: tuple[int, int], min_col: str | None = None,
) -> tuple[DataFrame, int, object]:
    """Deterministic-bucket enumeration (see
    :func:`assign_global_order_counted` ``bounds`` mode). One shuffle
    job (which also materializes the upstream exactly once) + one
    O(buckets) collect. Returns (numbered_df, total_rows, min of
    ``min_col``); the minimum rides the per-bucket counts collect
    (None without ``min_col`` or rows)."""
    lo, hi = bounds
    n_buckets = parts * 64
    span = max(int(hi) - int(lo), 1)
    head = F.col(sort_cols[0]).cast("double")
    gid = F.least(
        F.lit(n_buckets - 1),
        F.greatest(
            F.lit(0),
            F.floor((head - F.lit(float(lo))) * n_buckets / span),
        ),
    ).cast("int")
    ranged = (
        df.withColumn("__gid", gid)
        .repartition(parts, "__gid")
        .sortWithinPartitions("__gid", *sort_cols)
        .localCheckpoint(eager=True)
    )
    lowest = F.min(min_col) if min_col else F.lit(None)
    rows = (
        ranged.groupBy("__gid")
        .agg(F.count("*").alias("n"), lowest.alias("lo")).collect()
    )
    counts = {r["__gid"]: r["n"] for r in rows}
    col_min = min((r["lo"] for r in rows if r["lo"] is not None),
                  default=None)
    offsets = {}
    acc = start
    for g in sorted(counts):
        offsets[g] = acc
        acc += counts[g]
    schema = StructType(
        [f for f in ranged.schema.fields if f.name != "__gid"]
        + [StructField(out_col, LongType())]
    )

    def number(iterator):
        # rows arrive bucket-contiguous and sorted (partition-level
        # sort survives Arrow batching); a bucket lives in exactly one
        # partition, so per-bucket running counters are exact
        emitted: dict[int, int] = {}
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            base = {
                g: offsets[g] + emitted.get(g, 0)
                for g in pdf["__gid"].unique()
            }
            cum = pdf.groupby("__gid", sort=False).cumcount()
            pdf[out_col] = pdf["__gid"].map(base).astype("int64") + cum
            for g, c in pdf["__gid"].value_counts().items():
                emitted[int(g)] = emitted.get(int(g), 0) + int(c)
            yield pdf.drop(columns=["__gid"])

    return ranged.mapInPandas(number, schema=schema), acc - start, col_min


def _union(frames: list[DataFrame]) -> DataFrame | None:
    """unionByName fold of a frame list; None when it is empty."""
    return reduce(lambda a, b: a.unionByName(b), frames) if frames else None


@dataclass
class CrawlResult:
    seen: DataFrame          # every enqueued URL: (url, url_key, depth, discovery_order)
    results: DataFrame       # every fetched URL + spans/data/error
    generations: int
    metrics: list[dict] = dc_field(default_factory=list)
    robots: DataFrame | None = None  # (host, rules, crawl_delay) cache, respect_robots mode


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        config: CrawlConfig,
        transport: Transport,
        extract_udf=None,
        script_udf=None,  # parse.script.make_script_udf: struct<data, follow_urls>
        assign_order: bool = True,
        keep_body: bool = False,
        checkpoint=None,  # optional SnapshotStore for resumable crawls
        max_generations: int = 1000,
        small_generation_rows: int = 50_000,
        seen_store=None,  # optional BucketedSeenStore (shuffle-free anti-join)
        seen_bloom=None,  # optional BroadcastBloom (candidate-side prefilter)
        seen_cuckoo=None,  # optional CuckooShards (sharded prefilter w/ delete)
        collect_metrics: bool = True,
        priority_scores=None,  # optional (url_key, score) DataFrame for
        # best-first admission under config.generation_budget
    ):
        self.spark = spark
        self.config = config
        self.transport = transport
        self.extract_udf = extract_udf
        self.script_udf = script_udf
        self.assign_order = assign_order
        self.keep_body = keep_body
        self.checkpoint = checkpoint
        self.max_generations = max_generations
        self.small_generation_rows = small_generation_rows
        self.seen_store = seen_store
        self.seen_bloom = seen_bloom
        self.seen_cuckoo = seen_cuckoo
        self.priority_scores = priority_scores
        # checkpointed crawls always record full lineage metrics
        # (manifests carry them, north_rule); plain crawls may skip
        # the extra per-generation count job
        self.collect_metrics = collect_metrics or checkpoint is not None
        self.page_udf = make_page_udf(config.follow_selectors())

    def _set_generation_mode(self, est_rows: int) -> None:
        """Per-generation execution mode. BFS frontiers span 6+ orders
        of magnitude across one crawl (1 seed -> millions of URLs); a
        fixed physical config is wrong at one end or the other. Small
        generations run latency-mode: AQE off (its stage-materialization
        barriers cost ~1s/generation and buy nothing at these sizes)
        and a handful of shuffle partitions. Large generations run
        throughput-mode: AQE on (runtime coalescing, skew-join
        splitting) with the session's full partition count. Both confs
        are runtime-settable per Spark docs, so the engine flips them
        between generations as the measured frontier size crosses the
        threshold."""
        conf = self.spark.conf
        self._latency_mode = est_rows < self.small_generation_rows
        if self._latency_mode:
            conf.set("spark.sql.adaptive.enabled", "false")
            conf.set("spark.sql.shuffle.partitions", "4")
        else:
            conf.set("spark.sql.adaptive.enabled", self._base_aqe)
            conf.set("spark.sql.shuffle.partitions", self._base_parts)

    # -- helpers ----------------------------------------------------------

    def _key(self) -> F.Column:
        """Seen-set key: exact trimmed string (reference semantics,
        scrape.go:271) or full canonical form (scale mode)."""
        base = canonicalize("url") if self.config.canonicalize else F.col("url")
        return F.xxhash64(base)

    def _key2(self) -> F.Column:
        """Second independent 64-bit key for fingerprint mode: xxhash64
        over (url, 1) — the extra literal column changes the hashed
        byte stream, giving an independent 64-bit family member at one
        extra JVM-side hash (no string reversal / md5)."""
        base = canonicalize("url") if self.config.canonicalize else F.col("url")
        return F.xxhash64(base, F.lit(1))

    def _materialize(
        self, df: DataFrame, name: str, gen: int, count: bool = False,
    ) -> tuple[DataFrame, int | None]:
        """Truncate lineage + persist a generation's output; returns
        (frame, rows). With a SnapshotStore this is a durable,
        atomically-committed snapshot (resume point) read back with the
        schema it was written with (no inference job), and ``rows``
        rides the write (``SnapshotStore.stats``): no count job.
        Otherwise a LAZY localCheckpoint: the frame is computed and
        pinned by the FIRST action that touches it (a count here, or
        the next generation's frontier job for the fetched frame), so
        each generation pays one Spark job per frame instead of two
        (materialize + count); ``rows`` is that count when ``count``
        is set, else None. Parse-once still holds — the checkpoint
        computes once, later readers hit the pinned blocks."""
        if self.checkpoint is not None:
            out = self.checkpoint.commit(df, name, gen)
            return out, self.checkpoint.stats(gen, name)["rows"]
        out = df.localCheckpoint(eager=False)
        return out, (out.count() if count else None)

    def _materialize_frontier(
        self, enqueued: DataFrame, gen: int, known: tuple | None,
    ) -> tuple[DataFrame, int, int | None]:
        """Materialize the generation's frontier; returns (frame,
        n_enqueued, min depth). Both numbers ride a job that runs
        anyway: the checkpoint's lineage aggregate, the bucketed
        ordering's counts collect (``known``), or — latency mode, no
        checkpoint — the aggregate that pins the lazy checkpoint, in
        place of a bare count()."""
        if self.checkpoint is not None:
            out = self.checkpoint.commit(enqueued, "frontier", gen)
            st = self.checkpoint.stats(gen, "frontier")
            return out, st["rows"], st["depth_min"]
        out = enqueued.localCheckpoint(eager=False)
        if known is not None:
            return (out, *known)
        row = out.agg(F.count(F.lit(1)).alias("n"),
                      F.min("depth").alias("lo")).collect()[0]
        return out, row["n"], row["lo"]

    @staticmethod
    def _host_health(fetched: DataFrame) -> DataFrame:
        """The circuit breaker's per-host partial aggregate (host,
        n_fetches, n_errors) over fetched rows. Lazy: it folds into the
        next generation's first job."""
        from flyscrape_spark.operators.politeness import error_status_expr

        return (
            fetched.groupBy("host")
            .agg(
                F.count("*").alias("n_fetches"),
                F.sum(F.when(error_status_expr(), 1).otherwise(0))
                .alias("n_errors"),
            )
            .localCheckpoint(eager=False)
        )

    @staticmethod
    def dedupe_candidates(cand: DataFrame, fingerprint: bool = False) -> DataFrame:
        """In-generation first-seen dedup: keep the min
        (parent_order, pos) occurrence of each URL. Groups on
        ``(url_key, url, depth)`` — the URL string rides in the group
        key so two distinct URLs colliding on the 64-bit hash are
        never merged (the seen anti-join downstream is already
        collision-exact; this keeps the in-generation step exact too).
        At the 10^10-URL design point expected 64-bit collisions are
        ~n^2/2^65 ≈ a few per crawl — same shuffle key width class,
        no extra shuffle.

        ``fingerprint=True`` (CrawlConfig.seen_fingerprint): group on
        the two 64-bit keys instead of the string — the shuffle's
        GROUPING key is 16 fixed bytes; the URL string rides the
        map-side-combined agg buffer only for surviving groups."""
        if fingerprint:
            first = F.min(
                F.struct("parent_order", "pos", "url")).alias("first")
            return (
                cand.groupBy("url_key", "url_key2", "depth")
                .agg(first)
                .select(
                    F.col("first.url").alias("url"),
                    "url_key",
                    "url_key2",
                    "depth",
                    F.col("first.parent_order").alias("parent_order"),
                    F.col("first.pos").alias("pos"),
                )
            )
        first = F.min(F.struct("parent_order", "pos")).alias("first")
        return (
            cand.groupBy("url_key", "url", "depth")
            .agg(first)
            .select(
                "url",
                "url_key",
                "depth",
                F.col("first.parent_order").alias("parent_order"),
                F.col("first.pos").alias("pos"),
            )
        )

    # -- the loop ----------------------------------------------------------

    def run(self, seeds, n_seeds: int | None = None) -> CrawlResult:
        """``seeds``: list[str], or a DataFrame with a ``url`` column
        and a ``parent_order`` column (the seed index — it defines
        canonical seed order). At the 10^10 design point the seed list
        IS a table (a prior crawl's frontier, a sitemap scan); feeding
        it through the driver as a Python list would serialize
        O(seeds) rows through Py4J before the first job. ``n_seeds``
        (DataFrame mode) is the seed-count hint used for the ordering
        bounds; bad hints only cost shuffle balance, never order.

        Side effect of the hint: the first generation this call runs
        picks its execution mode (``_set_generation_mode``) from
        ``n_seeds`` x 32 — also when a checkpoint resumes the crawl at a
        later generation, whose frontier the hint does not describe. A
        hint at or above ``small_generation_rows`` / 32 selects
        throughput mode (AQE on, the SparkSession's shuffle partitions,
        bucketed ordering), one below it latency mode (AQE off, 4
        shuffle partitions, a single-partition window sort), and so
        does the seed count when the hint is omitted. The mode moves
        cost only; the crawl's output is the same in both.

        A DataFrame seed may carry its own ``depth`` column (default
        0). A generation whose URLs ALL lie past ``config.depth`` is
        still deduplicated, ordered and marked seen, but nothing in it
        is fetchable: it skips robots.txt, fetch and parse, commits
        empty ``fetched``/``links`` tables under a checkpoint, and ends
        the crawl (no links means no next generation)."""
        self._base_aqe = self.spark.conf.get("spark.sql.adaptive.enabled", "true")
        self._base_parts = self.spark.conf.get("spark.sql.shuffle.partitions", "32")
        try:
            return self._run(seeds, n_seeds)
        finally:
            self.spark.conf.set("spark.sql.adaptive.enabled", self._base_aqe)
            self.spark.conf.set("spark.sql.shuffle.partitions", self._base_parts)

    def _seed_frame(self, seeds, n_seeds: int | None):
        """Normalize seeds to (candidates, n_seeds, valid) — see run()."""
        spark = self.spark
        config = self.config
        if isinstance(seeds, DataFrame):
            if "parent_order" not in seeds.columns:
                raise ValueError(
                    "DataFrame seeds must carry parent_order (seed index)")
            cand = seeds
            if "depth" not in cand.columns:
                cand = cand.withColumn("depth", F.lit(0).cast("int"))
            if "pos" not in cand.columns:
                cand = cand.withColumn("pos", F.lit(0).cast("int"))
            cand = cand.select("url", "depth", "parent_order", "pos")
            if n_seeds is None:
                n_seeds = cand.count()
            seed_hosts: list[str] = []
            if config.domain_filter:
                seed_hosts = [
                    r["h"]
                    for r in cand.select(host_of("url").alias("h"))
                    .distinct().collect()
                    if r["h"]
                ]
            # urlfilter's seeds-always-pass exemption
            # (urlfilter.go:57-100): seeds are exactly the depth-0
            # candidates, so the exemption is a depth predicate — no
            # O(seeds) url list on the driver
            valid = filter_mod.domain_filter(config, seed_hosts) & (
                filter_mod.url_filter(config, []) | (F.col("depth") == 0)
            )
            return cand, n_seeds, valid
        seed_rows = []
        for i, raw in enumerate(seeds):
            url = raw.strip()
            if url:
                seed_rows.append((url, 0, int(i), 0))
        candidates = spark.createDataFrame(seed_rows, CAND_SCHEMA)
        seed_urls = [r[0] for r in seed_rows]
        # host_of semantics (port and userinfo stripped), as table mode
        seed_hosts = [h for h in map(host_of_str, seed_urls) if h]
        return candidates, len(seed_rows), validators(config, seed_urls, seed_hosts)

    def _run(self, seeds, n_seeds: int | None = None) -> CrawlResult:
        spark = self.spark
        config = self.config

        candidates, n_seed_rows, valid = self._seed_frame(seeds, n_seeds)

        start_gen = 0
        n_robots_hosts = 0
        seen_frames: list[DataFrame] = []
        robots_frames: list[DataFrame] = []
        result_frames: list[DataFrame] = []
        health_frames: list[DataFrame] = []  # per-gen (host, n, errors)
        metrics: list[dict] = []
        next_order = 0

        if self.checkpoint is not None:
            resumed = self.checkpoint.resume(spark)
            if resumed is not None:
                (seen_frames, resumed_cands, result_frames,
                 metrics, start_gen, next_order) = resumed
                candidates = (
                    resumed_cands if resumed_cands is not None
                    else spark.createDataFrame([], CAND_SCHEMA)
                )

        if self.seen_store is not None:
            # rebuild the bucketed store from resumed increments (the
            # snapshot manifests stay the durable source of truth)
            for frame in seen_frames:
                self.seen_store.append(frame)
        for prefilter in (self.seen_bloom, self.seen_cuckoo):
            if prefilter is not None:
                for frame in seen_frames:
                    prefilter.add_keys(frame)
        if config.host_cooldown_ratio is not None and result_frames:
            # the breaker's memory: host health over the resumed
            # fetched snapshots, as the uninterrupted crawl built it
            health_frames.append(self._host_health(_union(result_frames)))

        def current_seen() -> DataFrame:
            if self.seen_store is not None and self.seen_store.exists():
                return self.seen_store.seen()
            if not seen_frames:
                return spark.createDataFrame(
                    [], SEEN_SCHEMA_FP if config.seen_fingerprint
                    else SEEN_SCHEMA)
            return _union(seen_frames)

        gen = start_gen
        prev_enqueued = n_seed_rows
        while gen < self.max_generations:
            gen_t0 = time.time()
            # candidate estimate = last generation's frontier x a
            # conservative link fan-out bound; gen 0 = the seed list
            self._set_generation_mode(max(prev_enqueued, 1) * 32)
            # 1. trim + drop empties (enqueueJob, scrape.go:270-274)
            cand = (
                candidates.withColumn("url", F.trim("url"))
                .filter(F.col("url") != "")
                .withColumn("url_key", self._key())
            )
            if config.seen_fingerprint:
                cand = cand.withColumn("url_key2", self._key2())

            # 2. in-generation first-seen dedup: keep min (parent_order, pos)
            cand = self.dedupe_candidates(
                cand, fingerprint=config.seen_fingerprint)

            # 3. global dedup: anti-join the accumulated seen set.
            #    Exact mode: (url_key, url) equality — collision-exact.
            #    Fingerprint mode: (url_key, url_key2) — two longs, no
            #    strings in the join at all (16 B/row each side).
            seen = current_seen()
            if config.seen_fingerprint:
                seen_keys = seen.select(
                    F.col("url_key").alias("seen_key"),
                    F.col("url_key2").alias("seen_key2"),
                )
            else:
                seen_keys = seen.select(
                    F.col("url_key").alias("seen_key"),
                    F.col("url").alias("seen_url"),
                )
            # 3a. broadcast-bloom prefilter (opt-in): candidates whose
            # key misses the bloom are DEFINITELY unseen (no false
            # negatives) and bypass the anti-join shuffle; only the
            # possibly-seen remainder pays the exact join.
            fresh = None
            if self.seen_bloom is not None and self.seen_bloom.n_added > 0:
                cand, fresh = self.seen_bloom.split(cand)
            # 3b. sharded cuckoo prefilter (opt-in, composes after the
            # bloom): same no-false-negative contract, but the filter
            # is a cogrouped shard table, never driver-held — the
            # 10^10-key form of the prefilter, and it supports delete
            # (recrawl invalidation re-admits URLs).
            if self.seen_cuckoo is not None and self.seen_cuckoo.n_added > 0:
                cand, fresh_c = self.seen_cuckoo.split(cand)
                fresh = fresh_c if fresh is None else fresh.unionByName(fresh_c)
            if config.seen_fingerprint:
                anti_cond = (
                    (cand["url_key"] == seen_keys["seen_key"])
                    & (cand["url_key2"] == seen_keys["seen_key2"])
                )
            else:
                anti_cond = (
                    (cand["url_key"] == seen_keys["seen_key"])
                    & (cand["url"] == seen_keys["seen_url"])
                )
            enqueued = cand.join(seen_keys, anti_cond, "left_anti")
            if fresh is not None:
                enqueued = enqueued.unionByName(fresh)

            # 4. canonical discovery order within the generation.
            # Latency mode: one-partition window sort (fine for small
            # generations). Throughput mode: two-phase range-partition
            # enumeration — no single-task global sort at scale.
            order_stats = None
            if self.assign_order and not self._latency_mode:
                # the generation's row count (and minimum depth) fall
                # out of the two-phase enumeration's per-bucket counts,
                # saving a separate count() job (and its 32-task
                # schedule/barrier) every generation. The
                # parent_order bounds are KNOWN (a generation's
                # parents are exactly the previous generation's
                # discovery_order slice; gen 0 = seed indices), so
                # the deterministic-bucket mode applies: no range
                # sampling job, upstream computed once
                if gen == start_gen:
                    order_bounds = (0, max(next_order, n_seed_rows, 1))
                else:
                    order_bounds = (
                        max(next_order - prev_enqueued, 0),
                        max(next_order, 1),
                    )
                enqueued, *order_stats = _assign_order_bucketed(
                    enqueued, ["parent_order", "pos"], "discovery_order",
                    next_order, spark.sparkContext.defaultParallelism,
                    order_bounds, min_col="depth",
                )
            elif self.assign_order:
                w = Window.orderBy("parent_order", "pos")
                enqueued = enqueued.withColumn(
                    "discovery_order", F.row_number().over(w) - 1 + F.lit(next_order)
                )
            else:
                enqueued = enqueued.withColumn(
                    "discovery_order", F.monotonically_increasing_id() + F.lit(next_order)
                )

            seen_cols = ["url", "url_key", "depth", "discovery_order"]
            if config.seen_fingerprint:
                seen_cols.append("url_key2")
            enqueued, n_enqueued, min_depth = self._materialize_frontier(
                enqueued.select(*seen_cols), gen, order_stats,
            )
            if n_enqueued == 0:
                break
            next_order += n_enqueued
            prev_enqueued = n_enqueued

            # 5. mark seen AT ENQUEUE (scrape.go:276-285) — before
            # validators. The seen set accumulates as per-generation
            # frontier increments (never rewritten); the anti-join
            # above scans their union. Past 16 increments, compact the
            # union into one pinned frame so plan size (and anti-join
            # scan fan-in) stays O(1) in crawl depth. On Iceberg this
            # is a data-compaction job over the seen table.
            if self.seen_bloom is not None:
                # incremental: fold ONLY this generation's newly
                # admitted keys into the driver-held bitmap
                self.seen_bloom.add_keys(enqueued)
            if self.seen_cuckoo is not None:
                self.seen_cuckoo.add_keys(enqueued)
            if self.seen_store is not None:
                self.seen_store.append(enqueued)
            else:
                seen_frames.append(enqueued)
                if len(seen_frames) > 16:
                    # lazy: the compaction runs inside the next
                    # generation's anti-join job, not as its own job
                    seen_frames = [
                        _union(seen_frames).localCheckpoint(eager=False)]

            gen_metrics = {"generation": gen, "enqueued": n_enqueued}

            # 5a. past the depth limit: every URL of this generation is
            # deeper than config.depth, so no row survives step 6 and
            # the fetch side (robots, fetch, parse, fan-out) would run
            # over nothing and yield no links — the crawl ends here.
            # The test is on the data (min depth, from the frontier
            # step's own aggregate), so URLs re-admitted at their
            # ORIGINAL depth by invalidation are still fetched. It
            # needs an earlier fetched frame for the empty table's
            # schema; a crawl whose FIRST generation is all past the
            # limit (deep table seeds) takes the full path instead.
            if (config.depth is not None and min_depth is not None
                    and min_depth > config.depth and result_frames):
                gen_metrics["sec"] = round(time.time() - gen_t0, 3)
                if self.collect_metrics:
                    gen_metrics["fetched"] = 0
                metrics.append(gen_metrics)
                if self.checkpoint is not None:
                    # the manifest keeps its frontier/fetched/links shape
                    for table, schema in (
                        ("fetched", result_frames[-1].schema),
                        ("links", CAND_SCHEMA),
                    ):
                        self.checkpoint.commit(
                            spark.createDataFrame([], schema), table, gen)
                    self.checkpoint.commit_meta(gen, gen_metrics, next_order)
                gen += 1
                break

            # 6. validators run at fetch time (scrape.go:162-168);
            #    depth filter is row-wise (inclusive <=, modules/depth/
            #    depth.go:26-28) — normally generation-constant, but
            #    resume-after-invalidate re-admits URLs at their
            #    ORIGINAL depth into a later generation
            if config.depth is not None:
                fetchable = enqueued.filter(F.col("depth") <= config.depth)
            else:
                fetchable = enqueued
            fetchable = fetchable.filter(valid)

            # 6a. best-first admission (engine-only, north_rule): when
            # the frontier outgrows the fetch budget, spend it on the
            # highest-priority URLs (scores from a prior crawl's link
            # graph, operators/graph.py). BEFORE robots/host work so
            # skipped URLs cost nothing; they are already in the seen
            # set (step 5), matching validator-dropped semantics.
            if config.generation_budget is not None:
                scores = self.priority_scores
                if scores is None:
                    scores = spark.createDataFrame(
                        [], "url_key long, score double"
                    )
                fetchable = prioritize_frontier(
                    fetchable, scores, config.generation_budget
                ).drop("admit_rank")

            fetchable = fetchable.withColumn("host", host_of("url"))

            # 6a'. host circuit breaker (engine-only): hosts whose
            # cumulative error ratio tripped the threshold in EARLIER
            # generations are dropped at fetch time — they are already
            # seen (step 5), so this is validator-dropped semantics,
            # same as budget truncation above. The health frames are
            # host-cardinality partial aggregates, so the anti-join's
            # build side stays tiny at any crawl size.
            if config.host_cooldown_ratio is not None and health_frames:
                tot = _union(health_frames).groupBy("host").agg(
                    F.sum("n_fetches").alias("n"),
                    F.sum("n_errors").alias("e"),
                )
                cooled = tot.filter(
                    (F.col("n") >= config.host_cooldown_min_fetches)
                    & (F.col("e").cast("double") / F.col("n")
                       >= config.host_cooldown_ratio)
                ).select("host")
                fetchable = fetchable.join(cooled, "host", "left_anti")

            # 6b. robots.txt (RFC 9309, engine-only — north_rule): one
            # robots fetch per NEWLY seen host, accumulated like the
            # seen set; disallowed URLs are dropped here, at fetch
            # time, exactly like any other validator.
            if config.respect_robots:
                # carry the URL scheme so robots.txt is probed on the
                # right origin (https hosts must not be probed over
                # http); max() prefers https when a host shows both
                scheme = F.lower(
                    F.regexp_extract("url", r"^([A-Za-z][A-Za-z0-9+.-]*):", 1)
                )
                hosts = (
                    fetchable
                    .select("host", F.nullif(scheme, F.lit("")).alias("scheme"))
                    .groupBy("host")
                    .agg(F.max("scheme").alias("scheme"))
                )
                if robots_frames:
                    new_hosts = hosts.join(
                        _union(robots_frames).select("host"), "host",
                        "left_anti",
                    )
                else:
                    new_hosts = hosts
                # the increment's row count gates the robots-join
                # broadcast (millions of hosts at design scale must
                # NOT be force-broadcast); it rides the commit's write,
                # or pins the lazy checkpoint
                fetched_robots, n_new_hosts = self._materialize(
                    robots_table(new_hosts, self.transport), "robots", gen,
                    count=True,
                )
                robots_frames.append(fetched_robots)
                n_robots_hosts += n_new_hosts
                robots_all = _union(robots_frames)
                fetchable = (
                    allowed_filter(fetchable, robots_all, n_hosts=n_robots_hosts)
                    .filter(F.col("robots_allowed"))
                    .drop("robots_allowed")
                )
                # feed discovered crawl-delays to a politeness-aware
                # transport (duck-typed; PoliteJoinTransport consumes)
                if hasattr(self.transport, "host_delays"):
                    self.transport.host_delays = robots_all.filter(
                        F.col("crawl_delay").isNotNull()
                    ).select("host", "crawl_delay")

            # 7-9. fetch + parse-once extract: ONE HTML parse per page
            # yields spans + links together (struct column), pinned by
            # the generation checkpoint so the link fan-out below reads
            # the materialized struct instead of re-parsing.
            fetched = self.transport.fetch(fetchable)
            fetched = fetched.withColumn(
                "parsed",
                F.when(
                    F.col("body").isNotNull(),
                    self.page_udf(F.col("body"), F.col("url")),
                ),
            )
            if self.script_udf is not None:
                # Python scrape script (parse/script.py): one UDF call
                # yields the JSON payload AND the manual-follow URLs
                # (js.go:217-219 -> scrape.go:210-212)
                fetched = (
                    fetched.withColumn(
                        "script",
                        F.when(
                            F.col("body").isNotNull(),
                            self.script_udf(F.col("body"), F.col("url")),
                        ),
                    )
                    .withColumn("data", F.col("script.data"))
                    .withColumn("follow_urls", F.col("script.follow_urls"))
                    .drop("script")
                )
            elif self.extract_udf is not None:
                fetched = fetched.withColumn(
                    "data",
                    F.when(
                        F.col("body").isNotNull(),
                        self.extract_udf(F.col("body"), F.col("url")),
                    ),
                )
            # body slimming: once the parse-once struct (spans+links)
            # and the script payload are computed, the raw HTML body is
            # dead weight in the generation checkpoint — roughly half
            # the pinned bytes per generation (block-manager memory,
            # GC pressure, and on Iceberg the snapshot size). Drop it
            # before materializing unless a downstream consumer needs
            # it: keep_body callers, and the meta-robots noindex filter
            # which re-reads the body at results assembly.
            slim_body = not self.keep_body and not config.respect_meta_robots
            if slim_body:
                fetched = fetched.withColumn(
                    "has_body", F.col("body").isNotNull()
                ).drop("body")
                body_flag = F.col("has_body")
            else:
                body_flag = F.col("body").isNotNull()
            # checkpointed crawls get the row count free from the
            # commit; plain crawls count only when metrics are asked
            # for (that count is the action that pins the fetch)
            fetched, n_fetched = self._materialize(
                fetched, "fetched", gen, count=self.collect_metrics)
            result_frames.append(fetched)

            if config.host_cooldown_ratio is not None:
                health_frames.append(self._host_health(fetched))

            # 10. link fan-out -> next generation's candidates.
            #     Non-2xx pages still follow links (deferred
            #     ReceiveResponse, scrape.go:170-176); transport errors
            #     have no body and yield nothing.
            #     Manual-follow URLs enqueue BEFORE the page's auto
            #     links: the reference's follow() fires during script
            #     execution (scrape.go:210-212) while followlinks runs
            #     in the deferred ReceiveResponse (scrape.go:170-176).
            link_arr = F.col("parsed.links")
            if self.script_udf is not None:
                empty = F.array().cast("array<string>")
                link_arr = F.concat(
                    F.coalesce(F.col("follow_urls"), empty),
                    F.coalesce(link_arr, empty),
                )
            link_src = fetched.filter(body_flag)
            if config.respect_meta_robots:
                # nofollow pages contribute no outlinks (page-level
                # REP; operators/metarobots.py — pure JVM exprs, so
                # the gate fuses into the fan-out projection)
                from flyscrape_spark.operators.metarobots import (
                    meta_robots_cols,
                )

                _, nofollow = meta_robots_cols("body")
                link_src = link_src.filter(~nofollow)
            links = (
                link_src
                .select(
                    F.col("discovery_order").alias("parent_order"),
                    F.posexplode(link_arr).alias("pos", "url"),
                )
                .select("url", F.lit(gen + 1).cast("int").alias("depth"),
                        "parent_order", F.col("pos").cast("int"))
            )

            gen_metrics["sec"] = round(time.time() - gen_t0, 3)
            if self.collect_metrics:
                gen_metrics["fetched"] = n_fetched
            metrics.append(gen_metrics)
            if self.checkpoint is not None:
                # publish the generation atomically: frontier + fetched
                # + next-gen links all committed, then the manifest
                links = self.checkpoint.commit(links, "links", gen)
                self.checkpoint.commit_meta(gen, gen_metrics, next_order)

            candidates = links
            gen += 1

        results = None
        for frame in result_frames:
            if "parsed" in frame.columns:
                frame = frame.withColumn("spans", F.col("parsed.spans")).drop("parsed")
            # follow_urls/has_body are frontier plumbing, not results
            frame = frame.drop("follow_urls", "has_body")
            if config.respect_meta_robots:
                # noindex pages are crawled (seen/order intact, links
                # already fanned out above) but kept out of the corpus
                from flyscrape_spark.operators.metarobots import (
                    meta_robots_cols,
                )

                noindex, _ = meta_robots_cols("body")
                frame = frame.filter(
                    F.col("body").isNull() | ~noindex
                )
            frame = frame if self.keep_body else frame.drop("body")
            results = frame if results is None else results.unionByName(frame)
        if results is None:
            results = spark.createDataFrame([], self._empty_results_schema())

        robots_all = _union(robots_frames)
        if robots_all is None and config.respect_robots and gen > start_gen:
            # a crawl that ran only past-depth generations probed no
            # robots.txt; its cache is empty, not absent
            robots_all = spark.createDataFrame([], ROBOTS_SCHEMA)

        # current_seen(), not the loop-local binding: when the loop
        # exits via max_generations the in-loop `seen` predates the
        # final generation's append
        return CrawlResult(
            seen=current_seen(), results=results, generations=gen,
            metrics=metrics, robots=robots_all,
        )

    def _empty_results_schema(self) -> StructType:
        fields = [
            StructField("url", StringType()),
            StructField("url_key", LongType()),
            StructField("depth", IntegerType()),
            StructField("discovery_order", LongType()),
            StructField("host", StringType()),
            StructField("status", IntegerType()),
            StructField("error", StringType()),
            StructField("attempts", IntegerType()),
        ]
        from flyscrape_spark.parse.udfs import SPAN_TYPE

        if self.extract_udf is not None or self.script_udf is not None:
            fields.append(StructField("data", StringType()))
        fields.append(StructField("spans", SPAN_TYPE))
        return StructType(fields)


def take_front(frontier, n: int):
    """The next ``n`` URLs of the frontier in canonical crawl
    priority — ascending ``(depth, discovery_order)``, the
    sequential-BFS serialization this module defines as the engine's
    ordering contract (the partitioned priority queue's dequeue).

    Scale shape: ``orderBy().limit(n)`` compiles to
    TakeOrderedAndProject — every partition keeps an n-row heap and
    the driver merges n rows per partition; there is NO global sort
    and no range-partitioning exchange (plan-audited). At 10^10
    pending URLs the dequeue cost is O(rows scanned + n log n), not
    a shuffle of the backlog.
    """
    from pyspark.sql import functions as F

    return frontier.orderBy(
        F.asc("depth"), F.asc("discovery_order")
    ).limit(n)
