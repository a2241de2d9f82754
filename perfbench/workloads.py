"""The three crawl workloads.

Each workload builds its inputs from ``--seed`` (lazily, from
``spark.range``), hands the engine only the generated seeds and
transport, runs the crawl through the public ``CrawlEngine.run`` API,
and checks the output against an oracle that does not use the engine.

- ``wide_crawl``: the throughput shape — table seeds, fingerprint seen
  mode, ``SyntheticWebTransport``, depth 2, no optional layer.  Parse,
  in-generation dedup, the seen anti-join and bucketed ordering do the
  work.
- ``deep_crawl``: the flagship ``crawl_bfs`` shape — one list seed,
  depth 6, exact seen mode, ``JoinTransport`` over
  ``queries.synthetic_pages``.  Tens of URLs over 8 small generations,
  so per-generation fixed cost is all of the work.
- ``durable_crawl``: the frontier with every write path on (snapshot
  checkpoints, bucketed seen store, bloom, cuckoo, robots.txt,
  politeness, 5xx hosts); it stops after generation ``stop_gen`` and
  a fresh engine and fresh store objects resume it to completion.
  ``DurableCrawl(..., breaker=True)`` adds the host circuit breaker and
  a fetching generation after the resume (the self-test runs it).
"""

from __future__ import annotations

import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

from perfbench import oracles

# a crawl that takes longer than this counts as failed
CRAWL_TIMEOUT_S = 120.0


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


@dataclass
class Outcome:
    """One crawl: what was timed, what was counted, what to check."""

    wall_s: float
    n_seen: int
    n_fetched: int
    gen_secs: list[float]
    generations: int
    seen: object = None          # pandas frame, collected untimed
    results: object = None
    extra: dict = field(default_factory=dict)
    result: object = None        # the CrawlResult, for traced metrics
    robots: list = field(default_factory=list)  # robots.txt cache of each engine run


class Workload:
    name = ""
    fingerprint = False
    polite = False        # crawls through PoliteJoinTransport

    warehouse: Path       # spark.sql.warehouse.dir, set by the runner

    def __init__(self, seed: int, size: str):
        self.seed = seed

    # inputs ---------------------------------------------------------------
    def prepare(self, spark, work: Path) -> None:
        """Write input files and compute the oracle (untimed, once)."""

    def bind(self, spark) -> None:
        """Build the lazy input frames for the current session."""

    # crawling -------------------------------------------------------------
    def warmup(self, spark, work: Path) -> None:
        raise NotImplementedError

    def crawl(self, spark, work: Path, wrap=None, span=None) -> Outcome:
        raise NotImplementedError

    def check(self, out: Outcome) -> list[str]:
        raise NotImplementedError

    # inputs for the isolated layer calls ----------------------------------
    def url_of(self, page):
        raise NotImplementedError

    def link_targets(self, page) -> list:
        raise NotImplementedError

    def page_id(self):
        from pyspark.sql import functions as F

        return F.regexp_extract("url", r"/d/(\d+)$", 1).cast("bigint")

    def sample_pages(self, spark, count: int):
        """(url, body) of ``count`` pages of the workload's web."""
        from pyspark.sql import functions as F

        return (self.pages.filter(~F.col("url").endswith("/robots.txt"))
                .select("url", F.col("html").alias("body")).limit(count))

    def prepare_checks(self, spark, work: Path) -> None:
        """Untimed extra checks for the self-test, which has the time."""

    def delays(self) -> dict[str, float]:
        """Per-host crawl-delay the workload's robots.txt bodies set."""
        return {}

    def depth_limit(self) -> int:
        return self.depth

    def ref_candidates(self) -> int:
        """Seeds plus generated links, from the oracle."""
        return self.ref.candidates


def _nospan(name):
    return nullcontext()


def _by_order(pdf):
    return pdf.sort_values("discovery_order").reset_index(drop=True)


RESULT_COLS = ("url", "depth", "discovery_order", "status")


def _timed_run(engine, seeds, span, result_cols=RESULT_COLS, **kw) -> Outcome:
    """engine.run plus counting seen and results is the timed region;
    the frames for the check are collected after it."""
    t0 = time.perf_counter()
    with span("frontier.run"):
        res = engine.run(seeds, **kw)
    with span("crawl.count"):
        n_seen = res.seen.count()
        n_fetched = res.results.count()
    wall = time.perf_counter() - t0
    return Outcome(
        wall_s=wall, n_seen=n_seen, n_fetched=n_fetched,
        gen_secs=[m["sec"] for m in res.metrics], generations=res.generations,
        seen=res.seen.select("url", "depth", "discovery_order").toPandas(),
        results=res.results.select(*result_cols).toPandas(),
        result=res, robots=[res.robots],
    )


# --------------------------------------------------------------- wide_crawl

class WideCrawl(Workload):
    name = "wide_crawl"
    fingerprint = True
    SIZES = {  # pages, seeds, depth
        "full": (100_003, 300, 2),
        # the warm-up crawl of every workload's set-up
        "warm": (2_003, 100, 0),
        "toy": (2_003, 20, 2),
    }
    hosts = 1009
    branching = 8

    def __init__(self, seed: int, size: str):
        super().__init__(seed, size)
        self.n, self.n_seeds, self.depth = self.SIZES[size]

    def url_of(self, page):
        from pyspark.sql import functions as F

        return F.concat(F.lit("http://w"), (page % self.hosts).cast("string"),
                        F.lit(".example/d/"), page.cast("string"))

    def link_targets(self, page):
        return [(k * page + 2 * k + 1) % self.n
                for k in range(1, self.branching + 1)]

    def seeds_frame(self, spark):
        from pyspark.sql import functions as F

        a, b, c = oracles.seed_params(self.n, self.seed)
        j = F.col("id")
        page = (F.lit(a) * (j * j % self.n) + j * b + c) % self.n
        return spark.range(self.n_seeds).select(
            self.url_of(page).alias("url"), F.col("id").alias("parent_order"))

    def prepare(self, spark, work):
        self.ref = oracles.bfs(
            self.n, self.hosts, self.branching,
            oracles.seed_ids(self.n_seeds, self.n, self.seed), self.depth)

    def transport(self):
        from flyscrape_spark.sources.synth import SyntheticWebTransport

        return SyntheticWebTransport(self.n, self.hosts, self.branching)

    def sample_pages(self, spark, count):
        from pyspark.sql import functions as F

        urls = spark.range(min(count, self.n)).select(self.url_of(F.col("id")).alias("url"))
        return self.transport().fetch(urls).select("url", "body")

    def config(self):
        from flyscrape_spark.config import CrawlConfig

        return CrawlConfig(depth=self.depth, domain_filter=False,
                           seen_fingerprint=True)

    def engine(self, spark, wrap):
        from flyscrape_spark.plans.frontier import CrawlEngine

        return CrawlEngine(spark, self.config(), wrap(self.transport(), "transport"),
                           collect_metrics=False, small_generation_rows=20_000)

    def warmup(self, spark, work):
        warm = WideCrawl(self.seed + 1, "warm")
        warm.engine(spark, lambda o, _: o).run(
            warm.seeds_frame(spark), n_seeds=warm.n_seeds).results.count()

    def crawl(self, spark, work, wrap=None, span=None):
        wrap = wrap or (lambda o, _: o)
        span = span or _nospan
        return _timed_run(self.engine(spark, wrap), self.seeds_frame(spark), span,
                          n_seeds=self.n_seeds)

    def check(self, out):
        errs = oracles.compare_seen(out.seen, self.ref, self.hosts)
        errs += oracles.compare_fetched(out.results, self.ref, self.hosts)
        if (out.results["status"] != 200).any():
            errs.append("a synthetic page did not answer 200")
        return errs

    def largest_generation(self, res):
        """(parents frame, depth) of the generation that fetched most."""
        from pyspark.sql import functions as F

        d = self.ref.largest_fetch_gen
        return res.results.filter(F.col("depth") == d), d


# --------------------------------------------------------------- deep_crawl

class DeepCrawl(Workload):
    name = "deep_crawl"
    SIZES = {"full": 5_000, "warm": 500, "toy": 200}   # documents

    def __init__(self, seed: int, size: str):
        super().__init__(seed, size)
        # the seed picks the graph size (the link formula is mod n)
        self.n = self.SIZES[size] + seed % max(self.SIZES[size] // 5, 1)

    def url_of(self, page):
        from flyscrape_spark.queries import _doc_url

        return _doc_url(page)

    def link_targets(self, page):
        return [(2 * page + 1) % self.n, (3 * page + 2) % self.n]

    def write_documents(self, spark, path: Path) -> None:
        from pyspark.sql import functions as F

        words = ["crawl", "frontier", "spark", "arrow", "seen", "order",
                 "fetch", "parse", "robots", "host", "queue", "page"]
        pick = [F.element_at(F.array(*[F.lit(w) for w in words]),
                             (F.pmod(F.xxhash64("id", F.lit(j), F.lit(self.seed)),
                                     F.lit(len(words))) + 1).cast("int"))
                for j in range(12)]
        (spark.range(self.n).select(
            F.col("id").alias("doc_id"), F.concat_ws(" ", *pick).alias("text"))
         .coalesce(1).write.mode("overwrite").parquet(str(path / "documents.parquet")))

    def prepare(self, spark, work):
        self.docs = work / "deep_docs"
        self.write_documents(spark, self.docs)
        self.warm = DeepCrawl(self.seed + 1, "warm")
        self.warm.docs = work / "deep_warm_docs"
        self.warm.write_documents(spark, self.warm.docs)
        self.twin = oracles.deep_twin(str(self.docs / "documents.parquet" / "*.parquet"))

    def bind(self, spark):
        from flyscrape_spark.queries import synthetic_pages

        self.pages = synthetic_pages(spark, str(self.docs))

    def config(self):
        from flyscrape_spark.config import CrawlConfig
        from flyscrape_spark.queries import BFS_DEPTH

        return CrawlConfig(depth=BFS_DEPTH, domain_filter=False)

    def engine(self, spark, wrap):
        from flyscrape_spark.plans.frontier import CrawlEngine
        from flyscrape_spark.sources.transport import JoinTransport

        cfg = self.config()
        return CrawlEngine(spark, cfg, wrap(JoinTransport(self.pages, cfg), "transport"),
                           collect_metrics=False)

    SEEDS = ["http://h0.example/d/0"]

    def depth_limit(self):
        from flyscrape_spark.queries import BFS_DEPTH

        return BFS_DEPTH

    def ref_candidates(self):
        pages = [int(u.rsplit("/", 1)[1]) for u, _ in self.twin]
        return len(self.SEEDS) + sum(len(set(self.link_targets(p))) for p in pages)

    def warmup(self, spark, work):
        self.warm.bind(spark)
        self.warm.engine(spark, lambda o, _: o).run(self.SEEDS).results.count()

    def crawl(self, spark, work, wrap=None, span=None):
        wrap = wrap or (lambda o, _: o)
        span = span or _nospan
        return _timed_run(self.engine(spark, wrap), self.SEEDS, span)

    def check(self, out):
        from flyscrape_spark.queries import BFS_DEPTH

        errs = []
        seen = out.seen
        got = {(u, int(d)) for u, d in
               zip(seen["url"], seen["depth"]) if d <= BFS_DEPTH}
        if got != self.twin:
            errs.append(f"seen (url, depth) differs from the DuckDB twin "
                        f"({len(got)} vs {len(self.twin)} rows)")
        if sorted(seen["discovery_order"]) != list(range(len(seen))):
            errs.append("discovery_order is not 0..n-1")
        if set(out.results["url"]) != {u for u, _ in self.twin}:
            errs.append("fetched urls differ from the DuckDB twin")
        return errs

    def largest_generation(self, res):
        from pyspark.sql import functions as F

        depths = [d for _, d in self.twin]
        d = max(set(depths), key=depths.count)
        return res.results.filter(F.col("depth") == d), d


# ------------------------------------------------------------ durable_crawl

class DurableCrawl(WideCrawl):
    name = "durable_crawl"
    polite = True
    SIZES = {  # pages, seeds, depth
        "full": (10_007, 200, 0),
        "toy": (1_009, 30, 0),
    }
    hosts = 61
    stop_gen = 0          # the first engine stops after this generation
    rate = 600.0          # requests per minute per host
    cooldown_min = 1      # a 5xx host is cut off after its first error

    def __init__(self, seed: int, size: str, breaker: bool = False):
        super().__init__(seed, size)
        h = np.arange(self.hosts)
        # seeded per-host behaviour; the Spark side uses the same formulas
        self.rule_digit = 1 + (h * 37 + seed * 11) % 9          # Disallow: /d/<digit>
        self.has_rule = (h + seed) % 3 != 0
        self.delay = np.array([0.0, 0.5, 1.0])[(h * 7 + seed) % 3]
        # a seeded tenth of the hosts answer 503
        errors = (h * 13 + seed * 5) % 10 == 0
        self.breaker = breaker
        if breaker:
            # the breaker acts on fetches of later generations, so the
            # resumed part fetches too; the host of the first fetchable
            # seed answers 503 as well, so the breaker always trips in
            # generation 0, before the stop
            self.depth = 1
            seeds = oracles.seed_ids(self.n_seeds, self.n, seed)
            errors |= h == int(seeds[self.robots_ok(seeds)][0]) % self.hosts
        self.error_hosts = frozenset(int(x) for x in h[errors])

    # inputs ---------------------------------------------------------------
    def pages_frame(self, spark):
        from pyspark.sql import functions as F

        from flyscrape_spark.sources.synth import synthetic_web

        web = synthetic_web(spark, self.n, self.hosts, self.branching)
        err = [f"w{h}.example" for h in sorted(self.error_hosts)]
        web = web.withColumn(
            "status", F.when(F.col("host").isin(err), F.lit(503)).otherwise(F.lit(200)))
        h = F.col("id")
        body = F.concat(
            F.lit("User-agent: *\n"),
            F.when((h + self.seed) % 3 != 0, F.concat(
                F.lit("Disallow: /d/"),
                (1 + (h * 37 + self.seed * 11) % 9).cast("string"), F.lit("\n")))
            .otherwise(F.lit("")),
            F.element_at(F.array(F.lit(""), F.lit("Crawl-delay: 0.5\n"),
                                 F.lit("Crawl-delay: 1.0\n")),
                         ((h * 7 + self.seed) % 3 + 1).cast("int")),
        )
        robots = spark.range(self.hosts).select(
            F.concat(F.lit("http://w"), h.cast("string"),
                     F.lit(".example/robots.txt")).alias("url"),
            F.concat(F.lit("w"), h.cast("string"), F.lit(".example")).alias("host"),
            F.lit(200).alias("status"), body.alias("html"))
        return web.unionByName(robots)

    def robots_ok(self, ids: np.ndarray) -> np.ndarray:
        host = ids % self.hosts
        first = np.array([int(str(int(i))[0]) for i in ids], dtype=np.int64)
        return ~(self.has_rule[host] & (first == self.rule_digit[host]))

    def prepare(self, spark, work):
        self.ref = oracles.bfs(
            self.n, self.hosts, self.branching,
            oracles.seed_ids(self.n_seeds, self.n, self.seed), self.depth,
            robots_ok=self.robots_ok, error_hosts=self.error_hosts,
            cooldown_ratio=0.5 if self.breaker else None,
            cooldown_min=self.cooldown_min)
        self.reference = None

    def config(self):
        from flyscrape_spark.config import CrawlConfig

        return CrawlConfig(
            depth=self.depth, domain_filter=False, seen_fingerprint=True,
            respect_robots=True, rate=self.rate, max_host_fanout=4,
            host_cooldown_ratio=0.5 if self.breaker else None,
            host_cooldown_min_fetches=self.cooldown_min)

    def layers(self, spark, root: Path, table: str):
        """Fresh store, seen store, bloom and cuckoo objects."""
        from flyscrape_spark.operators.bloom import BroadcastBloom
        from flyscrape_spark.operators.cuckoo import CuckooShards
        from flyscrape_spark.sources.seen_store import BucketedSeenStore
        from flyscrape_spark.sources.snapshots import SnapshotStore

        parts = spark.sparkContext.defaultParallelism
        return {
            "checkpoint": SnapshotStore(str(root)),
            "seen_store": BucketedSeenStore(spark, table=table, buckets=parts,
                                            fingerprint=True),
            "seen_bloom": BroadcastBloom(spark, n_bits=1 << 20),
            "seen_cuckoo": CuckooShards(spark, n_shards=parts,
                                        capacity_per_shard=1 << 14),
        }

    def engine(self, spark, wrap, root, table, max_generations=1000):
        from flyscrape_spark.plans.frontier import CrawlEngine
        from flyscrape_spark.sources.transport import PoliteJoinTransport

        cfg = self.config()
        layers = {k: wrap(v, k) for k, v in self.layers(spark, root, table).items()}
        eng = CrawlEngine(spark, cfg, wrap(PoliteJoinTransport(self.pages, cfg), "transport"),
                          max_generations=max_generations, **layers)
        return eng, layers

    def bind(self, spark):
        self.pages = self.pages_frame(spark)

    RESULT_COLS = RESULT_COLS + ("host", "fetch_time")

    def sample_pages(self, spark, count):
        return Workload.sample_pages(self, spark, count)

    def prepare_checks(self, spark, work):
        """The uninterrupted crawl of the same config (untimed, once).
        Benchmark runs compare against the oracle only: it equals the
        uninterrupted crawl whenever that crawl is right, and the
        reference crawl would cost as much as the timed one."""
        if self.reference is None:
            root = work / "ref_snap"
            shutil.rmtree(root, ignore_errors=True)
            eng, _ = self.engine(spark, lambda o, _: o, root, "pb_seen_ref")
            out = _timed_run(eng, self.seeds_frame(spark), _nospan,
                             self.RESULT_COLS, n_seeds=self.n_seeds)
            self.reference = out.seen, out.results

    def crawl(self, spark, work, wrap=None, span=None):
        wrap = wrap or (lambda o, _: o)
        span = span or _nospan
        root = work / "snap"
        shutil.rmtree(root, ignore_errors=True)
        seeds = self.seeds_frame(spark)
        # part 1: the crawl stops after generation stop_gen
        t0 = time.perf_counter()
        eng, _ = self.engine(spark, wrap, root, "pb_seen",
                             max_generations=self.stop_gen + 1)
        with span("frontier.run"):
            first = eng.run(seeds, n_seeds=self.n_seeds)
        wall_a = time.perf_counter() - t0
        # resume_s: a fresh store's resume(), counting what it returns
        resume_s = self.measure_resume(spark, root, span)
        # part 2: fresh engine and store objects resume to completion
        eng, layers = self.engine(spark, wrap, root, "pb_seen")
        out = _timed_run(eng, seeds, span, self.RESULT_COLS, n_seeds=self.n_seeds)
        out.wall_s += wall_a
        # the resumed engine starts with an empty robots.txt cache
        out.robots.insert(0, first.robots)
        store_bytes = dir_bytes(root)
        seen_bytes = dir_bytes(self.warehouse / "pb_seen")
        out.extra = {
            "resume_s": resume_s,
            "snapshot_bytes_per_url": (store_bytes + seen_bytes) / max(out.n_seen, 1),
            "store_bytes": store_bytes, "seen_store_bytes": seen_bytes,
            "bloom_fp_estimate": layers["seen_bloom"].estimated_fp,
        }
        return out

    @staticmethod
    def measure_resume(spark, root, span):
        from flyscrape_spark.sources.snapshots import SnapshotStore

        t0 = time.perf_counter()
        with span("snapshots.resume_probe"):
            seen_frames, cands, result_frames, *_ = SnapshotStore(str(root)).resume(spark)
            for f in seen_frames + result_frames + ([cands] if cands is not None else []):
                f.count()
        return time.perf_counter() - t0

    def delays(self) -> dict[str, float]:
        return {f"w{h}.example": float(d) for h, d in enumerate(self.delay) if d > 0}

    def check(self, out):
        errs = []
        if self.reference is not None:
            ref_seen, ref_results = self.reference
            errs += [f"uninterrupted run: {e}" for e in
                     oracles.compare_seen(ref_seen, self.ref, self.hosts)
                     + oracles.compare_fetched(ref_results, self.ref, self.hosts)]
            for got, want, what in ((out.seen, ref_seen, "seen"),
                                    (out.results, ref_results, "fetched")):
                if not _by_order(got).equals(_by_order(want)):
                    errs.append(f"resumed {what} set differs from the uninterrupted run")
        errs += oracles.compare_seen(out.seen, self.ref, self.hosts)
        errs += oracles.compare_fetched(out.results, self.ref, self.hosts)
        bad = oracles.politeness_violations(out.results, self.rate, self.delays())
        if bad:
            errs.append(f"{bad} fetches closer than the host's politeness gap")
        ids = out.results["url"].str.extract(r"/d/(\d+)$")[0].astype("int64").to_numpy()
        if not self.robots_ok(ids).all():
            errs.append("a fetched url matches its host's Disallow rule")
        return errs


WORKLOADS = {w.name: w for w in (WideCrawl, DeepCrawl, DurableCrawl)}
