"""Fixed Spark work of a checkpointed crawl, and the state a resume
rebuilds.

- A generation whose URLs all lie past ``config.depth`` is deduplicated,
  ordered and marked seen, but runs no robots.txt/fetch/parse and ends
  the crawl; its manifest still lists frontier/fetched/links.
- ``SnapshotStore.resume()`` launches no Spark job: tables are read
  with the schema their manifest records, which equals the inferred
  one; manifests without schemas still load.
- Jobs per checkpointed fixture crawl are pinned (upper bound).
- The host circuit breaker's history survives a resume.
- List and table seeds give the same crawl for a port-bearing seed
  (``host_of`` semantics on both sides).
"""

from __future__ import annotations

import json
import uuid
from contextlib import contextmanager

from pyspark.sql.types import StructType

from flyscrape_spark.config import CrawlConfig
from flyscrape_spark.functions.urls import host_of, host_of_str
from flyscrape_spark.plans.frontier import CrawlEngine
from flyscrape_spark.sources.snapshots import SnapshotStore
from flyscrape_spark.sources.transport import JoinTransport

# a chain a -> b -> c -> d on one host: with depth=1, generation 2
# enqueues c (depth 2) and nothing in it is fetchable
CHAIN = {
    "http://c.test/a": '<a href="/b">b</a>',
    "http://c.test/b": '<a href="/c">c</a>',
    "http://c.test/c": '<a href="/d">d</a>',
    "http://c.test/d": "<p>end</p>",
}
PAGES_DDL = "url string, host string, status int, html string"


def _pages(spark, pages: dict[str, str], status: dict[str, int] | None = None):
    status = status or {}
    return spark.createDataFrame(
        [(u, u.split("/")[2], status.get(u, 200), html)
         for u, html in sorted(pages.items())],
        PAGES_DDL,
    )


class RecordingTransport:
    """Counts ``fetch`` calls (robots.txt probes included)."""

    def __init__(self, inner):
        self.inner = inner
        self.calls = 0

    def fetch(self, frontier):
        self.calls += 1
        return self.inner.fetch(frontier)


@contextmanager
def count_jobs(spark):
    """Spark jobs launched inside the block (its own job group)."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    box: dict[str, int] = {}
    try:
        yield box
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        box["n"] = len(sc.statusTracker().getJobIdsForGroup(group))


def canonical(result):
    return [
        (r["depth"], r["discovery_order"], r["url"])
        for r in result.seen.orderBy("discovery_order").collect()
    ]


def _chain_crawl(spark, root=None, **engine_kwargs):
    config = CrawlConfig(depth=1, domain_filter=False, respect_robots=True)
    transport = RecordingTransport(JoinTransport(_pages(spark, CHAIN), config))
    checkpoint = SnapshotStore(str(root)) if root is not None else None
    engine = CrawlEngine(spark, config, transport, checkpoint=checkpoint,
                         **engine_kwargs)
    return engine.run(["http://c.test/a"]), transport


def test_past_depth_generation_fetches_nothing(spark, tmp_path):
    root = tmp_path / "snap"
    result, transport = _chain_crawl(spark, root)
    # generations 0 and 1 each probe robots.txt and fetch once;
    # generation 2 (only c, at depth 2) calls the transport not at all
    assert transport.calls == 4
    assert result.generations == 3
    assert canonical(result) == [
        (0, 0, "http://c.test/a"), (1, 1, "http://c.test/b"),
        (2, 2, "http://c.test/c"),
    ]
    assert {r["url"] for r in result.results.collect()} == {
        "http://c.test/a", "http://c.test/b"}
    assert [(m["generation"], m["enqueued"], m["fetched"])
            for m in result.metrics] == [(0, 1, 1), (1, 1, 1), (2, 1, 0)]
    manifests = SnapshotStore(str(root)).manifests()
    assert [m["gen"] for m in manifests] == [0, 1, 2]
    for m in manifests:
        assert {"frontier", "fetched", "links"} <= set(m["tables"])
    last = manifests[-1]
    assert spark.read.parquet(last["tables"]["fetched"]).count() == 0
    assert spark.read.parquet(last["tables"]["links"]).count() == 0
    assert result.robots is not None and result.robots.count() == 1

    # the plain (uncheckpointed) engine skips the same generation
    plain, plain_transport = _chain_crawl(spark)
    assert plain_transport.calls == 4
    assert canonical(plain) == canonical(result)
    strip = lambda ms: [{k: v for k, v in m.items() if k != "sec"} for m in ms]
    assert strip(plain.metrics) == strip(result.metrics)

    # a resume of the finished crawl finds nothing left to do
    again, again_transport = _chain_crawl(spark, root)
    assert again_transport.calls == 0
    assert canonical(again) == canonical(result)


def test_resume_launches_no_spark_job(spark, tmp_path):
    root = tmp_path / "snap"
    _chain_crawl(spark, root)
    with count_jobs(spark) as jobs:
        state = SnapshotStore(str(root)).resume(spark)
    assert state is not None
    assert jobs["n"] == 0


def test_read_back_schema_equals_inferred(spark, tmp_path):
    root = tmp_path / "snap"
    _chain_crawl(spark, root)
    store = SnapshotStore(str(root))
    for m in store.manifests():
        assert set(m["schemas"]) == set(m["tables"])
        for table, path in m["tables"].items():
            recorded = StructType.fromJson(m["schemas"][table])
            assert recorded == spark.read.parquet(path).schema, (m["gen"], table)
    # a store written before manifests carried schemas still resumes,
    # to the same frames
    want = store.resume(spark)
    for p in (root / "_manifests").glob("gen-*.json"):
        m = json.loads(p.read_text())
        del m["schemas"]
        p.write_text(json.dumps(m))
    got = SnapshotStore(str(root)).resume(spark)
    assert got[3:] == want[3:]
    for frames_got, frames_want in ((got[0], want[0]), (got[2], want[2])):
        assert [f.schema for f in frames_got] == [f.schema for f in frames_want]
        assert [sorted(f.collect()) for f in frames_got] == [
            sorted(f.collect()) for f in frames_want]


# Spark jobs of the checkpointed chain crawl (3 generations, robots
# on). The bound breaks when a commit infers its read-back schema, a
# row count gets a job of its own, or the past-depth generation runs
# its fetch side again.
CHAIN_CRAWL_MAX_JOBS = 19


def test_checkpointed_crawl_job_budget(spark, tmp_path):
    _chain_crawl(spark, tmp_path / "warm")  # compile the UDFs once
    with count_jobs(spark) as jobs:
        result, _ = _chain_crawl(spark, tmp_path / "snap")
    assert result.generations == 3
    assert jobs["n"] <= CHAIN_CRAWL_MAX_JOBS


def test_depth_carrying_table_seeds(spark, tmp_path):
    pages = _pages(spark, CHAIN)
    config = CrawlConfig(depth=1, domain_filter=False)

    def crawl(seeds, checkpoint=None):
        return CrawlEngine(spark, config, JoinTransport(pages, config),
                           checkpoint=checkpoint).run(seeds)

    # a seed at depth 0 and one already past the limit: the deep one is
    # seen but never fetched; the shallow one crawls as usual
    mixed = spark.createDataFrame(
        [("http://c.test/a", 0, 0), ("http://c.test/d", 1, 5)],
        "url string, parent_order long, depth int")
    r = crawl(mixed)
    ck = crawl(mixed, SnapshotStore(str(tmp_path / "mixed")))
    assert canonical(r) == canonical(ck) == [
        (0, 0, "http://c.test/a"), (5, 1, "http://c.test/d"),
        (1, 2, "http://c.test/b"), (2, 3, "http://c.test/c"),
    ]
    assert {x["url"] for x in r.results.collect()} == {
        "http://c.test/a", "http://c.test/b"}

    # every seed past the limit: nothing fetched, seeds still seen
    deep = spark.createDataFrame(
        [("http://c.test/c", 0, 2)], "url string, parent_order long, depth int")
    r = crawl(deep)
    assert canonical(r) == [(2, 0, "http://c.test/c")]
    assert r.results.count() == 0
    assert r.generations == 1


def test_breaker_state_survives_resume(spark, tmp_path):
    """The breaker trips on bad.test in generation 0; a crawl stopped
    after generation 0 and resumed must still skip bad.test's pages."""
    site = {
        "http://s.test/": '<a href="http://bad.test/1">1</a>'
                          '<a href="http://bad.test/2">2</a>'
                          '<a href="/a">a</a>',
        "http://s.test/a": "<p>a</p>",
        "http://bad.test/0": "<p>down</p>",
        "http://bad.test/1": "<p>down</p>",
        "http://bad.test/2": "<p>down</p>",
    }
    status = {u: 503 for u in site if "bad.test" in u}
    pages = _pages(spark, site, status)
    config = CrawlConfig(depth=2, domain_filter=False,
                         host_cooldown_ratio=0.5, host_cooldown_min_fetches=1)
    seeds = ["http://s.test/", "http://bad.test/0"]

    def engine(root, **kw):
        return CrawlEngine(spark, config, JoinTransport(pages, config),
                           checkpoint=SnapshotStore(str(root)), **kw)

    full = engine(tmp_path / "full").run(seeds)
    fetched = lambda r: sorted(x["url"] for x in r.results.collect())
    assert fetched(full) == [
        "http://bad.test/0", "http://s.test/", "http://s.test/a"]

    engine(tmp_path / "killed", max_generations=1).run(seeds)
    resumed = engine(tmp_path / "killed").run(seeds)
    assert canonical(resumed) == canonical(full)
    assert fetched(resumed) == fetched(full)


def test_host_of_str_matches_host_of(spark):
    urls = [
        "http://a.test:8080/", "http://u:p@A.Test/x", "https://[::1]:443/x",
        "http://a.test:abc/", "http://a_b.test/", "a.test/x",
        "http://exa mple.com/", "mailto:x@y", "http://a.test",
        "HTTP://B.TEST:80?q", "http://a.test:/x", "", "http://",
        "http://1.2.3.4:9/", "http://a.123/", "http://-a.test/",
        "http://a.test./", "http://a.test:99999/", "//a.test/x",
    ]
    jvm = {
        r["u"]: r["h"]
        for r in spark.createDataFrame([(u,) for u in urls], "u string")
        .select("u", host_of("u").alias("h")).collect()
    }
    assert {u: host_of_str(u) for u in urls} == jvm


def test_port_bearing_seed_list_table_parity(spark, tmp_path):
    site = {
        "http://a.test:8080/": '<a href="/x">x</a><a href="http://b.test/">b</a>',
        "http://a.test:8080/x": "<p>x</p>",
        "http://b.test/": "<p>off-domain</p>",
    }
    pages = _pages(spark, site)
    config = CrawlConfig(depth=2)  # domain filter on: seed hosts only

    def crawl(seeds, checkpoint=None):
        return CrawlEngine(spark, config, JoinTransport(pages, config),
                           checkpoint=checkpoint).run(seeds)

    store = SnapshotStore(str(tmp_path / "snap"))
    r_list = crawl(["http://a.test:8080/"], store)
    r_table = crawl(spark.createDataFrame(
        [("http://a.test:8080/", 0)], "url string, parent_order long"))
    assert canonical(r_list) == canonical(r_table)
    fetched = lambda r: sorted(x["url"] for x in r.results.collect())
    assert fetched(r_list) == fetched(r_table) == [
        "http://a.test:8080/", "http://a.test:8080/x"]
    # lineage hosts are host_of hosts: the port is not part of them
    lineage = store.manifests()[0]["lineage"]
    assert {(p["host_min"], p["host_max"]) for p in lineage} == {
        ("a.test", "a.test")}
