"""Isolated layer calls and the per-layer metrics of the traced run.

The isolated calls run in the traced run only, after the traced crawl,
on inputs the workload's own crawl produced: its largest fetched
generation and the candidate links those pages generate.  Each call is
a span with its own job group, so its Spark work can be read back from
the event log.  Outputs are consumed with Spark's ``noop`` sink, which
runs the whole plan and keeps nothing.
"""

from __future__ import annotations

import statistics
import time

from perfbench import oracles
from perfbench.trace import Tracer, sum_groups

PARSE_PAGES = 5000
PARSE_PASSES = 2


def _drain(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def isolated(spark, wl, out, tracer: Tracer) -> dict:
    """Run every isolated layer call; returns what the metrics need
    besides the spans (page counts, violation counts)."""
    from pyspark.sql import functions as F

    from flyscrape_spark.plans.frontier import CrawlEngine, assign_global_order_counted

    res = out.result
    parents, d = wl.largest_generation(res)
    with tracer.span("bench.inputs"):
        parents = parents.select("url", "host", "discovery_order").localCheckpoint(eager=True)
        bounds = parents.agg(F.min("discovery_order"), F.max("discovery_order")).first()
        page = wl.page_id()
        links = F.array(*[wl.url_of(t) for t in wl.link_targets(page)])
        cand = (
            parents.select(F.col("discovery_order").alias("parent_order"),
                           F.posexplode(links).alias("pos", "url"))
            .select("url", F.lit(d + 1).cast("int").alias("depth"), "parent_order",
                    F.col("pos").cast("int").alias("pos"))
            .withColumn("url_key", F.xxhash64("url"))
            .withColumn("url_key2", F.xxhash64("url", F.lit(1)))
            .localCheckpoint(eager=True)
        )
        # the seen set as it stood when that generation's links arrived
        before = res.seen.filter(F.col("depth") <= d)
        seen = before.select(
            F.col("url").alias("seen_url"), F.col("url_key").alias("seen_key"),
            F.xxhash64("url", F.lit(1)).alias("seen_key2"),
        ).localCheckpoint(eager=True)
        next_order = before.count()
        deduped = CrawlEngine.dedupe_candidates(cand, fingerprint=True).localCheckpoint(eager=True)

    with tracer.span("frontier.dedupe"):
        _drain(CrawlEngine.dedupe_candidates(cand, fingerprint=wl.fingerprint))
    fp_cond = ((deduped["url_key"] == seen["seen_key"])
               & (deduped["url_key2"] == seen["seen_key2"]))
    with tracer.span("frontier.antijoin_fp"):
        _drain(deduped.join(seen, fp_cond, "left_anti"))
    exact_cond = ((deduped["url_key"] == seen["seen_key"])
                  & (deduped["url"] == seen["seen_url"]))
    with tracer.span("frontier.antijoin_exact"):
        _drain(deduped.join(seen, exact_cond, "left_anti"))
    with tracer.span("bench.inputs"):
        enq = deduped.join(seen, fp_cond, "left_anti").localCheckpoint(eager=True)
    with tracer.span("frontier.order"):
        ordered, _ = assign_global_order_counted(
            enq, ["parent_order", "pos"], "discovery_order", start=next_order,
            bounds=(bounds[0], bounds[1] + 1))
        _drain(ordered)

    info = _parse_split(spark, wl, tracer)
    info["schedule_violations"] = (
        _politeness(spark, wl, parents, tracer) if wl.polite else 0)
    return info


def _parse_split(spark, wl, tracer) -> dict:
    """The same pages parsed in this process and through the Arrow
    page UDF; the difference is the UDF boundary.  Both sides run once
    untimed first, so workers and caches are warm."""
    from pyspark.sql import functions as F

    from flyscrape_spark.parse.html import links_from_root, parse_html, spans_from_root
    from flyscrape_spark.parse.udfs import make_page_udf

    sels = wl.config().follow_selectors()
    parts = spark.sparkContext.defaultParallelism
    with tracer.span("bench.inputs"):
        pages = (wl.sample_pages(spark, PARSE_PAGES)
                 .repartition(parts).localCheckpoint(eager=True))
        local = pages.toPandas()
    n = len(local)
    passes = []
    for _ in range(PARSE_PASSES + 1):
        t0 = time.perf_counter()
        for url, html in zip(local["url"], local["body"]):
            root = parse_html(html)
            spans_from_root(root)
            links_from_root(root, url, sels)
        passes.append(time.perf_counter() - t0)
    udf = make_page_udf(sels)
    for name in ("bench.inputs", "parse.udf"):
        with tracer.span(name):
            pages.select(udf(F.col("body"), F.col("url")).alias("p")).agg(
                F.sum(F.size("p.links")), F.sum(F.size("p.spans"))).collect()
    return {"parse_pages": n, "parse_inproc_s": statistics.median(passes[1:])}


def _politeness(spark, wl, parents, tracer) -> int:
    """Time an isolated schedule() call; returns its hard violations."""
    from flyscrape_spark.operators.politeness import schedule

    cfg = wl.config()
    rate = cfg.rate or 6000.0
    delays = wl.delays()
    host_delays = (spark.createDataFrame(sorted(delays.items()), "host string, crawl_delay double")
                   if delays else None)
    with tracer.span("politeness.schedule"):
        sched = schedule(parents, rate_per_min=rate, max_fanout=cfg.max_host_fanout,
                         host_delays=host_delays).localCheckpoint(eager=True)
    pdf = sched.select("host", "fetch_time").toPandas()
    pdf["depth"] = 0
    return oracles.politeness_violations(pdf, rate, delays)


def robots_numbers(caches, seen_pdf, depth: int) -> tuple[int, float]:
    """(robots hosts, share of fetchable seen URLs their rules disallow),
    over the robots.txt caches of every engine run in the crawl."""
    from flyscrape_spark.operators.robots import is_allowed

    rules = {r["host"]: r["rules"] or []
             for cache in caches if cache is not None for r in cache.collect()}
    if not rules:
        return 0, 0.0
    fetchable = seen_pdf[seen_pdf["depth"] <= depth]
    blocked = 0
    for url in fetchable["url"]:
        host, _, path = url.split("://", 1)[1].partition("/")
        blocked += not is_allowed(rules.get(host, []), "/" + path)
    return len(rules), blocked / max(len(fetchable), 1)


def per_layer(tracer: Tracer, folded: dict, out, wl, setup: dict, info: dict,
              overhead_s: float) -> dict:
    """Every per-layer metric, as {name: (value, unit)}."""
    runs = tracer.named("frontier.run")
    tree = [s for r in runs for s in tracer.subtree(r)]
    fr = sum_groups(folded, tree)
    gens = max(out.generations, 1)
    seen = max(out.n_seen, 1)

    def secs(name):
        return tracer.total_seconds(name)

    def calls(name):
        return len(tracer.named(name))

    def run_s(name):
        return sum_groups(folded, tracer.named(name))["run_s"]

    pages = max(info["parse_pages"], 1)
    inproc_us = info["parse_inproc_s"] / pages * 1e6
    udf_us = run_s("parse.udf") / pages * 1e6
    x = out.extra
    m = {
        "session.start_s": (setup["start_s"], "s"),
        "session.warmup_s": (setup["warmup_s"], "s"),
        "frontier.jobs_per_gen": (sum(s["jobs"] for s in tree) / gens, "count"),
        "frontier.stages_per_gen": (fr["stages"] / gens, "count"),
        "frontier.tasks_per_gen": (fr["tasks"] / gens, "count"),
        "frontier.self_s": (sum(tracer.self_seconds(r) for r in runs), "s"),
        "frontier.task_s": (fr["run_s"], "s"),
        "frontier.shuffle_write_bytes_per_url": (fr["shuffle_write_bytes"] / seen, "bytes/url"),
        "frontier.spill_bytes": (fr["spill_bytes"], "bytes"),
        "frontier.enqueued_per_candidate": (out.n_seen / max(x["candidates"], 1), "ratio"),
        "frontier.dedup_s": (secs("frontier.dedupe"), "s"),
        "frontier.antijoin_fp_s": (secs("frontier.antijoin_fp"), "s"),
        "frontier.antijoin_exact_s": (secs("frontier.antijoin_exact"), "s"),
        "frontier.order_s": (secs("frontier.order"), "s"),
        "parse.inproc_us_per_page": (inproc_us, "us"),
        "parse.udf_us_per_page": (udf_us, "us"),
        "parse.boundary_us_per_page": (udf_us - inproc_us, "us"),
        "transport.fetch_calls": (calls("transport.fetch"), "count"),
        "transport.fetch_plan_s": (secs("transport.fetch"), "s"),
        "politeness.schedule_s": (secs("politeness.schedule"), "s"),
        "politeness.hard_violations": (
            info["schedule_violations"] + x.get("crawl_violations", 0), "count"),
        "robots.hosts": (x["robots_hosts"], "count"),
        "robots.disallowed_ratio": (x["robots_disallowed_ratio"], "ratio"),
        "snapshots.commits": (calls("checkpoint.commit"), "count"),
        "snapshots.commit_s": (secs("checkpoint.commit"), "s"),
        "snapshots.commit_meta_s": (secs("checkpoint.commit_meta"), "s"),
        "snapshots.bytes_written": (x.get("store_bytes", 0), "bytes"),
        "snapshots.resume_s": (secs("checkpoint.resume"), "s"),
        "seen_store.appends": (calls("seen_store.append"), "count"),
        "seen_store.append_s": (secs("seen_store.append"), "s"),
        "seen_store.bytes": (x.get("seen_store_bytes", 0), "bytes"),
        "bloom.add_s": (secs("seen_bloom.add_keys"), "s"),
        "bloom.split_calls": (calls("seen_bloom.split"), "count"),
        "bloom.fp_estimate": (x.get("bloom_fp_estimate", 0.0), "ratio"),
        "cuckoo.add_s": (secs("seen_cuckoo.add_keys"), "s"),
        "cuckoo.split_calls": (calls("seen_cuckoo.split"), "count"),
        "trace.overhead_s": (overhead_s, "s"),
        "trace.bookkeeping_s": (tracer.bookkeeping_s, "s"),
    }
    return m
