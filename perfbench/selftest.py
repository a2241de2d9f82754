"""Toy-size self-test of the benchmark itself.

    python3 perfbench/selftest.py

Runs every workload (``wide_crawl``, ``deep_crawl``, ``durable_crawl``)
once at toy size in one process, traced: inputs, oracles, the traced
crawl through the layer proxies, the output checks, and the event-log
fold that attributes Spark jobs and tasks to spans.  It also runs
``durable_crawl`` with the host circuit breaker on and a fetching
generation after the resume, and compares each resumed durable crawl
with an uninterrupted crawl of the same config.  Exits non-zero if any
check fails or the fold attributes no work to the crawl.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.run import Session, use_work_dir  # noqa: E402
from perfbench.trace import Proxy, Tracer, fold_event_log, sum_groups  # noqa: E402
from perfbench.workloads import WORKLOADS, DurableCrawl  # noqa: E402


def main() -> int:
    t_begin = time.perf_counter()
    work = Path.cwd() / ".bench_work" / f"selftest-{os.getpid()}"
    use_work_dir(work)
    cores = len(os.sched_getaffinity(0))
    problems: list[str] = []
    sess = Session(work, cores, event_log=True)
    try:
        spark = sess.start()
        tracers = {}
        cases = {name: cls(seed=7, size="toy") for name, cls in WORKLOADS.items()}
        cases["durable_crawl+breaker"] = DurableCrawl(seed=7, size="toy", breaker=True)
        for name, wl in cases.items():
            t0 = time.perf_counter()
            wl.warehouse = sess.warehouse
            wl.prepare(spark, work)
            wl.bind(spark)
            wl.prepare_checks(spark, work)
            tracer = tracers[name] = Tracer(spark.sparkContext, f"selftest-{name}")
            with tracer.span("crawl"):
                out = wl.crawl(spark, work, span=tracer.span,
                               wrap=lambda o, layer, t=tracer: Proxy(o, layer, t))
            errs = wl.check(out)
            problems += [f"{name}: {e}" for e in errs]
            print(f"{name}: seen={out.n_seen} fetched={out.n_fetched} "
                  f"gens={out.generations} checks={'ok' if not errs else errs} "
                  f"({time.perf_counter() - t0:.1f}s)", flush=True)
        sess.stop()
        folded = fold_event_log(work / "eventlog")
        for name, tracer in tracers.items():
            tree = [s for r in tracer.named("frontier.run") for s in tracer.subtree(r)]
            tot = sum_groups(folded, tree)
            jobs = sum(s["jobs"] for s in tree)
            print(f"{name}: fold jobs={jobs}/{tot['jobs']} stages={tot['stages']} "
                  f"tasks={tot['tasks']} task_s={tot['run_s']:.2f}", flush=True)
            if not (jobs > 0 and tot["jobs"] == jobs and tot["tasks"] > 0):
                problems.append(f"{name}: event-log fold does not match the spans")
    finally:
        sess.close()
        shutil.rmtree(work, ignore_errors=True)
    print(f"selftest {'FAILED' if problems else 'ok'} in "
          f"{time.perf_counter() - t_begin:.1f}s", flush=True)
    for p in problems:
        print("  " + p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
