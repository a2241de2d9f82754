"""Crawl benchmark: one seeded workload per process, checked output.

    python3 perfbench/run.py --workload wide_crawl --seed 1 --seconds 5 --trace 0

Run from the repository root.  With ``--trace 0`` it sets the session
up several times (session start plus an untimed warm-up crawl), then
repeats the workload's crawl until ``--seconds`` of crawl time are
measured, checks every crawl against its oracle, and prints the
end-to-end metrics.  With ``--trace 1`` it runs one untraced and one
traced crawl, then the isolated layer calls, and prints the per-layer
metrics.  The last line of standard output is the result object; the
line before it is the full run record (samples, load, versions).
``--size toy`` shrinks every input for a quick self-test.

Work files live under ``.bench_work/`` in the current directory and
are removed at exit; traced runs keep their spans in
``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import layers, oracles  # noqa: E402
from perfbench.trace import Proxy, Tracer, fold_event_log, sum_groups  # noqa: E402
from perfbench.workloads import CRAWL_TIMEOUT_S, WORKLOADS  # noqa: E402

SETUP_ROUNDS = 3     # setup_s is the median of these
MIN_REPS = 1         # timed crawls per run, at least
MAX_ATTEMPTS = 12
WALL_BUDGET_S = 150  # start no new timed crawl past this


# ------------------------------------------------------------------ process

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            stat = Path(f"/proc/{entry}/stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_peak_rss() -> dict:
    """Sum of the peak resident sizes (VmHWM) of this process and all
    its descendants — the driver JVM and the Python workers — in MB,
    with the share of each kind of process and the count of processes."""
    kids = _children()
    todo, out = [os.getpid()], {"total_mb": 0.0, "processes": 0}
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            name = Path(f"/proc/{pid}/comm").read_text().strip()
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    mb = int(line.split()[1]) / 1024
                    kind = f"{name}_mb"
                    out[kind] = out.get(kind, 0.0) + mb
                    out["total_mb"] += mb
                    out["processes"] += 1
        except OSError:
            pass
    return out


def source_id() -> dict:
    """Git SHA when the checkout has one, and always a hash of the
    engine and benchmark sources."""
    h = hashlib.sha256()
    for p in sorted(list((ROOT / "flyscrape_spark").rglob("*.py"))
                    + list((ROOT / "perfbench").rglob("*.py"))):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    out = {"source_sha256": h.hexdigest()[:16], "git_sha": None}
    head = ROOT / ".git" / "HEAD"
    if head.exists():
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            ref_file = ROOT / ".git" / ref[5:]
            out["git_sha"] = ref_file.read_text().strip() if ref_file.exists() else None
        else:
            out["git_sha"] = ref
    return out


def use_work_dir(work: Path) -> None:
    """Keep the temporary files of this process, its Python workers and
    its JVMs under ``work``."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    # the JVMs would otherwise keep their perf-data files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"


class Session:
    """Starts and stops the local Spark session, and at the end the JVM
    itself, waiting until it has exited."""

    def __init__(self, work: Path, cores: int, event_log: bool):
        self.work = work
        self.cores = cores
        self.event_log = event_log
        self.spark = None

    @property
    def warehouse(self) -> Path:
        return self.work / "warehouse"

    def start(self):
        from flyscrape_spark.session import get_spark

        conf = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.work / "local"),
            "spark.sql.warehouse.dir": str(self.warehouse),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}",
        }
        if self.event_log:
            (self.work / "eventlog").mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.work / 'eventlog'}",
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(app_name="perfbench", master=f"local[{self.cores}]",
                               shuffle_partitions=self.cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        from pyspark import SparkContext

        try:
            self.stop()
        finally:
            # the JVM goes even when the session cannot stop cleanly
            # (e.g. a signal arrived in the middle of a Py4J call)
            self.spark = None
            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                with contextlib.suppress(Exception):
                    gateway.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


# ----------------------------------------------------------------- metrics

def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with at least 10
    samples beyond it; the maximum when there are 10 or fewer."""
    s = sorted(samples)
    if len(s) <= 10:
        return s[-1], 100.0
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)


def setup(sess: Session, wl, work: Path) -> tuple[object, dict]:
    """Session start (through the engine's own factory) plus the
    warm-up crawl, SETUP_ROUNDS times.  Only the first round launches
    the JVM; later rounds re-enter the factory on the live context, so
    the median is the set-up a warm process pays."""
    start, warm = [], []
    for r in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        spark = sess.start()
        start.append(time.perf_counter() - t0)
        if r == 0:
            wl.warehouse = sess.warehouse
            wl.prepare(spark, work)
        wl.bind(spark)
        t0 = time.perf_counter()
        wl.warmup(spark, work)
        warm.append(time.perf_counter() - t0)
    totals = [a + b for a, b in zip(start, warm)]
    return spark, {
        "start_s": statistics.median(start), "warmup_s": statistics.median(warm),
        "setup_s": statistics.median(totals), "rounds": totals,
    }


def timed(spark, wl, work: Path, seconds: float, t_begin: float) -> dict:
    reps, failures = [], []
    attempted = 0
    measured = 0.0
    rss = tree_peak_rss()
    tracker = spark.sparkContext.statusTracker()
    while attempted < MAX_ATTEMPTS and (len(reps) < MIN_REPS or measured < seconds):
        if reps and time.perf_counter() - t_begin > WALL_BUDGET_S:
            break
        attempted += 1
        load0 = os.getloadavg()[0]
        jobs0 = max(tracker.getJobIdsForGroup(None), default=-1)
        try:
            out = wl.crawl(spark, work)
            errs = wl.check(out)
        except Exception:
            failures.append(traceback.format_exc(limit=3))
            continue
        if out.wall_s > CRAWL_TIMEOUT_S:
            errs.append(f"crawl took {out.wall_s:.1f}s")
        if errs:
            # the crawl finished, so its timing stands; the run is marked wrong
            failures.append("; ".join(errs))
        measured += out.wall_s
        rss = max(rss, tree_peak_rss(), key=lambda r: r["total_mb"])
        reps.append({
            "wall_s": out.wall_s, "seen": out.n_seen, "fetched": out.n_fetched,
            "urls_per_s": out.n_seen / out.wall_s, "gen_secs": out.gen_secs,
            "jobs": max(tracker.getJobIdsForGroup(None), default=-1) - jobs0,
            "load_before": load0, "load_after": os.getloadavg()[0], **out.extra,
        })
    return {"reps": reps, "attempted": attempted, "failures": failures,
            "peak_rss": rss}


def end_to_end(setup_info: dict, t: dict) -> tuple[dict, dict]:
    reps = t["reps"]
    gens = [g for r in reps for g in r["gen_secs"]]
    tail_v, tail_p = tail(gens) if gens else (0.0, 0.0)
    med = statistics.median
    metrics = {
        "setup_s": (setup_info["setup_s"], "s"),
        "urls_per_s": (med(r["urls_per_s"] for r in reps) if reps else 0.0, "1/s"),
        "peak_rss_mb": (t["peak_rss"]["total_mb"], "MB"),
    }
    jobs = [r["jobs"] for r in reps]
    extra = {
        "generation_s_p50": med(gens) if gens else None,
        "generation_s_tail": tail_v,
        "generation_s_tail_percentile": tail_p,
        "generation_samples": len(gens),
        "failed_ratio": len(t["failures"]) / max(t["attempted"], 1),
        "jobs_per_crawl": {"min": min(jobs), "max": max(jobs)} if jobs else None,
        "peak_rss": t["peak_rss"],
    }
    for key in ("resume_s", "snapshot_bytes_per_url"):
        if reps and key in reps[0]:
            extra[key] = med(r[key] for r in reps)
    return metrics, extra


def traced(sess: Session, spark, wl, work: Path, setup_info: dict, run_id: str):
    """One untraced and one traced crawl, then the isolated layer calls;
    the per-layer metrics come from the traced crawl and the calls."""
    tracer = Tracer(spark.sparkContext, run_id)
    untraced = wl.crawl(spark, work)
    with tracer.span("crawl"):
        out = wl.crawl(spark, work, wrap=lambda o, layer: Proxy(o, layer, tracer),
                       span=tracer.span)
    failures = [f"{mode}: " + "; ".join(errs)
                for mode, errs in (("untraced", wl.check(untraced)), ("traced", wl.check(out)))
                if errs]
    info = layers.isolated(spark, wl, out, tracer)
    out.extra["candidates"] = wl.ref_candidates()
    out.extra["robots_hosts"], out.extra["robots_disallowed_ratio"] = layers.robots_numbers(
        out.robots, out.seen, wl.depth_limit())
    if wl.polite:
        out.extra["crawl_violations"] = oracles.politeness_violations(
            out.results, wl.config().rate, wl.delays())
    sess.stop()   # completes the event log
    folded = fold_event_log(work / "eventlog")
    tracer.dump(Path.cwd() / ".bench_work" / "traces" / f"{run_id}.json")
    metrics = layers.per_layer(tracer, folded, out, wl, setup_info, info,
                               out.wall_s - untraced.wall_s)
    runs = [s for r in tracer.named("frontier.run") for s in tracer.subtree(r)]
    extra = {"untraced_wall_s": untraced.wall_s, "traced_wall_s": out.wall_s,
             "spans": len(tracer.spans), "frontier_fold": sum_groups(folded, runs)}
    return metrics, {"attempted": 2, "failures": failures}, extra


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "toy"), default="full")
    args = ap.parse_args(argv)

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    t_begin = time.perf_counter()
    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = Path.cwd() / ".bench_work" / run_id
    use_work_dir(work)

    import pyarrow
    import pyspark

    wl = WORKLOADS[args.workload](args.seed, args.size)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "size": args.size, "nproc": cores,
        "load_start": os.getloadavg(), "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "python": sys.version.split()[0],
        **source_id(),
    }
    sess = Session(work, cores, event_log=bool(args.trace))
    # on SIGTERM, still stop the JVM and remove the work files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        spark, setup_info = setup(sess, wl, work)
        record["setup"] = setup_info
        if args.trace:
            metrics, counts, extra = traced(sess, spark, wl, work, setup_info, run_id)
        else:
            t = timed(spark, wl, work, args.seconds, t_begin)
            metrics, extra = end_to_end(setup_info, t)
            counts = t
            record["reps"] = t["reps"]
    finally:
        try:
            sess.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            with contextlib.suppress(OSError):
                work.parent.rmdir()   # only when no other run or trace is there
    record.update(extra)
    record["failures"] = counts["failures"]
    record["load_end"] = os.getloadavg()
    record["wall_s"] = time.perf_counter() - t_begin
    failed = len(counts["failures"])
    result = {
        "correct": failed == 0,
        "attempted": counts["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
