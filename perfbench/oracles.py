"""Independent oracles for the crawl workloads.

Nothing here calls the engine.  The synthetic web is known in closed
form — page ``i`` of ``n`` lives on host ``w{i % hosts}.example`` and
links, in anchor order, to pages ``(k*i + 2k + 1) mod n`` for
``k = 1..branching`` — so a sequential NumPy BFS can recompute the
whole crawl: the seen set with each URL's depth and discovery order,
and the fetched set.  The BFS follows the engine's documented rules:

- links are deduplicated per page (first occurrence) and numbered in
  document order (``pos``);
- a generation keeps the first ``(parent_order, pos)`` occurrence of
  each URL, drops URLs seen in earlier generations, and numbers the
  rest in ``(parent_order, pos)`` order after all earlier ones;
- every enqueued URL is marked seen; only those within the depth limit
  that pass robots.txt and the host circuit breaker are fetched, and
  fetched pages (including 5xx pages, whose body is kept) fan out.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


def synth_url(page: int, hosts: int) -> str:
    return f"http://w{page % hosts}.example/d/{page}"


def seed_ids(count: int, n: int, seed: int) -> np.ndarray:
    """Seed page ids ``(a*(j*j mod n) + b*j + c) mod n`` for ``j < count``.
    The quadratic term keeps the ids from forming an arithmetic
    progression, whose links (``k*i + 2k + 1``) overlap by an amount
    that depends on the step: with an affine map the seen set of one
    seed was 15% smaller than another's.  An id may repeat (at most
    twice); the engine and the BFS both keep its first occurrence.  The
    benchmark builds the same ids in Spark from ``spark.range``."""
    a, b, c = seed_params(n, seed)
    j = np.arange(count, dtype=np.int64)
    return (a * (j * j % n) + b * j + c) % n


def seed_params(n: int, seed: int) -> tuple[int, int, int]:
    return (1 + (seed * 7919 + 104729) % (n - 1), 1 + (seed * 104723) % (n - 1),
            (seed * 15485863) % n)


@dataclass
class BfsResult:
    seen_ids: np.ndarray          # in discovery order
    seen_depth: np.ndarray
    fetched_ids: np.ndarray       # in discovery order
    fetched_depth: np.ndarray
    fetched_order: np.ndarray     # discovery_order of each fetched page
    candidates: int               # seeds + links generated
    largest_fetch_gen: int        # generation with the most fetched pages


def _page_links(parents: np.ndarray, n: int, branching: int):
    """(targets, keep): each parent's link targets in anchor order, and
    a mask that drops repeats on the same page.  Kept targets read
    row-major are in (parent_order, pos) order."""
    k = np.arange(1, branching + 1, dtype=np.int64)
    tgt = (parents[:, None] * k[None, :] + 2 * k[None, :] + 1) % n
    dup = np.zeros(tgt.shape, dtype=bool)
    for j in range(1, branching):
        dup[:, j] = (tgt[:, :j] == tgt[:, j:j + 1]).any(axis=1)
    return tgt, ~dup


def bfs(n: int, hosts: int, branching: int, seeds: np.ndarray, depth: int,
        robots_ok=None, error_hosts=frozenset(), cooldown_ratio=None,
        cooldown_min: int = 10) -> BfsResult:
    """Sequential BFS over the synthetic web.  ``robots_ok(ids)`` gives
    a fetch mask; pages of ``error_hosts`` answer 5xx, which feeds the
    per-host breaker when ``cooldown_ratio`` is set."""
    seen = np.zeros(n, dtype=bool)
    seen_ids, seen_depth = [], []
    f_ids, f_depth, f_order = [], [], []
    gen_fetched = []
    fetches = np.zeros(hosts, dtype=np.int64)
    errors = np.zeros(hosts, dtype=np.int64)
    err_host = np.zeros(hosts, dtype=bool)
    err_host[list(error_hosts)] = True
    cand = np.asarray(seeds, dtype=np.int64)   # already (parent, pos)-ordered
    n_cand = len(cand)
    next_order = 0
    gen = 0
    while True:
        _, first = np.unique(cand, return_index=True)
        kept = cand[np.sort(first)]
        enq = kept[~seen[kept]]
        if len(enq) == 0:
            break
        seen[enq] = True
        order = next_order + np.arange(len(enq), dtype=np.int64)
        next_order += len(enq)
        seen_ids.append(enq)
        seen_depth.append(np.full(len(enq), gen, dtype=np.int64))
        mask = np.full(len(enq), gen <= depth)
        if robots_ok is not None:
            mask &= robots_ok(enq)
        if cooldown_ratio is not None:
            cooled = (fetches >= cooldown_min) & (
                errors >= cooldown_ratio * np.maximum(fetches, 1))
            mask &= ~cooled[enq % hosts]
        fetched, forder = enq[mask], order[mask]
        f_ids.append(fetched)
        f_depth.append(np.full(len(fetched), gen, dtype=np.int64))
        f_order.append(forder)
        gen_fetched.append(len(fetched))
        h = fetched % hosts
        np.add.at(fetches, h, 1)
        np.add.at(errors, h[err_host[h]], 1)
        tgt, keep = _page_links(fetched, n, branching)
        cand = tgt[keep]
        n_cand += len(cand)
        gen += 1
    cat = np.concatenate
    return BfsResult(
        seen_ids=cat(seen_ids), seen_depth=cat(seen_depth),
        fetched_ids=cat(f_ids), fetched_depth=cat(f_depth),
        fetched_order=cat(f_order), candidates=n_cand,
        largest_fetch_gen=int(np.argmax(gen_fetched)),
    )


def compare_seen(seen_pdf, ref: BfsResult, hosts: int) -> list[str]:
    """The engine's seen frame must equal the oracle's
    (url, depth, discovery_order) rows exactly."""
    got = seen_pdf.sort_values("discovery_order")
    errs = []
    if len(got) != len(ref.seen_ids):
        return [f"seen rows {len(got)} != oracle {len(ref.seen_ids)}"]
    want_url = [synth_url(int(i), hosts) for i in ref.seen_ids]
    if list(got["discovery_order"]) != list(range(len(got))):
        errs.append("discovery_order is not 0..n-1")
    if list(got["url"]) != want_url:
        errs.append("seen urls differ from the oracle in discovery order")
    if not np.array_equal(got["depth"].to_numpy(np.int64), ref.seen_depth):
        errs.append("seen depths differ from the oracle")
    return errs


def compare_fetched(results_pdf, ref: BfsResult, hosts: int) -> list[str]:
    got = results_pdf.sort_values("discovery_order")
    if len(got) != len(ref.fetched_ids):
        return [f"fetched rows {len(got)} != oracle {len(ref.fetched_ids)}"]
    errs = []
    if list(got["url"]) != [synth_url(int(i), hosts) for i in ref.fetched_ids]:
        errs.append("fetched urls differ from the oracle")
    if not np.array_equal(got["discovery_order"].to_numpy(np.int64),
                          ref.fetched_order):
        errs.append("fetched discovery_order differs from the oracle")
    if not np.array_equal(got["depth"].to_numpy(np.int64), ref.fetched_depth):
        errs.append("fetched depths differ from the oracle")
    return errs


def politeness_violations(results_pdf, rate_per_min: float,
                          delays: dict[str, float]) -> int:
    """Fetches whose gap to the previous fetch of the same host in the
    same generation is below max(60/rate, crawl-delay)."""
    bad = 0
    base = 60.0 / rate_per_min
    for (_, host), grp in results_pdf.groupby(["depth", "host"]):
        gap = max(base, delays.get(host, 0.0))
        t = np.sort(grp["fetch_time"].to_numpy(float))
        bad += int((np.diff(t) < gap - 1e-9).sum())
    return bad


def deep_twin(docs_path: str) -> set[tuple[str, int]]:
    """The DuckDB twin of the ``crawl_bfs`` query: (url, min depth)."""
    import duckdb

    from flyscrape_spark.queries import sql_crawl_bfs

    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{docs_path}')")
        return {(u, int(d)) for u, d in con.execute(sql_crawl_bfs()).fetchall()}
    finally:
        con.close()
