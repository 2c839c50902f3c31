"""Crawl workloads: a seed list made from ``--seed``, handed to
``CrawlScheduler.bootstrap``, then a fixed number of ``step()`` rounds.

Every crawl is checked after it ends, from its own fetch log:
no URL scheduled twice, no host over its (crawl-delay adjusted) budget in
a round, no scheduled URL under one of its host's disallow prefixes, and a
sha256 of the crawl order that must repeat for the same seed.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd

from simplecommoncrawlextractor_spark.plans import CrawlScheduler, StateStore
from simplecommoncrawlextractor_spark.plans import scheduler as scheduler_mod
from simplecommoncrawlextractor_spark.plans.robots import ROBOTS_SCHEMA

# Sized so that a whole run, JVM start included, stays under about a minute
# on 4 cores, where one round costs 10-30 s of mostly fixed per-job
# overhead regardless of frontier size.
CRAWLS = {
    # per-round fixed cost: robots refresh and two state commits every
    # round, cuckoo seen set, and a frontier compaction in the second round
    # (forced after 2 parts instead of 8 so that it fires inside the run;
    # see README)
    "crawl_deep": dict(
        n_seeds=1_500, n_hosts=150, host_budget=10, salt_k=4, n_buckets=4,
        backend="cuckoo", auto_robots=True, rounds=2, max_frontier_parts=2,
    ),
}

HOT_HOST = "hot.example.com"
PATHS = np.array(["/s/", "/p/", "/private/", "/a/b/", "/news/"])


def seed_list(seed: int, n: int, n_hosts: int) -> pd.DataFrame:
    """A many-host seed list with 30% of its rows on one hot host. Some rows
    differ only in case, default port or a dot segment, so canonicalization
    and the within-batch dedup have twins to fold."""
    rng = np.random.default_rng(seed)
    hot = rng.random(n) < 0.3
    host_ids = rng.integers(0, n_hosts, n)
    hosts = np.where(
        hot, HOT_HOST, np.char.add(np.char.add("h", host_ids.astype(str)), ".example.org")
    )
    host = pd.Series(hosts)
    path = pd.Series(PATHS[rng.integers(0, len(PATHS), n)]) + pd.Series(
        rng.integers(0, 1 << 40, n)
    ).map("{:x}".format)
    variant = rng.integers(0, 20, n)
    url = ("https://" + host + path).mask(variant == 0, "HTTP://" + host.str.upper() + path)
    url = url.mask(variant == 1, "https://" + host + ":443" + path)
    url = url.mask(variant == 2, "https://" + host + "/." + path)
    twins = np.flatnonzero(rng.random(n) < 0.05)
    url.iloc[twins] = url.iloc[rng.integers(0, n, len(twins))].values
    return pd.DataFrame({
        "url": url,
        "priority": np.round(rng.random(n), 3),
        "discovered_at": pd.Timestamp("2025-01-01")
        + pd.to_timedelta(rng.integers(0, 30 * 86400, n), unit="s"),
    })


def install_tracing(tracer, sched: CrawlScheduler) -> None:
    """Wrap the layer entry points ``step()`` reaches, on this scheduler
    instance and the scheduler module's imported names only."""
    def fetch_counts(sp, args, out):
        sp["counts"]["ok"] = out.filter("fetch_status = 'ADDED_TO_REPOSITORY'").count()

    def probe_counts(sp, args, out):
        sp["counts"]["in"] = tracer.rows(args[0])

    tracer.wrap(sched, "refresh_robots", "robots.refresh")
    tracer.wrap(sched, "_admit", "robots.admit")
    tracer.wrap(sched, "frontier", "frontier.resolve")
    tracer.wrap(scheduler_mod, "politeness_schedule", "frontier.schedule")
    tracer.wrap(scheduler_mod, "canonical_candidates", "frontier.canonicalize")
    tracer.wrap(scheduler_mod, "simulate_fetch", "fetch.simulate", after=fetch_counts)
    tracer.wrap(scheduler_mod, "synthetic_outlinks", "fetch.outlinks")
    tracer.wrap(sched.seen, "merge_delta", "seen.merge_delta")
    tracer.wrap(sched.seen, "probe", "seen.probe", after=probe_counts)
    tracer.wrap(sched.store, "read", "store.read")
    tracer.wrap(sched.store, "commit", "store.commit", after=_commit_counts(sched.store))


def _tree_size(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def _commit_counts(store: StateStore):
    """Files and bytes a commit added to the store. Walks the tree inside
    the span, after the commit, against the size the last commit left."""
    last = {"tree": None}

    def after(sp, args, out):
        before = last["tree"] or (0, 0)
        now = _tree_size(store.root)
        sp["counts"]["files_written"] = now[0] - before[0]
        sp["counts"]["bytes_written"] = now[1] - before[1]
        last["tree"] = now

    return after


def crawl_order_sha256(order: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for r in order.sort_values(["round", "host", "fetch_rank"]).itertuples(index=False):
        h.update(f"{r.round}\t{r.host}\t{r.fetch_rank}\t{r.URL}\n".encode())
    return h.hexdigest()


def check_crawl(order: pd.DataFrame, robots: pd.DataFrame, budget: int,
                round_seconds: int) -> dict[int, list[str]]:
    """Per-round violations of the crawl invariants, from the fetch log."""
    bad: dict[int, list[str]] = {}
    dup = order[order.duplicated("URL", keep="first")]
    for rnd in dup["round"].unique():
        bad.setdefault(int(rnd), []).append("url scheduled twice")
    delay = robots.groupby("host")["crawl_delay"].max() if len(robots) else pd.Series(dtype=int)
    cap = pd.Series(budget, index=delay.index)
    slow = delay > 0
    cap[slow] = np.minimum(budget, np.maximum(1, round_seconds // delay[slow]))
    per = order.groupby(["round", "host"]).size().reset_index(name="n")
    per["cap"] = per["host"].map(cap).fillna(budget)
    for rnd in per.loc[per["n"] > per["cap"], "round"].unique():
        bad.setdefault(int(rnd), []).append("host over budget")
    rules = robots.dropna(subset=["disallow_prefix"])
    if len(rules):
        j = order.assign(path=order["URL"].str.replace(r"^[a-z]+://[^/]+", "", regex=True))
        j = j.merge(rules[["host", "disallow_prefix"]], on="host")
        hit = j[[p.startswith(d) for p, d in zip(j["path"], j["disallow_prefix"])]]
        for rnd in hit["round"].unique():
            bad.setdefault(int(rnd), []).append("disallowed url scheduled")
    return bad


def run_crawl(spark, cfg: dict, seeds: pd.DataFrame, root: str, tracer=None) -> dict:
    shutil.rmtree(root, ignore_errors=True)
    sched = CrawlScheduler(
        spark, StateStore(root), host_budget=cfg["host_budget"], salt_k=cfg["salt_k"],
        n_buckets=cfg["n_buckets"], seen_backend=cfg["backend"],
        auto_robots=cfg["auto_robots"],
    )
    sched.MAX_FRONTIER_PARTS = cfg["max_frontier_parts"]
    if tracer is not None:
        install_tracing(tracer, sched)
    try:
        t0 = time.perf_counter()
        sched.bootstrap(spark.createDataFrame(seeds))
        bootstrap_s = time.perf_counter() - t0
        rounds = []
        for _ in range(cfg["rounds"]):
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    st = sched.step()
                else:
                    with tracer.span("scheduler.step") as sp:
                        st = sched.step()
                    sp["round"] = st["round"]
                ok = True
            except Exception as e:  # noqa: BLE001 - a failed round is counted, not fatal
                st, ok = {"frontier_compacted": False, "error": repr(e)}, False
            rounds.append({
                "wall_s": time.perf_counter() - t0, "ok": ok,
                "compacted": st["frontier_compacted"], "stats": st,
            })
            if tracer is not None:
                tracer.release()
                if ok:
                    tracer.harvest([sp] + tracer.descendants(sp))
            if not ok:
                break
    finally:
        if tracer is not None:
            tracer.unwrap_all()
    order = sched.crawl_order().toPandas()
    robots = sched.store.read(spark, "robots", ROBOTS_SCHEMA).toPandas()
    bad = check_crawl(order, robots, cfg["host_budget"], sched.round_seconds)
    for i, r in enumerate(rounds, start=1):
        if bad.get(i):
            r["ok"] = False
            r["violations"] = bad[i]
    shutil.rmtree(root, ignore_errors=True)
    return {
        "bootstrap_s": bootstrap_s,
        "rounds": rounds,
        "urls": len(order),
        "crawl_order_sha256": crawl_order_sha256(order),
        "complete": len(rounds) == cfg["rounds"] and all(r["ok"] for r in rounds),
    }


def summarize(crawls: list[dict]) -> dict:
    walls = [r["wall_s"] for c in crawls for r in c["rounds"]]
    normal = [r["wall_s"] for c in crawls for r in c["rounds"] if not r["compacted"]]
    compact = [r["wall_s"] for c in crawls for r in c["rounds"] if r["compacted"]]
    pass_s = [sum(r["wall_s"] for r in c["rounds"]) for c in crawls]
    return {
        "pass_s": statistics.median(pass_s),
        "n_passes": len(pass_s),
        "op_s_p50": statistics.median(walls),
        "n_ops": len(walls),
        "round_s_p50": statistics.median(normal) if normal else float("nan"),
        "n_normal": len(normal),
        "compact_round_s": statistics.median(compact) if compact else float("nan"),
        "n_compact": len(compact),
        "crawl_urls_per_s": statistics.median(c["urls"] / p for c, p in zip(crawls, pass_s)),
        "bootstrap_s": statistics.median(c["bootstrap_s"] for c in crawls),
    }
