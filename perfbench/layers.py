"""Per-layer metrics of a traced run, from the spans in ``spans.Tracer``.

Times are self times (a span's duration minus its child spans), per
operation: per crawl round, or per query execution. A layer the workload
never enters reads 0. Every name below is printed on every traced run.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

CRAWL_SPANS = [
    "robots.refresh", "robots.admit", "store.read", "store.commit",
    "frontier.resolve", "frontier.canonicalize", "frontier.schedule",
    "seen.probe", "seen.merge_delta", "fetch.simulate", "fetch.outlinks",
]
SPARK = ["jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
         "executor_run_s", "executor_cpu_s", "gc_s", "spill_bytes", "peak_exec_mem_bytes"]
GROUP = ["queries_s", "executor_run_s", "executor_cpu_s", "gc_s", "spill_bytes",
         "peak_exec_mem_bytes"]


def _unit(k: str) -> str:
    if k.endswith("_s"):
        return "s/op"
    if k.endswith("_bytes"):
        return "bytes"
    return "count"


def names(roster: list[str]) -> list[tuple[str, str]]:
    """(metric, unit) for every per-layer metric, in a fixed order."""
    out = [(f"{n}_s", "s/op") for n in CRAWL_SPANS]
    out.append(("scheduler.self_s", "s/op"))
    out += [
        ("frontier.rows", "count"), ("frontier.candidates", "count"),
        ("frontier.scheduled", "count"), ("seen.fresh_ratio", "ratio"),
        ("seen.buckets_touched", "count"), ("fetch.ok_ratio", "ratio"),
        ("fetch.outlinks", "count"), ("store.bytes_written", "bytes"),
        ("store.files_written", "count"),
    ]
    out += [(f"spark.{k}", _unit(k)) for k in SPARK]
    for g in ("sql", "udf"):
        out += [(f"spark.{g}.{k}", "s/pass" if k.endswith("_s") else "bytes") for k in GROUP]
    out += [(f"query.{q}_s", "s/op") for q in roster]
    out += [("trace.overhead_s", "s/op"), ("trace.overhead_share", "ratio")]
    return out


def _spark_totals(spans: list[dict]) -> dict[str, float]:
    tot = defaultdict(float)
    for sp in spans:
        for k, v in sp.get("spark", {}).items():
            tot[k] = max(tot[k], v) if k == "peak_exec_mem_bytes" else tot[k] + v
    return tot


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def crawl_rounds(tracer) -> list[dict]:
    """One dict of per-layer values per traced round."""
    rounds = []
    for step in (s for s in tracer.spans if s["name"] == "scheduler.step" and "spark" in s):
        desc = tracer.descendants(step)
        v = defaultdict(float)
        v["scheduler.self_s"] = tracer.self_time(step)
        by = defaultdict(list)
        for d in desc:
            v[d["name"] + "_s"] += tracer.self_time(d)
            by[d["name"]].append(d["counts"])
        rows = lambda n: [c.get("rows", 0) for c in by[n]]  # noqa: E731
        v["frontier.rows"] = max(rows("frontier.resolve"), default=0)
        v["frontier.candidates"] = sum(rows("frontier.canonicalize"))
        v["frontier.scheduled"] = sum(rows("frontier.schedule"))
        v["seen.buckets_touched"] = sum(rows("seen.merge_delta"))
        v["fetch.outlinks"] = sum(rows("fetch.outlinks"))
        probe_in = sum(c.get("in") or 0 for c in by["seen.probe"])
        v["seen.fresh_ratio"] = sum(rows("seen.probe")) / probe_in if probe_in else 0.0
        fetched = sum(rows("fetch.simulate"))
        ok = sum(c.get("ok", 0) for c in by["fetch.simulate"])
        v["fetch.ok_ratio"] = ok / fetched if fetched else 0.0
        v["store.bytes_written"] = sum(c.get("bytes_written", 0) for c in by["store.commit"])
        v["store.files_written"] = sum(c.get("files_written", 0) for c in by["store.commit"])
        for k, x in _spark_totals([step] + desc).items():
            v[f"spark.{k}"] = x
        v["wall_s"] = step["end"] - step["start"]
        rounds.append(v)
    return rounds


def per_layer(workload: str, res: dict, tracer, untraced_op_s: list[float],
              roster: list[str], udf: set[str]) -> dict[str, tuple[float, str, int]]:
    vals: dict[str, float] = {}
    if workload == "corpus_queries":
        passes = res["detail"]["passes"]
        recs = [r for p in passes for r in p if "span" in r]
        n = len(recs)
        for q in roster:
            vals[f"query.{q}_s"] = _median(r["wall_s"] for r in recs if r["name"] == q)
        per_op = [_spark_totals([r["span"]]) for r in recs]
        for k in SPARK:
            vals[f"spark.{k}"] = _median(t.get(k, 0.0) for t in per_op)
        for g, members in (("sql", lambda q: q not in udf), ("udf", lambda q: q in udf)):
            per_pass = []
            for p in passes:
                rs = [r for r in p if "span" in r and members(r["name"])]
                t = _spark_totals([r["span"] for r in rs])
                t["queries_s"] = sum(r["wall_s"] for r in rs)
                per_pass.append(t)
            for k in GROUP:
                vals[f"spark.{g}.{k}"] = _median(t.get(k, 0.0) for t in per_pass)
        traced_op = res["summary"]["op_s_p50"]
    else:
        rounds = crawl_rounds(tracer)
        n = len(rounds)
        keys = {k for r in rounds for k in r}
        for k in keys:
            vals[k] = _median(r.get(k, 0.0) for r in rounds)
        traced_op = res["summary"]["op_s_p50"]
    base = _median(untraced_op_s)
    vals["trace.overhead_s"] = traced_op - base if base else 0.0
    vals["trace.overhead_share"] = (traced_op - base) / base if base else 0.0
    return {k: (float(vals.get(k, 0.0)), unit, n) for k, unit in names(roster)}
