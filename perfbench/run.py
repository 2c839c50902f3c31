"""The repository benchmark: one closed-loop client, one process, on
``local[N]`` with N = the CPUs this process may use.

    python3 perfbench/run.py --workload crawl_deep --seed 42 --seconds 5 --trace 0

Prints one line per metric (name, value, unit, sample count), then, as the
last line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer ones
with ``--trace 1``). See perfbench/README.md for what each metric and
workload means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_out")
TMP = os.path.join(OUT, "tmp")
DEFAULT_SEED = 42
WORKLOADS = ("crawl_deep", "corpus_queries")
PINNED = os.path.join(HERE, "pinned.json")
DRIVER_MEM = "1g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def configure_env() -> None:
    """Keep everything Spark, Python workers and temp files write inside
    the checkout, and let the Python workers import the package."""
    os.makedirs(TMP, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_LOCAL_DIR"):
        os.environ[var] = TMP
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark():
    from simplecommoncrawlextractor_spark import get_spark

    n = cpus()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(TMP, "warehouse"),
            # the whole heap is committed and touched at start, so the JVM's
            # resident size does not depend on when G1 chose to grow it
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={TMP} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
                " -XX:-UsePerfData"  # no /tmp/hsperfdata_<user>
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants(pid: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between processes count once in
    total. Summed RSS would count a child the JVM forks (to run a shell
    command) as a second copy of the JVM for as long as the child lives."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class MemSampler(threading.Thread):
    """Peak memory of this process, the driver JVM and the Python workers
    together, sampled from /proc every 200 ms."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self.seen: set[int] = set()
        self._halt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._halt.wait(0.2):
            kids = descendants(me)
            self.seen.update(kids)
            self.peak = max(self.peak, sum(pss_bytes(p) for p in [me] + kids))

    def stop(self):
        self._halt.set()
        self.join()


def stop_spark(spark, pids: set[int]) -> None:
    """Stop the session, then the JVM it launched and its Python workers,
    and wait until every one of them has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def load_json(path: str, default):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return default


def save_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


# -- workloads -----------------------------------------------------------------
def crawl_workload(spark, name: str, seed: int, seconds: float, tracer, pinned, ledger):
    import crawl

    cfg = crawl.CRAWLS[name]
    key = f"{name}:{seed}"
    want = ledger.get(key, {}).get("crawl_order_sha256")
    if seed == DEFAULT_SEED:
        want = pinned["crawl_order_sha256"][name]
    seeds = crawl.seed_list(seed, cfg["n_seeds"], cfg["n_hosts"])
    crawls = []
    t_end = time.perf_counter() + seconds
    while not crawls or time.perf_counter() < t_end:
        c = crawl.run_crawl(spark, cfg, seeds, os.path.join(OUT, "state", f"{name}-{os.getpid()}"), tracer)
        want = want or c["crawl_order_sha256"]
        if c["crawl_order_sha256"] != want:
            for r in c["rounds"]:
                r["ok"] = False
            c["order_mismatch"] = True
        crawls.append(c)
    entry = ledger.setdefault(key, {})
    entry.setdefault("crawl_order_sha256", crawls[0]["crawl_order_sha256"])
    s = crawl.summarize(crawls)
    rounds = [r for c in crawls for r in c["rounds"]]
    failed = sum(not r["ok"] for r in rounds) + sum(
        cfg["rounds"] - len(c["rounds"]) for c in crawls
    )
    return {
        "summary": s,
        "setup_unit_s": s["bootstrap_s"],
        "attempted": cfg["rounds"] * len(crawls),
        "failed": failed,
        "detail": crawls,
        "info": {
            "crawl_urls_per_s": (s["crawl_urls_per_s"], "URLs/s", len(crawls)),
            "round_s_p50": (s["round_s_p50"], "s", s["n_normal"]),
            "compact_round_s": (s["compact_round_s"], "s", s["n_compact"]),
            "bootstrap_s": (s["bootstrap_s"], "s", len(crawls)),
            "urls_scheduled": (crawls[0]["urls"], "count", len(crawls)),
        },
    }


def corpus_workload(spark, seed: int, seconds: float, tracer, pinned, ledger):
    import corpus

    sf_dir = corpus.prepare_data(ROOT, OUT, seed, DEFAULT_SEED)
    names = corpus.ROSTER
    key = f"corpus_queries:{seed}"
    entry = ledger.setdefault(key, {})
    expected = dict(pinned["query_sha256"]) if seed == DEFAULT_SEED else entry.setdefault("query_sha256", {})
    t0 = time.perf_counter()
    problems = corpus.check_pass(spark, ROOT, sf_dir, names, seed == DEFAULT_SEED, expected)
    check_s = time.perf_counter() - t0
    # the check pass collects instead of writing to noop; the first noop
    # pass after it is still about 20% slower than the ones that follow,
    # so it runs untimed and the timed passes all measure the same state
    corpus.timed_pass(spark, sf_dir, names)
    passes = []
    t_end = time.perf_counter() + seconds
    while not passes or time.perf_counter() < t_end:
        passes.append(corpus.timed_pass(spark, sf_dir, names, tracer))
    bad = {n for n, p in problems.items() if p}
    failed = sum(1 for p in passes for r in p if not r["ok"] or r["name"] in bad)
    s = corpus.summarize(passes, set(pinned["udf_queries"]))
    return {
        "summary": s,
        "setup_unit_s": 0.0,
        "attempted": sum(len(p) for p in passes),
        "failed": failed,
        "detail": {"problems": problems, "passes": passes},
        "info": {
            "corpus_pass_s": (s["pass_s"], "s", len(passes)),
            "sql_queries_s": (s["sql_queries_s"], "s", len(passes)),
            "udf_queries_s": (s["udf_queries_s"], "s", len(passes)),
            "check_pass_s": (check_s, "s", 1),
            **{f"query.{q}_s": (v, "s", len(passes)) for q, v in s["per_query"].items()},
        },
    }


def run_workload(spark, name, seed, seconds, tracer, pinned, ledger):
    if name == "corpus_queries":
        return corpus_workload(spark, seed, seconds, tracer, pinned, ledger)
    return crawl_workload(spark, name, seed, seconds, tracer, pinned, ledger)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    configure_env()
    sys.path.insert(0, HERE)
    pinned = load_json(PINNED, None)
    if pinned is None:
        raise SystemExit(f"missing {PINNED}")
    ledger_path = os.path.join(OUT, "ledger.json")
    ledger = load_json(ledger_path, {})

    sampler = MemSampler()
    sampler.start()
    t0 = time.perf_counter()
    spark = start_spark()
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    key = f"{args.workload}:{args.seed}"
    try:
        tracer = None
        if args.trace:
            from spans import Tracer

            # overhead = traced minus untraced; the untraced figure comes
            # from earlier untraced runs in this checkout (same seed if
            # any), else from an untraced pass in this process first
            untraced = ledger.get(key, {}).get("op_s_p50") or [
                v for k, e in ledger.items() if k.startswith(args.workload + ":")
                for v in e.get("op_s_p50", [])
            ]
            if not untraced:
                first = run_workload(spark, args.workload, args.seed, 0, None, pinned, ledger)
                untraced = [first["summary"]["op_s_p50"]]
            tracer = Tracer(spark)
        res = run_workload(spark, args.workload, args.seed, args.seconds, tracer, pinned, ledger)
    finally:
        sampler.stop()
        stop_spark(spark, sampler.seen)
        shutil.rmtree(TMP, ignore_errors=True)
    s = res["summary"]
    metrics: dict[str, tuple[float, str, int]] = {}
    if args.trace:
        import layers
        from corpus import ROSTER

        metrics = layers.per_layer(
            args.workload, res, tracer, untraced, ROSTER, set(pinned["udf_queries"])
        )
        tracer.dump(os.path.join(OUT, "traces", f"{key.replace(':', '-')}.jsonl"))
    else:
        ledger.setdefault(key, {}).setdefault("op_s_p50", []).append(s["op_s_p50"])
        metrics = {
            "setup_s": (session_s + res["setup_unit_s"], "s", 1),
            "pass_s": (s["pass_s"], "s", s["n_passes"]),
            "peak_pss_mb": (sampler.peak / 2**20, "MB", 1),
        }
        print(f"# op_s_p50 = {s['op_s_p50']:.6g} s (n={s['n_ops']})")
        for k, v in res["info"].items():
            print(f"# {k} = {v[0]:.6g} {v[1]} (n={v[2]})")
    save_json(ledger_path, ledger)
    for k, (v, unit, n) in metrics.items():
        print(f"{k} = {v:.6g} {unit} (n={n})")
    attempted, failed = res["attempted"], res["failed"]
    print(f"# ops_failed_share = {failed / attempted:.6g} ({failed} of {attempted} operations)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
