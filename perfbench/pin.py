"""Regenerate perfbench/pinned.json from the current tree:

- which corpus queries are UDF queries: those whose executed plans (every
  SQL execution the query starts, eager checkpoints included) hold a
  Python or Arrow exec node. The split is pinned, so a later change that
  moves a query between engines does not reclassify it;
- the sha256 of every non-oracled roster query on the default seed's data;
- the crawl-order sha256 of each crawl workload on the default seed.

    python3 perfbench/pin.py

Run it only when the benchmark itself changes, never to absorb a changed
result of the program.
"""

from __future__ import annotations

import os
import re
import sys
import time

import run

PYTHON_EXEC = re.compile(
    r"\b(ArrowEvalPython\w*|BatchEvalPython\w*|\w*InPandas\w*|\w*InArrow\w*|"
    r"MapInBatch\w*|\w*PythonUDTF\w*)\b"
)


def sql_plans_since(spark, last_id: int) -> tuple[list[str], int]:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans, top = [], last_id
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() > last_id:
            plans.append(e.physicalPlanDescription())
            top = max(top, e.executionId())
    return plans, top


def main() -> int:
    run.configure_env()
    sys.path.insert(0, run.HERE)
    import corpus
    import crawl

    spark = run.start_spark()
    spark.sparkContext.setLogLevel("ERROR")
    try:
        sf_dir = os.path.join(run.HERE, "data", "sf0.001")
        udf, sql, last = [], [], -1
        for name, fn in corpus.all_queries().items():
            _, last = sql_plans_since(spark, last)
            t0 = time.perf_counter()
            corpus.run_query(fn, spark, sf_dir)
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
            plans, last = sql_plans_since(spark, last)
            nodes = sorted({m for p in plans for m in PYTHON_EXEC.findall(p)})
            (udf if nodes else sql).append(name)
            print(f"{name}: {time.perf_counter() - t0:.2f}s {nodes}", flush=True)
        hashes: dict[str, str] = {}
        problems = corpus.check_pass(spark, run.ROOT, sf_dir, corpus.ROSTER, True, hashes)
        bad = {k: v for k, v in problems.items() if v}
        if bad:
            print(f"roster queries failing their check: {bad}")
            return 1
        orders = {}
        for name, cfg in crawl.CRAWLS.items():
            seeds = crawl.seed_list(run.DEFAULT_SEED, cfg["n_seeds"], cfg["n_hosts"])
            c = crawl.run_crawl(spark, cfg, seeds, os.path.join(run.OUT, "state", name))
            if not c["complete"]:
                print(f"{name} failed its gates: {c['rounds']}")
                return 1
            orders[name] = c["crawl_order_sha256"]
    finally:
        run.stop_spark(spark, set())
    run.save_json(run.PINNED, {
        "udf_queries": sorted(udf),
        "sql_queries": sorted(sql),
        "query_sha256": hashes,
        "crawl_order_sha256": orders,
    })
    return 0


if __name__ == "__main__":
    sys.exit(main())
