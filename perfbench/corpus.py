"""The ``corpus_queries`` workload: declared queries run through a ``noop``
sink, so every column is computed (``count()`` would let Spark prune the
Python UDF columns).

Correctness runs once per invocation, before the timed passes, and doubles
as their warm-up: each query is collected and hashed with
``tools/selfcheck.py``'s ``value_hash``. On the default seed (the
committed seed-42 tables) oracled queries must match DuckDB and the
others must match the hashes pinned in ``pinned.json``. Any other seed
regenerates a same-shaped set with ``tools/gen_scale.py`` and gets only a
determinism check: the same hash as earlier runs of that seed.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import sys
import statistics
import time

# A fixed roster: one query per operator module (analytics, filters,
# sampling, events, text quality, dedup, similarity, extraction,
# multimodal), the WARC source and sink, and the URL canonicalizer with the
# frontier schedule. Small enough that the cold correctness pass, a warm-up
# pass and a timed pass keep a run under about a minute on 4 cores.
ROSTER = [
    "a1_count_mimes",
    "f9_seen_antijoin",
    "f10_downsample_strata",
    "events_sessionize",
    "text_quality",
    "dedup_minhash_prod",
    "ann_lsh_bucketed",
    "warc_roundtrip_records",
    "extraction_select",
    "multimodal_image_features",
    "frontier_schedule_prod",
]
DATA_SF = 0.001


def _load_tool(root: str, name: str):
    spec = importlib.util.spec_from_file_location(
        f"perfbench_{name}", os.path.join(root, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def all_queries() -> dict:
    """Every declared query but the scheduler round, plus bench.py's four
    production variants."""
    import __spark_entry__ as entry
    import bench

    q = {**entry.queries(), **bench._extra_bench_queries()}
    q.pop("scheduler_one_round")
    return q


def prepare_data(root: str, out: str, seed: int, default_seed: int) -> str:
    if seed == default_seed:
        return os.path.join(root, "perfbench", "data", "sf0.001")
    d = os.path.join(out, "data", f"seed-{seed}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        # gen() reports each table on stdout, which carries the result
        with contextlib.redirect_stdout(sys.stderr):
            _load_tool(root, "gen_scale").gen(DATA_SF, d, seed)
    return d


def check_pass(spark, root: str, sf_dir: str, names: list[str], oracled: bool,
               expected: dict[str, str]) -> dict[str, str | None]:
    """Collect and hash each query. Returns name -> problem (None if OK).
    ``expected`` holds hashes the non-oracled results must equal; a name
    missing from it is recorded there instead."""
    selfcheck = _load_tool(root, "selfcheck")
    queries = all_queries()
    oracles = entry_oracles() if oracled else {}
    con = None
    if oracles:
        import duckdb

        from simplecommoncrawlextractor_spark.sources.tables import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
    problems: dict[str, str | None] = {}
    for name in names:
        try:
            sdf = queries[name](spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001 - a failing query is counted
            problems[name] = f"spark error: {e!r}"[:300]
            continue
        got = _hash(selfcheck, sdf)
        if name in oracles:
            ddf = con.execute(oracles[name]).df()
            if sorted(sdf.columns) != sorted(ddf.columns) or len(sdf) != len(ddf) \
                    or got != _hash(selfcheck, ddf):
                problems[name] = "differs from the DuckDB oracle"
                continue
        elif name not in expected:
            expected[name] = got
        elif expected[name] != got:
            problems[name] = "hash differs from the pinned/earlier value"
            continue
        problems[name] = None
    if con is not None:
        con.close()
    return problems


def _hash(selfcheck, df) -> str:
    """``value_hash``, which cannot sort the rows of an empty frame; an
    empty result hashes its sorted column names instead."""
    if len(df) == 0:
        return "empty:" + ",".join(sorted(df.columns))
    return selfcheck.value_hash(df)


def entry_oracles() -> dict[str, str]:
    import __spark_entry__ as entry

    return entry.oracle_sql()


def run_query(fn, spark, sf_dir: str) -> None:
    """Build the query's DataFrame, then compute every column into the
    ``noop`` sink."""
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


def timed_pass(spark, sf_dir: str, names: list[str], tracer=None) -> list[dict]:
    queries = all_queries()
    out = []
    for name in names:
        rec = {"name": name, "ok": True}
        t0 = time.perf_counter()
        try:
            if tracer is None:
                run_query(queries[name], spark, sf_dir)
            else:
                with tracer.span(f"query.{name}") as sp:
                    run_query(queries[name], spark, sf_dir)
                rec["span"] = sp
        except Exception as e:  # noqa: BLE001 - a failing query is counted
            rec.update(ok=False, error=repr(e)[:300])
        rec["wall_s"] = time.perf_counter() - t0
        if "span" in rec:
            tracer.harvest([rec["span"]])
        out.append(rec)
    return out


def summarize(passes: list[list[dict]], udf: set[str]) -> dict:
    pass_s = [sum(r["wall_s"] for r in p) for p in passes]
    per_query = {
        name: statistics.median(r["wall_s"] for p in passes for r in p if r["name"] == name)
        for name in (r["name"] for r in passes[0])
    }
    return {
        "pass_s": statistics.median(pass_s),
        "n_passes": len(pass_s),
        "op_s_p50": statistics.median(per_query.values()),
        "n_ops": sum(len(p) for p in passes),
        "per_query": per_query,
        "udf_queries_s": sum(v for k, v in per_query.items() if k in udf),
        "sql_queries_s": sum(v for k, v in per_query.items() if k not in udf),
    }
