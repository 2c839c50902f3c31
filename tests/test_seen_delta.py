"""Per-round seen-set blob deltas (``merge_delta``) for both backends, and
the plan shape of one scheduler round over the bucket-partitioned blob
table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from simplecommoncrawlextractor_spark.plans import CrawlScheduler, StateStore
from simplecommoncrawlextractor_spark.plans.state import BloomSeenSet, CuckooSeenSet
from simplecommoncrawlextractor_spark.sources import seed_frontier

N_BUCKETS = 4


def _rows(spark, bucket, start, n, repeat=1):
    """``n`` distinct well-mixed hashes that all land in ``bucket``, each
    ``repeat`` times."""
    h = F.shiftright(F.xxhash64("id"), 2) * N_BUCKETS + bucket
    return (
        spark.range(start, start + n)
        .select(h.alias("url_hash"))
        .crossJoin(spark.range(repeat).select())
        .select(F.lit(bucket).cast("int").alias("bucket"), "url_hash")
    )


# per backend: (seen set, build, merge, {bucket: (stored, incoming distinct,
# repeats)}, overfull buckets). Bucket 3 has no blob. Bloom counts incoming
# ROWS (bucket 1: 810 + 10 rows > 8192 bits / 10), cuckoo DISTINCT hashes
# (bucket 1: 48 + 5 ≤ 16 · 4 · 0.84 although the batch has 58 rows).
CASES = {
    "bloom": (
        BloomSeenSet(N_BUCKETS), "build_blooms", "merge_blooms",
        {0: (800, 50, 1), 1: (810, 5, 2), 2: (100, 20, 1), 3: (0, 30, 1)},
        {0, 1},
    ),
    "cuckoo": (
        CuckooSeenSet(N_BUCKETS), "build_filters", "insert",
        {0: (50, 10, 1), 1: (48, 5, 2), 2: (10, 5, 1), 3: (0, 8, 1)},
        {0},
    ),
}


@pytest.mark.parametrize("backend", sorted(CASES))
def test_merge_delta_rebuilds_overfull_and_merges_the_rest(spark, backend):
    seen, build_name, merge_name, layout, overfull = CASES[backend]
    build, merge = getattr(seen, build_name), getattr(seen, merge_name)
    old = new = None
    for b, (stored, incoming, repeat) in layout.items():
        o = _rows(spark, b, 0, stored)
        n = _rows(spark, b, 10_000, incoming, repeat)
        old = o if old is None else old.unionByName(o)
        new = n if new is None else new.unionByName(n)
    old, new = old.cache(), new.cache()
    blobs = build(old).cache()
    assert {r["bucket"] for r in blobs.collect()} == {0, 1, 2}
    seen_after = old.unionByName(new)

    delta = {
        r["bucket"]: tuple(r)
        for r in seen.merge_delta(blobs, new.select("url_hash"), seen_after).collect()
    }
    assert set(delta) == set(layout)
    for b in layout:
        in_b = F.col("bucket") == b
        if b in overfull:
            want = build(seen_after.filter(in_b)).collect()
        else:
            want = merge(blobs.filter(in_b), new.filter(in_b).select("url_hash")).collect()
        assert [delta[b]] == [tuple(r) for r in want], (backend, b)
    for b in overfull:  # the rebuild grew the blob
        before = blobs.filter(F.col("bucket") == b).collect()[0]
        assert delta[b][2] > before[2]


def test_round_plans_no_dynamic_pruning_over_blob_table(spark, tmp_path):
    """The touched and overfull bucket sets reach the blob table as literal
    filters: no plan a round executes carries a dynamic-pruning subquery on
    a ``blooms`` scan."""
    sched = CrawlScheduler(
        spark, StateStore(str(tmp_path / "s")), host_budget=4, salt_k=2,
        n_buckets=N_BUCKETS, seen_backend="cuckoo",
    )
    sched.bootstrap(seed_frontier(spark, n=120))
    sched.step()  # round 1 creates the blob table; round 2 reads it
    jsc = spark.sparkContext._jsc.sc()
    sql_store = spark._jsparkSession.sharedState().statusStore()
    jsc.listenerBus().waitUntilEmpty(10_000)
    first = sql_store.executionsCount()
    sched.step()
    jsc.listenerBus().waitUntilEmpty(10_000)
    execs = sql_store.executionsList()
    plans = [
        execs.apply(i).physicalPlanDescription()
        for i in range(execs.size())
        if execs.apply(i).executionId() >= first
    ]
    # formatted plans: one "\n\n"-separated detail block per operator
    scans = [
        block for p in plans for block in p.split("\n\n")
        if "Location:" in block and "/blooms/" in block
    ]
    assert scans, "the round must read the blob table"
    assert not [s for s in scans if "dynamicpruning" in s]
