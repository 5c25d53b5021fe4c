"""One-job-per-iteration convergence (VERDICT r03 task 2).

The converged PageRank loop must read its L1 distance from a ``df.observe``
metric riding the iteration's own materializing action — never a separate
prev⋈curr distance job. A regression doubles the per-iteration job count
(and re-introduces a full-outer join over the state) on the most expensive
headline query.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from incr_iter_hadoop_spark.operators.iterative import pagerank
from incr_iter_hadoop_spark.plans.loopdriver import l1_state_distance


def _edges(spark):
    # irregular in-degrees (the squaring map is many-to-one mod 37), so the
    # rank vector genuinely moves for several iterations
    rows = [(i, (i * i + 1) % 37) for i in range(37)] + [
        (i, (2 * i + 3) % 37) for i in range(37)
    ]
    return spark.createDataFrame(rows, "src long, dst long")


def test_converged_pagerank_is_one_job_per_iteration(spark):
    # AQE splits one action into one job per query stage, which would hide
    # extra ACTIONS behind stage noise — disable it so jobs == actions and
    # the 1-action-per-iteration contract is pinned directly.
    # broadcast exchanges also surface as (tiny) extra jobs; disable
    # auto-broadcast so each iteration's single action is a single job.
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    edges = _edges(spark).persist()
    edges.count()
    tracker = sc.statusTracker()
    sc.setJobGroup("pr_jobcount", "observed-convergence job count")
    try:
        res = pagerank(edges, max_iterations=30, threshold=1e-4)
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    jobs = len(tracker.getJobIdsForGroup("pr_jobcount") or [])
    iters = res.iterations
    assert res.converged and iters >= 5
    # budget: 1 job/iteration + bounded setup (edge/static/nodes/state0
    # materializations). The old distance-callable path paid an extra
    # full-outer-join distance job per iteration and would blow this bound.
    assert jobs <= iters + 6, f"{jobs} jobs for {iters} iterations"
    assert jobs >= iters  # sanity: the tracker actually saw the loop
    # distance sequence is the observed Σ|delta| — strictly positive until
    # convergence, ending at/below threshold
    assert res.distances[-1] <= 1e-4
    assert all(d > 0 for d in res.distances[:-1])
    edges.unpersist()


def test_observed_distance_matches_join_based_l1(spark):
    # the observed Σ|delta| must equal the generic join-based L1 between
    # consecutive states (IterativeReducer.distance contract). threshold=0
    # never converges, so the observed-mode loop runs exactly 5 iterations
    # and its final distance is L1(state4, state5).
    edges = _edges(spark)
    r4 = pagerank(edges, max_iterations=4)
    r5 = pagerank(edges, max_iterations=5, threshold=0.0)
    assert r5.iterations == 5 and not r5.converged
    expected = l1_state_distance(
        r4.state.select("node", "rank"), r5.state.select("node", "rank"),
        "node", "rank",
    )
    observed = float(
        r5.state.agg(F.sum(F.abs(F.col("delta")))).collect()[0][0]
    )
    assert abs(observed - r5.distances[-1]) < 1e-9
    assert abs(observed - expected) < 1e-9
    # and the two modes agree on the ranks themselves
    bounded = {
        r["node"]: r["rank"] for r in r5.state.select("node", "rank").collect()
    }
    for row in pagerank(edges, max_iterations=5).state.collect():
        assert abs(bounded[row["node"]] - row["rank"]) < 1e-12


def test_l1_state_distance_counts_one_sided_keys(spark):
    a = spark.createDataFrame([(1, 1.0), (2, 3.0)], "node long, rank double")
    b = spark.createDataFrame([(2, 1.5), (3, 2.0)], "node long, rank double")
    # |1.0-0| + |3.0-1.5| + |0-2.0| = 4.5
    assert abs(l1_state_distance(a, b, "node", "rank") - 4.5) < 1e-9
