"""Cache ownership of the iterative loops (``plans.loopdriver.LoopCache``).

persist/unpersist are not reference-counted, so a loop that unpersists the
relation its caller passed in silently drops the CALLER's cache, and every
later use of that relation recomputes it from lineage. And a loop that
raises must not leave behind what it persisted."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from incr_iter_hadoop_spark.operators import incremental, iterative
from incr_iter_hadoop_spark.plans.loopdriver import iterate


def _graph(spark):
    rows = [(i, (i * i + 1) % 23) for i in range(23)] + [
        (i, (3 * i + 2) % 23) for i in range(23)
    ]
    return spark.createDataFrame(rows, "src long, dst long")


def _matrix(spark):
    rows = [(r, (r * 5 + k) % 11, float(1 + (r + k) % 4)) for r in range(11) for k in range(3)]
    return spark.createDataFrame(rows, "r long, c long, v double")


def _vector(spark):
    return spark.createDataFrame([(i, 1.0) for i in range(11)], "i long, x double")


def _warm(spark):
    return spark.createDataFrame([(i, 1.0) for i in range(23)], "node long, rank double")


# (name, inputs(spark) -> tuple of DataFrames, call(*inputs))
LOOPS = [
    ("pagerank", lambda s: (_graph(s),), lambda e: iterative.pagerank(e, max_iterations=2)),
    (
        "pagerank_converged",
        lambda s: (_graph(s),),
        lambda e: iterative.pagerank(e, max_iterations=5, threshold=1e-3),
    ),
    (
        "pagerank_pruned",
        lambda s: (_graph(s), _warm(s)),
        lambda e, w: incremental.pagerank_pruned(e, w, theta=0.01, iterations=2),
    ),
    (
        "sssp",
        lambda s: (_graph(s).withColumn("w", F.lit(1.0)),),
        lambda e: iterative.sssp(e, source=0, max_iterations=10),
    ),
    ("spmv", lambda s: (_matrix(s), _vector(s)), lambda m, x: iterative.spmv(m, x, 2)),
    (
        "power_iteration",
        lambda s: (_matrix(s), _vector(s)),
        lambda m, x: iterative.power_iteration(m, x, 2),
    ),
    ("connected_components", lambda s: (_graph(s),), iterative.connected_components),
    ("connected_components_star", lambda s: (_graph(s),), iterative.connected_components_star),
    ("label_propagation", lambda s: (_graph(s),), iterative.label_propagation),
    (
        "label_propagation_converged",
        lambda s: (_graph(s),),
        lambda e: iterative.label_propagation_converged(e, max_iterations=5),
    ),
    ("nmf", lambda s: (_matrix(s),), lambda m: iterative.nmf(m, iterations=1)),
]


@pytest.mark.parametrize("name,make,call", LOOPS, ids=[n for n, _, _ in LOOPS])
def test_loop_keeps_caller_cache(spark, name, make, call):
    inputs = make(spark)
    for df in inputs:
        df.persist()
        df.count()
    try:
        call(*inputs)
        for df in inputs:
            assert df.is_cached and df.storageLevel.useMemory, (
                f"{name} dropped its caller's cache"
            )
    finally:
        for df in inputs:
            df.unpersist()


def _persisted_rdds(spark) -> set[int]:
    """IDs of the session's persisted RDDs, leaving out materialized
    localCheckpoint RDDs: their blocks belong to the checkpointed plan and
    are freed with it by the context cleaner, not by unpersist."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {
        int(k) for k in rdds.keySet().toArray() if not rdds.get(k).rdd().isCheckpointed()
    }


@pytest.mark.parametrize("observed", [False, True], ids=["fixed", "observed"])
def test_iterate_releases_what_it_persisted_when_step_raises(spark, observed):
    state0 = spark.range(50).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))

    def step(s, i):
        if i == 2:
            raise RuntimeError("step failed")
        return s.select("k", (F.col("v") / 2).alias("v"))

    before = _persisted_rdds(spark)
    with pytest.raises(RuntimeError, match="step failed"):
        iterate(
            state0,
            step,
            max_iterations=5,
            observed_distance=F.sum("v") if observed else None,
            threshold=-1.0,
        )
    assert _persisted_rdds(spark) <= before


@pytest.mark.parametrize(
    "loop", [iterative.pagerank, iterative.connected_components], ids=lambda f: f.__name__
)
def test_loop_releases_what_it_persisted_when_an_action_raises(spark, loop):
    # the edges fail only when computed, i.e. inside the loop's own actions
    bad = _graph(spark).withColumn(
        "src", F.when(F.col("src") == 3, F.raise_error(F.lit("bad edge"))).otherwise(F.col("src"))
    )
    before = _persisted_rdds(spark)
    with pytest.raises(Exception, match="bad edge"):
        loop(bad)
    assert _persisted_rdds(spark) <= before
