"""Unit coverage for the on-disk versioned PreserveStore (SURVEY §2.8 I6;
reference: IFile.java:478-1100 PreserveFile, ReduceTask.java:3324-3500
re-reduce read path). Exercises the behaviors most likely to be wrong on the
first try: last-layer-wins reconstruction (group appeared / vanished /
multi-layer), the isin vs semi-join pruning paths, compact(), NULL-key
rejection, and cross-session catalog reload."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from incr_iter_hadoop_spark.sources.preserve_store import PreserveStore

AGG_SQL = {
    "total": "CAST(SUM(v) AS DOUBLE)",
    "n": "CAST(COUNT(1) AS BIGINT)",
    "mx": "CAST(MAX(v) AS DOUBLE)",  # non-invertible: forces group recompute
}


def _contribs(spark, rows):
    return spark.createDataFrame(rows, "g bigint, s bigint, v double")


def _delta(spark, rows):
    return spark.createDataFrame(rows, "g bigint, s bigint, v double, op string")


def _results_dict(store):
    return {
        r["g"]: (r["total"], r["n"], r["mx"])
        for r in store.current_results().collect()
    }


def _fresh_store(spark, tmp_path, rows, num_buckets=4):
    store = PreserveStore(spark, str(tmp_path / "store"))
    store.initialize(
        _contribs(spark, rows),
        group_keys=["g"],
        source_keys=["s"],
        agg_sql=AGG_SQL,
        num_buckets=num_buckets,
    )
    return store


BASE_ROWS = [
    (1, 10, 1.0),
    (1, 11, 2.0),
    (2, 20, 5.0),
    (2, 21, 7.0),
    (3, 30, 9.0),
]


def test_initialize_and_read_back(spark, tmp_path):
    store = _fresh_store(spark, tmp_path, BASE_ROWS)
    assert _results_dict(store) == {
        1: (3.0, 2, 2.0),
        2: (12.0, 2, 7.0),
        3: (9.0, 1, 9.0),
    }
    assert store.current_contribs().count() == 5
    assert store.version == 0


@pytest.mark.parametrize("inline_keys", [5000, 0], ids=["isin", "semi_join"])
def test_refresh_insert_retract_both_pruning_paths(spark, tmp_path, inline_keys):
    store = _fresh_store(spark, tmp_path, BASE_ROWS)
    # '+' a new contribution to group 1, '-' retract (2, 20); group 3 untouched
    v = store.refresh(
        _delta(spark, [(1, 12, 10.0, "+"), (2, 20, 0.0, "-")]),
        inline_keys=inline_keys,
    )
    assert v == 1
    assert _results_dict(store) == {
        1: (13.0, 3, 10.0),
        2: (7.0, 1, 7.0),  # MAX correctly recomputed after losing the 5.0 row
        3: (9.0, 1, 9.0),
    }
    assert store.current_contribs().count() == 5


def test_group_appeared_and_vanished_across_layers(spark, tmp_path):
    store = _fresh_store(spark, tmp_path, BASE_ROWS)
    # layer 1: brand-new group 9 appears; group 3 vanishes entirely
    store.refresh(_delta(spark, [(9, 90, 4.0, "+"), (3, 30, 0.0, "-")]))
    res = _results_dict(store)
    assert res[9] == (4.0, 1, 4.0)
    assert 3 not in res  # vanished group yields no row (affected file wins)
    # layer 2: group 9 touched again — last layer must win over layer 1
    store.refresh(_delta(spark, [(9, 91, 6.0, "+")]))
    res = _results_dict(store)
    assert res[9] == (10.0, 2, 6.0)
    assert store.version == 2
    # a group retracted in an old layer stays gone through newer layers
    assert 3 not in res
    # untouched base groups read through every layer unchanged
    assert res[1] == (3.0, 2, 2.0)


def test_reappearing_group_after_vanish(spark, tmp_path):
    store = _fresh_store(spark, tmp_path, BASE_ROWS)
    store.refresh(_delta(spark, [(3, 30, 0.0, "-")]))
    assert 3 not in _results_dict(store)
    store.refresh(_delta(spark, [(3, 31, 2.5, "+")]))
    assert _results_dict(store)[3] == (2.5, 1, 2.5)


def _staged_dirs(root):
    return [
        os.path.join(d, n)
        for d, subdirs, _ in os.walk(root)
        for n in subdirs
        if n.startswith(".stage-")
    ]


def test_null_group_key_rejected(spark, tmp_path):
    store = _fresh_store(spark, tmp_path, BASE_ROWS)
    bad = _delta(spark, [(None, 50, 1.0, "+")])
    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = persisted()
    # isin path, then the semi-join path: each rejects, and a rejected
    # refresh releases what it cached and removes what it staged
    for kwargs in ({}, {"inline_keys": 0}):
        with pytest.raises(ValueError, match="NULL group keys"):
            store.refresh(bad, **kwargs)
        assert persisted() == before
        assert _staged_dirs(store.path) == []
    assert store.version == 0


@pytest.mark.slow  # r14: driver verify window (ask #6)
def test_compact_retires_era_and_vacuum_reclaims_space(spark, tmp_path):
    store = _fresh_store(spark, tmp_path, BASE_ROWS)
    store.refresh(_delta(spark, [(9, 90, 4.0, "+"), (3, 30, 0.0, "-")]))
    store.refresh(_delta(spark, [(9, 91, 6.0, "+")]))
    before = _results_dict(store)
    old_base = os.path.join(store.path, "base_v0")
    assert os.path.isdir(old_base)
    store.compact()
    assert store.version == 0
    assert _results_dict(store) == before
    # compact RETIRES the old era (version pin for concurrent readers):
    # files and layers stay on disk and stay readable
    assert os.path.isdir(os.path.join(store.path, "layers/b0/v1"))
    assert os.path.isdir(old_base)
    assert store.meta["retired"] == {"0": 2}
    # vacuum is the explicit delete: layers, base, catalog tables all go
    store.vacuum()
    assert not os.path.isdir(os.path.join(store.path, "layers/b0"))
    assert not os.path.isdir(old_base)
    import re

    slug = re.sub(r"[^0-9a-zA-Z]+", "_", store.path).strip("_").lower()
    for which in ("contribs", "results"):
        assert not spark.catalog.tableExists(f"preserve_{slug}_{which}_v0")
    assert store.meta["retired"] == {}
    # the compacted store keeps refreshing correctly
    store.refresh(_delta(spark, [(1, 13, 1.0, "+")]))
    assert _results_dict(store)[1] == (4.0, 3, 2.0)


def _asof_dict(store, version, era=None):
    return {
        r["g"]: (r["total"], r["n"], r["mx"])
        for r in store.results_as_of(version, base_version=era).collect()
    }


def test_time_travel_reads_every_version(spark, tmp_path):
    store = _fresh_store(spark, tmp_path, BASE_ROWS)
    v0 = _results_dict(store)
    store.refresh(_delta(spark, [(9, 90, 4.0, "+"), (3, 30, 0.0, "-")]))
    v1 = _results_dict(store)
    store.refresh(_delta(spark, [(9, 91, 6.0, "+"), (1, 10, 0.0, "-")]))
    v2 = _results_dict(store)
    assert v0 != v1 != v2
    # every historical version reconstructs exactly (layers are immutable)
    assert _asof_dict(store, 0) == v0
    assert _asof_dict(store, 1) == v1
    assert _asof_dict(store, 2) == v2
    # contribs travel too
    assert store.contribs_as_of(0).count() == 5
    import pytest as _pytest

    with _pytest.raises(ValueError, match="does not exist"):
        store.results_as_of(3).collect()


def test_time_travel_survives_compact_until_vacuum(spark, tmp_path):
    store = _fresh_store(spark, tmp_path, BASE_ROWS)
    v0 = _results_dict(store)
    store.refresh(_delta(spark, [(9, 90, 4.0, "+")]))
    v1 = _results_dict(store)
    store.compact()
    # retired-era versions stay readable (the concurrent-reader pin) ...
    assert _asof_dict(store, 0, era=0) == v0
    assert _asof_dict(store, 1, era=0) == v1
    # ... and the new era starts its own history
    store.refresh(_delta(spark, [(1, 13, 8.0, "+")]))
    assert _asof_dict(store, 0) == v1  # new base == pre-compact head
    assert _results_dict(store)[1] == (11.0, 3, 8.0)
    import pytest as _pytest

    store.vacuum()
    with _pytest.raises(ValueError, match="vacuumed eras are unreadable"):
        store.results_as_of(0, base_version=0)


@pytest.mark.slow  # r14: driver verify window (ask #6)
def test_layer_read_plan_constant_until_compact(spark, tmp_path):
    """The reconstruction plan is CONSTANT-size in the layer count (r6):
    layers 1..n are ONE multi-path scan with ``_v`` parsed from the layer
    path, not a per-layer unionByName chain — so an unbounded refresh
    stream grows the FILE count a reader folds (row-level work, which is
    what refresh(max_layers=...) compaction bounds) but never the plan.
    After compact the read is a single base scan again."""
    store = _fresh_store(spark, tmp_path, BASE_ROWS)
    for i in range(6):
        store.refresh(_delta(spark, [(1, 100 + i, 1.0, "+")]))

    def n_scans(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("FileScan parquet")

    layered = n_scans(store.current_results())
    # base + ONE results-layers scan + ONE affected-keys scan — NOT
    # 1 + 6 + 6; a regression to per-layer scan nodes fails here
    assert layered == 3, layered
    store.compact()
    compacted = n_scans(store.current_results())
    assert compacted == 1, compacted
    assert _results_dict(store)[1] == (9.0, 8, 2.0)


def test_cross_session_reload_reregisters_catalog(spark, tmp_path):
    store = _fresh_store(spark, tmp_path, BASE_ROWS)
    store.refresh(_delta(spark, [(9, 90, 4.0, "+")]))
    expect = _results_dict(store)
    # simulate a fresh session: drop the catalog registrations, then open the
    # store from scratch off its on-disk meta (bucketing DDL must re-register)
    for which in ("contribs", "results"):
        spark.sql(f"DROP TABLE IF EXISTS {store._table_name(which)}")
    reopened = PreserveStore(spark, store.path)
    assert reopened.exists()
    assert _results_dict(reopened) == expect
    assert reopened.version == 1


def test_refresh_matches_full_recompute_on_driver_tables(spark, sf_dir, tmp_path):
    """Dual-execution oracle (SURVEY §5.2): store refresh over orders ==
    one-shot groupBy over the effective row set."""
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    cutoff = F.lit("1999-01-01").cast("date")
    base = orders.where(F.col("o_orderdate").cast("date") < cutoff)
    store = PreserveStore(spark, str(tmp_path / "orders_store"))
    store.initialize(
        base.select("o_custkey", "o_orderkey", "o_totalprice"),
        group_keys=["o_custkey"],
        source_keys=["o_orderkey"],
        agg_sql={
            "spend": "ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) "
            "AS DOUBLE), 6)",
            "n_orders": "CAST(COUNT(1) AS BIGINT)",
        },
        num_buckets=8,
    )
    additions = (
        orders.where(F.col("o_orderdate").cast("date") >= cutoff)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("op", F.lit("+"))
    )
    removals = (
        base.where(F.col("o_orderkey") % 97 == 0)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("op", F.lit("-"))
    )
    store.refresh(additions.unionByName(removals))
    got = {
        r["o_custkey"]: (r["spend"], r["n_orders"])
        for r in store.current_results().collect()
    }
    expect_df = (
        orders.where(
            ~(
                (F.col("o_orderdate").cast("date") < cutoff)
                & (F.col("o_orderkey") % 97 == 0)
            )
        )
        .groupBy("o_custkey")
        .agg(
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(27,6)")).cast("double"),
                6,
            ).alias("spend"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    expect = {
        r["o_custkey"]: (r["spend"], r["n_orders"]) for r in expect_df.collect()
    }
    assert got == expect


def test_multi_column_group_keys_use_semi_join_path(spark, tmp_path):
    """Composite group keys can't take the single-key isin fast path — the
    co-bucketed semi-join fallback must produce identical results,
    including vanished and newly-appeared composite groups."""
    rows = [
        (1, "a", 10, 1.0),
        (1, "a", 11, 2.0),
        (1, "b", 12, 3.0),
        (2, "a", 20, 5.0),
    ]
    store = PreserveStore(spark, str(tmp_path / "mk_store"))
    store.initialize(
        spark.createDataFrame(rows, "g1 bigint, g2 string, s bigint, v double"),
        group_keys=["g1", "g2"],
        source_keys=["s"],
        agg_sql={"total": "CAST(SUM(v) AS DOUBLE)",
                 "n": "CAST(COUNT(1) AS BIGINT)"},
        num_buckets=4,
    )
    delta = spark.createDataFrame(
        [
            (1, "a", 13, 4.0, "+"),   # touch existing composite group
            (1, "b", 12, 0.0, "-"),   # vanish (1, b)
            (3, "c", 30, 7.0, "+"),   # brand-new composite group
        ],
        "g1 bigint, g2 string, s bigint, v double, op string",
    )
    store.refresh(delta)
    res = {
        (r["g1"], r["g2"]): (r["total"], r["n"])
        for r in store.current_results().collect()
    }
    assert res == {
        (1, "a"): (7.0, 3),
        (2, "a"): (5.0, 1),
        (3, "c"): (7.0, 1),
    }
    assert (1, "b") not in res


def test_auto_compact_cadence(spark, tmp_path):
    """max_layers triggers an LSM-style fold: results stay identical across
    the compaction boundary and the layer count resets."""
    store = _fresh_store(spark, tmp_path, BASE_ROWS)
    v = store.refresh(_delta(spark, [(1, 12, 4.0, "+")]), max_layers=2)
    assert v == 1  # below the cadence: layer kept
    v = store.refresh(_delta(spark, [(2, 22, 6.0, "+")]), max_layers=2)
    assert v == 0  # hit the cadence: folded into a fresh base
    assert int(store.meta["base_version"]) == 1
    assert _results_dict(store) == {
        1: (7.0, 3, 4.0),
        2: (18.0, 3, 7.0),
        3: (9.0, 1, 9.0),
    }
    # refreshes keep working against the new base
    store.refresh(_delta(spark, [(3, 30, 0.0, "-")]), max_layers=2)
    assert 3 not in _results_dict(store)


def test_refresh_linear_rejects_non_linear_aggregates(spark, tmp_path):
    # MAX has no signed-delta form: the linear path must refuse loudly
    # instead of silently producing a wrong accumulation
    from incr_iter_hadoop_spark.operators.incremental import (
        preserve,
        refresh_linear,
    )

    state = preserve(
        _contribs(spark, BASE_ROWS),
        group_keys=["g"],
        source_keys=["s"],
        agg_exprs={"total": F.sum("v"), "mx": F.max("v")},
    )
    delta = _delta(spark, [(1, 12, 4.0, "+")])
    with pytest.raises(ValueError, match="no linear delta"):
        refresh_linear(
            state, delta, linear_exprs={"total": F.sum(F.col("_sign") * F.col("v"))}
        ).collect()


def test_stray_uncommitted_layer_is_invisible(spark, tmp_path):
    # crash consistency: a refresh that wrote its layer files but died
    # BEFORE the meta commit must be invisible — readers see the last
    # committed version, and the next refresh proceeds normally.
    import shutil

    store = _fresh_store(
        spark, tmp_path, [(1, 1, 1.0), (1, 2, 2.0), (2, 1, 5.0)]
    )
    store.refresh(_delta(spark, [(1, 3, 7.0, "+")]))
    committed = _results_dict(store)
    v = store.version
    # simulate the torn refresh: copy the v-th layer dirs to v+1 without
    # touching meta (layer files on disk, no commit record)
    era = store.meta["base_version"]
    for which in ("contribs", "results"):
        src = store._layer_path(v, which, era)
        dst = store._layer_path(v + 1, which, era)
        shutil.copytree(src, dst)
    # a fresh handle (cold meta) must report the committed version and state
    reread = PreserveStore(spark, store.path)
    assert reread.version == v
    assert _results_dict(reread) == committed
    # and the next real refresh commits OVER the stray files without damage
    reread.refresh(_delta(spark, [(2, 9, 1.0, "+")]))
    assert reread.version == v + 1
    after = _results_dict(reread)
    assert after[2] == (6.0, 2, 5.0)
    assert after[1] == committed[1]


def test_refresh_token_replay_is_exactly_once(spark, tmp_path):
    """Round 7 (the Scd2Store.apply_era analogue): a refresh replayed with
    the same idempotence token — the at-least-once crash window of a
    retried orchestrator task or foreachBatch micro-batch — must be a
    no-op returning the committed version, never a double-application."""
    store = _fresh_store(spark, tmp_path, BASE_ROWS)
    d = _delta(spark, [(1, 12, 100.0, "+")])
    v1 = store.refresh(d, token="batch-0")
    assert v1 == 1
    before = _results_dict(store)
    # replay: same token, same (or even different) delta → no new layer
    assert store.refresh(d, token="batch-0") == 1
    assert store.version == 1
    assert _results_dict(store) == before
    # a NEW token applies normally
    v2 = store.refresh(_delta(spark, [(2, 30, 1.0, "+")]), token="batch-1")
    assert v2 == 2 and store.version == 2
    # tokens survive compact: replay after folding is still a no-op
    store.compact()
    assert store.refresh(d, token="batch-0") == 1
    assert store.version == 0  # compacted base, no phantom layer
    assert _results_dict(store)[1] == (103.0, 3, 100.0)
