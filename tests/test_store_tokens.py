"""The bounded idempotence-token window both stores share
(``occ.StoreCore._record_token``): a token-carrying mutation records its
token in the same meta commit as its version bump, only the tokens of the
last ``_TOKEN_KEEP`` versions are kept, and replaying a retained token is
a no-op that returns the version it committed."""

from __future__ import annotations

import pytest

from incr_iter_hadoop_spark.sources import occ
from incr_iter_hadoop_spark.sources.preserve_store import PreserveStore
from incr_iter_hadoop_spark.sources.scd2_store import Scd2Store


def _preserve(spark, path):
    store = PreserveStore(spark, path)
    store.initialize(
        spark.createDataFrame(
            [(1, 1, 1.0), (2, 2, 2.0)], "g bigint, s bigint, v double"
        ),
        group_keys=["g"],
        source_keys=["s"],
        agg_sql={"total": "CAST(SUM(v) AS DOUBLE)"},
        num_buckets=2,
    )

    def mutate(i, token):
        return store.refresh(
            spark.createDataFrame(
                [(1, 10 + i, float(i), "+")],
                "g bigint, s bigint, v double, op string",
            ),
            token=token,
        )

    def state(s):
        return s.version, sorted(s.current_results().collect())

    return store, mutate, state, "refresh_tokens"


def _scd2(spark, path):
    store = Scd2Store(spark, path)
    store.initialize(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "k bigint, v double"),
        key_cols=["k"],
        num_buckets=2,
    )

    def mutate(i, token):
        return store.apply_era(
            spark.createDataFrame([(1, 10.0 * i)], "k bigint, v double"),
            token=token,
        )

    def state(s):
        return s.era, sorted(s.history_as_of().collect())

    return store, mutate, state, "era_tokens"


@pytest.mark.parametrize("make", [_preserve, _scd2], ids=["preserve", "scd2"])
def test_token_window_keeps_last_versions_and_replays_are_noops(
    spark, tmp_path, monkeypatch, make
):
    monkeypatch.setattr(occ, "_TOKEN_KEEP", 2)
    path = str(tmp_path / "store")
    store, mutate, state, key = make(spark, path)
    assert [mutate(i, f"t{i}") for i in (1, 2, 3)] == [1, 2, 3]
    assert store.meta[key] == {"t2": 2, "t3": 3}

    committed = state(store)
    seq = store.meta["commit_seq"]
    for i in (2, 3):
        assert mutate(i, f"t{i}") == i
    reopened = type(store)(spark, path)
    assert reopened.meta["commit_seq"] == seq  # nothing was committed
    assert state(reopened) == committed
