"""The benchmark's workloads: the ops of one pass, their references and the
engine-side set-up each needs.

Every op calls a public entry point of the engine (a registered query
builder or a ``PreserveStore`` method) on the generated inputs and returns
its output as a pandas frame; the runner times it and checks it against a
reference computed once per seed with DuckDB, outside the timed window.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

import duckdb
import pandas as pd

import check
import gen

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents")

# store aggregates: the engine's own orders-refresh shape (decimal sum, so
# the result is independent of summation order)
STORE_AGG = {
    "spend": "ROUND(CAST(SUM(CAST(price AS DECIMAL(27,6))) AS DOUBLE), 6)",
    "n": "CAST(COUNT(1) AS BIGINT)",
    "max_price": "ROUND(MAX(price), 6)",
}
STORE_BUCKETS = 16
# the store's LSM cadence: every MAX_LAYERS-th refresh compacts. With the
# warm-up pass applying delta 1, a run's first measured refresh is a plain
# one and its second (the traced pass of a traced run) compacts.
MAX_LAYERS = 3


BATTERY = (
    "q1_pricing_summary",
    "q5_multiway_join",
    "q10_returned_items",
    "window_battery",
    "agg_value_battery",
)


class RejectSeed(Exception):
    """The seed's reference cannot be computed (an oracle's unroll was
    exceeded); the runner derives another seed instead of counting the
    ops as failed."""


@dataclass
class Op:
    metric: str  # timing metric stem, e.g. "pagerank" -> pagerank_s
    run: Callable[[], pd.DataFrame]
    expected: Callable[[], pd.DataFrame]
    attrs: dict = field(default_factory=dict)
    # warm-up runs lanes concurrently and the ops of one lane in order;
    # None: the op is a lane of its own
    lane: str | None = None


def duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(data_dir, t)}.parquet')"
        )
    return con


def _poisoned(df: pd.DataFrame) -> bool:
    """The engine's unrolled oracles return -1 in every row when the
    unroll is too short for the data."""
    return any((df[c] == -1).any() for c in ("rank", "label") if c in df.columns)


class QueryWorkload:
    """A fixed sequence of registered queries; one pass runs each once."""

    name = ""
    queries: tuple[tuple[str, str], ...] = ()  # (metric stem, query name)
    # references that can be poisoned, computed before any Spark work so a
    # rejected seed costs no session time
    rejectable: tuple[str, ...] = ()

    def __init__(self, data_dir: str, seed: int, seconds: int, traced: bool):
        self.data_dir = data_dir
        self.seed = seed
        self.refs: dict[str, pd.DataFrame] = {}

    def generate(self) -> None:
        gen.write_inputs(self.seed, self.data_dir)

    def early_references(self) -> None:
        self._refs(self.rejectable)

    def late_references(self) -> None:
        self._refs([q for _, q in self.queries if q not in self.rejectable])

    def _refs(self, names) -> None:
        from incr_iter_hadoop_spark.registry import oracle_sql

        osql = oracle_sql()
        con = duck(self.data_dir)
        try:
            for q in names:
                df = con.sql(osql[q]).df()
                if _poisoned(df):
                    raise RejectSeed(f"{q}: oracle unroll exceeded")
                self.refs[q] = check.canonicalize(df)
        finally:
            con.close()

    def setup(self, spark) -> None:
        self.spark = spark
        from incr_iter_hadoop_spark.registry import all_queries

        self.specs = all_queries()

    def exhausted(self) -> bool:
        return False

    def pass_ops(self) -> list[Op]:
        return [self._query_op(m, q) for m, q in self.queries]

    def _query_op(self, metric: str, q: str) -> Op:
        fn = self.specs[q].fn
        return Op(
            metric=metric,
            run=lambda: fn(self.spark, self.data_dir).toPandas(),
            expected=lambda: self.refs[q],
            attrs={"query": q},
            lane="battery" if q in BATTERY else None,
        )


class Converge(QueryWorkload):
    name = "converge"
    queries = (
        ("pagerank", "pagerank_converged"),
        ("lpa", "lpa_converged"),
        ("cc", "dedup_cc_clusters"),
        ("nmf", "nmf_bounded2"),
    )
    rejectable = ("pagerank_converged", "lpa_converged")


class Incremental(QueryWorkload):
    """A preserve run sets up a ``PreserveStore`` whose state is far larger
    than one delta; each pass then applies the next seeded delta
    (``refresh``), reads the affected groups back (``read``), recomputes
    the whole state from the store's contributions (``recompute``, the
    baseline a refresh avoids) and re-converges PageRank warm-started from
    the preserved fixpoint (``reconverge``). In a traced run the
    relational battery closes each pass: it uses neither the loop driver
    nor the store, so its per-query times are the control a loop or store
    change should leave flat. Untraced runs leave it out to stay within
    the run budget of the benchmark."""

    name = "incremental"
    queries = (("reconverge", "incr_pagerank_reconverge"),)
    rejectable = ("incr_pagerank_reconverge",)

    def __init__(self, data_dir, seed, seconds, traced):
        super().__init__(data_dir, seed, seconds, traced)
        if traced:
            self.queries = self.queries + tuple((q, q) for q in BATTERY)
        # one delta per pass, passes take seconds each: this bounds the
        # refreshes any run of ``seconds`` can reach
        self.n_deltas = 4 + seconds
        self.k = 0
        self.since_compact = 0

    def generate(self) -> None:
        self.si = gen.write_inputs(self.seed, self.data_dir, self.n_deltas)
        self.affected = {
            k: sorted(set(self.si.delta(k)["g"].to_pylist()))
            for k in range(1, self.n_deltas + 1)
        }

    def late_references(self) -> None:
        super().late_references()
        con = duckdb.connect()
        try:
            rows = self.si.rows  # noqa: F841 (DuckDB scans the local name)
            aggs = ", ".join(f"{sql} AS {name}" for name, sql in STORE_AGG.items())
            live = (
                f"SELECT k, g, price FROM rows, range(1, {self.n_deltas + 1}) t(k)"
                " WHERE born <= k AND died > k"
            )
            full = con.sql(f"SELECT k, g, {aggs} FROM ({live}) GROUP BY k, g").df()
        finally:
            con.close()
        by_k = dict(tuple(full.groupby("k")))
        empty = full.iloc[0:0]
        self.full_ref = {}
        self.read_ref = {}
        for k in range(1, self.n_deltas + 1):
            fk = by_k.get(k, empty).drop(columns="k")
            self.full_ref[k] = check.canonicalize(fk)
            self.read_ref[k] = check.canonicalize(fk[fk["g"].isin(self.affected[k])])

    def setup(self, spark) -> None:
        super().setup(spark)
        from incr_iter_hadoop_spark.sources.preserve_store import PreserveStore

        self.store = PreserveStore(
            spark, os.path.join(os.path.dirname(self.data_dir), "store")
        )

    def _preserve_run(self) -> None:
        """Initialize the store from the base contributions. Runs at the
        head of the warm-up's store lane, beside the other lanes."""
        self.store.initialize(
            self.spark.read.parquet(os.path.join(self.data_dir, "store", "base.parquet")),
            group_keys=["g"],
            source_keys=["src"],
            agg_sql=STORE_AGG,
            num_buckets=STORE_BUCKETS,
        )

    def exhausted(self) -> bool:
        return self.k >= self.n_deltas

    def pass_ops(self) -> list[Op]:
        from pyspark.sql import functions as F

        self.k += 1
        k = self.k
        self.since_compact += 1
        version = 0 if self.since_compact >= MAX_LAYERS else self.since_compact
        if version == 0:
            self.since_compact = 0
        delta_path = os.path.join(self.data_dir, "store", f"delta_{k:04d}.parquet")
        store = self.store
        keys = self.affected[k]

        def refresh():
            if k == 1:
                self._preserve_run()
            v = store.refresh(self.spark.read.parquet(delta_path), max_layers=MAX_LAYERS)
            return pd.DataFrame({"version": [v]})

        def read():
            return store.current_results().where(F.col("g").isin(keys)).toPandas()

        def recompute():
            aggs = [F.expr(sql).alias(name) for name, sql in store.meta["agg_sql"].items()]
            return store.current_contribs().groupBy("g").agg(*aggs).toPandas()

        delta_rows = gen.DELTA_PLUS + gen.DELTA_MINUS
        return [
            Op("refresh", refresh,
               lambda: check.canonicalize(pd.DataFrame({"version": [version]})),
               {"delta_rows": delta_rows, "affected_groups": len(keys)}, lane="store"),
            Op("read", read, lambda: self.read_ref[k], {"affected_groups": len(keys)},
               lane="store"),
            Op("recompute", recompute, lambda: self.full_ref[k], lane="store"),
            *super().pass_ops(),
        ]


WORKLOADS = {w.name: w for w in (Converge, Incremental)}
