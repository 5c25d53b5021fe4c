"""iterate(): the loop-to-convergence driver (SURVEY §2.8 I1-I5, I9).

This replaces the reference's entire task-resident iteration machinery —
the per-task loop (incr-hadoop-0.1/src/mapred/org/apache/hadoop/mapred/
MapTask.java:575-650), the map↔reduce iteration signalling
(ReduceOutputFetcher MapTask.java:90-167, TaskUmbilicalProtocol.java:174-188),
the master-side convergence sum (JobTracker.java:5550-5597), the checkpoint
cadence (ReduceTask.java:3063-3067, JobConf.java:699-704) and the
state-locality scheduler (JoinableDataTaskScheduler.java:27-300) — with ~100
lines of driver-side control flow:

- the *static* (loop-invariant) DataFrame is repartitioned by the join key
  once and persisted by the caller; Spark's block locations give the
  locality the reference's custom scheduler chased;
- each iteration is a declarative DataFrame transformation; Catalyst reuses
  the co-partitioned exchange, so the static side never re-shuffles;
- convergence is an aggregate observed on the round's own materializing
  action (the ``IterativeReducer.distance`` contract,
  IterativeReducer.java:24-32);
- ``localCheckpoint`` every k iterations truncates the logical plan, which
  otherwise grows linearly and overwhelms the optimizer — the analogue of
  the reference's snapshot interval.

Every loop owns its cache through ``LoopCache``: what it persisted is
unpersisted when it returns or raises, and a relation the caller had
already persisted is left cached.

Scale: per-iteration state is never collected to the driver (only the scalar
distance); state stays partitioned by key across iterations, so each loop
step shuffles only the new contributions.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


@dataclass
class IterationResult:
    state: DataFrame
    iterations: int
    converged: bool
    distances: list[float] = field(default_factory=list)
    # per-iteration observed metrics (A9/I11 counters analogue): row count
    # of each iteration's state, captured via df.observe at zero extra jobs
    record_counts: list[int] = field(default_factory=list)


class LoopCache:
    """The DataFrames one loop persisted. Used as a context manager, it
    unpersists them when the loop returns or raises.

    persist/unpersist are not reference-counted, so a loop must never
    unpersist a relation its caller persisted: ``input()`` persists a
    caller's DataFrame only when it is not cached already."""

    def __init__(self) -> None:
        self._owned: list[DataFrame] = []

    def __enter__(self) -> LoopCache:
        return self

    def __exit__(self, *exc) -> None:
        self.release()

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._owned.append(df)
        return df

    def input(self, df: DataFrame) -> DataFrame:
        level = df.storageLevel
        return df if level.useMemory or level.useDisk else self.persist(df)

    def drop(self, *dfs: DataFrame) -> None:
        """Unpersist those of ``dfs`` this cache owns."""
        for df in dfs:
            if any(df is o for o in self._owned):
                df.unpersist()
        self._owned = [o for o in self._owned if not any(o is d for d in dfs)]

    def release(self, keep: DataFrame | None = None) -> None:
        """Unpersist every owned DataFrame except ``keep``."""
        self.drop(*[o for o in self._owned if o is not keep])

    def keep(self, df: DataFrame) -> DataFrame:
        """Hand ``df`` over to the caller: it stays cached after the loop."""
        self._owned = [o for o in self._owned if o is not df]
        return df


def negotiate_partitions(
    df: DataFrame, *, rows_per_partition: int = 100_000, floor: int = 8
) -> int:
    """Partition-count negotiation for loop relations — the reference does
    this at submit time (JobClient.java:913-957: block-size-driven counts,
    ONE2ONE forcing #maps==#reduces). Sizing the static/state partitioning
    to the data keeps small loops from paying per-task overhead every
    iteration while preserving the session default as the ceiling for
    cluster-scale inputs. ``df`` should already be persisted — the count
    doubles as its materialization."""
    default_n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return max(floor, min(default_n, df.count() // rows_per_partition + 1))


def l1_state_distance(
    prev: DataFrame, curr: DataFrame, key: str | list[str], value: str
) -> float:
    """Σ|prev.value − curr.value| over the join of both states — the
    reference's PageRank/L1 convergence metric (IterPageRank.java:190-194,
    summed across reducers at JobTracker.java:5586-5595). Keys present on
    only one side contribute their absolute value (treated as vs 0)."""
    keys = [key] if isinstance(key, str) else list(key)
    p = prev.select(*keys, F.col(value).alias("_prev"))
    c = curr.select(*keys, F.col(value).alias("_curr"))
    joined = p.join(c, keys, "full_outer").select(
        F.abs(
            F.coalesce(F.col("_prev"), F.lit(0.0))
            - F.coalesce(F.col("_curr"), F.lit(0.0))
        ).alias("_d")
    )
    row = joined.agg(F.sum("_d").alias("s")).collect()[0]
    return float(row["s"] or 0.0)


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    *,
    max_iterations: int = 50,
    observed_distance: Column | None = None,
    threshold: float = 0.0,
    checkpoint_interval: int = 5,
    observe_counts: bool = False,
) -> IterationResult:
    """Run ``state ← step(state, i)`` for i = 1, 2, … until convergence or
    ``max_iterations``.

    ``observed_distance``: an aggregate Column over the NEW state's columns
    (e.g. ``F.sum(F.abs(F.col("delta")))`` when the step carries a delta
    column). Iteration stops once its value is ≤ ``threshold`` (the
    reference's termination contract — JobClient.runIterativeJob,
    JobClient.java:1366-1381; IterativeReducer.distance,
    IterativeReducer.java:24-32). The scalar rides the round's one
    materializing action via ``df.observe``: no prev⋈curr join and no
    separate distance action. Every round is checkpointed, because such a
    step reads the previous state twice (its contributions and its prior
    value), which would double the plan per round. When None, the loop
    runs exactly ``max_iterations`` steps (the fixed-iteration mode,
    JobConf.java:494-500), materializing and checkpointing every
    ``checkpoint_interval`` rounds and at the last one.

    ``observe_counts``: attach a per-iteration ``df.observe`` counter — the
    analogue of the reference's per-iteration record stats reported to the
    master (IterationInfo, JobTracker.java:5516-5583; Counters.java) —
    piggybacked on the iteration's existing action, zero extra jobs.

    If ``step`` or a materializing action raises, every state this call
    persisted is unpersisted before the error propagates.
    """
    from pyspark.sql import Observation

    if max_iterations < 1:
        raise ValueError("max_iterations must be >= 1")
    observed = observed_distance is not None
    distances: list[float] = []
    observations: list[Observation] = []
    converged = False
    i = 0
    # holds the persisted states that a later round may still read
    with LoopCache() as held:
        state = held.input(state)
        state.count()  # each iteration starts from computed state
        for i in range(1, max_iterations + 1):
            state = step(state, i)
            checkpoint = observed or i % checkpoint_interval == 0
            if checkpoint:
                # truncates lineage when this round's action materializes it
                state = state.localCheckpoint(eager=False)
            if observe_counts:
                # observe AFTER any checkpoint: localCheckpoint replaces the
                # logical plan, which would drop the CollectMetrics node.
                # Anonymous Observation(): the name must be globally unique —
                # joining the states of two separate runs whose iteration i
                # carried the same metric name fails with
                # DUPLICATED_METRICS_NAME
                obs = Observation()
                state = state.observe(obs, F.count(F.lit(1)).alias("records"))
                observations.append(obs)
            if observed:
                dist_obs = Observation()
                state = state.observe(dist_obs, observed_distance.alias("distance"))
            # Persist every round, checkpointed ones too. A bare
            # localCheckpoint carries its origin plan's *estimated* size,
            # which a step that joins its state twice squares every round
            # until size estimation itself stalls; a materialized cache
            # carries the round's real size. An unmaterialized round must
            # also keep its persist marker until the action that computes
            # it runs, or such a step doubles the plan per round.
            state = held.persist(state)
            if checkpoint or i == max_iterations:
                # one action computes every round since the last one;
                # earlier states are then no longer read
                state.count()
                held.release(keep=state)
            if observed:
                d = float(dist_obs.get["distance"] or 0.0)
                distances.append(d)
                if d <= threshold:
                    converged = True
                    break
        held.keep(state)
    return IterationResult(
        state=state,
        iterations=i,
        converged=converged,
        distances=distances,
        record_counts=[int(obs.get["records"]) for obs in observations],
    )
