"""On-disk, versioned preserve store (SURVEY §2.8 I6, §4).

The reference's MRBG-store keeps every reduce group's inputs and output in an
indexed local file so an incremental run can point-look-up just the affected
groups (IFile.PreserveFile, incr-hadoop-0.1/src/mapred/org/apache/hadoop/
mapred/IFile.java:478-1100; in-place result update updateResKV at
IFile.java:805-930; re-reduce read path ReduceTask.java:3324-3500).

Spark-first redesign — no point-lookup server, no in-place mutation:

- **Base state** = two bucketed, key-sorted external Parquet tables
  (``contribs``, ``results``), hash-bucketed by group key. Bucketing gives
  exchange-free joins against co-bucketed relations; the within-bucket sort
  gives tight page-level min/max stats.
- **A refresh is a layer, not a rewrite**: each ``refresh(delta)`` writes
  ``layers/v<N>/`` holding only the *affected* group keys, those groups'
  complete post-refresh contributions, and their recomputed results —
  O(|delta| + |affected groups' contribs|) I/O, never O(|state|). This is
  the immutable analogue of the reference's in-place updateResKV.
- **Point lookup ≈ predicate pushdown**: reading the affected groups back
  out applies an ``isin`` filter on the bucketed/sorted key, so Spark prunes
  whole buckets (hash) and then Parquet column indexes prune pages (sort) —
  the two-level index the reference built by hand.
- **Reconstruction is last-layer-wins at group granularity**: a group's
  current contribs/result live entirely in the highest layer that touched it
  (or the base). ``compact()`` folds all layers back into a new base.
- **Time travel for free**: layers are immutable, so any historical version
  is a bounded fold (``results_as_of``/``contribs_as_of``). ``compact()``
  retires the old era without deleting it — concurrent readers stay pinned
  to their files — and ``vacuum()`` is the explicit delete, the same
  rewrite-then-vacuum split lakehouse formats use.

Scale: at 100 TB the base tables are written once (the shuffle is paid at
write time and amortized); every later refresh touches only the affected
groups' buckets/pages. ``refresh()`` sets
``spark.sql.parquet.pushdown.inFilterThreshold`` on the session before the
isin fast path so exact in-filters reach the parquet reader for modest key
lists (capped at ``_PUSHDOWN_IN_MAX`` — parquet-mr's or() chain is evaluated
recursively and stack-overflows for huge lists); beyond the cap the scan
still benefits from planner-side bucket pruning and min/max range stats.
"""

from __future__ import annotations

import contextlib
import os
import re
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import occ

# max #affected group keys collected to the driver for isin() pushdown; above
# this the store falls back to a co-bucketed semi-join (still exchange-free
# on the store side). The reference does one point lookup per delta key, so a
# driver-side key list of the same cardinality is the honest analogue.
DEFAULT_INLINE_KEYS = 5000
# max in-list size pushed to parquet as an EXACT filter; larger lists get
# min/max range pushdown only (parquet-mr evaluates the or() chain
# recursively — ~1500 values overflows the executor stack)
_PUSHDOWN_IN_MAX = 200
_NULL_KEYS = (
    "PreserveStore.refresh: delta contains NULL group keys; "
    "NULL groups cannot be tracked by the layered store"
)


class PreserveStore(occ.StoreCore):
    """A named, versioned preserve store rooted at ``path``.

    ``agg_sql`` maps output column name -> SQL aggregate expression over the
    contribution columns (stored in the metadata so a fresh session can
    re-derive results without Python state). Commits, staging, tokens and
    ``vacuum`` follow ``occ.StoreCore``'s single-writer OCC contract.
    """

    _CATALOG_PREFIX = "preserve"
    _KEYS = "group_keys"
    _TOKENS = "refresh_tokens"

    # SQL confs are SESSION-global, so two same-session store operations
    # scoping confs concurrently would corrupt each other's view and could
    # leak a restored-out-of-order value into the session (each thread
    # saves the other's in-flight value as its "prior"). Store operations
    # that scope confs serialize on this per-process lock — they mutate
    # one store and would mostly lose the OCC race to each other anyway;
    # cross-process writers have their own sessions and are unaffected.
    _CONF_LOCK = threading.RLock()

    @classmethod
    def _conf_lock(cls):
        return cls._CONF_LOCK

    @contextlib.contextmanager
    def _scoped_confs(self, confs: dict[str, str]):
        """Set session SQL confs for the duration of a store operation and
        restore the originals afterwards — the store must not leak plan-
        changing settings into unrelated queries sharing the session. Only
        operations that *execute* their scans inside the scope (refresh,
        compact — their layer/base writes are the actions) can use this;
        lazily-returned DataFrames plan at the caller's action time.
        Serialized per process (``_conf_lock``): concurrent same-session
        scopes would save each other's in-flight values as their "prior"
        and restore them out of order, leaking a mutated conf into the
        session."""
        with self._conf_lock():
            prior: dict[str, str | None] = {}
            for k, v in confs.items():
                try:
                    prior[k] = self.spark.conf.get(k)
                except Exception:
                    prior[k] = None
                self.spark.conf.set(k, v)
            try:
                yield
            finally:
                for k, old in prior.items():
                    if old is None:
                        self.spark.conf.unset(k)
                    else:
                        self.spark.conf.set(k, old)

    # Spark's planner silently falls back to a plain file scan when it judges
    # bucketing "not useful" — which also drops BUCKET PRUNING, the store's
    # whole point-read mechanism (hash(key) selects the bucket files to open,
    # everything else is never touched). refresh()/compact() pin bucketed
    # scans on for their own internal reads via _scoped_confs.
    _BUCKETED_SCAN_CONF = "spark.sql.sources.bucketing.autoBucketedScan.enabled"

    # -- metadata ----------------------------------------------------------

    @property
    def group_keys(self) -> list[str]:
        return list(self.meta["group_keys"])

    @property
    def source_keys(self) -> list[str]:
        return list(self.meta["source_keys"])

    @property
    def version(self) -> int:
        return int(self.meta["version"])

    def _agg_cols(self) -> list:
        return [
            F.expr(sql).alias(name) for name, sql in self.meta["agg_sql"].items()
        ]

    # -- base tables (bucketed external parquet) ---------------------------

    def _table_name(self, which: str, era: int | None = None) -> str:
        era = int(self.meta["base_version"]) if era is None else era
        return self._catalog_name(f"{which}_v{era}")

    def _base_tables(self, era: int | None = None) -> list[str]:
        return [self._table_name(w, era) for w in ("contribs", "results")]

    def _base_path(self, which: str, era: int | None = None) -> str:
        era = int(self.meta["base_version"]) if era is None else era
        return os.path.join(self.path, f"base_v{era}", which)

    def _base(self, which: str, era: int | None = None) -> DataFrame:
        return self._bucketed_table(
            self._table_name(which, era),
            self.meta["schema_ddl"][which],
            self._base_path(which, era),
        )

    # -- lifecycle ---------------------------------------------------------

    def initialize(
        self,
        contribs: DataFrame,
        group_keys: list[str],
        source_keys: list[str],
        agg_sql: dict[str, str],
        *,
        num_buckets: int = 16,
    ) -> "PreserveStore":
        """I6 preserve run: materialize contributions and their aggregated
        results as the version-0 base. One full shuffle — paid exactly
        once.

        Both bases write into one unique staging directory and the rename
        onto ``base_v0`` happens inside the meta commit's critical section
        — committing meta before the bases are complete would leave a
        committed store whose lazy table registration silently serves an
        empty base. A crash mid-write leaves ``exists() == False`` with
        only a ``.stage-*`` orphan; a concurrent initialize loser cannot
        clobber the winner's published base."""
        v0 = self._occ_begin()
        results = contribs.groupBy(*group_keys).agg(
            *[F.expr(sql).alias(name) for name, sql in agg_sql.items()]
        )
        meta = {
            "group_keys": list(group_keys),
            "source_keys": list(source_keys),
            "agg_sql": dict(agg_sql),
            "num_buckets": num_buckets,
            "version": 0,
            "base_version": 0,
            "schema_ddl": {
                "contribs": self._schema_ddl(contribs),
                "results": self._schema_ddl(results),
            },
            # era -> layer count of RETIRED (compacted-away) eras still on
            # disk; readers pinned to an old era keep working until vacuum()
            "retired": {},
        }
        stage_root = os.path.join(self.path, occ.stage_name("base_v0"))
        with self._staged(
            stage_root,
            os.path.join(self.path, "base_v0"),
            expect=v0,
            op="PreserveStore.initialize",
        ) as commit:
            self._meta = meta  # _stage_base/_table_name read this meta
            self._stage_base("contribs", contribs, stage_root)
            self._stage_base("results", results, stage_root)
            # a previous store at this path may have left entries
            commit(meta, drop=self._base_tables())
        return self

    # -- layered reads -----------------------------------------------------

    def _layer_path(self, v: int, which: str, era: int | None = None) -> str:
        era = int(self.meta["base_version"]) if era is None else era
        return os.path.join(self.path, f"layers/b{era}/v{v}", which)

    def _reader(self, which: str):
        """Parquet reader with the stored explicit schema where one exists
        (contribs/results — no inference listing, no sampled-file
        dependence); sides without a recorded DDL (affected) infer."""
        ddl = self.meta["schema_ddl"].get(which)
        return self.spark.read.schema(ddl) if ddl else self.spark.read

    def _layer(self, v: int, which: str, era: int | None = None) -> DataFrame:
        return self._reader(which).parquet(self._layer_path(v, which, era))

    def _layers(self, n: int, which: str, era: int | None = None) -> DataFrame:
        """Layers 1..n as ONE multi-path scan, ``_v`` parsed from the layer
        directory name (``layers/b<era>/v<N>/<which>/part-*``, written by
        ``_layer_path`` so the pattern is store-controlled). One scan node
        instead of n: a per-layer
        unionByName chain costs one file listing and one plan subtree PER
        LAYER — driver-side analysis time grows linearly with store depth,
        and on object storage each listing is a round trip. A single
        multi-path scan lists in one parallelized pass, keeps the plan a
        constant size, and still pushes the group-key filter into every
        file."""
        paths = [self._layer_path(v, which, era) for v in range(1, n + 1)]
        # anchored to the data-file position (layers/b<e>/v<N>/<which>/
        # part-*): an unanchored leftmost match would pick up a matching
        # segment from the store root's own path and stamp the wrong _v
        # on every row with no error. Explicit schema from meta where
        # recorded (see _reader).
        return self._reader(which).parquet(*paths).withColumn(
            "_v",
            F.regexp_extract(
                F.input_file_name(), r"/layers/b\d+/v(\d+)/[^/]+/[^/]+$", 1
            ).cast("int"),
        )

    def _pruned(self, df: DataFrame, keys_filter) -> DataFrame:
        if keys_filter is None:
            return df
        return df.where(keys_filter)

    def _era_layers(self, era: int | None) -> int:
        """Number of layers in ``era`` (None/current era → live version)."""
        cur = int(self.meta["base_version"])
        if era is None or era == cur:
            return self.version
        retired = self.meta.get("retired", {})
        if str(era) not in retired:
            raise ValueError(
                f"PreserveStore: unknown era {era} (current {cur}, retired "
                f"{sorted(retired)}) — vacuumed eras are unreadable"
            )
        return int(retired[str(era)])

    def _current(
        self,
        which: str,
        keys_filter=None,
        affected: DataFrame | None = None,
        upto: int | None = None,
        era: int | None = None,
    ):
        """Last-layer-wins reconstruction of ``contribs`` or ``results``,
        optionally restricted to the groups matching ``keys_filter`` (an
        in-list Column — bucket + page pruned) or ``affected`` (a group-key
        DataFrame — co-bucketed semi-join fallback). ``upto`` bounds the
        reconstruction at a layer version (time travel — layers are
        immutable, so any historical version is just a shorter fold);
        ``era`` addresses a retired base generation."""
        gk = self.group_keys
        n = self._era_layers(era) if upto is None else upto
        if n > self._era_layers(era) or n < 0:
            raise ValueError(
                f"PreserveStore: version {n} does not exist in era "
                f"{era if era is not None else self.meta['base_version']} "
                f"(0..{self._era_layers(era)})"
            )
        base = self._pruned(self._base(which, era), keys_filter)
        if affected is not None:
            base = base.join(affected, gk, "left_semi")
        if n == 0:
            # no layers in view: the base IS the state — skip the
            # last-layer-wins join entirely (it would join against an empty
            # touched-set and still cost a stage per read)
            return base
        lay = self._pruned(self._layers(n, which, era), keys_filter)
        if affected is not None:
            lay = lay.join(affected, gk, "left_semi")
        tagged = base.withColumn("_v", F.lit(0)).unionByName(lay)
        # the layer that last touched a group holds ALL of that group's rows;
        # affected-key files record touches even when the group vanished
        touched = self._touched_versions(keys_filter, affected, n, era)
        last = tagged.join(touched, gk, "left").where(
            F.col("_v") == F.coalesce(F.col("_last_v"), F.lit(0))
        )
        return last.drop("_v", "_last_v")

    def _touched_versions(
        self,
        keys_filter=None,
        affected: DataFrame | None = None,
        n: int | None = None,
        era: int | None = None,
    ):
        """(group_keys, _last_v): highest layer ≤ n that touched each group."""
        gk = self.group_keys
        n = self._era_layers(era) if n is None else n
        if n == 0:
            # no layers yet: empty frame with the right shape
            return (
                self._base("results", era)
                .select(*gk, F.lit(0).alias("_last_v"))
                .limit(0)
            )
        aff = self._pruned(self._layers(n, "affected", era), keys_filter)
        if affected is not None:
            aff = aff.join(affected, gk, "left_semi")
        return aff.groupBy(*gk).agg(F.max("_v").alias("_last_v"))

    def current_results(self) -> DataFrame:
        return self._current("results")

    def current_contribs(self) -> DataFrame:
        return self._current("contribs")

    # -- time travel (I5 iteration-snapshot analogue) ----------------------
    # The reference preserves per-iteration state snapshots it can re-read
    # (ReduceTask.java:3359-3372); here every layer is immutable, so ANY
    # historical version is readable as a bounded fold — no extra storage.

    def results_as_of(
        self, version: int, base_version: int | None = None
    ) -> DataFrame:
        """State of ``results`` after layer ``version`` of the given era
        (version 0 = that era's base). Versions of a retired era stay
        readable after compact() until vacuum() — the version pin that
        keeps concurrent readers safe across compaction."""
        return self._current("results", upto=version, era=base_version)

    def contribs_as_of(
        self, version: int, base_version: int | None = None
    ) -> DataFrame:
        return self._current("contribs", upto=version, era=base_version)

    # -- incremental refresh (I7 + I8) -------------------------------------

    def refresh(
        self,
        delta: DataFrame,
        op_col: str = "op",
        *,
        inline_keys: int = DEFAULT_INLINE_KEYS,
        max_layers: int | None = None,
        token: str | None = None,
    ) -> int:
        """Apply a (+/-) delta as a new layer; returns the new version.

        '-' rows retract the contribution with the same (group, source) key;
        '+' rows insert. Only the affected groups are read (bucket- and
        page-pruned point reads when the key list is small; co-bucketed
        semi-join otherwise) and only they are written back —
        O(|delta| + |affected contribs|), the reference's re-reduce contract
        (ReduceTask.java:3324-3500).

        ``token``: idempotence handle for at-least-once callers (a retried
        orchestrator task, a replayed ``foreachBatch`` micro-batch).
        Recorded in the SAME meta write as the version bump — one atomic
        commit — so a replayed refresh with a seen token is a no-op
        returning the version it committed, never a double-application of
        the delta. Tokens survive ``compact()`` (the application is folded
        into the new base; the recorded version then refers to the retired
        era) and are pruned past the ``occ._TOKEN_KEEP``-version retention
        window so the meta commit stays O(1) over an unbounded refresh
        stream. Version numbers reset at compact, which can only
        over-retain (never drop a within-window token).

        ``max_layers``: LSM-style cadence — when the layer count reaches it
        after this refresh, ``compact()`` folds everything into a fresh base
        (the reference's periodic store rewrite, IFile.java:931-1015), so
        read cost stays bounded over an unbounded refresh stream. Returns
        the store version after any compaction (0 right after one)."""
        # scope: bucketed scans pinned on for the point reads below; the
        # inFilterThreshold is mutated inside (probe-dependent) and listed
        # here at its current value so the exit restores BOTH to the
        # session's prior settings (no session-global leaks).
        v0 = self._occ_begin()
        seen = self._token_version(token)
        if seen is not None:
            return seen
        with self._scoped_confs(
            {
                self._BUCKETED_SCAN_CONF: "false",
                "spark.sql.parquet.pushdown.inFilterThreshold": self.spark.conf.get(
                    "spark.sql.parquet.pushdown.inFilterThreshold"
                ),
            }
        ):
            return self._refresh_locked(
                delta,
                op_col,
                inline_keys=inline_keys,
                max_layers=max_layers,
                token=token,
                occ_expect=v0,
            )

    def _refresh_locked(
        self,
        delta: DataFrame,
        op_col: str = "op",
        *,
        inline_keys: int = DEFAULT_INLINE_KEYS,
        max_layers: int | None = None,
        token: str | None = None,
        occ_expect: int | None = None,
    ) -> int:
        gk, sk = self.group_keys, self.source_keys
        v = self.version + 1
        # all three layer sides write into ONE unique staging directory
        # renamed onto layers/b<B>/v<N> inside the commit's critical
        # section — a loser's write can never land on a committed version
        # name (see occ.commit_meta)
        bv = int(self.meta["base_version"])
        stage_parent = os.path.join(
            self.path, f"layers/b{bv}", occ.stage_name(f"v{v}")
        )
        delta = delta.persist()
        affected = delta.select(*gk).distinct().persist()
        cached = [delta, affected]
        try:
            with self._staged(
                stage_parent,
                os.path.join(self.path, f"layers/b{bv}/v{v}"),
                expect=occ_expect,
                op="PreserveStore.refresh",
            ) as commit:
                # write the affected-key layer FIRST: the write
                # materializes the persisted `affected`, so the strategy
                # probe below is a cache hit instead of a second shuffle
                # job. Crash-safe: staged dirs are invisible until
                # published at the meta version bump.
                affected.write.mode("overwrite").parquet(
                    os.path.join(stage_parent, "affected")
                )
                keys_filter, affected_df = self._prune_plan(
                    affected, inline_keys
                )
                prior = self._current("contribs", keys_filter, affected_df)
                plus = delta.where(F.col(op_col) == "+").drop(op_col)
                minus = delta.where(F.col(op_col) == "-").drop(op_col)
                new_contribs = prior.join(
                    minus.select(*gk, *sk).distinct(), gk + sk, "left_anti"
                ).unionByName(plus)
                new_contribs = new_contribs.persist()
                cached.append(new_contribs)
                recomputed = new_contribs.groupBy(*gk).agg(*self._agg_cols())

                new_contribs.write.mode("overwrite").parquet(
                    os.path.join(stage_parent, "contribs")
                )
                recomputed.write.mode("overwrite").parquet(
                    os.path.join(stage_parent, "results")
                )
                meta = dict(self.meta)
                meta["version"] = v
                self._record_token(meta, token, v)
                commit(meta)
        finally:
            for df in reversed(cached):
                df.unpersist()
        if max_layers is not None and v >= max_layers:
            self.compact()
        return self.version

    def _prune_plan(self, affected: DataFrame, inline_keys: int):
        """``(keys_filter, affected_df)`` for reading the affected groups
        back: an exact ``isin`` filter when the key list is small enough
        to collect, else ``affected`` itself for a co-bucketed semi-join.
        Rejects NULL group keys: they can neither isin()-match nor
        equi-join ``touched`` in ``_current`` — either path would silently
        drop the delta row while the affected file still records it (the
        reference's reduce keys are never null)."""
        gk = self.group_keys
        # the probe decides the pruning strategy AND yields the key list
        # (limit(n+1) instead of count()+collect(): one job, not two —
        # per-refresh overhead matters when the delta is tiny, which is the
        # whole point of a refresh)
        probe = (
            affected.limit(inline_keys + 1).collect() if len(gk) == 1 else None
        )
        if probe is not None and len(probe) <= inline_keys:
            keys = [r[0] for r in probe]
            if any(k is None for k in keys):
                raise ValueError(_NULL_KEYS)
            # keep the EXACT in-filter eligible for parquet pushdown for
            # modest key lists (above the threshold Spark demotes it to a
            # min/max range filter). Capped: the exact pushdown compiles to
            # a values-deep or() chain in parquet-mr whose recursive
            # evaluation stack-overflows around a thousand keys — beyond the
            # cap the range filter + planner-side bucket pruning still apply.
            self.spark.conf.set(
                "spark.sql.parquet.pushdown.inFilterThreshold",
                str(min(max(len(keys), 10), _PUSHDOWN_IN_MAX)),
            )
            return F.col(gk[0]).isin(keys), None
        if affected.where(
            " OR ".join(f"`{k}` IS NULL" for k in gk)
        ).limit(1).count():
            raise ValueError(_NULL_KEYS)
        return None, affected

    # -- maintenance -------------------------------------------------------

    def compact(self) -> None:
        """Fold every layer into a fresh base (the reference's store rewrite,
        IFile.java:931-1015). O(|state|) — run at a cadence where
        Σ|layers| justifies it, exactly like LSM compaction.

        The superseded era (base + layers) is RETIRED, not deleted: its
        files stay on disk and its versions stay readable via
        ``*_as_of(..., base_version=old)``, so a reader holding a
        reconstruction DataFrame planned before the compaction never loses
        its files mid-query. ``vacuum()`` is the explicit delete step —
        the same rewrite-then-vacuum split lakehouse table formats use."""
        v0 = self._occ_begin()
        with self._scoped_confs({self._BUCKETED_SCAN_CONF: "false"}):
            self._compact_locked(occ_expect=v0)

    def _compact_locked(self, *, occ_expect: int | None = None) -> None:
        contribs = self.current_contribs()
        results = self.current_results()
        meta = dict(self.meta)
        old_base_version = int(meta["base_version"])
        new_base_version = old_base_version + 1
        meta["base_version"] = new_base_version
        old_version = meta["version"]
        meta["version"] = 0
        retired = dict(meta.get("retired", {}))
        retired[str(old_base_version)] = old_version
        meta["retired"] = retired
        # stage the NEW base under a unique directory before flipping meta:
        # a crash leaves the old base intact and only a .stage orphan; the
        # rename onto base_v<n+1> happens inside the commit's critical
        # section, so a losing compact can never clobber a committed base
        # of the same number
        stage_root = os.path.join(
            self.path, occ.stage_name(f"base_v{new_base_version}")
        )
        with self._staged(
            stage_root,
            os.path.join(self.path, f"base_v{new_base_version}"),
            expect=occ_expect,
            op="PreserveStore.compact",
        ) as commit:
            self._meta = meta  # _stage_base/_table_name read the new version
            self._stage_base("contribs", contribs, stage_root)
            self._stage_base("results", results, stage_root)
            # a crashed earlier attempt may have registered the new names
            commit(meta, drop=self._base_tables())

    def _stage_base(
        self, which: str, df: DataFrame, stage_root: str
    ) -> None:
        self._stage_bucketed(
            df, os.path.join(stage_root, which), self._table_name(which)
        )

    def _vacuumed_meta(self) -> dict | None:
        """Retired eras are a full state snapshot each, so leaving them
        forever leaks O(|state|) disk per compaction: a vacuum forgets
        every one of them."""
        if not self.meta.get("retired", {}):
            return None
        return {**self.meta, "retired": {}}

    def _orphan(self, rel: str) -> tuple[list[str], bool] | None:
        # base_v<e> / layers/b<e> where e is neither the live base version
        # nor a retired-but-still-readable era
        m = re.fullmatch(r"base_v(\d+)|layers/b(\d+)", rel)
        if m is None:
            return None
        era = int(m.group(1) or m.group(2))
        keep = {int(self.meta["base_version"])} | {
            int(e) for e in self.meta.get("retired", {})
        }
        if era in keep:
            return None
        return (self._base_tables(era) if m.group(1) else []), True

    def _sweep_parents(self):
        yield from super()._sweep_parents()
        # refresh staging lives INSIDE its era's layers/b<e>
        lroot = os.path.join(self.path, "layers")
        if os.path.isdir(lroot):
            for d in os.listdir(lroot):
                if re.fullmatch(r"b\d+", d):
                    yield os.path.join(lroot, d)
