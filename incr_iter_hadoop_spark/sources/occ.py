"""Optimistic concurrency control and the shared commit core of the
on-disk stores.

Both stores (``PreserveStore``, ``Scd2Store``) derive from ``StoreCore``
and commit every mutation through ONE atomic meta-file replace. OCC adds
the lakehouse-style compare step at that commit point (Delta/Iceberg
optimistic commit discipline): each mutation captures the store's on-disk
commit sequence number when it BEGINS, and the commit re-reads the file
and fails loudly with ``ConcurrentWriteError`` if another writer advanced
it in between — so of two concurrent writers exactly one wins and the
loser gets a deterministic error instead of silently clobbering the
winner's era / version.

- **The compare+replace pair is atomic on POSIX filesystems**: the whole
  commit (re-read → compare → stamp → write → replace) runs under an
  ``flock`` on a per-store lock file, taken on a FRESH file descriptor
  per commit so it excludes both other processes AND other threads of
  the same process (BSD ``flock`` locks belong to the open file
  description, not the process — unlike POSIX ``lockf`` record locks,
  which a sibling thread would sail through). The lock only closes the
  microsecond compare-vs-replace window, it never turns OCC into
  pessimistic waiting (it is held for one JSON read + one rename). On an
  object store without ``flock`` semantics the sequence-number protocol
  maps to conditional-put (ETag / if-match), which makes the same
  compare atomic server-side.
- **The tmp file is unique per writer** (``meta.json.tmp.<pid>.<token>``)
  so a racing loser can never publish or corrupt the winner's
  half-written bytes through a shared tmp path — even on filesystems
  where the advisory lock is not honored.
- **Data files stage under unique names** and are renamed onto their
  final era/version names inside the commit's critical section, so a
  loser's files can never land on a committed name.

``retrying`` is the ergonomics half of the contract: a
``ConcurrentWriteError`` loser whose mutation carries an idempotence
token can always just re-run the mutation against fresh state (if the
first attempt actually committed, the token dedupe turns the replay
into a no-op), so the streaming sinks — the realistic multi-writer
collision point (a CDC stream racing a manual backfill) — wrap their
store commits in it.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import itertools
import json
import os
import re
import shutil

try:
    import fcntl

    _HAVE_FLOCK = True
except ImportError:  # non-POSIX: fall back to compare-then-replace
    _HAVE_FLOCK = False

# process-unique suffix counter for tmp names (pid alone is not enough:
# two THREADS of one process share the pid)
_TMP_COUNTER = itertools.count()

# .stage-* directories younger than this are assumed to belong to an
# IN-FLIGHT mutation and are never reclaimed by the stores' orphan sweep
# (the standard lakehouse vacuum-retention discipline): under the
# retrying multi-writer pattern a vacuum can run while another writer is
# mid-stage, and deleting its live staging would kill a commit that was
# about to succeed. Crashed attempts age past the window and get swept.
# This module constant is the DEFAULT; both stores take a
# ``stage_retention_sec`` constructor parameter that overrides it per
# store — a store whose mutations stage for longer than an hour needs a
# wider window, and tests/ops may want fast reclamation — threaded into
# every ``stage_is_young`` / ``commit_meta`` call.
STAGE_RETENTION_SEC = 3600

_META = "meta.json"
# idempotence tokens retained for this many trailing versions/eras:
# at-least-once callers only ever replay their MOST RECENT uncommitted
# batch, and an unpruned map would make every atomic commit rewrite an
# O(total-commits) meta.json
_TOKEN_KEEP = 8


@contextlib.contextmanager
def store_lock(store_dir: str):
    """The store's commit lock (fresh fd per acquisition — see
    ``commit_meta``). ``commit_meta`` takes it for every commit; the
    orphan sweeps take it so they read a meta no commit can be moving
    under them. No-op where ``flock`` is unavailable."""
    os.makedirs(store_dir, exist_ok=True)
    if not _HAVE_FLOCK:
        yield
        return
    fd = os.open(
        os.path.join(store_dir, ".meta.lock"), os.O_CREAT | os.O_RDWR
    )
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


class ConcurrentWriteError(RuntimeError):
    """Another writer committed to the store between this operation's
    begin and its commit. The store on disk is consistent (the other
    writer's commit is intact; this operation's data files are invisible
    orphans) — re-open the store and retry on fresh state (or wrap the
    mutation in ``occ.retrying``; with an idempotence token the retry is
    provably safe)."""


def disk_seq(meta_path: str) -> int | None:
    """The committed commit sequence on disk; ``None`` if the store does
    not exist yet. Metas written before the sequence existed read as 0."""
    if not os.path.isfile(meta_path):
        return None
    with open(meta_path) as f:
        return int(json.load(f).get("commit_seq", 0))


def commit_meta(
    meta: dict,
    meta_path: str,
    expect: int | None,
    op: str,
    publish=None,
    retention_sec: float | None = None,
) -> int:
    """The atomic commit: under the store's ``flock`` (where available),
    re-read the on-disk sequence, fail loudly if it moved since
    ``expect`` was captured, else run ``publish()`` (the data-file
    rename step — see below), stamp ``meta`` with the next sequence
    number, and publish the meta via a unique-tmp ``os.replace``.
    Returns the new committed sequence.

    ``publish`` is how mutations move their staged data directories
    into their final era/version-numbered locations ATOMICALLY WITH the
    commit: the mutation's Spark writes target a unique staging path
    (outside the lock — that is where the seconds of work happen), and
    the O(1) renames into the final path run here, after the compare has
    proven the begin-state is still current. Without this, a loser whose
    data write lands AFTER the winner's commit would clobber the
    winner's same-numbered era directory — the files are only
    "invisible orphans" if they can never land on a committed name.
    Ordering within the critical section: compare → publish data → meta
    replace; a crash between publish and the meta replace leaves final-
    positioned but UNCOMMITTED directories, which readers never follow
    (they read only era numbers ≤ the committed meta's) and the retried
    mutation republishes over. On an object store the same protocol is
    "stage under unique keys, conditional-put the manifest" — Delta/
    Iceberg's actual commit discipline."""
    store_dir = os.path.dirname(meta_path)
    # fresh fd per commit (inside store_lock): flock is per-open-file-
    # description, so this excludes sibling threads as well as processes
    with store_lock(store_dir):
        disk = disk_seq(meta_path)
        if disk != expect:
            raise ConcurrentWriteError(
                f"{op}: store at {store_dir!r} advanced from commit_seq "
                f"{expect} to {disk} since this operation began — a "
                f"concurrent writer committed first (single-writer "
                f"contract); re-open the store and retry against its "
                f"current state"
            )
        if publish is not None:
            publish()
        meta["commit_seq"] = (expect or 0) + 1
        # stale tmps from commits that died between dump and replace are
        # reclaimed here rather than leaking one file per crash — but only
        # past the retention window: under flock a live writer would hold
        # this lock, yet on the NO-flock fallback a concurrent writer's
        # freshly-dumped tmp is indistinguishable from residue by name
        # alone, and unlinking it would turn its loss into a
        # FileNotFoundError that occ.retrying does not catch.
        # The glob is '.tmp*', not '.tmp.*', so the legacy SHARED tmp
        # name (bare 'meta.json.tmp' — residue of a crash under an older
        # writer) is reclaimed too once aged.
        for stale in glob.glob(f"{meta_path}.tmp*"):
            if stage_is_young(stale, retention_sec):
                continue
            try:
                os.unlink(stale)
            except OSError:
                pass
        # unique per-writer tmp: a loser that raced past a (missing/
        # unhonored) lock can clobber only its OWN tmp, never the bytes
        # the winner is about to publish
        tmp = (
            f"{meta_path}.tmp.{os.getpid()}.{next(_TMP_COUNTER)}"
        )
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, meta_path)
        return int(meta["commit_seq"])


def stage_is_young(path: str, retention_sec: float | None = None) -> bool:
    """True if a staged artifact (``.stage-*`` directory or ``meta
    tmp`` file) is inside the retention window — possibly a LIVE
    in-flight write; sweeps and the commit's tmp reclamation must keep
    it. Uses the mtime (refreshed by the writes landing in it); a
    missing path counts as not-young. ``retention_sec`` overrides the
    module default (the stores thread their ``stage_retention_sec``
    constructor parameter through here)."""
    import time

    if retention_sec is None:
        retention_sec = STAGE_RETENTION_SEC
    try:
        return (time.time() - os.path.getmtime(path)) < retention_sec
    except OSError:
        return False


def retention_clock(path: str, retain_sec: float) -> bool:
    """VACUUM RETAIN age check for an unreferenced-but-retained artifact
    directory: may THIS retaining sweep reclaim it?

    Age must be measured from RETIREMENT (when the artifact became
    unreferenced), not from the directory mtime — a generation written
    hours ago but retired one second ago would otherwise be reclaimed
    instantly, defeating the in-flight-reader protection.
    Delta measures RETAIN from the remove-action timestamp in the log;
    the filesystem analogue here is a ``.retired-at`` marker file the
    FIRST retaining sweep drops inside the directory (hidden dot-file —
    parquet scans ignore it): the clock starts at first sight, and the
    artifact is reclaimable once the marker is older than the window.
    With ``retain_sec`` 0/None the artifact is immediately reclaimable
    (the quiesced-caller contract) and no marker is written."""
    import time

    if not retain_sec:
        return True
    marker = os.path.join(path, ".retired-at")
    try:
        if not os.path.exists(marker):
            with open(marker, "w"):
                pass  # first sight: start the retirement clock
            return False
        return (time.time() - os.path.getmtime(marker)) >= retain_sec
    except OSError:
        # unreadable/racing artifact: keep it this pass — a later sweep
        # re-derives the same answer from disk
        return False


def final_is_sweepable(path: str, retention_sec: float | None = None) -> bool:
    """May an orphan sweep reclaim an UNREFERENCED but FINAL-POSITIONED
    directory (an era/version/generation name the committed meta does not
    reference) at ``path``?

    Under ``flock`` the answer is always yes: the sweep holds the store
    lock, the publish→meta-replace pair runs entirely inside the same
    lock (``commit_meta``), so an unreferenced final directory can only
    be crash residue — no live writer can be between its publish and its
    meta commit while the sweep runs. WITHOUT ``flock`` (non-POSIX
    fallback) that window is open: a concurrent writer may have just
    published its staged data onto the final name and not yet replaced
    meta, and sweeping the directory would let its commit land
    referencing deleted files — committed data loss, not a leak. So on
    the no-flock path the stage retention window applies to final-
    positioned orphans too: only aged residue is reclaimed."""
    if _HAVE_FLOCK:
        return True
    return not stage_is_young(path, retention_sec)


def stage_name(tag: str) -> str:
    """Unique staging directory name for one mutation attempt's data
    files (pid + a process-wide counter: unique across processes AND
    across threads of one process). Staged directories are invisible to
    every reader — readers only follow committed era/version numbers —
    and are reclaimed by ``StoreCore._sweep_orphans``."""
    return f".stage-{tag}-{os.getpid()}-{next(_TMP_COUNTER)}"


def publish_dir(staging: str, final: str) -> None:
    """Move a staged directory onto its final (committed) name — the
    O(1) rename step run inside ``commit_meta``'s critical section.
    Anything already at the final name is an orphan (a crash between a
    previous publish and its meta replace, or a crashed unstaged write):
    it was never committed — committed era numbers are never re-targeted,
    the compare just proved this mutation's begin-state is current — so
    removing it first is reclamation, not data loss."""
    import shutil

    if os.path.exists(final):
        shutil.rmtree(final)
    os.makedirs(os.path.dirname(final), exist_ok=True)
    os.replace(staging, final)


def retrying(fn, *, attempts: int = 3, backoff_sec: float = 0.0):
    """Run ``fn()`` and, on ``ConcurrentWriteError``, re-run it against
    fresh state up to ``attempts`` total tries (the store mutations call
    ``_occ_begin`` themselves, so a plain re-invocation re-reads the
    winner's committed meta). Safe whenever the mutation is idempotent
    under replay — which every token-carrying store commit is: if the
    losing attempt actually committed before the error surfaced (it
    cannot, but a caller-level crash-retry might), the token dedupe
    returns the committed version instead of double-applying. The last
    failure propagates.

    ``backoff_sec`` sleeps ``attempt_index * backoff_sec`` between tries
    (deterministic linear backoff): under sustained contention an
    immediate re-stage tends to re-collide with the same fast writer, so
    callers that must not die on transient contention (the streaming
    sinks) pass a small backoff and a generous attempt budget."""
    import time

    last: ConcurrentWriteError | None = None
    for i in range(max(1, attempts)):
        if i and backoff_sec:
            time.sleep(i * backoff_sec)
        try:
            return fn()
        except ConcurrentWriteError as e:
            last = e
    raise last


class StoreCore:
    """The commit protocol both on-disk stores share: meta plumbing,
    catalog naming and bucketed registration, staged writes, the one
    stage-then-commit scope every mutation runs in, idempotence tokens and
    the commit-first-then-sweep ``vacuum``. A store subclass supplies its
    layout (``_CATALOG_PREFIX``, the meta keys ``_KEYS`` / ``_TOKENS``),
    its reads, and two vacuum rules: ``_vacuumed_meta`` (what a vacuum
    retires) and ``_orphan`` (which directory names the committed meta no
    longer references).

    CONCURRENCY CONTRACT: single writer, many readers — enforced
    optimistically at every mutation's atomic meta commit (flock-guarded
    compare + staged-data publish + meta replace, ``commit_meta``); of two
    concurrent writers exactly one wins and the loser raises
    ``ConcurrentWriteError`` with the store unharmed — its staged data can
    never land on a committed name. Readers never block and never observe
    partial commits. Token-carrying mutations are safely retried via
    ``retrying`` (the streaming sinks do this), idempotent under replay."""

    _CATALOG_PREFIX: str  # catalog table-name prefix
    _KEYS: str  # meta key of the bucketing key columns
    _TOKENS: str  # meta key of the idempotence-token map

    def __init__(
        self, spark, path: str, stage_retention_sec: float | None = None
    ):
        self.spark = spark
        self.path = os.path.abspath(path)
        self._meta: dict | None = None
        # vacuum/sweep retention for in-flight staged artifacts: None →
        # STAGE_RETENTION_SEC. Widen for stores whose mutations stage for
        # longer than the default window (a sweep must never reclaim a
        # LIVE writer's staging); narrow where residue must go fast.
        self.stage_retention_sec = stage_retention_sec

    # -- metadata ----------------------------------------------------------

    def exists(self) -> bool:
        return os.path.isfile(self._meta_path())

    @property
    def meta(self) -> dict:
        if self._meta is None:
            with open(self._meta_path()) as f:
                self._meta = json.load(f)
        return self._meta

    def _meta_path(self) -> str:
        return os.path.join(self.path, _META)

    def _occ_begin(self) -> int | None:
        """Begin a mutation: drop the cached meta so the operation reads
        the CURRENT committed state, and capture the on-disk commit
        sequence the commit will be validated against
        (``_write_meta(..., expect=...)``)."""
        self._meta = None
        return disk_seq(self._meta_path())

    def _write_meta(
        self, meta: dict, *, expect: int | None, op: str, publish=None
    ) -> int:
        """Atomic commit point with the OCC compare step (``commit_meta``):
        if another writer committed since ``expect`` was captured at
        ``_occ_begin``, raise ``ConcurrentWriteError`` instead of silently
        clobbering the winner's commit. ``publish`` renames this
        mutation's STAGED data directories onto their final names inside
        the same critical section. Returns the new commit sequence."""
        seq = commit_meta(
            meta,
            self._meta_path(),
            expect,
            op,
            publish,
            retention_sec=self.stage_retention_sec,
        )
        self._meta = meta
        return seq

    @staticmethod
    def _schema_ddl(df) -> str:
        return ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
        )

    # -- catalog and staging -----------------------------------------------

    def _catalog_name(self, suffix: str) -> str:
        # catalog-safe and stable per store path, so re-registration is
        # idempotent; the slug alone is not injective (/tmp/a-b vs
        # /tmp/a_b, case-differing paths) and mutations DROP these names,
        # so a short hash of the raw path keeps distinct stores' entries
        # apart
        slug = re.sub(r"[^0-9a-zA-Z]+", "_", self.path).strip("_").lower()
        tag = hashlib.md5(self.path.encode()).hexdigest()[:8]
        return f"{self._CATALOG_PREFIX}_{slug}_{tag}_{suffix}"

    def _bucketed_table(self, name: str, ddl: str, location: str):
        """A committed bucketed directory as a *bucketed* scan, registering
        the external table DDL when this session has never seen it
        (cross-session reload — the bucketing spec lives in the catalog,
        not the files)."""
        if not self.spark.catalog.tableExists(name):
            m = self.meta
            keys = ", ".join(f"`{k}`" for k in m[self._KEYS])
            self.spark.sql(
                f"CREATE TABLE {name} ({ddl}) USING PARQUET"
                f" CLUSTERED BY ({keys}) SORTED BY ({keys})"
                f" INTO {m['num_buckets']} BUCKETS"
                f" LOCATION '{location}'"
            )
        return self.spark.table(name)

    def _stage_bucketed(self, df, staging: str, name: str) -> None:
        """Bucketed write of ``df`` into ``staging``, bucketed and sorted by
        the meta's keys. ``bucketBy`` requires ``saveAsTable``, so the
        write goes through a throwaway catalog name derived from ``name``
        and dropped immediately — the final location is lazily
        re-registered from committed meta (``_bucketed_table``) after the
        commit renames the directory into place."""
        m = self.meta
        n, keys = int(m["num_buckets"]), m[self._KEYS]
        stage_tbl = (
            f"{name}_stg{hashlib.md5(staging.encode()).hexdigest()[:8]}"
        )
        try:
            (
                df.repartition(n, *keys)
                .write.format("parquet")
                .mode("overwrite")
                .bucketBy(n, *keys)
                .sortBy(*keys)
                .option("path", staging)
                .saveAsTable(stage_tbl)
            )
        finally:
            self.spark.sql(f"DROP TABLE IF EXISTS {stage_tbl}")

    @contextlib.contextmanager
    def _staged(
        self, staging: str, final: str, *, expect: int | None, op: str
    ):
        """The scope of one mutation. The body writes the mutation's data
        under the unique ``staging`` directory (the seconds of Spark work,
        outside the commit lock) and ends by calling the yielded
        ``commit(meta, drop=())``: it drops the catalog names in ``drop``
        (stale entries may carry the wrong schema or bucketing for the
        files about to be published; reads re-register from committed
        meta), then commits ``meta`` with ``staging`` renamed onto
        ``final`` inside the commit's critical section, and returns the
        commit sequence. If anything in the scope raises — a staged write,
        a validation, the OCC compare — the cached meta is forgotten (it
        may be this mutation's uncommitted one, which later reads must
        not serve) and the staging directory is removed; the committed
        store is untouched."""

        def commit(meta: dict, drop=()) -> int:
            for name in drop:
                self.spark.sql(f"DROP TABLE IF EXISTS {name}")
            return self._write_meta(
                meta,
                expect=expect,
                op=op,
                publish=lambda: publish_dir(staging, final),
            )

        try:
            yield commit
        except BaseException:
            self._meta = None
            shutil.rmtree(staging, ignore_errors=True)
            raise

    # -- idempotence tokens ------------------------------------------------

    def _token_version(self, token: str | None) -> int | None:
        """The version/era a seen ``token`` committed, else None. Tokens
        are recorded in the SAME meta write as the version bump, so a
        replay with a seen token is a no-op, never a double application."""
        if token is None:
            return None
        seen = self.meta.get(self._TOKENS, {})
        return int(seen[token]) if token in seen else None

    def _record_token(self, meta: dict, token: str | None, v: int) -> None:
        """Record ``token`` as committing ``v`` in ``meta``, keeping only
        tokens of the last ``_TOKEN_KEEP`` versions."""
        if token is None:
            return
        tokens = {
            t: ver
            for t, ver in meta.get(self._TOKENS, {}).items()
            if int(ver) > v - _TOKEN_KEEP
        }
        tokens[token] = v
        meta[self._TOKENS] = tokens

    # -- vacuum ------------------------------------------------------------

    def vacuum(self, retain_sec: float = 0.0) -> None:
        """Retire what the store keeps only for old readers (see the
        store's ``_vacuumed_meta``), then delete it from disk and drop its
        catalog registrations. Call once no reader still needs the
        retired versions.

        COMMIT FIRST, DELETE AFTER: the OCC compare precedes every
        irreversible delete, so a vacuum losing the race to a concurrent
        writer fails with NOTHING deleted (it would otherwise destroy
        directories the winner's committed meta still references). The
        delete phase is a disk-scan sweep of everything the committed
        meta does not reference (``_sweep_orphans``), not a precomputed
        list, so a crash between the commit and the deletes is healed by
        the next ``vacuum()`` instead of leaking disk forever.

        ``retain_sec`` is the Delta ``VACUUM ... RETAIN`` discipline:
        unreferenced directories stay on disk until ``retain_sec`` has
        elapsed since a retaining sweep FIRST saw them unreferenced
        (``retention_clock`` — age runs from retirement, not the
        directory mtime), so a vacuum loop can run while readers still
        hold plans over just-retired data. 0 (default) reclaims
        immediately: the quiesced-caller contract."""
        v0 = self._occ_begin()
        meta = self._vacuumed_meta()
        if meta is not None:
            self._write_meta(
                meta, expect=v0, op=f"{type(self).__name__}.vacuum"
            )
        self._sweep_orphans(retain_sec)

    def _vacuumed_meta(self) -> dict | None:
        """The committed meta with everything vacuum retires removed, or
        None when there is nothing to retire."""
        raise NotImplementedError

    def _orphan(self, rel: str) -> tuple[list[str], bool] | None:
        """For a store directory at ``rel`` (relative to the store root):
        None if it is not a final-positioned store name or the committed
        meta still references it; else the catalog names to drop with it
        and whether ``final_is_sweepable`` gates its reclamation."""
        raise NotImplementedError

    def _sweep_parents(self):
        """Directories whose entries the sweep inspects."""
        yield self.path
        yield os.path.join(self.path, "layers")

    def _sweep_orphans(self, retain_sec: float = 0.0) -> None:
        """Reclaim every directory the COMMITTED meta does not reference:
        crashed-vacuum residue (retired in meta, still on disk) and a
        crashed mutation's final-positioned but uncommitted directory (a
        retry republishes over it). Orphans are invisible to every reader
        — readers only follow meta — so deleting them needs no commit.

        Runs UNDER the store's commit lock with a fresh meta read, so a
        commit landing concurrently can never have its just-published
        directories mistaken for orphans. ``.stage-*`` directories are
        reclaimed only past the stage retention window — inside it they
        may be the LIVE staging of an in-flight mutation whose commit is
        about to rename them into place. Where ``flock`` is unavailable
        the same window gates unreferenced final-positioned directories
        too (``final_is_sweepable``): lock-free, one may be a concurrent
        writer's just-published data whose meta replace has not landed."""
        ret = self.stage_retention_sec
        with store_lock(self.path):
            self._meta = None  # the committed meta as of THIS lock hold
            for parent in self._sweep_parents():
                if not os.path.isdir(parent):
                    continue
                for d in os.listdir(parent):
                    p = os.path.join(parent, d)
                    if d.startswith(".stage-"):
                        if not stage_is_young(p, ret):
                            shutil.rmtree(p, ignore_errors=True)
                        continue
                    orphan = self._orphan(os.path.relpath(p, self.path))
                    if orphan is None:
                        continue
                    drop, gated = orphan
                    if gated and not final_is_sweepable(p, ret):
                        continue
                    if not retention_clock(p, retain_sec):
                        continue
                    for name in drop:
                        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
                    shutil.rmtree(p, ignore_errors=True)
