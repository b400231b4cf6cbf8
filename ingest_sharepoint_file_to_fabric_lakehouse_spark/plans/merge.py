"""MERGE (upsert) for parquet tables — realizes the reference's
declared-but-unimplemented Delta sink (`config.py:16`,
``/Tables/dbo/sales_transaction``).

delta-spark isn't available in this environment, so the engine ships a
portable MERGE built from a full-outer join; the same call site swaps
to ``DeltaTable.merge`` when Delta is on the classpath (import-gated
below).  The join shuffles both sides on the merge key — identical
shuffle shape to Delta's own MERGE.

Two entry points share one commit protocol:

* :func:`merge_upsert` merges into an unpartitioned target; the merged
  table is one unit, the whole table.
* :func:`merge_upsert_partitioned` reads only the partitions present in
  the source (partition-pruned scan); each touched partition dir is
  one unit.  Untouched partitions are never read or written — a MERGE
  touching one day of a year-partitioned 100 TB table costs one day,
  not the table.

Commit protocol
---------------
Renames are atomic metadata operations on POSIX and HDFS-compatible
stores; writes are not.  Every step runs under the writer lease
(Concurrency, below):

1. :func:`recover_table` — heal any prior crash (rules below).
2. Stage: write the merged units to ``<target>__merge_ptmp`` — the
   partition dirs ``p=v`` of a partitioned target, or ``_table`` for an
   unpartitioned one.  The live table is not written.
3. Re-verify the lease, then write ``ptmp/_MERGE_PLAN`` (the unit
   names, one per line) to a temp name and rename it into place.  The
   plan is written only after the stage write returned, so its presence
   is THE commit point: before it, recovery discards the stage; after
   it, recovery finishes the swap.
4. Per planned unit, :func:`_swap`: rename the live unit to its backup
   (``target/_merge_bak_p=v`` — the ``_`` prefix hides it from Spark's
   input discovery — or ``<target>__merge_bak`` for the whole table),
   rename the staged unit in, delete the backup.  The lease is
   re-verified before each unit.
5. Delete ``ptmp`` (plan consumed).

Recovery rules (:func:`recover_table`, the only healer):

* no ``ptmp`` → committed; a stray partition backup is restored if its
  live dir is missing, deleted otherwise.
* ``ptmp`` without a plan → the stage never reached the commit point:
  delete it (after the same backup sweep); the old table is intact.
* ``ptmp`` with a plan → roll forward: a unit whose staged dir is gone
  is already swapped in (its backup is deleted); the others go through
  :func:`_swap`.  Then delete ptmp.

A crash at any step therefore reads back as the complete OLD table
(before the plan rename) or the complete NEW table (after); the
kill-at-every-step tests in ``tests/test_operators.py`` and
``tests/test_merge_lock.py`` assert exactly this on both layouts.
Visibility: a read that listed a partitioned table before a swap began
can observe partition ``v`` new while ``w`` is still old — the
cross-partition snapshot isolation a parquet directory layout cannot
provide (that is Delta's transaction log; the ``HAVE_DELTA`` dispatch
gets it).  Crash consistency, not snapshot isolation, is the contract
here.

Concurrency
-----------
* **Writers** are serialized by a lease file ``<target>__merge_lock``
  (:func:`_acquire_lock`): atomic create-if-absent (``FileSystem.
  create(overwrite=False)`` — atomic on HDFS-compatible stores), owner
  UUID inside, stale-lease takeover when the lock's mtime exceeds
  ``lock_ttl_sec`` (a crashed writer's lock ages out; takeover claims
  it by RENAMING it to a uniquified name first, so two takeover racers
  can't both free it — renames are atomic, only one wins).  A second
  live writer polls up to ``lock_wait_sec`` then raises
  :class:`MergeLockTimeout`.  A live writer's failure releases the
  lock in ``finally``; only process death leaves it, which is exactly
  the case the TTL covers.  Because the STAGE write is arbitrarily
  long, the writer re-verifies lease ownership (and re-arms the TTL)
  between staging and the plan rename — a stage that outlived the TTL
  and lost its lease to a takeover ABORTS with
  :class:`MergeLockTimeout` instead of interleaving renames with the
  new owner (:func:`_hold_lease`).
* **Only the lease holder heals.**  On a committed table (target
  present, no ``ptmp``) ``read_table`` makes two ``exists`` probes and
  reads.  If the target is missing or a stage exists, it takes the
  lease (1 s wait, 600 s staleness bar), runs :func:`recover_table`,
  then reads.  If a live lease blocks it, it reads the live table only
  when no plan exists (a stage in progress leaves the table intact);
  a missing target or a plan mid-swap raises :class:`MergeLockTimeout`
  instead of returning a partial table.  No healer ever renames under
  a live writer.
"""

from __future__ import annotations

import logging
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)

try:  # pragma: no cover - delta not installed here
    from delta.tables import DeltaTable  # noqa: F401

    HAVE_DELTA = True
except ImportError:
    HAVE_DELTA = False


def write_table(df: DataFrame, path: str, part_col: str | None = None) -> None:
    """Seed a merge target: Delta format when delta-spark is on the
    classpath, plain parquet otherwise.  One seam, so the whole MERGE
    surface flips to real Delta by installing the package.

    Partitioned seeds cluster by the partition column via the AQE
    REBALANCE hint (r17, guide §6): an unclustered partitionBy write
    emits one file per (task x partition value) — the seeded target
    shipped ~4 near-empty files per year and every later merge/read
    paid ~30 scan tasks for it.  REBALANCE is the skew-safe form (it
    SPLITS oversized partition values to the advisory size instead of
    funneling a hot year into one task, which a plain
    repartition(part_col) would)."""
    if part_col is not None:
        df = df.hint("rebalance", part_col)
    w = df.write.mode("overwrite")
    if part_col is not None:
        w = w.partitionBy(part_col)
    if HAVE_DELTA:  # pragma: no cover - delta not installed here
        w.format("delta").save(path)
    else:
        w.parquet(path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a merge target written by :func:`write_table`.  A Delta
    table must NOT be read as bare parquet (stale versions' files
    would double-count), so the format is detected, not assumed.

    A committed table costs two ``exists`` probes (target present, no
    stage).  Otherwise only the lease holder heals: take the lease
    (1 s wait, so a stale lock still reaches the takeover branch; a
    live writer costs the reader at most that poll), run
    :func:`recover_table`, read.  The fixed 600 s staleness bar is safe
    against any writer-configured TTL because :func:`_lease_keeper`
    beats at least every 60 s.  If a live lease blocks the heal, the
    table is read as it stands only while no plan exists (a stage in
    progress has not touched it); a missing target or a swap in flight
    raises :class:`MergeLockTimeout` rather than return a partial
    table."""
    if HAVE_DELTA and DeltaTable.isDeltaTable(spark, path):  # pragma: no cover
        return spark.read.format("delta").load(path)
    fs, jtarget = _fs(spark, path)
    mk = spark._jvm.org.apache.hadoop.fs.Path
    if not fs.exists(jtarget) or fs.exists(_ptmp(mk, path)):
        try:
            tok = _acquire_lock(spark, path, lock_ttl_sec=600.0, lock_wait_sec=1.0)
        except MergeLockTimeout:
            if not fs.exists(jtarget) or fs.exists(_ptmp(mk, path, _PLAN)):
                raise MergeLockTimeout(
                    f"{path} is mid-commit under another writer's lease; "
                    "retry once the lease is released or ages out"
                ) from None
        else:
            try:
                recover_table(spark, path)
            finally:
                _release_lock(spark, path, tok)
    return spark.read.parquet(path)


class MergeLockTimeout(RuntimeError):
    """A concurrent MERGE holds the target's lease and did not release
    it within ``lock_wait_sec``.  The caller retries later — the lease
    holder is (by the TTL rule) a LIVE writer making progress."""


def _lock_path(spark: SparkSession, target_path: str):
    mk = spark._jvm.org.apache.hadoop.fs.Path
    return mk(target_path.rstrip("/") + "__merge_lock")


def _hb_path(spark: SparkSession, jlock):
    """Heartbeat sidecar: a live writer whose store refuses
    ``setTimes`` (it is a no-op on several object stores) re-arms its
    lease by REWRITING this file instead — its mtime is then the
    freshness witness.  Plain timestamp semantics, no token: a stale
    heartbeat from an earlier lease is by construction OLDER than the
    current lock file, so ``max(lock mtime, hb mtime)`` ignores it."""
    return spark._jvm.org.apache.hadoop.fs.Path(jlock.toString() + ".hb")


def _set_times(fs, jpath, now_ms: int) -> None:
    """mtime refresh seam — module-level so tests can substitute a
    ``setTimes``-refusing store and pin the heartbeat fallback."""
    fs.setTimes(jpath, now_ms, now_ms)


def _lease_age_sec(spark: SparkSession, fs, jlock) -> float:
    """Lease age = seconds since the freshest of (lock mtime,
    heartbeat mtime).  Raises when the lock itself is gone."""
    import time

    mt = fs.getFileStatus(jlock).getModificationTime()
    try:
        mt = max(mt, fs.getFileStatus(_hb_path(spark, jlock)).getModificationTime())
    except Exception:
        pass  # no heartbeat — lock mtime alone decides
    return (time.time() * 1000.0 - mt) / 1000.0


def _acquire_lock(
    spark: SparkSession,
    target_path: str,
    lock_ttl_sec: float,
    lock_wait_sec: float,
) -> str:
    """Take the target's writer lease.  Returns the owner token the
    caller must pass to :func:`_release_lock`.

    Atomic create-if-absent: ``FileSystem.create(path, False)`` — the
    HDFS contract makes it atomic on HDFS proper; on the ``file://``
    scheme that call is check-then-act (RawLocalFileSystem probes
    ``exists`` then opens — two simultaneous local writers can BOTH
    win, measured in the two-thread test), so the local scheme uses
    POSIX ``O_CREAT|O_EXCL`` which the kernel makes exclusive.  On
    object stores (S3A, ABFS/OneLake) conditional create has known
    non-atomic races (cf. the HADOOP-17717 conditional-write work), so
    writer serialization there should come from the Delta transaction
    log via the ``HAVE_DELTA`` dispatch, not this lease — the lease is
    the portable fallback for stores with real atomic create.
    A lease older than ``lock_ttl_sec`` (freshest of lock mtime and
    heartbeat mtime, see :func:`_hb_path`) belongs to a dead writer:
    takeover first RENAMES it to a uniquified stale name (atomic — of
    N racing takeover attempts exactly one rename succeeds; the losers
    go back to polling), then deletes the renamed file and retries the
    create.  Every retry path re-checks the deadline, so a persistent
    non-EEXIST create failure (permissions, missing parent, store
    outage) raises :class:`MergeLockTimeout` after ``lock_wait_sec``
    instead of spinning forever.
    """
    import os
    import time
    import uuid

    fs, _ = _fs(spark, target_path)
    jlock = _lock_path(spark, target_path)
    local = fs.getUri().getScheme() == "file"
    if local:
        # POSIX O_CREAT needs the parent dir; a lease can legitimately
        # precede the target's first write (seed-under-lease flow).
        # HDFS-style fs.create creates parents itself.
        parent = os.path.dirname(jlock.toUri().getPath())
        if parent:
            os.makedirs(parent, exist_ok=True)
    token = uuid.uuid4().hex
    deadline = time.monotonic() + lock_wait_sec
    while True:
        try:
            if local:
                fd = os.open(
                    jlock.toUri().getPath(),
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                )
                os.write(fd, token.encode())
                os.close(fd)
            else:  # pragma: no cover - needs a real HDFS-compatible store
                out = fs.create(jlock, False)
                out.write(bytearray(token.encode()))
                out.close()
            return token
        except Exception:
            pass  # lock present (or transient create race) — probe it
        # Deadline first: every continue below comes back through this
        # check, so no retry path can busy-spin past lock_wait_sec.
        if time.monotonic() >= deadline:
            raise MergeLockTimeout(
                f"merge lease on {target_path} not acquired within "
                f"{lock_wait_sec}s (held by a live writer, or create "
                f"persistently failing; ttl {lock_ttl_sec}s)"
            )
        try:
            age_sec = _lease_age_sec(spark, fs, jlock)
        except Exception:
            time.sleep(0.01)
            continue  # vanished between create and stat — retry create
        if age_sec > lock_ttl_sec:
            stale = spark._jvm.org.apache.hadoop.fs.Path(
                jlock.toString() + ".stale-" + token
            )
            # atomic claim: one winner.  A losing racer's rename may
            # RAISE rather than return false (RawLocalFileSystem falls
            # back to copy on a vanished source and throws
            # FileNotFoundException) — both shapes mean "lost the
            # claim", both go back to the create loop.
            try:
                claimed = fs.rename(jlock, stale)
            except Exception:
                claimed = False
            if claimed:
                fs.delete(stale, False)
                fs.delete(_hb_path(spark, jlock), False)  # dead lease's hb
            continue
        time.sleep(min(0.05, lock_wait_sec / 20.0 or 0.05))


def _hold_lease(spark: SparkSession, target_path: str, token: str) -> bool:
    """True iff the lease is still OURS; refreshes its mtime when so.

    Called between the (arbitrarily long) stage write and the
    destructive renames: a stage that outlives ``lock_ttl_sec`` makes
    the lease eligible for takeover, and if another writer claimed it
    the commit MUST abort — proceeding would reintroduce exactly the
    interleaved-rename race the lease exists to prevent.  The refresh
    re-arms the TTL so the remaining window (metadata renames, ~ms)
    never ages past it.
    """
    fs, _ = _fs(spark, target_path)
    jlock = _lock_path(spark, target_path)
    try:
        stream = fs.open(jlock)
        held = bytes(stream.readAllBytes()).decode()
        stream.close()
    except Exception:
        return False  # lock gone: taken over (and possibly released)
    if held != token:
        return False
    import time

    now_ms = int(time.time() * 1000)
    try:
        _set_times(fs, jlock, now_ms)
    except Exception:
        # setTimes is a no-op/unsupported on several object stores —
        # without a fallback a long-staging LIVE writer's lease would
        # stay takeover-eligible forever (safe: the post-stage
        # ownership check aborts, but availability suffers).  Re-arm
        # by rewriting the heartbeat sidecar instead: its mtime is its
        # write time on every store (`_lease_age_sec` takes the
        # freshest of lock and heartbeat).
        try:
            out = fs.create(_hb_path(spark, jlock), True)
            out.write(bytearray(str(now_ms).encode()))
            out.close()
        except Exception:
            pass  # both refresh channels down; ownership still holds
    return True


def _release_lock(spark: SparkSession, target_path: str, token: str) -> None:
    """Drop the lease IF still ours — after a TTL takeover the lock
    file belongs to the new owner and must not be deleted out from
    under them (ownership = the token written at create).

    Read-token-then-delete would be a TOCTOU (a takeover landing
    between the read and the delete would have us delete the NEW
    owner's lock), so release claims by RENAME first — the same atomic
    trick as stale takeover: rename the lock to a token-suffixed name,
    THEN inspect it.  Ours ⇒ delete it (released).  Not ours ⇒ a
    takeover won the race; rename it back.  Residual window: if a
    third writer creates a fresh lock during that rename-back, the
    rename fails and the displaced owner's lease is lost — it ABORTS
    at its next ``_hold_lease`` checkpoint (token mismatch), never
    interleaves; requires two independent races inside a ms-wide
    window that itself requires the lease to cross the TTL exactly at
    release."""
    fs, _ = _fs(spark, target_path)
    jlock = _lock_path(spark, target_path)
    jrel = spark._jvm.org.apache.hadoop.fs.Path(jlock.toString() + ".rel-" + token)
    try:
        if not fs.rename(jlock, jrel):
            return  # lock already gone (taken over + released)
    except Exception:
        return
    try:
        stream = fs.open(jrel)
        held = bytes(stream.readAllBytes()).decode()
        stream.close()
    except Exception:
        held = None
    if held == token:
        try:
            fs.delete(jrel, False)
            fs.delete(_hb_path(spark, jlock), False)
        except Exception:
            pass
    else:
        # takeover landed between our last ownership check and the
        # rename — give the new owner their lease back
        try:
            if not fs.rename(jrel, jlock):
                fs.delete(jrel, False)  # fresh lock already there
        except Exception:
            pass


def _keeper_interval(lock_ttl_sec: float) -> float:
    """The keeper's beat period: ``ttl/10`` capped at 60 s (so a live
    lease is always fresh against ``read_table``'s fixed 600 s
    staleness bar, whatever TTL the writer configured) and floored at
    0.5 s (tests use single-digit TTLs)."""
    return max(0.5, min(lock_ttl_sec / 10.0, 60.0))


@contextmanager
def _lease_keeper(
    spark: SparkSession, target_path: str, token: str, lock_ttl_sec: float
):
    """Background TTL re-arm for a long-running leased section.

    The mtime/heartbeat refresh used to happen only at discrete
    checkpoints (post-stage, per swap iteration), which left the
    LONGEST phase — the stage write itself — un-refreshed: a stage
    outliving ``lock_ttl_sec`` made the lease takeover-eligible, and
    ``read_table``'s heal path (or a rival writer) could steal it and
    delete the LIVE writer's in-flight stage.  A daemon thread now
    beats ``_hold_lease`` every ttl/10 for the section's duration, so
    a fresh lease means a LIVE holder and a stale one means a DEAD
    one — takeover only ever fires on real process death.  If the
    beat observes ownership lost (a takeover raced an extreme stall),
    it stops — with a WARNING naming the path and token, so a
    takeover-under-stall is post-hoc diagnosable from the log rather
    than only from the owner's later abort; the owner still aborts at
    its next explicit checkpoint.  The checkpoints stay — defense in
    depth.

    The beat interval is ``ttl/10`` CAPPED AT 60 s: ``read_table``'s
    heal path judges a lease stale against its own fixed 600 s
    TTL, so an uncapped interval under a writer configured with
    ``lock_ttl_sec > 6000`` would leave >600 s beat gaps — long enough
    for a concurrent reader to judge the LIVE writer dead and delete
    its in-flight ptmp stage.  The cap keeps every live lease's mtime
    under ~60 s + one stall, an order of magnitude inside the reader's
    staleness bar, for ANY configured TTL.  (All in-repo callers use
    the 600 s default, where ``min(60, 60)`` is the same interval as
    before.)"""
    import threading

    interval = _keeper_interval(lock_ttl_sec)
    stop = threading.Event()

    def beat() -> None:
        while not stop.wait(interval):
            try:
                if not _hold_lease(spark, target_path, token):
                    _LOG.warning(
                        "merge lease keeper stopping: ownership of %s lost "
                        "(token %s taken over under stall); the holder will "
                        "abort at its next checkpoint",
                        target_path,
                        token,
                    )
                    return
            except Exception:  # pragma: no cover - py4j teardown races
                # this path fires during interpreter/gateway teardown,
                # where the logging machinery itself may already be
                # torn down — the diagnostic is best-effort (no
                # exc_info: formatting a live traceback at shutdown is
                # exactly what breaks), and a logging failure must not
                # replace the old silent exit with stderr noise
                try:
                    _LOG.warning(
                        "merge lease keeper stopping: beat on %s failed "
                        "(token %s; gateway teardown?)",
                        target_path,
                        token,
                    )
                except Exception:
                    pass
                return

    th = threading.Thread(target=beat, daemon=True, name="merge-lease-keeper")
    th.start()
    try:
        yield
    finally:
        stop.set()
        th.join(timeout=5.0)


@contextmanager
def merge_lease(
    spark: SparkSession,
    target_path: str,
    lock_ttl_sec: float = 600.0,
    lock_wait_sec: float = 60.0,
):
    """Hold the target's writer lease across a MULTI-STEP sequence —
    e.g. seed-write + MERGE + stamp as one serialized unit.  Yields
    the owner token; pass it to :func:`merge_upsert` via
    ``_held_token`` so the merge runs under THIS lease instead of
    acquiring its own (same path ⇒ self-deadlock otherwise).  A
    :func:`_lease_keeper` re-arms the TTL for the whole section, so an
    arbitrarily long seed write never ages the lease out."""
    token = _acquire_lock(spark, target_path, lock_ttl_sec, lock_wait_sec)
    try:
        with _lease_keeper(spark, target_path, token, lock_ttl_sec):
            yield token
    finally:
        _release_lock(spark, target_path, token)


class SimulatedCrash(RuntimeError):
    """Raised by ``merge_upsert``'s crash-injection hook: propagates
    without running ANY cleanup, leaving the exact on-disk state a
    ``kill -9`` at that point would (renames are metadata-atomic, so
    exception-without-cleanup and process death are indistinguishable
    to the filesystem)."""


def _sweep_lock_debris(
    spark: SparkSession, target_path: str, min_age_sec: float = 3600.0
) -> None:
    """Remove crashed-release/takeover remnants: a kill between the
    release's rename-claim and its delete leaves ``<lock>.rel-<tok>``
    (likewise ``.stale-<tok>`` for takeover) — inert files no live
    protocol step ever reads again, but debris forever otherwise.
    Age-gated well past any lock_wait so a LIVE release/takeover's
    in-flight claim file is never swept from under it.  Called from
    recovery (writer step 1 / reader heal), where a listing is already
    amortized — never on the per-read fast path."""
    import time

    fs, _ = _fs(spark, target_path)
    jlock = _lock_path(spark, target_path)
    mk = spark._jvm.org.apache.hadoop.fs.Path
    now_ms = time.time() * 1000.0
    for pat in (".rel-*", ".stale-*"):
        try:
            for st in fs.globStatus(mk(jlock.toString() + pat)) or []:
                if now_ms - st.getModificationTime() > min_age_sec * 1000.0:
                    fs.delete(st.getPath(), False)
        except Exception:
            pass  # listing/delete races are benign here


_PLAN = "_MERGE_PLAN"
_WHOLE = "_table"  # the one plan unit of an unpartitioned target
_BAK_PREFIX = "_merge_bak_"


def _ptmp(mk, target_path: str, name: str = ""):
    """The stage dir ``<target>__merge_ptmp``, or ``name`` inside it
    (``mk``: the Hadoop ``Path`` class, resolved once per call site)."""
    return mk(target_path.rstrip("/") + "__merge_ptmp" + ("/" + name if name else ""))


def _unit(mk, target_path: str, d: str):
    """(staged, live, backup) paths of plan unit ``d``: a partition dir
    name, or :data:`_WHOLE` for the whole table."""
    base = target_path.rstrip("/")
    if d == _WHOLE:
        return _ptmp(mk, base, d), mk(base), mk(base + "__merge_bak")
    return _ptmp(mk, base, d), mk(f"{base}/{d}"), mk(f"{base}/{_BAK_PREFIX}{d}")


def _rename(fs, src, dst) -> None:
    if not fs.rename(src, dst):
        raise OSError(f"rename {src} -> {dst} failed")


def _swap(spark, fs, target_path, units, token=None, crashpoint=lambda step: None) -> None:
    """Swap each planned unit — a (staged, live, backup) path triple —
    in: live dir → backup, staged dir → live (that unit's commit),
    backup deleted.  The writer passes its lease ``token``, re-verified
    (and the TTL re-armed) before every unit — the swap must never
    interleave with a takeover's.  Recovery passes the units still
    staged and no token: it runs under the caller's lease."""
    for i, (jsrc, jdst, jbak) in enumerate(units):
        if token is not None and not _hold_lease(spark, target_path, token):
            raise MergeLockTimeout(
                f"merge lease on {target_path} lost during the swap (unit "
                f"{i}/{len(units)}); aborting — recovery resumes the swap "
                "from the plan file"
            )
        if fs.exists(jdst):
            _rename(fs, jdst, jbak)
        crashpoint(f"after_backup_rename:{i}")
        _rename(fs, jsrc, jdst)
        crashpoint(f"after_commit_rename:{i}")
        fs.delete(jbak, True)
        crashpoint(f"after_bak_delete:{i}")


def _heal_baks(fs, mk, target_path) -> bool:
    """Sweep stray partition backups: one whose live dir exists is
    post-commit debris (delete); one whose live dir is missing is
    restored.  Returns whether the target exists."""
    jtarget = mk(target_path.rstrip("/"))
    if not fs.exists(jtarget):
        return False
    for st in fs.listStatus(jtarget):
        name = st.getPath().getName()
        if not name.startswith(_BAK_PREFIX):
            continue
        jdst = mk(jtarget.toString() + "/" + name[len(_BAK_PREFIX):])
        if fs.exists(jdst):
            fs.delete(st.getPath(), True)
        else:
            _rename(fs, st.getPath(), jdst)
    return True


def recover_table(spark: SparkSession, target_path: str) -> str:
    """Heal a crashed merge per the module-doc protocol — the only
    healer, for both layouts.  The caller holds the lease (the writer's
    step 1 and ``read_table`` do), so no rename here races a writer.

    Returns ``"committed"`` (no stage; stray backups healed),
    ``"rolled_back"`` (a stage without a plan discarded — old table
    intact), ``"rolled_forward"`` (the planned swap finished — new
    table live) or ``"missing"`` (no table, nothing staged).
    Idempotent: every exit leaves a state where re-running is a no-op.
    """
    fs, _ = _fs(spark, target_path)
    mk = spark._jvm.org.apache.hadoop.fs.Path
    _sweep_lock_debris(spark, target_path)
    jptmp = _ptmp(mk, target_path)
    if not fs.exists(jptmp):
        return "committed" if _heal_baks(fs, mk, target_path) else "missing"
    jplan = _ptmp(mk, target_path, _PLAN)
    if not fs.exists(jplan):
        _heal_baks(fs, mk, target_path)
        fs.delete(jptmp, True)
        return "rolled_back"
    stream = fs.open(jplan)
    # newline-separated, and ONLY newline: partition dir names can
    # contain spaces (Hive path escaping leaves them bare), while
    # newlines are always %0A-escaped — so splitlines() is lossless
    # where split() would shred "p=new york".
    plan = [d for d in bytes(stream.readAllBytes()).decode().splitlines() if d]
    stream.close()
    pending = []
    for d in plan:
        unit = _unit(mk, target_path, d)
        if fs.exists(unit[0]):
            pending.append(unit)
        else:  # already swapped in: only its backup is left
            fs.delete(unit[2], True)
    _swap(spark, fs, target_path, pending)
    fs.delete(jptmp, True)
    return "rolled_forward"


def _merged_frame(target: DataFrame, source: DataFrame, key: str) -> DataFrame:
    """MERGE semantics as a relational plan: matched → take source row,
    not-matched → keep target row / insert source row."""
    src = source.select(target.columns)  # align column order
    src_matched = F.col(f"s.{key}").isNotNull()
    return (
        target.alias("t")
        .join(src.alias("s"), F.col(f"t.{key}") == F.col(f"s.{key}"), "full")
        .select(
            *[
                F.when(src_matched, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
                for c in target.columns
            ]
        )
    )


def _fs(spark: SparkSession, path: str):
    """Hadoop FileSystem for ``path`` — rename/delete work on any
    HDFS-compatible store, not just the local FS."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    key: str,
    _crash: str | None = None,
    lock_ttl_sec: float = 600.0,
    lock_wait_sec: float = 60.0,
    _after_stage=None,
    _held_token: str | None = None,
) -> None:
    """MERGE INTO an *unpartitioned* target: the whole merged table is
    staged and committed as the plan's one unit (module doc; idempotent
    re-ingest semantics the reference lacks, SURVEY.md §4.1
    "Incremental/exactly-once").

    When delta-spark is installed and the target is a Delta table,
    this is a real ``DeltaTable.merge`` — transactional, no rename
    dance needed; the portable commit-protocol path is the fallback.

    ``_crash`` is the test-only crash-injection hook: naming a step
    (``"after_stage_write"``, ``"after_plan_tmp_write"``,
    ``"after_plan_write"``, ``"after_backup_rename:0"``,
    ``"after_commit_rename:0"``, ``"after_bak_delete:0"``,
    ``"before_ptmp_delete"``) raises :class:`SimulatedCrash` right
    after it, skipping every later step — the on-disk table state a
    process kill at that instant leaves.  There is deliberately NO
    ``finally`` cleanup of the stage: a crashed run's debris is healed
    by the NEXT ``recover_table``, which is what makes the simulation
    faithful.  The writer LEASE, by contrast, IS released in
    ``finally`` — a live process's failure must free the lease
    immediately; only real process death leaves it, and that is
    precisely the case ``lock_ttl_sec``'s stale takeover exists for.
    ``_after_stage`` is a test-only hook run after the stage write.
    ``_held_token``: the caller already holds this target's lease (via
    :func:`merge_lease`) — run under it, don't re-acquire (a same-path
    second acquire would deadlock until timeout) and don't release it.
    """
    _merge(
        spark, target_path, source, key, None, None,
        _crash, lock_ttl_sec, lock_wait_sec, _after_stage, _held_token,
    )


def merge_upsert_partitioned(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    key: str,
    part_col: str,
    lock_ttl_sec: float = 600.0,
    lock_wait_sec: float = 60.0,
    _crash: str | None = None,
    _held_token: str | None = None,
) -> None:
    """MERGE INTO a parquet target partitioned by ``part_col``:
    partition-pruned read of only the touched partitions, staged
    partitioned write, one plan unit per touched partition (module
    doc).  Untouched partitions are never read or written.  Writers
    take the same lease as :func:`merge_upsert`.

    Assumes ``part_col`` is stable per key (a row never migrates
    between partitions) and NON-NULL — ``isin(touched)`` never matches
    SQL NULL, so a null-partitioned target row would be invisible to
    the merge and then replaced by the swap: the source's null rows
    would stage into ``__HIVE_DEFAULT_PARTITION__``, enter the swap
    plan, and silently DELETE the target's existing null-partition
    rows (the standard partitioned-MERGE contract).  The non-null half
    is ENFORCED, not just assumed: ``touched`` is already collected on
    the driver, so a source containing a null ``part_col`` raises
    :class:`ValueError` before any write.  ``part_col`` must be
    bounded-cardinality (it's a partition column), so collecting the
    touched-partition values is driver-safe, and the swap is a bounded
    sequence of metadata renames.

    ``_crash`` names a protocol step to die at (:class:`SimulatedCrash`,
    same semantics as :func:`merge_upsert`; the unit index ``<i>``
    ranges over the touched partitions).

    On a Delta target the same touched-partition predicate goes into
    the MERGE condition, so Delta's file pruning skips untouched
    partitions exactly like the parquet path's pruned read.
    """
    touched = [r[0] for r in source.select(part_col).distinct().collect()]
    if any(v is None for v in touched):
        raise ValueError(
            f"partitioned MERGE into {target_path}: source rows with NULL "
            f"{part_col} are not mergeable — isin() can never match SQL "
            "NULL, so the swap would replace the target's null partition "
            "without merging its rows (silent data loss); filter or "
            "default the null keys first"
        )
    _merge(
        spark, target_path, source, key, part_col, touched,
        _crash, lock_ttl_sec, lock_wait_sec, None, _held_token,
    )


def _merge(
    spark, target_path, source, key, part_col, touched,
    _crash, lock_ttl_sec, lock_wait_sec, _after_stage, _held_token,
) -> None:
    """The one MERGE body behind both entry points: Delta dispatch,
    lease, recovery, stage, plan, swap (module doc, steps 1-5).
    ``part_col`` None means an unpartitioned target."""
    if HAVE_DELTA and DeltaTable.isDeltaTable(spark, target_path):  # pragma: no cover
        cond = f"t.{key} = s.{key}"
        if part_col is not None:
            # Column-built, not an f-string IN-list: repr() of a
            # date/decimal partition value is not SQL, while isin()
            # literal-encodes every Spark-supported type correctly.
            cond = F.col(f"t.{part_col}").isin(touched) & (
                F.col(f"t.{key}") == F.col(f"s.{key}")
            )
        (
            DeltaTable.forPath(spark, target_path)
            .alias("t")
            .merge(source.alias("s"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        return

    def crashpoint(step: str) -> None:
        if _crash == step:
            raise SimulatedCrash(step)

    token = _held_token or _acquire_lock(
        spark, target_path, lock_ttl_sec, lock_wait_sec
    )
    keeper = (
        _lease_keeper(spark, target_path, token, lock_ttl_sec)
        if _held_token is None
        else nullcontext()  # the outer merge_lease runs the keeper
    )
    try:
        with keeper:
            # Step 1: heal any prior crash before reading the target.
            if recover_table(spark, target_path) == "missing":
                raise FileNotFoundError(f"merge target does not exist: {target_path}")
            fs, _ = _fs(spark, target_path)
            mk = spark._jvm.org.apache.hadoop.fs.Path
            jptmp = _ptmp(mk, target_path)
            target = spark.read.parquet(target_path)
            # Step 2: stage the merged units off to the side — the live
            # table is not written until the swap.
            if part_col is None:
                merged = _merged_frame(target, source, key)
                merged.write.mode("overwrite").parquet(_ptmp(mk, target_path, _WHOLE).toString())
                plan = [_WHOLE]
            else:
                target = target.filter(F.col(part_col).isin(touched))
                merged = _merged_frame(target, source, key)
                # REBALANCE by the partition column (r17, guide §6): the
                # join output's partitioning is the merge key's, so an
                # unclustered partitionBy write emitted one file per
                # (task x touched partition); the AQE rebalance clusters
                # by partition value at the advisory size, skew-split if
                # one partition value dominates.
                (
                    merged.hint("rebalance", part_col)
                    .write.mode("overwrite")
                    .partitionBy(part_col)
                    .parquet(jptmp.toString())
                )
                # unit names from the filesystem, not re-encoded from
                # values: exactly what Spark's partitioning layer wrote
                plan = sorted(
                    st.getPath().getName()
                    for st in fs.listStatus(jptmp)
                    if st.isDirectory() and st.getPath().getName().startswith(part_col + "=")
                )
            crashpoint("after_stage_write")
            if _after_stage is not None:  # test-only interleave
                _after_stage()
            # The stage write is the long pole: verify the lease (and
            # re-arm its TTL) before the commit point — a writer that
            # lost it must abort, not commit over the new owner.
            if not _hold_lease(spark, target_path, token):
                raise MergeLockTimeout(
                    f"merge lease on {target_path} lost during staging "
                    f"(stage outlived lock_ttl_sec={lock_ttl_sec}); aborting "
                    "before commit — another writer owns the table now"
                )
            # Step 3: the plan, written to a temp name and RENAMED into
            # place — it is the commit point, so it must appear
            # atomically: a truncated in-place write would authorize
            # rolling forward only a prefix of the units.
            jplan_tmp = _ptmp(mk, target_path, _PLAN + ".tmp")
            out = fs.create(jplan_tmp, True)
            out.write(bytearray("\n".join(plan).encode()))
            out.close()
            crashpoint("after_plan_tmp_write")
            _rename(fs, jplan_tmp, _ptmp(mk, target_path, _PLAN))
            crashpoint("after_plan_write")
            # Step 4: swap each unit in under the lease.
            units = [_unit(mk, target_path, d) for d in plan]
            _swap(spark, fs, target_path, units, token, crashpoint)
            # Step 5: plan consumed — post-commit cleanup.
            crashpoint("before_ptmp_delete")
            fs.delete(jptmp, True)
    finally:
        if _held_token is None:
            _release_lock(spark, target_path, token)
