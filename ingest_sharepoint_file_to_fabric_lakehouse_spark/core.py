"""Core plumbing: query registry, table loaders, session prep.

The engine re-expresses the capabilities of the reference repo
(``csetiawanaxexcellence/ingest-sharepoint-file-to-fabric-lakehouse``) Spark-first.  Every
operator is registered here as a ``(spark, sf_dir) -> DataFrame``
callable plus (where SQL-expressible) a DuckDB oracle string, per the
driver contract in ``__spark_entry__.py``.

Design notes for scale (100 TB target):

* All tables are read through :func:`t` → plain ``spark.read.parquet``
  so Catalyst performs predicate pushdown / column pruning / partition
  pruning on every query.  No collect-based staging anywhere.
* ``prep`` pins the session timezone to UTC (oracle parity — DuckDB
  treats parquet timestamps as naive) and enables AQE so skewed
  shuffles re-plan at runtime.
* Money aggregates go through :func:`dec` (cast to ``decimal(18,4)``)
  before ``sum`` — decimal addition is exact and order-independent, so
  a 1000-executor partial-aggregate tree produces bit-identical totals
  to any single-node engine.  The final value is rounded and cast back
  to double for output.
"""

from __future__ import annotations

import hashlib
import os
import textwrap
import time
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Decorator registering a query key (SURVEY.md §2 Part B).

    ``oracle`` is the equivalent DuckDB SQL over the pre-registered
    views; ``None`` ⇒ the driver records a weaker rows-only check.
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            prep(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = textwrap.dedent(oracle).strip()
        return fn

    return deco


_PREP_PINNED: set = set()


def mark_conf_dirty(spark: SparkSession) -> None:
    """A query that leaves session conf mutated past its own call (the
    runtime-bloom toggles — everything else restores in ``finally``)
    must call this so the NEXT :func:`prep` re-pins the defaults
    instead of skipping as already-pinned.

    The mark is PER APPLICATION (r17, ADVICE fix): a process-global
    flag would let a prep() on session B consume session A's mark,
    leaving A un-re-pinned (broadcast joins silently disabled for the
    rest of A's life when two sessions coexist in one process)."""
    _PREP_PINNED.discard(spark.sparkContext.applicationId)


def prep(spark: SparkSession) -> None:
    """Session settings applied before every query (runtime-safe confs).

    UTC session tz keeps collected timestamps byte-identical to the
    DuckDB oracle's naive parquet timestamps.  AQE handles runtime
    coalescing + skew-join splitting at scale.

    MEMOIZED per application (r16): the seven ``conf.set`` py4j round
    trips cost a few ms per query call and the values never change
    between calls — ~1300 query executions per bench session re-sent
    identical pins.  The first call per session pins; later calls
    skip unless a conf-mutating query marked THIS application dirty
    (:func:`mark_conf_dirty` drops it from the pinned set).
    Self-restoring mutators (width pins under ``finally``) need no
    mark.
    """
    app = spark.sparkContext.applicationId
    if app in _PREP_PINNED:
        return
    conf = spark.conf
    conf.set("spark.sql.session.timeZone", "UTC")
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # restore defaults a per-query toggle may have changed
    # (join_runtime_bloom disables broadcast + lowers the bloom
    # thresholds for ITS plan only — every other query gets stock
    # planner behavior back here)
    conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
    conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "10GB"
    )
    conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB")
    _PREP_PINNED.add(app)


def recommended_session_conf(
    shuffle_partitions: int | str | None = None,
) -> dict[str, str]:
    """Session-BUILD-time conf every long-lived engine session should
    carry (the single source of truth for SCALE.md "long-session ops";
    bench.py, tests/conftest.py, tools/check_oracle.py and
    tools/plan_budget.py all consume this instead of repeating the
    literals).

    Apply on the builder::

        b = SparkSession.builder.master("local[8]")
        for k, v in recommended_session_conf(8).items():
            b = b.config(k, v)

    * ``spark.sql.codegen.cache.maxEntries`` — STATIC conf, read once
      at session build, which is why this dict must go on the builder
      and not through ``spark.conf.set``.  Spark's whole-stage-codegen
      class cache is a 100-entry LRU; a session serving the full
      registry (257 plans) evicts every generated class between a
      query's own re-executions and silently re-pays janino compilation
      per run (measured 2.9 s vs 0.78 s warm on dedup_jaccard_prefix —
      the r14/r15 "late-session aging").  10000 holds every registered
      plan (several generated classes each) with headroom.
    * timezone / AQE / Arrow are runtime confs that :func:`prep` also
      pins per query; carrying them from build time keeps warm-up work
      that runs BEFORE any registered query on the same semantics.
    * ``spark.sql.shuffle.partitions``: pass the session's local
      parallelism (bench: ``$SPARK_GRAFT_CPUS``).  On a real cluster
      size it to ~2-3x total executor cores and let AQE coalesce.
    """
    conf = {
        "spark.sql.codegen.cache.maxEntries": "10000",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    return conf


_TABLE_CACHE: dict[tuple, DataFrame] = {}


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table (TESTDATA.md layout).

    ``events.ts`` has shipped as either parquet TIMESTAMP(NANOS)
    (which Spark 4 rejects natively — read as nanos-since-epoch long
    and truncate to microseconds) or plain TIMESTAMP(MICROS) (read
    natively as ``timestamp_ntz``), depending on the generator
    version.  Normalise both to a microsecond ``timestamp_ntz``
    (exactly what DuckDB's µs timestamps do), keeping oracle parity.

    MEMOIZED per (application, path, source fingerprint):
    ``spark.read.parquet`` costs ~100 ms of driver-side schema
    inference + file-index construction per call, and a 215-key bench
    session makes ~600 such calls over the same six fixture tables —
    pure repeated metadata work.  The returned DataFrame is an
    immutable logical plan, so sharing it is safe; the fingerprint in
    the key makes a regenerated fixture (new sizes/mtimes) a cache
    MISS, so staleness is impossible, and the applicationId scopes
    entries to one SparkContext (a plan from a stopped session must
    never leak into a new one).
    """
    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        name,
        source_fingerprint(sf_dir, name),
    )
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        if name == "events":
            # keep the session conf consistent for any sibling reader
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return cached
    _TABLE_CACHE[key] = df = _t_uncached(spark, sf_dir, name)
    return df


def _t_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000").cast("long")).cast(
                    "timestamp_ntz"
                ),
            )
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_DOCS_CACHE: dict[tuple, DataFrame] = {}


def docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents`` spread across the session's cores.

    The fixture files are single-row-group parquet, so the scan
    arrives as ONE input split and every per-doc text expression
    (shingling, hashing, n-gram explode) runs serially on one task —
    measured 5-40x slowdowns on the heavy text operators.  A doc_id
    hash repartition costs one tiny shuffle of the raw text and buys
    full-width parallelism; at 100 TB the scan itself has thousands
    of splits and this helper's exchange is noise (and the doc_id
    layout is exactly what the downstream per-doc aggregates want).

    The repartitioned relation is MEMOIZED as an eager localCheckpoint
    (same key discipline as :func:`t`): ~40 registered keys consume
    it, and without the memo each re-runs the scan + exchange.  The
    checkpoint blocks live for the SparkContext's lifetime (the cache
    reference pins them against ContextCleaner), which is a few tens
    of MB at fixture scale — at 100 TB the equivalent is a
    doc_id-bucketed table, not an in-memory block."""
    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        source_fingerprint(sf_dir, "documents"),
    )
    cached = _DOCS_CACHE.get(key)
    if cached is None:
        d = t(spark, sf_dir, "documents")
        _DOCS_CACHE[key] = cached = d.repartition(
            spark.sparkContext.defaultParallelism, "doc_id"
        ).localCheckpoint(eager=True)
    return cached


def source_fingerprint(sf_dir: str, *tables: str) -> str:
    """Cheap identity for "has the fixture been regenerated": md5 over
    (relative path, size, mtime_ns) of every data file backing the given
    source tables.

    Derived layouts staged under /tmp (bucketed tables, partitioned IVF
    cells, year-partitioned orders) record this at write time and are
    rebuilt when it changes — a ``_SUCCESS`` marker alone proves "a
    write finished once", not "it was written from THIS data", and a
    regenerated fixture would otherwise be served stale results with no
    error.
    """
    h = hashlib.md5()
    for tbl in sorted(tables):
        p = os.path.join(sf_dir, f"{tbl}.parquet")
        paths: list[str] = []
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                paths += [os.path.join(root, f) for f in files]
        elif os.path.exists(p):
            paths = [p]
        for fp in sorted(paths):
            st = os.stat(fp)
            h.update(
                f"{os.path.relpath(fp, sf_dir)}|{st.st_size}|{st.st_mtime_ns}\n".encode()
            )
    return h.hexdigest()


# Staged state lives at <root>/<fixture dir name>/<name>.  Derived
# indexes, layouts and the ingest lifecycle stage under STAGING_ROOT.
STAGING_ROOT = "/tmp/sgdata"
# Streaming scratch (checkpoint logs, epoch outputs, staged batch
# files) is many small fsync-heavy writes; on the bench host /tmp is
# disk-backed while /dev/shm is tmpfs, and the whole streaming staging
# footprint is a few MB — so the fixed per-micro-batch cost drops
# substantially on the RAM disk.  Purely I/O placement: a cluster
# deployment points checkpoints at durable storage instead (this
# scratch is all reconstructible, nothing durable lives here).
SCRATCH_ROOT = "/dev/shm/sgdata" if os.path.isdir("/dev/shm") else STAGING_ROOT


def staging_dir(sf_dir: str, name: str, root: str = STAGING_ROOT) -> str:
    """Directory of the staged artifact ``name`` derived from the
    fixture at ``sf_dir`` — the one place the staging layout is
    spelled out."""
    return f"{root}/{os.path.basename(sf_dir.rstrip('/'))}/{name}"


def staging_current(path: str, token: str) -> bool:
    """True iff the staged layout at ``path`` is complete (``_SUCCESS``)
    AND its recorded fingerprint matches ``token``."""
    try:
        with open(os.path.join(path, "_SG_FINGERPRINT")) as fh:
            return (
                os.path.isfile(os.path.join(path, "_SUCCESS"))
                and fh.read().strip() == token
            )
    except OSError:
        return False


# Build-event log: every stamp_staging call appends (artifact path,
# monotonic stamp time).  bench.py reads it to attribute staged-index
# BUILD passes to the query key that triggered them — so a cold first
# run is visibly a build cost, never confused with steady-state query
# time (round-10 verdict item 2).
STAGING_EVENTS: list[tuple[str, float]] = []


def stamp_staging(path: str, token: str) -> None:
    """Record the source fingerprint a just-written layout derives from."""
    with open(os.path.join(path, "_SG_FINGERPRINT"), "w") as fh:
        fh.write(token)
    _touch_lastuse(path)
    STAGING_EVENTS.append((path, time.monotonic()))


def _touch_lastuse(path: str) -> None:
    """Bump the artifact's ``_SG_LASTUSE`` sidecar (its mtime is the
    LRU key ``tools/staging_gc.py`` evicts by).  A separate file, not
    the fingerprint's mtime: that mtime is part of ``read_staged``'s
    memo key, so touching IT would bust the schema-inference cache on
    every read."""
    try:
        with open(os.path.join(path, "_SG_LASTUSE"), "w") as fh:
            fh.write(str(time.time_ns()))
    except OSError:
        pass


_STAGED_CACHE: dict[tuple, DataFrame] = {}


def read_staged(spark: SparkSession, path: str) -> DataFrame:
    """Read a staged layout, memoized like :func:`t`.

    The cache key is the layout's own stamp (fingerprint content +
    stamp-file mtime), so a rebuilt layout — new stamp write — is a
    cache miss; an unstamped path falls through to a plain read with
    no memoization.  Saves the ~100 ms schema-inference cost on every
    steady-state index read (the staged operators read 1-3 layouts
    per run).

    A cache miss for a path that HAS older entries means the layout
    was rebuilt (new stamp): the superseded entries are evicted —
    without that, every rebuild would leave the old py4j DataFrame
    handles pinned in the memo for the session's lifetime (a bounded
    but pointless driver-side leak)."""
    stamp = os.path.join(path, "_SG_FINGERPRINT")
    try:
        st = os.stat(stamp)
        with open(stamp) as fh:
            token = fh.read().strip()
    except OSError:
        return spark.read.parquet(path)
    key = (spark.sparkContext.applicationId, path, token, st.st_mtime_ns)
    cached = _STAGED_CACHE.get(key)
    if cached is None:
        # snapshot first (list() is one atomic C-level pass under the
        # GIL): concurrent staged operators — a pattern staged_build
        # explicitly supports — may insert while we sweep, and
        # iterating the live dict would raise RuntimeError;
        # pop(..., None) likewise tolerates a racing eviction.
        for stale in list(_STAGED_CACHE):
            if stale[0] == key[0] and stale[1] == key[1]:
                _STAGED_CACHE.pop(stale, None)
        _STAGED_CACHE[key] = cached = spark.read.parquet(path)
    _touch_lastuse(path)
    return cached


@contextmanager
def staged_build(spark: SparkSession, token: str, *paths: str, extra_need=None):
    """Serialize cross-process builders of one staged artifact group.

    The fingerprint gate alone is check-then-act: two processes racing
    the same UNBUILT artifact both see "not staged" and both run
    ``mode=overwrite`` writes into the same directory — B's
    delete-before-write can tear A's in-flight files.  This wraps the
    build in the MERGE writer lease (plans/merge.py — atomic
    create-if-absent, TTL takeover for crashed builders), with the
    double-checked gate re-probed UNDER the lease so the loser of the
    race reuses the winner's artifact instead of rebuilding it.

    Usage (the build block writes the artifacts; stamping is
    centralized here so it can be fenced)::

        with staged_build(spark, token, path_a, path_b) as need:
            if need:
                ...write path_a, path_b...

    ``extra_need`` (optional zero-arg callable) lets a caller force the
    leased rebuild path even when every stamp is current — e.g. a
    stamped-current artifact whose PAYLOAD sidecar was externally
    removed (`_pq_train`'s codebook.json repair).  It is evaluated on
    the lock-free fast path AND re-probed UNDER the lease, the same
    double-checked discipline as the stamps, so two racing repairers
    serialize and the loser reuses the winner's repaired payload.
    (Before r15 the repair instead DELETED the stamp outside the lock
    to force the leased path — correct but it let racer B un-stamp the
    artifact A had just repaired and retrain redundantly; ADVICE r14.)
    When ``extra_need`` is None the fast path is byte-identical to the
    pre-r15 behavior — callers that don't pass it are unaffected.

    On clean exit after a build, ownership is re-verified before the
    artifacts are stamped — a build that outlived the lease TTL (its
    lock taken over, the thief rebuilding) must NOT stamp its possibly
    interleaved bytes as current; it raises and the thief's stamp is
    the one readers trust.  Residual (documented, not closed): the
    zombie's in-flight DATA writes themselves are unfenced — fencing
    writes needs transactional storage (the Delta dispatch); the TTL
    (600 s vs single-digit-second builds) bounds the exposure.
    """
    if all(staging_current(p, token) for p in paths) and (
        extra_need is None or not extra_need()
    ):
        yield False
        return
    from .plans.merge import (
        MergeLockTimeout,
        _acquire_lock,
        _hold_lease,
        _lease_keeper,
        _release_lock,
        _sweep_lock_debris,
    )

    # Lease against a pseudo-target NAMED for the artifact: the lock
    # file is `<paths[0]>__build__merge_lock`, a sibling of the
    # artifact dir (never inside it — the overwrite would delete it).
    # _acquire_lock creates the missing parent dir itself on the local
    # scheme (a lease can precede the artifact's first write).
    lockbase = paths[0].rstrip("/") + "__build"
    lease = _acquire_lock(spark, lockbase, lock_ttl_sec=600.0, lock_wait_sec=600.0)
    # builds are rare; piggyback the aged claim-file sweep here (the
    # MERGE targets get theirs in recovery)
    _sweep_lock_debris(spark, lockbase)
    try:
        # the keeper re-arms the TTL for the build's whole duration, so
        # an arbitrarily long index build keeps its lease (takeover
        # then only fires on real builder death) — the post-build
        # ownership check below stays as defense in depth
        with _lease_keeper(spark, lockbase, lease, 600.0):
            need = not all(staging_current(p, token) for p in paths) or bool(
                extra_need and extra_need()
            )
            yield need
            if need:
                if not _hold_lease(spark, lockbase, lease):
                    raise MergeLockTimeout(
                        f"staged build of {paths[0]} outlived its lease "
                        "(taken over by another builder); not stamping"
                    )
                for p in paths:
                    stamp_staging(p, token)
    finally:
        _release_lock(spark, lockbase, lease)


def dec(col: str | Column, precision: int = 18, scale: int = 4) -> Column:
    """Exact-decimal cast for order-independent money sums (see module doc)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def money(sum_col: Column, ndigits: int = 2) -> Column:
    """round(sum(decimal), n) → double; bit-stable across engines."""
    return F.round(sum_col, ndigits).cast("double")


def source_bytes(sf_dir: str, *tables: str) -> int:
    """Total on-disk bytes of the named source tables — the cheap
    cardinality proxy for cost-based materialize-vs-recompute choices
    (cf. streaming's state-width derivation).  Metadata-only: no scan."""
    total = 0
    for tbl in tables:
        p = os.path.join(sf_dir, f"{tbl}.parquet")
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        elif os.path.exists(p):
            total += os.path.getsize(p)
    return total


def staged_file_width(
    sf_dir: str, *tables: str, target: int = 128 << 20, cap: int = 4096
) -> int:
    """File count for a staged-artifact parquet write, derived from the
    SOURCE tables' size (guide-§6 file sizing: aim for 100 MB-1 GB
    files).  Derived indexes (signatures, posting lists, shingle
    dictionaries) are a bounded multiple of their source, so
    ``source_bytes/target`` gives one output file per ~128 MB of
    source — 1 file at fixture scale instead of one near-empty file
    per shuffle partition (measured: several staged layouts shipped as
    32 x ~10 KB files, taxing every steady-state read with 32 file
    opens + 32 scan tasks), and hundreds of well-sized files at
    100 TB.  Scale-adaptive by construction, never a constant."""
    return max(1, min(cap, -(-source_bytes(sf_dir, *tables) // target)))


def checkpoint_if_large(df, sf_dir: str, *tables: str, threshold: int = 256 << 20):
    """Cost-based materialization for a relation consumed by several
    subtrees: above ``threshold`` source bytes the eager checkpoint
    pins the fan-out to ONE corpus pass (N rescans of a 100 TB input
    is the failure mode tools/audit_scans.py exists to catch); below
    it the replayed scans ride the OS page cache and beat the
    checkpoint's block writes (measured: fixture-scale checkpoints
    cost 0.3-1.0 s/key in-bench while rescans are free).  The same
    statistics-driven call a cluster engine's CBO makes."""
    if source_bytes(sf_dir, *tables) > threshold:
        return df.localCheckpoint(eager=True)
    return df
