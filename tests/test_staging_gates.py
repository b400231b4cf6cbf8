"""Round-9 machinery pins: the multi-probe expansion, the
single-SQL-string banding projection, and the streaming/ingest
steady-state drain gates.

These are the pieces whose failure modes are silent: a wrong probe
mask loses recall without an error, a banding-projection regression
changes buckets everywhere at once, and a broken drain gate either
serves stale epochs (correctness) or silently re-drains every run
(the 25 s streaming bill coming back).
"""

from __future__ import annotations

import os
import shutil

import pytest

from pyspark.sql import functions as F

import ingest_sharepoint_file_to_fabric_lakehouse_spark as engine  # noqa: F401


def test_multiprobe_expands_to_exact_bucket_plus_one_bit_flips(spark):
    from ingest_sharepoint_file_to_fabric_lakehouse_spark.operators.similarity import (
        _LSH_BAND_BITS,
        _multiprobe,
    )

    q = spark.createDataFrame(
        [(1, 0, 0b101010), (1, 1, 0)],
        "q_id long, q_band int, q_bucket int",
    )
    got = {
        (r.q_band, r.q_bucket)
        for r in _multiprobe(q.withColumn("q_vec", F.lit(0.0))).collect()
    }
    want = set()
    for band, bucket in [(0, 0b101010), (1, 0)]:
        want.add((band, bucket))
        for b in range(_LSH_BAND_BITS):
            want.add((band, bucket ^ (1 << b)))
    assert got == want


def test_banded_select_matches_python_sign_reference(spark):
    """The SQL-string projection must compute exactly the per-band
    sign-bit buckets a pure-Python reference does — pinned over planes
    with mixed signs and vectors including zeros (the >= 0 boundary:
    a zero dot product counts as sign 1 on both sides)."""
    from ingest_sharepoint_file_to_fabric_lakehouse_spark.operators.similarity import (
        _banded_select,
        _frozen_planes,
    )

    planes = _frozen_planes(12, 4)  # 4 bands x 3 bits over 4 dims
    vecs = [
        (0, [1.0, -2.0, 3.0, -4.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),  # all dots 0.0 -> every bit set
        (2, [-1.5, -1.5, 2.25, 0.5]),
    ]
    e = spark.createDataFrame(vecs, "vec_id long, v array<double>")
    got = {
        (r.vec_id, r.band): r.bucket
        for r in _banded_select(e, planes, 3).collect()
    }
    for vid, v in vecs:
        for band in range(4):
            bucket = 0
            for b in range(3):
                d = sum(x * s for x, s in zip(v, planes[band * 3 + b]))
                if d >= 0:
                    bucket |= 1 << b
            assert got[(vid, band)] == bucket, (vid, band, got[(vid, band)], bucket)


def test_drain_gate_resumes_and_rebuilds_on_token_change(spark, sf_dir):
    """A drained streaming key must NOT re-drain while its feed
    fingerprint is unchanged (the steady state reads materialized
    epochs), and a stale/corrupt stamp must force a full rebuild with
    identical values."""
    from ingest_sharepoint_file_to_fabric_lakehouse_spark import core

    engine.load_all()
    fn = engine.QUERIES["stream_tumbling_live"]
    first = sorted(map(tuple, fn(spark, sf_dir).collect()))
    out = f"{core.staging_dir(sf_dir, 'stream_tumbling', core.SCRATCH_ROOT)}/out"
    stamp = os.path.join(out, "_SG_FINGERPRINT")
    mtime = os.stat(stamp).st_mtime_ns
    again = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert again == first
    assert os.stat(stamp).st_mtime_ns == mtime, "resume path re-drained"
    # corrupt the stamp -> must rebuild from scratch, same values
    with open(stamp, "w") as fh:
        fh.write("stale-token")
    rebuilt = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert rebuilt == first
    assert os.stat(stamp).st_mtime_ns != mtime, "gate did not rebuild"


def test_ingest_gate_rebuilds_cold_and_resumes_warm(spark, sf_dir):
    from ingest_sharepoint_file_to_fabric_lakehouse_spark import core

    engine.load_all()
    base = core.staging_dir(sf_dir, "ingest")
    shutil.rmtree(base, ignore_errors=True)
    fn = engine.QUERIES["ingest_pipeline"]
    first = sorted(map(tuple, fn(spark, sf_dir).collect()))
    stamp = os.path.join(base, "_SG_FINGERPRINT")
    assert os.path.isfile(stamp)
    mtime = os.stat(stamp).st_mtime_ns
    again = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert again == first and os.stat(stamp).st_mtime_ns == mtime


def test_drained_stream_is_staged_state(spark, sf_dir):
    """A drain goes through core.staged_build like every staged index:
    a cold drain logs a build event, a warm call logs none, and the
    staging GC sees the drained output as an artifact."""
    import sys

    from ingest_sharepoint_file_to_fabric_lakehouse_spark import core

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import staging_gc

    engine.load_all()
    fn = engine.QUERIES["stream_tumbling_live"]
    out = f"{core.staging_dir(sf_dir, 'stream_tumbling', core.SCRATCH_ROOT)}/out"
    shutil.rmtree(out, ignore_errors=True)
    n0 = len(core.STAGING_EVENTS)
    fn(spark, sf_dir).count()
    assert out in [p for p, _ in core.STAGING_EVENTS[n0:]], "cold drain not logged"
    n1 = len(core.STAGING_EVENTS)
    fn(spark, sf_dir).count()
    assert len(core.STAGING_EVENTS) == n1, "warm call re-drained"
    assert out in [a.path for a in staging_gc.scan(core.SCRATCH_ROOT)]


def _own_fixture(tmp_path, sf_dir):
    """The shared fixture under another directory name: its staged
    state lands in a separate tree, so a deliberately failed drain
    leaves the shared fixture's drained outputs alone."""
    fixture = tmp_path / "sf_drain_fail"
    fixture.symlink_to(sf_dir)
    return str(fixture)


@pytest.mark.parametrize(
    "key, artifact",
    [
        ("stream_tumbling_live", "stream_tumbling/out"),
        ("stream_foreach_sink", "stream_sink/out"),
        ("stream_additive_state_merge", "stream_additive"),
    ],
)
def test_timed_out_drain_is_stopped_and_not_stamped(
    spark, sf_dir, tmp_path, monkeypatch, key, artifact
):
    """A drain still running at its deadline has written only some
    epochs: it must be stopped and raised, never stamped current."""
    from pyspark.sql.streaming import DataStreamWriter

    from ingest_sharepoint_file_to_fabric_lakehouse_spark import core
    from ingest_sharepoint_file_to_fabric_lakehouse_spark.streaming import streams as S

    feed = S.stage_event_files(spark, sf_dir)
    fixture = _own_fixture(tmp_path, sf_dir)
    out = core.staging_dir(fixture, artifact, core.SCRATCH_ROOT)
    stopped = []

    class StuckQuery:
        def awaitTermination(self, timeout=None):
            os.makedirs(f"{out}/epoch=0", exist_ok=True)  # a partial drain
            return False

        def stop(self):
            stopped.append(True)

    monkeypatch.setattr(S, "stage_event_files", lambda spark_, sf: feed)
    monkeypatch.setattr(DataStreamWriter, "start", lambda self, *a, **k: StuckQuery())
    try:
        with pytest.raises(TimeoutError):
            engine.QUERIES[key](spark, fixture)
        assert stopped, "the timed-out query was left running"
        assert not os.path.exists(os.path.join(out, "_SG_FINGERPRINT"))
    finally:
        shutil.rmtree(core.staging_dir(fixture, "", core.SCRATCH_ROOT), ignore_errors=True)


def test_partial_sharepoint_feed_is_not_stamped(spark, sf_dir, tmp_path, monkeypatch):
    """A SharePoint change-feed drain that misses its deadline with
    arrivals still undelivered must raise, not stamp the partial log."""
    import time

    from pyspark.sql.streaming import DataStreamWriter

    from ingest_sharepoint_file_to_fabric_lakehouse_spark import core

    engine.load_all()
    fixture = _own_fixture(tmp_path, sf_dir)
    out = f"{core.staging_dir(fixture, 'stream_ds_sharepoint')}/out"

    class StalledQuery:  # leaves a partial epoch, then stalls
        def stop(self):
            os.makedirs(f"{out}/epoch=0", exist_ok=True)

        def awaitTermination(self, timeout=None):
            return True

    # the poll loop sleeps 0.1 s per round against a 120 s deadline:
    # let each sleep advance the clock a minute instead
    skew = [0.0]
    real_time = time.time
    monkeypatch.setattr(time, "time", lambda: real_time() + skew[0])
    monkeypatch.setattr(time, "sleep", lambda s: skew.__setitem__(0, skew[0] + 60.0))
    monkeypatch.setattr(DataStreamWriter, "start", lambda self, *a, **k: StalledQuery())
    try:
        with pytest.raises(TimeoutError):
            engine.QUERIES["stream_datasource_sharepoint"](spark, fixture)
        assert not os.path.exists(os.path.join(out, "_SG_FINGERPRINT"))
    finally:
        monkeypatch.undo()
        shutil.rmtree(core.staging_dir(fixture, ""), ignore_errors=True)


def test_staged_build_serializes_racing_builders(spark, tmp_path):
    """Two threads race the same UNBUILT artifact: exactly one runs the
    build (the loser re-probes the gate under the lease and reuses the
    winner's artifact), the artifact ends stamped, and no lock debris
    remains.  Without the lease both would mode=overwrite the same dir
    concurrently — the round-12 COVERAGE defect this round closes."""
    import threading
    import time

    from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import (
        read_staged,
        staged_build,
        staging_current,
    )

    path = str(tmp_path / "artifact")
    token = "tok-v1"
    builds: list[str] = []
    errs: list[Exception] = []

    def builder(name):
        try:
            with staged_build(spark, token, path) as need:
                if need:
                    builds.append(name)  # GIL-atomic
                    time.sleep(0.2)  # widen the race window
                    spark.range(10).write.mode("overwrite").parquet(path)
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [threading.Thread(target=builder, args=(f"b{i}",)) for i in range(3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    assert len(builds) == 1, builds  # exactly one build ran
    assert staging_current(path, token)
    assert read_staged(spark, path).count() == 10
    assert not [n for n in os.listdir(tmp_path) if "lock" in n.lower()]


def test_staged_build_skips_when_current_and_rebuilds_on_new_token(spark, tmp_path):
    from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import (
        staged_build,
        staging_current,
    )

    path = str(tmp_path / "artifact2")
    with staged_build(spark, "v1", path) as need:
        assert need
        spark.range(3).write.mode("overwrite").parquet(path)
    # current: no build needed, lock never taken (fast path)
    with staged_build(spark, "v1", path) as need:
        assert not need
    # fingerprint changed (regenerated fixture): rebuild
    with staged_build(spark, "v2", path) as need:
        assert need
        spark.range(5).write.mode("overwrite").parquet(path)
    assert staging_current(path, "v2") and not staging_current(path, "v1")


def test_staged_build_exception_leaves_artifact_unstamped(spark, tmp_path):
    import pytest as _pytest

    from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import (
        staged_build,
        staging_current,
    )

    path = str(tmp_path / "artifact3")
    with _pytest.raises(RuntimeError, match="boom"):
        with staged_build(spark, "v1", path) as need:
            assert need
            spark.range(3).write.mode("overwrite").parquet(path)
            raise RuntimeError("boom")
    # failed build is not stamped: the next builder rebuilds
    assert not staging_current(path, "v1")
    with staged_build(spark, "v1", path) as need:
        assert need
        spark.range(3).write.mode("overwrite").parquet(path)
    assert staging_current(path, "v1")
    # the failed holder's lock was released
    assert not [n for n in os.listdir(tmp_path) if "lock" in n.lower()]


def test_read_staged_evicts_superseded_memo_entries(spark, tmp_path):
    """A rebuilt layout (new stamp) must evict the superseded cache
    entries for that path — the round-12 COVERAGE leak: old stamp keys
    pinned py4j DataFrame handles for the session's lifetime."""
    from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import (
        _STAGED_CACHE,
        read_staged,
        staged_build,
    )

    path = str(tmp_path / "artifact4")
    with staged_build(spark, "v1", path) as need:
        if need:
            spark.range(4).write.mode("overwrite").parquet(path)
    assert read_staged(spark, path).count() == 4
    with staged_build(spark, "v2", path) as need:
        if need:
            spark.range(6).write.mode("overwrite").parquet(path)
    assert read_staged(spark, path).count() == 6
    mine = [k for k in _STAGED_CACHE if k[1] == path]
    assert len(mine) == 1 and mine[0][2] == "v2"


def test_staged_build_serializes_across_real_processes(tmp_path):
    """The round-12 defect was cross-PROCESS: two independent JVMs
    racing the same unbuilt artifact.  Launch two real subprocesses,
    each with its own SparkSession, both building the same artifact
    with a deliberately slow build; exactly one build may run, both
    must exit clean, and the artifact must be complete and stamped."""
    import subprocess
    import sys

    art = str(tmp_path / "xproc_artifact")
    marker_dir = str(tmp_path / "builds")
    os.makedirs(marker_dir)
    worker = f"""
import os, sys, time
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("xproc-" + sys.argv[1]).getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import staged_build, staging_current
with staged_build(spark, "xp-v1", {art!r}) as need:
    if need:
        open(os.path.join({marker_dir!r}, sys.argv[1]), "w").close()
        time.sleep(3)  # hold the lease across the other's gate check
        spark.range(7).write.mode("overwrite").parquet({art!r})
assert staging_current({art!r}, "xp-v1")
assert spark.read.parquet({art!r}).count() == 7
print("WORKER_OK", sys.argv[1])
"""
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", worker, name],
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
        )
        for name in ("p1", "p2")
    ]
    outs = [p.communicate(timeout=300)[0].decode() for p in procs]
    for p, out in zip(procs, outs):
        assert p.returncode == 0, out[-2000:]
        assert "WORKER_OK" in out, out[-2000:]
    assert len(os.listdir(marker_dir)) == 1  # exactly one build ran
    assert not [n for n in os.listdir(tmp_path) if "lock" in n.lower()]


def test_pq_codebook_repair_runs_under_build_lease(spark, sf_dir, monkeypatch):
    """Stamped-current dir whose codebook.json was externally removed:
    the repair must go through staged_build's LEASED path (ADVICE r13 —
    the prior `need or not isfile` body condition retrained on the
    lock-free fast path, so two repairers could interleave cb_file
    writes).  Since r15 _pq_train forces that via staged_build's
    `extra_need` gate (re-probed under the lease; the stamp is never
    deleted, so the artifact stays readable-current for concurrent
    fast-path readers throughout — ADVICE r14 low #3); assert the
    rebuild enters staged_build with need=True, restores the identical
    codebook, and the stamp is current after."""
    import json

    from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import (
        staged_build as real_staged_build,
        staging_current,
        staging_dir,
    )
    from ingest_sharepoint_file_to_fabric_lakehouse_spark.operators import (
        similarity as sim,
    )

    engine.load_all()
    engine.QUERIES["sim_pq_adc_topk"](spark, sf_dir).count()  # build once
    cb_dir = staging_dir(sf_dir, "pq_codebook_v1")
    cb_file = f"{cb_dir}/codebook.json"
    assert os.path.isfile(cb_file)
    with open(cb_file) as fh:
        before = json.load(fh)
    os.remove(cb_file)  # the freak state: stamp current, payload gone
    sim._PQ_CB_CACHE.clear()

    seen: list[tuple[str, bool]] = []

    from contextlib import contextmanager

    @contextmanager
    def recording_staged_build(spark_, token, *paths, **kw):
        with real_staged_build(spark_, token, *paths, **kw) as need:
            seen.append((paths[0], need))
            yield need

    monkeypatch.setattr(sim, "staged_build", recording_staged_build)
    engine.QUERIES["sim_pq_adc_topk"](spark, sf_dir).count()
    # the query stages other (still-current) artifacts too; the
    # codebook's own build is the one that must re-enter LEASED
    assert (cb_dir, True) in seen, (
        "the repair must take the leased build path, not the lock-free "
        f"fast path (saw {seen})"
    )
    assert os.path.isfile(cb_file)
    with open(cb_file) as fh:
        assert json.load(fh) == before, "repair must reproduce the codebook"
    from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import (
        source_fingerprint,
    )

    assert staging_current(cb_dir, source_fingerprint(sf_dir, "embeddings"))


def test_staged_build_extra_need_is_double_checked(spark, tmp_path):
    """staged_build's `extra_need` gate (r15): evaluated on the
    lock-free fast path AND re-probed under the lease.  A gate that
    reads True outside the lock but False under it (= a racing winner
    repaired the payload while we waited on the lease) must yield
    need=False — the loser reuses, never retrains.  A gate still True
    under the lock forces need=True even with every stamp current, and
    the stamp is NEVER deleted along the way (the pre-r15 un-stamp
    trick left the artifact transiently unstamped for concurrent
    fast-path readers)."""
    from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import (
        staged_build,
        staging_current,
    )

    p = str(tmp_path / "en_art")
    with staged_build(spark, "tok1", p) as need:
        assert need
        spark.range(3).write.mode("overwrite").parquet(p)
    assert staging_current(p, "tok1")

    # None / gate-False: byte-identical fast path, body skipped
    with staged_build(spark, "tok1", p) as need:
        assert not need
    with staged_build(spark, "tok1", p, extra_need=lambda: False) as need:
        assert not need

    # True outside the lock, False under it (winner repaired first):
    # the loser must NOT rebuild
    probes = {"n": 0}

    def raced_gate():
        probes["n"] += 1
        return probes["n"] == 1  # fast path: damaged; under lease: repaired

    with staged_build(spark, "tok1", p, extra_need=raced_gate) as need:
        assert not need, "loser of a repair race must reuse, not retrain"
    assert probes["n"] == 2, "gate must be re-probed under the lease"
    assert staging_current(p, "tok1")

    # still True under the lock: forces the rebuild with stamps current,
    # and the stamp stays current throughout (no transient un-stamp)
    entered = {"n": 0}
    with staged_build(spark, "tok1", p, extra_need=lambda: True) as need:
        assert need, "a persistent payload defect must force the rebuild"
        assert staging_current(p, "tok1"), "stamp must never be deleted"
        entered["n"] += 1
        spark.range(3).write.mode("overwrite").parquet(p)
    assert entered["n"] == 1
    assert staging_current(p, "tok1")


def test_staged_build_stamp_kill_matrix(spark, tmp_path, monkeypatch):
    """Kill-at-step coverage of staged_build's stamp sequence on a
    MULTI-PATH group (r13 verdict ask #6, mirroring the MERGE crash
    matrix): die (a) after the artifact writes but before any stamp,
    (b) between the stamps of the group.  In every crash state a
    reader's group gate — all(staging_current(p, token)) — must be
    False (a half-stamped group is never served as current), and the
    next builder must rebuild and complete the whole group.

    Exception-without-stamp and process death are indistinguishable to
    the stamp files; the builder lease is released by the in-process
    `finally` here, while real process death leaves it to the TTL
    takeover (covered by test_stale_lease_takeover in the MERGE
    suite — same lock code)."""
    from ingest_sharepoint_file_to_fabric_lakehouse_spark import core
    from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import (
        staged_build,
        staging_current,
    )

    class Die(RuntimeError):
        pass

    def build_group(pa, pb):
        spark.range(4).write.mode("overwrite").parquet(pa)
        spark.range(6).write.mode("overwrite").parquet(pb)

    # --- (a) crash after artifact writes, before the stamp loop ---
    pa, pb = str(tmp_path / "ga"), str(tmp_path / "gb")
    import pytest as _pytest

    with _pytest.raises(Die):
        with staged_build(spark, "v1", pa, pb) as need:
            assert need
            build_group(pa, pb)
            raise Die("after_artifact_write")
    assert not staging_current(pa, "v1") and not staging_current(pb, "v1")

    # --- (b) crash BETWEEN the stamps of the group ---
    real_stamp = core.stamp_staging
    stamped: list[str] = []

    def stamp_then_die(path, token):
        if stamped:  # second stamp of the group: die before writing it
            raise Die("between_stamps")
        real_stamp(path, token)
        stamped.append(path)

    monkeypatch.setattr(core, "stamp_staging", stamp_then_die)
    with _pytest.raises(Die):
        with staged_build(spark, "v1", pa, pb) as need:
            assert need
            build_group(pa, pb)
    monkeypatch.setattr(core, "stamp_staging", real_stamp)
    # exactly one stamp landed — the READER-FACING invariant: the
    # group-level gate is False, so no consumer serves the torn group
    assert stamped == [pa]
    assert staging_current(pa, "v1") and not staging_current(pb, "v1")
    assert not all(staging_current(p, "v1") for p in (pa, pb))

    # --- recovery: the next builder rebuilds and completes the group ---
    rebuilt: list[bool] = []
    with staged_build(spark, "v1", pa, pb) as need:
        rebuilt.append(need)
        if need:
            build_group(pa, pb)
    assert rebuilt == [True], "a half-stamped group must trigger a rebuild"
    assert staging_current(pa, "v1") and staging_current(pb, "v1")
    # no lock debris from any of the three builders
    assert not [n for n in os.listdir(tmp_path) if "lock" in n.lower()]
