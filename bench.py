"""Benchmark runner: times every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {key: sec}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def interleaved_reruns(
    keys: list,
    measure,
    probe,
    *,
    passes: int = 2,
    probe_every: int = 20,
    episode_factor: float = 2.0,
    prior_quiet_probe: float | None = None,
    log=None,
):
    """Stall-robust rerun sampler (protocol v10.1's variance guard).

    v9 took a key's two reruns BACK-TO-BACK, so its three samples were
    maximally time-correlated: one contiguous multi-minute host stall
    episode during the rerun phase inflated BOTH reruns of every key it
    covered, and the "stall-robust" median became the stall (the r13
    driver run: rerun ranks ~24-55 inflated 2-6x on samples 2 AND 3
    while every first-pass sample matched the quiet-host run).  Two
    independent defenses here:

    * **Pass interleaving** — all keys take sample 2, then all keys
      take sample 3.  A contiguous episode now hits each key in at most
      ONE pass, so the median of three keeps two clean samples.
    * **Episode guard** — a cheap fixed machine-speed probe runs every
      ``probe_every`` measurements; a window whose closing probe
      exceeds ``episode_factor`` x the quiet reference speed has every
      sample inside it re-measured after the passes finish, each
      resample bracketed by its own probe so a still-stalled host is
      recorded in the artifact rather than laundered into the medians.

    v10 derived the reference speed from 3 probes taken ONCE, at phase
    start — so a stall already in progress there became the baseline
    and the guard went silently blind for the whole run (``flagged=0,
    still_hot=0`` while both interleaved passes of a short key list
    could sit fully inside the episode; the r14 verdict's falsifying
    example).  v10.1 closes that:

    * the quiet reference is RUN-WIDE and ROBUST: the minimum of (a)
      the 25th percentile of every successful pass-phase probe
      (baseline + checkpoint + post-pass closing) and (b) the optional
      ``prior_quiet_probe`` — a same-units probe value captured
      earlier in the session, minutes before the rerun phase, so even
      an episode spanning the entire phase is judged against a quiet
      epoch.  The p25 (never a strict min, in either component) is
      deliberate: the probe job's OWN quiet distribution spans ~2x in
      a long session (JIT ramp + session aging — measured 0.16-0.38 s
      with no host stall), so a single lucky probe admitted as the
      reference cascades into flagging hundreds of healthy windows
      (measured live, both strict-min cuts).  A stall episode long
      enough to threaten a median must cover a key in BOTH passes and
      therefore dominates whole stretches of the probe log, which the
      p25 shrugs off as long as the episode covers under ~75 % of the
      probes — and past that the prior seed takes over;
    * window judgment is RETROACTIVE: every window is recorded with
      its closing probe and judged only after the passes finish,
      against the completed reference — a stall already in progress
      at phase start (v10's blind spot) therefore cannot define the
      reference.  The judge loop re-checks for fresh flags after each
      resample round and terminates because the flagged set only
      grows and windows are finite (with the reference fixed after
      the passes it converges after one round by construction);
    * one unconditional closing probe after the passes guarantees at
      least one post-pass observation enters the reference, so an
      episode covering every in-pass probe is still detected the
      moment it ends.

    ``measure(key) -> float`` times one execution; ``probe() -> float``
    times the fixed reference job.  Returns ``(samples, errors, meta)``:
    ``samples[key]`` is one float per completed pass (resampled values
    replacing flagged ones; a flagged sample that could NOT be
    re-measured — its key errored — is replaced with ``None`` so the
    caller never publishes a known-hot sample as part of a clean
    median), ``errors[key]`` the first exception (the key takes no
    further samples), ``meta`` the guard's audit trail (baseline,
    probe logs, flagged/resampled/still-hot counts).

    The probe is itself a real job that can fail transiently; a probe
    failure must never abort the phase (per-key ``measure`` failures
    don't).  A failed probe records ``-1.0`` in the probe log and the
    window it closes is unjudgeable (not flagged) — the pass
    interleaving still protects those medians; if NO probe ever
    succeeds (and no prior seed was given) the guard is disabled for
    the run and the meta says so.
    """
    log = log or (lambda m: None)

    def safe_probe():
        try:
            return probe()
        except Exception as ex:
            log(f"# episode guard: probe failed ({type(ex).__name__}: {ex})")
            return None

    pass_probes: list[float] = []  # successful pass-phase probes
    tail_probes: list[float] = []  # successful resample-bracketing probes

    def take_probe(into: list, records: list):
        p = safe_probe()
        into.append(-1.0 if p is None else p)
        if p is not None:
            records.append(p)
        return p

    def quiet_ref():
        # NO strict-min component anywhere: the live r15 runs measured
        # the probe's QUIET distribution spanning 0.16-0.38 s (JIT ramp
        # + session aging), so any single lucky probe admitted as the
        # reference cascades into mass-flagging healthy windows (first
        # cut: run-wide min flagged 220/514; second cut kept a strict
        # min over the resample-tail probes and STILL cascaded 20 ->
        # 280 flags across 4 judge rounds).  The full-phase-stall case
        # the tail-min existed for is covered by the prior seed, which
        # bench.main always passes.
        comps = []
        n = len(pass_probes)
        if n > 1:
            # p25, floored at index 1 so the smallest probe is NEVER
            # the reference on its own (ADVICE r15: plain n//4 is
            # index 0 — a strict min — whenever n <= 4, e.g. under
            # heavy probe failure, re-admitting the lucky-probe
            # cascade this whole design exists to prevent)
            comps.append(sorted(pass_probes)[max(1, n // 4)])
        elif n == 1 and prior_quiet_probe is None:
            # a single successful probe is a strict min by
            # construction; admit it only as the evidence of last
            # resort (no prior seed) — better than disabling the guard
            comps.append(pass_probes[0])
        if prior_quiet_probe is not None:
            comps.append(prior_quiet_probe)
        return min(comps) if comps else None

    base_log: list[float] = []
    for _ in range(3):
        take_probe(base_log, pass_probes)
    probe_log: list[float] = []  # checkpoint + closing + resample probes
    samples: dict = {k: [] for k in keys}
    errors: dict = {}
    # windows are RECORDED here with their closing probe and judged
    # retroactively (v10 judged at close time against a possibly-hot
    # baseline — the blind spot)
    windows: list = []  # (closing_probe | None, [(key, pass_idx), ...])
    window: list = []  # (key, pass_idx) since the last probe

    def checkpoint() -> None:
        nonlocal window
        if not window:
            return
        windows.append((take_probe(probe_log, pass_probes), window))
        window = []

    for pi in range(passes):
        for key in keys:
            if key in errors:
                continue
            try:
                samples[key].append(measure(key))
            except Exception as ex:
                errors[key] = ex
                continue
            window.append((key, pi))
            if len(window) >= probe_every:
                checkpoint()
        checkpoint()  # close the pass's tail window at the pass boundary
    # unconditional closing probe: the reference must contain at least
    # one post-pass observation (see docstring)
    take_probe(probe_log, pass_probes)

    flagged_set: set = set()  # (key, pi) judged hot in any round
    resample_probes: list = []  # closing probe of each successful resample
    resampled = 0
    rounds = 0
    if quiet_ref() is None:
        log("# episode guard DISABLED: no probe succeeded and no prior seed")
    while True:
        base = quiet_ref()
        if base is None:
            break
        fresh = [
            kp
            for p, win in windows
            if p is not None and p > episode_factor * base
            for kp in win
            if kp not in flagged_set
        ]
        if not fresh:
            break
        rounds += 1
        flagged_set.update(fresh)
        log(
            f"# episode guard: round {rounds} flags {len(fresh)} samples "
            f"(quiet reference {base:.3f}s)"
        )
        for key, pi in fresh:
            if key not in errors:
                try:
                    v = measure(key)
                except Exception as ex:
                    errors[key] = ex
            if key in errors:
                # flagged but NOT re-measured: the sample is known-hot
                # and must not survive into a 3-sample "median" — null
                # it so the caller's partial/min path (stall only ever
                # inflates, min is the robust pick) handles the key
                samples[key][pi] = None
                continue
            resample_probes.append(take_probe(probe_log, tail_probes))
            samples[key][pi] = v
            resampled += 1
        # loop back to re-judge: with the reference fixed after the
        # passes (tail probes deliberately excluded — see quiet_ref)
        # no new window can read hot, so this converges immediately;
        # the structure stays a fixpoint loop so any future reference
        # refinement inherits termination by flagged-set growth
    # still_hot judged against the FINAL reference: resamples whose own
    # bracketing probe reads hot mean the episode outlived the retries
    # and the artifact must say so rather than launder it
    final_base = quiet_ref()
    still_hot = sum(
        1
        for p in resample_probes
        if p is not None and final_base is not None and p > episode_factor * final_base
    )
    meta = {
        "baseline_sec": None if final_base is None else round(final_base, 3),
        "reference": "min(p25-floored-above-min(pass-phase-probes), prior-seed)",
        "baseline_probes": [round(p, 3) for p in base_log],
        "prior_quiet_probe": prior_quiet_probe,
        "probes": [round(p, 3) for p in probe_log],
        "episode_factor": episode_factor,
        "probe_every": probe_every,
        "flagged": len(flagged_set),
        "resampled": resampled,
        "judge_rounds": rounds,
        "still_hot": still_hot,
    }
    return samples, errors, meta


def full_artifact_path(base_dir: str, cpus: int) -> tuple[str, dict]:
    """Pick the BENCH_FULL artifact this run may write, v10.3 (r16
    verdict item 2): BENCH_FULL.json is canonical for the core count
    that wrote it; a run at a DIFFERENT core count (the driver's
    scaling sweep) goes to BENCH_FULL.c<N>.json instead of clobbering
    the full-core per-key map — r16 lost its only driver 32-core
    per-key data to the 8-core sweep's last-writer-wins overwrite.
    Returns (path, prior artifact at that path), so the cold-map
    carry-forward never mingles records measured at different widths.
    A pre-v10.3 prior (no "cpus" field) keeps canonical ownership —
    its per-key data is already mixed-provenance and the next write
    stamps the field."""

    def _load(p: str) -> dict:
        try:
            with open(p) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    path = os.path.join(base_dir, "BENCH_FULL.json")
    prior = _load(path)
    prior_cpus = prior.get("cpus")
    if prior_cpus is not None and int(prior_cpus) != cpus:
        path = os.path.join(base_dir, f"BENCH_FULL.c{cpus}.json")
        prior = _load(path)
    return path, prior


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    # Guarantee the JSON line is the ONLY stdout output: swap fd 1 to
    # stderr at the OS level BEFORE the JVM launches, so anything the
    # JVM/py4j/log4j writes to "stdout" lands on stderr too.  The real
    # stdout is kept on a duplicated fd for the final JSON line.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    from pyspark.sql import SparkSession

    from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import (
        recommended_session_conf,
    )

    builder = SparkSession.builder.master(f"local[{cpus}]")
    # engine-recommended session conf (codegen class cache sized to the
    # registry, UTC, AQE, Arrow, shuffle partitions = local parallelism)
    # — single source of truth in core.recommended_session_conf; the
    # codegen cache entry is STATIC and must be set here at build time
    for k, v in recommended_session_conf(cpus).items():
        builder = builder.config(k, v)
    spark = (
        builder
        # deliberately modest heap: with an oversized (24g) heap the JVM
        # never GCs, Spark's GC-driven ContextCleaner never frees
        # broadcast/shuffle state, and the session degrades 3-4x over
        # ~100 queries; 8g keeps cleanup flowing (measured 95-103s vs
        # 328-420s total at sf0.1)
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # 92 codegen'd queries in one JVM: default 240m code cache silently
        # disables the JIT when full — the classic long-session slowdown
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g")
        # shuffle/spill/localCheckpoint blocks on the RAM disk: /tmp is
        # disk-backed here and sf0.1 scratch is tens of MB, so block
        # I/O (eager localCheckpoints especially) stops paying disk
        # latency.  Cluster deployments size spark.local.dir to real
        # NVMe instead — this is bench-host placement, not semantics.
        .config(
            "spark.local.dir",
            "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
        )
        .appName("ingest-sharepoint-file-to-fabric-lakehouse-spark-bench")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    qs = e.queries()

    # untimed warmup: initialize codegen/parquet/Arrow/python-worker paths once
    try:
        e.entry(spark).collect()
        spark.createDataFrame([(1, "x")], "a long, b string").count()
        import pandas as _pd
        from pyspark.sql.functions import pandas_udf

        # NB: no type hints here — this module has `from __future__
        # import annotations`, which stringifies them and makes
        # pandas_udf raise UNSUPPORTED_SIGNATURE (that silently
        # skipped every warmup below this line for three rounds);
        # the explicit returnType covers inference.
        @pandas_udf("long")
        def _warm(s):
            return s

        spark.range(64).select(_warm("id")).count()
        # cogrouped applyInPandas runs a distinct worker path (grouped
        # Arrow UDF runner) — warm it too or its ~2s lands on the
        # first cogroup key
        _l = spark.createDataFrame(_pd.DataFrame({"k": [1], "v": [1]}))
        _r = spark.createDataFrame(_pd.DataFrame({"k": [1], "w": [2]}))

        def _wmerge(lf, rf):
            return lf

        _l.groupBy("k").cogroup(_r.groupBy("k")).applyInPandas(
            _wmerge, "k long, v long"
        ).count()
        # streaming engine init (~3s) otherwise lands on the first
        # streaming key: run a 1-row file stream through a noop sink
        import tempfile

        wtmp = tempfile.mkdtemp()
        spark.createDataFrame(_pd.DataFrame({"a": [1]}), "a long").write.mode(
            "overwrite"
        ).parquet(f"{wtmp}/in")
        wq = (
            spark.readStream.schema("a long")
            .parquet(f"{wtmp}/in")
            .writeStream.format("noop")
            .option("checkpointLocation", f"{wtmp}/ck")
            .trigger(availableNow=True)
            .start()
        )
        wq.awaitTermination(60)
        # applyInPandasWithState python-worker spin-up (~2s) otherwise
        # lands on the first custom-stateful streaming key
        from pyspark.sql.streaming.state import GroupStateTimeout

        def _wupd(key, pdfs, state):
            n = sum(len(p) for p in pdfs)
            yield _pd.DataFrame({"a": [key[0]], "n": [n]})

        wq2 = (
            spark.readStream.schema("a long")
            .parquet(f"{wtmp}/in")
            .groupBy("a")
            .applyInPandasWithState(
                _wupd,
                outputStructType="a long, n long",
                stateStructType="n long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
            .writeStream.format("noop")
            # the stateful UDF declares update-mode output; the sink
            # must match or the start() raises and ABORTS the rest of
            # the warmup chain (observed r15: the two Python
            # DataSource runner warmups below were silently skipped,
            # landing their ~5s/~4s spin-up on the first datasource
            # keys)
            .outputMode("update")
            .option("checkpointLocation", f"{wtmp}/ck2")
            .trigger(availableNow=True)
            .start()
        )
        wq2.awaitTermination(60)
        # Python DataSource runner spin-up (~5s) otherwise lands on the
        # first format("...") key: run a 1-row custom source through it
        from pyspark.sql.datasource import DataSource, DataSourceReader

        class _WarmReader(DataSourceReader):
            def read(self, partition):
                yield (1,)

        class _WarmSource(DataSource):
            @classmethod
            def name(cls):
                return "bench_warm_ds"

            def schema(self):
                return "a bigint"

            def reader(self, schema):
                return _WarmReader()

        spark.dataSource.register(_WarmSource)
        spark.read.format("bench_warm_ds").load().count()
        # STREAMING Python data source runner is a separate worker path
        # (~4s spin-up) — drain a 1-row simple stream source so it
        # doesn't land on stream_datasource_sharepoint
        from pyspark.sql.datasource import SimpleDataSourceStreamReader

        class _WarmStreamReader(SimpleDataSourceStreamReader):
            def initialOffset(self):
                return {"i": 0}

            def read(self, start):
                if int(start["i"]) == 0:
                    return iter([(1,)]), {"i": 1}
                return iter([]), start

            def readBetweenOffsets(self, start, end):
                return iter([(1,)] if int(end["i"]) > int(start["i"]) else [])

        class _WarmStreamSource(DataSource):
            @classmethod
            def name(cls):
                return "bench_warm_stream_ds"

            def schema(self):
                return "a bigint"

            def simpleStreamReader(self, schema):
                return _WarmStreamReader()

        spark.dataSource.register(_WarmStreamSource)
        wq3 = (
            spark.readStream.format("bench_warm_stream_ds")
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", f"{wtmp}/ck3")
            .trigger(availableNow=True)
            .start()
        )
        wq3.awaitTermination(60)
        print("# warmup complete (incl. datasource runners)", file=sys.stderr)
    except Exception as ex:
        print(f"# warmup partial: {type(ex).__name__}: {ex}", file=sys.stderr)

    # Staged-frame prewarm (r14 verdict ask #4): on a warm-staging host
    # the first key to read each staged layout paid its session-first
    # materialization (schema inference, file listing, page-cache
    # faults, the docs() checkpoint's shuffle) — measured 4.38 s
    # session-first vs ~1.0 s steady state on dedup_jaccard_prefix.
    # That is SESSION state, not operator cost; touch every already-
    # stamped artifact (and the docs memo) untimed here so pass 1
    # measures the operator.  A fresh host has no stamped artifacts
    # yet — its first pass pays the BUILD, which stays attributed
    # under "cold" exactly as before.  The prewarm's own wall time is
    # recorded in the cold map so the artifact shows what was absorbed.
    prewarm: dict[str, dict] = {}
    try:
        import glob as _glob

        from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import (
            docs as _docs,
            read_staged as _read_staged,
            staging_dir as _staging_dir,
        )

        pw0 = time.time()
        _docs(spark, sf_dir).count()
        touched = ["docs_checkpoint"]
        for stamp in sorted(_glob.glob(f"{_staging_dir(sf_dir, '*')}/_SG_FINGERPRINT")):
            art = os.path.dirname(stamp)
            try:
                _read_staged(spark, art).count()
                touched.append(os.path.basename(art))
            except Exception:
                pass  # non-parquet payload (e.g. a JSON codebook) — skip
        pw_sec = round(time.time() - pw0, 3)
        prewarm["staged_frame_prewarm"] = {
            "build_pass_sec": pw_sec,
            "built": touched,
            "sf": sf_dir,
            "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "source": "bench.py prewarm",
        }
        print(
            f"# staged-frame prewarm: {len(touched)} frames in {pw_sec:.2f}s",
            file=sys.stderr,
        )
    except Exception as ex:
        print(f"# prewarm partial: {type(ex).__name__}: {ex}", file=sys.stderr)

    # Machine-speed calibration, protocol v9: identical code+data
    # measured 85.5 s on one boot and 110-133 s on the next (host/CPU-
    # frequency variance the variance guard can't remove).  Time a
    # fixed, data-independent reference job so runs are comparable
    # ACROSS boots.  v8 probed ONCE, up front — r10's probe happened to
    # land 1.7x faster than r9's, turning a 23% raw improvement into an
    # apparent normalized regression.  v9 probes BEFORE the sweep,
    # BETWEEN the first pass and the reruns, and AFTER, uses the MEDIAN
    # as the divisor, and records all probes + their spread so a noisy
    # calibration is visible in the artifact instead of silently
    # skewing the headline number.
    spark.range(1_000_000).selectExpr("sum(xxhash64(id) % 1000000) s").collect()  # codegen

    def _calib_probe() -> float:
        t0 = time.time()
        spark.range(2_000_000_000).selectExpr(
            "sum(xxhash64(id) % 1000000) s"
        ).collect()
        return round(time.time() - t0, 3)

    def _calib_par_probe() -> float:
        # v10.3 (r16 verdict item 2): the scalar probe is a single
        # WholeStageCodegen sum — it tracks CPU clock but was blind to
        # the r16 host episode that slowed MULTI-TASK work 1.6-1.7x
        # (scheduling fan-out, memory bandwidth, shuffle I/O) while the
        # scalar probe read ~0.59 s on both sides.  This second probe
        # is a fixed, data-independent SHUFFLE job: ~48M rows hashed
        # and exchanged across the session's full width, then reduced —
        # so it exercises task scheduling, exchange write+fetch and the
        # memory subsystem.  Both scalars are recorded; neither is used
        # to rescale the other.
        t0 = time.time()
        (
            spark.range(48_000_000)
            .selectExpr("xxhash64(id) h")
            .repartition("h")
            .selectExpr("sum(h % 1000003) s")
            .collect()
        )
        return round(time.time() - t0, 3)

    # Throwaway first: with the codegen class cache sized to the
    # registry (see the session conf), the mid/post calibration probes
    # reuse the cached generated class while a bare pre probe would
    # pay its one-time janino compile — measured 0.639 vs 0.497/0.530,
    # a 26.8 % spurious "spread" that reads as a noisy host.  All
    # three published probes must measure the same (warm) thing.
    _calib_probe()
    _calib_par_probe()
    calib_probes = [_calib_probe()]
    calib_par_probes = [_calib_par_probe()]
    print(
        f"# calibration probe (pre): {calib_probes[0]:.2f}s "
        f"(parallel {calib_par_probes[0]:.2f}s)",
        file=sys.stderr,
    )

    def _micro_probe() -> float:
        # ~1/4 the calibration probe: cheap enough to run every 20
        # reruns (~30 probes x ~0.2s on a ~110s phase), still a pure
        # JVM-side codegen job so it tracks host speed, not data
        t0 = time.time()
        spark.range(500_000_000).selectExpr(
            "sum(xxhash64(id) % 1000000) s"
        ).collect()
        return round(time.time() - t0, 3)

    # v10.1 guard seed: micro-probes taken NOW — minutes before the
    # rerun phase — so an episode spanning that phase's own probes is
    # still judged against a quiet epoch (the v10 blind spot: a stall
    # covering the 3 phase-start baseline probes became the baseline
    # and silently disabled the guard).  One throwaway first: the
    # probe's first execution carries its codegen/JIT compile (~3 s
    # measured vs ~0.25 s warm) and would make the seed useless.  The
    # seed is the MIN of 3 warm runs; if THIS moment is the hot one
    # instead, the guard's reference simply ignores the seed.
    _micro_probe()  # throwaway: probe codegen/JIT compile
    early_micro = min(_micro_probe() for _ in range(3))
    print(f"# micro probe seed (session start): {early_micro:.2f}s", file=sys.stderr)

    timings: dict[str, float] = {}
    total = 0.0
    # Execute in REVERSE registration order: queries() fronts the
    # driver's correctness window (this round's new/heavy keys), and
    # running those first lands them on a cold JIT — measured 2-3x
    # inflation on the expensive codegen-heavy plans.  The tail is the
    # long-stable cheap surface; running it first warms the JVM for
    # everyone.  Every key still runs exactly once and the total is
    # unchanged in meaning.
    import gc as _gc

    # Cold-build attribution + per-key warm execution: the staged
    # indexes (minhash frames, PPJoin jp_*, BM25 inverted index,
    # k-means codebook, …) are pure functions of the corpus, built once
    # and fingerprint-gated.  Each key's first execution here is
    # UNTIMED (wall recorded, not published): it absorbs (a) any staged
    # build on a fresh host — stamp events landing during it mark it a
    # build pass, recorded under "cold" in BENCH_FULL so a staging win
    # is never confused with a query win — and (b) the key's OWN
    # session-first costs: whole-stage-codegen compilation and JIT of
    # its generated code, broadcast machinery, first-shuffle setup.
    # (b) is new in r15: the r14 verdict adjudicated
    # dedup_jaccard_prefix's recurring 2.8-4.4 s pass-1 samples as
    # session warm-up settling to a ~1.0-1.2 s steady state — session
    # state, not operator cost, and the staged-frame prewarm above
    # proved insufficient because the dominant term is the plan's JIT
    # (measured: 5.3 s first execution vs 1.24 s second in a fresh
    # session with fully warm staging).  All three published samples
    # (first pass + two interleaved reruns) are now steady-state by
    # construction.
    from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import STAGING_EVENTS

    # Janino-compile guard (r15 verdict ask #3, root-caused this round):
    # ONE untimed warm execution is not always enough — sql_api_q2's
    # AQE-final plan generates 7 classes on its SECOND execution whose
    # source differs from the first execution's 32 (measured via
    # CodegenMetrics: deltas 32, 7, 0, 0, 0 across five runs), so the
    # timed pass-1 paid ~0.3-0.5 s of janino compilation and published
    # 2.6-2.8x its steady state.  Rather than guessing which keys need
    # a second warm-up, READ the JVM's compilation counter around the
    # timed pass: a nonzero delta means the sample is session-first
    # compile cost, not operator cost — re-measure once and record the
    # event under "jit_retimed" so the artifact shows what was absorbed.
    def _codegen_compile_counter():
        try:
            jvm = spark.sparkContext._jvm
            cls = jvm.java.lang.Class.forName(
                "org.apache.spark.metrics.source.CodegenMetrics$"
            )
            hist = cls.getField("MODULE$").get(None).METRIC_COMPILATION_TIME()
            hist.getCount()  # probe it works
            return lambda: hist.getCount()
        except Exception as ex:
            print(f"# jit guard unavailable: {type(ex).__name__}: {ex}", file=sys.stderr)
            return None

    compile_count = _codegen_compile_counter()
    jit_retimed: dict[str, dict] = {}

    cold: dict[str, dict] = {}
    warm_exec: dict[str, float] = {}  # untimed warm run's wall, per key

    ordered = list(reversed(qs.items()))
    for qi, (key, fn) in enumerate(ordered):
        if qi and qi % 20 == 0:
            # periodic GC nudge (untimed): Spark's ContextCleaner frees
            # broadcast/shuffle state only on GC, and ~114 queries in
            # one JVM otherwise degrade late-position queries 2-4x.
            # Python gc FIRST: py4j releases a JVM handle only when its
            # Python proxy is collected, so cycles holding DataFrame
            # refs pin the JVM objects through any number of JVM GCs.
            _gc.collect()
            spark.sparkContext._jvm.System.gc()
        # queries are independent: drop any persist() the previous
        # query left behind so cached blocks don't accumulate across
        # 129 queries and evict each other / stall the 8g heap
        try:
            spark.catalog.clearCache()
        except Exception:
            pass
        ev0 = len(STAGING_EVENTS)
        cw0 = compile_count() if compile_count else 0
        t0 = time.time()
        try:
            n = fn(spark, sf_dir).count()  # untimed warm execution
            warm_dt = time.time() - t0
            warm_compiled = (compile_count() - cw0) if compile_count else 0
            warm_exec[key] = round(warm_dt, 3)
            if len(STAGING_EVENTS) > ev0:
                built = [os.path.basename(p) for p, _ in STAGING_EVENTS[ev0:]]
                # provenance per record (ADVICE r11): cold numbers from
                # different fixtures/boots/code must be attributable,
                # not silently mingled across runs
                cold[key] = {
                    "build_pass_sec": round(warm_dt, 3),
                    "built": built,
                    "sf": sf_dir,
                    "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                    "source": "bench.py",
                }
                print(f"# {key}: cold build pass ({built})", file=sys.stderr)
            c0 = compile_count() if compile_count else 0
            t0 = time.time()
            fn(spark, sf_dir).count()  # the published first-pass sample
            dt = time.time() - t0
            newly = (compile_count() - c0) if compile_count else 0
            if newly > 0 and warm_compiled > 0:
                # v10.3 (r16 verdict item 3): the WARM exec compiled
                # too, so compilation is per-execution steady state for
                # this key (data-dependent plan literals — the
                # corpus_dedup/sql_api_q2 class); a retime would just
                # compile again and publish the same number.  Keep the
                # pass-1 sample, record the event as steady-state.
                jit_retimed[key] = {
                    "classes": int(newly),
                    "steady_state_compile": True,
                    "warm_compiled": int(warm_compiled),
                }
            elif newly > 0:
                # the timed pass generated + janino-compiled fresh
                # classes (plan variants the warm exec didn't produce —
                # the sql_api_q2 mechanism): that wall is session
                # state.  Re-measure ONCE; record both walls and the
                # class count, and whether the retime itself compiled
                # (a per-execution-source plan would — none known).
                c1 = compile_count()
                t0 = time.time()
                fn(spark, sf_dir).count()
                retimed_dt = time.time() - t0
                jit_retimed[key] = {
                    "classes": int(newly),
                    "contaminated_sec": round(dt, 3),
                    "retimed_sec": round(retimed_dt, 3),
                    "retime_compiled": int(compile_count() - c1),
                }
                print(
                    f"# {key}: pass-1 compiled {newly} classes "
                    f"({dt:.2f}s) -> retimed {retimed_dt:.2f}s",
                    file=sys.stderr,
                )
                dt = retimed_dt
            timings[key] = round(dt, 3)
            print(
                f"# {key}: {dt:.2f}s (warm-exec {warm_dt:.2f}s) rows={n}",
                file=sys.stderr,
            )
        except Exception as ex:  # keep benching; a broken query shows as -1
            timings[key] = -1.0
            print(f"# {key}: ERROR {type(ex).__name__}: {ex}", file=sys.stderr)

    # Variance guard, protocol v8: long sessions degrade
    # non-deterministically (GC / code-cache / cleaner state) and the
    # host itself stalls in multi-second episodes (hypervisor CPU
    # steal: an r6 pair on one boot measured 145.6 s vs 231.8 s on
    # identical code+data, with a 0.2 s key first-measured at 21.8 s).
    # Episodes hit whichever key is running, so EVERY key is measured
    # TWO more times on a GC-nudged JVM and the reported per-key
    # figure is the MEDIAN of the three — robust to a single stall
    # episode in either direction, unlike the v6 min (optimistic:
    # kept lucky passes) or the raw first pass (pessimistic: kept
    # stalls).  v7 medianed only keys over 0.8 s, which left every
    # sub-second key single-sampled and produced phantom 1.3-1.9x
    # round-over-round "regressions" on noise (the r8 verdict's
    # text_chunk_overlap / scan_json_lines list).  If a rerun errors,
    # the recorded figure is the median/min of the samples actually
    # collected and the key lands in "partial" — a first-pass stall
    # is never silently promoted to the official number while still
    # printing as a median.  All samples land in BENCH_FULL.json so
    # round-over-round deltas are attributable; with calib_sec
    # recorded alongside, total/calib is the machine-independent
    # comparison figure.
    calib_probes.append(_calib_probe())
    calib_par_probes.append(_calib_par_probe())
    print(
        f"# calibration probe (mid): {calib_probes[-1]:.2f}s "
        f"(parallel {calib_par_probes[-1]:.2f}s)",
        file=sys.stderr,
    )

    samples: dict[str, list[float]] = {}
    partial: dict[str, int] = {}
    # v10 rerun phase: pass-interleaved with an episode guard (see
    # interleaved_reruns).  Order is descending first-pass cost within
    # each pass — the expensive keys' reruns land while the JVM is
    # freshly GC-nudged, same rationale as v9.
    rerun_order = [
        k for k, v in sorted(timings.items(), key=lambda kv: -kv[1]) if v > 0
    ]
    first_pass = dict(timings)
    # GC nudge per rerun is ~0.3 s x 2 x 252 keys of pure overhead if
    # done for every key; sub-second keys get a nudge every 20 reruns
    # (same cadence as the first pass), slow keys get one each rerun.
    _nmeasured = {"n": 0}

    def _measure(key: str) -> float:
        _nmeasured["n"] += 1
        if first_pass[key] > 0.8 or _nmeasured["n"] % 20 == 0:
            _gc.collect()
            spark.sparkContext._jvm.System.gc()
        try:
            spark.catalog.clearCache()
        except Exception:
            pass
        t0 = time.time()
        qs[key](spark, sf_dir).count()
        return round(time.time() - t0, 3)

    rr_samples, rr_errors, guard_meta = interleaved_reruns(
        rerun_order,
        _measure,
        _micro_probe,
        prior_quiet_probe=early_micro,
        log=lambda m: print(m, file=sys.stderr),
    )
    print(
        f"# episode guard: baseline {guard_meta['baseline_sec']}s, "
        f"{guard_meta['flagged']} flagged, {guard_meta['resampled']} resampled, "
        f"{guard_meta['still_hot']} still hot",
        file=sys.stderr,
    )
    for key in rerun_order:
        # None = flagged-hot sample whose resample errored: dropping it
        # routes the key onto the partial/min path below instead of
        # publishing a known-hot sample inside a clean-looking median
        samples[key] = [first_pass[key]] + [
            v for v in rr_samples.get(key, []) if v is not None
        ]
        if key in rr_errors:
            ex = rr_errors[key]
            print(
                f"# rerun {key}: ERROR {type(ex).__name__}: {ex}",
                file=sys.stderr,
            )
        got = sorted(samples[key])
        if len(got) == 3:
            timings[key] = got[1]
            tag = "median"
        else:
            # fewer than 3 samples: the min is the stall-robust choice
            # (a stall only ever inflates), and the key is flagged so
            # BENCH deltas stay attributable
            timings[key] = got[0]
            partial[key] = len(got)
            tag = f"partial({len(got)} samples, min)"
        print(
            f"# {tag} {key}: {timings[key]:.2f}s from {samples[key]}",
            file=sys.stderr,
        )
    total = sum(v for v in timings.values() if v > 0)

    calib_probes.append(_calib_probe())
    calib_par_probes.append(_calib_par_probe())
    print(
        f"# calibration probe (post): {calib_probes[-1]:.2f}s "
        f"(parallel {calib_par_probes[-1]:.2f}s)",
        file=sys.stderr,
    )
    positive_par = sorted(p for p in calib_par_probes if p > 0)
    calib_par_sec = positive_par[len(positive_par) // 2] if positive_par else 0.0
    calib_par_spread_pct = (
        round(
            100.0 * (positive_par[-1] - positive_par[0]) / calib_par_sec, 1
        )
        if calib_par_sec
        else None
    )
    positive_probes = sorted(p for p in calib_probes if p > 0)
    calib_sec = positive_probes[len(positive_probes) // 2] if positive_probes else 0.0
    calib_spread_pct = (
        round(100.0 * (positive_probes[-1] - positive_probes[0]) / calib_sec, 1)
        if calib_sec
        else None
    )
    print(
        f"# calibration median {calib_sec:.2f}s spread {calib_spread_pct}% "
        f"from {calib_probes}",
        file=sys.stderr,
    )
    # normalized per-key MEDIAN (not total/n): robust to one slow key
    # dominating, and guarded against a degenerate zero calibration so
    # a partial run still emits its artifact (ADVICE r10).
    _pos = sorted(v for v in timings.values() if v > 0)
    _median_key_sec = _pos[len(_pos) // 2] if _pos else 0.0
    calib_norm_per_key = (
        round(total / calib_sec / max(len(timings), 1), 4) if calib_sec else None
    )
    calib_norm_median_key = (
        round(_median_key_sec / calib_sec, 4) if calib_sec else None
    )

    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    # The driver captures only a ~2 kB tail of stdout; a full per-query
    # map (~3.5 kB for 129 queries) pushed the JSON line out of its
    # window three rounds running ("parsed": null).  Emit a COMPACT
    # line — queries trimmed to the 10 slowest — and write the complete
    # per-query map to BENCH_FULL.json next to this script.
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    # Protocol is versioned so per-key numbers are only compared across
    # runs measured the same way (ADVICE r5: the r5 order change made
    # per-key rows incomparable to earlier rounds without saying so).
    protocol = {
        "version": 10.3,
        "order": "reversed-registration",
        "variance_guard": (
            "median-of-3-all-keys;untimed-warm-exec-per-key;"
            "jit-compile-guarded-pass1;steady-state-compile-skip;"
            "pass-interleaved-reruns;episode-guard-p25-retro-judge;"
            "prior-quiet-seed;partial-marked-min;staged-frame-prewarm"
        ),
        # v10.3: a second, SHUFFLE-shaped probe (multi-task exchange)
        # recorded alongside the scalar codegen probe — the r16 host
        # episode slowed multi-task work 1.6-1.7x while the scalar
        # probe was flat, so "machine-independent" normalization
        # silently failed; two scalars make that visible.  Also:
        # per-cpus BENCH_FULL artifacts (a scaling sweep at a lower
        # core count no longer clobbers the full-core per-key map),
        # and the jit retime is skipped for keys whose WARM exec also
        # compiled (per-execution steady-state compilation — a retime
        # just re-measures the same thing).
        "calibration": (
            "median-of-3-probes(pre/mid/post);spread-recorded;"
            "parallel-shuffle-probe-recorded"
        ),
    }
    line = json.dumps(
        {
            "metric": "total_query_wall_sec",
            "value": round(total, 3),
            "unit": "sec",
            "sf": sf_val,
            "n_queries": len(timings),
            "protocol_version": protocol["version"],
            "calib_sec": calib_sec,
            "calib_probes": calib_probes,
            "calib_spread_pct": calib_spread_pct,
            # v10.3: the multi-task (shuffle) probe's median — a host
            # episode that degrades parallel work but not CPU clock
            # shows here while calib_sec stays flat
            "calib_par_sec": calib_par_sec,
            "calib_par_spread_pct": calib_par_spread_pct,
            # machine-independent figures (None when calibration failed):
            # total/calib/n_keys for continuity with r8-r10, plus the
            # v9 headline — the normalized per-key MEDIAN, robust to a
            # single slow key and to probe noise
            "calib_normalized_per_key": calib_norm_per_key,
            "calib_normalized_median_key": calib_norm_median_key,
            # "queries" is a tail-truncated excerpt (driver captures
            # ~2 kB of stdout); BENCH_FULL.json holds the canonical
            # full per-key map + raw samples
            "queries_note": "10 slowest only; full map in BENCH_FULL.json",
            # staged-index build passes absorbed by first runs this
            # session (per-artifact detail in BENCH_FULL "cold")
            "n_cold_builds": len(cold),
            # keys whose timed pass-1 compiled fresh generated classes
            # and was re-measured (detail in BENCH_FULL "jit_retimed")
            "n_jit_retimed": len(jit_retimed),
            # episode guard summary: >0 flagged means a host stall
            # episode crossed the rerun phase and the flagged samples
            # were re-measured (full audit trail in BENCH_FULL)
            "episode_guard": {
                k: guard_meta[k] for k in ("flagged", "resampled", "still_hot")
            },
            "queries": slowest,
        }
    )
    full = {
        "metric": "total_query_wall_sec",
        "value": round(total, 3),
        "unit": "sec",
        "sf": sf_val,
        "protocol": protocol,
        "calib_sec": calib_sec,
        "calib_probes": calib_probes,
        "calib_spread_pct": calib_spread_pct,
        "calib_par_sec": calib_par_sec,
        "calib_par_probes": calib_par_probes,
        "calib_par_spread_pct": calib_par_spread_pct,
        "calib_normalized_per_key": calib_norm_per_key,
        "calib_normalized_median_key": calib_norm_median_key,
        # v10.3: the core count this artifact was measured at — per-cpus
        # artifact files keep scaling sweeps from clobbering this map
        "cpus": int(cpus),
        "queries": timings,
        "samples": samples,
        # the untimed warm execution's wall per key (session-first
        # costs: plan codegen/JIT, staged builds, first shuffle) —
        # lets an auditor verify pass-1 really measured steady state
        # (warm_exec >> queries[key] on a key's first-ever session is
        # the absorbed warm-up, not a hidden regression)
        "warm_exec": warm_exec,
        # keys whose TIMED first pass janino-compiled fresh generated
        # classes (plan variants the warm exec didn't reach — the
        # sql_api_q2 second-execution mechanism) and were re-measured
        # once; both walls + class counts recorded so the absorption
        # is auditable
        "jit_retimed": jit_retimed,
        "partial": partial,
        "episode_guard": guard_meta,
        # build-pass wall time for every staged artifact built during
        # this run (first pass of each staged key on a cold host);
        # per-key medians above are warm steady-state by construction.
        # MERGED with the prior artifact's map below — a warm-staging
        # rerun rebuilds only the every-run sinks, and overwriting the
        # file wholesale clobbered the 30-record union the r11 final
        # commits paid to build (r11 verdict defect #1).  This run's
        # records win per key; prior records for keys not rebuilt this
        # run are carried forward (their provenance fields say when/
        # where they were measured).
        "cold": cold,
        # the untimed staged-frame prewarm's own record lives in its
        # OWN field — it is not a registry query, and parking it inside
        # the per-query cold map under a pseudo-key broke any consumer
        # iterating cold entries as query names (ADVICE r15)
        "prewarm": prewarm,
        # per-rank-decile median s2/s1 + s3/s1 drift bands, recorded at
        # write time so sub-threshold host drift (e.g. the r15 driver
        # host's uniform 1.19-1.20 late bands) is visible in the
        # committed JSON without running the contamination tool by
        # hand; tests/test_bench_artifact.py asserts these match a
        # recomputation from "samples"
        "drift_bands": [],
    }
    base_dir = os.path.dirname(os.path.abspath(__file__))
    full_path, prior = full_artifact_path(base_dir, int(cpus))
    if os.path.basename(full_path) != "BENCH_FULL.json":
        print(
            f"# prior BENCH_FULL.json was measured at a different core "
            f"count; writing this {cpus}-core run to "
            f"{os.path.basename(full_path)}",
            file=sys.stderr,
        )
    prior_cold = dict(prior.get("cold", {}))
    # r15 artifacts parked the prewarm record inside cold under a
    # pseudo-key; migrate it out so cold holds only query keys
    prior_cold.pop("__staged_frame_prewarm__", None)
    full["cold"] = {**prior_cold, **cold}
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
    from bench_contamination_check import band_stats

    full["drift_bands"] = band_stats(full)
    # sidecar maps other tools maintain (time_keys --force-distributed)
    # survive a bench rewrite untouched
    if prior.get("forced_distributed"):
        full["forced_distributed"] = prior["forced_distributed"]
    with open(full_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    spark.stop()  # stop first: Spark shutdown chatter must not trail the JSON
    os.write(real_stdout, (line + "\n").encode())


if __name__ == "__main__":
    main()
