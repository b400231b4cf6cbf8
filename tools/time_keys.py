"""Per-key timing harness for perf work: mirrors bench.py's session
config (heap, Kryo, code cache, /dev/shm local dir, calibration) but
times only the keys given on argv, N passes each, printing min/median.

``--cold`` additionally measures each key's COLD path: the fixture's
staged-artifact fingerprints under every staging root are invalidated before
an extra first pass, so that pass pays the full index build (minhash
frames, PPJoin jp_*, BM25 inverted index, codebooks, …).  Cold and
warm numbers print separately and a per-key map is merged into
BENCH_FULL.json under "cold" — a staging win can never be confused
with a query win (round-10 verdict item 2).  Keys sharing an artifact
each pay its build in their own cold pass; the per-artifact "built"
list makes the overlap explicit.

``--force-distributed`` disables the driver-side hybrid branches
(graph_pagerank's rank loop below _DRIVER_EDGE_CAP, the
connected-components union-find below collect_threshold) so the
DISTRIBUTED branch runs at fixture scale — the branch a web-scale
graph always takes.  Parity tests pin its VALUES; this records its
TIME, merged into BENCH_FULL.json under "forced_distributed" so a
distributed-path perf regression is visible even though the hybrid
hides it at bench scale (round-11 verdict ask #6).

Usage: python tools/time_keys.py [--sf DIR] [--passes N] [--cold]
           [--force-distributed] key [key ...]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--cold", action="store_true")
    ap.add_argument("--force-distributed", action="store_true")
    ap.add_argument("keys", nargs="+")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import (
        recommended_session_conf,
    )

    builder = SparkSession.builder.master("local[32]")
    # engine-recommended session conf (single source of truth in
    # core.recommended_session_conf; the codegen class cache entry is
    # static — builder-time only)
    for k, v in recommended_session_conf(32).items():
        builder = builder.config(k, v)
    spark = (
        builder
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g")
        .config(
            "spark.local.dir",
            "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
        )
        .appName("time-keys")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    if args.force_distributed:
        # Kill the driver-side hybrid branches so the distributed loop
        # runs even at fixture scale.  Values are already pinned equal
        # by the parity tests; this measures the branch's TIME.
        from ingest_sharepoint_file_to_fabric_lakehouse_spark.operators import corpus, graph

        graph._DRIVER_EDGE_CAP = -1
        _orig_cc = corpus.connected_components
        corpus.connected_components = (
            lambda edges, max_iter=20, collect_threshold=0: _orig_cc(
                edges, max_iter, collect_threshold=0
            )
        )

    qs = e.queries()
    e.entry(spark).collect()  # warmup

    calib_t0 = time.time()
    spark.range(2_000_000_000).selectExpr("sum(xxhash64(id) % 1000000) s").collect()
    print(f"calib {time.time() - calib_t0:.3f}s", file=sys.stderr)

    from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import (
        SCRATCH_ROOT,
        STAGING_EVENTS,
        STAGING_ROOT,
        staging_dir,
    )

    def invalidate_staging(sf: str) -> int:
        """Drop every staged artifact's fingerprint for this fixture —
        indexes and drained streams alike — so the next pass rebuilds
        (the artifact data stays; the gate is the fingerprint, so this
        is exactly the 'regenerated corpus' cold path)."""
        dropped = 0
        for root_dir in {STAGING_ROOT, SCRATCH_ROOT}:
            for root, _dirs, files in os.walk(staging_dir(sf, "", root_dir)):
                if "_SG_FINGERPRINT" in files:
                    os.unlink(os.path.join(root, "_SG_FINGERPRINT"))
                    dropped += 1
        return dropped

    cold_report: dict[str, dict] = {}
    forced_report: dict[str, dict] = {}
    for key in args.keys:
        if key not in qs:
            print(f"{key}: UNKNOWN KEY", file=sys.stderr)
            continue
        if args.cold:
            n_inv = invalidate_staging(args.sf)
            ev0 = len(STAGING_EVENTS)
            t0 = time.time()
            qs[key](spark, args.sf).count()
            cold_sec = time.time() - t0
            built = [os.path.basename(p) for p, _ in STAGING_EVENTS[ev0:]]
            cold_report[key] = {
                "build_pass_sec": round(cold_sec, 3),
                "built": built,
                # provenance (ADVICE r11): ad-hoc cold entries merged
                # into BENCH_FULL must say which fixture/boot/tool
                # measured them, so they never silently mingle with a
                # full bench run's records
                "sf": args.sf,
                "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                "source": "time_keys.py --cold",
            }
            print(
                f"{key}: cold={cold_sec:.3f}s built={built} "
                f"(invalidated {n_inv} stamps)"
            )
        times = []
        for _ in range(args.passes):
            spark.sparkContext._jvm.System.gc()
            try:
                spark.catalog.clearCache()
            except Exception:
                pass
            t0 = time.time()
            n = qs[key](spark, args.sf).count()
            times.append(time.time() - t0)
        print(
            f"{key}: min={min(times):.3f} med={statistics.median(times):.3f} "
            f"all={[round(t, 3) for t in times]} rows={n}"
        )
        if args.force_distributed:
            forced_report[key] = {
                "med_sec": round(statistics.median(times), 3),
                "min_sec": round(min(times), 3),
                "samples": [round(t, 3) for t in times],
                "sf": args.sf,
                "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }

    if args.force_distributed and forced_report:
        import json

        full_path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "BENCH_FULL.json",
        )
        try:
            with open(full_path) as fh:
                full = json.load(fh)
        except (OSError, ValueError):
            full = {}
        full.setdefault("forced_distributed", {}).update(forced_report)
        with open(full_path, "w") as fh:
            json.dump(full, fh, indent=1, sort_keys=True)
        print(f"merged {len(forced_report)} forced-distributed entries into BENCH_FULL.json")

    if args.cold and cold_report:
        import json

        full_path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "BENCH_FULL.json",
        )
        try:
            with open(full_path) as fh:
                full = json.load(fh)
        except (OSError, ValueError):
            full = {}
        full.setdefault("cold", {}).update(cold_report)
        with open(full_path, "w") as fh:
            json.dump(full, fh, indent=1, sort_keys=True)
        print(f"merged {len(cold_report)} cold entries into BENCH_FULL.json")

    spark.stop()


if __name__ == "__main__":
    main()
