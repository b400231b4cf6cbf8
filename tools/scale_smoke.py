"""Scale-growth smoke: measure how the scale-critical keys' wall time
grows when the FACT data grows Nx, dims held fixed.

The sf0.1 bench verifies plan shapes; this tool verifies the claim
those shapes imply — near-linear wall-time growth in fact volume —
by synthesizing an Nx dataset from sf0.1 and timing each key warm at
1x and Nx in the same session.

Synthesis rules (replica i in 1..N-1, OFF = 1e9):
- documents:  doc_id += i*OFF.  ~10% of each replica are NEAR-DUPS
  of their original (short prefix — keeps duplicate density constant
  as the corpus grows, so dedup output and candidate volume grow
  ~linearly); the rest get a DOC-SPECIFIC marker token interleaved
  every 2 words (every 3-gram shingle differs from the original, and
  replica docs don't share marker shingles with each other — a
  constant marker would homogenize SimHash signatures and
  manufacture a phantom near-dup cluster).  n_chars recomputed to
  keep the length invariant.
- embeddings: vec_id += i*OFF (query set stays the 3 originals —
  corpus grows, probe count fixed, as at real scale).
- events:     event_id += i*OFF, user_id += i*1e7 (user cardinality
  grows with volume).
- orders/lineitem: orderkey += i*OFF on both sides (join stays
  consistent); fk's into the fixed dims unchanged.
- region/nation/customer/supplier/part: copied as-is.

Key selection: the *_portable dedup witnesses pin a doc_id subset for
DuckDB replayability and by design do NOT scale with the corpus — the
full-corpus hot paths (dedup_simhash, dedup_jaccard_prefix, ...) are
what this tool measures.

Usage:
    python tools/scale_smoke.py [--mult 4] [--passes 2] [key ...]

Output per key: cold first pass at Nx (includes any staged-index
build — k-means cells, PQ codebooks — which scale with the corpus),
warm min at 1x and Nx, warm ratio, and output rows, plus one JSON
line.  A warm ratio well under the fact multiplier means
fixed-cost-dominated at fixture scale (fine); well OVER it flags
superlinear candidate growth or a collapsed-parallelism stage —
exactly what would hurt at 100 TB.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OFF = 10**9
UOFF = 10**7

DEFAULT_KEYS = [
    # join/agg classics (shuffle scaling)
    "flagship_q3_topk",
    "agg_group_sum",
    "join_shuffle_large",
    "topk_per_group",
    # dedup family, full-corpus paths (banded candidate generation
    # must stay ~linear at constant duplicate density)
    "dedup_exact_hash",
    "dedup_simhash",
    "dedup_jaccard_prefix",
    "corpus_dedup_pipeline",
    # similarity family (indexed probes must beat brute force's growth)
    "sim_topk_bruteforce",
    "sim_ivf_probe",
    "sim_topk_lsh",
    "sim_topk_ivfpq",
    # text/search kernels (scan-bandwidth linear)
    "search_bm25",
    "text_lm_quality",
    "text_token_count",
    "events_sequence_pattern",
    # live streaming: state size + micro-batch volume must grow
    # ~linearly in events (the staged batch files split the Nx events
    # table, so each micro-batch carries Nx rows)
    "stream_tumbling_live",
]

DIMS = ["region", "nation", "customer", "supplier", "part"]


def _perturb_documents(src: str, dst: str, mult: int) -> None:
    import pandas as pd

    base = pd.read_parquet(f"{src}/documents.parquet")
    out = [base]
    for i in range(1, mult):
        rep = base.copy()
        rep["doc_id"] = rep["doc_id"] + i * OFF

        def transform(row) -> str:
            # ~10% of each replica are NEAR-DUPS of their original
            # (prefix only — shingles mostly shared), keeping duplicate
            # density roughly constant as the corpus grows.  The rest
            # get a DOC-SPECIFIC marker token interleaved every 2 words:
            # every 3-gram shingle differs from the original, and —
            # because the marker varies per doc — replica docs do NOT
            # share marker shingles with each other (a constant marker
            # homogenizes SimHash signatures across the whole replica
            # and manufactures a giant phantom near-dup cluster).
            text = row["text"]
            base_id = int(row["doc_id"]) % OFF
            if (base_id + i) % 10 == 0:
                return f"~r{i} " + text
            marker = f"r{i}d{base_id % 9973}"
            toks = text.split(" ")
            outt = []
            for j, tk in enumerate(toks):
                outt.append(tk)
                if j % 2 == 1:
                    outt.append(marker)
            return " ".join(outt)

        rep["text"] = rep.apply(transform, axis=1)
        rep["n_chars"] = rep["text"].str.len()
        out.append(rep)
    pd.concat(out, ignore_index=True).to_parquet(
        f"{dst}/documents.parquet", index=False
    )


def synthesize(src: str, dst: str, mult: int) -> None:
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    for tbl in DIMS:
        shutil.copy2(f"{src}/{tbl}.parquet", f"{dst}/{tbl}.parquet")
    _perturb_documents(src, dst, mult)

    def rep(table: str, select_tpl: str) -> None:
        parts = [
            select_tpl.format(i=i, src=f"read_parquet('{src}/{table}.parquet')")
            for i in range(mult)
        ]
        con.execute(
            f"COPY ({' UNION ALL '.join(parts)}) TO '{dst}/{table}.parquet' "
            "(FORMAT PARQUET)"
        )

    rep(
        "embeddings",
        "SELECT vec_id + {i}::BIGINT*" + str(OFF) + " AS vec_id, embedding, label FROM {src}",
    )
    rep(
        "events",
        "SELECT event_id + {i}::BIGINT*" + str(OFF) + " AS event_id, ts, "
        "user_id + {i}::BIGINT*" + str(UOFF) + " AS user_id, event_type, value, props "
        "FROM {src}",
    )
    rep(
        "orders",
        "SELECT o_orderkey + {i}::BIGINT*" + str(OFF) + " AS o_orderkey, o_custkey, "
        "o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM {src}",
    )
    rep(
        "lineitem",
        "SELECT l_orderkey + {i}::BIGINT*" + str(OFF) + " AS l_orderkey, l_partkey, "
        "l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, "
        "l_tax, l_returnflag, l_linestatus, l_shipdate FROM {src}",
    )
    con.close()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--mult", type=int, default=4)
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--keep", action="store_true", help="keep the synthesized dir")
    ap.add_argument("keys", nargs="*", default=None)
    args = ap.parse_args()
    keys = args.keys or DEFAULT_KEYS

    scratch_root = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    dst = os.path.join(scratch_root, f"sgscale_x{args.mult}")
    shutil.rmtree(dst, ignore_errors=True)
    # stale derived state for the synthesized basename goes too, so
    # every staged index and drained stream is rebuilt from scratch
    from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import (
        SCRATCH_ROOT,
        STAGING_ROOT,
        staging_dir,
    )

    for root in {STAGING_ROOT, SCRATCH_ROOT}:
        shutil.rmtree(staging_dir(dst, "", root), ignore_errors=True)
    t0 = time.time()
    synthesize(args.sf, dst, args.mult)
    print(f"# synthesized {args.mult}x facts at {dst} in {time.time() - t0:.1f}s",
          file=sys.stderr)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "12g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g")
        .config(
            "spark.local.dir",
            os.path.join(scratch_root, "spark-local"),
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import ingest_sharepoint_file_to_fabric_lakehouse_spark as engine

    engine.load_all()

    def run(key: str, sf_dir: str) -> tuple[float, float, int]:
        first, best, rows = None, float("inf"), -1
        for _ in range(args.passes):
            t1 = time.time()
            rows = len(engine.QUERIES[key](spark, sf_dir).collect())
            dt = time.time() - t1
            if first is None:
                first = dt
            best = min(best, dt)
        return first, best, rows

    def time_ingest(n_files: int) -> tuple[float, float]:
        """Transfer-path growth probe: a fresh source tree with
        ``n_files`` blobs through run_ingest (cold = full ingest,
        warm = incremental no-op re-run over the same tree — the
        steady state is the anti-join against the log, which must
        stay ~flat in already-ingested volume)."""
        from ingest_sharepoint_file_to_fabric_lakehouse_spark.sources.ingest import run_ingest

        base = os.path.join(scratch_root, f"sg_ingest_smoke_{n_files}")
        shutil.rmtree(base, ignore_errors=True)
        src, bronze = f"{base}/source", f"{base}/bronze"
        # 'assets' keeps originals (no archive/delete), so the no-op
        # re-run anti-joins the full already-ingested listing
        os.makedirs(f"{src}/assets", exist_ok=True)
        for i in range(n_files):
            with open(f"{src}/assets/file_{i:05d}.txt", "wb") as f:
                f.write((f"payload {i} " * 50).encode())
        t1 = time.time()
        run_ingest(spark, src, bronze)
        cold = time.time() - t1
        t2 = time.time()
        run_ingest(spark, src, bronze)  # incremental no-op
        noop = time.time() - t2
        shutil.rmtree(base, ignore_errors=True)
        return cold, noop

    results = {}
    print(
        f"{'key':28s} {'1x warm':>8s} {args.mult}x cold  {args.mult}x warm"
        f"  ratio  rows 1x -> {args.mult}x"
    )
    if "ingest_pipeline" in keys:
        # the registered key ingests a FIXED 10-file mock (its oracle
        # is a literal table), so growth is probed with a scaled file
        # count instead of scaled table data
        keys = [k for k in keys if k != "ingest_pipeline"]
        time_ingest(8)  # discard: absorbs session/Arrow/worker warm-up
        base_cold, base_noop = time_ingest(64)
        big_cold, big_noop = time_ingest(64 * args.mult)
        results["ingest_run_files"] = {
            "base_files": 64,
            "scaled_files": 64 * args.mult,
            "base_cold_sec": round(base_cold, 3),
            "scaled_cold_sec": round(big_cold, 3),
            "cold_ratio": round(big_cold / base_cold, 2) if base_cold else None,
            "base_noop_sec": round(base_noop, 3),
            "scaled_noop_sec": round(big_noop, 3),
            "noop_ratio": round(big_noop / base_noop, 2) if base_noop else None,
        }
        print(
            f"{'ingest_run_files':28s} cold {base_cold:5.2f}s -> {big_cold:5.2f}s"
            f" ({results['ingest_run_files']['cold_ratio']}x),"
            f" no-op {base_noop:5.2f}s -> {big_noop:5.2f}s"
            f" ({results['ingest_run_files']['noop_ratio']}x)"
        )
    for key in keys:
        if key not in engine.QUERIES:
            print(f"{key:28s} SKIP (unknown key)")
            continue
        base_cold, base_s, base_rows = run(key, args.sf)
        big_cold, big_s, big_rows = run(key, dst)
        ratio = big_s / base_s if base_s else float("inf")
        results[key] = {
            # base_cold is only a true cold (index-build / stream-drain)
            # figure when the 1x scratch was wiped before the run; the
            # streaming keys' drain-scaling claim reads cold_ratio,
            # since their warm path is the checkpoint-resume read.
            "base_cold_sec": round(base_cold, 3),
            "base_warm_sec": round(base_s, 3),
            "scaled_cold_sec": round(big_cold, 3),
            "scaled_warm_sec": round(big_s, 3),
            "warm_ratio": round(ratio, 2),
            "cold_ratio": round(big_cold / base_cold, 2) if base_cold else None,
            "base_rows": base_rows,
            "scaled_rows": big_rows,
        }
        print(
            f"{key:28s} {base_s:7.2f}s {big_cold:8.2f}s {big_s:8.2f}s"
            f" {ratio:5.2f}x  {base_rows} -> {big_rows}"
        )
    print(json.dumps({"mult": args.mult, "sf": args.sf, "results": results}))
    if not args.keep:
        shutil.rmtree(dst, ignore_errors=True)


if __name__ == "__main__":
    main()
