"""Measure recover_table's roll-forward cost vs partition count on a
partitioned target (r13 verdict ask #7): the kill-matrix proves recovery CORRECT at
fixture scale; this probe makes its cost at scale a measured number.

Setup per run: a target partitioned into P directories, a
merge_upsert_partitioned touching ALL P partitions crashed at
``after_plan_write`` — the worst roll-forward state (every touched
partition still in ptmp, the full plan to replay).  The probe times
the healing ``recover_table`` call at P and at 10 x P.
Recovery is a bounded sequence of per-partition metadata renames, so
wall time should scale ~linearly in P with a per-partition cost in the
single-digit milliseconds — the recorded numbers let the scale story
be checked, not assumed.

Writes/merges the result under key ``recover_table_partitioned`` (the
record's name since r13, kept so the series stays comparable) in
tools/scale_smoke_x10.json.  Usage: python tools/recovery_scale_probe.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

BASE_PARTS = 8
MULT = 10
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "scale_smoke_x10.json")


def probe(spark, parts: int) -> float:
    from ingest_sharepoint_file_to_fabric_lakehouse_spark.plans.merge import (
        SimulatedCrash,
        merge_upsert_partitioned,
        read_table,
        recover_table,
    )

    base = f"/tmp/sg_recovery_probe/p{parts}"
    shutil.rmtree("/tmp/sg_recovery_probe", ignore_errors=True)
    path = f"{base}/target"
    df = spark.range(parts * 20).selectExpr(
        "id", f"cast(id % {parts} as int) as p", "cast(id as double) as v"
    )
    df.write.partitionBy("p").parquet(path)
    src = df.withColumn("v", df.v * 2)
    try:
        merge_upsert_partitioned(spark, path, src, "id", "p", _crash="after_plan_write")
    except SimulatedCrash:
        pass
    else:  # pragma: no cover - the crashpoint must fire
        raise AssertionError("crash injection did not fire")
    t0 = time.time()
    recover_table(spark, path)
    dt = time.time() - t0
    # the roll-forward must have committed every partition's NEW rows
    got = read_table(spark, path).selectExpr("sum(v) s").collect()[0][0]
    want = sum(i * 2.0 for i in range(parts * 20))
    assert got == want, (got, want)
    return round(dt, 3)


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("recovery-scale-probe")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    base_sec = probe(spark, BASE_PARTS)
    scaled_sec = probe(spark, BASE_PARTS * MULT)
    rec = {
        "note": (
            "roll-forward recovery (crash after_plan_write, ALL partitions "
            "staged) vs partition count; metadata renames dominate"
        ),
        "base_partitions": BASE_PARTS,
        "base_recover_sec": base_sec,
        "scaled_partitions": BASE_PARTS * MULT,
        "scaled_recover_sec": scaled_sec,
        "ratio": round(scaled_sec / base_sec, 2) if base_sec else None,
        "per_partition_ms_at_10x": round(1000.0 * scaled_sec / (BASE_PARTS * MULT), 2),
        "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "source": "tools/recovery_scale_probe.py",
    }
    with open(OUT) as fh:
        doc = json.load(fh)
    doc["results"]["recover_table_partitioned"] = rec
    with open(OUT, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
    shutil.rmtree("/tmp/sg_recovery_probe", ignore_errors=True)
    print(json.dumps(rec))
    spark.stop()


if __name__ == "__main__":
    main()
