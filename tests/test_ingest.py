"""run_ingest edge cases: awkward SharePoint file names, dead letters,
ingestion-log states, and the per-round Spark job budget."""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from ingest_sharepoint_file_to_fabric_lakehouse_spark.sources import ingest
from ingest_sharepoint_file_to_fabric_lakehouse_spark.sources.ingest import (
    make_source_fixture,
    run_ingest,
)

# names SharePoint accepts that are glob patterns, URI escapes or
# non-ASCII on the lakehouse side
AWKWARD = [
    "with space.txt",
    "pct%20x.txt",
    "hash#1.txt",
    "br[1].txt",
    "curly{a}.txt",
    "budget'24.csv",
    "ünï.txt",
]


def test_awkward_names_land_with_their_content_hash(spark, tmp_path):
    src, bronze = str(tmp_path / "sp"), str(tmp_path / "bronze")
    expected = {}
    for i, name in enumerate(AWKWARD):
        folder = ingest.FOLDER_CONFIG[i % 3][0]
        os.makedirs(os.path.join(src, folder), exist_ok=True)
        data = f"{name} payload {i}\n".encode()
        with open(os.path.join(src, folder, name), "wb") as f:
            f.write(data)
        expected[(folder, name)] = hashlib.sha256(data).hexdigest()
    rows = run_ingest(spark, src, bronze).collect()
    got = {(r.folder_name, r.file_name): (r.status, r.content_sha256) for r in rows}
    assert got == {k: ("ingested", sha) for k, sha in expected.items()}


def test_vanished_file_is_a_dead_letter_once(spark, tmp_path, monkeypatch):
    src, bronze = str(tmp_path / "sp"), str(tmp_path / "bronze")
    make_source_fixture(src)
    listed = ingest.list_source_files

    def with_phantom(root, folders):
        return listed(root, folders) + [{
            "file_name": "gone.csv",
            "folder_name": "finance",
            "file_path": os.path.join(root, "finance", "gone.csv"),
            "size_bytes": 10,
            "mtime_epoch": 1_700_000_000,
        }]

    monkeypatch.setattr(ingest, "list_source_files", with_phantom)
    log = run_ingest(spark, src, bronze)
    assert log.count() == 10
    dead = log.filter(F.col("status") != "ingested").select("folder_name", "file_name", "status")
    assert [tuple(r) for r in dead.collect()] == [("finance", "gone.csv", "error:missing-content")]
    # the dead letter is logged under its key, so an unchanged re-run adds nothing
    assert run_ingest(spark, src, bronze).count() == 10


def test_uncommitted_log_attempt_means_first_run(spark, tmp_path):
    src, bronze = str(tmp_path / "sp"), str(tmp_path / "bronze")
    make_source_fixture(src)
    # a first append that died before its job commit
    os.makedirs(os.path.join(bronze, "_ingestion_log", "_temporary", "0"))
    assert run_ingest(spark, src, bronze).count() == 9


def test_unreadable_log_raises_before_landing(spark, tmp_path):
    src, bronze = str(tmp_path / "sp"), str(tmp_path / "bronze")
    make_source_fixture(src)
    log = os.path.join(bronze, "_ingestion_log")
    os.makedirs(log)
    with open(os.path.join(log, "part-00000.parquet"), "wb") as f:
        f.write(b"not parquet")
    with pytest.raises(Exception):
        run_ingest(spark, src, bronze)
    assert not os.path.exists(os.path.join(bronze, "bronze_files"))


def _jobs(spark, group: str, fn):
    """(result of fn, number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_round_job_budget_and_log_schema(spark, tmp_path):
    src, bronze = str(tmp_path / "sp"), str(tmp_path / "bronze")
    make_source_fixture(src)
    run_ingest(spark, src, bronze)
    _, noop_jobs = _jobs(spark, "ingest-noop", lambda: run_ingest(spark, src, bronze))
    assert noop_jobs == 0
    changed = os.path.join(src, "shared", "notes.txt")
    with open(changed, "ab") as f:
        f.write(b" (amended)")
    os.utime(changed, (4102444800, 4102444800))
    log, changed_jobs = _jobs(
        spark, "ingest-changed", lambda: run_ingest(spark, src, bronze, run_ts="2024-06-02 09:00:00")
    )
    assert changed_jobs <= 4
    on_disk = spark.read.parquet(os.path.join(bronze, "_ingestion_log"))
    assert log.schema == on_disk.schema
    assert log.count() == 10
