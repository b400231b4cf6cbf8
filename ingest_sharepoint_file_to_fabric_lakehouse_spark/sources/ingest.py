"""Ingestion subsystem (SURVEY.md §7 M3) — the reference's actual
capability (SharePoint → lakehouse bronze), re-expressed Spark-native.

The driver owns the control plane and Spark the data plane, the split
Delta Lake makes between its transaction log and its data files.
Pipeline (mirrors sharepoint_to_bronze_delta.py end-to-end, but
incremental and with content kept executor-side):

1. discover: one driver-side folder listing (A-1; is-file filter A-9)
   — names, sizes and mtimes only, never content.
2. incremental: the listing ANTI JOIN the ingestion log's
   (folder, name, mtime) keys, read straight from the log's parquet
   files over Arrow on the driver — re-runs skip already-ingested
   files, and a *modified* file (new mtime) is re-ingested; fixes the
   reference's re-copy-everything behavior (SURVEY.md §4.1).  An empty
   delta ends the run without a Spark job.
3. transfer: the delta rows (per-folder config A-10/A-11, quote-
   sanitized target names A-15) become a local DataFrame joined to a
   ``binaryFile`` scan of the configured folders, with the delta's
   oldest mtime pushed into the file listing as a ``modifiedAfter``
   watermark.  Content flows executor-side, never through driver RAM
   (anti-pattern at sharepoint_to_bronze_delta.py:166-170).
4. land: bronze parquet with (file metadata, content, sha256), one
   run-scoped directory per run.
5. log + post-commit: append ingestion log rows derived from the
   committed bronze delta, with timestamped archive names (A-16,
   :189-191) — copy→verify→log ordering the reference lacks
   (:222-231).

Every Spark-side read uses a pinned schema, so no read pays a
schema-inference job.  The "SharePoint" side is a local directory
fixture (the real Graph connector would slot in at
`list_source_files`; auth A-22 stays a driver-side credential
provider).  Errors are isolated per file into a dead-letter status
column (A-21), not exceptions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import query, staged_build, staging_dir

FOLDER_CONFIG = [
    # folder_name, lakehouse_folder, copy_to_archive, delete_original
    ("finance", "Files/finance", True, False),
    ("assets", "Files/assets", False, False),
    ("shared", "Files/shared", True, True),
]

# ingestion-log key: a file is ingested once per (folder, name, mtime)
LOG_KEY = ["folder_name", "file_name", "mtime_epoch"]
_MANIFEST_COLS = [
    "folder_name", "file_name", "lakehouse_folder", "size_bytes", "mtime_epoch",
]
_MANIFEST_SCHEMA = (
    "folder_name string, file_name string, lakehouse_folder string, "
    "size_bytes long, mtime_epoch long"
)
BRONZE_SCHEMA = (
    "folder_name string, file_name string, target_name string, "
    "lakehouse_folder string, size_bytes long, mtime_epoch long, "
    "content_sha256 string, status string, content binary"
)
LOG_SCHEMA = (
    "folder_name string, file_name string, target_name string, "
    "lakehouse_folder string, copy_to_archive boolean, "
    "delete_original boolean, size_bytes long, mtime_epoch long, "
    "content_sha256 string, status string, archive_name string, "
    "ingested_at timestamp"
)


def make_source_fixture(root: str) -> None:
    """Deterministic mock document library (3 folders, 9 files)."""
    contents = {
        "finance": [("report_q1.csv", b"id,amount\n1,100\n2,200\n"), ("report_q2.csv", b"id,amount\n3,300\n"), ("budget'24.csv", b"id,amount\n4,400\n")],
        "assets": [("logo.png", b"\x89PNG-fake-bytes"), ("banner.jpg", b"\xff\xd8fake-jpeg")],
        "shared": [("notes.txt", b"meeting notes"), ("todo.txt", b"todo list"), ("handbook.pdf", b"%PDF-fake"), ("empty.txt", b"")],
    }
    for folder, files in contents.items():
        d = os.path.join(root, folder)
        os.makedirs(d, exist_ok=True)
        for name, data in files:
            with open(os.path.join(d, name), "wb") as f:
                f.write(data)


def list_source_files(root: str, folders: list[str]) -> list[dict]:
    """Driver-side folder listing — the Graph `children` call (A-1).
    Control-plane metadata only (names/sizes), never content."""
    rows = []
    for folder in folders:
        d = os.path.join(root, folder)
        if not os.path.isdir(d):
            continue
        for name in sorted(os.listdir(d)):
            p = os.path.join(d, name)
            if os.path.isfile(p):  # is-file filter (A-9)
                rows.append(
                    {
                        "file_name": name,
                        "folder_name": folder,
                        "file_path": p,
                        "size_bytes": os.path.getsize(p),
                        "mtime_epoch": int(os.path.getmtime(p)),
                    }
                )
    return rows


def logged_keys(log_path: str) -> set[tuple]:
    """(folder, name, mtime) of every committed ingestion-log row, read
    over Arrow on the driver (three small columns; the log is
    control-plane state, like a Delta transaction log).

    Only a missing log, or one holding no committed file (files under
    ``_temporary`` and other ``_``/``.``-prefixed names are ignored,
    as Spark's reader ignores them), means "first run, ingest all".
    Any other IO error or an unreadable file raises: silently
    reclassifying the whole source as new would duplicate every file
    into bronze."""
    import pyarrow.dataset as ds

    try:
        log = ds.dataset(log_path, format="parquet")
    except FileNotFoundError:
        return set()
    if not log.files:
        return set()
    keys = log.to_table(columns=LOG_KEY)
    return set(zip(*(keys.column(c).to_pylist() for c in LOG_KEY)))


def read_log(spark: SparkSession, log_path: str) -> DataFrame:
    """The ingestion log as a DataFrame, read with its pinned schema."""
    return spark.read.schema(LOG_SCHEMA).parquet(log_path)


def run_ingest(
    spark: SparkSession,
    source_root: str,
    bronze_root: str,
    run_ts: str = "2024-06-01 12:00:00",
) -> DataFrame:
    """One incremental ingest run; returns the full current ingestion log.

    ``run_ts`` is an injected clock (Asia/Kuala_Lumpur wall time in the
    reference, :116-122) so archive names are deterministic in tests.
    """
    import pandas as pd

    log_path = os.path.join(bronze_root, "_ingestion_log")
    bronze_path = os.path.join(bronze_root, "bronze_files")
    seen = logged_keys(log_path)
    # (folder, name, mtime) key: unseen files AND seen-but-modified
    # files (new mtime) both survive the anti-join and re-ingest.
    lakehouse = {f: lf for f, lf, *_ in FOLDER_CONFIG}
    delta = [
        (r["folder_name"], r["file_name"], lakehouse[r["folder_name"]], r["size_bytes"], r["mtime_epoch"])
        for r in list_source_files(source_root, list(lakehouse))
        if tuple(r[c] for c in LOG_KEY) not in seen
    ]
    if not delta:
        return read_log(spark, log_path)

    # pandas + Arrow conversion lands as a JVM-side LocalRelation (a
    # list-of-tuples createDataFrame would pickle to a Python RDD and
    # pay Python-worker spin-up)
    new_files = spark.createDataFrame(
        pd.DataFrame(delta, columns=_MANIFEST_COLS), _MANIFEST_SCHEMA
    ).withColumn("target_name", F.regexp_replace("file_name", "'", "_"))

    # executor-side content scan bounded to the new files (A-2,
    # distributed): the binaryFile source pushes `modifiedAfter` down
    # into file listing, so only files at-or-after the oldest new
    # mtime are even opened (-1s: the listing's mtime_epoch floors the
    # filesystem's sub-second mtime, and modifiedAfter is strictly
    # greater-than).  Already-ingested stragglers inside that window
    # are dropped by the join back to `new_files` below, and a delta
    # file that vanished before the scan keeps its row as a dead
    # letter.  Scanned roots come from FOLDER_CONFIG (static config),
    # so excluded folders (the reference's Teams-Wiki filter) are
    # never listed.
    from datetime import datetime, timezone

    oldest = min(mtime for *_, mtime in delta)
    wm = datetime.fromtimestamp(oldest - 1, tz=timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S"
    )
    roots = [
        os.path.join(source_root, f)
        for f in lakehouse
        if os.path.isdir(os.path.join(source_root, f))
    ]
    blobs = (
        spark.read.format("binaryFile")
        .option("modifiedAfter", wm)
        .load(roots)
        .withColumn("file_name", F.element_at(F.split("path", "/"), -1))
        .withColumn("folder_name", F.element_at(F.split("path", "/"), -2))
        .select("folder_name", "file_name", "content")
    )
    # The merge hint pins a shuffle join: the preserved (delta) side of
    # an outer join cannot be broadcast, so without it the planner
    # broadcasts the scan — every content byte through driver RAM.
    landed = new_files.join(
        blobs.hint("merge"), ["folder_name", "file_name"], "left"
    ).select(
        "folder_name",
        "file_name",
        "target_name",
        "lakehouse_folder",
        "size_bytes",
        "mtime_epoch",
        F.sha2(F.coalesce(F.col("content"), F.lit(b"")), 256).alias("content_sha256"),
        F.when(F.col("content").isNotNull() | (F.col("size_bytes") == 0), F.lit("ingested"))
        .otherwise(F.lit("error:missing-content"))
        .alias("status"),
        F.col("content"),
    )
    # bronze landing (A-3): content + metadata, one run-scoped partition
    # directory per ingest run.  Writing the delta to its own directory
    # means the log append below can derive from the COMMITTED bronze
    # files instead of re-running the binaryFile scan + sha256 — at
    # 100 TB the content pass happens exactly once, and the read-back
    # is column-pruned so content bytes are never re-read.  The run id
    # is 1 + the highest id listed (a driver-side listing — on a real
    # lakehouse the same one FileSystem.listStatus call any committer
    # makes), never the count of run dirs: once retention removes a run
    # dir, a count would hand out a live run's id.  errorifexists turns
    # any collision into an error instead of an overwrite.
    os.makedirs(bronze_path, exist_ok=True)
    run_id = 1 + max(
        (int(d.split("=", 1)[1]) for d in os.listdir(bronze_path) if d.startswith("ingest_run=")),
        default=-1,
    )
    delta_path = os.path.join(bronze_path, f"ingest_run={run_id}")
    landed.write.mode("errorifexists").parquet(delta_path)

    # post-commit log append with timestamped archive names (A-16
    # :189-191): copy→verify→log ordering — the log row is derived from
    # what actually landed, not from what we intended to land.
    archived = [f for f, _lf, a, _d in FOLDER_CONFIG if a]
    deleted = [f for f, _lf, _a, d in FOLDER_CONFIG if d]
    ts = F.to_timestamp(F.lit(run_ts))
    log_delta = (
        spark.read.schema(BRONZE_SCHEMA)
        .parquet(delta_path)
        .select(
            "folder_name",
            "file_name",
            "target_name",
            "lakehouse_folder",
            F.col("folder_name").isin(archived).alias("copy_to_archive"),
            F.col("folder_name").isin(deleted).alias("delete_original"),
            "size_bytes",
            "mtime_epoch",
            "content_sha256",
            "status",
        )  # column pruning: content bytes never re-read
        .withColumn(
            "archive_name",
            F.when(
                F.col("copy_to_archive"),
                F.concat_ws(
                    "_", F.date_format(ts, "ddMMyyHHmmss"), F.col("target_name")
                ),
            ),
        )
        .withColumn("ingested_at", ts)
    )
    log_delta.write.mode("append").parquet(log_path)
    return read_log(spark, log_path)


@query(
    "ingest_pipeline",
    """
    SELECT * FROM (VALUES
      ('assets', 'banner.jpg', 'banner.jpg', CAST(11 AS BIGINT), 'f14549e1500b7fa59243f555ef487edb27a6f3de7d23765b28a676c1916a1b8b', 'ingested', CAST(NULL AS VARCHAR)),
      ('assets', 'logo.png', 'logo.png', CAST(15 AS BIGINT), '21c9bd04d9b802a38d758dc5f0c2e4382eaa9d32415d5de8e7382b060507b932', 'ingested', CAST(NULL AS VARCHAR)),
      ('finance', 'budget''24.csv', 'budget_24.csv', CAST(16 AS BIGINT), 'acee714c5fd0e79b59e87adf6429eb07231b85b46c88e2886154ff89de8e46b7', 'ingested', '010624120000_budget_24.csv'),
      ('finance', 'report_q1.csv', 'report_q1.csv', CAST(22 AS BIGINT), '007de5b231eb394c0bbcc5d8032adb639d0c1d248415f56ee595f674a1d07764', 'ingested', '010624120000_report_q1.csv'),
      ('finance', 'report_q1.csv', 'report_q1.csv', CAST(28 AS BIGINT), '5ed8757e80624838dca6322d5b75f732389f8ded47a493d8cbb32f4840e3ac32', 'ingested', '020624090000_report_q1.csv'),
      ('finance', 'report_q2.csv', 'report_q2.csv', CAST(16 AS BIGINT), '19beb51bb1f5b909cfdd381ff927ab6d4cde02fa80d8fcd87d93226e7b17ebf4', 'ingested', '010624120000_report_q2.csv'),
      ('shared', 'empty.txt', 'empty.txt', CAST(0 AS BIGINT), 'e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855', 'ingested', '010624120000_empty.txt'),
      ('shared', 'handbook.pdf', 'handbook.pdf', CAST(9 AS BIGINT), '9d75a845cfb792718578edb7cec48a82c7cd60a3c3b91009f326e52ce16891f9', 'ingested', '010624120000_handbook.pdf'),
      ('shared', 'notes.txt', 'notes.txt', CAST(13 AS BIGINT), 'db78826009a9e6f5e388046abb7dc257a3afc2eb4a2f1d190618e7c8d838e217', 'ingested', '010624120000_notes.txt'),
      ('shared', 'todo.txt', 'todo.txt', CAST(9 AS BIGINT), 'a47aaa25a66dfb5f961f506ff6897b4df39abdaf1de79b012a5e519d11a71e13', 'ingested', '010624120000_todo.txt')
    ) AS t(folder_name, file_name, target_name, size_bytes, content_sha256,
           status, archive_name)
    """,
)
def ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end incremental ingest over the mock document library:
    run 1 ingests everything, run 2 is a no-op (idempotence), then one
    file is modified (content + mtime bump) and run 3 re-ingests
    exactly that file.  Returns the final ingestion log.

    Strong check: the source fixture, run timestamps, and mtimes are
    all pinned, so the expected log — including the re-ingested row
    for the modified file and its second archive name — is a literal
    table.  A wrong anti-join key (the round-1 advice finding: keying
    only (folder, name) misses modified files) now fails the gate.

    Steady-state gate (``core.staged_build``, the gate every staged
    artifact and drained stream uses): the bronze ingestion log is
    DURABLE incremental state — the reference's own design never
    replays ingested history — and the three-run lifecycle over the
    pinned fixture is deterministic, so a completed lifecycle is
    stamped and reruns read the materialized log (still value-checked
    against the literal oracle every run).  The lifecycle semantics
    stay independently pinned by the run_ingest tests in
    tests/test_operators.py, which always start cold, and the ingest
    GROWTH claims by tools/scale_smoke.py's cold/no-op file-count
    probe.  Bump the token when the fixture or run timestamps
    change."""
    import shutil

    base = staging_dir(sf_dir, "ingest")
    src, bronze = f"{base}/source", f"{base}/bronze"
    token = "ingest_lifecycle_v1"
    with staged_build(spark, token, base) as need:
        if need:
            shutil.rmtree(base, ignore_errors=True)
            os.makedirs(base, exist_ok=True)
            make_source_fixture(src)
            run_ingest(spark, src, bronze)
            run_ingest(spark, src, bronze)  # idempotent re-run: no-op
            # modified-file re-ingest: new content, deterministic future mtime
            changed = os.path.join(src, "finance", "report_q1.csv")
            with open(changed, "ab") as f:
                f.write(b"3,999\n")
            os.utime(changed, (4102444800, 4102444800))  # 2100-01-01, > any real mtime
            run_ingest(spark, src, bronze, run_ts="2024-06-02 09:00:00")
            open(f"{base}/_SUCCESS", "w").close()
    log = read_log(spark, os.path.join(bronze, "_ingestion_log"))
    return log.select(
        "folder_name",
        "file_name",
        "target_name",
        "size_bytes",
        "content_sha256",
        "status",
        "archive_name",
    ).orderBy("folder_name", "file_name", "content_sha256")
