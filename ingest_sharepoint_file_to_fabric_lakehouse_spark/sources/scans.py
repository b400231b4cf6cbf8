"""Source scans (SURVEY.md §2 B.1): parquet, CSV w/ explicit schema,
JSON-lines, binaryFile, in-memory manifest.

Reference parity: the Graph folder-children listing (A-1) becomes a
manifest DataFrame; whole-file downloads (A-2) become ``binaryFile``
scans; Graph JSON payloads (:55,65,76) become JSON-lines scans.

CSV/JSON fixtures are derived deterministically from the parquet corpus
into ``<core.STAGING_ROOT>/stage/`` (rewritten by the Spark query each run,
overwrite mode) so the DuckDB oracle can read the very same files.  The
staging path is deliberately scale-independent: each gate run writes
from its own ``sf_dir`` immediately before the oracle reads it, so the
oracle always sees the data of the run in progress regardless of scale
factor.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..core import STAGING_ROOT, query, staged_build, staging_dir, t

# sf_dir-independent on purpose — see module docstring.
_STAGE = f"{STAGING_ROOT}/stage"


@query(
    "scan_parquet",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_quantity > 40
    """,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar parquet scan with predicate pushdown + column pruning:
    the plan reads 4 columns and skips row groups via min/max stats."""
    return (
        t(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp")) & (F.col("l_quantity") > 40))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
    )


@query(
    "scan_csv_schema",
    f"""
    SELECT n_nationkey, n_name, n_regionkey
    FROM read_csv('{_STAGE}/nation_csv/*.csv', header=true,
                  columns={{'n_nationkey': 'INT', 'n_name': 'VARCHAR', 'n_regionkey': 'INT'}})
    """,
)
def scan_csv_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan with an explicit declared schema (bronze sales files →
    typed table, config.py:13-17)."""
    path = f"{_STAGE}/nation_csv"
    t(spark, sf_dir, "nation").coalesce(1).write.mode("overwrite").option("header", True).csv(path)
    schema = StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
        ]
    )
    return spark.read.option("header", True).schema(schema).csv(path)


@query(
    "scan_json_lines",
    f"""
    SELECT event_id, user_id, event_type
    FROM read_json('{_STAGE}/events_json/*.json',
                   columns={{'event_id': 'BIGINT', 'user_id': 'BIGINT', 'event_type': 'VARCHAR'}})
    WHERE event_id < 2000
    """,
)
def scan_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines scan — the Graph-API payload shape
    (sharepoint_to_bronze_delta.py:55,65,76)."""
    path = f"{_STAGE}/events_json"
    (
        t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 2000)
        .select("event_id", "user_id", "event_type")
        .coalesce(1)
        .write.mode("overwrite")
        .json(path)
    )
    return spark.read.json(path, schema="event_id bigint, user_id bigint, event_type string")


@query(
    "scan_binaryfile",
    """
    SELECT * FROM (VALUES
      ('doc_0.bin', CAST(100 AS BIGINT), 'cd00e292c5970d3c5e2f0ffa5171e555bc46bfc4faddfb4a418b6840b86e79a3'),
      ('doc_1.bin', CAST(101 AS BIGINT), 'df5e7ef8b4a2dcbf2d99a0a0ac4527f9b3967daa799f7e0b7c11b06c4cd56a80'),
      ('doc_2.bin', CAST(102 AS BIGINT), '3c2ee46702eaea9a3f06da0e5d27e906be993b625050130db26af49f5ba302fa'),
      ('doc_3.bin', CAST(103 AS BIGINT), 'b59be665caf7e963d8019af0de3dd6ff1d6d040e084ed1d20c04b421dcc6cc0f'),
      ('doc_4.bin', CAST(104 AS BIGINT), '01e7ec91ba83e758a90fce9430def28f0cb597a2714af8c6b4c97839b6fcca83'),
      ('doc_5.bin', CAST(105 AS BIGINT), '43777d16de1669f962cf72767448875917c0657ce1a6de3a0e4c6bc73caa0160'),
      ('doc_6.bin', CAST(106 AS BIGINT), '27b400ba73a97390a792482e0b93b8a3aed50f48e893c3bf3bc76192777491ca'),
      ('doc_7.bin', CAST(107 AS BIGINT), '59ba9254408b49261965e91f7f53bb2737c9ca84855a73abf1ba32cce360b8f0')
    ) AS t(file_name, length, content_sha256)
    """,
)
def scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary whole-file scan (multimodal bronze landing, A-2/A-3).

    Files land as (path, modificationTime, length, content) — the
    engine's replacement for driver-RAM buffering
    (sharepoint_to_bronze_delta.py:166-170).  Strong check: the staged
    blobs are deterministic (byte i repeated 100+i times), so the
    oracle is the literal expected (name, length, sha256) table.
    """
    stage = f"{_STAGE}/blobs"
    os.makedirs(stage, exist_ok=True)
    for i in range(8):
        with open(f"{stage}/doc_{i}.bin", "wb") as f:
            f.write(bytes([i]) * (100 + i))
    df = spark.read.format("binaryFile").load(stage)
    return df.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        "length",
        F.sha2("content", 256).alias("content_sha256"),
    ).orderBy("file_name")


@query(
    "scan_manifest",
    """
    SELECT * FROM (VALUES
      ('report_q1.csv', 'finance', 'contoso', 'https://sp/f/report_q1.csv', 'Files/finance', true, false),
      ('report_q2.csv', 'finance', 'contoso', 'https://sp/f/report_q2.csv', 'Files/finance', true, true),
      ('logo.png', 'assets', 'contoso', 'https://sp/a/logo.png', 'Files/assets', false, false),
      ('notes_2024.txt', 'shared', 'contoso', 'https://sp/s/notes''2024.txt', 'Files/shared', false, false)
    ) AS t(file_name, folder_name, site_name, file_url, lakehouse_folder,
           copy_to_archive, delete_original)
    """,
)
def scan_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-memory manifest → DataFrame with declared schema — the
    reference's discovery output (FIXTURES.md file_manifest;
    sharepoint_to_bronze_delta.py:141-153), flags typed boolean at the
    edge instead of "True"/"False" strings.

    The rows go in via pandas + Arrow: a list-of-tuples createDataFrame
    pickles to a Python RDD, so every downstream action pays Python
    worker spin-up (measured 0.6-8s mid-bench); the Arrow path converts
    driver-side and stays JVM-only afterwards (~0.2s)."""
    import pandas as pd

    rows = [
        ("report_q1.csv", "finance", "contoso", "https://sp/f/report_q1.csv", "Files/finance", True, False),
        ("report_q2.csv", "finance", "contoso", "https://sp/f/report_q2.csv", "Files/finance", True, True),
        ("logo.png", "assets", "contoso", "https://sp/a/logo.png", "Files/assets", False, False),
        ("notes'2024.txt", "shared", "contoso", "https://sp/s/notes'2024.txt", "Files/shared", False, False),
    ]
    schema = (
        "file_name string, folder_name string, site_name string, file_url string, "
        "lakehouse_folder string, copy_to_archive boolean, delete_original boolean"
    )
    cols = [f.split()[0] for f in schema.split(", ")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=cols), schema)
    return df.withColumn("file_name", F.regexp_replace("file_name", "'", "_"))


@query(
    "scan_datasource_sharepoint",
    """
    SELECT * FROM (VALUES
      ('budget.xlsx',   'finance', 'https://dl/finance/budget.xlsx',   CAST(2048 AS BIGINT)),
      ('report_q1.csv', 'finance', 'https://dl/finance/report_q1.csv', CAST(1024 AS BIGINT)),
      ('logo.png',      'assets',  'https://dl/assets/logo.png',       CAST(4096 AS BIGINT)),
      ('notes.txt',     'shared',  'https://dl/shared/notes.txt',      CAST(512 AS BIGINT))
    ) AS t(file_name, folder_name, file_path, size_bytes)
    ORDER BY folder_name, file_name
    """,
)
def scan_datasource_sharepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's discovery step (A-1/A-9/A-10) as a REAL Spark 4
    Python DataSource: ``spark.read.format("sharepoint_manifest")``
    plans one input partition per source folder, and each executor
    partition walks the Graph listing through ``SharePointClient`` —
    token auth, @odata.nextLink pagination (the finance folder pages),
    the is-file filter (the assets folder contains a subfolder), and
    the manifest projection all run source-side, exactly where a
    production connector puts them.

    Offline determinism: the Graph transport is the same injectable
    fake used by the connector's unit tests, constructed inside the
    reader (executor-side) from literal routes — so the driver ships
    only the DataSource class (cloudpickle by value) and a repo-root
    string for the import path.

    At 100 TB-scale ingest the partition-per-folder plan is what
    parallelizes discovery across thousands of folders; content bytes
    still flow through the binaryFile/download path, never the driver.
    """
    import ingest_sharepoint_file_to_fabric_lakehouse_spark as pkg
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__)))

    def _routes():
        # literal Graph fixture: token, site, drives, folder listings
        # (finance paginated via @odata.nextLink, assets holding a
        # subfolder the is-file filter must drop)
        host = "https://graph.microsoft.com/v1.0"
        login_post = {
            "https://login.microsoftonline.com/tn/oauth2/v2.0/token": {
                "access_token": "tok", "expires_in": 3600,
            }
        }
        gets = {
            f"{host}/sites/contoso.sharepoint.com:/sites/ops": {"id": "site1"},
            f"{host}/sites/site1/drives": {
                "value": [
                    {"id": "wiki", "name": "Teams Wiki Data"},
                    {"id": "drv1", "name": "Documents"},
                ]
            },
            f"{host}/drives/drv1/root:/finance:/children": {
                "value": [
                    {
                        "name": "report_q1.csv", "size": 1024,
                        "file": {}, "@microsoft.graph.downloadUrl":
                        "https://dl/finance/report_q1.csv",
                    }
                ],
                "@odata.nextLink": f"{host}/drives/drv1/root:/finance:/children?page=2",
            },
            f"{host}/drives/drv1/root:/finance:/children?page=2": {
                "value": [
                    {
                        "name": "budget.xlsx", "size": 2048,
                        "file": {}, "@microsoft.graph.downloadUrl":
                        "https://dl/finance/budget.xlsx",
                    }
                ]
            },
            f"{host}/drives/drv1/root:/assets:/children": {
                "value": [
                    {"name": "old", "folder": {}},
                    {
                        "name": "logo.png", "size": 4096,
                        "file": {}, "@microsoft.graph.downloadUrl":
                        "https://dl/assets/logo.png",
                    },
                ]
            },
            f"{host}/drives/drv1/root:/shared:/children": {
                "value": [
                    {
                        "name": "notes.txt", "size": 512,
                        "file": {}, "@microsoft.graph.downloadUrl":
                        "https://dl/shared/notes.txt",
                    }
                ]
            },
        }
        return login_post, gets

    class _FolderPartition(InputPartition):
        def __init__(self, folder: str):
            self.folder = folder

    class SharePointManifestSource(DataSource):
        @classmethod
        def name(cls):
            return "sharepoint_manifest"

        def schema(self):
            return (
                "file_name string, folder_name string, "
                "file_path string, size_bytes bigint"
            )

        def reader(self, schema):
            return _Reader(self.options)

    class _Reader(DataSourceReader):
        def __init__(self, options):
            self.folders = options.get("folders", "finance,assets,shared").split(",")

        def partitions(self):
            return [_FolderPartition(f) for f in self.folders]

        def read(self, partition):
            import sys

            if repo_root not in sys.path:
                sys.path.insert(0, repo_root)
            from ingest_sharepoint_file_to_fabric_lakehouse_spark.sources.sharepoint import (
                GraphAuth,
                SharePointClient,
            )

            login_post, gets = _routes()

            class _Resp:
                def __init__(self, body):
                    self.status_code = 200
                    self.headers = {}
                    self._body = body

                def json(self):
                    return self._body

            class _Fake:
                def get(self, url, **kw):
                    return _Resp(gets[url])

                def post(self, url, **kw):
                    return _Resp(login_post[url])

            fake = _Fake()
            auth = GraphAuth("tn", "cid", "secret", transport=fake)
            client = SharePointClient(auth, transport=fake)
            site = client.get_site_id("contoso.sharepoint.com", "ops")
            drive = client.get_document_drive_id(site)
            for r in client.manifest_rows(drive, [partition.folder]):
                yield (
                    r["file_name"],
                    r["folder_name"],
                    r["file_path"],
                    r["size_bytes"],
                )

    try:
        spark.dataSource.register(SharePointManifestSource)
    except Exception as exc:  # re-register is the only benign failure
        # A genuine registration failure (API change, pickling error)
        # must propagate — swallowing it would resurface later as a
        # confusing DATA_SOURCE_NOT_FOUND on the read.
        if "DATA_SOURCE_ALREADY_EXISTS" not in str(exc) and "already" not in str(
            exc
        ):
            raise
    return (
        spark.read.format("sharepoint_manifest")
        .option("folders", "finance,assets,shared")
        .load()
        .orderBy("folder_name", "file_name")
    )


@query(
    "scan_schema_evolution",
    """
    SELECT CASE WHEN year(o_orderdate) = 1995 THEN NULL
                ELSE o_orderpriority END AS o_orderpriority,
           count(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_price
    FROM orders
    WHERE year(o_orderdate) IN (1995, 1996)
    GROUP BY 1
    ORDER BY 1 NULLS FIRST
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet batches: an early batch wrote
    (o_orderkey, o_orderdate, o_totalprice); a later batch added
    o_orderpriority.  ``mergeSchema`` unifies the footers at read time
    — old rows surface the new column as NULL, no rewrite of history
    (the lakehouse contract Delta/Iceberg formalize; plain parquet
    gets exactly this far).

    The batches are re-derived from orders each run (same
    stage-then-read pattern as the csv/json scans), so the oracle can
    replay the merge as a CASE over the year that determined each
    row's batch.  Scale note: mergeSchema reads every footer at
    planning time — at 100 TB, schema is tracked in a transaction log
    or metastore instead, which is precisely the feature gap this
    operator documents.
    """
    from ..core import dec, money

    base = f"{_STAGE}/evolving_orders"
    o = t(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    (
        o.filter(yr == 1995)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .write.mode("overwrite")
        .parquet(f"{base}/batch=1")
    )
    (
        o.filter(yr == 1996)
        .select("o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite")
        .parquet(f"{base}/batch=2")
    )
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{base}/batch=1", f"{base}/batch=2"
    )
    return (
        merged.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            money(F.sum(dec("o_totalprice"))).alias("total_price"),
        )
        .orderBy(F.col("o_orderpriority").asc_nulls_first())
    )


@query(
    "scan_csv_malformed",
    """
    SELECT CAST(4 AS BIGINT) AS n_good,
           CAST(2 AS BIGINT) AS n_corrupt,
           CAST(19 AS BIGINT) AS id_sum
    """,
)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV ingestion with a corrupt-record column — the
    dead-letter pattern for dirty interchange files (the batch
    analogue of run_ingest's per-row error isolation, A-21): rows
    that fail the schema (type violation, extra tokens) land intact
    in ``_corrupt`` instead of failing the job or silently vanishing,
    so the pipeline can quarantine and replay them.

    The fixture is a deterministic 6-row file with two type-violation
    rows, so the good/corrupt split and the good-row checksum are a
    literal oracle.  (The violations sit on a column the query reads:
    Spark's CSV parser validates only the columns that survive
    pruning, so an extra-token row is reported corrupt under
    ``select *`` but NOT under an aggregate that prunes the row —
    quarantine checks must key on parsed-column violations or disable
    pruning.)  FAILFAST and DROPMALFORMED are one option away;
    PERMISSIVE + quarantine is the production default at 100 TB
    because a single bad row must never kill a million-file load.
    """
    path = f"{_STAGE}/csv_malformed"
    os.makedirs(path, exist_ok=True)
    fpath = f"{path}/data.csv"
    with open(fpath, "w") as fh:
        fh.write("a,b\n1,x\n2,y\nbad,z\n7,ok\n8.5,whoa\n9,fine\n")
    df = (
        spark.read.schema("a long, b string, _corrupt string")
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(fpath)
    )
    good = F.col("_corrupt").isNull()
    return df.agg(
        F.sum(good.cast("long")).alias("n_good"),
        F.sum((~good).cast("long")).alias("n_corrupt"),
        F.sum(F.when(good, F.col("a")).otherwise(0)).alias("id_sum"),
    )


@query(
    "scan_observe_metrics",
    """
    SELECT count(*) AS n_rows,
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_prices,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM orders
    """,
)
def scan_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality metrics piggybacked on a scan via ``observe`` —
    row counts, null counts, and a control total collected DURING the
    pass, not by a second one.  This is how production pipelines get
    per-batch quality telemetry for free: the Observation rides the
    existing job, the driver reads back one control-plane row.  The
    oracle recomputes the same aggregates relationally — observed
    metrics must be exact, not sampled.
    """
    import pandas as pd

    from pyspark.sql import Observation

    from ..core import dec, money

    obs = Observation("scan_metrics")
    o = t(spark, sf_dir, "orders").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").isNull().cast("long")).alias("null_prices"),
        money(F.sum(dec("o_totalprice"))).alias("total"),
    )
    o.write.format("noop").mode("overwrite").save()  # the driving pass
    m = obs.get
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "n_rows": [m["n_rows"]],
                "null_prices": [m["null_prices"]],
                "total": [m["total"]],
            }
        ),
        "n_rows long, null_prices long, total double",
    )


@query(
    "scan_parquet_nested",
    """
    WITH n AS (
      SELECT doc_id,
             {'lang': lang, 'source': source} AS meta,
             {'n_chars': n_chars,
              'n_tokens': len(string_split(text, ' '))} AS metrics,
             string_split(text, ' ')[1:3] AS lead_tokens
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           meta.lang AS lang,
           metrics.n_tokens AS n_tokens,
           CAST(len(lead_tokens) AS INT) AS n_lead,
           array_to_string(lead_tokens, '-') AS lead_joined
    FROM n
    ORDER BY doc_id
    """,
)
def scan_parquet_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested parquet round trip: structs and arrays written as real
    parquet nested types (not JSON strings — cf. map_json_ops), read
    back with dot-path projection.  The read schema prunes INSIDE the
    struct (`spark.sql.optimizer.nestedSchemaPruning.enabled`, on by
    default): projecting meta.lang reads one leaf column of the
    struct, not the whole group — at 100 TB a wide metadata struct
    costs only the leaves a query touches.  The oracle rebuilds the
    nesting relationally from the flat table.
    """
    path = f"{_STAGE}/docs_nested"
    (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.struct(F.col("lang"), F.col("source")).alias("meta"),
            F.struct(
                F.col("n_chars"),
                F.size(F.split("text", " ")).alias("n_tokens"),
            ).alias("metrics"),
            F.slice(F.split("text", " "), 1, 3).alias("lead_tokens"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.select(
        "doc_id",
        F.col("meta.lang").alias("lang"),
        F.col("metrics.n_tokens").alias("n_tokens"),
        F.size("lead_tokens").alias("n_lead"),
        F.array_join("lead_tokens", "-").alias("lead_joined"),
    ).orderBy("doc_id")


@query(
    "scan_table_stats",
    """
    SELECT count(*) AS n_rows,
           count(DISTINCT l_returnflag) AS ndv_returnflag,
           count(DISTINCT l_linestatus) AS ndv_linestatus,
           count(*) - count(l_quantity) AS nulls_quantity,
           MIN(CAST(l_quantity * 100 AS BIGINT)) AS min_qty_cents,
           MAX(CAST(l_quantity * 100 AS BIGINT)) AS max_qty_cents,
           MIN(CAST(l_extendedprice * 100 AS BIGINT)) AS min_price_cents,
           MAX(CAST(l_extendedprice * 100 AS BIGINT)) AS max_price_cents,
           MIN(l_shipdate) AS min_shipdate,
           MAX(l_shipdate) AS max_shipdate
    FROM lineitem
    """,
)
def scan_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE in one pass: row count, low-cardinality NDVs,
    null counts, and min/max ranges for the planner's cost model and
    for data-quality gates — the statistics collection every serious
    deployment schedules after ingest.

    One Aggregate over one scan: min/max/count are plain partials;
    the exact NDVs target the LOW-cardinality flag columns only
    (distinct expansion on a high-cardinality key would be its own
    shuffle — that's what agg_approx_distinct / agg_sketch_hll_merge
    are for, and at 100 TB you'd feed those here).  Numeric ranges
    report as exact integer cents; dates as native min/max.
    """
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("l_returnflag").alias("ndv_returnflag"),
        F.count_distinct("l_linestatus").alias("ndv_linestatus"),
        (F.count("*") - F.count("l_quantity")).alias("nulls_quantity"),
        F.min(F.expr("cast(l_quantity * 100 as bigint)")).alias("min_qty_cents"),
        F.max(F.expr("cast(l_quantity * 100 as bigint)")).alias("max_qty_cents"),
        F.min(F.expr("cast(l_extendedprice * 100 as bigint)")).alias("min_price_cents"),
        F.max(F.expr("cast(l_extendedprice * 100 as bigint)")).alias("max_price_cents"),
        F.min("l_shipdate").alias("min_shipdate"),
        F.max("l_shipdate").alias("max_shipdate"),
    )


@query(
    "stream_datasource_sharepoint",
    """
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), 'finance', 'report_q1.csv', CAST(1024 AS BIGINT)),
      (CAST(1 AS BIGINT), 'finance', 'budget.xlsx',   CAST(2048 AS BIGINT)),
      (CAST(2 AS BIGINT), 'assets',  'logo.png',      CAST(4096 AS BIGINT)),
      (CAST(3 AS BIGINT), 'shared',  'notes.txt',     CAST(512 AS BIGINT)),
      (CAST(4 AS BIGINT), 'finance', 'report_q2.csv', CAST(1100 AS BIGINT)),
      (CAST(5 AS BIGINT), 'shared',  'todo.txt',      CAST(256 AS BIGINT)),
      (CAST(6 AS BIGINT), 'assets',  'banner.jpg',    CAST(8192 AS BIGINT))
    ) AS t(seq, folder_name, file_name, size_bytes)
    ORDER BY seq
    """,
)
def stream_datasource_sharepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ingest LOOP as a restartable Structured
    Streaming SOURCE: a Spark 4 Python streaming data source
    (``SimpleDataSourceStreamReader``) that pages the SharePoint
    change feed through engine-tracked OFFSETS — ``initialOffset`` /
    ``read(start) -> (rows, end)`` / ``readBetweenOffsets`` for
    failure replay — so "which files have I already ingested" lives
    in the checkpoint's offset log instead of the reference's
    re-list-everything loop (sharepoint_to_bronze_delta.py:125-153;
    the batch discovery twin is ``scan_datasource_sharepoint``).

    The change feed is a deterministic literal arrival log (the same
    offline-fixture discipline as the batch DataSource); each
    micro-batch pulls ``batch_files`` arrivals, the drain stops when
    the feed is exhausted (deterministic final state), and the drained
    log must equal the full arrival table — the oracle pins every row.
    Restart correctness is the engine's contract: offsets are
    committed per epoch, and a recovering query replays the committed
    range via ``readBetweenOffsets`` (same rows by construction).

    At scale this is exactly a production connector's shape: the
    driver-side reader tracks a cursor (Graph delta link / change
    token), each epoch transfers only the delta, and content bytes
    flow through the executor-side download path, never the driver.
    """
    import shutil
    import time

    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    arrivals = [
        (0, "finance", "report_q1.csv", 1024),
        (1, "finance", "budget.xlsx", 2048),
        (2, "assets", "logo.png", 4096),
        (3, "shared", "notes.txt", 512),
        (4, "finance", "report_q2.csv", 1100),
        (5, "shared", "todo.txt", 256),
        (6, "assets", "banner.jpg", 8192),
    ]

    class _ChangesReader(SimpleDataSourceStreamReader):
        def __init__(self, options):
            self.batch = int(options.get("batch_files", "2"))

        def initialOffset(self):
            return {"seq": 0}

        def read(self, start):
            s = int(start["seq"])
            chunk = arrivals[s : s + self.batch]
            return iter(chunk), {"seq": s + len(chunk)}

        def readBetweenOffsets(self, start, end):
            # failure replay: the committed [start, end) range must
            # reproduce exactly — trivial here because the feed is an
            # ordered log, which is the property a real change-token
            # cursor provides
            return iter(arrivals[int(start["seq"]) : int(end["seq"])])

    class SharePointChangesSource(DataSource):
        @classmethod
        def name(cls):
            return "sharepoint_changes"

        def schema(self):
            return "seq bigint, folder_name string, file_name string, size_bytes bigint"

        def simpleStreamReader(self, schema):
            return _ChangesReader(self.options)

    spark.dataSource.register(SharePointChangesSource)
    base = staging_dir(sf_dir, "stream_ds_sharepoint")
    out, ckpt = f"{base}/out", f"{base}/ckpt"
    # Steady-state resume gate (core.staged_build, as for every drained
    # stream): the change feed is a deterministic literal log, so a
    # completed drain is final — a production connector keeps its
    # cursor in the checkpoint and never re-pages history; the token
    # names the feed version so editing `arrivals` forces a re-drain.
    token = f"arrivals_v1_n{len(arrivals)}"
    with staged_build(spark, token, out) as need:
        if need:
            # only out and ckpt: base also holds this gate's lease file
            shutil.rmtree(out, ignore_errors=True)
            shutil.rmtree(ckpt, ignore_errors=True)
            seen = {"n": 0}

            def sink(batch_df: DataFrame, epoch_id: int) -> None:
                n = batch_df.count()
                batch_df.write.mode("overwrite").parquet(f"{out}/epoch={epoch_id}")
                seen["n"] += n

            q = (
                spark.readStream.format("sharepoint_changes")
                .option("batch_files", "3")
                .load()
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="0 seconds")
                .start()
            )
            # drain-until-exhausted: the feed is finite, so the terminal
            # state is deterministic; the poll is control-plane only
            deadline = time.time() + 120
            while seen["n"] < len(arrivals) and time.time() < deadline:
                time.sleep(0.1)
            q.stop()
            q.awaitTermination(60)
            if seen["n"] < len(arrivals):
                raise TimeoutError(
                    f"SharePoint change feed drained {seen['n']} of "
                    f"{len(arrivals)} arrivals before the deadline"
                )
            open(f"{out}/_SUCCESS", "w").close()
    return spark.read.parquet(f"{out}/epoch=*").orderBy("seq")
