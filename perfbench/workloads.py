"""The benchmark workloads.

Each workload is one client in a closed loop: ``make_pass`` returns
the ops of one pass and the runner issues them back to back.  An op's
latency covers its calls into the engine plus the client's small input
preparation (writing the changed library files, building the CDC
frame, writing the stream file); the per-layer metrics time the engine
calls alone.  Every op returns a check that the runner evaluates,
untimed, right after it.

* ``lakehouse_ingest`` — the write path: incremental ``run_ingest``
  rounds over a generated document library, the ingestion-log summary
  the reference prints after a run, a partitioned MERGE of an
  orders CDC batch, a read-after-write aggregate of the merged table
  and a ``run_stream_to_parquet`` drain of a new events file.
* ``read_mix`` — a permuted mix of registered query keys (analytic
  reads and corpus curation) over generated tables; each output is
  checked against the key's DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import os
import time
from datetime import datetime, timedelta

import numpy as np

import gen

PKG = "ingest_sharepoint_file_to_fabric_lakehouse_spark"


class Op:
    """One call into the engine.  ``slot`` is the op's fixed position in
    its workload (traced runs trace an op when slot + pass is odd)."""

    __slots__ = ("name", "layer", "fn", "slot")

    def __init__(self, name: str, layer: str, fn, slot: int = 0):
        self.name, self.layer, self.fn, self.slot = name, layer, fn, slot


class Ctx:
    """What a workload needs from the runner."""

    def __init__(self, spark, seed: int, run_dir: str, data_name: str, tracer, log):
        self.spark, self.seed, self.run_dir, self.tracer, self.log = spark, seed, run_dir, tracer, log
        self.data_dir = os.path.join(run_dir, data_name)


def _pq_rows(path: str) -> int:
    import pyarrow.parquet as pq

    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
    return total


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _dirs, files in os.walk(path) for f in files
    )


def key_layer(key: str) -> str:
    """The module that defines a registered key's operator function
    (the function the ``core.query`` wrapper closes over)."""
    from ingest_sharepoint_file_to_fabric_lakehouse_spark import core

    wrapped = core.QUERIES[key]
    fn = dict(zip(wrapped.__code__.co_freevars, (c.cell_contents for c in wrapped.__closure__)))["fn"]
    return fn.__module__.removeprefix(PKG + ".")


# ------------------------------------------------------------------ mixes


def fingerprint(cols, rows) -> str:
    """Order-insensitive digest of a result; floats rounded to 9
    significant digits so last-bit summation order does not count."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if isinstance(v, float):
            return float(f"{v:.9g}")
        if isinstance(v, (list, tuple)):
            return tuple(cell(x) for x in v)
        return v

    lines = sorted(repr(tuple(cell(r[i]) for i in order)) for r in rows)
    return hashlib.sha256("\n".join([repr(sorted(cols))] + lines).encode()).hexdigest()


class ReadMix:
    """Analytic reads and corpus curation, one key per layer, permuted
    every pass: the TPC-H flagship and join/aggregate/window/analytics
    keys over plain table scans, next to dedup/search/text keys over
    staged indexes (SimHash signatures, BM25 postings, LM bigrams, all
    built during setup), similarity, pipeline and corpus keys, and a
    pandas UDF key."""

    name = "read_mix"
    # 48 timed ops, so about five samples lie beyond p90; with 24 the
    # p90 of ten seeds spread by a quarter of its median
    min_passes = 4
    pass_group = 1
    KEYS = [
        "flagship_q3_topk",
        "join_shuffle_large",
        "agg_group_sum",
        "win_row_number",
        "events_user_retention",
        "dedup_simhash",
        "search_bm25",
        "text_lm_quality",
        "sim_topk_bruteforce",
        "text_pii_scrub",
        "udf_pandas_scalar",
        "vocab_topk",
    ]

    def __init__(self, ctx: Ctx):
        from ingest_sharepoint_file_to_fabric_lakehouse_spark import load_all

        load_all()  # registers every query key
        self.ctx = ctx
        self.ref: dict[str, tuple] = {}
        self.ref_fp: dict[str, str] = {}
        self.layers = {k: key_layer(k) for k in self.KEYS}
        self.index_build_s = 0.0

    def prepare(self) -> dict:
        gen.write_tables(self.ctx.data_dir, self.ctx.seed)
        return {"manifest_sha256": gen.manifest_hash(self.ctx.data_dir)}

    def warm(self) -> None:
        """Three untimed calls per key.  The first builds staged
        artifacts and compiles plans, and its output is the reference
        each later call is compared with (the reference itself is
        oracle-checked after the run).  Latencies still fall by a fifth
        or more over the next two calls, so those are untimed too."""
        from ingest_sharepoint_file_to_fabric_lakehouse_spark import core

        spark, sf = self.ctx.spark, self.ctx.data_dir
        for key in self.KEYS:
            n_events = len(core.STAGING_EVENTS)
            t0 = time.perf_counter()
            df = core.QUERIES[key](spark, sf)
            rows = df.collect()
            dt = time.perf_counter() - t0
            if len(core.STAGING_EVENTS) > n_events:
                self.index_build_s += dt
            self.ref[key] = (df.columns, rows)
            self.ref_fp[key] = fingerprint(df.columns, rows)
            self.ctx.log(f"warm {key}: {dt:.2f}s rows={len(rows)}")
        for _ in range(2):
            for key in self.KEYS:
                if not self._op(key)()():
                    raise RuntimeError(f"{key} changed its output between two warm-up calls")

    def make_pass(self, p: int) -> list[Op]:
        rng = np.random.default_rng([self.ctx.seed, 7, p])
        return [
            Op(self.KEYS[i], self.layers[self.KEYS[i]], self._op(self.KEYS[i]), int(i))
            for i in rng.permutation(len(self.KEYS))
        ]

    def _op(self, key: str):
        from ingest_sharepoint_file_to_fabric_lakehouse_spark import core

        def run():
            tr = self.ctx.tracer
            with tr.span("build"):
                df = core.QUERIES[key](self.ctx.spark, self.ctx.data_dir)
            # collect() materializes every output column (a count()
            # would let the optimizer prune projected columns)
            with tr.span("exec"):
                rows = df.collect()
            return lambda: fingerprint(df.columns, rows) == self.ref_fp[key]

        return run

    def check(self) -> dict[str, str]:
        """DuckDB oracle parity of every key's reference output, with
        the engine's own canonical comparison (tools/check_oracle.py)."""
        import duckdb

        import check_oracle as co
        from ingest_sharepoint_file_to_fabric_lakehouse_spark import core

        con = duckdb.connect()
        con.execute("PRAGMA threads=4")
        for t in core.TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.ctx.data_dir}/{t}.parquet')"
            )
        bad = {}
        for key in self.KEYS:
            cols, rows = self.ref[key]
            if not rows:
                bad[key] = "empty result"
                continue
            res = con.execute(core.ORACLES[key])
            dcols = [d[0] for d in res.description]
            got = co.norm_rows(list(cols), [tuple(r) for r in rows])
            want = co.norm_rows(dcols, res.fetchall())
            if got != want:
                bad[key] = f"oracle mismatch ({len(got[1])} vs {len(want[1])} rows)"
        con.close()
        return bad

    def layer_metrics(self, ops: list[dict], tracer) -> dict:
        from spans import mean, median

        out = {}
        by_layer: dict[str, list[dict]] = {}
        for s in tracer.roots("timed"):
            by_layer.setdefault(s["layer"], []).append(s)
        for layer, spans in by_layer.items():
            out[f"{layer}.exec_s"] = median(
                [c["end"] - c["start"] for s in spans for c in tracer.children(s, "exec")]
            )
            out[f"{layer}.build_s"] = median(
                [c["end"] - c["start"] for s in spans for c in tracer.children(s, "build")]
            )
            out[f"{layer}.jobs"] = mean([s["jobs"] for s in spans])
            out[f"{layer}.tasks"] = mean([s["tasks"] for s in spans])
        out["core.index_build_s"] = self.index_build_s
        return out


# ---------------------------------------------------------------- ingest


EVENTS_SCHEMA = "event_id long, user_id long, event_type string, value double"


class LakehouseIngest:
    """Incremental ingest rounds, each followed by the ingestion-log
    summary, a partitioned MERGE, a read-after-write aggregate and a
    stream drain; every 4th round changes nothing in the library."""

    name = "lakehouse_ingest"
    min_passes = 4
    pass_group = 4  # one round in four is a no-op
    N_FILES = 400
    MEDIAN_BYTES = 13_000
    MTIME0 = 1_700_000_000
    MERGE_ROWS = 20_000
    CDC_NEW = 100
    STREAM_ROWS = 2_000

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        d = ctx.run_dir
        self.lib = os.path.join(ctx.data_dir, "library")
        self.bronze = os.path.join(d, "bronze")
        self.target = os.path.join(d, "merge", "orders")
        self.stream_src = os.path.join(ctx.data_dir, "events_feed")
        self.stream_out = os.path.join(d, "stream", "out")
        self.ckpt = os.path.join(d, "stream", "checkpoint")
        self.rnd = 0
        self.expected_log_rows = 0
        self.stream_rows_in = 0
        self.round_stats: list[dict] = []  # one per ingest call
        self.merge_stats: list[dict] = []
        self.drain_stats: list[dict] = []
        self.replay = None
        self.backfill_mb_per_s = 0.0

    # -------------------------------------------------------------- setup
    def prepare(self) -> dict:
        from ingest_sharepoint_file_to_fabric_lakehouse_spark.plans.merge import write_table
        from ingest_sharepoint_file_to_fabric_lakehouse_spark.sources.ingest import run_ingest

        spark, seed = self.ctx.spark, self.ctx.seed
        self.state = gen.write_library(self.lib, seed, self.N_FILES, self.MEDIAN_BYTES, self.MTIME0)
        self.replay = gen.seed_orders(seed, self.MERGE_ROWS).set_index("o_orderkey", drop=False)
        os.makedirs(self.stream_src, exist_ok=True)
        manifest = gen.manifest_hash(self.ctx.data_dir)
        write_table(spark.createDataFrame(self.replay.reset_index(drop=True)), self.target, "o_year")
        src_bytes = _dir_bytes(self.lib)
        t0 = time.perf_counter()
        run_ingest(spark, self.lib, self.bronze, run_ts=self._run_ts(0))
        backfill_s = time.perf_counter() - t0
        self.backfill_mb_per_s = src_bytes / 1e6 / backfill_s
        self.ctx.log(f"backfill of {len(self.state)} files: {backfill_s:.2f}s")
        self.expected_log_rows = len(self.state)
        return {"manifest_sha256": manifest, "library_files": len(self.state), "library_bytes": src_bytes}

    def warm(self) -> None:
        """Two untimed rounds, the second a no-op one (latencies keep
        falling over the first few calls of each op)."""
        for op in self._round(noop=False) + self._round(noop=True):
            ok = op.fn()()
            if not ok:
                raise RuntimeError(f"warm-up op {op.name} failed its check")
        for stats in (self.round_stats, self.merge_stats, self.drain_stats):
            stats.clear()  # per-layer figures describe the timed phase only

    def make_pass(self, p: int) -> list[Op]:
        return self._round(noop=p % 4 == 1)

    # ---------------------------------------------------------------- ops
    def _run_ts(self, rnd: int) -> str:
        return (datetime(2024, 6, 1, 12) + timedelta(minutes=rnd)).strftime("%Y-%m-%d %H:%M:%S")

    def _round(self, noop: bool) -> list[Op]:
        self.rnd += 1
        ops = [
            self._ingest_op(noop), self._summary_op(), self._merge_op(), self._read_op(),
            self._stream_op(),
        ]
        for i, op in enumerate(ops):
            op.slot = i
        return ops

    def _ingest_op(self, noop: bool) -> Op:
        from ingest_sharepoint_file_to_fabric_lakehouse_spark.sources.ingest import run_ingest

        rnd, seed = self.rnd, self.ctx.seed
        runs_dir = os.path.join(self.bronze, "bronze_files")

        def run():
            changed = 0
            if not noop:
                mod, add = gen.mutate_library(
                    self.lib, self.state, seed, rnd, self.MTIME0 + 1000 * rnd, self.MEDIAN_BYTES
                )
                changed = len(mod) + len(add)
            before = set(os.listdir(runs_dir))
            tr = self.ctx.tracer
            t0 = time.perf_counter()
            with tr.span("sources.ingest.run_ingest") as sp:
                run_ingest(self.ctx.spark, self.lib, self.bronze, run_ts=self._run_ts(rnd))
            call_s = time.perf_counter() - t0

            def verify():
                new = sorted(set(os.listdir(runs_dir)) - before)
                landed = sum(_pq_rows(os.path.join(runs_dir, d)) for d in new)
                nbytes = 0
                dead = 0
                if new:
                    import pyarrow.parquet as pq

                    t = pq.read_table(
                        os.path.join(runs_dir, new[0]), columns=["size_bytes", "status"]
                    )
                    nbytes = sum(t.column("size_bytes").to_pylist())
                    dead = sum(1 for s in t.column("status").to_pylist() if s != "ingested")
                self.expected_log_rows += changed
                self.round_stats.append({
                    "noop": noop, "call_s": call_s, "listed": len(self.state),
                    "landed": landed, "bytes": nbytes, "dead_letter": dead,
                    "traced": sp is not None,
                })
                return landed == changed and len(new) == (0 if changed == 0 else 1)

            return verify

        return Op("ingest_noop" if noop else "ingest_sync", "sources.ingest", run)

    def _summary_op(self) -> Op:
        """The post-run summary the reference prints: files and bytes
        per folder and status, read back from the ingestion log."""
        from pyspark.sql import functions as F

        def run():
            with self.ctx.tracer.span("exec"):
                rows = (
                    self.ctx.spark.read.parquet(os.path.join(self.bronze, "_ingestion_log"))
                    .groupBy("folder_name", "status")
                    .agg(F.count("*").alias("files"), F.sum("size_bytes").alias("bytes"))
                    .collect()
                )

            def verify():
                return sum(r["files"] for r in rows) == self.expected_log_rows and all(
                    r["status"] == "ingested" for r in rows
                )

            return verify

        return Op("ingest_summary", "sources.ingest", run)

    def _merge_op(self) -> Op:
        from ingest_sharepoint_file_to_fabric_lakehouse_spark.plans.merge import (
            merge_upsert_partitioned,
        )

        rnd, seed = self.rnd, self.ctx.seed

        def run():
            batch = gen.cdc_batch(
                seed, rnd, self.MERGE_ROWS, self.CDC_NEW, self.MERGE_ROWS + rnd * self.CDC_NEW
            )
            src = self.ctx.spark.createDataFrame(batch)
            t0 = time.perf_counter()
            with self.ctx.tracer.span("plans.merge.merge_upsert_partitioned"):
                merge_upsert_partitioned(self.ctx.spark, self.target, src, "o_orderkey", "o_year")
            upsert_s = time.perf_counter() - t0

            def verify():
                b = batch.set_index("o_orderkey", drop=False)
                self.replay = b.combine_first(self.replay)[b.columns]
                self.replay = self.replay.astype(b.dtypes.to_dict())
                self.merge_stats.append({
                    "rows": len(batch), "upsert_s": upsert_s,
                    "partitions": int(batch["o_year"].nunique()),
                })
                return True

            return verify

        return Op("merge_upsert", "plans.merge", run)

    def _read_op(self) -> Op:
        from pyspark.sql import functions as F

        from ingest_sharepoint_file_to_fabric_lakehouse_spark.plans.merge import read_table

        def run():
            tr = self.ctx.tracer
            with tr.span("read_table"):
                df = read_table(self.ctx.spark, self.target)
            with tr.span("exec"):
                rows = (
                    df.groupBy("o_year")
                    .agg(
                        F.count("*").alias("n"),
                        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
                        F.max("version").alias("v"),
                    )
                    .collect()
                )

            def verify():
                r = self.replay
                want = (
                    r.assign(cents=np.round(r["o_totalprice"] * 100).astype("int64"))
                    .groupby("o_year")
                    .agg(n=("o_orderkey", "size"), cents=("cents", "sum"), v=("version", "max"))
                )
                got = {int(x["o_year"]): (x["n"], x["cents"], x["v"]) for x in rows}
                exp = {int(y): (int(a.n), int(a.cents), int(a.v)) for y, a in want.iterrows()}
                return got == exp

            return verify

        return Op("read_after_write", "plans.merge", run)

    def _stream_op(self) -> Op:
        from ingest_sharepoint_file_to_fabric_lakehouse_spark.streaming.streams import (
            run_stream_to_parquet,
        )

        rnd, seed = self.rnd, self.ctx.seed

        def run():
            gen.write_events_file(
                os.path.join(self.stream_src, f"events_{rnd:05d}.parquet"), seed, rnd, self.STREAM_ROWS
            )
            spark = self.ctx.spark
            before = set(os.listdir(self.stream_out)) if os.path.isdir(self.stream_out) else set()
            t0 = time.perf_counter()
            with self.ctx.tracer.span("streaming.streams.run_stream_to_parquet"):
                stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(self.stream_src)
                run_stream_to_parquet(stream, self.stream_out, self.ckpt, src_dir=self.stream_src)
            drain_s = time.perf_counter() - t0

            def verify():
                new = sorted(set(os.listdir(self.stream_out)) - before)
                rows = sum(_pq_rows(os.path.join(self.stream_out, d)) for d in new)
                self.stream_rows_in += self.STREAM_ROWS
                self.drain_stats.append({"drain_s": drain_s, "epochs": len(new), "rows_out": rows})
                return rows == self.STREAM_ROWS

            return verify

        return Op("stream_drain", "streaming.streams", run)

    # ------------------------------------------------------------- checks
    def check(self) -> dict[str, str]:
        import pyarrow.parquet as pq

        bad = {}
        log = pq.read_table(os.path.join(self.bronze, "_ingestion_log")).to_pandas()
        if len(log) != self.expected_log_rows:
            bad["ingest_log_rows"] = f"{len(log)} log rows, expected {self.expected_log_rows}"
        latest = log.sort_values("mtime_epoch").groupby(["folder_name", "file_name"]).tail(1)
        got = {(r.folder_name, r.file_name): r.content_sha256 for r in latest.itertuples()}
        for (folder, name) in self.state:
            with open(os.path.join(self.lib, folder, name), "rb") as fh:
                want = hashlib.sha256(fh.read()).hexdigest()
            if got.get((folder, name)) != want:
                bad["ingest_sha256"] = f"landed sha256 of {folder}/{name} differs from the source"
                break
        table = self.ctx.spark.read.parquet(self.target).toPandas()
        table = table.sort_values("o_orderkey").reset_index(drop=True)
        want = self.replay.reset_index(drop=True).sort_values("o_orderkey")
        want = want.reset_index(drop=True)[table.columns]
        want = want.astype(table.dtypes.to_dict())
        if len(table) != len(want) or not table.equals(want):
            bad["merge_replay"] = f"merged table ({len(table)} rows) != CDC replay ({len(want)} rows)"
        out_rows = _pq_rows(self.stream_out)
        if out_rows != self.stream_rows_in:
            bad["stream_rows"] = f"{out_rows} rows out, {self.stream_rows_in} landed"
        return bad

    def layer_metrics(self, ops: list[dict], tracer) -> dict:
        from spans import mean, median

        def spans(name):
            return [s for s in tracer.spans if s["name"] == name]

        def roots(layer, name=None):
            return [
                s for s in tracer.roots("timed")
                if s["layer"] == layer and (name is None or s["name"] == name)
            ]

        def dur(ss):
            return [s["end"] - s["start"] for s in ss]

        rounds = self.round_stats
        traced = [r for r in rounds if r["traced"]]
        listed = sum(r["listed"] for r in traced)
        ing = [s for s in roots("sources.ingest") if s["name"] != "ingest_summary"]
        merges = roots("plans.merge", "merge_upsert")
        drains = roots("streaming.streams")
        src_bytes = _dir_bytes(self.lib)
        return {
            "sources.ingest.call_s": median(dur(spans("sources.ingest.run_ingest"))),
            "sources.ingest.jobs": mean([s["jobs"] for s in ing]),
            "sources.ingest.tasks": mean([s["tasks"] for s in ing]),
            "sources.ingest.files_landed": mean([r["landed"] for r in traced]),
            "sources.ingest.landed_per_listed": sum(r["landed"] for r in traced) / listed if listed else 0.0,
            "sources.ingest.bytes_landed": mean([r["bytes"] for r in traced]),
            "sources.ingest.dead_letter": sum(r["dead_letter"] for r in rounds),
            "sources.ingest.backfill_mb_per_s": self.backfill_mb_per_s,
            "sources.ingest.sync_p50_s": median([r["call_s"] for r in rounds if not r["noop"]]),
            "sources.ingest.noop_sync_p50_s": median([r["call_s"] for r in rounds if r["noop"]]),
            "sources.ingest.bronze_bytes_per_source_byte": _dir_bytes(self.bronze) / src_bytes,
            "plans.merge.upsert_s": median(dur(spans("plans.merge.merge_upsert_partitioned"))),
            "plans.merge.read_table_s": median(dur(spans("read_table"))),
            "plans.merge.jobs": mean([s["jobs"] for s in merges]),
            "plans.merge.tasks": mean([s["tasks"] for s in merges]),
            "plans.merge.partitions_touched": mean([m["partitions"] for m in self.merge_stats]),
            "plans.merge.files_in_target": sum(
                1 for _d, _s, fs in os.walk(self.target) for f in fs if f.endswith(".parquet")
            ),
            "plans.merge.rows_per_s": sum(m["rows"] for m in self.merge_stats)
            / max(1e-9, sum(m["upsert_s"] for m in self.merge_stats)),
            "streaming.streams.drain_s": median(dur(spans("streaming.streams.run_stream_to_parquet"))),
            "streaming.streams.epochs": mean([d["epochs"] for d in self.drain_stats]),
            "streaming.streams.jobs": mean([s["jobs"] for s in drains]),
            "streaming.streams.rows_out": mean([d["rows_out"] for d in self.drain_stats]),
        }


WORKLOADS = {w.name: w for w in (LakehouseIngest, ReadMix)}
