"""Lakehouse benchmark: write path, analytic reads and corpus curation.

Run from the root of a checkout of the engine:

    python3 perfbench/run.py --workload lakehouse_ingest --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload in turn

One run starts a ``local[<cores>]`` Spark session, generates the
workload's inputs from ``--seed`` (see gen.py), runs the cold builds
and an untimed warm-up of every op (all of that is ``setup_s``), then
runs the workload's closed loop in whole passes until ``--seconds``
have passed, checks every output and prints one JSON object as the
last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics of BENCHMARK.json, measured on half of the passes
with spans and Spark job attribution switched on (the other passes run
untraced, and ``trace.overhead_pct`` compares the two).  All logging
goes to stderr.  Everything the run writes stays under
``.perfbench_work/`` in the checkout: where the kernel allows it, the
run re-executes itself in a private mount namespace with ``/tmp``
bound to ``.perfbench_work/tmp``, because the engine keeps its staged
artifacts under fixed ``/tmp/sgdata/<data dir name>`` paths.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
PKG = "ingest_sharepoint_file_to_fabric_lakehouse_spark"
WORKLOAD_NAMES = ["lakehouse_ingest", "read_mix"]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def isolate(argv) -> None:
    """Re-execute in a private mount namespace with /tmp bound inside the
    checkout.  Returns (and the run goes on unisolated) when the
    namespace cannot be created."""
    if os.environ.get("PERFBENCH_ISOLATED") or not shutil.which("unshare"):
        return
    if os.path.commonpath([ROOT, "/tmp"]) == "/tmp":
        log("checkout lies under /tmp; running without /tmp isolation")
        return
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    probe = subprocess.run(
        ["unshare", "-m", "--propagation", "private", "sh", "-c", f"mount --bind '{tmp}' /tmp"],
        capture_output=True,
    )
    if probe.returncode != 0:
        log("mount namespace unavailable; running without /tmp isolation")
        return
    env = dict(os.environ, PERFBENCH_ISOLATED="1")
    cmd = 'mount --bind "$0" /tmp && exec "$@"'
    os.execvpe(
        "unshare",
        ["unshare", "-m", "--propagation", "private", "sh", "-c", cmd, tmp,
         sys.executable, os.path.abspath(__file__), *argv],
        env,
    )


def start_session(cpus: int):
    from pyspark.sql import SparkSession

    from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import recommended_session_conf

    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local  # overrides spark.local.dir when set
    os.environ["TMPDIR"] = tmp
    b = SparkSession.builder.master(f"local[{cpus}]").appName("perfbench")
    for k, v in recommended_session_conf(cpus).items():
        b = b.config(k, v)
    spark = (
        b.config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launched JVM exits when its stdin closes
        proc.wait(timeout=60)


def instrument_core(tracer) -> None:
    """Wrap the core table/staging loaders in spans wherever the engine's
    modules imported them (traced runs only)."""
    from ingest_sharepoint_file_to_fabric_lakehouse_spark import core

    for fname in ("t", "docs", "read_staged"):
        orig = getattr(core, fname)

        def wrapper(*a, _orig=orig, _span=f"core.{fname}", **kw):
            with tracer.span(_span):
                return _orig(*a, **kw)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PKG) and getattr(mod, fname, None) is orig:
                setattr(mod, fname, wrapper)


def closed_loop(wl, seconds: float, tracer, trace: bool):
    """Issue whole passes of ops until ``seconds`` have passed, at least
    ``wl.min_passes`` of them and a multiple of ``wl.pass_group`` (so
    every run holds the same mix of op types).  Traced runs trace an op
    when its slot plus the pass number is odd, so every op type is
    traced in some passes and untraced in others, early and late."""
    ops: list[dict] = []
    check_s = 0.0
    start = time.perf_counter()
    p = 0
    while p < wl.min_passes or p % wl.pass_group or time.perf_counter() - start < seconds:
        for op in wl.make_pass(p):
            tracer.enabled = trace and (op.slot + p) % 2 == 1
            op_id = f"{op.name}#{len(ops)}"
            t0 = time.perf_counter()
            verify = None
            try:
                with tracer.span(op.name, op=op_id, layer=op.layer, phase="timed"):
                    verify = op.fn()
            except Exception as ex:  # an op that raises counts as failed
                log(f"op {op_id} raised {type(ex).__name__}: {ex}")
            dt = time.perf_counter() - t0
            tc = time.perf_counter()
            try:
                ok = verify is not None and bool(verify())
            except Exception as ex:
                log(f"check of {op_id} raised {type(ex).__name__}: {ex}")
                ok = False
            check_s += time.perf_counter() - tc
            if not ok:
                log(f"op {op_id} FAILED its output check")
            ops.append({"op": op_id, "name": op.name, "layer": op.layer, "seconds": dt,
                        "ok": ok, "traced": tracer.enabled, "pass": p})
        p += 1
    tracer.enabled = False
    return ops, time.perf_counter() - start, check_s, p


def overhead_pct(ops: list[dict]) -> float:
    """Geometric mean over op names of traced/untraced median latency, as
    a percentage above 1.  Op types traced early in a run are untraced
    later and the other way round, so warm-up drift cancels in the mean."""
    import math

    from spans import median

    logs = []
    for name in sorted({o["name"] for o in ops}):
        tr = [o["seconds"] for o in ops if o["name"] == name and o["traced"]]
        un = [o["seconds"] for o in ops if o["name"] == name and not o["traced"]]
        if tr and un:
            logs.append(math.log(median(tr) / median(un)))
    return (math.exp(sum(logs) / len(logs)) - 1.0) * 100.0 if logs else 0.0


def mark_failures(ops: list[dict], bad: dict) -> int:
    """Fail every call of an op whose shared output check failed (a key
    whose reference output disagrees with its oracle); return how many
    ops failed in all."""
    for o in ops:
        if o["name"] in bad:
            o["ok"] = False
    return sum(not o["ok"] for o in ops)


def load_spec() -> dict:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_one(args) -> dict:
    from spans import Tracer, beyond, mean, median, percentile

    import workloads

    spec = load_spec()
    data_name = f"pb_{args.workload}_s{args.seed}"
    run_dir = os.path.join(WORK, "runs", data_name)
    staged = [f"/tmp/sgdata/{data_name}", f"/dev/shm/sgdata/{data_name}"]
    for d in [run_dir] + staged:
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(run_dir)

    t_setup = time.perf_counter()
    cpus = len(os.sched_getaffinity(0))
    spark = start_session(cpus)
    session_s = time.perf_counter() - t_setup
    try:
        from ingest_sharepoint_file_to_fabric_lakehouse_spark import core

        tracer = Tracer(spark, enabled=False)
        ctx = workloads.Ctx(spark, args.seed, run_dir, data_name, tracer, log)
        wl = workloads.WORKLOADS[args.workload](ctx)
        t0 = time.perf_counter()
        info = wl.prepare()
        prepare_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_setup
        log(f"setup {setup_s:.2f}s (session {session_s:.2f}, inputs+builds {prepare_s:.2f}, "
            f"warm-up {warm_s:.2f}); inputs {info}")

        if args.trace:
            instrument_core(tracer)
        staged0 = len(core.STAGING_EVENTS)
        gc0 = tracer.jvm_gc_seconds()
        ops, phase_s, check_s, passes = closed_loop(wl, args.seconds, tracer, bool(args.trace))
        gc_s = tracer.jvm_gc_seconds() - gc0
        staged_builds = len(core.STAGING_EVENTS) - staged0

        bad = wl.check()
        if staged_builds:
            bad["staged_builds"] = f"{staged_builds} staged artifacts built during the timed phase"
        failed = mark_failures(ops, bad)
        lat = [o["seconds"] for o in ops]
        done = sum(o["ok"] for o in ops)
        e2e = {
            "setup_s": setup_s,
            "op_p50_s": median(lat),
            "op_p90_s": percentile(lat, 0.9),
            "ops_per_s": done / (phase_s - check_s),
        }
        layer = {
            "session.jvm_gc_s": gc_s,
            "session.driver_rss_peak_mb": tracer.driver_rss_peak_mb(),
            "session.failed_tasks": sum(s["failed_tasks"] for s in tracer.roots("timed")),
            "core.table_memo_size": len(core._TABLE_CACHE),
            "core.staged_builds": staged_builds,
            "trace.overhead_pct": overhead_pct(ops),
        }
        traced_ops = {s["op"] for s in tracer.roots("timed")}
        for name in ("t", "docs", "read_staged"):
            secs = sum(s["end"] - s["start"] for s in tracer.spans
                       if s["name"] == f"core.{name}" and s["op"] in traced_ops)
            layer[f"core.{name}_s"] = secs / len(traced_ops) if traced_ops else 0.0
        layer.update(wl.layer_metrics(ops, tracer))

        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "inputs": info, "passes": passes, "ops": len(ops),
            "ops_beyond_p90": beyond(lat, 0.9),
            "timed_phase_s": phase_s, "check_s": check_s,
            "setup": {"session_s": session_s, "prepare_s": prepare_s, "warm_s": warm_s},
            "op_mean_s": mean(lat),
            "failed_checks": bad,
            "end_to_end": e2e, "per_layer": layer,
        }
        for m in spec["end_to_end"]:
            log(f"{m['name']:32s} {e2e[m['name']]:.4f} {m['unit']}")
        log(f"ops={len(ops)} passes={passes} beyond_p90={report['ops_beyond_p90']} "
            f"failed_checks={bad}")
        # human-readable report: every metric by name, before the result line
        print("report " + json.dumps(report, sort_keys=True), file=sys.__stdout__, flush=True)
        tracer.dump(
            os.path.join(WORK, "traces", f"{data_name}_trace{args.trace}.json"),
            {"report": report, "ops": ops},
        )
    finally:
        stop_session(spark)
        for d in [run_dir] + staged:
            shutil.rmtree(d, ignore_errors=True)

    chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layer if args.trace else e2e
    return {
        "correct": not bad and failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in chosen
        },
    }


def run_all(args) -> int:
    """Every workload in its own process, one after another."""
    ok = True
    for w in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = res.stdout.strip().splitlines()
        print("\n".join(f"{w}: {line}" for line in lines), flush=True)
        ok = ok and res.returncode == 0 and bool(lines) and json.loads(lines[-1])["correct"]
    return 0 if ok else 1


def main(argv) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, PKG, "core.py"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check_oracle.py"))):
        log(f"no engine sources under {ROOT}; run from the root of a checkout")
        return 2
    if args.workload == "all":
        return run_all(args)
    isolate(argv)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    out = sys.stdout
    sys.stdout = sys.stderr  # engine and library prints must not reach the result stream
    result = run_one(args)
    print(json.dumps(result), file=out, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
