"""Benchmark of the Spark warehouse engine: closed-loop, single-client
workloads over the sf0.1 tables in ``perfbench/data``.

    python3 perfbench/run.py --workload sql_mix --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout (it needs ``fugue_warehouses_spark``
beside ``perfbench``). One run:

1. set-up (``setup_s``): start the Spark session on ``local[nproc]``,
   make the seeded inputs, then run every op untimed (the warm runs:
   one sql_mix pass or two ingest_lookup rounds; stores, codegen and
   JIT compilation land here);
2. host controls: a 1536x1536 numpy matmul and 32 trivial Spark jobs;
3. measurement: whole passes of the workload's ops in seeded order
   until ``--seconds`` have passed; every op's output is checked;
4. end-of-run checks, host controls again, peak RSS, shut-down.

With ``--trace 0`` the last line of stdout is a JSON object with every
end-to-end metric; with ``--trace 1`` it carries the per-layer metrics,
read around each op from outside the package (see ``tracing.py``).
Each run also writes a record (metrics, host controls, ops, spans and
their Spark job groups) to ``.perfbench_out/`` in the checkout. All other
run state lives in ``.perfbench_runs/<run>/`` and is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.1")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
WORKLOADS = ("sql_mix", "ingest_lookup")
# the driver heap, pinned (-Xms = -Xmx) by session.pinned_heap_conf; the
# tables are 16 MB, so 2 GB leaves room without a large footprint
HEAP = "2g"
YOUNG = "1g"

# per-layer metric -> (per-op record key, unit); the value is the mean
# over the measured ops that have the key, 0 where none has it
LAYER_FROM_OPS = {
    "queries.build_s": ("build_s", "s"),
    "queries.build_jobs": ("build_jobs", "count"),
    "engine.plan_s": ("plan_s", "s"),
    "sources.scan_rows": ("input_rows", "count"),
    "sources.scan_bytes": ("scan_bytes", "bytes"),
    "sources.scan_s": ("scan_s", "s"),
    "shuffle.exchanges": ("exchanges", "count"),
    "shuffle.write_bytes": ("shuffle_write_bytes", "bytes"),
    "shuffle.read_bytes": ("shuffle_read_bytes", "bytes"),
    "shuffle.fetch_wait_s": ("fetch_wait_s", "s"),
    "codegen.pipeline_s": ("pipeline_s", "s"),
    "executor.run_s": ("run_s", "s"),
    "executor.cpu_s": ("cpu_s", "s"),
    "executor.gc_s": ("gc_s", "s"),
    "executor.spill_bytes": ("spill_bytes", "bytes"),
    "transform.python_s": ("python_cpu_s", "s"),
    "transform.workers_started": ("workers_started", "count"),
    "transform.sent_bytes": ("python_sent_bytes", "bytes"),
    "transform.received_bytes": ("python_received_bytes", "bytes"),
    "scheduler.jobs": ("jobs", "count"),
    "scheduler.stages": ("stages", "count"),
    "scheduler.tasks": ("tasks", "count"),
    "scheduler.residual_s": ("residual_s", "s"),
    "checkpoint.cached_bytes": ("cached_bytes", "bytes"),
    "checkpoint.written_bytes": ("ckpt_written_bytes", "bytes"),
    "frame.fetch_s": ("fetch_s", "s"),
    "frame.fetch_bytes": ("fetch_bytes", "bytes"),
    "streaming.add_batch_s": ("add_batch_s", "s"),
    "streaming.trigger_overhead_s": ("trigger_overhead_s", "s"),
    "streaming.input_rows": ("stream_input_rows", "count"),
    "versioned.read_all_s": ("read_all_s", "s"),
    "dedup.lookup_s": ("lookup_s", "s"),
    "dedup.pairs": ("pairs", "count"),
    "trace.collect_s": ("collect_s", "s"),
    "trace.overhead_s": ("trace_s", "s"),
}
LAYER_STATE = {
    "versioned.live_versions": "count",
    "versioned.files": "count",
    "versioned.bytes": "bytes",
    "store.bytes_per_input_byte": "ratio",
}
SPAN_NAMES = (
    "workload", "op", "queries.build", "frame.fetch",
    "streaming.ingest_round", "versioned.read_all", "dedup.lookup",
)
HOST = ("host.matmul_start_s", "host.matmul_end_s",
        "host.jobfloor_start_s", "host.jobfloor_end_s")
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "bulk_rows_per_s": "rows/s",
}


def per_layer_units() -> dict[str, str]:
    units = {"session.start_s": "s", "session.warm_s": "s"}
    units.update({k: u for k, (_, u) in LAYER_FROM_OPS.items()})
    units.update(LAYER_STATE)
    units.update({f"self.{n}_s": "s" for n in SPAN_NAMES})
    units.update({h: "s" for h in HOST})
    return units


def host_controls(spark) -> tuple[float, float]:
    """Fixed-work host probes modelled on bench.py's controls: the best
    of 3 1536^2 float64 matmuls in this process, and the wall time of
    one round of 32 trivial jobs. bench.py's job floor is the best of
    three such rounds, so the job figures here are one sample of it and
    read higher than bench.py's under contention."""
    import numpy as np

    rng = np.random.default_rng(7)
    a = rng.standard_normal((1536, 1536))
    b = rng.standard_normal((1536, 1536))
    (a @ b).sum()
    mm = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        (a @ b).sum()
        mm = min(mm, time.perf_counter() - t0)
    t0 = time.perf_counter()
    for _ in range(32):
        spark.range(1).count()
    return mm, time.perf_counter() - t0


class StreamEvents:
    """Collects StreamingQueryListener progress of the ingest rounds."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = dict(p.durationMs)
                events.append(
                    (str(p.runId), p.numInputRows, d.get("addBatch", 0),
                     d.get("triggerExecution", 0))
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Listener())


def _collect(probe, jvm_pid, ckpt_root, before, rec, span, stream) -> None:
    """Per-op Spark, /proc and store readings for a traced op."""
    from tracing import dir_bytes, python_workers, union_length

    t0 = time.perf_counter()
    jobs = probe.jobs_since(before["job"])
    st = probe.stage_totals(jobs)
    intervals = [
        (max(s, span.start), min(e, span.end)) for s, e in st.pop("intervals")
    ]
    rec.update(st)
    rec["jobs"] = len(jobs)
    rec["residual_s"] = rec["wall_s"] - union_length(
        [iv for iv in intervals if iv[1] > iv[0]]
    )
    if "build_end_job" in rec:
        build_end = rec.pop("build_end_job")
        rec["build_jobs"] = sum(1 for j in jobs if j <= build_end)
    df = rec.pop("_df", None)
    if df is not None:
        rec.update(probe.plan_metrics(df))
    pw = python_workers(jvm_pid)
    rec["python_cpu_s"] = pw["cpu_s"] - before["pw"]["cpu_s"]
    rec["python_sent_bytes"] = pw["rchar"] - before["pw"]["rchar"]
    rec["python_received_bytes"] = pw["wchar"] - before["pw"]["wchar"]
    rec["workers_started"] = len(pw["pids"] - before["pw"]["pids"])
    rec["cached_bytes"] = probe.cached_bytes()
    rec["ckpt_written_bytes"] = dir_bytes(ckpt_root)[1] - before["ckpt"]
    if rec["kind"] == "bulk" and stream is not None and rec["name"] == "ingest_round":
        new = stream.events[before["stream"]:]
        rec["add_batch_s"] = sum(e[2] for e in new) / 1e3
        rec["trigger_overhead_s"] = sum(e[3] - e[2] for e in new) / 1e3
        rec["stream_input_rows"] = sum(e[1] for e in new)
        rec["stream_runs"] = sorted({e[0] for e in new})
    span.attrs.update(job_group=rec["job_group"], job_ids=jobs)
    rec["collect_s"] = time.perf_counter() - t0


def _snapshot(probe, jvm_pid, ckpt_root, stream) -> dict:
    from tracing import dir_bytes, python_workers

    return {
        "job": probe.last_job_id(),
        "pw": python_workers(jvm_pid),
        "ckpt": dir_bytes(ckpt_root)[1],
        "stream": len(stream.events) if stream is not None else 0,
    }


def stop_spark(spark, jvm) -> None:
    """Stop the session, then the JVM and the Python workers under it,
    and wait until each has ended."""
    from tracing import descendants

    kids = descendants(jvm.pid) if jvm is not None else []
    spark.stop()
    if jvm is None:
        return
    from pyspark import SparkContext

    SparkContext._gateway.shutdown()
    jvm.stdin.close()  # the gateway JVM exits at EOF on its stdin
    try:
        jvm.wait(timeout=60)
    except Exception:
        jvm.kill()
        jvm.wait()
    deadline = time.time() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def run(args) -> dict:
    run_dir = os.path.join(
        ROOT, ".perfbench_runs", f"{args.workload}-s{args.seed}-{os.getpid()}"
    )
    tmp = os.path.join(run_dir, "tmp")
    shutil.rmtree(run_dir, ignore_errors=True)  # left by a killed run
    os.makedirs(tmp)
    os.makedirs(OUT_DIR, exist_ok=True)
    # isolated run state: nothing carries from one run to the next
    os.environ.pop("SPARK_GRAFT_DRIVER_JAVA_OPTS", None)  # pinned_heap_conf decides
    os.environ.update(
        SPARK_GRAFT_TMP=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    sys.path.insert(0, ROOT)
    try:
        return _run(args, run_dir, tmp)
    finally:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            from pyspark import SparkContext

            stop_spark(spark, getattr(SparkContext._gateway, "proc", None))
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:  # other runs' state is still there
            pass


def _run(args, run_dir: str, tmp: str) -> dict:
    from tracing import SparkProbe, Tracer, peak_rss_mb

    t_setup = time.perf_counter()
    from fugue_warehouses_spark.session import get_spark, pinned_heap_conf
    from pyspark import SparkContext

    # a pinned heap, as bench.py runs it: GC does not depend on how far
    # the heap happened to grow in this run. A fixed young generation:
    # G1 otherwise resizes it from pause times, and the heap pages it
    # touches (so peak_rss_mb) flip between two levels ~500 MB apart
    conf = pinned_heap_conf()
    conf["spark.driver.extraJavaOptions"] += (
        f" -Xmn{YOUNG} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    conf["spark.sql.warehouse.dir"] = os.path.join(run_dir, "warehouse")
    conf["spark.ui.showConsoleProgress"] = "false"
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    jvm_pid = SparkContext._gateway.proc.pid
    start_s = time.perf_counter() - t_setup

    traced = bool(args.trace)
    tracer = Tracer(False)
    probe = SparkProbe(spark) if traced else None
    stream = StreamEvents(spark) if traced else None
    if args.workload == "sql_mix":
        from workloads import SqlMix

        with open(os.path.join(HERE, "expected.json")) as f:
            expected = json.load(f)
        wl = SqlMix(spark, DATA, args.seed, tracer, probe, expected)
    else:
        from workloads import IngestLookup

        wl = IngestLookup(spark, DATA, run_dir, args.seed, tracer, OUT_DIR)

    attempted = failed = 0
    errors: list[str] = []

    def fail(name: str, problem: str) -> None:
        nonlocal failed
        failed += 1
        errors.append(f"{name}: {problem}"[:500])

    def execute(op, rec):
        """The timed op; returns its output, or None if it raised."""
        nonlocal attempted
        attempted += 1
        t0 = time.perf_counter()
        try:
            return wl.run(op, rec)
        except Exception as e:  # an op that raises counts as failed
            fail(op.name, f"{type(e).__name__}: {e}")
            return None
        finally:
            rec["wall_s"] = time.perf_counter() - t0

    def check(op, out) -> None:
        if out is None:
            return
        try:
            problem = wl.check(op, out)
        except Exception as e:  # a check that cannot read the output fails
            problem = f"check raised {type(e).__name__}: {e}"
        if problem:
            fail(op.name, problem)

    t_warm = time.perf_counter()
    wl.prepare()
    for op in wl.warm_ops():
        check(op, execute(op, {}))
    warm_s = time.perf_counter() - t_warm
    setup_s = time.perf_counter() - t_setup

    mm0, jf0 = host_controls(spark)

    ckpt_root = os.path.join(tmp, "wf_checkpoints")
    tracer.enabled = traced
    ops: list[dict] = []
    with tracer.span("workload"):
        t_meas = time.perf_counter()
        for n_pass, pass_ops in enumerate(wl.passes()):
            for op in pass_ops:
                rec = {"name": op.name, "kind": op.kind, "pass": n_pass}
                before = _snapshot(probe, jvm_pid, ckpt_root, stream) if traced else None
                cost0 = tracer.cost_s
                with tracer.span("op") as sp:
                    if traced:
                        rec["job_group"] = f"{sp.id}:{op.name}"
                        with tracer.charged():
                            spark.sparkContext.setJobGroup(rec["job_group"], op.name)
                    out = execute(op, rec)
                if traced:
                    rec["trace_s"] = tracer.cost_s - cost0
                    sp.attrs["op"] = op.name
                    _collect(probe, jvm_pid, ckpt_root, before, rec, sp, stream)
                rec.pop("_df", None)
                check(op, out)
                ops.append(rec)
            if time.perf_counter() - t_meas >= args.seconds:
                break
        measured_s = time.perf_counter() - t_meas
    tracer.enabled = False
    if traced:
        spark.sparkContext.setJobGroup("perfbench-end", "end of run")

    try:
        final_checks = wl.finish()
    except Exception as e:  # e.g. no survivors table because every round failed
        final_checks = [("end_of_run_checks", f"{type(e).__name__}: {e}")]
    for name, problem in final_checks:
        attempted += 1
        if problem:
            fail(name, problem)
    state = wl.layer_state()
    mm1, jf1 = host_controls(spark)
    rss = peak_rss_mb(jvm_pid)

    queries = [r["wall_s"] for r in ops if r["kind"] == "query"]
    bulk = [r for r in ops if r["kind"] == "bulk"]
    e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": sum(rss.values()),
        "ops_per_s": len(ops) / measured_s,
        "op_p50_s": statistics.median(queries),
        "bulk_rows_per_s": (
            sum(r.get("rows", 0) for r in bulk) / sum(r["wall_s"] for r in bulk)
        ),
    }
    host = {
        "host.matmul_start_s": mm0, "host.matmul_end_s": mm1,
        "host.jobfloor_start_s": jf0, "host.jobfloor_end_s": jf1,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "passes": 1 + max(r["pass"] for r in ops), "measured_s": measured_s,
        "n_query_ops": len(queries), "n_bulk_ops": len(bulk),
        "end_to_end": e2e, "peak_rss_parts_mb": rss, "host_controls": host,
        "errors": errors,
    }
    if traced:
        layer = {"session.start_s": start_s, "session.warm_s": warm_s}
        for name, (key, _unit) in LAYER_FROM_OPS.items():
            vals = [r[key] for r in ops if key in r]
            layer[name] = sum(vals) / len(vals) if vals else 0.0
        layer.update({k: float(state.get(k, 0.0)) for k in LAYER_STATE})
        selfs = tracer.self_times()
        layer.update({f"self.{n}_s": selfs.get(n, 0.0) / len(ops) for n in SPAN_NAMES})
        layer.update(host)
        units = per_layer_units()
        metrics = {k: {"value": layer[k], "unit": units[k]} for k in units}
        record["spans"] = [s.as_dict() for s in tracer.spans]
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    record["ops"] = ops
    record["metrics"] = metrics
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    path = os.path.join(
        OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}.json"
    )
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"host controls: matmul {mm0:.4f}/{mm1:.4f} s, "
          f"32-job floor {jf0:.3f}/{jf1:.3f} s (start/end); record {path}")
    for e in errors:
        print(f"FAILED {e}")
    for k, m in metrics.items():
        print(f"{k:32s} {m['value']:.6g} {m['unit']}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    pkg = os.path.join(ROOT, "fugue_warehouses_spark", "__init__.py")
    if not os.path.isfile(pkg) or not os.path.isdir(DATA):
        print(f"perfbench: {pkg} or {DATA} is missing; run from the root of a "
              "checkout of the engine", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
