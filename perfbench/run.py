"""CDC ingest benchmark: one workload, one seed, one result line.

Run from the repository root:

    python3 perfbench/run.py --workload trickle_cow --seed 1 --seconds 18 --trace 0

The seed generates the change log (``datagen.transcripts.generate_changelog``)
and the lookup keys. Set-up (JVM start, table creation, warm-up batches,
the serve_mor preload) is timed; log generation is not. The closed loop
then runs for ``--seconds``, and every batch, lookup and scan plus the
final table is checked against an independent DuckDB oracle
(perfbench/oracle.py).

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: every end-to-end metric with
``--trace 0``, every per-layer metric with ``--trace 1``. The line
before it is a report with the covariates (steal %, W/nproc), the tail
percentiles used and their sample counts. The exit code is 1 when any
check fails. perfbench/METRICS.md defines every number.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END_UNITS = {
    "setup_s": "s",
    "ingest_events_per_s": "events/s",
    "batch_latency_p50_s": "s",
    "batch_latency_tail_s": "s",
    "lookup_latency_p50_ms": "ms",
    "lookup_latency_tail_ms": "ms",
    "scan_rows_per_s": "rows/s",
    "lake_bytes_per_live_row": "B/row",
    "peak_rss_mb": "MB",
}


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the nearest-rank sample with
    k = min(10, n // 4) samples above it: the highest percentile with
    ten samples beyond it once n >= 40, about p75 below that, the
    maximum below four samples."""
    s = sorted(values)
    n = len(s)
    k = min(10, n // 4)
    return s[n - 1 - k], 100.0 * (n - k) / n


def cpu_steal() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        vals = list(map(int, fh.readline().split()[1:]))
    return vals[7], sum(vals)


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    until it and its Python workers have exited."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    kids = []
    for path in glob.glob(f"/proc/{proc.pid}/task/*/children"):
        with open(path) as fh:
            kids += map(int, fh.read().split())
    spark.stop()
    proc.stdin.close()
    proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{k}") for k in kids):
        time.sleep(0.05)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    # keep every scratch write of this process, the JVM and its workers
    # inside the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path.insert(0, ROOT)
    try:
        return run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, out_dir: str) -> int:
    from ds_floodexposure_monitoring_spark.datagen.transcripts import generate_changelog
    from ds_floodexposure_monitoring_spark.session import get_spark

    from perfbench.oracle import Oracle
    from perfbench.workloads import SETUP_REPS, WORKLOADS, Client

    wl = WORKLOADS[args.workload]
    nproc = os.cpu_count() or 1
    # half the usable cores (at most 2): the rest run this Python process,
    # the Arrow writer's Python workers and the JVM's JIT and GC threads,
    # which otherwise contend with every task and make runs unsteady
    width = max(1, min(4, len(os.sched_getaffinity(0))) // 2)
    run_id = f"{wl.name}-s{args.seed}-t{args.trace}"
    # The program's own JVM settings (heap limit, tiered JIT), with one
    # addition: a 3 GB initial heap, so that peak RSS does not depend on
    # how far G1 happened to grow the heap in this run. Scratch files stay
    # inside the checkout.
    conf = {"spark.driver.extraJavaOptions": f"-Xms3g -Djava.io.tmpdir={os.path.join(work, 'tmp')}"}
    event_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{run_id}", master=f"local[{width}]", extra_conf=conf)
    jvm_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    tracer = shadow = uninstall = None
    try:
        log_dir = os.path.join(work, "log")
        t = time.perf_counter()
        generate_changelog(spark, wl.changelog_spec(args.seed), log_dir)
        oracle = Oracle(log_dir)
        datagen_s = time.perf_counter() - t

        if args.trace:
            from perfbench.tracing import Tracer, install

            tracer = Tracer(spark.sparkContext, run_id)
            uninstall = install(tracer)
            tracer.enabled = False  # set-up is not traced
            shadow = Client(spark, wl, log_dir, os.path.join(work, "shadow"), args.seed)
            client = Client(spark, wl, log_dir, os.path.join(work, "traced"), args.seed, tracer)
            tracer.enabled = True
            rep_s = []
        else:
            rep_s = []
            for i in range(SETUP_REPS):
                t = time.perf_counter()
                client = Client(spark, wl, log_dir, os.path.join(work, f"rep{i}"), args.seed)
                rep_s.append(time.perf_counter() - t)
                if i + 1 < SETUP_REPS:
                    shutil.rmtree(client.root)

        st0 = cpu_steal()
        t = time.perf_counter()
        window_full = client.run_window(args.seconds, shadow)
        window_s = time.perf_counter() - t
        client.post_reads()
        st1 = cpu_steal()

        check = client.check(oracle)
        checks = [check] + ([shadow.check(oracle)] if shadow else [])
        bytes_per_row = [b / oracle.checksum(off)[0] for off, _, b in client.after_batch]
        rss_kb = vm_hwm_kb("self") + vm_hwm_kb(spark.sparkContext._gateway.proc.pid)
    finally:
        if uninstall:
            uninstall()
        stop_spark(spark)

    # a window the log could not fill is a failed run, not a measurement
    attempted = sum(c["attempted"] for c in checks) + 1
    failed = sum(c["failed"] for c in checks) + (0 if window_full else 1)
    batch_tail, batch_pct = tail(client.batch_s)
    look = [x[0] for x in client.lookups]
    look_tail, look_pct = tail(look)
    report = {
        "report": run_id,
        "width": width,
        "nproc": nproc,
        "width_per_nproc": width / nproc,
        "steal_pct": 100.0 * (st1[0] - st0[0]) / max(1, st1[1] - st0[1]),
        "jvm_start_s": jvm_s,
        "datagen_and_oracle_load_s": datagen_s,
        "setup_reps_s": rep_s,
        "log_exhausted": not window_full,
        "batches": len(client.batch_s),
        "events": client.events,
        "lookups": len(look),
        "scans": len(client.scans),
        "batch_s": client.batch_s,
        "lookup_ms": [1000.0 * x for x in look],
        "scan_s": [x[0] for x in client.scans],
        "window_s": window_s,
        "batch_tail_percentile": batch_pct,
        "lookup_tail_percentile": look_pct,
        "failed_op_ratio": failed / attempted,
        "checks": checks,
    }
    if args.trace:
        from perfbench.tracing import PER_LAYER_UNITS, layer_metrics, read_event_log

        spans_path = os.path.join(out_dir, f"{run_id}-spans.jsonl")
        tracer.dump(spans_path)
        report["spans_file"] = os.path.relpath(spans_path, ROOT)
        traced = client.events / sum(client.batch_s)
        untraced = shadow.events / sum(shadow.batch_s)
        metrics = layer_metrics(
            tracer.spans, read_event_log(event_dir), width, client.lake_samples
        )
        metrics["trace.ingest_events_per_s"] = traced
        metrics["trace.untraced_events_per_s"] = untraced
        metrics["trace.overhead_ratio"] = untraced / traced
        result_metrics = {
            k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in metrics.items()
        }
    else:
        values = {
            "setup_s": jvm_s + statistics.median(rep_s),
            "ingest_events_per_s": client.events / sum(client.batch_s),
            "batch_latency_p50_s": statistics.median(client.batch_s),
            "batch_latency_tail_s": batch_tail,
            "lookup_latency_p50_ms": 1000.0 * statistics.median(look),
            "lookup_latency_tail_ms": 1000.0 * look_tail,
            "scan_rows_per_s": statistics.median(n / dt for dt, _, n, _ in client.fixed_scans),
            "lake_bytes_per_live_row": statistics.median(bytes_per_row),
            "peak_rss_mb": rss_kb / 1024.0,
        }
        result_metrics = {
            k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()
        }
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as fh:
        json.dump({"report": report, "metrics": result_metrics}, fh, indent=1)
    correct = failed == 0
    print(json.dumps(report))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed, "metrics": result_metrics,
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
