"""Self-test of the benchmark at tiny scale (about two minutes on 4 cores).

    python3 perfbench/selftest.py

1. Every workload, untraced and traced, runs as ``perfbench/run.py``
   with tiny inputs (``PERFBENCH_TINY=1``) and emits exactly the metrics
   BENCHMARK.json names, each with its unit, and passes its oracle checks.
2. The oracle gate rejects corrupted copies of a correct table: one with
   a live row dropped from a data file, one with a ``text`` altered.
3. The seed argument changes the generated inputs, and the same seed
   reproduces them.

Exits 0 when every check holds; prints each failure otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
os.environ["PERFBENCH_TINY"] = "1"

from perfbench.run import stop_spark  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def check_metrics(failures: list[str]) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if {w["name"] for w in bench["workloads"]} != set(WORKLOADS):
        failures.append("BENCHMARK.json workloads differ from perfbench/workloads.py")
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in bench[key]}
        for name in WORKLOADS:
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                 "--seed", "5", "--seconds", "4", "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True,
            )
            rc = p.returncode
            result = json.loads(p.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            tag = f"{name} --trace {trace}"
            if rc != 0 or not result["correct"] or result["failed"]:
                failures.append(f"{tag}: exit {rc}, result {result['correct']}/{result['failed']}")
            if got != want:
                missing = sorted(set(want) - set(got))
                extra = sorted(set(got) - set(want))
                wrong = sorted(k for k in set(want) & set(got) if want[k] != got[k])
                failures.append(f"{tag}: missing {missing} extra {extra} wrong unit {wrong}")
            bad = [k for k, v in result["metrics"].items()
                   if not isinstance(v["value"], (int, float)) or v["value"] != v["value"]]
            if bad:
                failures.append(f"{tag}: non-numeric values {bad}")
            print(f"{tag}: emitted {len(got)} metrics", flush=True)


def _corrupt(table, how: str) -> None:
    """Drop or alter one live row in the first live data file holding one."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    for f in table.files():
        path = os.path.join(table.path, f.path)
        t = pq.read_table(path)
        live = pc.invert(pc.fill_null(t.column("_tombstone"), False)).to_pylist()
        if not any(live):
            continue
        i = live.index(True)
        if how == "drop":
            t = t.filter(pa.array([j != i for j in range(t.num_rows)]))
        else:
            texts = t.column("text").to_pylist()
            texts[i] = (texts[i] or "") + " (altered)"
            t = t.set_column(t.schema.get_field_index("text"), "text",
                             pa.array(texts, t.schema.field("text").type))
        pq.write_table(t, path)
        return
    raise AssertionError("no live row to corrupt")


def check_gate_and_seeds(failures: list[str]) -> None:
    from ds_floodexposure_monitoring_spark.datagen.transcripts import (
        generate_changelog,
        transcript_schema,
    )
    from ds_floodexposure_monitoring_spark.session import get_spark
    from ds_floodexposure_monitoring_spark.sources.lake import LakeTable
    from ds_floodexposure_monitoring_spark.streaming.runner import CDCPipeline

    from perfbench.oracle import Oracle, gate_table, log_files

    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    spark = get_spark(app_name="perfbench-selftest", master="local[2]",
                      extra_conf={"spark.driver.memory": "2g"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        wl = WORKLOADS["trickle_cow"]

        def full(log_dir):
            offs = {}
            for s, e, _ in log_files(log_dir):
                offs[s] = max(offs.get(s, 0), e)
            return offs

        logs = {}
        for tag, seed in (("a", 1), ("b", 1), ("c", 2)):
            logs[tag] = os.path.join(work, f"log-{tag}")
            generate_changelog(spark, wl.changelog_spec(seed), logs[tag])
        sums = {t: Oracle(d).checksum(full(d)) for t, d in logs.items()}
        if sums["a"] != sums["b"]:
            failures.append("same seed generated different inputs")
        elif sums["a"] == sums["c"]:
            failures.append("a different seed generated the same inputs")
        else:
            print("ok: seed changes the inputs and reproduces them", flush=True)

        oracle = Oracle(logs["a"])
        table = LakeTable.create(spark, os.path.join(work, "t"), transcript_schema(), n_buckets=4)
        pipe = CDCPipeline(spark, logs["a"], table, os.path.join(work, "ck"),
                           max_events_per_batch=wl.batch_events)
        pipe.run_until_caught_up()
        offsets = pipe.ckpt.read().offsets
        before = len(failures)
        problems = gate_table(table, oracle, offsets)
        if problems:
            failures.append(f"gate rejected a correct table: {problems}")
        for how, done in (("drop", "dropped"), ("alter", "altered")):
            copy = os.path.join(work, f"t-{how}")
            shutil.copytree(table.path, copy)
            bad = LakeTable.load(spark, copy)
            _corrupt(bad, how)
            if not gate_table(bad, oracle, offsets):
                failures.append(f"gate accepted a copy with one row {done}")
        if len(failures) == before:
            print("ok: gate passes the correct table and rejects both corruptions", flush=True)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    failures: list[str] = []
    check_metrics(failures)
    check_gate_and_seeds(failures)
    for f in failures:
        print("FAIL:", f)
    print("selftest:", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
