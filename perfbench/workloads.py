"""Workload definitions and the closed-loop client.

One process drives one ``CDCPipeline``: each batch starts only after the
previous one has committed, and reads come from the same single client.
Inputs are the change log ``generate_changelog`` writes from the
workload's spec and the run's seed; the lookup keys come from the same
seed.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, replace


# post-window scans read the snapshot this measured batch committed
POST_SCAN_BATCH = 4
# set-ups per untraced run; setup_s takes their median, and the batches
# they apply warm the JVM's JIT before the window opens
SETUP_REPS = 3


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    mode: str                 # CDCPipeline mode: "cow" or "mor"
    n_events: int             # base change events in the generated log
    n_convs: int
    hot_frac: float
    n_hot: int
    events_per_file: int
    batch_events: int         # max_events_per_batch in the measured loop
    schema_change_at: int     # lsn where `model` appears and turn_idx widens
    n_buckets: int = 16
    warmup_batches: int = 0   # setup: batches applied to each fresh table
    key_bloom_bits: int = 0
    compact_every: int = 8
    lookups_per_batch: int = 0   # reads interleaved with ingest
    scan_every: int = 0          # full scan after every Nth measured batch
    post_lookups: int = 0        # reads on the final table, after the window
    post_scans: int = 5          # scans of the POST_SCAN_BATCH snapshot, after the window

    def changelog_spec(self, seed: int):
        from ds_floodexposure_monitoring_spark.datagen.transcripts import ChangeLogSpec

        return ChangeLogSpec(
            n_events=self.n_events, n_convs=self.n_convs, n_shards=4, seed=seed,
            hot_frac=self.hot_frac, n_hot=self.n_hot, dup_rate=0.05,
            delete_rate=0.02, ooo_window=1_000, schema_change_at=self.schema_change_at,
            events_per_file=self.events_per_file,
        )


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="trickle_cow",
            why="small COW batches on a small table: per-batch fixed cost dominates; the only "
                "merge_into and COW schema-evolution path",
            mode="cow", n_events=100_000, n_convs=400, hot_frac=0.6, n_hot=2,
            events_per_file=1_000, batch_events=4_000, schema_change_at=12_000,
            warmup_batches=1, post_lookups=6,
        ),
        Workload(
            name="serve_mor",
            why="MOR ingest with compaction every 3rd batch, 3 key-bloom lookups per batch and a "
                "resolved scan per cycle; also carries the MOR write path of the dropped bulk_mor",
            mode="mor", n_events=220_000, n_convs=4_000, hot_frac=0.3, n_hot=3,
            events_per_file=3_125, batch_events=12_500, schema_change_at=50_000,
            n_buckets=8, warmup_batches=2, key_bloom_bits=1 << 13,
            compact_every=3, lookups_per_batch=3, scan_every=3,
        ),
    )
}


# Tiny inputs for perfbench/selftest.py, which sets PERFBENCH_TINY=1 in
# the environment of the runs it starts.
TINY = {
    "trickle_cow": dict(n_events=12_000, events_per_file=500, batch_events=2_000,
                        schema_change_at=4_000, post_lookups=3, post_scans=1),
    "serve_mor": dict(n_events=40_000, events_per_file=1_250, batch_events=5_000,
                      schema_change_at=10_000),
}
if os.environ.get("PERFBENCH_TINY") == "1":
    WORKLOADS = {n: replace(w, **TINY[n]) for n, w in WORKLOADS.items()}


class Client:
    """One workload instance: a table, its pipeline, and the records of
    every operation the oracle checks afterwards."""

    def __init__(self, spark, wl: Workload, log_dir: str, root: str, seed: int, tracer=None):
        from ds_floodexposure_monitoring_spark.datagen.transcripts import transcript_schema
        from ds_floodexposure_monitoring_spark.sources.lake import LakeTable
        from ds_floodexposure_monitoring_spark.streaming.runner import CDCPipeline

        self.wl, self.root, self.tracer = wl, root, tracer
        self.rng = random.Random(seed * 7919 + 17)
        shutil.rmtree(root, ignore_errors=True)
        self.table = LakeTable.create(
            spark, os.path.join(root, "table"), transcript_schema(),
            n_buckets=wl.n_buckets, key_bloom_bits=wl.key_bloom_bits,
        )
        ckpt = os.path.join(root, "ckpt")
        self.pipe = CDCPipeline(
            spark, log_dir, self.table, ckpt, mode=wl.mode,
            max_events_per_batch=wl.batch_events, compact_every=wl.compact_every,
            compact_min_files=2,
        )
        self.batch_s: list[float] = []
        self.events = 0
        self.failed_batches = 0
        self.lookups: list[tuple] = []   # (seconds, conv_id, offsets, rows)
        self.scans: list[tuple] = []     # (seconds, offsets, n, checksum)
        self.fixed_scans: list[tuple] = []  # the post-window scans of one snapshot
        self.lake_samples: list[dict] = []
        self.after_batch: list[tuple] = []  # (offsets, snapshot version, data bytes)
        for _ in range(wl.warmup_batches):
            self.pipe.run_once()
        self.lookup()  # warm the read path; not measured or checked
        self.lookups.clear()

    @property
    def offsets(self) -> dict[int, int]:
        return dict(self.pipe.ckpt.read().offsets)

    def _span(self, name):
        from contextlib import nullcontext

        return self.tracer.span(name, "lake") if self.tracer else nullcontext()

    def step(self) -> bool:
        """Apply one batch; False once the log is fully consumed."""
        t0 = time.perf_counter()
        r = self.pipe.run_once()
        dt = time.perf_counter() - t0
        if r is None:
            return False
        self.batch_s.append(dt)
        self.events += r.batch.n_events
        if r.replayed or r.stats is None or r.stats.batch_rows != r.batch.n_events:
            self.failed_batches += 1
        self.after_batch.append((self.offsets, self.table.version, data_bytes(self.table)))
        if self.tracer is not None and self.tracer.enabled:
            self.lake_samples.append(lake_sample(self.table))
        return True

    def lookup_key(self) -> str:
        wl = self.wl
        if self.rng.random() < 0.5:
            ix = self.rng.randrange(wl.n_hot)
        else:
            ix = self.rng.randrange(wl.n_hot, wl.n_convs)
        return f"conv-{ix:08d}"

    def lookup(self):
        cid = self.lookup_key()
        t0 = time.perf_counter()
        rows = self.table.lookup([cid]).select("turn_idx", "text").collect()
        dt = time.perf_counter() - t0
        got = sorted((int(r["turn_idx"]), r["text"]) for r in rows)
        self.lookups.append((dt, cid, self.offsets, got))
        return dt

    def scan(self, version: int | None = None, offsets: dict | None = None):
        """Full resolved scan of the current snapshot, or of ``version``
        (committed at ``offsets``), into Spark's noop sink."""
        from pyspark.sql import Observation

        from perfbench.oracle import spark_checksum_exprs

        offsets = self.offsets if offsets is None else offsets
        obs = Observation()
        t0 = time.perf_counter()
        with self._span("full_scan"):
            df = self.table.scan(version=version)
            df.observe(obs, *spark_checksum_exprs()).write.format("noop").mode(
                "overwrite").save()
        dt = time.perf_counter() - t0
        m = obs.get
        self.scans.append((dt, offsets, int(m["n"]), int(m["sum"] or 0)))
        return self.scans[-1]

    def run_window(self, seconds: float, shadow: "Client | None" = None) -> bool:
        """Closed loop for ``seconds``: each batch is followed by its
        reads. The window runs whole compaction cycles (one batch under
        COW), starting another while time remains, so every MOR run holds
        the same share of compacting batches. In a traced run ``shadow``
        applies the same batch to its own table with tracing
        off, for the overhead comparison. Returns False when the log ran
        out before the window's end: the window was cut short."""
        wl = self.wl
        cycle = wl.compact_every if wl.mode == "mor" else 1
        t0 = time.perf_counter()
        n = 0
        while True:
            for _ in range(cycle):
                if shadow is not None and n % 2 == 0:
                    self._shadow_step(shadow)
                if not self.step():
                    return False
                if shadow is not None and n % 2 == 1:
                    self._shadow_step(shadow)
                n += 1
                for _ in range(wl.lookups_per_batch):
                    self.lookup()
                if wl.scan_every and n % wl.scan_every == 0:
                    self.scan()
            if time.perf_counter() - t0 >= seconds:
                return True

    def _shadow_step(self, shadow: "Client") -> None:
        """The untraced twin's batch; which of the pair goes first
        alternates, so neither side always runs on a warmer JVM."""
        self.tracer.enabled = False
        shadow.step()
        self.tracer.enabled = True

    def post_reads(self) -> None:
        for _ in range(self.wl.post_lookups):
            self.lookup()
        # a fixed snapshot, so the scanned table is the same size in every
        # run however many batches the window held
        offsets, version, _ = self.after_batch[min(POST_SCAN_BATCH, len(self.after_batch)) - 1]
        for _ in range(self.wl.post_scans):
            self.fixed_scans.append(self.scan(version, offsets))

    def check(self, oracle) -> dict:
        """Every recorded operation against the oracle."""
        from perfbench.oracle import gate_table

        bad_lookups = sum(
            1 for _, cid, off, got in self.lookups if got != oracle.conv_rows(off, cid)
        )
        bad_scans = sum(1 for _, off, n, s in self.scans if (n, s) != oracle.checksum(off))
        problems = gate_table(self.table, oracle, self.offsets)
        attempted = len(self.batch_s) + len(self.lookups) + len(self.scans) + 1
        failed = self.failed_batches + bad_lookups + bad_scans + (1 if problems else 0)
        return {
            "attempted": attempted, "failed": failed, "final_gate": problems,
            "bad_batches": self.failed_batches, "bad_lookups": bad_lookups,
            "bad_scans": bad_scans,
        }


def lake_sample(table) -> dict:
    files = table.files()
    per_bucket: dict[int, int] = {}
    for f in files:
        per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
    head = os.path.join(table.path, "metadata", f"v{table.version:08d}.json")
    return {
        "files_live": len(files),
        "files_per_bucket_max": max(per_bucket.values(), default=0),
        "snapshot_meta_bytes": os.path.getsize(head),
    }


def data_bytes(table) -> int:
    return sum(os.path.getsize(os.path.join(table.path, f.path)) for f in table.files())
