"""Traced run support: spans around the engine's public calls, Spark
job-group attribution, and the per-layer metrics derived from both.

Spans are recorded from the benchmark's side only: ``install`` swaps
each public layer function for a wrapper that opens a
span, so the package itself is never edited. A span carries (id, name,
layer, start, end, parent, run id) plus counters taken from the call's
arguments and result. While a span is open its layer owns the thread's
Spark job group (``<layer>#<span id>``), so every job launched inside a
layer call is attributed to that call; the Spark event log, on in traced
runs only, then gives each layer its task-level work.

Layers are the package modules: runner (streaming.runner), changelog
(sources.changelog), merge (operators.merge), compact (operators.compact),
lake (sources.lake) and checkpoint (streaming.checkpoint).
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

LAYERS = ("runner", "changelog", "merge", "compact", "lake", "checkpoint")
SPARK_UNITS = {
    "spark_jobs": "jobs/batch",
    "tasks": "tasks/batch",
    "core_util": "ratio",
    "shuffle_bytes_per_event": "B/event",
    "spill_bytes": "B/batch",
    "gc_frac": "ratio",
    "task_skew": "ratio",
    "failed_tasks": "count",
}
PER_LAYER_UNITS = {
    "runner.self_s": "s",
    "changelog.plan_s": "s",
    "changelog.files_pending": "files",
    "changelog.input_bytes_per_event": "B/event",
    "merge.self_s": "s",
    "merge.carried_rows_per_batch_row": "ratio",
    "merge.files_rewritten_ratio": "ratio",
    "compact.append_self_s": "s",
    "compact.dedup_keep_ratio": "ratio",
    "compact.compaction_s": "s",
    "compact.rows_rewritten": "rows",
    "lake.write_s": "s",
    "lake.write_us_per_event": "us/event",
    "lake.commit_s": "s",
    "lake.snapshot_meta_bytes": "B",
    "lake.bytes_written_per_input_byte": "ratio",
    "lake.files_live": "files",
    "lake.files_per_bucket_max": "files",
    "lake.prune_s": "s",
    "lake.files_read_per_lookup": "files",
    "lake.scan_s": "s",
    "checkpoint.write_s": "s",
    **{f"{layer}.{m}": u for layer in LAYERS for m, u in SPARK_UNITS.items()},
    "trace.ingest_events_per_s": "events/s",
    "trace.untraced_events_per_s": "events/s",
    "trace.overhead_ratio": "ratio",
}
_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    run_id: str
    start: float = 0.0
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; ``enabled`` toggles recording (the
    untraced shadow pipeline of a traced run runs with it off)."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.enabled = True
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        sp = Span(next(self._ids), name, layer,
                  self._stack[-1].id if self._stack else None, self.run_id)
        prev = self.sc.getLocalProperty(_GROUP_KEY)
        self.sc.setLocalProperty(_GROUP_KEY, f"{layer}#{sp.id}")
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP_KEY, prev)
            self.spans.append(sp)

    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(asdict(sp)) + "\n")


def _file_bytes(root: str, files) -> int:
    return sum(os.path.getsize(os.path.join(root, f.path)) for f in files)


def install(tracer: Tracer):
    """Wrap the public layer calls; returns an undo callable."""
    from ds_floodexposure_monitoring_spark.operators import compact as compact_mod
    from ds_floodexposure_monitoring_spark.operators import merge as merge_mod
    from ds_floodexposure_monitoring_spark.sources import changelog as changelog_mod
    from ds_floodexposure_monitoring_spark.sources import lake as lake_mod
    from ds_floodexposure_monitoring_spark.streaming import checkpoint as ckpt_mod
    from ds_floodexposure_monitoring_spark.streaming import runner as runner_mod

    def c_plan(sp, a, k, out, pre):
        if out is not None:
            sp.counters["events"] = out.n_events
            sp.counters["input_bytes"] = sum(os.path.getsize(f.path) for f in out.files)

    def c_merge(sp, a, k, out, pre):
        sp.counters.update(batch_rows=out.batch_rows, carried_rows=out.carried_rows,
                           removed_files=out.removed_files, files_before=pre)

    def c_append(sp, a, k, out, pre):
        sp.counters.update(batch_rows=out.batch_rows, distinct_keys=out.distinct_keys)

    def c_compact(sp, a, k, out, pre):
        sp.counters["rows_rewritten"] = out.rows_before if out is not None else 0

    def c_write(sp, a, k, out, pre):
        sp.counters.update(files=len(out), rows=sum(f.rows for f in out),
                           bytes=_file_bytes(a[0].path, out))

    def c_prune(sp, a, k, out, pre):
        sp.counters["files"] = len(out)

    def files_before(a, k):
        return len(a[0].files())

    LT, CR, CS = lake_mod.LakeTable, changelog_mod.ChangelogReader, ckpt_mod.CheckpointStore
    targets = [
        ([(runner_mod.CDCPipeline, "run_once")], "runner", None, None),
        ([(CR, "plan_batch")], "changelog", None, c_plan),
        ([(CR, "read_batch")], "changelog", None, None),
        ([(merge_mod, "merge_into"), (runner_mod, "merge_into")], "merge", files_before, c_merge),
        ([(compact_mod, "merge_append"), (runner_mod, "merge_append")], "compact", None, c_append),
        ([(compact_mod, "compact"), (runner_mod, "compact")], "compact", None, c_compact),
        ([(LT, "write_data_files")], "lake", None, c_write),
        ([(LT, "commit_retrying")], "lake", None, None),
        ([(LT, "scan")], "lake", None, None),
        ([(LT, "prune_for_keys")], "lake", None, c_prune),
        ([(LT, "lookup")], "lake", None, None),
        ([(CS, "read")], "checkpoint", None, None),
        ([(CS, "write")], "checkpoint", None, None),
    ]
    undo = []
    for owners, layer, pre_fn, post_fn in targets:
        orig = getattr(*owners[0])
        qual = getattr(orig, "__qualname__", owners[0][1])

        def wrapper(*a, _orig=orig, _name=qual, _layer=layer, _pre=pre_fn, _post=post_fn, **k):
            if not tracer.enabled:
                return _orig(*a, **k)
            pre = _pre(a, k) if _pre else None
            with tracer.span(_name, _layer) as sp:
                out = _orig(*a, **k)
            if _post:
                _post(sp, a, k, out, pre)
            return out

        wrapper.__wrapped__ = orig
        for owner, attr in owners:
            undo.append((owner, attr, getattr(owner, attr)))
            setattr(owner, attr, wrapper)

    # discover() runs inside plan_batch: its result length is the
    # pending-file count, a counter on the enclosing plan span
    orig_discover = CR.discover

    def discover(*a, **k):
        out = orig_discover(*a, **k)
        sp = tracer.current() if tracer.enabled else None
        if sp is not None:
            sp.counters["files_pending"] = len(out)
        return out

    undo.append((CR, "discover", orig_discover))
    CR.discover = discover

    def restore():
        for owner, attr, orig in reversed(undo):
            setattr(owner, attr, orig)

    return restore


# ------------------------------------------------------------ event log
def read_event_log(log_dir: str) -> dict:
    """Tasks per job group from a Spark event log directory."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list] = {}
    for p in paths:
        with open(p) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(_GROUP_KEY)
                    if g:
                        job_group[ev["Job ID"]] = g
                        for s in ev.get("Stage IDs", []):
                            stage_group.setdefault(s, g)
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    stage_tasks.setdefault(ev["Stage ID"], []).append({
                        "run_ms": m.get("Executor Run Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "failed": bool(info.get("Failed") or info.get("Killed")),
                    })
    groups: dict[str, dict] = {}
    for job, g in job_group.items():
        groups.setdefault(g, {"jobs": 0, "stages": {}})["jobs"] += 1
    for s, g in stage_group.items():
        if s in stage_tasks:
            groups.setdefault(g, {"jobs": 0, "stages": {}})["stages"][s] = stage_tasks[s]
    return groups


# ------------------------------------------------------------ per-layer metrics
def _self_times(spans: list[Span]) -> dict[int, float]:
    child = {}
    for sp in spans:
        if sp.parent is not None:
            child[sp.parent] = child.get(sp.parent, 0.0) + sp.dur
    return {sp.id: sp.dur - child.get(sp.id, 0.0) for sp in spans}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(spans: list[Span], groups: dict, width: int, lake_samples: list[dict]) -> dict:
    """Per-layer numbers; Spark work counts only ingest-path spans
    (descendants of ``CDCPipeline.run_once``) so reads never blur the
    write-side attribution."""
    by_id = {sp.id: sp for sp in spans}
    selft = _self_times(spans)

    def root(sp):
        while sp.parent is not None:
            sp = by_id[sp.parent]
        return sp

    ingest = [sp for sp in spans if root(sp).name == "CDCPipeline.run_once"]
    named = lambda n: [sp for sp in spans if sp.name == n]  # noqa: E731
    runs = named("CDCPipeline.run_once")
    n_batches = max(len(runs), 1)
    plans = [sp for sp in named("ChangelogReader.plan_batch") if "events" in sp.counters]
    events = sum(sp.counters["events"] for sp in plans)
    merges, appends = named("merge_into"), named("merge_append")
    compactions = [sp for sp in named("compact") if sp.counters.get("rows_rewritten")]
    applies = {sp.id for sp in merges + appends}
    batch_writes = [sp for sp in named("LakeTable.write_data_files") if sp.parent in applies]
    all_writes = [sp for sp in ingest if sp.name == "LakeTable.write_data_files"]
    prunes = named("LakeTable.prune_for_keys")
    input_bytes = sum(sp.counters["input_bytes"] for sp in plans)
    out = {
        "runner.self_s": _mean(selft[sp.id] for sp in runs),
        "changelog.plan_s": _mean(sp.dur for sp in named("ChangelogReader.plan_batch")),
        "changelog.files_pending": _mean(
            sp.counters.get("files_pending", 0) for sp in named("ChangelogReader.plan_batch")),
        "changelog.input_bytes_per_event": _ratio(input_bytes, events),
        "merge.self_s": _mean(selft[sp.id] for sp in merges),
        "merge.carried_rows_per_batch_row": _ratio(
            sum(sp.counters["carried_rows"] for sp in merges),
            sum(sp.counters["batch_rows"] for sp in merges)),
        "merge.files_rewritten_ratio": _ratio(
            sum(sp.counters["removed_files"] for sp in merges),
            sum(sp.counters["files_before"] for sp in merges)),
        "compact.append_self_s": _mean(selft[sp.id] for sp in appends),
        "compact.dedup_keep_ratio": _ratio(
            sum(sp.counters["distinct_keys"] for sp in appends),
            sum(sp.counters["batch_rows"] for sp in appends)),
        "compact.compaction_s": _mean(sp.dur for sp in compactions),
        "compact.rows_rewritten": _mean(sp.counters["rows_rewritten"] for sp in compactions),
        "lake.write_s": sum(sp.dur for sp in batch_writes) / n_batches,
        "lake.write_us_per_event": _ratio(sum(sp.dur for sp in batch_writes) * 1e6, events),
        "lake.commit_s": _mean(sp.dur for sp in named("LakeTable.commit_retrying")),
        "lake.snapshot_meta_bytes": _mean(s["snapshot_meta_bytes"] for s in lake_samples),
        "lake.bytes_written_per_input_byte": _ratio(
            sum(sp.counters["bytes"] for sp in all_writes), input_bytes),
        "lake.files_live": _mean(s["files_live"] for s in lake_samples),
        "lake.files_per_bucket_max": _mean(s["files_per_bucket_max"] for s in lake_samples),
        "lake.prune_s": _mean(sp.dur for sp in prunes),
        "lake.files_read_per_lookup": _mean(sp.counters["files"] for sp in prunes),
        "lake.scan_s": _mean(sp.dur for sp in named("full_scan")),
        "checkpoint.write_s": _mean(sp.dur for sp in named("CheckpointStore.write")),
    }
    for layer in LAYERS:
        spans_l = [sp for sp in ingest if sp.layer == layer]
        busy = sum(selft[sp.id] for sp in spans_l)
        jobs = tasks = failed = 0
        run_ms = gc_ms = shuffle = spill = 0
        skews = []
        for sp in spans_l:
            g = groups.get(f"{layer}#{sp.id}")
            if not g:
                continue
            jobs += g["jobs"]
            widest = None
            for ts in g["stages"].values():
                tasks += len(ts)
                failed += sum(t["failed"] for t in ts)
                run_ms += sum(t["run_ms"] for t in ts)
                gc_ms += sum(t["gc_ms"] for t in ts)
                shuffle += sum(t["shuffle_bytes"] for t in ts)
                spill += sum(t["spill_bytes"] for t in ts)
                if widest is None or len(ts) > len(widest):
                    widest = ts
            if widest:
                med = statistics.median(t["run_ms"] for t in widest)
                skews.append(max(t["run_ms"] for t in widest) / med if med else 1.0)
        out[f"{layer}.spark_jobs"] = jobs / n_batches
        out[f"{layer}.tasks"] = tasks / n_batches
        out[f"{layer}.core_util"] = _ratio(run_ms / 1000.0, busy * width)
        out[f"{layer}.shuffle_bytes_per_event"] = _ratio(shuffle, events)
        out[f"{layer}.spill_bytes"] = spill / n_batches
        out[f"{layer}.gc_frac"] = _ratio(gc_ms, run_ms)
        out[f"{layer}.task_skew"] = statistics.median(skews) if skews else 0.0
        out[f"{layer}.failed_tasks"] = failed
    return out
