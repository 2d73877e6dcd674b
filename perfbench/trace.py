"""Outside-in layer trace: wrap the engine's public functions from the
benchmark's own files, keep spans in memory, and reduce them to the
per-layer metrics at the end of a run.

Each wrapper patches a name where it is looked up at call time — e.g.
``cdc.stream.merge_events`` (the reference ``apply_epoch`` calls), not
the ``cdc.merge`` original — and restores it on ``uninstall``. Spans of
one thread nest through a thread-local stack; the streaming
``foreachBatch`` callback runs on its own py4j thread, so each epoch's
spans form one tree under its ``cdc.stream.apply_epoch`` span.
"""

from __future__ import annotations

import importlib
import inspect
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from perfbench import stats

#: (module, attribute owner or None for the module itself, attribute,
#: span name). Order does not matter; every entry is restored on exit.
PATCH_POINTS = [
    ("etl_kafka_project_spark.cdc.stream", "ReplayJob", "apply_epoch", "cdc.stream.apply_epoch"),
    ("etl_kafka_project_spark.cdc.stream", None, "merge_events", "cdc.merge.merge_events"),
    ("etl_kafka_project_spark.cdc.stream", None, "evolve_table", "cdc.evolution.evolve_table"),
    ("etl_kafka_project_spark.cdc.mor", None, "write_delta_files", "cdc.mor.write_delta_files"),
    ("etl_kafka_project_spark.cdc.mor", None, "compact_deltas", "cdc.mor.compact_deltas"),
    ("etl_kafka_project_spark.minilake.table", "LakeTable", "commit", "minilake.commit"),
    ("etl_kafka_project_spark.minilake.table", "LakeTable", "read", "minilake.read"),
    ("etl_kafka_project_spark.minilake.table", "LakeTable", "write_data_files", "minilake.write_data_files"),
    ("etl_kafka_project_spark.cdc.metrics", "LineageLog", "record", "cdc.metrics.lineage_record"),
    ("etl_kafka_project_spark.serving", None, "point_lookup", "serving.point_lookup.call"),
    ("etl_kafka_project_spark.serving", None, "search", "serving.search.call"),
    ("etl_kafka_project_spark.serving", None, "read_changelog", "serving.read_changelog.call"),
    ("etl_kafka_project_spark.cdc.cdf", None, "diff_snapshots", "cdc.cdf.diff_snapshots.call"),
]


class Tracer:
    """In-memory span recorder. Spans are dicts ``{id, parent, name,
    start, end, attrs}`` with ``time.perf_counter`` stamps."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sid = next(self._ids)
        rec = {"id": sid, "parent": stack[-1] if stack else None, "name": name,
               "attrs": attrs}
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.spans.append(rec)

    def _wrapped(self, fn, name: str):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                try:
                    out = fn(*args, **kwargs)
                except BaseException as e:
                    rec["attrs"]["error"] = type(e).__name__
                    raise
            # outside the span: annotation cost is tracing overhead
            _annotate(rec, name, args, kwargs, out)
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def install(self) -> None:
        for mod_name, owner_name, attr, name in PATCH_POINTS:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, owner_name) if owner_name else mod
            orig = inspect.getattr_static(owner, attr)
            self._restore.append((owner, attr, orig))
            setattr(owner, attr, self._wrapped(orig, name))

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        """Write every span out (one JSON object per line)."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def _annotate(rec: dict, name: str, args: tuple, kwargs: dict, out) -> None:
    """Counts recorded at the layer boundary, next to the span."""
    a = rec["attrs"]
    if name == "cdc.stream.apply_epoch":
        a["job"] = id(args[0])
        a["epoch"] = int(args[2] if len(args) > 2 else kwargs["epoch_id"])
        a["events_in"] = int(getattr(out, "events_in", 0) or 0)
        a["skipped"] = bool(getattr(out, "skipped", False))
    elif name == "cdc.mor.write_delta_files":
        root = args[0].root
        a["bytes"] = sum(os.path.getsize(os.path.join(root, fe.path)) for fe in out)
    elif name == "minilake.write_data_files":
        root = args[0].root
        a["kind"] = kwargs.get("kind", args[3] if len(args) > 3 else "base")
        a["bytes"] = sum(os.path.getsize(os.path.join(root, fe.path)) for fe in out)
    elif name == "cdc.mor.compact_deltas" and isinstance(out, dict):
        a["buckets"] = int(out.get("buckets", 0) or 0)
        a["cold_skipped"] = int(
            out.get("cold_buckets_skipped", out.get("skipped_buckets", 0)) or 0
        )
        a["compacted"] = bool(out.get("compacted"))
    elif name == "minilake.read" and kwargs.get("key_equals"):
        # files a point read scans after bucket + manifest pruning, the
        # same selection LakeTable.read makes (metadata only, no job)
        table, kw = args[0], kwargs
        snap = table.snapshot(kw.get("version"), buckets=kw.get("buckets"))
        files = [f for f in snap.files
                 if kw.get("buckets") is None or f.bucket in kw["buckets"]]
        files = [f for f in files
                 if all(f.might_contain(c, v) for c, v in kw["key_equals"].items())]
        a["files"] = len(files)


TRIGGER_KEYS = ["queryPlanning", "latestOffset", "walCommit", "commitOffsets"]
#: serving layer metric <- request kinds of read_mix's serving mix
READ_KINDS = {
    "serving.point_lookup.p50_ms": ("lookup",),
    "serving.search.p50_ms": ("search", "page2"),
    "serving.read_changelog.p50_ms": ("changelog",),
    "cdc.cdf.diff_snapshots.p50_ms": ("diff",),
}
SPARK_KEYS = ["executor_run_ms", "executor_cpu_ms", "jvm_gc_ms", "shuffle_read_bytes",
              "spill_bytes", "input_bytes", "output_bytes"]


def layer_names(headline_queries: list[str]) -> list[str]:
    """Every per-layer metric a traced run reports, in output order."""
    return [
        *[f"trigger.{k}_ms" for k in TRIGGER_KEYS],
        "trigger.outside_addBatch_ms", "trigger.count",
        "cdc.stream.apply_epoch.self_ms", "cdc.stream.apply_epoch.calls",
        "cdc.evolution.evolve_table.ms", "minilake.commit.ms",
        "minilake.commit.attempts_per_commit", "cdc.metrics.lineage_record.ms",
        "cdc.merge.merge_events.self_ms", "cdc.mor.write_delta_files.ms", "cdc.mor.delta_bytes",
        "cdc.mor.compact_deltas.ms", "cdc.mor.compact_deltas.buckets",
        "cdc.mor.compact_deltas.cold_skipped", "cdc.mor.compact_deltas.bytes_rewritten",
        *[f"spark.{k}" for k in SPARK_KEYS], "spark.shuffle_write_bytes_per_event",
        "counts.events_in", "counts.events_applied", "counts.applied_share", "counts.epochs",
        "counts.dead_letters",
        *READ_KINDS, "minilake.read.files_scanned_per_lookup",
        *[f"ops.{q}.ms" for q in headline_queries],
        "minilake.space_amp",
        "setup.session_s", "setup.one_off_s", "setup.unit_median_s",
        "latency.samples",
        "trace.epoch_residual_ms", "trace.epoch_residual_share", "trace.overhead_share",
        "trace.spans",
    ]


def layer_metrics(spans: list[dict], w, untraced_latency_s: float, stages: dict,
                  dead_letters: int) -> dict[str, float]:
    """Reduce one traced window to its per-layer metrics. Ingest layers
    are per applied epoch (window total / epochs), so they add up
    against the per-epoch trigger wall; compaction counts are per
    compaction call; read and query layers are per-request medians."""
    m: dict[str, float] = {}
    own = stats.self_times(spans)
    by: dict[str, list[dict]] = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)

    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    def med(xs) -> float:
        xs = list(xs)
        return statistics.median(xs) if xs else 0.0

    progress = [(job, p) for job, plist in w.jobs for p in plist
                if "addBatch" in p.durationMs]
    for k in TRIGGER_KEYS:
        m[f"trigger.{k}_ms"] = med(p.durationMs.get(k, 0) for _, p in progress)
    m["trigger.outside_addBatch_ms"] = med(
        p.durationMs["triggerExecution"] - p.durationMs["addBatch"] for _, p in progress)
    m["trigger.count"] = len(progress)

    epochs = by.get("cdc.stream.apply_epoch", [])
    n_ep = len(epochs)

    def per_epoch_ms(name: str, self_time: bool = False) -> float:
        xs = by.get(name, [])
        total = sum(own[s["id"]] if self_time else dur(s) for s in xs)
        return 1000.0 * total / n_ep if n_ep else 0.0

    m["cdc.stream.apply_epoch.self_ms"] = 1000.0 * med(own[s["id"]] for s in epochs)
    m["cdc.stream.apply_epoch.calls"] = n_ep
    m["cdc.evolution.evolve_table.ms"] = per_epoch_ms("cdc.evolution.evolve_table")
    m["minilake.commit.ms"] = per_epoch_ms("minilake.commit")
    commits = by.get("minilake.commit", [])
    landed = [c for c in commits if "error" not in c["attrs"]]
    m["minilake.commit.attempts_per_commit"] = len(commits) / len(landed) if landed else 0.0
    m["cdc.metrics.lineage_record.ms"] = per_epoch_ms("cdc.metrics.lineage_record")
    m["cdc.merge.merge_events.self_ms"] = per_epoch_ms("cdc.merge.merge_events", True)
    m["cdc.mor.write_delta_files.ms"] = per_epoch_ms("cdc.mor.write_delta_files")
    m["cdc.mor.delta_bytes"] = (sum(s["attrs"].get("bytes", 0)
                                    for s in by.get("cdc.mor.write_delta_files", []))
                                / n_ep if n_ep else 0.0)
    m["cdc.mor.compact_deltas.ms"] = per_epoch_ms("cdc.mor.compact_deltas")
    compacts = by.get("cdc.mor.compact_deltas", [])
    ids = {s["id"] for s in compacts}
    n_c = len(compacts) or 1
    m["cdc.mor.compact_deltas.buckets"] = sum(s["attrs"].get("buckets", 0) for s in compacts) / n_c
    m["cdc.mor.compact_deltas.cold_skipped"] = sum(
        s["attrs"].get("cold_skipped", 0) for s in compacts) / n_c
    m["cdc.mor.compact_deltas.bytes_rewritten"] = sum(
        s["attrs"].get("bytes", 0) for s in by.get("minilake.write_data_files", [])
        if s["parent"] in ids) / n_c

    for k in SPARK_KEYS:
        m[f"spark.{k}"] = stages.get(k, 0.0)
    m["spark.shuffle_write_bytes_per_event"] = (
        stages.get("shuffle_write_bytes", 0.0) / w.events_in if w.events_in else 0.0)

    applied = sum(s["attrs"].get("events_in", 0) for s in epochs)
    m["counts.events_in"] = w.events_in
    m["counts.events_applied"] = applied
    m["counts.applied_share"] = applied / w.events_in if w.events_in else 0.0
    m["counts.epochs"] = n_ep
    m["counts.dead_letters"] = dead_letters

    for metric, kinds in READ_KINDS.items():
        m[metric] = 1000.0 * med(dur(s) for k in kinds for s in by.get(f"read.{k}", []))
    files = [s["attrs"]["files"] for s in by.get("minilake.read", []) if "files" in s["attrs"]]
    m["minilake.read.files_scanned_per_lookup"] = sum(files) / len(files) if files else 0.0
    for name in [n for n in by if n.startswith("ops.")]:
        m[f"{name}.ms"] = 1000.0 * med(dur(s) for s in by[name])

    # per epoch: trigger wall minus every layer it is made of (Spark's
    # own trigger phases and the apply_epoch call inside addBatch)
    apply_by = {(s["attrs"].get("job"), s["attrs"].get("epoch")): dur(s) for s in epochs}
    resid, share = [], []
    for job, p in progress:
        a = apply_by.get((id(job), p.batchId))
        if a is None:
            continue
        d = p.durationMs
        parts = sum(v for k, v in d.items() if k not in ("triggerExecution", "addBatch"))
        r = d["triggerExecution"] - parts - 1000.0 * a
        resid.append(r)
        share.append(r / d["triggerExecution"] if d["triggerExecution"] else 0.0)
    m["trace.epoch_residual_ms"] = med(resid)
    m["trace.epoch_residual_share"] = med(share)
    m["trace.overhead_share"] = w.latency() / untraced_latency_s - 1.0
    m["trace.spans"] = len(spans)
    return m
