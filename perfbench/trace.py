"""Traced mode: a span around each call into a ``lakehouse`` layer, Spark
jobs attributed to ops by time window from the session's event log, and
the per-layer metrics derived from both.

Spans are recorded from the benchmark's side: ``install`` wraps the public
functions listed in ``LAYER_CALLS`` wherever the ``lakehouse`` modules hold
them, and ``uninstall`` puts the originals back. Spans stay in memory and
are written out once, at the end of the run. End-to-end numbers never
come from a traced run.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Optional

from .common import KINDS, iq_mean, p50, p90
from .workloads import END_TO_END, USER_METRICS

# (module, function, span name); the span name's prefix is the layer
LAYER_CALLS = [
    ("lakehouse.streaming", "committed_batch_ids", "streaming.replay_guard"),
    ("lakehouse.meta.snapshots", "load_metadata", "snapshots.load_metadata"),
    ("lakehouse.meta.snapshots", "commit", "snapshots.commit"),
    ("lakehouse.meta.manifests", "read_manifest", "manifests.read"),
    ("lakehouse.meta.manifests", "write_manifest", "manifests.write"),
    ("lakehouse.meta.scan", "plan_scan", "scan.plan"),
    ("lakehouse.meta.scan", "read_plan", "scan.build"),
    ("lakehouse.ops.append", "write_data_files", "append.write"),
    ("lakehouse.ops.compact", "compact", "compact.run"),
    ("lakehouse.ops.cluster", "cluster", "cluster.run"),
    ("lakehouse.ops.merge", "merge_into", "merge.run"),
    ("lakehouse.ops.mor", "merge_into_mor", "mor.merge"),
    ("lakehouse.ops.mor", "materialize_deletes", "mor.materialize"),
    ("lakehouse.ops.expire", "expire_snapshots", "expire.snapshots"),
    ("lakehouse.ops.expire", "remove_orphan_files", "expire.orphans"),
]

# the layer an op's own span (time in no wrapped call) is charged to: the
# op's code plus the Spark jobs it runs outside any wrapped call
OP_LAYER = {
    "append": "streaming", "replay": "streaming", "lookup": "scan",
    "native_scan": "scan", "scan": "datasource", "transcode": "audio",
    "ingest": "append", "compact": "compact", "cluster": "cluster",
    "merge": "merge", "mor": "mor", "expire": "expire", "verify": "verify",
}
LAYERS = (
    "streaming", "snapshots", "manifests", "scan", "append", "compact",
    "cluster", "merge", "mor", "expire", "datasource", "audio", "verify",
)
MAINT_OPS = ("compact", "cluster", "merge", "mor", "expire")
OP_FIELDS = (("wall_ms", "ms"), ("cpu_ms", "ms"), ("bytes_rewritten", "bytes"),
             ("files_in", "count"), ("files_out", "count"))
SPARK_FIELDS = (("executor_cpu_ms", "ms"), ("gc_ms", "ms"),
                ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
                ("tasks", "count"), ("driver_residual_ms", "ms"))


def metric_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    u = {f"wall.{k}": unit for k, unit in USER_METRICS.items()
         if k not in END_TO_END}
    u.update({
        "streaming.replay_guard_ms": "ms",
        "snapshots.load_metadata_ms": "ms",
        "snapshots.load_metadata_calls": "count",
        "snapshots.commit_ms_first": "ms",
        "snapshots.commit_ms_last": "ms",
        "snapshots.metadata_json_bytes": "bytes",
        "snapshots.metadata_bytes": "bytes",
        "manifests.per_snapshot": "count",
        "manifests.read_ms": "ms",
        "manifests.reads": "count",
        "scan.plan_ms": "ms",
        "scan.build_ms": "ms",
        "scan.files_kept": "count",
        "scan.files_total": "count",
        "append.write_ms": "ms",
        "append.files_written": "count",
    })
    for op in MAINT_OPS:
        for name, unit in OP_FIELDS:
            u[f"{op}.{name}"] = unit
    u.update({
        "maint.write_amp": "ratio",
        "datasource.scan_ms": "ms",
        "datasource.partitions": "count",
        "audio.kernel_ms": "ms",
    })
    for kind in KINDS:
        u[f"cpu.{kind}_ms"] = "ms"
    for name, unit in SPARK_FIELDS:
        u[f"spark.{name}"] = unit
    for layer in LAYERS:
        u[f"share.{layer}"] = "ratio"
    u.update({
        "tail.op_p90_ms": "ms",
        "tail.lookup_p90_ms": "ms",
        "trace.self_time_coverage": "ratio",
        "trace.op_cpu_ms": "ms",
    })
    return u


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, comparable with Spark's event times
    end: float = 0.0
    parent: Optional[int] = None
    op: Optional[int] = None
    attrs: dict[str, Any] = field(default_factory=dict)


class Tracer:
    def __init__(self, event_dir: str, out_path: str):
        self.event_dir = event_dir
        self.out_path = out_path
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._op: Optional[Span] = None
        self._patched: list[tuple[Any, str, Any]] = []
        self.units = metric_units()

    # --- spans ---------------------------------------------------------------

    def _open(self, name: str) -> Span:
        stack = self._local.__dict__.setdefault("stack", [])
        op = self._op
        parent = stack[-1].id if stack else (op.id if op else None)
        span = Span(next(self._ids), name, time.time(), parent=parent,
                    op=op.id if op else None)
        stack.append(span)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        self._local.stack.pop()
        self.spans.append(span)

    def begin_op(self, kind: str) -> Span:
        span = self._open(f"op.{kind}")
        span.op = span.id
        self._op = span
        return span

    def end_op(self, span: Span, rec) -> None:
        """Close the op span where the op's timed region ends; the checks
        that follow belong to no op."""
        self._close(span)
        span.attrs["kind"] = rec.kind
        rec.info.update(span=span.id, span_start=span.start)
        self._op = None

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*a, **kw):
            span = self._open(name)
            try:
                out = fn(*a, **kw)
                if name == "scan.plan":  # pruning counts, per lookup
                    span.attrs.update(files_kept=len(out.files),
                                      files_total=out.candidate_files)
                return out
            finally:
                self._close(span)

        return traced

    def install(self) -> None:
        """Wrap each layer call in every loaded ``lakehouse`` module that
        holds it (modules bind some of them by name at import)."""
        importlib.import_module("lakehouse.table")
        originals = {}
        for mod, fn, name in LAYER_CALLS:
            f = getattr(importlib.import_module(mod), fn)
            originals[id(f)] = (f, self._wrap(f, name))
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith("lakehouse") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit and hit[0] is val:
                    setattr(mod, attr, hit[1])
                    self._patched.append((mod, attr, val))

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()

    # --- derived metrics ------------------------------------------------------

    def table_state(self, table) -> dict[str, float]:
        """Metadata sizes of the table as the run left it."""
        from lakehouse.meta import snapshots as S

        mdir = S.metadata_dir(table.root)
        newest = S.list_versions(table.root)[-1]
        meta = S.load_metadata(table.root)
        snap = next(s for s in meta.snapshots
                    if s.snapshot_id == meta.current_snapshot_id)
        return {
            "snapshots.metadata_json_bytes": os.path.getsize(
                os.path.join(mdir, f"v{newest}.metadata.json")),
            "snapshots.metadata_bytes": sum(
                os.path.getsize(os.path.join(mdir, f)) for f in os.listdir(mdir)
            ),
            "manifests.per_snapshot": len(
                S.read_manifest_list(table.root, snap.manifest_list)),
        }

    def layer_metrics(self, ops, unit, state: dict[str, float],
                      user: dict[str, float]) -> dict[str, float]:
        """Per-layer metrics from the spans, the op records, the event log
        and ``state`` (``table_state`` taken at the end of the run).
        ``unit`` is the workload's unit-op records, warm-up dropped, and
        ``user`` the workload's user-facing metrics of this (traced) run.
        A layer the workload never enters reports 0."""
        by_id = {s.id: s for s in self.spans}
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        timed = [r for r in ops.records
                 if "span" in r.info and r.ok and not r.warmup]
        in_timed = {r.info["span"] for r in timed}

        def named(name, kinds=None):
            return [s for s in self.spans if s.name == name and s.op in in_timed
                    and (kinds is None or by_id[s.op].attrs["kind"] in kinds)]

        def med_ms(spans):
            return p50((s.end - s.start) * 1e3 for s in spans) if spans else 0.0

        ok_unit = [r for r in unit if r.ok]
        unit_spans = {m.info["span"] for u in ok_unit
                      for m in u.info.get("members", [u]) if "span" in m.info}
        n_unit = max(1, len(ok_unit))

        def per_unit(name):
            return sum(s.op in unit_spans for s in self.spans if s.name == name) / n_unit

        m = {f"wall.{k}": v for k, v in user.items() if k not in END_TO_END}
        m["streaming.replay_guard_ms"] = med_ms(
            named("streaming.replay_guard", {"append"}))
        loads = named("snapshots.load_metadata")
        m["snapshots.load_metadata_ms"] = med_ms(loads)
        m["snapshots.load_metadata_calls"] = per_unit("snapshots.load_metadata")
        commits = [r.info["summary"]["commit_ms"] for r in timed
                   if "summary" in r.info]
        tenth = max(1, len(commits) // 10)
        m["snapshots.commit_ms_first"] = p50(commits[:tenth]) if commits else 0.0
        m["snapshots.commit_ms_last"] = p50(commits[-tenth:]) if commits else 0.0
        m.update(state)
        m["manifests.read_ms"] = med_ms(named("manifests.read"))
        m["manifests.reads"] = per_unit("manifests.read")
        m["scan.plan_ms"] = med_ms(named("scan.plan", {"lookup"}))
        m["scan.build_ms"] = med_ms(named("scan.build", {"lookup"}))
        plans = named("scan.plan", {"lookup"})
        for k in ("files_kept", "files_total"):
            m[f"scan.{k}"] = p50(s.attrs[k] for s in plans) if plans else 0.0
        writes = [r for r in timed if "summary" in r.info]
        m["append.write_ms"] = p50(
            r.wall_s * 1e3 - r.info["summary"]["commit_ms"] for r in writes
        ) if writes else 0.0
        m["append.files_written"] = p50(
            r.info["summary"]["added_files"] for r in writes) if writes else 0.0

        # maintenance ops: per-cycle sums, median over cycles
        cycles: dict[int, dict[str, list]] = {}
        for r in timed:
            if r.kind in MAINT_OPS + ("ingest",):
                cycles.setdefault(r.info["cycle"], {}).setdefault(r.kind, []).append(r)
        for op in MAINT_OPS:
            per = [c.get(op, []) for c in cycles.values()]
            vals = {
                "wall_ms": [sum(r.wall_s for r in rs) * 1e3 for rs in per],
                "cpu_ms": [sum(r.cpu_s for r in rs) * 1e3 for rs in per],
            }
            for k in ("bytes_rewritten", "files_in", "files_out"):
                vals[k] = [sum(r.info.get(k, 0) for r in rs) for rs in per]
            for k, _ in OP_FIELDS:
                m[f"{op}.{k}"] = p50(vals[k]) if per else 0.0
        amps = []
        for c in cycles.values():
            ingested = sum(r.info.get("bytes_rewritten", 0) for r in c.get("ingest", []))
            rewritten = sum(r.info.get("bytes_rewritten", 0)
                            for op in MAINT_OPS for r in c.get(op, []))
            if ingested:
                amps.append((ingested + rewritten) / ingested)
        m["maint.write_amp"] = p50(amps) if amps else 0.0

        scans = [r for r in timed if r.kind == "scan"]
        m["datasource.scan_ms"] = p50(r.wall_s * 1e3 for r in scans) if scans else 0.0
        m["datasource.partitions"] = p50(
            r.info["partitions"] for r in scans) if scans else 0.0
        tc = [r.wall_s for r in timed if r.kind == "transcode"]
        ns = [r.wall_s for r in timed if r.kind == "native_scan"]
        m["audio.kernel_ms"] = (p50(tc) - p50(ns)) * 1e3 if tc and ns else 0.0

        for kind in KINDS:
            m[f"cpu.{kind}_ms"] = iq_mean([r.cpu[kind] * 1e3 for r in ok_unit])

        m.update(self._spark_metrics(timed, ok_unit))

        # self time: span wall minus the union of its children's intervals
        self_by_layer = dict.fromkeys(LAYERS, 0.0)
        total = 0.0
        for r in timed:
            root = by_id[r.info["span"]]
            total += root.end - root.start
            stack = [root]
            while stack:
                s = stack.pop()
                ch = kids.get(s.id, [])
                own = (s.end - s.start) - _union(
                    [(max(c.start, s.start), min(c.end, s.end)) for c in ch])
                layer = (OP_LAYER[s.attrs["kind"]] if s.name.startswith("op.")
                         else s.name.split(".")[0])
                self_by_layer[layer] += own
                stack.extend(ch)
        for layer in LAYERS:
            m[f"share.{layer}"] = self_by_layer[layer] / total if total else 0.0
        m["trace.self_time_coverage"] = (
            sum(self_by_layer.values()) / total if total else 0.0)
        # p90s rest on the top one or two samples of a run: per-layer only
        m["tail.op_p90_ms"] = p90([r.wall_s * 1e3 for r in ok_unit])
        m["tail.lookup_p90_ms"] = p90(
            [r.wall_s * 1e3 for r in timed if r.kind == "lookup"])
        m["trace.op_cpu_ms"] = iq_mean([r.cpu_s * 1e3 for r in ok_unit])
        self._write_spans()
        return m

    def _spark_metrics(self, timed, unit) -> dict[str, float]:
        """Attribute each Spark job to the op whose timed window holds its
        submission (ops run serially), then sum task metrics per unit op."""
        jobs, stage_job, tasks = _read_event_log(self.event_dir)
        windows = sorted(
            (r.info["span_start"], r.info["span_start"] + r.wall_s, r)
            for r in timed
        )
        job_op: dict[int, Any] = {}
        for jid, j in jobs.items():
            for lo, hi, r in windows:
                if lo <= j["submit"] <= hi:
                    job_op[jid] = r
                    break
        per_op: dict[int, dict[str, float]] = {}
        for stage, tm in tasks:
            r = job_op.get(stage_job.get(stage))
            if r is None:
                continue
            acc = per_op.setdefault(id(r), dict.fromkeys(
                ("executor_cpu_ms", "gc_ms", "shuffle_bytes", "spill_bytes",
                 "tasks"), 0.0))
            for k, v in tm.items():
                acc[k] += v
        for lo, hi, r in windows:
            busy = _union([
                (max(j["submit"], lo), min(j["end"], hi))
                for jid, j in jobs.items() if job_op.get(jid) is r
            ])
            per_op.setdefault(id(r), {}).update(driver_residual_ms=(hi - lo - busy) * 1e3)

        def unit_sum(u) -> dict[str, float]:
            members = u.info.get("members", [u])
            out: dict[str, float] = {}
            for r in members:
                for k, v in per_op.get(id(r), {}).items():
                    out[k] = out.get(k, 0.0) + v
            return out

        sums = [unit_sum(u) for u in unit]
        return {
            f"spark.{k}": p50(s.get(k, 0.0) for s in sums) if sums else 0.0
            for k, _ in SPARK_FIELDS
        }

    def _write_spans(self) -> None:
        os.makedirs(os.path.dirname(self.out_path), exist_ok=True)
        with open(self.out_path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(vars(s)) + "\n")


def _union(intervals) -> float:
    """Total length covered by ``intervals`` (empty ones ignored)."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _read_event_log(event_dir: str):
    """Jobs (submit/end epoch seconds), stage -> job, and per-task metrics
    from the uncompressed JSON-lines event log of the finished session."""
    jobs: dict[int, dict[str, float]] = {}
    stage_job: dict[int, int] = {}
    tasks: list[tuple[int, dict[str, float]]] = []
    paths = sorted(os.path.join(dp, fn) for dp, _, fns in os.walk(event_dir)
                   for fn in fns if fn.startswith("events_"))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"submit": ev["Submission Time"] / 1e3,
                                 "end": float("inf")}
                    for st in ev.get("Stage IDs", []):
                        stage_job[st] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    tasks.append((ev["Stage ID"], {
                        "executor_cpu_ms": (tm.get("Executor CPU Time", 0)
                                            + tm.get("Executor Deserialize CPU Time", 0)) / 1e6,
                        "gc_ms": float(tm.get("JVM GC Time", 0)),
                        "shuffle_bytes": float(sw.get("Shuffle Bytes Written", 0)),
                        "spill_bytes": float(tm.get("Memory Bytes Spilled", 0)
                                             + tm.get("Disk Bytes Spilled", 0)),
                        "tasks": 1.0,
                    }))
    for j in jobs.values():
        if j["end"] == float("inf"):
            j["end"] = j["submit"]
    return jobs, stage_job, tasks
