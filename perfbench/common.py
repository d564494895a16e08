"""Shared plumbing for the benchmark: paths, the Spark session, process-tree
CPU from ``/proc``, per-op accounting with correctness checks, and stats.

Nothing here starts a process or touches the filesystem at import time.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Optional

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)

# Spark profile: local[4] (the reference host has 4 cores) with a fixed
# 2 GB driver heap. build_session's local-mode default is 24g, which a
# 15 GB host cannot give; every table here is under 20 MB, so 2 GB holds
# the largest Arrow batch and the metadata with a wide margin.
CORES = 4
DRIVER_HEAP = "2g"


def work_dir() -> str:
    """Per-run scratch under the checkout (the benchmark reads and writes
    nothing outside it)."""
    return os.path.join(REPO_ROOT, ".perfbench_work", str(os.getpid()))


def start_session(work: str, *, event_log_dir: Optional[str] = None):
    """The engine's own session profile (lakehouse.session.build_session)
    with every spill/temp/warehouse path pointed into ``work``."""
    from lakehouse.datasource import register
    from lakehouse.session import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # python workers are forked by the JVM and inherit this environment;
    # they unpickle UDFs by module path, so they need the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap: no resizing pauses that differ run to run
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP}"
        f" -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        # tables here are ~15 MB: the 64m default would coalesce every
        # shuffle into one partition (the engine's tests use 8m too)
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    spark = build_session(
        "perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf=conf,
    )
    register(spark)
    return spark


# --- process-tree CPU ---------------------------------------------------------

KINDS = ("driver_py", "jvm", "pyworker", "jit")


def _proc_table():
    """``{pid: (comm, state, own_cpu_s, reaped_children_cpu_s)}`` and
    ``{ppid: [pid]}`` for every process visible in ``/proc``."""
    tick = os.sysconf("SC_CLK_TCK")
    rows: dict[int, tuple[str, str, float, float]] = {}
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        head, tail = raw.rsplit(")", 1)
        parts = tail.split()
        rows[int(d)] = (
            head.split("(", 1)[1], parts[0],
            (int(parts[11]) + int(parts[12])) / tick,
            (int(parts[13]) + int(parts[14])) / tick,
        )
        children.setdefault(int(parts[1]), []).append(int(d))
    return rows, children


def descendants(pid: int) -> list[int]:
    rows, children = _proc_table()
    out, stack = [], list(children.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def alive(pids) -> list[int]:
    """The processes of ``pids`` that still run (zombies have ended)."""
    rows, _ = _proc_table()
    return [p for p in pids if p in rows and rows[p][1] != "Z"]


def _jit_cpu(pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0.0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        head, tail = raw.rsplit(")", 1)
        if "CompilerThre" in head:
            parts = tail.split()
            total += (int(parts[11]) + int(parts[12])) / tick
    return total


def tree_cpu() -> dict[str, float]:
    """CPU seconds of this process and every descendant, split by kind:
    the Python driver (this process, own time only), the JVM without its
    JIT compiler threads, those threads (``jit``), and Python workers
    (the pyspark daemon and its forks). Children's ``cutime``/``cstime``
    are included so that workers reaped mid-op keep their CPU in the
    tree. JIT is split out because in runs this short the compiler
    threads burn about half the JVM's CPU, and how much lands in a given
    op differs from run to run."""
    me = os.getpid()
    rows, children = _proc_table()
    out = dict.fromkeys(KINDS, 0.0)
    if me in rows:
        out["driver_py"] = rows[me][2]
    stack = list(children.get(me, []))
    while stack:
        pid = stack.pop()
        comm, _, own, reaped = rows[pid]
        if comm == "java":
            jit = _jit_cpu(pid)
            out["jit"] += jit
            out["jvm"] += own + reaped - jit
        else:
            out["pyworker"] += own + reaped
        stack.extend(children.get(pid, []))
    return out


# --- per-op accounting ----------------------------------------------------------


@dataclass
class OpRecord:
    kind: str
    wall_s: float = 0.0
    cpu: dict[str, float] = field(default_factory=dict)
    ok: bool = True
    info: dict = field(default_factory=dict)
    warmup: bool = False  # counted and checked, but in no metric
    _t0: float = 0.0
    _c0: dict[str, float] = field(default_factory=dict)
    _on_stop: Optional[Callable[["OpRecord"], None]] = None

    def stop(self) -> None:
        """End the timed region; checks that follow are untimed but still
        count against this op."""
        if not self.cpu:
            self.wall_s = time.perf_counter() - self._t0
            c1 = tree_cpu()
            self.cpu = {k: max(0.0, c1[k] - self._c0[k]) for k in KINDS}
            if self._on_stop:
                self._on_stop(self)

    @property
    def cpu_s(self) -> float:
        """The op's CPU without JIT compilation."""
        return sum(v for k, v in self.cpu.items() if k != "jit")


class CheckFailed(Exception):
    pass


class Ops:
    """Counts attempted and failed ops; each timed op is wall- and
    tree-CPU-timed from outside, and any failed check inside the ``with``
    block (or any exception) marks that op failed."""

    def __init__(self, tracer=None):
        self.records: list[OpRecord] = []
        self.failures: list[str] = []
        self.tracer = tracer
        self.phases: dict[str, float] = {}
        self._last_mark = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Record the wall time since the previous mark under ``phase``."""
        now = time.perf_counter()
        self.phases[phase] = now - self._last_mark
        self._last_mark = now

    @contextmanager
    def op(self, kind: str, *, warmup: Optional[bool] = None, **info):
        """Time the block up to ``rec.stop()`` (or its end); an exception
        or failed check anywhere in it marks the op failed. By default
        the first op of each kind is warm-up (cold Python workers and
        codegen) and stays out of every metric."""
        if warmup is None:
            warmup = not any(r.kind == kind for r in self.records)
        rec = OpRecord(kind, info=dict(info), warmup=warmup)
        if self.tracer:
            span = self.tracer.begin_op(kind)
            rec._on_stop = lambda r: self.tracer.end_op(span, r)
        rec._c0 = tree_cpu()
        rec._t0 = time.perf_counter()
        try:
            yield rec
        except CheckFailed as e:
            rec.ok = False
            self.failures.append(f"{kind}: {e}")
        except Exception as e:  # noqa: BLE001 - an op failure is counted, not fatal
            rec.ok = False
            self.failures.append(f"{kind}: {type(e).__name__}: {e}")
        finally:
            rec.stop()
            self.records.append(rec)

    @property
    def attempted(self) -> int:
        return len(self.records)

    @property
    def failed(self) -> int:
        return sum(not r.ok for r in self.records)

    def of(self, kind: str) -> list[OpRecord]:
        """The reported (non-warm-up) ops of one kind."""
        return [r for r in self.records if r.kind == kind and not r.warmup]

    def summary(self) -> str:
        """One line per op kind: count, failures, median wall and CPU."""
        lines = []
        for kind in dict.fromkeys(r.kind for r in self.records):
            rs = [r for r in self.records if r.kind == kind]
            lines.append(
                f"{kind:>12}: n={len(rs)} failed={sum(not r.ok for r in rs)}"
                f" wall_p50={p50(r.wall_s for r in rs) * 1e3:.1f}ms"
                f" cpu_p50={p50(r.cpu_s for r in rs) * 1e3:.1f}ms"
            )
        lines.append(" ".join(f"{k}={v:.1f}s" for k, v in self.phases.items()))
        return "\n".join(lines)


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def check_eq(got, expected, what: str) -> None:
    if got != expected:
        raise CheckFailed(f"{what}: got {got!r}, expected {expected!r}")


# --- stats ----------------------------------------------------------------------


def p50(values) -> float:
    return float(statistics.median(values))


def iq_mean(values) -> float:
    """Mean of the middle half. Used for CPU times, which /proc reports in
    10 ms ticks: a median of tick counts would repeat exact values."""
    values = sorted(values)
    q = len(values) // 4
    mid = values[q: len(values) - q]
    return float(sum(mid) / len(mid))


def p90(values) -> float:
    values = sorted(values)
    if len(values) < 2:
        return float(values[0])
    return float(statistics.quantiles(values, n=10, method="inclusive")[8])


def dir_bytes(root: str) -> int:
    total = 0
    for dp, _, fns in os.walk(root):
        for fn in fns:
            try:
                total += os.path.getsize(os.path.join(dp, fn))
            except OSError:
                pass
    return total


def space_amp(table) -> float:
    """Bytes under the table root over live data-file bytes."""
    live = sum(e.file_size_bytes for e in table.live_files())
    return dir_bytes(table.root) / live
