"""Per-layer measurement for the traced run, taken from outside the engine.

Three sources, all attributed to the benchmark operation running at the
time (``Tracer.op``):

* wrappers around the ``search.wand`` and ``codecs.varbyte`` functions the
  coordinator-local top-k path calls (kernel, prologue, decode);
* Spark's event log, read after the session stops, with one job group per
  operation kind;
* ``/proc`` CPU counters of this process, the JVM it launched and the
  pyspark workers below that JVM.
"""

from __future__ import annotations

import bisect
import importlib
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

OPS = ("topk", "topk_spark", "phrase", "count", "batch", "build", "merge", "append")
SPARK_FIELDS = ("jobs", "tasks", "stage_ms", "wait_ms", "gc_ms", "shuffle_bytes", "input_bytes")
CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[str, int, int]]:
    """pid -> (comm, ppid, cpu ticks incl. reaped children)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        rest = raw[raw.rindex(")") + 2 :].split()
        # fields after comm: state ppid ... utime(14) stime cutime cstime
        ticks = sum(int(x) for x in rest[11:15])
        out[int(d)] = (comm, int(rest[1]), ticks)
    return out


def _below(kids: dict, pid: int) -> list[int]:
    out, stack = [], list(kids[pid])
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids[p])
    return out


def _kids(table: dict) -> dict[int, list[int]]:
    kids = defaultdict(list)
    for pid, (_c, ppid, _t) in table.items():
        kids[ppid].append(pid)
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process below `pid`."""
    return _below(_kids(_proc_table()), pid)


def cpu_ms() -> dict[str, float]:
    """CPU milliseconds so far of the coordinator, the JVM and the workers."""
    t = os.times()
    out = {"coordinator": (t.user + t.system) * 1000.0, "jvm": 0.0, "worker": 0.0}
    table = _proc_table()
    kids = _kids(table)
    for pid in kids[os.getpid()]:
        if table[pid][0] == "java":
            out["jvm"] += table[pid][2] * 1000.0 / CLK_TCK
            out["worker"] += sum(table[p][2] for p in _below(kids, pid)) * 1000.0 / CLK_TCK
    return out


class _Wrapped:
    """A traced stand-in for a module function.  Spark closures that name
    the function pickle it by reference to the original, so executors run
    the engine's own code and never see the tracer."""

    def __init__(self, fn, hook):
        self.fn, self.hook = fn, hook

    def __call__(self, *a, **kw):
        return self.hook(self.fn, a, kw)

    def __reduce__(self):
        return getattr, (importlib.import_module(self.fn.__module__), self.fn.__name__)


class Tracer:
    """Collects per-operation counters; a no-op unless enabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.current: str | None = None
        self.n_ops: dict[str, int] = defaultdict(int)
        self.c: dict[str, float] = defaultdict(float)  # "<name>.<op>" -> total
        self.spark = None
        self.spans: list[tuple[float, float, str]] = []  # epoch ms start, end, kind

    # ---------------------------------------------------------- wrappers
    def install(self) -> None:
        if not self.enabled:
            return
        from lucene_solr_intervals_spark.codecs import varbyte
        from lucene_solr_intervals_spark.search import wand

        def add(key: str, v: float) -> None:
            if self.current is not None:
                self.c[f"{key}.{self.current}"] += v

        def wrap(owner, name, on_result=None, method=False):
            fn = getattr(owner, name)

            def hook(fn, a, kw):
                if self.current is None:  # untraced: no timing, no counting
                    return fn(*a, **kw)
                t0 = time.perf_counter()
                r = fn(*a, **kw)
                add(f"{name}.ms", (time.perf_counter() - t0) * 1000.0)
                add(f"{name}.calls", 1)
                if on_result is not None:
                    on_result(r)
                return r

            if method:
                setattr(owner, name, lambda *a, **kw: hook(fn, a, kw))
            else:
                setattr(owner, name, _Wrapped(fn, hook))

        def local_or_spark(r):
            add("local" if r is not None else "spark", 1)

        def decoded(r):
            add("decoded", r.size)

        def decoded_blocks(r):
            add("decoded", r[0].size)

        wrap(wand, "_driver_topk", local_or_spark)
        wrap(wand, "segment_topk_kernel")
        wrap(wand.SegmentSearcher, "_weights", method=True)
        wrap(wand, "unpack_doc_ids", decoded)
        wrap(wand, "unpack_tfs", decoded)
        wrap(varbyte, "decode_selected_blocks", decoded_blocks)

    # ---------------------------------------------------------- op scope
    @contextmanager
    def op(self, kind: str, traced: bool = True):
        """Attribute everything inside to one operation of `kind`."""
        if not (self.enabled and traced):
            yield
            return
        start_ms = time.time() * 1000.0
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(kind, kind)
        before = cpu_ms()
        self.current = kind
        try:
            yield
        finally:
            self.current = None
            after = cpu_ms()
            for who in ("coordinator", "jvm", "worker"):
                self.c[f"cpu.{who}.{kind}"] += after[who] - before[who]
            self.n_ops[kind] += 1
            self.spans.append((start_ms, time.time() * 1000.0, kind))
            if self.spark is not None:
                self.spark.sparkContext.setJobGroup("idle", "idle")

    def per_op(self, key: str, op: str) -> float:
        n = self.n_ops.get(op, 0)
        return self.c.get(f"{key}.{op}", 0.0) / n if n else 0.0


def spark_layer(event_dir: str, spans) -> dict[str, dict[str, float]]:
    """Totals per operation kind from a stopped session's event log.  A job
    belongs to the traced operation running when it was submitted (engine
    threads that submit jobs do not inherit the caller's job group)."""
    starts = [a for a, _b, _k in spans]
    group_of_job: dict[int, str] = {}
    group_of_stage: dict[int, str] = {}
    submitted: dict[int, float] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    paths = [os.path.join(d, f) for d, _sub, fs in os.walk(event_dir) for f in fs]
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = _span_kind(spans, starts, ev.get("Submission Time", 0))
                    group_of_job[ev["Job ID"]] = g
                    for s in ev.get("Stage IDs", []):
                        group_of_stage[s] = g
                    out[g]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    submitted[info["Stage ID"]] = info.get("Submission Time", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = group_of_stage.get(info["Stage ID"], "none")
                    if "Submission Time" in info and "Completion Time" in info:
                        out[g]["stage_ms"] += info["Completion Time"] - info["Submission Time"]
                elif kind == "SparkListenerTaskEnd":
                    g = group_of_stage.get(ev["Stage ID"], "none")
                    ti, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    out[g]["tasks"] += 1
                    sub = submitted.get(ev["Stage ID"])
                    if sub is not None and "Launch Time" in ti:
                        out[g]["wait_ms"] += max(0, ti["Launch Time"] - sub)
                    sr = tm.get("Shuffle Read Metrics", {})
                    out[g]["wait_ms"] += sr.get("Fetch Wait Time", 0)
                    out[g]["gc_ms"] += tm.get("JVM GC Time", 0)
                    out[g]["shuffle_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    out[g]["input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
    return out


def _span_kind(spans, starts, t_ms: float) -> str:
    i = bisect.bisect_right(starts, t_ms) - 1
    if i >= 0 and spans[i][0] <= t_ms <= spans[i][1]:
        return spans[i][2]
    return "none"
