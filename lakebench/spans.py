"""Measurement helpers: percentiles, the span recorder used by the
traced run, Spark job/stage/task counters, the storage walk and the
peak-memory probe.

The span recorder wraps methods of the *instances* the benchmark
hands to the program, so calls the program makes itself (the
streaming sink calling ``lake.append``) are recorded too, and no
program file is touched.
"""

from __future__ import annotations

import functools
import os
import threading
import time

PERCENTILE_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int, ladder=PERCENTILE_LADDER) -> float | None:
    """Highest percentile in ``ladder`` with at least ten of ``n``
    samples beyond it, or None when even the median lacks them."""
    for p in ladder:
        if round(n * (100.0 - p) / 100.0, 9) >= 10:
            return p
    return None


def summary(values) -> dict:
    """Median, p90 and the highest supported tail percentile, with
    the sample count they rest on."""
    xs = list(values)
    out = {"n": len(xs)}
    if xs:
        out["p50"] = percentile(xs, 50)
        out["p90"] = percentile(xs, 90)
        tp = tail_percentile(len(xs))
        if tp is not None:
            out["tail_p"] = tp
            out["tail"] = percentile(xs, tp)
    return out


# ---------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------
class Recorder:
    """In-memory span list. A span is (name, start, end, parent, op)
    with times from ``perf_counter``; ``parent`` is the index of the
    enclosing span on the same thread. Recording happens only while
    ``enabled`` — the traced run flips it per operation so traced and
    untraced operations interleave over the same table state."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.op: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, op: int | None = None):
        return _Span(self, name, self.op if op is None else op)

    def wrap(self, obj, method: str, name: str, select=None, on_result=None):
        """Shadow ``obj.method`` with a recording wrapper on the
        instance and return it (its ``calls`` counts every call,
        recorded or not), or None when the method does not exist.
        ``select(args, kwargs) -> (record, op)`` decides per call;
        without it a call is recorded while ``enabled``.
        ``on_result`` sees each return value."""
        fn = getattr(obj, method, None)
        if fn is None:
            return None

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            wrapper.calls += 1
            record, op = (
                select(args, kwargs) if select else (True, None)
            )
            if not (self.enabled and record):
                out = fn(*args, **kwargs)
            else:
                with self.span(name, op):
                    out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        wrapper.calls = 0
        setattr(obj, method, wrapper)
        return wrapper


class _Span:
    def __init__(self, rec: Recorder, name: str, op) -> None:
        self.rec, self.name, self.op = rec, name, op

    def __enter__(self):
        rec = self.rec
        stack = rec._stack()
        with rec._lock:
            self.idx = len(rec.spans)
            rec.spans.append(
                {
                    "name": self.name,
                    "start": time.perf_counter(),
                    "end": None,
                    "parent": stack[-1] if stack else None,
                    "op": self.op,
                }
            )
        stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        self.rec.spans[self.idx]["end"] = time.perf_counter()
        self.rec._stack().pop()
        return False


def self_times(spans: list[dict]) -> list[float]:
    """Per-span self time in seconds: duration minus the part of its
    interval covered by its children (children clipped to the parent
    and overlapping children merged, so nothing is subtracted
    twice)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        if s["end"] is None:
            out.append(0.0)
            continue
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(i, ())):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(s["end"] - s["start"] - covered)
    return out


def self_ms_by_name(spans: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for s, st in zip(spans, self_times(spans)):
        out.setdefault(s["name"], []).append(st * 1e3)
    return out


# ---------------------------------------------------------------------
# Spark counters
# ---------------------------------------------------------------------
def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``,
    from the status tracker. Call after the listener bus has caught
    up (see ``settle``); skipped stages count as stages with their
    completed tasks (zero)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is None:
                continue
            stages += 1
            tasks += si.numCompletedTasks
    return len(jobs), stages, tasks


def settle(sc, groups, timeout: float = 10.0) -> None:
    """Wait until no job of ``groups`` is still reported running —
    the status store is fed asynchronously by the listener bus."""
    st = sc.statusTracker()
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        running = False
        for g in groups:
            for j in st.getJobIdsForGroup(g):
                info = st.getJobInfo(j)
                if info is None or info.status in ("RUNNING", "UNKNOWN"):
                    running = True
                    break
            if running:
                break
        if not running:
            return
        time.sleep(0.05)


# ---------------------------------------------------------------------
# storage and memory
# ---------------------------------------------------------------------
def walk_table(root: str, log_dir: str = "_txn_log") -> dict:
    """Bytes and file counts on disk under a table root: data
    (.parquet outside the log, i.e. every data file ever written and
    not vacuumed, compaction rewrites included) and log (commits,
    checkpoints and pointers)."""
    out = {"data_files": 0, "data_bytes": 0, "log_files": 0,
           "log_bytes": 0, "checkpoints": 0}
    for dirpath, dirs, names in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        in_log = rel == log_dir or rel.startswith(log_dir + os.sep)
        for n in names:
            size = os.path.getsize(os.path.join(dirpath, n))
            if in_log:
                out["log_files"] += 1
                out["log_bytes"] += size
                if ".checkpoint" in n:
                    out["checkpoints"] += 1
            elif n.endswith(".parquet"):
                out["data_files"] += 1
                out["data_bytes"] += size
    return out


def _hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this process plus the JVM (the
    gateway process and whatever it exec'd into), in MiB."""
    kb = _hwm_kb("self")
    if jvm_pid is not None:
        for p in _descendants(jvm_pid):
            try:
                with open(f"/proc/{p}/comm") as f:
                    comm = f.read().strip()
            except OSError:
                continue
            if comm == "java":
                kb += _hwm_kb(p)
    return kb / 1024.0
