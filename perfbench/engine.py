"""Benchmark-side instrumentation: engine status reader, span recorder,
output checksum and process memory.

Nothing here lives in the program under test. Counts come from Spark's
own bookkeeping (``statusTracker`` job groups and the ``AppStatusStore``
stage and task records, both available with the UI disabled); spans are
recorded by the benchmark around calls into the program's public
functions.
"""

from __future__ import annotations

import contextlib
import dataclasses
import hashlib
import math
import os
import statistics
import threading
import time

MB = 1e6
_MASK64 = (1 << 64) - 1


# ---------------------------------------------------------------------------
# Output checksum
# ---------------------------------------------------------------------------


def _mix64(x: int) -> int:
    """splitmix64 finalizer: spreads ids so a sum detects swapped members."""
    x = (x + 0x9E3779B97F4A7C15) & _MASK64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _MASK64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _MASK64
    return x ^ (x >> 31)


def id_checksum(ids) -> tuple[int, int]:
    """(count, checksum) of a multiset of integer ids. The checksum is a
    sum of mixed ids mod 2**64, so it ignores order and counts repeats."""
    n = total = 0
    for i in ids:
        n += 1
        total = (total + _mix64(int(i) & _MASK64)) & _MASK64
    return n, total


def frame_checksum(df, col: str) -> tuple[int, int]:
    """``id_checksum`` of one integer column of a Spark DataFrame."""
    return id_checksum(r[0] for r in df.select(col).collect())


def _canon(v) -> str:
    """One value as text, exactly: floats by ``repr``, lists element-wise."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def row_checksum(cols, rows) -> tuple[int, int]:
    """(count, checksum) of a multiset of rows, independent of row order
    and of column order (values are taken in column-name order)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return id_checksum(
        int.from_bytes(hashlib.blake2b("|".join(_canon(r[i]) for i in order).encode(),
                                       digest_size=8).digest(), "little")
        for r in rows)


# ---------------------------------------------------------------------------
# Engine status: job group -> jobs, stages, tasks, shuffle, run time
# ---------------------------------------------------------------------------


@dataclasses.dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    fetch_wait_ms: int = 0
    run_time_ms: int = 0
    # worst max/median task run time over stages with >= 2 tasks
    task_skew: float = 0.0

    def __iadd__(self, o: "GroupStats") -> "GroupStats":
        self.jobs += o.jobs
        self.tasks += o.tasks
        self.shuffle_write_bytes += o.shuffle_write_bytes
        self.fetch_wait_ms += o.fetch_wait_ms
        self.run_time_ms += o.run_time_ms
        self.task_skew = max(self.task_skew, o.task_skew)
        return self


class EngineStatus:
    """Reads what Spark recorded for the jobs of a job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def set_group(self, group: str | None) -> None:
        """Jobs submitted from this thread from now on belong to ``group``
        (``None`` clears it)."""
        if group is None:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                self.sc.setLocalProperty(key, None)
        else:
            self.sc.setJobGroup(group, group)

    def group_stats(self, group: str) -> GroupStats:
        out = GroupStats()
        stage_ids: set[int] = set()
        for jid in self.tracker.getJobIdsForGroup(group):
            out.jobs += 1
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # stage evicted from the store or never submitted
                continue
            done = sd.numCompleteTasks()
            if done == 0:
                continue  # skipped: its shuffle output was reused
            out.tasks += done
            out.shuffle_write_bytes += sd.shuffleWriteBytes()
            out.fetch_wait_ms += sd.shuffleFetchWaitTime()
            out.run_time_ms += sd.executorRunTime()
            if done >= 2:
                summary = self.store.taskSummary(sid, sd.attemptId(), self._quantiles)
                if summary.isDefined():
                    rt = summary.get().executorRunTime()
                    med, mx = rt.apply(0), rt.apply(1)
                    out.task_skew = max(out.task_skew, mx / max(med, 1.0))
        return out


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclasses.dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    rows_out: int = 0
    extra: dict = dataclasses.field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it covered by its children
    (child intervals are clipped to the parent and merged where they
    overlap)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
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
        out[s.id] = (s.end - s.start) - covered
    return out


class Tracer:
    """Records nested spans in memory. Each span runs its Spark jobs under
    its own job group, so the engine's counts for a span are the jobs it
    launched itself, not its children's."""

    def __init__(self, status: EngineStatus):
        self.status = status
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.persisted: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        self.status.set_group(sp.group)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.status.set_group(parent.group if parent else None)

    def materialize(self, sp: Span, df, extra_aggs: dict | None = None):
        """Persist ``df`` and run one action over it inside span ``sp``:
        the layer boundary. Records the row count (and ``extra_aggs``,
        name -> Column, in ``sp.extra``) and returns the persisted frame."""
        from pyspark.sql import functions as F

        df = df.persist()
        self.persisted.append(df)
        aggs = {"_n": F.count(F.lit(1)), **(extra_aggs or {})}
        row = df.agg(*[c.alias(k) for k, c in aggs.items()]).collect()[0]
        sp.rows_out += int(row["_n"])
        for k in extra_aggs or {}:
            sp.extra[k] = sp.extra.get(k, 0) + (row[k] or 0)
        return df

    def layer_call(self, fn, layer: str, extra_aggs: dict | None = None, after=None):
        """Wrap a public function so each call runs in span ``layer`` and
        its DataFrame result is materialized there. ``after(span, args,
        result)`` records layer-specific counts inside the span."""
        from pyspark.sql import DataFrame

        def wrapped(*args, **kwargs):
            with self.span(layer) as sp:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = self.materialize(sp, out, extra_aggs)
                if after is not None:
                    after(sp, args, out)
            return out

        return wrapped

    def release(self) -> None:
        for df in self.persisted:
            df.unpersist()
        self.persisted.clear()


@contextlib.contextmanager
def patched(targets):
    """Temporarily replace module attributes: ``targets`` is a list of
    (module, attribute name, replacement)."""
    saved = [(m, a, getattr(m, a)) for m, a, _ in targets]
    try:
        for m, a, f in targets:
            setattr(m, a, f)
        yield
    finally:
        for m, a, f in saved:
            setattr(m, a, f)


def layer_metrics(tracer: Tracer, k: int) -> dict[str, dict]:
    """Per layer name: self seconds, engine counts of the layer's own jobs,
    rows out and utilisation, summed over the layer's spans."""
    selfs = self_times(tracer.spans)
    out: dict[str, dict] = {}
    for sp in tracer.spans:
        st = tracer.status.group_stats(sp.group)
        m = out.setdefault(sp.name, {"s": 0.0, "stats": GroupStats(), "rows_out": 0,
                                     "extra": {}})
        m["s"] += selfs[sp.id]
        m["stats"] += st
        m["rows_out"] += sp.rows_out
        for key, v in sp.extra.items():
            m["extra"][key] = m["extra"].get(key, 0) + v
    for m in out.values():
        st = m.pop("stats")
        m.update(
            jobs=st.jobs, tasks=st.tasks,
            shuffle_write_mb=st.shuffle_write_bytes / MB,
            fetch_wait_s=st.fetch_wait_ms / 1e3,
            core_util=(st.run_time_ms / 1e3) / (m["s"] * k) if m["s"] > 0 else 0.0,
            task_skew=st.task_skew,
        )
    return out


# ---------------------------------------------------------------------------
# Process memory
# ---------------------------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared with other processes (a forked
    worker's copy-on-write pages) are split among them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python_worker(pid: int) -> bool:
    """A pyspark daemon or worker, not a short-lived helper the JVM spawns
    (a helper briefly shares the JVM's pages and would count them again)."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


def footprint_mb(jvm_pid: int) -> float:
    """Peak resident memory of the driver JVM (VmHWM) plus the proportional
    memory now held by the Python daemon and workers under it, in MB."""
    kb = _status_kb(jvm_pid, "VmHWM")
    kb += sum(_pss_kb(p) for p in descendants(jvm_pid)
              if p != jvm_pid and _is_python_worker(p))
    return kb * 1024 / MB


class MemorySampler:
    """Samples ``footprint_mb`` on a background thread every ``period``
    seconds (Python workers come and go within an iteration) and keeps
    the largest value."""

    def __init__(self, jvm_pid: int, period: float = 0.25):
        self.jvm_pid = jvm_pid
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, footprint_mb(self.jvm_pid))
            if self._stop.wait(self.period):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, footprint_mb(self.jvm_pid))


def median(xs):
    return statistics.median(xs) if xs else 0.0
