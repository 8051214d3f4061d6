"""Counters read from outside the package: Spark's status stores and /proc.

Everything here is read between timed regions, never inside one (the
RSS sampler is the exception: a peak can only be seen while it happens,
so a daemon thread reads ``/proc/<pid>/statm`` of the process tree every
50 ms while the timed region runs).

- ``SparkCounters`` reads job and stage metrics from the AppStatusStore
  (``sc._jsc.sc().statusStore()``) and the Python-worker byte counts of
  the ``MapInPandas``/``MapInArrow`` operators from the SQL status store.
  Job and stage ids grow monotonically, so a ``mark()`` taken before a
  region and ``jobs_since(mark)`` after it select exactly that region's
  jobs in a single-threaded driver.
- ``tree_cpu_s`` sums user+system CPU over the live process tree plus
  the CPU of children each process has already reaped, so Python
  workers that exit mid-run are still counted.
"""

from __future__ import annotations

import os
import re
import threading
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20

# ---------------------------------------------------------------------------
# /proc: process tree CPU and resident memory
# ---------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat_fields(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime+cutime+cstime over the tree, in seconds."""
    ticks = 0
    for pid in tree_pids(root):
        st = _stat_fields(pid)
        if st is not None:
            # fields 14-17 of stat(5); st[0] is field 3
            ticks += sum(int(v) for v in st[11:15])
    return ticks / CLK_TCK


class RssSampler:
    """Peak summed RSS of a process tree while ``start()``..``stop()``."""

    def __init__(self, root: int, interval_s: float = 0.05):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _rss_mb(self, pids: list[int]) -> float:
        pages = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    pages += int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                pass
        return pages * PAGE_MB

    def _run(self) -> None:
        pids, n = tree_pids(self.root), 0
        while not self._stop.is_set():
            if n % 10 == 0:  # re-scan for forked workers every 0.5 s
                pids = tree_pids(self.root)
            self.peak_mb = max(self.peak_mb, self._rss_mb(pids))
            n += 1
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            if self._thread.is_alive():
                raise RuntimeError("RSS sampler thread did not stop")
        return self.peak_mb


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

STAGE_FIELDS = {
    # name -> (StageData getter, scale to report units)
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "memory_spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
    "input_bytes": ("inputBytes", 1),
    "input_rows": ("inputRecords", 1),
    "tasks": ("numTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
}

PYTHON_NODES = ("MapInPandas", "MapInArrow", "PythonMapInArrow",
                "ArrowEvalPython", "BatchEvalPython")
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30,
               "TiB": 2**40}
_SIZE_RE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?) (B|KiB|MiB|GiB|TiB)")


def parse_size(text: str) -> float:
    """Bytes from an SQL size metric string: either ``'1137.0 B'`` or
    ``'total (min, med, max ...)\\n8.5 KiB (2.1 KiB, ...)'``."""
    m = _SIZE_RE.search(text.rsplit("\n", 1)[-1])
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]


@dataclass
class Mark:
    next_job: int
    next_stage: int
    next_execution: int


@dataclass
class JobRec:
    job_id: int
    tags: frozenset[str]
    submit_s: float
    complete_s: float
    stage_ids: list[int]
    stages: dict[int, dict[str, float]] = field(default_factory=dict)


class SparkCounters:
    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._jsc = jsc
        self.store = jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._next_job = 0
        self._next_stage = 0

    def _drain(self) -> None:
        # the status stores are fed asynchronously by the listener bus
        self._jsc.listenerBus().waitUntilEmpty()

    def _job(self, job_id: int):
        try:
            return self.store.job(job_id)
        except Exception:  # py4j NoSuchElementException: no such job yet
            return None

    def mark(self) -> Mark:
        self._drain()
        while self._job(self._next_job) is not None:
            self._next_job += 1
        for j in range(max(0, self._next_job - 50), self._next_job):
            data = self._job(j)
            if data is not None:
                ids = data.stageIds()
                for k in range(ids.size()):
                    self._next_stage = max(self._next_stage, ids.apply(k) + 1)
        return Mark(self._next_job, self._next_stage,
                    self.sql_store.executionsCount())

    def jobs_since(self, mark: Mark) -> list[JobRec]:
        """Jobs started after ``mark``, each with the metrics of the
        stages it ran (a stage reused from an earlier job is attributed
        to the first job that ran it, and stages from before the mark
        are skipped)."""
        self._drain()
        jobs: list[JobRec] = []
        seen: set[int] = set()
        j = mark.next_job
        while (data := self._job(j)) is not None:
            tags = data.jobTags()
            sub, done = data.submissionTime(), data.completionTime()
            ids = data.stageIds()
            rec = JobRec(
                job_id=j,
                tags=frozenset(tags.apply(k) for k in range(tags.size())),
                submit_s=sub.get().getTime() / 1e3 if sub.isDefined() else 0.0,
                complete_s=(done.get().getTime() / 1e3 if done.isDefined()
                            else 0.0),
                stage_ids=[ids.apply(k) for k in range(ids.size())],
            )
            for sid in rec.stage_ids:
                if sid < mark.next_stage or sid in seen:
                    continue
                seen.add(sid)
                rec.stages[sid] = self._stage(sid)
            jobs.append(rec)
            j += 1
        return jobs

    def _stage(self, sid: int) -> dict[str, float]:
        try:
            st = self.store.lastStageAttempt(sid)
        except Exception:  # py4j: a stage that never ran has no attempt
            return {}
        if st.status().toString() == "SKIPPED":
            return {}
        return {name: getattr(st, getter)() * scale
                for name, (getter, scale) in STAGE_FIELDS.items()}

    def python_bytes(self, mark: Mark, job_ids: set[int]) -> tuple[float, float]:
        """(sent to, returned from) Python workers, summed over the
        Python operators of the SQL executions that ran ``job_ids``."""
        self._drain()
        sent = returned = 0.0
        n = self.sql_store.executionsCount() - mark.next_execution
        if n <= 0 or not job_ids:
            return sent, returned
        execs = self.sql_store.executionsList(mark.next_execution, n)
        for i in range(execs.size()):
            ex = execs.apply(i)
            jobs = ex.jobs().keySet()
            if not any(jobs.contains(j) for j in job_ids):
                continue
            wanted: dict[int, str] = {}
            nodes = self.sql_store.planGraph(ex.executionId()).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if node.name() not in PYTHON_NODES:
                    continue
                ms = node.metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    if metric.name() in (PY_SENT, PY_RETURNED):
                        wanted[metric.accumulatorId()] = metric.name()
            if not wanted:
                continue
            values = _parse_metric_map(
                self.sql_store.executionMetrics(ex.executionId()).toString()
            )
            for acc, name in wanted.items():
                b = parse_size(values.get(acc, ""))
                if name == PY_SENT:
                    sent += b
                else:
                    returned += b
        return sent, returned


_METRIC_KEY = re.compile(r"(?:Map\(|, )(\d+) -> ")


def _parse_metric_map(text: str) -> dict[int, str]:
    """Parse a Scala ``Map(id -> value, ...)`` rendering whose values may
    contain commas and newlines."""
    keys = list(_METRIC_KEY.finditer(text))
    out = {}
    for a, b in zip(keys, keys[1:] + [None]):
        end = b.start() if b is not None else len(text) - 1
        out[int(a.group(1))] = text[a.end():end]
    return out


def sum_stages(jobs: list[JobRec], field_name: str,
               stage_filter=None) -> float:
    return sum(
        st.get(field_name, 0.0)
        for j in jobs for st in j.stages.values()
        if st and (stage_filter is None or stage_filter(st))
    )


def covered_s(jobs: list[JobRec], start: float, end: float) -> float:
    """Length of [start, end] covered by at least one job's run interval."""
    spans = sorted(
        (max(j.submit_s, start), min(j.complete_s, end))
        for j in jobs if j.complete_s > 0
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
