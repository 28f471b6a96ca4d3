"""Spans, Spark status-store counters, process-tree RSS and host health.

Spans are recorded from the benchmark's side, around calls into the
pipeline's public functions. At each span boundary the tracer reads the
DAG scheduler's next job id and next stage id; once the run is over it
reads the status store a single time and gives every span the counters
of the jobs and stages whose ids fall inside its boundaries. Queries run
one at a time, so the id ranges nest exactly like the spans do (the same
watermark idea as ``scripts/_stage_metrics.py``, whose stage listing is
reused here, extended with job, stage, task, executor-time and
output-byte counts).
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

from _stage_metrics import StageMetricsTracker

#: Counters read from the status store, per span.
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "exec_run_s",
    "exec_cpu_s",
    "input_bytes",
    "output_bytes",
    "shuffle_bytes",
    "spill_bytes",
)


class StatusStore(StageMetricsTracker):
    """Per-stage counters of one SparkSession, keyed by stage id."""

    def __init__(self, spark) -> None:
        super().__init__(spark)
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()

    def marks(self) -> tuple[int, int]:
        """(next job id, next stage id): ids below them exist already."""
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def stage_counters(self) -> dict[int, dict]:
        # every stage event must be in the store before it is read
        self._bus.waitUntilEmpty()
        out: dict[int, dict] = {}
        for st in self._stages():
            out[st.stageId()] = {
                "tasks": st.numCompleteTasks(),
                "exec_run_s": st.executorRunTime() / 1e3,
                "exec_cpu_s": st.executorCpuTime() / 1e9,
                "input_bytes": st.inputBytes(),
                "output_bytes": st.outputBytes(),
                "shuffle_bytes": st.shuffleReadBytes() + st.shuffleWriteBytes(),
                "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            }
        return out


class Tracer:
    """In-memory spans; counters are attached by :meth:`finish`."""

    def __init__(self, store: StatusStore, run_id: str) -> None:
        self.store = store
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        job0, stage0 = self.store.marks()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            "job0": job0,
            "stage0": stage0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["job1"], rec["stage1"] = self.store.marks()
            self._stack.pop()

    def finish(self) -> list[dict]:
        """Attach total and self counters and times to every span."""
        stages = self.store.stage_counters()
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            tot = dict.fromkeys(COUNTERS, 0)
            tot["jobs"] = s["job1"] - s["job0"]
            for sid in range(s["stage0"], s["stage1"]):
                st = stages.get(sid)
                if st is None:
                    continue
                tot["stages"] += 1
                for k, v in st.items():
                    tot[k] += v
            s["total"] = tot
            s["dur_s"] = s["end"] - s["start"]
        for s in self.spans:
            kids = children.get(s["id"], [])
            s["self_s"] = s["dur_s"] - sum(k["dur_s"] for k in kids)
            s["self"] = {
                c: s["total"][c] - sum(k["total"][c] for k in kids) for c in COUNTERS
            }
        return self.spans


def _proc_stats() -> dict[int, tuple[int, list[str]]]:
    """pid -> (parent pid, stat fields after the command name)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        rest = stat[stat.rfind(")") + 2 :].split()
        out[int(d)] = (int(rest[1]), rest)
    return out


def tree(root: int) -> dict[int, list[str]]:
    """Stat fields of ``root`` and every process below it."""
    stats = _proc_stats()
    out = {}
    for pid, (_, rest) in stats.items():
        p = pid
        while p not in (0, 1) and p != root:
            p = stats.get(p, (0,))[0]
        if p == root:
            out[pid] = rest
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_usage(root: int) -> tuple[float, int]:
    """(CPU seconds, minor page faults) of ``root``'s process tree so far,
    counting the exited children each process has reaped."""
    cpu = faults = 0
    for rest in tree(root).values():
        faults += int(rest[7]) + int(rest[8])
        cpu += sum(int(x) for x in rest[11:15])
    return cpu / _TICK, faults


class RssSampler:
    """Peak summed RSS of a process tree, sampled from /proc."""

    def __init__(self, root_pid: int, period_s: float = 0.2) -> None:
        self.root = root_pid
        self.period = period_s
        self.peak_bytes = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_rss(self) -> int:
        return sum(int(rest[21]) for rest in tree(self.root).values()) * self._page

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())


#: Size of the page-fault probe; smaller than the bench default so two
#: probes per run stay cheap on a shared host.
PROBE_BYTES = 256 << 20


def cpu_ticks() -> list[int]:
    """The host's CPU tick counters (the cpu line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of the host's CPU time the hypervisor stole between two
    :func:`cpu_ticks` readings (the eighth counter)."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / sum(d) if sum(d) else 0.0


def ran_share(start: list[int], end: list[int]) -> float:
    """Share of the time the host's CPUs wanted to run that they did run
    between two :func:`cpu_ticks` readings: busy / (busy + stolen).

    Busy is user, nice, system, irq and softirq time; idle and iowait are
    left out, so a step that waits keeps its waiting time in full.
    """
    d = [b - a for a, b in zip(start, end)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return busy / (busy + d[7]) if busy + d[7] else 1.0


def host_health() -> dict:
    """First-touch page-fault service rate, load averages and CPU ticks."""
    from _loadgate import fault_probe

    return {
        "fault_probe_gbs": round(fault_probe(PROBE_BYTES), 3),
        "loadavg": list(os.getloadavg()),
        "cpu_ticks": cpu_ticks(),
    }
