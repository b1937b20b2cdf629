"""Measurements taken from outside the engine: Spark's in-process status
store (works with ``spark.ui.enabled=false``), process-tree RSS and host
noise from ``/proc``."""

from __future__ import annotations

import os
import re
import threading

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _opt(jopt):
    return jopt.get() if jopt.isDefined() else None


def parse_size(text: str) -> int:
    """Bytes from a SQL size metric's display string. The status store
    keeps only the formatted total (e.g. "160.1 KiB (16.0 KiB, ...)"),
    so this is exact to the 4 digits Spark prints."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"([0-9.]+) (B|KiB|MiB|GiB|TiB)", line)
    if not m:
        raise ValueError(f"unparsed size metric {text!r}")
    return int(float(m.group(1)) * _SIZE_UNITS[m.group(2)])


class StatusStore:
    """Per-job-group Spark cost read from the status stores at run end.

    Call ``group(op_id)`` around each traced op so its jobs carry the op
    id as their job group; ``collect()`` then returns, per group, the
    jobs, stages, executor run time, shuffle, spill and input bytes from
    ``statusStore().jobsList/stageList`` and the Python-node bytes from
    the SQL status store."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext

    def group(self, op_id: str):
        sc = self.sc

        class _Group:
            def __enter__(self_):
                sc.setJobGroup(op_id, op_id)

            def __exit__(self_, *exc):
                sc._jsc.clearJobGroup()

        return _Group()

    def _drain_listener_bus(self) -> None:
        # status store updates arrive through the async listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def collect(self) -> dict[str, dict]:
        self._drain_listener_bus()
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        empty = jvm.java.util.ArrayList
        group_of_job: dict[int, str] = {}
        stages_of_group: dict[str, list[int]] = {}
        out: dict[str, dict] = {}
        for j in _seq(store.jobsList(empty())):
            g = _opt(j.jobGroup())
            if g is None:
                continue
            group_of_job[j.jobId()] = g
            rec = out.setdefault(g, _zero())
            rec["jobs"] += 1
            stages_of_group.setdefault(g, []).extend(_seq(j.stageIds()))
        wanted = {s: g for g, ss in stages_of_group.items() for s in ss}
        if wanted:
            no_q = self.sc._gateway.new_array(jvm.double, 0)
            for s in _seq(store.stageList(empty(), False, False, no_q, empty())):
                g = wanted.get(s.stageId())
                if g is None:
                    continue
                rec = out[g]
                rec["stages"] += 1
                rec["task_s"] += s.executorRunTime() / 1000.0
                rec["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
                rec["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                rec["input_bytes"] += s.inputBytes()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for e in _seq(sql.executionsList()):
            job_ids = [int(x) for x in _seq(e.jobs().keys().toList())]
            groups = {group_of_job.get(j) for j in job_ids} - {None}
            if len(groups) != 1:
                continue
            rec = out[groups.pop()]
            vals = sql.executionMetrics(e.executionId())
            seen = set()
            for m in _seq(e.metrics()):
                acc = m.accumulatorId()
                if m.name() not in (_PY_SENT, _PY_RETURNED) or acc in seen:
                    continue
                seen.add(acc)
                v = _opt(vals.get(acc))
                if v is not None:
                    rec["python_bytes"] += parse_size(v)
        return out


def _zero() -> dict:
    return {"jobs": 0, "stages": 0, "task_s": 0.0, "shuffle_bytes": 0,
            "spill_bytes": 0, "input_bytes": 0, "python_bytes": 0}


# ---------------------------------------------------------------- /proc
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak RSS of the engine's processes, sampled every ``period``
    seconds on a daemon thread: the Spark driver JVM and the Python
    workers it starts (every descendant of this process). This process
    itself also holds the benchmark's oracle, so it is tracked apart."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0  # JVM + Python workers
        self.peak_by: dict[str, int] = {}
        self.max_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def sample(self) -> None:
        me = os.getpid()
        by = {"client": _rss_bytes(me), "jvm": 0, "workers": 0, "largest_worker": 0}
        n_workers = 0
        for p in process_tree(me):
            if p != me:
                r = _rss_bytes(p)
                if _comm(p) == "java":
                    by["jvm"] += r
                else:
                    by["workers"] += r
                    by["largest_worker"] = max(by["largest_worker"], r)
                    n_workers += 1
        self.max_workers = max(self.max_workers, n_workers)
        for k, v in by.items():
            self.peak_by[k] = max(self.peak_by.get(k, 0), v)
        self.peak = max(self.peak, by["jvm"] + by["workers"])

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def host_snapshot() -> dict:
    """CPU steal and total jiffies plus load averages, for attributing
    run-to-run spread. Recorded, never used to gate or select runs."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    steal = cpu[7] if len(cpu) > 7 else 0
    return {"steal": steal, "total": sum(cpu[:8]), "loadavg": load}


def host_noise(before: dict, after: dict) -> dict:
    d_total = after["total"] - before["total"]
    return {
        "steal_share": (after["steal"] - before["steal"]) / d_total if d_total else 0.0,
        "loadavg_before": before["loadavg"],
        "loadavg_after": after["loadavg"],
    }
