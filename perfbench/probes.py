"""Readers that measure the pipeline from outside, with no new
dependencies: Spark's SQL status store (per-node plan metrics of each
execution), the job-group tracker, and ``/proc`` for peak memory."""

from __future__ import annotations

import os
import re
import threading
import time

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_value(text: str) -> float:
    """One Spark-formatted metric value (``'6,000'``, ``'37.3 KiB'``,
    ``'1.2 s'``) in base units: count, bytes or seconds."""
    m = _NUM.match(text.strip())
    if not m:
        raise ValueError(f"not a metric value: {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return num
    if unit not in _UNITS:
        raise ValueError(f"unknown metric unit in {text!r}")
    return num * _UNITS[unit]


def parse_metric(text: str) -> dict:
    """A plan metric as ``{"total": …}``, plus ``min``/``med``/``max``
    over tasks when Spark reports the per-task spread."""
    if text.startswith("total (min, med, max"):
        body = text.split("\n", 1)[1]
        total, rest = body.split(" (", 1)
        parts = [p.strip() for p in rest.split("(")[0].split(",")]
        out = {"total": parse_value(total)}
        for key, p in zip(("min", "med", "max"), parts):
            out[key] = parse_value(p)
        return out
    return {"total": parse_value(text)}


def _seq(scala_iterable) -> list:
    it = scala_iterable.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


class SqlMetrics:
    """Per-node metrics of the SQL executions that ran since a mark.

    Works with ``spark.ui.enabled=false``: the status store behind the
    UI is kept regardless."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> int:
        ids = [ex.executionId() for ex in _seq(self._store.executionsList())]
        return max(ids, default=-1)

    def nodes_since(self, mark: int) -> list[tuple[str, dict]]:
        """``(node name, {metric name: parsed metric})`` for every plan
        node of every execution with an id above ``mark``."""
        out = []
        for ex in _seq(self._store.executionsList()):
            eid = ex.executionId()
            if eid <= mark:
                continue
            values = self._store.executionMetrics(eid)
            for node in _seq(self._store.planGraph(eid).allNodes()):
                mets = {}
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        try:
                            mets[m.name()] = parse_metric(v.get())
                        except ValueError:
                            continue
                out.append((node.name(), mets))
        return out


def node_total(nodes, name_prefix: str, metric: str, key: str = "total"
               ) -> float:
    """Sum of one metric over the nodes whose name starts with the
    prefix."""
    return sum(m[metric].get(key, 0.0) for n, m in nodes
               if n.startswith(name_prefix) and metric in m)


def node_stats(nodes, name_prefix: str, metric: str) -> list[dict]:
    return [m[metric] for n, m in nodes
            if n.startswith(name_prefix) and metric in m]


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


# ----------------------------------------------------------- memory
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return b"pyspark.daemon" in fh.read()
    except OSError:
        return False


class PeakRss:
    """Samples the peak resident memory (``VmHWM``) of the driver JVM
    and its Python workers on a background thread. ``peak_mb`` is the
    largest sum over the processes alive at one sample; ``parts``
    splits that sample into the JVM and its workers.

    Other processes under the JVM are left out: the short-lived
    commands Hadoop's file system spawns share the JVM's address space
    until they exec, so their ``VmHWM`` repeats the JVM's own."""

    def __init__(self, interval: float = 0.5):
        self._interval = interval
        self._root = None
        self._peak_kb = 0
        self.parts: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def watch(self, root_pid: int) -> None:
        self._root = root_pid
        if not self._thread.is_alive():
            self._thread.start()

    def sample(self) -> None:
        if self._root is None:
            return
        pids = process_tree(self._root)
        kb = [vm_hwm_kb(p) for p in pids[:1] + [
            p for p in pids[1:] if is_python_worker(p)]]
        if sum(kb) > self._peak_kb:
            self._peak_kb = sum(kb)
            self.parts = {"jvm_mb": round(kb[0] / 1024, 1),
                          "workers_mb": round(sum(kb[1:]) / 1024, 1),
                          "workers": len(kb) - 1}

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self._interval)

    def close(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self._peak_kb / 1024.0


def wait_gone(pids, timeout: float = 20.0) -> list[int]:
    """Wait until none of ``pids`` is alive; returns the stragglers."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if alive:
            time.sleep(0.1)
    return alive


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
