"""Measurement helpers: layer spans, Spark SQL plan metrics, and peak RSS of
the whole process tree (driver Python, JVM, Python workers)."""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from contextlib import contextmanager


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Tracer:
    """In-memory spans written out when the benchmark ends. A span has a
    name (the layer, optionally ``layer.detail``), start, end and parent."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Layer -> summed self time (span duration minus its children's)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            layer = s["name"].split(".")[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - child.get(s["id"], 0.0)
        return out

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, "self_s": self.self_times(), **extra}, f, indent=1)


# -- Spark SQL metrics -----------------------------------------------------

def _seq(jvm, scala_seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def plan_nodes(df, cache_depth: int = 1) -> list[tuple[str, dict, int, int]]:
    """(node name, {metric key: value}, cache level, parent index) for every
    node of
    ``df``'s executed plan, looking through adaptive stages and into the
    plans that filled in-memory caches up to ``cache_depth`` levels deep
    (level 1 is ``df``'s own cache; deeper caches were filled earlier and
    are this computation's inputs). Read after an action ran ``df``'s plan."""
    jvm = df.sparkSession.sparkContext._jvm
    out: list[tuple[str, dict, int, int]] = []

    def walk(node, level: int, parent: int) -> None:
        name = node.nodeName()
        metrics = jvm.scala.jdk.javaapi.CollectionConverters.asJava(node.metrics())
        me = len(out)
        out.append((name, {k: int(metrics[k].value()) for k in metrics.keySet()},
                    level, parent))
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan(), level, me)
        elif name.endswith("QueryStage"):
            walk(node.plan(), level, me)
        elif name == "InMemoryTableScan" and level < cache_depth:
            walk(node.relation().cachedPlan(), level + 1, me)
        for child in _seq(jvm, node.children()):
            walk(child, level, me)

    walk(df._jdf.queryExecution().executedPlan(), 0, -1)
    return out


def materialize(df):
    """Persist ``df`` and fill the cache by running ``df``'s own plan, so
    ``plan_nodes(df)`` sees the metrics of exactly this computation."""
    df = df.persist()
    df._jdf.queryExecution().executedPlan().execute().count()
    return df


def metric_sum(nodes, key: str, node_filter=None) -> int:
    return sum(m.get(key, 0) for name, m, *_ in nodes
               if node_filter is None or node_filter(name))


def subtree(nodes, root: int) -> list:
    """The nodes under ``nodes[root]`` (itself included)."""
    keep = {root}
    for i in range(root + 1, len(nodes)):  # parents precede children
        if nodes[i][3] in keep:
            keep.add(i)
    return [nodes[i] for i in sorted(keep)]


def python_bytes(nodes) -> int:
    return metric_sum(nodes, "pythonDataSent") + metric_sum(nodes, "pythonDataReceived")


def shuffle_bytes(nodes) -> int:
    return metric_sum(nodes, "shuffleBytesWritten")


def spill_bytes(nodes) -> int:
    return metric_sum(nodes, "spillSize")


# -- process tree ----------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the summed RSS of this process and all its descendants every
    ``interval`` seconds on a daemon thread; ``peak_mb`` is the largest sum.
    The process tree is re-read from /proc only every ``rescan`` samples
    (the JVM and the reused Python workers are long-lived); in between, only
    the known processes are read."""

    def __init__(self, interval: float = 0.2, rescan: int = 5) -> None:
        self.interval = interval
        self.rescan = rescan
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        pids = [me]
        tick = 0
        while not self._stop.is_set():
            if tick % self.rescan == 0:
                pids = [me] + descendants(me)
            tick += 1
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in pids))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
