"""In-memory spans and Spark SQL plan counters for the traced run.

A span records name, start, end, parent span and run id. Spans are kept
in a list and written as JSON lines when the run ends. With tracing off
``span`` yields without recording anything.
"""

from __future__ import annotations

import contextlib
import json
import re
import time

_PY_NODE = re.compile(r"EvalPython|InPandas|InArrow|PythonUDTF")


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "run_id": self.run_id, "id": len(self.spans),
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_time(self, rec: dict) -> float:
        """Span duration minus the union of its children's intervals."""
        kids = sorted((s["start"], s["end"]) for s in self.spans
                      if s["parent"] == rec["id"])
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (rec["end"] - rec["start"]) - covered

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return []  # its metrics belong to the exchange it reuses
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def execute_with_counters(df) -> tuple[int, dict]:
    """Run ``df``'s physical plan to completion (rows are produced and
    dropped, as a noop sink does) and read exact SQL metrics from the
    executed plan: python eval nodes, bytes/rows to and from python,
    shuffle bytes, files and bytes read."""
    qe = df._jdf.queryExecution()
    rows = int(qe.toRdd().count())
    c = {"python_eval_nodes": 0, "bytes_to_python": 0, "bytes_from_python": 0,
         "rows_from_python": 0, "shuffle_bytes": 0, "files_read": 0,
         "bytes_read": 0, "rows_read": 0}
    todo = [qe.executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        m = _metrics(node)
        if _PY_NODE.search(name):
            c["python_eval_nodes"] += 1
            c["bytes_to_python"] += m.get("pythonDataSent", 0)
            c["bytes_from_python"] += m.get("pythonDataReceived", 0)
            c["rows_from_python"] += m.get("pythonNumRowsReceived", 0)
        if name.startswith("Exchange"):
            c["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        if name.startswith("Scan parquet"):
            c["files_read"] += m.get("numFiles", 0)
            c["bytes_read"] += m.get("filesSize", 0)
            c["rows_read"] += m.get("numOutputRows", 0)
        todo.extend(_children(node))
    return rows, c
