"""Per-operator metrics read back from Spark's SQL status store.

``spark._jsparkSession.sharedState().statusStore()`` keeps, for every SQL
execution, its plan graph and the accumulated value of each operator
metric as a formatted string.  The store is filled by listener events
whether or not the web UI runs, and reading it starts no Spark job.

Formatted values come in two shapes, a bare value (``'32 ms'``,
``'82.1 KiB'``, ``'20,000'``) or a per-task summary whose first value is
the total::

    total (min, med, max (stageId: taskId))
    520.7 KiB (122.8 KiB, 130.0 KiB, 135.0 KiB (stage 3.0: task 12))

``parse_value`` turns either into a float in base units (bytes, seconds
or a plain count).
"""

from __future__ import annotations

import re
from collections import defaultdict

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50, "EiB": 2**60}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")

# operators that hand rows to Python workers over Arrow (or pickle)
PYTHON_NODES = (
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "FlatMapCoGroupsInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowWindowPython",
    "ArrowAggregatePython",
)
WRITE_NODES = ("Execute InsertIntoHadoopFsRelationCommand", "Execute SaveIntoDataSourceCommand")

# Spark metric name -> the key it is summed under
_ANY_METRICS = {
    "number of output rows": "rows_out",
    "spill size": "spill_bytes",
    "data spill size": "spill_bytes",
    "number of sort fallback tasks": "sort_fallback_tasks",
}
# "data size" is the shuffled rows' serialized size before compression:
# unlike "shuffle bytes written" it does not depend on the order rows
# reach the compressor, so it repeats exactly run to run
_SHUFFLE_METRICS = {**_ANY_METRICS, "data size": "shuffle_write_bytes"}
_WRITE_METRICS = {
    "number of output rows": "rows_out",
    "task commit time": "write_commit_s",
    "job commit time": "write_commit_s",
}
_PYTHON_METRICS = {
    **_ANY_METRICS,
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_start_s",
}


def parse_value(text: str) -> float:
    """Spark's formatted metric value -> bytes, seconds or a count."""
    lines = text.strip().splitlines()
    body = lines[-1] if lines and lines[0].startswith("total") else (lines[0] if lines else "")
    m = _VALUE.match(body)
    if not m:
        raise ValueError(f"unparseable metric value: {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return number
    if unit in _SIZE:
        return number * _SIZE[unit]
    if unit in _TIME:
        return number * _TIME[unit]
    raise ValueError(f"unknown metric unit {unit!r} in {text!r}")


def _scala_seq(seq):
    return [seq.apply(i) for i in range(seq.size())]


class StatusStoreReader:
    """Sums operator metrics over the SQL executions a run started."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()

    def execution_count(self) -> int:
        return int(self._store.executionsCount())

    def executions(self, since_id: int = 0):
        """Yield ``(execution_id, description, n_jobs)`` for executions
        with an id of at least ``since_id``."""
        for e in _scala_seq(self._store.executionsList()):
            eid = int(e.executionId())
            if eid >= since_id:
                yield eid, str(e.description()), int(e.jobs().size())

    def execution_metrics(self, execution_id: int) -> dict:
        """Totals of one execution, grouped the way layers report them."""
        values = self._store.executionMetrics(execution_id)
        graph = self._store.planGraph(execution_id)
        out = defaultdict(float)
        rows_written = None
        top_rows = None
        for node in _scala_seq(graph.allNodes()):
            name = str(node.name())
            if name in WRITE_NODES:
                wanted = _WRITE_METRICS
            elif name == "Exchange":
                wanted = _SHUFFLE_METRICS
            elif name.startswith(PYTHON_NODES):
                wanted = _PYTHON_METRICS
            else:
                wanted = _ANY_METRICS
            for metric in _scala_seq(node.metrics()):
                key = wanted.get(str(metric.name()))
                raw = values.get(metric.accumulatorId())
                if key is None or not raw.isDefined():
                    continue
                value = parse_value(str(raw.get()))
                if key == "rows_out":
                    if name in WRITE_NODES:
                        rows_written = (rows_written or 0.0) + value
                    elif top_rows is None:
                        top_rows = value
                else:
                    out[key] += value
        out["rows_out"] = rows_written if rows_written is not None else (top_rows or 0.0)
        out["rows_written"] = rows_written or 0.0
        return dict(out)

    def predicate_rows(self, execution_id: int, needle: str) -> list[tuple[float, float]]:
        """``(rows_in, rows_out)`` of every Filter or join whose condition
        contains ``needle``.  rows_in counts the rows reaching the
        predicate: the output of the nearest operator below it that counts
        rows, on the streamed (non-broadcast) side of a join."""
        values = self._store.executionMetrics(execution_id)
        graph = self._store.planGraph(execution_id)
        nodes = {int(n.id()): n for n in _scala_seq(graph.allNodes())}
        children = defaultdict(list)
        for edge in _scala_seq(graph.edges()):
            child = int(edge.fromId())
            if not str(nodes[child].name()).startswith(("BroadcastExchange", "BroadcastQueryStage")):
                children[int(edge.toId())].append(child)

        def rows(node):
            for metric in _scala_seq(node.metrics()):
                raw = values.get(metric.accumulatorId())
                if str(metric.name()) == "number of output rows" and raw.isDefined():
                    return parse_value(str(raw.get()))
            return None

        out = []
        for nid, node in nodes.items():
            name = str(node.name())
            if not (name == "Filter" or name.endswith("Join")) or needle not in str(node.desc()):
                continue
            below, rows_in = children.get(nid, []), None
            while below and rows_in is None:
                rows_in = rows(nodes[below[0]])
                below = children.get(below[0], [])
            rows_out = rows(node)
            if rows_in is not None and rows_out is not None:
                out.append((rows_in, rows_out))
        return out
