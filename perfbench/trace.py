"""Layer tracing and host probes.

The traced run attributes work to the package's layers from the outside:

* ``Tracer`` wraps each layer's public entry points.  While a wrapped
  call runs, the Spark job group and description are the layer's name.
  Most entry points only build a lazy DataFrame, so the tag stays set
  after a top-level call returns: the action that follows (a write, a
  ``localCheckpoint``) runs the work that call described.  A nested call
  into another layer hands the tag back to its caller on return.
* The ledger is the exception to the hand-back: a checkpointed stage
  writes the work its ``compute`` callee described, so when a nested call
  returns into the ledger the callee's tag stays set for that write.  The
  ledger's own bookkeeping (``StageLedger`` methods) re-tags it as
  ``ledger``; so do its fingerprint and pending-key actions, which run
  right after ``checkpointed_stage`` is entered.
* Each moment of an iteration therefore belongs to exactly one layer;
  ``busy_s`` sums those intervals.  Spark's status store then gives each
  layer the operator metrics of the SQL executions carrying its tag.

``sink`` is a cross-cut rather than a tag: every table write runs inside
some layer's action, so sink figures come from the write operators of
all executions (commit time, rows written).  ``host`` is the benchmark's
own glue between calls.
"""

from __future__ import annotations

import functools
import importlib
import os
import signal
import sys
import threading
import time
from collections import defaultdict

PKG = "relation_extraction_using_llms_spark"

# layer -> public entry points ("module:function", module relative to PKG)
LAYER_ENTRY_POINTS = {
    "extract": [
        "functions.extraction:clean_text_df",
        "operators.gold_normalize:gold_entities",
        "operators.gold_normalize:gold_relations",
    ],
    "prompt_model": [
        "functions.prompts:configs_df",
        "functions.prompts:build_prompts",
        "sources.llm_cache:fetch_and_cache",
    ],
    "parse": ["functions.parsing:parsed_triples_df", "functions.parsing:parse_errors_df"],
    "catalog": ["operators.entity_catalog:full_catalog"],
    "resolve": ["operators.linking:resolve_in_document"],
    "canonicalize": [
        "operators.canonicalize:canonical_mapping",
        "operators.canonicalize:materialize_triples",
        "plans.reports:write_graph_tables",
    ],
    "ledger": [
        "plans.checkpointed:run_checkpointed",
        "plans.lineage:checkpointed_stage",
        "plans.lineage:StageLedger.read",
        "plans.lineage:StageLedger.latest",
        "plans.lineage:StageLedger.pending_keys",
        "plans.lineage:StageLedger.mark_done",
        "plans.lineage:StageLedger.mark_removed",
    ],
    "match": ["operators.matching:gold_bundle", "operators.matching:evaluate_counts_df"],
    "metrics_agg": ["operators.metrics:eval_per_doc", "operators.aggregate:aggregate_results"],
    "textstats": ["functions.textstats:text_stats"],
    "corpus": [
        "operators.corpus:redact_pii",
        "operators.corpus:deterministic_sample",
        "operators.corpus:mix_sources",
        "operators.corpus:pack_documents",
        "operators.corpus:corpus_profile",
    ],
    "dedup": [
        "operators.dedup:minhash_lsh_pairs",
        "operators.dedup:dedup_corpus",
        "operators.dedup:contaminated_docs",
    ],
    "ann": ["operators.similarity:lsh_topk"],
}
PYTHON_LAYERS = ("extract", "prompt_model", "parse", "resolve", "match")
LAYERS = (*LAYER_ENTRY_POINTS, "sink", "host")
# layers whose actions run the work their callees describe
KEEPS_CALLEE_TAG = ("ledger",)


class Tracer:
    """Tags Spark actions with the layer whose entry point set them up."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.busy = defaultdict(float)
        self._stack: list[str] = []
        self._tag: str | None = None
        self._since = 0.0
        self._patched: list[tuple[object, str, object]] = []

    def switch(self, layer: str | None) -> None:
        now = time.perf_counter()
        if self._tag is not None:
            self.busy[self._tag] += now - self._since
        self._tag, self._since = layer, now
        if layer is not None:
            self._sc.setJobGroup(layer, layer)

    def wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            self._stack.append(layer)
            self.switch(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                if self._stack and self._stack[-1] not in KEEPS_CALLEE_TAG:
                    self.switch(self._stack[-1])

        return traced

    def install(self) -> None:
        """Replace every entry point by its traced wrapper: a method on its
        class; a function in its own module and wherever another module
        imported it by name."""
        targets = {}
        for layer, refs in LAYER_ENTRY_POINTS.items():
            for ref in refs:
                mod_name, attr = ref.split(":")
                owner = importlib.import_module(f"{PKG}.{mod_name}")
                *classes, name = attr.split(".")
                for cls in classes:
                    owner = getattr(owner, cls)
                fn = getattr(owner, name)
                if classes:
                    self._patched.append((owner, name, fn))
                    setattr(owner, name, self.wrap(fn, layer))
                else:
                    targets[id(fn)] = (fn, self.wrap(fn, layer))
        modules = [m for n, m in list(sys.modules.items()) if n.startswith(PKG) and m is not None]
        for module in modules:
            for attr, value in list(vars(module).items()):
                if id(value) in targets and targets[id(value)][0] is value:
                    self._patched.append((module, attr, value))
                    setattr(module, attr, targets[id(value)][1])

    def uninstall(self) -> None:
        for module, attr, value in reversed(self._patched):
            setattr(module, attr, value)
        self._patched.clear()

    def job_counts(self) -> dict[str, int]:
        tracker = self._sc.statusTracker()
        return {layer: len(tracker.getJobIdsForGroup(layer)) for layer in LAYERS}


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def descendants(root: int) -> list[int]:
    """Every process below ``root`` in the process tree."""
    out, todo = [], _children(root)
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def _running(pid: int) -> bool:
    """False once ``pid`` has exited (a zombie counts as exited; one that
    is this process's own child is reaped here)."""
    try:
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return False
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def end_processes(pids: list[int], grace: float = 20.0) -> None:
    """Wait until each of ``pids`` has exited: SIGTERM the ones still
    running, SIGKILL the ones left after ``grace`` seconds."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            if _running(pid):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + grace
        while any(_running(p) for p in pids) and time.monotonic() < deadline:
            time.sleep(0.05)


def tree_rss_bytes(root: int) -> int:
    """Resident set size of ``root`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
        todo.extend(_children(pid))
    return total


class RssSampler:
    """Samples the process tree's RSS on a thread; ``peak`` covers the
    span between ``mark()`` and ``stop()``."""

    def __init__(self, interval: float = 0.05):
        self._interval = interval
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._armed = False
        self.peak = 0
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.wait(self._interval):
            rss = tree_rss_bytes(pid)
            with self._lock:
                if self._armed:
                    self.peak = max(self.peak, rss)

    def start(self):
        self._thread.start()

    def mark(self):
        with self._lock:
            self._armed = True
            self.peak = tree_rss_bytes(os.getpid())

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=5)
        with self._lock:
            self._armed = False


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def _control_work(reps: int) -> float:
    from difflib import SequenceMatcher
    import random

    rng = random.Random(1234)
    words = ["w%03d" % rng.randint(0, 400) for _ in range(8000)]
    total = 0.0
    for i in range(reps):
        total += SequenceMatcher(None, words[i::2][:4000], words[i + 1 :: 2][:4000]).ratio()
    return total


def control_seconds(procs: int, reps: int = 4) -> float:
    """Fixed pure-Python work in ``procs`` processes at once; the wall
    time of the batch (median of three) tracks how fast the box runs
    right now, independent of the program."""
    from multiprocessing import get_context

    walls = []
    # fork, not spawn: spawn starts a resource-tracker process that would
    # outlive the pool; this runs before any thread or JVM is started
    with get_context("fork").Pool(procs) as pool:
        pool.map(_control_work, [1] * procs)
        for _ in range(3):
            t0 = time.perf_counter()
            pool.map(_control_work, [reps] * procs)
            walls.append(time.perf_counter() - t0)
    return sorted(walls)[1]
