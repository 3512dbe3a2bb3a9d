#!/usr/bin/env python3
"""Benchmark entry point: one workload per process.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 1 --trace 0

Runs from the root of a checkout.  Inputs are generated from ``--seed``
once into ``.perfbench/data`` (outside the timed set-up), a Spark session
starts at ``local[nproc]``, the Python workers are warmed, and then
iterations run, each into a fresh directory, until ``--seconds`` have
passed (at least one).  Every iteration's outputs are checked.  The last
line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  Diagnostics go to stderr.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
HERE = os.path.dirname(os.path.abspath(__file__))
MiB = 2**20

# modules every Python UDF of the package pulls in; importing them in the
# warm-up keeps first-import cost out of the timed iterations
WORKER_MODULES = (
    "pandas",
    "pyarrow",
    "relation_extraction_using_llms_spark.sources.synthetic",
    "relation_extraction_using_llms_spark.functions.extraction",
    "relation_extraction_using_llms_spark.functions.parsing",
    "relation_extraction_using_llms_spark.operators.linking",
    "relation_extraction_using_llms_spark.operators.matching",
)


def _warm_worker(batches):
    import importlib

    for name in WORKER_MODULES:
        importlib.import_module(name)
    yield from batches


def per_layer_names() -> list[tuple[str, str]]:
    """(metric, unit) for every per-layer metric, in report order."""
    from perfbench.trace import LAYERS, PYTHON_LAYERS

    out = []
    for layer in LAYERS:
        out += [
            (f"{layer}.busy_s", "s"),
            (f"{layer}.rows_out", "count"),
            (f"{layer}.jobs", "count"),
            (f"{layer}.shuffle_write_mb", "MiB"),
            (f"{layer}.spill_mb", "MiB"),
        ]
        if layer in PYTHON_LAYERS:
            out += [
                (f"{layer}.py_sent_mb", "MiB"),
                (f"{layer}.py_returned_mb", "MiB"),
                (f"{layer}.py_run_s", "s"),
                (f"{layer}.py_start_s", "s"),
            ]
    out += [
        ("prompt_model.cache_hit_frac", "ratio"),
        ("resolve.unresolved_frac", "ratio"),
        ("dedup.verify_yield", "ratio"),
        ("catalog.sort_fallback_tasks", "count"),
        ("match.sort_fallback_tasks", "count"),
        ("host.jvm_start_s", "s"),
        ("host.warmup_s", "s"),
        ("host.control_s", "s"),
        ("host.steal_frac", "ratio"),
        ("host.peak_rss_mb", "MiB"),
    ]
    return out


# ``throughput`` is in each workload's own unit of work: graph edges
# written per second for kg_build, input documents per second for
# corpus_ops (every workload has to report every end-to-end metric)
END_TO_END = [("iter_s", "s"), ("setup_s", "s"), ("throughput", "1/s")]


class FingerprintCheck:
    """Outputs must equal the fingerprint pinned in ``expected.json`` for
    the seed; for an unpinned seed, the first iteration seen in this
    checkout is recorded and later ones must agree with it."""

    def __init__(self, workload: str, seed: int):
        with open(os.path.join(HERE, "expected.json")) as f:
            self.expected = json.load(f).get(workload, {}).get(str(seed))
        self.record = os.path.join(WORK, "fingerprints", f"{workload}-seed{seed}.json")
        if self.expected is None and os.path.exists(self.record):
            with open(self.record) as f:
                self.expected = json.load(f)

    def check(self, fp: dict) -> list[str]:
        if self.expected is None:
            os.makedirs(os.path.dirname(self.record), exist_ok=True)
            tmp = self.record + f".{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(fp, f, sort_keys=True)
            os.replace(tmp, self.record)
            self.expected = fp
            return []
        return [f"{k}: got {fp.get(k)!r}, want {v!r}" for k, v in self.expected.items() if fp.get(k) != v]


def layer_metrics(reader, tracer, since_exec, jobs_before, iterations, ratios, dedup_yield):
    from perfbench.trace import LAYERS

    per = {layer: {"rows_out": 0.0, "shuffle_write_bytes": 0.0, "spill_bytes": 0.0,
                   "py_sent_bytes": 0.0, "py_returned_bytes": 0.0, "py_run_s": 0.0,
                   "py_start_s": 0.0, "sort_fallback_tasks": 0.0} for layer in LAYERS}
    sink = {"busy_s": 0.0, "rows_out": 0.0, "jobs": 0}
    for eid, desc, n_jobs in reader.executions(since_exec):
        m = reader.execution_metrics(eid)
        if desc in per:
            for k in per[desc]:
                per[desc][k] += m.get(k, 0.0)
        if m.get("rows_written") or m.get("write_commit_s"):
            sink["busy_s"] += m.get("write_commit_s", 0.0)
            sink["rows_out"] += m.get("rows_written", 0.0)
            sink["jobs"] += n_jobs
    jobs_after = tracer.job_counts()
    out = {}
    for layer in LAYERS:
        p = per[layer]
        jobs = jobs_after[layer] - jobs_before[layer]
        busy = tracer.busy.get(layer, 0.0)
        if layer == "sink":
            busy, p["rows_out"], jobs = sink["busy_s"], sink["rows_out"], sink["jobs"]
        vals = {
            "busy_s": busy,
            "rows_out": p["rows_out"],
            "jobs": jobs,
            "shuffle_write_mb": p["shuffle_write_bytes"] / MiB,
            "spill_mb": p["spill_bytes"] / MiB,
            "py_sent_mb": p["py_sent_bytes"] / MiB,
            "py_returned_mb": p["py_returned_bytes"] / MiB,
            "py_run_s": p["py_run_s"],
            "py_start_s": p["py_start_s"],
        }
        for k, v in vals.items():
            out[f"{layer}.{k}"] = v / iterations
    out["catalog.sort_fallback_tasks"] = per["catalog"]["sort_fallback_tasks"] / iterations
    out["match.sort_fallback_tasks"] = per["match"]["sort_fallback_tasks"] / iterations
    rows_in = sum(a for a, _ in dedup_yield)
    out["dedup.verify_yield"] = sum(b for _, b in dedup_yield) / rows_in if rows_in else 0.0
    for k, v in ratios.items():
        out[k] = statistics.mean(v)
    return out


def stop_spark(spark) -> None:
    """Stop the session, then its JVM, and wait for every process this run
    started.  ``spark.stop()`` alone leaves the gateway JVM (and the
    Python workers it forked) running until it notices, some time after
    this process exits, that its stdin pipe has closed."""
    from perfbench.trace import descendants, end_processes

    started = descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        from pyspark import SparkContext

        jvm = getattr(SparkContext._gateway, "proc", None)
        if jvm is not None:
            # the gateway JVM exits on EOF of its stdin
            jvm.stdin.close()
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        end_processes(started)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a SIGTERM still runs the clean-up below, so the JVM is not left behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "relation_extraction_using_llms_spark", "__init__.py")):
        print("perfbench: the package is not beside perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import inputs, trace
    from perfbench.sparkmetrics import StatusStoreReader
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]()
    nproc = len(os.sched_getaffinity(0))

    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    # keep Spark's shuffle files and every temp file inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    control_s = trace.control_seconds(nproc)
    data_dir = inputs.ensure(
        os.path.join(WORK, "data"), f"{args.workload}-seed{args.seed}",
        lambda d: workload.prepare(d, args.seed),
    )

    sampler = trace.RssSampler()
    sampler.start()
    spark = None
    try:
        t0 = time.perf_counter()
        from relation_extraction_using_llms_spark.session import get_spark

        spark = get_spark(
            f"perfbench-{args.workload}",
            master=f"local[{nproc}]",
            # one shuffle partition per task slot (get_spark's own default
            # floors it at 8); outputs do not depend on it
            shuffle_partitions=nproc,
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
                # a kg_build pass starts ~360 jobs in ~50 SQL executions; keep
                # all of a run's in the status store and the status tracker
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            },
        )
        jvm_start_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        if workload.python_udfs:
            spark.range(0, nproc, numPartitions=nproc).mapInPandas(_warm_worker, "id long").count()
        workload.open(spark, data_dir)
        warmup_s = time.perf_counter() - t1
        setup_s = time.perf_counter() - t0

        reader = StatusStoreReader(spark)
        tracer = trace.Tracer(spark) if args.trace else None
        if tracer:
            tracer.install()
            jobs_before = tracer.job_counts()
        since_exec = reader.execution_count()
        checker = FingerprintCheck(args.workload, args.seed)
        steal0, total0 = trace.cpu_times()
        sampler.mark()

        walls, work_rates, ratios = [], [], {}
        attempted = failed = 0
        t_measure = time.perf_counter()
        while attempted == 0 or time.perf_counter() - t_measure < args.seconds:
            wd = os.path.join(run_dir, f"iter{attempted}")
            attempted += 1
            iter_exec = reader.execution_count()
            try:
                if tracer:
                    tracer.switch("host")
                t = time.perf_counter()
                workload.iterate(wd)
                wall = time.perf_counter() - t
                if tracer:
                    tracer.switch(None)
                fp, work = workload.outputs(wd)
                problems = workload.invariants(fp) + checker.check(fp)
                walls.append(wall)
                work_rates.append(work / wall)
                if tracer:
                    written = sum(
                        reader.execution_metrics(eid).get("rows_written", 0.0)
                        for eid, desc, _ in reader.executions(iter_exec) if desc == "prompt_model"
                    )
                    for k, v in workload.layer_ratios(wd, written).items():
                        ratios.setdefault(k, []).append(v)
                if problems:
                    failed += 1
                    print(f"perfbench: iteration {attempted} output mismatch: {problems}", file=sys.stderr)
            except Exception:
                failed += 1
                traceback.print_exc()
            finally:
                if tracer:
                    tracer.switch(None)
                # outside the timed region: let the ContextCleaner free
                # checkpoint blocks and shuffle files before the next pass
                gc.collect()
                spark._jvm.System.gc()
                shutil.rmtree(wd, ignore_errors=True)
        sampler.stop()
        steal1, total1 = trace.cpu_times()

        executions = list(reader.executions(since_exec))
        print(json.dumps({"walls_s": walls, "control_s": control_s, "jvm_start_s": jvm_start_s,
                          "warmup_s": warmup_s, "work_per_s": work_rates, "peak_rss_mb": sampler.peak / MiB,
                          "executions": len(executions),
                          "jobs": sum(n for _, _, n in executions)}), file=sys.stderr)
        if args.trace:
            dedup_yield = [
                pair for eid, desc, _ in reader.executions(since_exec) if desc == "dedup"
                for pair in reader.predicate_rows(eid, "array_intersect")
            ]
            values = layer_metrics(reader, tracer, since_exec, jobs_before, attempted, ratios, dedup_yield)
            tracer.uninstall()
            values.update({
                "host.jvm_start_s": jvm_start_s,
                "host.warmup_s": warmup_s,
                "host.control_s": control_s,
                "host.steal_frac": (steal1 - steal0) / max(1, total1 - total0),
                "host.peak_rss_mb": sampler.peak / MiB,
            })
            names = per_layer_names()
        else:
            values = {
                "iter_s": statistics.median(walls) if walls else 0.0,
                "setup_s": setup_s,
                "throughput": statistics.median(work_rates) if work_rates else 0.0,
            }
            names = END_TO_END
    finally:
        # a second SIGTERM must not cut the clean-up short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        sampler.stop()
        try:
            stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    metrics = {name: {"value": values.get(name, 0.0), "unit": unit} for name, unit in names}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
