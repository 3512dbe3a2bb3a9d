"""Per-partition checkpoint lineage + metrics ledger (north_rule).

Every checkpointed stage appends one ledger row per partition key:
(stage, partition_key, input_hash, row_count, status, run_id, ts).
``input_hash`` is a content fingerprint of the partition's INPUT rows, so
resume is correct under both failure modes:

  * killed run, fixed input  -> missing keys recompute, done keys skip
  * grown/changed input      -> keys whose input fingerprint changed are
                                stale: recomputed and their output
                                partition overwritten (dynamic partition
                                overwrite), never appended-to

The latest ledger row per (stage, key) wins.  Mirrors, as a table, what
the reference's content-addressed response cache does per file
(llm_cache.py:79-141).

The bookkeeping runs on the driver.  The ledger holds O(stages x keys)
rows, so it is read and appended with pyarrow, and pending and vanished
keys are set arithmetic over it.  A stage's own Spark work is one
``collect`` of its per-key input fingerprints (at most one row per key;
stages of one pass over the same frame share it) plus the write of its
pending partitions; per-key row counts come from
the written partitions' parquet footers.  ``compute`` gets the work rows
of the pending keys (all of ``work_df`` on a cold run, else a literal
``key IN (...)`` filter) and the pending keys themselves, so it can prune
other partitioned tables the same way.  The on-disk columns are the ones
Spark wrote before, so ``spark.read.parquet(ledger)`` reads both kinds of
file.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_LEDGER_SCHEMA = pa.schema(
    [
        ("stage", pa.string()),
        ("partition_key", pa.string()),
        ("input_hash", pa.string()),
        ("row_count", pa.int64()),
        ("status", pa.string()),
        ("run_id", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

# Spark's schema of a stage's output table, saved beside it after every
# change: a no-op re-run reads the table with it instead of running a
# schema-inference job.  The leading '_' hides it from Spark and pyarrow.
_SCHEMA_FILE = "_stage_schema.json"

# Hive/Spark partition-path escaping (escapePathName): these chars (and
# control chars 0x00-0x1F plus DEL 0x7F) appear %XX-encoded in
# "<col>=<value>" directory names.  This is Hive's exact charToEscape set —
# note '}' is NOT escaped by Hive/Spark; a mismatch here makes
# _drop_partitions derive a different directory name than Spark wrote, so
# stale files would survive a resume.
_ESCAPE_CHARS = set('"#%\'*/:=?\\{[]^') | {"\x7f"}


def _visible(names) -> list[str]:
    """Data file names as Spark's file index sees them (no _/. prefix)."""
    return sorted(n for n in names if not n.startswith(("_", ".")))


def _partition_dir(out_path: str, key_col: str, value) -> str:
    if value is None:
        return os.path.join(out_path, f"{key_col}=__HIVE_DEFAULT_PARTITION__")
    escaped = "".join(
        f"%{ord(ch):02X}" if (ch in _ESCAPE_CHARS or ord(ch) < 32) else ch
        for ch in str(value)
    )
    return os.path.join(out_path, f"{key_col}={escaped}")


def _drop_partitions(out_path: str, key_col: str, keys) -> None:
    """Physically remove the output partitions for ``keys`` (local/POSIX
    paths; an object-store deployment would swap in the Hadoop FileSystem
    API here).  Dynamic partition overwrite only replaces partitions that
    appear in the NEW result — a key whose recompute yields zero rows (or
    that vanished from the input) must have its stale files deleted
    explicitly, or the full-table read silently resurrects old rows."""
    for k in keys:
        d = _partition_dir(out_path, key_col, k)
        if os.path.exists(d):
            shutil.rmtree(d)


def _partition_rows(out_path: str, key_col: str, key) -> int:
    """Rows written under one partition key, from its parquet footers."""
    d = _partition_dir(out_path, key_col, key)
    if not os.path.isdir(d):
        return 0
    return sum(
        pq.read_metadata(os.path.join(d, f)).num_rows for f in _visible(os.listdir(d))
    )


def key_filter(key_col: str, keys) -> Column:
    """``key_col IN (keys)`` as literals, so a scan of a table partitioned
    by ``key_col`` prunes partitions; a ``None`` key matches nulls."""
    present = [k for k in keys if k is not None]
    cond = F.col(key_col).isin(present)
    return cond | F.col(key_col).isNull() if len(present) < len(keys) else cond


class StageLedger:
    def __init__(self, spark, ledger_path: str, run_id: str | None = None):
        self.spark = spark
        self.path = ledger_path
        self.run_id = run_id or uuid.uuid4().hex[:12]
        # ledger files are append-only: each is parsed once
        self._files: dict[str, pa.Table] = {}
        # input fingerprints of this pass over the stages, per
        # (id(work_df), key_col); each entry holds its frame, so a reused
        # id() never matches
        self._fps: dict[tuple, tuple] = {}
        self._pass_stages: set[str] = set()

    def read(self) -> pa.Table | None:
        """The whole ledger on the driver, ``ts`` as UTC microseconds
        whichever encoding wrote it (Spark's INT96 or pyarrow's INT64)."""
        if not os.path.isdir(self.path):
            return None
        names = _visible(os.listdir(self.path))
        for name in names:
            if name not in self._files:
                t = pq.read_table(os.path.join(self.path, name)).select(
                    _LEDGER_SCHEMA.names
                )
                self._files[name] = t.cast(_LEDGER_SCHEMA)
        if not names:
            return None
        return pa.concat_tables([self._files[n] for n in names])

    def latest(self, stage: str) -> dict:
        """Latest ledger row per partition key of a stage:
        {partition_key: (status, input_hash)}."""
        table = self.read()
        if table is None:
            return {}
        rows = table.filter(pc.equal(table["stage"], stage)).to_pylist()
        out = {}
        for r in sorted(rows, key=lambda r: r["ts"]):
            out[r["partition_key"]] = (r["status"], r["input_hash"])
        return out

    def pending_keys(self, stage: str, key_fps: dict) -> list:
        """key_fps: {partition_key: input_hash} of the CURRENT input.
        Returns the keys that are not done under the same fingerprint."""
        done = self.latest(stage)
        return [k for k, h in key_fps.items() if done.get(k) != ("done", h)]

    def _append(self, stage: str, status: str, rows) -> None:
        """One parquet file of (partition_key, input_hash, row_count) rows,
        written under a hidden name and renamed, so a reader never sees a
        partial file."""
        if not rows:
            return
        now = datetime.datetime.now(datetime.timezone.utc)
        keys, hashes, counts = zip(*rows)
        n = len(rows)
        table = pa.table(
            [
                [stage] * n,
                list(keys),
                list(hashes),
                list(counts),
                [status] * n,
                [self.run_id] * n,
                [now] * n,
            ],
            schema=_LEDGER_SCHEMA,
        )
        os.makedirs(self.path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, f".{name}")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.path, name))

    def mark_done(self, stage: str, keyed) -> None:
        """keyed: (partition_key, input_hash, row_count) tuples."""
        self._append(stage, "done", list(keyed))

    def mark_removed(self, stage: str, keys: list) -> None:
        """Ledger keys whose input partitions vanished: their output was
        dropped; the latest-row-wins read treats them as not-done."""
        self._append(stage, "removed", [(k, "", 0) for k in keys])

    def fingerprints(self, stage: str, work_df: DataFrame, key_col: str) -> dict:
        """``_key_fingerprints(work_df, key_col)``, computed once per pass:
        stages of one pass over the same frame (the pipeline's page-level
        stages) share one fingerprint action.  A stage seen again starts a
        new pass, which fingerprints afresh."""
        if stage in self._pass_stages:
            self._pass_stages.clear()
            self._fps.clear()
        self._pass_stages.add(stage)
        hit = self._fps.get((id(work_df), key_col))
        if hit is not None and hit[0] is work_df:
            return hit[1]
        fps = _key_fingerprints(work_df, key_col)
        self._fps[(id(work_df), key_col)] = (work_df, fps)
        return fps

    def stage_metrics(self) -> DataFrame | None:
        """The ledger doubles as the per-stage metrics table:
        (stage, status, n_partitions, rows, n_runs), aggregated on the
        driver from the ledger ``read`` returns, so building it starts no
        Spark job."""
        table = self.read()
        if table is None:
            return None
        agg = table.group_by(["stage", "status"]).aggregate(
            [
                ([], "count_all"),
                ("row_count", "sum"),
                ("run_id", "count_distinct"),
            ]
        )
        return self.spark.createDataFrame(
            list(
                zip(
                    agg["stage"].to_pylist(),
                    agg["status"].to_pylist(),
                    agg["count_all"].to_pylist(),
                    agg["row_count_sum"].to_pylist(),
                    agg["run_id_count_distinct"].to_pylist(),
                )
            ),
            "stage string, status string, n_partitions bigint, rows bigint,"
            " n_runs bigint",
        )


def _key_fingerprints(work_df: DataFrame, key_col: str) -> dict:
    """Order-insensitive content fingerprint per key: count + sum of a
    64-bit row hash (xxhash64 over all columns), gathered in one action.
    Returns {partition_key (as the ledger stores it): (key, input_hash)}."""
    # modular sum: plain sum of 64-bit hashes overflows under ANSI mode
    row_hash = F.pmod(
        F.xxhash64(F.struct(*[F.col(c) for c in work_df.columns])),
        F.lit(1_000_000_007).cast("long"),
    )
    rows = (
        work_df.groupBy(F.col(key_col).alias("key"))
        .agg(F.concat_ws(":", F.count(F.lit(1)), F.sum(row_hash)).alias("input_hash"))
        .select(F.col("key").cast("string").alias("partition_key"), "key", "input_hash")
        .collect()  # driver-metadata collect: one row per partition key
    )
    return {r["partition_key"]: (r["key"], r["input_hash"]) for r in rows}


def _read_table(spark, out_path: str, changed: bool) -> DataFrame:
    """The stage's full output table.  After a change Spark infers its
    schema (one job) and the schema is saved; otherwise the saved one is
    reused."""
    schema_file = os.path.join(out_path, _SCHEMA_FILE)
    if not changed and os.path.exists(schema_file):
        with open(schema_file) as f:
            schema = StructType.fromJson(json.load(f))
        return spark.read.schema(schema).parquet(out_path)
    table = spark.read.parquet(out_path)
    with open(schema_file, "w") as f:
        json.dump(table.schema.jsonValue(), f)
    return table


def checkpointed_stage(
    ledger: StageLedger,
    stage: str,
    work_df: DataFrame,
    key_col: str,
    out_path: str,
    compute,
) -> DataFrame:
    """Run ``compute(pending_work, pending_keys) -> DataFrame`` for
    partition keys whose input fingerprint is new or changed; write results
    partitioned by ``key_col`` with dynamic partition overwrite (stale
    partitions are replaced, fresh ones added); mark keys done; return the
    full table.  Idempotent under kill/re-run AND under input
    growth/change.

    ``pending_keys`` are the keys as ``work_df`` holds them;
    ``key_filter(key_col, pending_keys)`` selects their rows from any
    table keyed the same way.  ``compute``'s output must carry ``key_col``
    with values matching the work rows' keys.
    """
    fps = ledger.fingerprints(stage, work_df, key_col)
    todo = ledger.pending_keys(stage, {k: h for k, (_, h) in fps.items()})
    # keys recorded done but absent from the CURRENT input: their output
    # partitions are stale — drop files and ledger them as removed
    vanished = [
        k for k, (status, _) in ledger.latest(stage).items()
        if status == "done" and k not in fps
    ]
    changed = bool(todo or vanished)
    if changed and os.path.exists(os.path.join(out_path, _SCHEMA_FILE)):
        # a kill before the table is re-read must not leave a stale schema
        os.remove(os.path.join(out_path, _SCHEMA_FILE))
    if vanished:
        _drop_partitions(out_path, key_col, vanished)
        ledger.mark_removed(stage, vanished)
    if todo:
        # pre-delete every pending partition: dynamic overwrite only
        # replaces partitions PRESENT in the new result, so a stale key
        # whose recompute yields zero rows would otherwise survive on disk
        # while being ledgered done with row_count=0.  Safe under crashes:
        # todo keys are by definition not done-under-current-hash, so a
        # kill between delete and write just recomputes them next run.
        _drop_partitions(out_path, key_col, todo)
        keys = [fps[k][0] for k in todo]
        pending = (
            work_df if len(todo) == len(fps) else work_df.where(key_filter(key_col, keys))
        )
        result = compute(pending, keys)
        (
            result.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(key_col)
            .parquet(out_path)
        )
        ledger.mark_done(
            stage,
            [
                (k, fps[k][1], _partition_rows(out_path, key_col, k))
                for k in todo
            ],
        )
    return _read_table(ledger.spark, out_path, changed)
