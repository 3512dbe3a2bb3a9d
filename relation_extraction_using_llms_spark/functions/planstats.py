"""Row-count estimates from a DataFrame's optimized plan, for the routers
that pick a small-input layout or a scale-safe one (catalog direct/salted,
embedding dedup exact/LSH, the combo-discovery warning).

Every helper here is a driver-side plan inspection plus at most a
parquet-footer metadata read — never a Spark job, so routing keeps the
caller's plan lazy.
"""

from __future__ import annotations


def _parquet_scan_rows(df, max_files: int = 256) -> int | None:
    """EXACT row count from parquet footer metadata when the plan is just
    scan (+ project / filter) — a driver-side metadata read, never a job.
    Returns None for any other plan shape: project/filter keep per-source
    multiplicity <= 1 (so footer counts stay an upper bound), but a join /
    explode / generate could multiply rows and disqualifies the shortcut.

    This is the "rowCount from a committed stage" path: materialized stage
    tables get an exact answer that no compression-ratio heuristic can
    fool."""
    try:
        node = df._jdf.queryExecution().optimizedPlan()
        while True:
            cls = node.getClass().getSimpleName()
            if cls in ("Project", "Filter"):
                if node.children().size() != 1:
                    return None
                node = node.children().apply(0)
                continue
            if cls == "LogicalRelation":
                break
            return None
        files = df.inputFiles()
        if not files or len(files) > max_files:
            return None
        if not all(f.endswith(".parquet") for f in files):
            return None
        import pyarrow.parquet as pq

        total = 0
        for f in files:
            path = f[len("file:"):] if f.startswith("file:") else f
            total += pq.read_metadata(path).num_rows
        return total
    except Exception:
        return None


# Leaves whose sizeInBytes reflects REAL materialized data (file bytes,
# local rows, range arithmetic) and whose rows a Project/Filter chain
# cannot multiply — the byte-floor heuristic is a true upper bound only
# over these.  Anything else (a join, a Generate/explode, a Python map
# node) inherits its CHILD's size estimate while potentially multiplying
# rows arbitrarily, so the heuristic can undershoot there.
_TRUSTED_STATS_LEAVES = frozenset(
    {"LogicalRelation", "Range", "LocalRelation", "OneRowRelation"}
)


def _scan_shaped(df) -> bool:
    """True when the optimized plan is Project/Filter* over a leaf whose
    statistics derive from materialized data (``_TRUSTED_STATS_LEAVES``).
    Pure driver-side plan inspection, never a job."""
    try:
        node = df._jdf.queryExecution().optimizedPlan()
        while True:
            cls = node.getClass().getSimpleName()
            if cls in ("Project", "Filter"):
                if node.children().size() != 1:
                    return False
                node = node.children().apply(0)
                continue
            return cls in _TRUSTED_STATS_LEAVES
    except Exception:
        return False


def estimated_rows(
    df, min_bytes_per_row: int = 5
) -> tuple[int | None, bool]:
    """(row-count upper bound, confident) from the optimized plan's
    statistics — a pure plan inspection plus at most a parquet-footer
    metadata read, never a job.  ``confident`` is True only when the
    bound provably cannot undershoot: a Catalyst-defined rowCount, an
    exact parquet-footer count, or the byte-floor heuristic over a
    scan-shaped plan (Project/Filter over a materialized leaf — rows
    cannot multiply, bytes are real, and ``min_bytes_per_row`` assumes
    implausibly extreme compression, so the estimate only overshoots).

    For any OTHER plan shape the byte heuristic is returned with
    ``confident=False``: Catalyst derives a Python-map or explode node's
    sizeInBytes from its CHILD, so a row-multiplying operator upstream
    can make the estimate undershoot arbitrarily.  Callers routing
    between a small-input layout and a scale-safe one must take the
    scale-safe path on an unconfident estimate."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return int(str(rc.get())), True  # py4j: BigInt or int
        exact = _parquet_scan_rows(df)
        if exact is not None:
            return exact, True
        size = int(str(stats.sizeInBytes()))
        # Catalyst's "unknown" default is Long.MaxValue-ish; treat
        # implausibly huge sizes as unknown
        if size <= 0 or size >= (1 << 60):
            return None, False
        return max(1, size // min_bytes_per_row), _scan_shaped(df)
    except Exception:
        return None, False
