"""Session-lifetime tracking of operator-internal persisted frames.

Some ``dataops/`` operators (``dedup``, ``similarity``) persist an
intermediate so several branches reuse one computation instead of
re-scanning their input per branch.  The returned DataFrame still
references that cache, so the operator cannot unpersist before
returning — and in a long-running driver each invocation would
otherwise pin another cached table forever.  The paper's path
(ingest → warehouse → RFM reports) persists nothing.

Every such persist is registered here; :func:`release_tracked` drops
them all.  The query registry calls it at the start of each registered
query, so the grading driver / bench loop never accumulates more than
one query's worth of cache.  Library users embedding the operators in
a longer-lived session should call :func:`release_tracked` (or
``df.unpersist()`` on frames they hold) once results are materialized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Register an already-persisted frame for deferred release."""
    _TRACKED.append(df)
    return df


def release_tracked() -> None:
    """Unpersist every tracked frame (non-blocking) and forget them."""
    for df in _TRACKED:
        try:
            df.unpersist(False)
        except Exception:
            pass  # session already stopped — nothing to release
    _TRACKED.clear()
