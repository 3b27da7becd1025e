"""Row-validity contracts for the shared corpus tables.

At 100 TB every telemetry table carries garbage rows — null keys from
dropped client fields, null timestamps from clock-less devices, NaN
values from upstream float bugs.  Letting them flow into analytics is
worse than wrong: null event-time ORDERING diverges between engines
(Spark sorts nulls first ascending, DuckDB last), so the results are
not merely dirty but NON-REPRODUCIBLE across systems.  The contract
draws the line once, at the read:

* a row participates iff ``event_id``, ``ts``, and ``user_id`` are all
  non-null and ``value`` is null-or-finite (NaN/Inf excluded — a NaN
  poisons every double aggregate it touches, differently per engine);
* per-COLUMN messiness flows THROUGH: null/''/'nan' event_type and
  malformed JSON ``props`` are data, and each operator defines its
  behavior on them (from_json → null, grouping keeps the dirty key).

Engine gate and SQL twin live side by side so they cannot drift; the
SQL form is substituted into every registered oracle reading
``FROM events`` by queries.__init__ at import time.  The gate is one
map-side conjunction — no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: DuckDB twin of :func:`valid_events` — keep in lockstep.
EVENTS_VALID_SQL = (
    "event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL "
    "AND (value IS NULL OR isfinite(value))"
)


def valid_events(df: DataFrame) -> DataFrame:
    """Filter to rows satisfying the events validity contract (see
    module docstring)."""
    v = F.col("value")
    return df.where(
        F.col("event_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & (
            v.isNull()
            | ((~F.isnan(v)) & (F.abs(v) < F.lit(float("inf"))))
        )
    )
