"""The three workloads, driving the engine's public entry points:
``plans.etl.run_etl`` → ``plans.refine.refine`` →
``warehouse.to_warehouse``/``write_warehouse`` → ``operators.rfm``, and
the registered RFM queries.

Each workload has two set-up steps and one operation:

* ``generate()`` writes the seeded inputs and their ground truth; it is
  repeatable and the run times it several times;
* ``prepare()`` runs once, without Spark: the oracle digests;
* ``op(i)`` is the timed operation; it returns an :class:`Outcome`
  whose ``check`` the run calls outside the timer.  Operation 0 is the
  first job of a fresh session, as a scheduled batch job runs; further
  operations run warm, one after another.
"""

from __future__ import annotations

import os
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import corpus
import orders
from spans import Tracer

YEAR = 2024
MONTHS = [(YEAR, m) for m in range(1, 13)]

#: The registered analytics reports a ``rfm_reports`` round runs: one
#: each for the RFM scorer with percentile ranks, the merchant resolver
#: and the payment-method rules.  The other three (``rfm_payment_method``,
#: ``rfm_card_portfolio``, ``rfm_customer_dual_window``) add no layer and
#: would make a run half again as long.
REPORTS = [
    "rfm_merchant_full",
    "merchant_unknown_top10",
    "payment_method_distribution",
]


@dataclass
class Outcome:
    rows: int  # transactions the operation landed or aggregated
    check: Callable[[], bool]
    files: int = 0  # statement files ingested
    bytes_in: int = 0  # raw statement bytes ingested
    data_lines: int = 0  # statement lines after the header


class Workload:
    def __init__(self, spark: SparkSession, work: str, seed: int,
                 tracer: Tracer) -> None:
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer

    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        pass

    def op(self, i: int) -> Outcome:
        raise NotImplementedError


def _load(spark: SparkSession, tracer: Tracer, data_dir: str, wh: str, *,
          expected_rows: int, n_partitions: int, incremental: bool) -> int:
    """Statement files → validated warehouse, as ``examples/run_pipeline.py``
    composes it."""
    from credit_card_etl_pipeline_spark.plans.etl import run_etl
    from credit_card_etl_pipeline_spark.plans.refine import refine
    from credit_card_etl_pipeline_spark.queries.refine_queries import REFINE_CONFIG
    from credit_card_etl_pipeline_spark.warehouse import to_warehouse, write_warehouse

    raw = run_etl(spark, data_dir)
    with tracer.span("refine") as s:
        refined = tracer.force(refine(raw, REFINE_CONFIG), s)
    with tracer.span("warehouse.load"):
        return write_warehouse(
            to_warehouse(refined), wh, expected_rows=expected_rows,
            n_partitions=n_partitions, incremental=incremental)


def _matches(spark: SparkSession, wh: str, truth: corpus.Truth,
             month: str | None = None) -> bool:
    """Warehouse rows and payment cents per (bank, month) equal the truth."""
    ym = F.date_format("transaction_date", "yyyy-MM")
    df = spark.read.parquet(wh)
    if month is not None:
        df = df.where(ym == month)
    got = {
        (r["b"], r["ym"]): (r["n"], r["c"])
        for r in df.groupBy(F.col("bank_name").alias("b"), ym.alias("ym")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("payment_amount") * 100).cast("long")).alias("c"),
        ).collect()
    }
    want = {k: (n, truth.cents[k]) for k, n in truth.rows.items()
            if n and (month is None or k[1] == month)}
    return got == want


class BackfillBulk(Workload):
    """Full-refresh extract → refine → load of a year of statements."""

    FILES, ROWS_PER_FILE = 96, 2000

    def generate(self) -> None:
        self.src = os.path.join(self.work, "statements")
        self.wh = os.path.join(self.work, "warehouse")
        shutil.rmtree(self.src, ignore_errors=True)
        self.truth = corpus.write_corpus(
            self.src, self.seed, MONTHS, self.FILES // len(MONTHS),
            self.ROWS_PER_FILE)

    def op(self, i: int) -> Outcome:
        n = _load(self.spark, self.tracer, self.src, self.wh,
                  expected_rows=self.truth.total_rows,
                  n_partitions=len({ym for _, ym in self.truth.rows}),
                  incremental=False)
        t = self.truth
        return Outcome(n, lambda: n == t.total_rows
                       and _matches(self.spark, self.wh, t),
                       t.files, t.bytes, t.data_lines)


class MonthlyClose(Workload):
    """Close one month: load its statements into the warehouse (dynamic
    partition overwrite), then re-read the warehouse for the card RFM
    report.  Operation ``i`` closes month ``start + i``, so the warehouse
    gains a month with each operation."""

    FILES, ROWS_PER_FILE = 4, 40

    def generate(self) -> None:
        self.wh = os.path.join(self.work, "warehouse")
        root = os.path.join(self.work, "months")
        shutil.rmtree(root, ignore_errors=True)
        self.month_dirs, self.month_truth = [], []
        for k, ym in enumerate(MONTHS):
            d = os.path.join(root, f"{ym[0]}-{ym[1]:02d}")
            self.month_dirs.append(d)
            self.month_truth.append(corpus.write_corpus(
                d, self.seed * 100 + k, [ym], self.FILES, self.ROWS_PER_FILE,
                in_month_only=True))
        self.start = random.Random(self.seed).randrange(len(MONTHS))
        self.closed: set[int] = set()

    def _report(self) -> list:
        """The card RFM report (``examples/run_pipeline.py``) over the
        whole warehouse, rows collected on the driver."""
        from credit_card_etl_pipeline_spark.operators import rfm as rfm_ops

        with self.tracer.span("warehouse.read") as s:
            table = self.spark.read.parquet(self.wh)
            clean = self.tracer.force(rfm_ops.exclude_bank_noise(table).where(
                F.col("card_name").isNotNull() & (F.col("card_name") != "")), s)
        with self.tracer.span("rfm.card_report"):
            agg = rfm_ops.rfm_aggregate(
                clean, ["bank_name", "card_name"], date_col="transaction_date",
                id_col="transaction_id", amount_col="payment_amount",
                rank_metrics=("f", "m"))
            return (rfm_ops.with_avg_ticket(agg)
                    .withColumn("segment", rfm_ops.label_card_segment())
                    .orderBy(F.desc("monetary")).collect())

    def op(self, i: int) -> Outcome:
        k = (self.start + i) % len(MONTHS)
        t = self.month_truth[k]
        self.closed.add(k)
        total = sum(self.month_truth[j].total_rows for j in self.closed)
        n = _load(self.spark, self.tracer, self.month_dirs[k], self.wh,
                  expected_rows=total, n_partitions=1, incremental=True)
        report = self._report()
        month = f"{MONTHS[k][0]}-{MONTHS[k][1]:02d}"
        return Outcome(t.total_rows, lambda: (
            n == total
            and _matches(self.spark, self.wh, t, month)
            and bool(report)
            and {r["bank_name"] for r in report} <= set(corpus.BANKS)),
            t.files, t.bytes, t.data_lines)


class RfmReports(Workload):
    """One operation is a round of the ``REPORTS``, in a seeded order,
    each report's rows collected on the driver; per-report times are in
    the traced run."""

    ORDERS = 20_000

    def generate(self) -> None:
        self.sf_dir = os.path.join(self.work, "sf")
        orders.write_orders(self.sf_dir, self.seed, self.ORDERS)
        self.order = list(REPORTS)
        random.Random(self.seed).shuffle(self.order)

    def prepare(self) -> None:
        """DuckDB oracle digest of each report (``__spark_entry__``)."""
        import duckdb

        import __spark_entry__ as entry
        from check_oracle import frame_digest

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            con.sql("SET threads = 1")
            con.sql(f"CREATE VIEW orders AS SELECT * FROM "
                    f"read_parquet('{self.sf_dir}/orders.parquet')")
            self.digest = {}
            for name in REPORTS:
                rel = con.sql(oracles[name])
                self.digest[name] = frame_digest(list(rel.columns), rel.fetchall())[0]
        finally:
            con.close()

    def op(self, i: int) -> Outcome:
        from check_oracle import frame_digest

        from credit_card_etl_pipeline_spark.queries import QUERIES

        results = {}
        for name in self.order:
            with self.tracer.span("rfm." + name):
                df = QUERIES[name](self.spark, self.sf_dir)
                results[name] = (df.columns, df.collect())
        return Outcome(self.ORDERS * len(self.order), lambda: all(
            frame_digest(cols, [tuple(r) for r in rows])[0] == self.digest[name]
            for name, (cols, rows) in results.items()))


WORKLOADS = {
    "backfill_bulk": BackfillBulk,
    "monthly_close": MonthlyClose,
    "rfm_reports": RfmReports,
}
