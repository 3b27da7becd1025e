"""The traced benchmark run (``perfbench/spans.instrumented``) wraps
engine functions by attribute name; a rename that breaks its patch
table, or a decode closure that captures a wrapped name, must fail
here and not only in the benchmark."""

from __future__ import annotations

import os
import sys

from credit_card_etl_pipeline_spark.plans import etl
from credit_card_etl_pipeline_spark.sources import ingest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench"))

from spans import Tracer, instrumented  # noqa: E402


def test_traced_run_wraps_and_restores_the_engine_layers(spark, tmp_path):
    from tests.test_etl import ESUN_CSV

    (tmp_path / "玉山銀行113年1月.csv").write_text(ESUN_CSV, encoding="utf-8")
    names = ["statement_lines", "parse_banks", "extract_card_info",
             "parse_bank_specific", "general_cleanse"]
    before = {n: getattr(etl, n) for n in names}
    header_fn = ingest._headers_and_positions
    tracer = Tracer(spark, enabled=True)
    with tracer.op("t"), instrumented(tracer):
        assert all(getattr(etl, n) is not before[n] for n in names)
        assert ingest._headers_and_positions is not header_fn
        assert etl.run_etl(spark, str(tmp_path)).count() == 4
    assert {n: getattr(etl, n) for n in names} == before
    assert ingest._headers_and_positions is header_fn
    spans = {s.name: s.rows for s in tracer.spans}
    assert {"ingest.decode", "extract_cards", "bank_parse"} <= set(spans)
    assert spans["cleanse"] == 4
