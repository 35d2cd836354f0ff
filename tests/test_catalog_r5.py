"""Round-5 catalog-swap gates.

The 50-entry driver catalog traded three relational extras
(pricing_summary, top_revenue_orders, sessionize_events — all reachable
via BENCH_QUERIES and still timed by bench.py's fixed HEADLINE list) for
driver-visible rows on the round-5 training-hygiene ops (span_dedup_docs,
decon_spans_docs, lm_quality_docs); the five media-codec slots and the
BPE token-count slot later went to engine-level gates (engine_*:
validate() over sf-derived tables), and pack_sequences_docs swapped its
pinned oracle for live DuckDB SQL. Nothing may lose its oracle gate in a
swap:

* the DISPLACED queries keep a full Spark-vs-DuckDB value gate HERE
  (the same row-count + columns + order-insensitive-values compare the
  driver runs, via tools/oracle_parity._canon);
* the NEW catalog entries get the same compare at sf0.001 plus a DuckDB
  dtype parity pin (a value-correct oracle can still hash-fail on an
  emitted type).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
from oracle_parity import TABLES, _canon  # noqa: E402

SF = "/root/testdata/sf0.001"

DISPLACED = ["pricing_summary", "top_revenue_orders", "sessionize_events"]
NEW_ENTRIES = [
    "span_dedup_docs",
    "decon_spans_docs",
    "lm_quality_docs",
    # the engine-level gates that took the media slots
    "engine_ordering_events",
    "engine_keys_events",
    "engine_categorical_events",
    "engine_row_rules_customer",
    "engine_verdicts_orders",
    "engine_drift_keys_lineitem",
    # chars-only packing against a live DuckDB oracle, valid at every scale
    "pack_sequences_docs",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    yield con
    con.close()


def _driver_compare(spark, duck, name):
    from safedata_validator_spark import queries as Q
    from safedata_validator_spark.functions.dedup import release

    sql = {
        **Q.ORACLES,
        "pricing_summary": Q.SQL_PRICING_SUMMARY,
        "top_revenue_orders": Q.SQL_TOP_REVENUE_ORDERS,
        "sessionize_events": Q.SQL_SESSIONIZE_EVENTS,
    }[name]
    sdf = Q.BENCH_QUERIES[name](spark, SF)
    srows = [r.asDict() for r in sdf.collect()]
    scols = sorted(sdf.columns)
    release(sdf)
    rel = duck.sql(sql)
    ocols = sorted(rel.columns)
    orows = [dict(zip(rel.columns, r)) for r in rel.fetchall()]
    assert scols == ocols, name
    assert len(srows) == len(orows), name
    assert _canon(srows, scols) == _canon(orows, ocols), name


@pytest.mark.parametrize("name", DISPLACED)
def test_displaced_queries_keep_their_oracle_gate(spark, duck, name):
    _driver_compare(spark, duck, name)


@pytest.mark.parametrize("name", NEW_ENTRIES)
def test_new_catalog_entries_match_oracles(spark, duck, name):
    _driver_compare(spark, duck, name)


@pytest.mark.parametrize("name", NEW_ENTRIES)
def test_new_catalog_entries_dtype_parity(spark, duck, name):
    """DuckDB dtypes of the emitted oracle must equal the live Spark schema
    (gen_golden_oracles.dtype_mismatches — the laundering hole the round-4
    verdict closed for golden VALUES, applied to the new live oracles)."""
    from gen_golden_oracles import dtype_mismatches

    from safedata_validator_spark import queries as Q

    probs = dtype_mismatches(
        Q.QUERIES[name](spark, SF).schema, Q.ORACLES[name], duck
    )
    assert not probs, probs
