"""``common.local_table``: small driver-side tables held as JVM
LocalRelations. A table built from Python rows with ``createDataFrame``
plans a ``Scan ExistingRDD`` over a PythonRDD, so every job reading it runs
Python-worker tasks; these tests pin that the helper's tables are exact
copies of their rows and plan as ``LocalTableScan`` only, and that
``common.localize`` keeps a result local exactly when its caps allow."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from safedata_validator_spark.engine import ordering, validator
from safedata_validator_spark.engine.common import _row_width, local_table, localize

#: strings a quoting bug would mangle: quotes, backticks, backslashes,
#: unicode (astral plane included) and an embedded newline
HOSTILE = ["it's", 'say "hi"', "`tick``", "back\\slash\\", "ü∅ 漢字 🙂", "a\nb", ""]


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _jvm_copy(df):
    return local_table(df.sparkSession, df._jdf.collectAsList(), df.schema)


def test_jvm_rows_round_trip_every_column_kind(spark):
    strings = spark.range(1).select(F.explode(F.array(*map(F.lit, HOSTILE))).alias("s"))
    src = strings.select(
        "s",
        F.lit(None).cast("string").alias("null_s"),
        F.expr("timestamp'2024-02-29 23:59:59.999999'").alias("ts"),
        F.expr("date'1969-12-31'").alias("d"),
        F.expr("CAST('-12345.678' AS DECIMAL(20, 3))").alias("dec"),
        F.expr("array(0.25D, NULL, CAST('Infinity' AS DOUBLE))").alias("arr"),
        F.expr("map(s, 1L, 'k', NULL)").alias("m"),
        F.expr("named_struct('x', 1, 'y', array(s))").alias("st"),
        F.lit(2**62).alias("big"),
    )
    local = _jvm_copy(src)
    assert local.schema == src.schema
    assert local.collect() == src.collect()
    plan = _physical(local)
    assert plan.startswith("LocalTableScan"), plan
    assert "ExistingRDD" not in plan


def test_jvm_rows_round_trip_profiler_sketches(spark):
    """The shared per-scope aggregate's own columns: HLL distinct counts,
    approx-quantile arrays, min/max, mean/stddev, NULL-only columns."""
    from safedata_validator_spark.data.synth import transcripts_good
    from safedata_validator_spark.engine.profiler import profile_aggs

    df = transcripts_good(spark, n_convs=6, mean_turns=5, hot_factor=2)
    cols = [c for c in df.columns if c != "text"]
    agg = df.groupBy(F.col("conv_id").cast("string").alias("__scope")).agg(
        *profile_aggs(df, cols)
    ).persist()
    try:
        assert _jvm_copy(agg).collect() == agg.collect()
    finally:
        agg.unpersist(blocking=True)


def test_zero_rows(spark):
    src = spark.range(3).select(F.col("id"), F.array("id").alias("a")).where("id < 0")
    local = _jvm_copy(src)
    assert local.schema == src.schema and local.collect() == []
    empty = local_table(spark, [], "s string, n long, x double")
    assert empty.collect() == [] and empty.columns == ["s", "n", "x"]
    assert "ExistingRDD" not in _physical(empty)


def test_literal_rows_convert_to_field_types(spark):
    """py4j sends a small Python int as Java Integer; long fields must
    still hold Java longs (and values past 2^31 must survive)."""
    schema = "s string, n long, x double, b boolean"
    rows = list(
        zip(
            HOSTILE,
            [0, 1, -1, 2**31, -(2**63), 2**63 - 1, None],
            [0.1, -0.0, 1e300, None, 2, float("inf"), 3.5],
            [True, False, None, True, False, True, False],
        )
    )
    local = local_table(spark, rows, schema)
    assert local.schema == T.StructType.fromDDL(schema)
    expected = [(s, n, None if x is None else float(x), b) for s, n, x, b in rows]
    assert [tuple(r) for r in local.collect()] == expected
    # the carrier casts fold into the relation
    plan = _physical(local)
    assert plan.startswith("LocalTableScan"), plan
    assert "ExistingRDD" not in plan


def test_literal_rows_reject_unsupported_types(spark):
    with pytest.raises(TypeError):
        local_table(spark, [(1,)], "a int")


def test_localize_local_path_reads_rows_without_jobs(spark):
    """After the probing collect, reading the localized table's rows (or a
    projection of them, as the sequential fast path does) runs no job."""
    from safedata_validator_spark.data.synth import transcripts_good

    df = transcripts_good(spark, n_convs=6, mean_turns=5, hot_factor=2)
    agg = df.groupBy("role").agg(F.count("*").alias("n"), F.max("turn_idx").alias("mx"))
    local, is_local = localize(agg, validator.LOCALIZE_ROWS, validator.LOCALIZE_BYTES)
    assert is_local
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    rows = local.collect()
    maxima = local.select("mx").collect()
    assert len(tracker.getJobIdsForGroup(None)) == before
    assert sorted(rows) == sorted(agg.collect())
    assert sorted(r["mx"] for r in maxima) == sorted(r["mx"] for r in rows)


@pytest.mark.parametrize(
    "max_rows, max_bytes_in_rows, fits",
    [
        (10, None, True),  # exactly at the row cap
        (9, None, False),  # one row over the row cap
        (100, 10, True),  # room for every row within the byte cap
        (100, 5, False),  # the byte cap allows fewer rows than the frame holds
    ],
)
def test_localize_row_and_byte_caps(spark, max_rows, max_bytes_in_rows, fits):
    """A 10-row frame with an array column stays on the driver exactly when
    both caps allow 10 rows; otherwise its persisted plan comes back."""
    df = spark.range(10).select("id", F.array("id", F.lit(0)).alias("arr"))
    max_bytes = None
    if max_bytes_in_rows is not None:
        max_bytes = max_bytes_in_rows * _row_width(df.schema)
    table, is_local = localize(df, max_rows, max_bytes)
    try:
        assert is_local == fits
        if fits:
            assert _physical(table).startswith("LocalTableScan"), _physical(table)
        else:
            plan = table._jdf.queryExecution().optimizedPlan().toString()
            assert "InMemoryRelation" in plan, plan
        assert sorted(map(tuple, table.collect())) == [(i, [i, 0]) for i in range(10)]
    finally:
        table.unpersist()


def test_hash_prefix_chunked_path_matches_single_window(spark, monkeypatch):
    """The two-phase prefix scan's chunk offsets (a long-typed local
    table) give the same sums as the one-window small path."""
    n = 11
    small = ordering.hash_prefix(spark, n).orderBy("__mx").collect()
    monkeypatch.setattr(ordering, "_PREFIX_CHUNK", 4)
    chunked = ordering.hash_prefix(spark, n)
    assert "ExistingRDD" not in _physical(chunked)
    assert chunked.orderBy("__mx").collect() == small


def test_literal_rows_cost_constant_gateway_calls(spark):
    """Python rows cross the gateway in a constant number of py4j commands:
    building 10 rows and 10,000 rows sends the same count (object release
    commands, which py4j's finalizer thread sends, are not counted)."""
    import threading

    from py4j import protocol

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    schema = "s string, n long, x double, b boolean"

    def calls_for(n: int) -> int:
        rows = [(f"r{i}\n,'\"", i - 2**62, i / 3, i % 2 == 0) for i in range(n)]
        sent = []

        def counting(command, *args, **kwargs):
            if threading.get_ident() == me and not command.startswith(
                protocol.MEMORY_COMMAND_NAME
            ):
                sent.append(command)
            return send(command, *args, **kwargs)

        client.send_command = counting
        try:
            local = local_table(spark, rows, schema)
        finally:
            del client.send_command
        assert local.count() == n
        assert local.orderBy("n").limit(2).collect() == [tuple(r) for r in rows[:2]]
        return len(sent)

    assert calls_for(10) == calls_for(10_000)
