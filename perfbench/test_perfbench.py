"""Tests of the benchmark itself: every workload once at a tiny size with its
output checks, failure accounting, and the pure helpers.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import random

import pytest

from perfbench import gen, trace
from perfbench.run import Loop
from perfbench.workloads import DedupClusters, FullClean, IncrementalDirty, banding_misses_bound

TINY = {"full_clean": 4_000, "incremental_dirty": 4_000, "dedup_clusters": 600}


@pytest.fixture(scope="module")
def spark():
    from safedata_validator_spark.session import build_session

    s = build_session(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s


@pytest.fixture(scope="module")
def cache(tmp_path_factory):
    return gen.InputCache(str(tmp_path_factory.mktemp("inputs")))


def ready(workload, spark, cache, seed=7):
    workload.prepare(cache, seed)
    workload.load(spark)
    return Loop(workload, spark)


@pytest.mark.parametrize("cls", [FullClean, IncrementalDirty, DedupClusters])
def test_workload_runs_and_passes_its_checks(spark, cache, cls):
    loop = ready(cls(TINY[cls.name]), spark, cache)
    dt, ok = loop.once()
    assert ok and dt > 0
    assert (loop.attempted, loop.failed) == (1, 0)


def test_traced_repetition_attributes_jobs(spark, cache):
    loop = ready(IncrementalDirty(TINY["incremental_dirty"]), spark, cache)
    tracer = trace.Tracer()
    restore = trace.instrument(tracer)
    try:
        _, ok = loop.once(tracer)
    finally:
        restore()
    assert ok
    names = {s["name"] for s in tracer.spans}
    assert {"repetition", "cli.main", "validator.validate", "checkpoint.pending",
            "checkpoint.record", "tables.load", "tables.write_violations", "rules.lint"} <= names
    assert all(s["end"] >= s["start"] for s in tracer.spans)


def test_wrong_output_counts_as_failed_repetition(spark, cache):
    class WrongPairs(DedupClusters):
        """Reports a pair of unrelated documents as near-duplicates."""

        def run(self, spark, tracer=trace.NO_TRACE):
            pairs, clusters = super().run(spark, tracer)
            bogus = spark.createDataFrame([(0, 2, 0.9)], pairs.schema)
            self._real = pairs
            return pairs.unionByName(bogus), clusters

        def release(self, spark, out):
            super().release(spark, (self._real, out[1]))

    loop = ready(WrongPairs(TINY["dedup_clusters"]), spark, cache)
    _, ok = loop.once()
    assert not ok
    assert (loop.attempted, loop.failed) == (1, 1)


def test_raising_repetition_counts_as_failed(spark, cache):
    class Raises(FullClean):
        def run(self, spark, tracer=trace.NO_TRACE):
            raise RuntimeError("engine error")

    loop = ready(Raises(TINY["full_clean"]), spark, cache)
    dt, ok = loop.once()
    assert (dt, ok) == (None, False)
    assert (loop.attempted, loop.failed) == (1, 1)


def test_cache_rejects_a_modified_file(tmp_path):
    cache = gen.InputCache(str(tmp_path))
    build = lambda: ({"documents": gen.documents(100, 1)}, {})  # noqa: E731
    path, _ = cache.get("docs", [100, 1], build)
    part = tmp_path / path / "documents" / "part-00000.parquet"
    part.write_bytes(part.read_bytes()[:-8] + b"\0" * 8)
    assert cache._verified(path) is None
    path2, _ = cache.get("docs", [100, 1], build)
    assert path2 == path and cache._verified(path) is not None


def test_generators_are_seeded():
    a = gen.transcripts(gen.conversation_plan(2_000, 3, True))
    assert a.equals(gen.transcripts(gen.conversation_plan(2_000, 3, True)))
    assert not a.equals(gen.transcripts(gen.conversation_plan(2_000, 4, True)))
    assert gen.documents(50, 3).equals(gen.documents(50, 3))


def test_incremental_layout():
    plan = gen.conversation_plan(100_000, 5, True)
    table = gen.transcripts(plan)
    days = {d.isoformat()[:10] for d in table.column("ts").to_pylist()}
    assert len(days) == gen.DAYS
    share = gen.pending_rows(plan) / table.num_rows
    assert 0.08 < share < 0.12


def test_expected_violations_from_plan():
    plan = {"convs": [
        [1, 27, 0, "gap", 40],
        [2, 27, 0, "dup", 46],
        [3, 28, 0, "role", 6],
        [4, 29, 0, "role", 10],
        [5, 29, 0, "tool_unknown", 8],
        [6, 29, 0, "tool_unknown", 12],
        [7, 3, 0, "text_null", 1],  # not a pending day
    ]}
    got = gen.expected_violations(plan, gen.pending_days())
    assert got == {
        "turn_idx.sequential": 2,
        "turn_idx.sequential.example": (51 - 40) + (51 - 46),
        "key.unique": 1,
        "role.grammar": 2 * 2 + 1,
        "role.in_levels": 2,
        "role.levels_audit": 2,
        "tool.ref_integrity": 1,
    }


def test_plant_turns_land_on_their_roles():
    rng = random.Random(0)
    for _ in range(200):
        assert (gen.plant_turn("dup", 50, rng) - 2) % 4 == 0
        t = gen.plant_turn("role", 50, rng)
        assert (t - 2) % 4 == 0 and t < 50
        assert gen.plant_turn("tool_alias", 50, rng) % 4 == 0
        assert gen.plant_turn("gap", 50, rng) >= 2


def test_banding_misses_bound():
    # miss rate (1 - 0.8^4)^16 = 2.2e-4: P(more than 5 of 400 missed) < 1e-9
    assert banding_misses_bound(400, 0.8, 64, 16) == 5
    assert banding_misses_bound(400, 0.3, 64, 16) > 300


def test_jobs_go_to_innermost_open_span():
    spans = [
        {"name": "repetition", "start": 0.0, "end": 10.0, "parent": None, "rep": 0},
        {"name": "validator.validate", "start": 1.0, "end": 4.0, "parent": 0, "rep": 0},
        {"name": "ordering.build", "start": 2.0, "end": 3.0, "parent": 1, "rep": 0},
        {"name": "validator.violations", "start": 5.0, "end": 9.0, "parent": 0, "rep": 0},
    ]
    log = {
        "jobs": {0: {"submitted": 2.5}, 1: {"submitted": 3.5}, 2: {"submitted": 6.0}, 3: {"submitted": 11.0}},
        "stage_job": {0: 0, 1: 1, 2: 2, 3: 3},
        "stage_wall": {0: 0.5, 1: 0.5, 2: 3.0, 3: 1.0},
        "tasks": [
            {"stage": s, "run_s": r, "gc_s": 0.0, "records_in": n, "shuffle_bytes": 0,
             "spill_bytes": 0, "bytes_out": 0}
            for s, r, n in [(0, 1.0, 100), (1, 1.0, 100), (2, 1.0, 50), (2, 3.0, 50), (2, 1.0, 0), (3, 9.0, 999)]
        ],
    }
    m = trace.rep_metrics(spans, 0, log, cores=2, table_rows=100, pending_rows=100)
    assert m["validator.jobs"] == 3  # job 3 was submitted after the repetition
    assert m["validator.eager_jobs"] == 2
    assert m["validator.fact_reads"] == 3.0
    assert m["validator.max_task_skew"] == 3.0
    assert m["validator.busy_ratio"] == pytest.approx(7.0 / (10.0 * 2))
    assert m["ordering.build_s"] == 1.0 and m["validator.return_s"] == 3.0
