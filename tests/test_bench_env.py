"""Pins for the bench harness's pure parts (bench.py): level/pair parsing,
same-round scaling efficiency and window stamping, without Spark; and one
Spark test of how the input cache treats a user-given table."""

from __future__ import annotations

import importlib
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]


@pytest.fixture(scope="module")
def bench():
    sys.path.insert(0, str(REPO))
    try:
        return importlib.import_module("bench")
    finally:
        sys.path.remove(str(REPO))


def test_empty_pairs_parse(bench):
    assert bench.parse_pairs("", (4,)) == ()
    assert bench.parse_levels("") == ()
    # partial values: trailing or doubled commas and a half pair
    assert bench.parse_levels("1,4,") == (1, 4)
    assert bench.parse_pairs("1-4,,2-", (1, 2, 4)) == ((1, 4),)


def test_pairs_filtered_to_levels(bench):
    # pairs referencing absent levels are dropped, not an error
    levels = bench.parse_levels("1,4")
    assert bench.parse_pairs("1-4,2-8", levels) == ((1, 4),)
    assert bench.parse_pairs("8-32", levels) == ()


def test_same_round_efficiency_and_best_runs(bench):
    levels, pairs = (1, 4), ((1, 4),)
    # round 0 scores (8/2.5)/4 = 0.8, round 1 (6/2)/4 = 0.75. Pairing each
    # level's minimum across rounds would mix windows and also give 0.75.
    rounds = [
        [{"cores": 1, "sec": 8.0}, {"cores": 4, "sec": 2.5}],
        [{"cores": 1, "sec": 6.0}, {"cores": 4, "sec": 2.0}],
    ]
    effs = bench.same_round_efficiency(rounds, levels, pairs, "sec")
    assert effs == {(1, 4): pytest.approx(0.8)}
    assert bench.best_runs(rounds, levels, "sec") == {1: rounds[1][0], 4: rounds[1][1]}
    # job families key each record by job
    jobs = [[{"cores": 1, "minhash_sec": 9.0}, {"cores": 4, "minhash_sec": 3.0}]]
    assert bench.same_round_efficiency(jobs, levels, pairs, "minhash_sec") == {
        (1, 4): pytest.approx(0.75)
    }


def test_window_stamped_contended_above_drift_ratio(bench):
    ratio = bench.CONTENTION_RATIO
    probe = {"procs": 4, "spin_sec": 1.0, "stream_sec": 2.0}
    calm = {"procs": 4, "spin_sec": 1.0, "stream_sec": 2.0 * ratio}
    noisy = {"procs": 4, "spin_sec": 1.0, "stream_sec": 2.0 * ratio + 0.01}
    assert bench.window_stamp(bench.probe_drift(probe, calm)) == "clean"
    assert bench.window_stamp(bench.probe_drift(probe, noisy)) == "contended"
    # drift is symmetric: a probe that got faster drifted just as much
    assert bench.probe_drift(noisy, probe) == bench.probe_drift(probe, noisy)
    assert bench.window_stamp(bench.probe_drift(probe, probe)) == "clean"


def test_user_transcripts_table_is_read_as_is(bench, spark, tmp_path, monkeypatch):
    """$SPARK_GRAFT_TRANSCRIPTS names the user's table: it is returned
    unread and unwritten, whatever its row count."""
    path = str(tmp_path / "user_table")
    spark.range(10).write.parquet(path)
    monkeypatch.setenv("SPARK_GRAFT_TRANSCRIPTS", path)
    assert bench.transcripts_input(spark, 2000) == path
    table = spark.read.parquet(path)
    assert table.count() == 10 and table.columns == ["id"]
