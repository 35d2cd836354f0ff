"""Property-based tests (hypothesis) — randomized transcript tables checked
against pure-Python oracles. The reference has no property tests (SURVEY §5
'Not present'); these close that gap for the ordering/uniqueness rules whose
correctness argument is algebraic ('{1..n} ⟺ min ∧ max ∧ count ∧ distinct',
blocked-window adjacency ≡ global order) and therefore exactly the kind of
claim random counterexample search is good at attacking.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from safedata_validator_spark.engine.validator import ValidationEngine
from safedata_validator_spark.rules.model import Rule, RuleSet

ENGINE = ValidationEngine()
T0 = datetime(2024, 6, 1, 12, 0, 0)
ROLES = ["system", "user", "assistant", "tool"]

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
    derandomize=True,  # CI determinism: same examples every run
)

# one conversation = list of (turn_idx, ts_minute_offset, role_index);
# turn indexes drawn from a small domain so gaps/dups/permutations are common
conv_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=7),
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=0, max_value=3),
    ),
    min_size=1,
    max_size=9,
)
table_strategy = st.lists(conv_strategy, min_size=1, max_size=10)


def _df(spark, table):
    rows = []
    for ci, conv in enumerate(table):
        for turn_idx, off, ri in conv:
            rows.append(
                (f"c{ci:03d}", turn_idx, ROLES[ri], "x", None, T0 + timedelta(minutes=off))
            )
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )


@given(table=table_strategy)
@SETTINGS
def test_sequential_matches_python_oracle(spark, table):
    """A conversation passes `sequential` iff its turn_idx multiset is exactly
    {1..n} — checked against a literal Python set comparison."""
    df = _df(spark, table)
    rs = RuleSet(
        name="p", key_cols=["conv_id", "turn_idx"],
        rules=[Rule("s", "sequential", column="turn_idx",
                    params={"group": "conv_id", "order": "turn_idx"})],
    )
    flagged = {
        r["entity"].split("=", 1)[1]
        for r in ENGINE.validate(df, rs, with_stats=False).violations.collect()
    }
    expect = {
        f"c{ci:03d}"
        for ci, conv in enumerate(table)
        if sorted(t for t, _, _ in conv) != list(range(1, len(conv) + 1))
    }
    assert flagged == expect


@given(table=table_strategy)
@SETTINGS
def test_unique_key_matches_python_oracle(spark, table):
    df = _df(spark, table)
    rs = RuleSet(
        name="p", key_cols=["conv_id", "turn_idx"],
        rules=[Rule("u", "unique_key", params={"keys": ["conv_id", "turn_idx"]})],
    )
    flagged = {
        (r["entity"].split("/")[0].split("=")[1], int(r["entity"].split("=")[-1]))
        for r in ENGINE.validate(df, rs, with_stats=False).violations.collect()
    }
    expect = set()
    for ci, conv in enumerate(table):
        seen: dict[int, int] = {}
        for t, _, _ in conv:
            seen[t] = seen.get(t, 0) + 1
        expect |= {(f"c{ci:03d}", t) for t, n in seen.items() if n > 1}
    assert flagged == expect


@given(table=table_strategy)
@SETTINGS
def test_monotone_matches_python_oracle_on_unique_orders(spark, table):
    """On dup-free conversations the blocked-window adjacency must flag
    exactly the turns whose ts decreases versus the turn_idx-predecessor —
    compared against a sorted-pairs Python oracle. (Dup keys are dropped
    first: among tied turn indexes adjacency order is unspecified.)"""
    dedup = [
        list({t: (t, off, ri) for t, off, ri in conv}.values())
        for conv in table
    ]
    df = _df(spark, dedup)
    rs = RuleSet(
        name="p", key_cols=["conv_id", "turn_idx"],
        rules=[Rule("m", "monotone", column="ts",
                    params={"group": "conv_id", "order": "turn_idx"})],
    )
    flagged = {
        (r["entity"].split("/")[0].split("=")[1], int(r["entity"].split("=")[-1]))
        for r in ENGINE.validate(df, rs, with_stats=False).violations.collect()
    }
    expect = set()
    for ci, conv in enumerate(dedup):
        ordered = sorted(conv)
        for (t1, off1, _), (t2, off2, _) in zip(ordered, ordered[1:]):
            if off2 < off1:
                expect.add((f"c{ci:03d}", t2))
    assert flagged == expect


@given(table=table_strategy)
@SETTINGS
def test_grammar_matches_python_oracle_on_unique_orders(spark, table):
    """Transition-grammar violations on dup-free conversations equal a
    Python oracle walking the turn_idx-sorted role sequence: the opening
    role (turn 1) must be in allowed_start; every PHYSICALLY adjacent pair
    must be a declared transition — including across an index gap (the
    grammar judges the sequence as observed; the gap itself is the
    sequential rule's report). A conversation whose first row is not turn 1
    has no opening-role check (its first row's predecessor is unknown)."""
    transitions = [["system", "user"], ["user", "assistant"],
                   ["assistant", "user"], ["assistant", "tool"],
                   ["tool", "assistant"]]
    tset = {(a, b) for a, b in transitions}
    dedup = [
        list({t: (t, off, ri) for t, off, ri in conv}.values())
        for conv in table
    ]
    df = _df(spark, dedup)
    rs = RuleSet(
        name="p", key_cols=["conv_id", "turn_idx"],
        rules=[Rule("g", "transition_grammar", column="role",
                    params={"group": "conv_id", "order": "turn_idx",
                            "transitions": transitions,
                            "allowed_start": ["system"]})],
    )
    flagged = {
        (r["entity"].split("/")[0].split("=")[1], int(r["entity"].split("=")[-1]))
        for r in ENGINE.validate(df, rs, with_stats=False).violations.collect()
    }
    expect = set()
    for ci, conv in enumerate(dedup):
        ordered = sorted(conv)
        for j, (t, _, ri) in enumerate(ordered):
            role = ROLES[ri]
            if t == 1:
                if role != "system":
                    expect.add((f"c{ci:03d}", t))
            elif j > 0:
                prev_role = ROLES[ordered[j - 1][2]]
                if (prev_role, role) not in tset:
                    expect.add((f"c{ci:03d}", t))
            # j == 0 with t > 1: unknown predecessor, no grammar check
    assert flagged == expect


@given(table=table_strategy, block_size=st.sampled_from([1, 2, 5]))
@SETTINGS
def test_blocked_adjacency_equals_global_window(spark, table, block_size):
    """The two-phase block+boundary adjacency is EQUAL to a naive global
    window at any block size — on randomized (dup-free) inputs, including
    single-row conversations and boundary-straddling blocks."""
    from pyspark.sql import Window

    from safedata_validator_spark.engine.ordering import adjacent_pairs

    dedup = [
        list({t: (t, off, ri) for t, off, ri in conv}.values())
        for conv in table
    ]
    df = _df(spark, dedup)
    got = (
        adjacent_pairs(df, "conv_id", "turn_idx", ["ts"], block_size=block_size)
        .select("conv_id", "turn_idx", "__prev_turn_idx", "__prev_ts")
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    want = (
        df.select(
            "conv_id", "turn_idx",
            F.lag("turn_idx").over(w).alias("__prev_turn_idx"),
            F.lag("ts").over(w).alias("__prev_ts"),
        )
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    assert got == want
