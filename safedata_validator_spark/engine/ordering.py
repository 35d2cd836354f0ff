"""Ordering-sensitive rules: sequential numbering, monotone timestamps,
role-transition grammar — with hot-key (hot-conversation) skew defused.

Reference analogue: cross-chunk sequential row numbering
(field.py:722-746 — ``current_row`` carried between chunks; missing /
non-integer / non-sequential each an error) and the first-chunk format
anchoring (field.py:1974-1978). The transcript north rule adds monotone
``ts`` per ``conv_id`` and a role-sequence grammar.

Scale design (the part a naive ``Window.partitionBy(conv_id)`` gets wrong):
a single hot conversation with 10^8 turns would pin one task for the whole
window. Every rule here therefore avoids un-bounded per-key windows:

* ``sequential`` needs NO window at all: ``turn_idx`` per conversation is
  exactly ``1..n`` iff ``min=1 AND max=n AND count=n AND count_distinct=n``.
  That is a pure aggregation — map-side partial aggregation bounds shuffle
  volume by the number of conversations, not turns.
* ``monotone`` / ``transition_grammar`` need adjacency. Adjacency is computed
  two-phase: rows are bucketed into fixed-size blocks of ``turn_idx``
  (``block = floor(turn_idx / block_size)``), windows run inside
  ``(conv_id, block)`` — bounded partitions regardless of conversation size —
  and block boundaries are stitched with a per-block summary table
  (``min_by``/``max_by``) that is smaller than the data by ``block_size``×.
  This is the salting strategy BASELINE.json's north rule mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from safedata_validator_spark.engine.common import as_violations, fused_violations, local_table
from safedata_validator_spark.rules.model import Rule

DEFAULT_BLOCK_SIZE = 4096


def adjacent_pairs(
    df: DataFrame,
    group: str,
    order: str,
    values: list[str],
    block_size: int = DEFAULT_BLOCK_SIZE,
    carry: list[str] | None = None,
) -> DataFrame:
    """Attach ``__prev_<v>`` columns = the value of ``v`` on the previous row
    (ordered by ``order`` within ``group``), without ever building a window
    over a whole group.

    Phase 1: ``lag`` inside ``(group, block)`` — partition size ≤ block_size.
    Phase 2: block-head rows (``lag(order) IS NULL``, exactly one per block)
    are joined to a per-block summary carrying the previous block's last
    values; the summary window partitions by ``group`` but holds only
    ``n/block_size`` rows, so a hot conversation contributes thousands of
    summary rows, not millions of data rows, to a single task.

    ``__prev_<order>`` is NULL exactly on the first row of each group.
    """
    carry = carry or []
    block = F.floor(F.col(order).cast("long") / F.lit(block_size)).alias("__block")
    base = df.select(group, order, *values, *carry, block)

    w_in = Window.partitionBy(group, "__block").orderBy(F.col(order))
    lagged = base.select(
        "*",
        F.lag(F.col(order)).over(w_in).alias(f"__lag_{order}"),
        *[F.lag(F.col(v)).over(w_in).alias(f"__lag_{v}") for v in values],
    )

    summ = base.groupBy(group, "__block").agg(
        F.max(F.col(order)).alias("__last_ord"),
        *[F.max_by(F.col(v), F.col(order)).alias(f"__lastv_{v}") for v in values],
    )
    w_blk = Window.partitionBy(group).orderBy("__block")
    bounds = summ.select(
        group,
        "__block",
        F.lag("__last_ord").over(w_blk).alias("__pb_ord"),
        *[F.lag(f"__lastv_{v}").over(w_blk).alias(f"__pb_{v}") for v in values],
    )

    # ONE consumer of the big window: every row left-joins its block's
    # boundary summary on (group, __block) — the window's own partitioning
    # and sort prefix satisfy the join's requirements, so no new exchange or
    # sort of the data side — and block-head rows (in-block lag IS NULL)
    # coalesce to the previous block's last values. (The previous
    # heads/body-union formulation consumed the window twice, which
    # materialized the whole lag pass — and its fact scan — twice.)
    is_head = F.col(f"__lag_{order}").isNull()
    stitched = lagged.join(bounds, on=[group, "__block"], how="left").select(
        group,
        order,
        *values,
        *carry,
        "__block",
        F.when(is_head, F.col("__pb_ord")).otherwise(F.col(f"__lag_{order}")).alias(f"__prev_{order}"),
        *[
            F.when(is_head, F.col(f"__pb_{v}")).otherwise(F.col(f"__lag_{v}")).alias(f"__prev_{v}")
            for v in values
        ],
    )
    return stitched


def key_counts(df: DataFrame, group: str, order: str, scope_expr: str) -> DataFrame:
    """Level-1 aggregation shared by the sequential and unique_key rules:
    occurrence count per (group, order, scope) key. One shuffle whose volume
    is bounded by distinct keys (map-side combine collapses duplicates before
    the exchange). Each consumer of the counts plans this aggregation again;
    Spark may reuse the identical exchange at run time, but that is not
    guaranteed (ROADMAP direction 2)."""
    scope = F.expr(scope_expr)
    return df.groupBy(F.col(group), F.col(order), scope.alias("__scope")).agg(
        F.count(F.lit(1)).alias("__dup_n")
    )


#: 31-bit masks keep sums of per-turn hashes inside a SQL long for any
#: conversation shorter than 2^32 turns (ANSI mode rejects long overflow).
_HASH_MASK = 0x7FFFFFFF
_HASH_SEED2 = 0x9E3779B9

#: Ceiling for the hash-sum fast path: the expected-prefix table is built
#: with a single-partition running sum over spark.range(1, max_turn+1),
#: safe (spill-backed) up to ~16M rows. Conversations longer than this give
#: up the fast path and use the exact key-level aggregation.
SEQ_HASH_CAP = 16_777_216


def _order_hashes(order: str) -> tuple:
    k = F.col(order).cast("long")
    h1 = F.when(k.isNotNull(), F.xxhash64(k).bitwiseAND(F.lit(_HASH_MASK))).otherwise(0)
    h2 = F.when(
        k.isNotNull(), F.xxhash64(k, F.lit(_HASH_SEED2)).bitwiseAND(F.lit(_HASH_MASK))
    ).otherwise(0)
    return h1, h2


def conv_level_stats(df: DataFrame, group: str, order: str, scope_expr: str) -> DataFrame:
    """ONE aggregation keyed (group, scope) — #groups output rows, not #keys:
    count / non-null count / min / max plus two independent masked hash sums
    of the order values. 5-6× cheaper than the key-level aggregation at 40M
    rows (the hash table holds conversations, not turns)."""
    h1, h2 = _order_hashes(order)
    # try_sum: the 31-bit masks bound per-row hashes, but a degenerate group
    # with > 2^32 duplicate rows could still overflow the long sum — ANSI
    # mode would abort the whole run. try_sum yields NULL instead, which
    # fails the eqNullSafe hash check → the group is flagged and the exact
    # key-level drilldown (which cannot overflow) reports it.
    return df.groupBy(F.col(group), F.expr(scope_expr).cast("string").alias("__scope")).agg(
        F.count(F.lit(1)).alias("__n"),
        F.count(F.col(order)).alias("__nn"),
        F.min(order).alias("__mn"),
        F.max(order).alias("__mx"),
        F.try_sum(h1).alias("__hs1"),
        F.try_sum(h2).alias("__hs2"),
    )


#: Chunk width for the two-phase parallel prefix scan below.
_PREFIX_CHUNK = 262_144


def hash_prefix(spark, max_n: int) -> DataFrame:
    """Expected-hash-sum table: (__mx, __exp1, __exp2) where __exp =
    Σ_{k=1..__mx} maskedhash(k). Built once per run over spark.range.

    Two-phase parallel scan (the classic distributed prefix sum) instead of
    one global ``Window.orderBy`` — a global running sum is a SINGLE
    partition, i.e. up to SEQ_HASH_CAP (16M) rows through one core: measured
    multi-second serial time that caps low-core→high-core scaling. Phase 1
    computes per-chunk totals (parallel, tiny output ≤ cap/chunk = 64 rows
    → driver); phase 2 adds the chunk's base offset to an intra-chunk
    running sum windowed BY chunk (parallel, bounded partitions)."""
    h1, h2 = _order_hashes("id")
    chunk = ((F.col("id") - 1) / _PREFIX_CHUNK).cast("long")
    if max_n <= _PREFIX_CHUNK:
        r = spark.range(1, max_n + 1)
        # one partition is the POINT of the small path (≤ _PREFIX_CHUNK
        # rows); WindowExec's blanket no-partition warning for it is
        # silenced per-logger in session.build_session
        w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
        return r.select(
            F.col("id").alias("__mx"),
            F.sum(h1).over(w).alias("__exp1"),
            F.sum(h2).over(w).alias("__exp2"),
        )
    r = spark.range(1, max_n + 1, 1, spark.sparkContext.defaultParallelism)
    totals = (
        r.groupBy(chunk.alias("__chunk"))
        .agg(F.sum(h1).alias("__t1"), F.sum(h2).alias("__t2"))
        .orderBy("__chunk")
        .collect()
    )
    base1 = base2 = 0
    offsets = []
    for row in totals:
        offsets.append((row["__chunk"], base1, base2))
        base1 += row["__t1"]
        base2 += row["__t2"]
    off = local_table(spark, offsets, "__chunk long, __b1 long, __b2 long")
    w = Window.partitionBy("__chunk").orderBy("id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    intra = r.withColumn("__chunk", chunk).select(
        F.col("id").alias("__mx"),
        "__chunk",
        F.sum(h1).over(w).alias("__s1"),
        F.sum(h2).over(w).alias("__s2"),
    )
    return intra.join(F.broadcast(off), "__chunk").select(
        "__mx",
        (F.col("__s1") + F.col("__b1")).alias("__exp1"),
        (F.col("__s2") + F.col("__b2")).alias("__exp2"),
    )


def flagged_sequence_groups(
    df: DataFrame, group: str, order: str, scope_expr: str, max_order: int
) -> DataFrame:
    """Groups whose order multiset is NOT exactly {1..n} — decided from the
    conversation-level aggregate alone: structural checks (count = non-null
    count, min = 1, max = n) catch everything except a duplicate+gap pair
    inside the span, and that changes both independent hash sums unless both
    31-bit sums collide (~2^-62 per group; the drilldown that produces the
    actual violation rows recomputes exactly, so a collision could only
    suppress — never fabricate — a violation)."""
    cs = conv_level_stats(df, group, order, scope_expr)
    prefix = hash_prefix(df.sparkSession, max_order)
    joined = cs.join(prefix, "__mx", "left")
    ok = (
        (F.col("__n") == F.col("__nn"))
        & F.col("__mn").eqNullSafe(F.lit(1))
        & F.col("__mx").eqNullSafe(F.col("__n"))
        & F.col("__hs1").eqNullSafe(F.col("__exp1"))
        & F.col("__hs2").eqNullSafe(F.col("__exp2"))
    )
    return joined.where(~ok).select(group).distinct()


def _bad_sequences(counts: DataFrame, rule: Rule, group: str, order: str) -> DataFrame:
    """(group, __scope) rows whose ``order`` values are not exactly
    start..start+n-1, with their diagnostic counts. Pure aggregation over
    the key counts, NO window: {1..n} ⟺ min=start ∧ max=start+n-1 ∧
    count=n ∧ distinct=n, where the distinct count is free (it is the
    level-1 row count)."""
    start = int(rule.params.get("start", 1))
    agg = counts.groupBy(group, "__scope").agg(
        F.sum("__dup_n").alias("__n"),
        F.sum(F.when(F.col(order).isNotNull(), F.col("__dup_n")).otherwise(0)).alias("__n_nonnull"),
        F.min(order).alias("__min"),
        F.max(order).alias("__max"),
        F.count(F.col(order)).alias("__nd"),
    )
    ok = (
        (F.col("__n") == F.col("__n_nonnull"))
        & (F.col("__min") == start)
        & (F.col("__max") == F.col("__n") + (start - 1))
        & (F.col("__nd") == F.col("__n"))
    )
    return agg.where(~ok)


def sequential_from_counts(counts: DataFrame, rule: Rule, group: str, order: str) -> DataFrame:
    """``order`` per ``group`` must be exactly start..start+n-1 (params:
    group, order, start — default 1; see ``_bad_sequences``). One violation
    row per bad group with diagnostic counts (the reference reports per-row
    errors but counts at sheet level, field.py:779-790)."""
    start = int(rule.params.get("start", 1))
    bad = _bad_sequences(counts, rule, group, order)
    msg = F.concat(
        F.lit(f"{order} not consecutive from {start}: n="),
        F.col("__n").cast("string"),
        F.lit(" nulls="),
        (F.col("__n") - F.col("__n_nonnull")).cast("string"),
        F.lit(" min="),
        F.coalesce(F.col("__min").cast("string"), F.lit("∅")),
        F.lit(" max="),
        F.coalesce(F.col("__max").cast("string"), F.lit("∅")),
        F.lit(" distinct="),
        F.col("__nd").cast("string"),
    )
    entity = F.concat(
        F.lit(f"{group}="), F.coalesce(F.col(group).cast("string"), F.lit("∅"))
    )
    return as_violations(bad, rule, F.col("__scope"), entity, F.col("__n"), msg, column=order)


def sequential_examples(
    df: DataFrame, counts: DataFrame, rule: Rule, ruleset, group: str, order: str
) -> DataFrame:
    """Row-level drilldown for bad sequences (reference O3: report the first
    few offending rows, keep full counts — field.py:2008-2011). Scale shape:
    the bad-group set from the aggregate is tiny, so the fact table is
    semi-joined down to just those groups BEFORE any window runs; the window
    then orders only violating conversations. ``max_examples`` bounds output."""
    start = int(rule.params.get("start", 1))
    max_examples = int(rule.params.get("max_examples", 100))
    bad_groups = _bad_sequences(counts, rule, group, order).select(group)
    sub = df.join(F.broadcast(bad_groups), group, "left_semi")
    w = Window.partitionBy(group).orderBy(F.col(order).asc_nulls_last())
    ranked = sub.select(
        group,
        F.col(order),
        F.expr(ruleset.scope).cast("string").alias("__scope"),
        (F.row_number().over(w) + (start - 1)).alias("__expected"),
    )
    bad_rows = ranked.where(
        F.col(order).isNull() | (F.col(order) != F.col("__expected"))
    ).limit(max_examples)
    entity = F.concat(
        F.lit(f"{group}="), F.col(group).cast("string"),
        F.lit(f"/{order}="), F.coalesce(F.col(order).cast("string"), F.lit("∅")),
    )
    msg = F.concat(
        F.lit(f"{order}="),
        F.coalesce(F.col(order).cast("string"), F.lit("∅")),
        F.lit(" where "),
        F.col("__expected").cast("string"),
        F.lit(" was expected"),
    )
    example_rule = Rule(
        rule_id=rule.rule_id + ".example",
        rule_type=rule.rule_type,
        column=rule.column,
        severity=rule.severity,
        params=rule.params,
    )
    return as_violations(bad_rows, example_rule, F.col("__scope"), entity, F.col(order), msg, column=order)


def rule_pair_key(rule: Rule, ruleset) -> tuple:
    """Fusion key: adjacency rules sharing (group, order, block_size) are
    evaluated from ONE shared pairs plan (the validator groups rules by
    this key; identical subplans collapse via ReuseExchange).

    Adjacency is the blocked-window method (``adjacent_pairs``): ONE
    full-data shuffle (vs two for a self-join on ``order - 1``, measured
    1.3-2.1× slower at 40M turns), and it is the bounded-partition salting
    strategy the north rule mandates for hot conversations. A self-join
    cannot see transitions between duplicate-key rows, so it is not
    offered: ``registry.lint_ruleset`` rejects a rule that still carries
    the retired ``adjacency`` parameter."""
    return (
        rule.params.get("group", ruleset.key_cols[0]),
        rule.params.get("order", "turn_idx"),
        int(rule.params.get("block_size", DEFAULT_BLOCK_SIZE)),
    )


def build_pairs(
    df: DataFrame,
    ruleset,
    group: str,
    order: str,
    value_cols: list[str],
    block_size: int,
) -> DataFrame:
    scope_col = F.expr(ruleset.scope).alias("__scope")
    base = df.select(group, order, *value_cols, scope_col)
    return adjacent_pairs(base, group, order, value_cols, block_size, carry=["__scope"])


def _monotone_check(rule: Rule, group: str, order: str):
    """(violation predicate, value, message) columns over a pairs stream:
    the column must be non-decreasing (or, with direction 'increasing',
    strictly increasing) in ``order`` within ``group``. params: group,
    order, direction, block_size."""
    col = rule.column
    strict = rule.params.get("direction", "non_decreasing") == "increasing"
    prev = F.col(f"__prev_{col}")
    cur = F.col(col)
    viol = prev.isNotNull() & cur.isNotNull() & ((cur <= prev) if strict else (cur < prev))
    msg = F.concat(
        F.lit(f"{col} decreased: "), prev.cast("string"), F.lit(" → "), cur.cast("string")
    )
    return viol, cur, msg


def _grammar_check(rule: Rule, group: str, order: str):
    """(violation predicate, value, message) columns over a pairs stream:
    each adjacent (prev, cur) pair within a conversation must be in the
    declared transition set; the first turn's role must be in
    ``allowed_start``. params: group, order, transitions: list[[from,to]],
    allowed_start: list[str], start (first index, default 1), block_size.
    Compiled to an ``isin`` over 'from→to' literals (transition alphabets
    are tiny), staying fully inside codegen — no join for the membership
    test.

    Semantics (blocked-window adjacency): the grammar judges the
    sequence AS OBSERVED — each row's predecessor is the physically previous
    row in ``order``-sorted position, so an illegal edge across an index gap
    (or between duplicate-index rows) IS flagged, exactly what a sequential
    reader of the rows sees; the gap/duplicate itself is reported by the
    sequential/unique rules. A group whose first row is not the opening
    index gets no opening-role check (its true predecessor is unknown)."""
    col = rule.column
    transitions = [f"{a}→{b}" for a, b in rule.params["transitions"]]
    allowed_start = list(rule.params.get("allowed_start", []))
    start = int(rule.params.get("start", 1))
    prev = F.col(f"__prev_{col}")
    cur = F.col(col)
    edge = F.concat_ws("→", prev, cur)
    is_start = F.col(order) == start
    # a missing predecessor that is NOT the opening turn is a sequence gap —
    # owned (and reported) by the sequential rule, not double-reported here
    viol = (
        F.when(is_start, ~cur.isin(allowed_start) if allowed_start else F.lit(False))
        .when(F.col(f"__prev_{order}").isNull(), F.lit(False))
        .otherwise(~edge.isin(transitions))
    )
    msg = F.when(is_start, F.concat(F.lit("bad opening role: "), F.coalesce(cur, F.lit("∅")))).otherwise(
        F.concat(F.lit("forbidden transition: "), F.coalesce(prev, F.lit("∅")), F.lit(" → "), F.coalesce(cur, F.lit("∅")))
    )
    return F.coalesce(viol, F.lit(True)), cur, msg


_ADJACENCY_CHECKS = {"monotone": _monotone_check, "transition_grammar": _grammar_check}


def fused_pairs_violations(
    pairs: DataFrame, rules: list[Rule], group: str, order: str
) -> DataFrame:
    """ALL adjacency rules sharing one pairs plan evaluated in ONE projection
    (``common.fused_violations``, the fusion shape of the row-rule scan).
    With a single consumer the pairs plan executes exactly once per run;
    two separate consumers would defeat exchange reuse the moment column
    pruning differentiates their subplans."""
    checks = [(r, *_ADJACENCY_CHECKS[r.rule_type](r, group, order)) for r in rules]
    entity = F.concat(
        F.lit(f"{group}="), F.coalesce(F.col(group).cast("string"), F.lit("∅")),
        F.lit(f"/{order}="), F.coalesce(F.col(order).cast("string"), F.lit("∅")),
    )
    return fused_violations(pairs, F.col("__scope"), entity, checks)

