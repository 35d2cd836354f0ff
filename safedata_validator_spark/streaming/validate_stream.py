"""Structured-Streaming validation: the row-rule battery over a transcript
stream, watermarked micro-batch verdicts, and a stateful per-conversation
sequence check.

The reference is strictly batch (SURVEY §2.9) — its chunked reads are partial
aggregation, which Spark gives natively. This module exists for the
incremental-ingest case: validate transcript turns AS THEY ARRIVE, emitting
violations continuously and per-window verdict counts. Row rules are
stateless (safe in append mode); ordering rules carry per-conversation state
across micro-batches via ``applyInPandasWithState``
(``stateful_sequence_violations``) — exactly the reference's ``current_row``
carried between chunks (field.py:722-746), lifted to keyed, checkpointed
stream state. The authoritative re-check over the full Iceberg table remains
the batch engine (resumable via the checkpoint manifest); the stream check is
the early-warning path.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from safedata_validator_spark.engine.validator import row_violations
from safedata_validator_spark.rules import registry
from safedata_validator_spark.rules.model import RuleSet


def stream_row_ruleset(ruleset: RuleSet) -> RuleSet:
    """Restrict a rule set to its streamable (row-level) rules."""
    rows = [r for r in ruleset.rules if r.rule_type in registry.ROW_COMPILERS]
    return RuleSet(
        name=f"{ruleset.name}.stream",
        rules=rows,
        key_cols=ruleset.key_cols,
        scope=ruleset.scope,
    )


def stream_violations(stream_df: DataFrame, ruleset: RuleSet) -> DataFrame:
    """Map the fused row-rule scan over a streaming DataFrame (stateless —
    safe in append mode)."""
    return row_violations(stream_df, ruleset, stream_row_ruleset(ruleset).rules)


#: Output schema of the stateful sequence check.
SEQ_VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.LongType()),
        T.StructField("rule_id", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("message", T.StringType()),
    ]
)

#: Per-conversation carried state: last seen turn index, event-time (µs),
#: role — the streaming analogue of the reference's cross-chunk current_row.
SEQ_STATE_SCHEMA = "last_idx long, last_ts_us long, last_role string"


def stateful_sequence_violations(
    stream_df: DataFrame,
    group: str = "conv_id",
    order: str = "turn_idx",
    ts_col: str = "ts",
    role_col: str = "role",
    transitions: list[list[str]] | None = None,
    allowed_start: list[str] | None = None,
    start: int = 1,
) -> DataFrame:
    """Cross-batch ordering checks on a stream: per-conversation sequential
    ``turn_idx``, monotone event time, and (optionally) the role-transition
    grammar — keyed state via ``applyInPandasWithState``, vectorized pandas
    inside (no per-row Python in the hot path; each group's batch is checked
    with shifted-array comparisons).

    Semantics: turns are validated in ``order``-sorted position WITHIN each
    micro-batch, stitched to the carried last turn of the conversation from
    previous batches — so a replayed, skipped or time-regressed turn is
    flagged in the batch where it arrives. State is checkpointed with the
    query; a restart resumes the sequence exactly where it left off.
    """
    trans_set = {f"{a}→{b}" for a, b in (transitions or [])}
    start_set = set(allowed_start or [])
    check_grammar = transitions is not None

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterable[pd.DataFrame]:
        conv = key[0]
        batch = pd.concat(list(pdfs), ignore_index=True)
        # rows with a null order index cannot be sequenced (they are already
        # row-rule violations); drop them from the state fold
        batch = batch[batch[order].notna()]
        if batch.empty:
            return
        batch = batch.sort_values(order, kind="mergesort", ignore_index=True)
        idx = batch[order].astype("int64")
        # null ts stays unknown (pd.NA) — a filled sentinel (epoch 0) would
        # flag a spurious regression on the next real timestamp. Nullable
        # Int64 (not float64+NaN: float64 ulp at ~1.7e18 ns is ~256 ns, so a
        # sub-microsecond regression could round to equality and be missed)
        # keeps the comparison exact-integer with null support.
        ts_parsed = pd.to_datetime(batch[ts_col])
        ts_us = pd.Series(
            ts_parsed.values.astype("int64"), index=batch.index, dtype="Int64"
        )
        ts_us[ts_parsed.isna()] = pd.NA
        role = batch[role_col].astype("string")

        if state.exists:
            last_idx, last_ts_us, last_role = state.get
            first_expected = last_idx + 1
        else:
            last_ts_us, last_role = None, None
            first_expected = start

        prev_idx = idx.shift(1)
        prev_idx.iloc[0] = first_expected - 1
        prev_ts = ts_us.shift(1)
        prev_role = role.shift(1)
        if state.exists:
            # carried values may be None (the conversation's last seen
            # role/ts was null) — they stay NaN/NA and the corresponding
            # edge/regression checks below skip the unknown side
            prev_ts.iloc[0] = pd.NA if last_ts_us is None else last_ts_us
            prev_role.iloc[0] = last_role if last_role is not None else pd.NA

        out = []
        gaps = idx != (prev_idx + 1)
        if gaps.any():
            g = batch[gaps]
            out.append(
                pd.DataFrame(
                    {
                        "conv_id": conv,
                        "turn_idx": g[order].astype("int64"),
                        "rule_id": "stream.sequential",
                        "value": g[order].astype(str),
                        "message": (
                            "expected " + (prev_idx[gaps] + 1).astype("int64").astype(str)
                            + " got " + g[order].astype(str)
                        ),
                    }
                )
            )
        # Int64 comparison yields Kleene 'boolean' (NA where either side is
        # NA); the notna guards zero those out — collapse to plain bool for
        # the positional mask
        regress = (
            (prev_ts.notna() & ts_us.notna() & (ts_us < prev_ts))
            .fillna(False)
            .astype(bool)
        )
        if regress.any():
            r = batch[regress]
            out.append(
                pd.DataFrame(
                    {
                        "conv_id": conv,
                        "turn_idx": r[order].astype("int64"),
                        "rule_id": "stream.monotone",
                        "value": r[ts_col].astype(str),
                        "message": "event time decreased",
                    }
                )
            )
        if check_grammar:
            edge = prev_role.fillna("") + "→" + role.fillna("")
            # the true opening is only the first row of a NEW conversation;
            # any other null prev role (carried None, or a null role in the
            # previous row) is UNKNOWN — neither an opening nor a checkable
            # edge, so its transition check is skipped
            is_opening = pd.Series(False, index=batch.index)
            if not state.exists:
                is_opening.iloc[0] = True
            unknown_prev = prev_role.isna() & ~is_opening
            bad = (~is_opening & ~unknown_prev & ~edge.isin(trans_set)) | (
                is_opening & (len(start_set) > 0) & ~role.isin(start_set)
            )
            if bad.any():
                b = batch[bad]
                out.append(
                    pd.DataFrame(
                        {
                            "conv_id": conv,
                            "turn_idx": b[order].astype("int64"),
                            "rule_id": "stream.grammar",
                            "value": role[bad].astype(str),
                            "message": "forbidden transition " + edge[bad].astype(str),
                        }
                    )
                )

        last_ts_out = None if pd.isna(ts_us.iloc[-1]) else int(ts_us.iloc[-1])
        last_role_out = None if pd.isna(role.iloc[-1]) else str(role.iloc[-1])
        state.update((int(idx.iloc[-1]), last_ts_out, last_role_out))
        if out:
            yield pd.concat(out, ignore_index=True)

    cols = [group, order, ts_col, role_col]
    return (
        stream_df.select(*cols)
        .groupBy(group)
        .applyInPandasWithState(
            fn,
            outputStructType=SEQ_VIOLATION_SCHEMA,
            stateStructType=SEQ_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def windowed_verdicts(
    stream_df: DataFrame,
    ruleset: RuleSet,
    ts_col: str = "ts",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-event-time-window violation counts by rule — the streaming
    analogue of the verdicts table (late data handled by the watermark).
    Each count is named ``n_failed__<rule_id>`` verbatim; the aggregate
    works under positional names, so no rule id is ever parsed as a
    column reference."""
    viol_struct_df = stream_df.withWatermark(ts_col, watermark)
    rows = stream_row_ruleset(ruleset).rules
    from safedata_validator_spark.rules.compilers import compile_row_rule

    exprs = [
        F.sum(F.when(compile_row_rule(rule).predicate, 1).otherwise(0)).alias(f"__n{i}")
        for i, rule in enumerate(rows)
    ]
    return (
        viol_struct_df.groupBy(F.window(F.col(ts_col), window))
        .agg(F.count(F.lit(1)).alias("n_rows"), *exprs)
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n_rows",
            *[F.col(f"__n{i}").alias("n_failed__" + r.rule_id) for i, r in enumerate(rows)],
        )
    )
