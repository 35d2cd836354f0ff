"""ValidationEngine — orchestrates rule compilation and evaluation.

``ValidationEngine.validate()`` is the single entry point, and each rule
family has exactly one evaluation path inside it. Violations alone come from
``validate(df, ruleset, dims, with_stats=False).violations``.

Execution shape (cf. SURVEY §3.1 "Spark lifecycle equivalent"):

1. driver lints the rule set (fail fast, analogue of descriptor validation);
2. two small shared aggregates run eagerly and come back as driver-local
   tables: the per-scope aggregate (profile sketches, extent min/max,
   verdict row counts, sequential order maxima) and the stacked census
   counts (``referential.census_counts``) that six plan families slice;
3. ALL row-level rules fuse into ONE projection over the fact scan
   (``row_violations``, which the streaming path shares) — each compiled
   predicate contributes a conditional violation struct and the non-null
   structs are exploded out; Catalyst sees a single pass, columns not
   referenced by any rule are pruned from the parquet/Iceberg read;
4. plan-level rules derive their violations from the shared aggregates or
   from aggregation/join shapes chosen for 10^12-row scale (see their
   modules); ``unique_key`` on keys no sequential rule shares is the only
   plan family with its own count;
5. violations union into one DataFrame; verdicts are a groupBy over it,
   zero-filled against the declared rule list (a rule with no violations
   must still report passed=true — the reference's pass verdict is exactly
   "zero ERROR count", field.py:324-342).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field as dc_field
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from safedata_validator_spark.engine import checkpoint as ckpt
from safedata_validator_spark.engine.common import (
    empty_violations,
    entity_col,
    fused_violations,
    local_table,
    localize,
    sql_ident,
)
from safedata_validator_spark.rules.compilers import compile_row_rule
from safedata_validator_spark.rules.model import ERROR, Rule, RuleSet
from safedata_validator_spark.rules import registry

#: Shared aggregates larger than this many rows stay distributed (persisted)
#: instead of being collected to the driver (``common.localize``)...
LOCALIZE_ROWS = 500_000
#: ...and a byte ceiling alongside it: the scope aggregate carries
#: per-column sketch columns (quantile arrays, counters), so a row cap alone
#: under-protects the driver for wide schemas.
LOCALIZE_BYTES = 256 * 1024 * 1024


@dataclass
class RunResult:
    """Outputs of one validation run. ``violations``/``verdicts`` are the two
    result tables (SURVEY §1.1 'Validation report'); ``stats`` is the
    single-scan column profile. ``cached`` holds the run's shared per-scope
    aggregates (tiny: one row per scope / distinct census value) —
    persisted so violations, verdicts and stats all derive from ONE fact
    pass; call ``unpersist()`` when done with the result DataFrames."""

    violations: DataFrame
    verdicts: DataFrame
    stats: DataFrame | None
    ruleset_hash: str
    cached: list[DataFrame] = dc_field(default_factory=list)

    def passed(self) -> bool:
        """Run-level verdict: zero ERROR-severity failures
        (reference field.py:324-342)."""
        return (
            self.violations.where(F.col("severity") == ERROR).limit(1).count() == 0
        )

    def persist(self) -> RunResult:
        """Persist ``violations`` then ``verdicts`` (which reads them), so
        writes, manifest entries and summaries share one computation of
        each; ``unpersist()`` releases them with the rest of ``cached``."""
        for frame in (self.violations, self.verdicts):
            self.cached.append(frame.persist())
        return self

    def unpersist(self) -> None:
        # blocking: async eviction races the next run's persist() of the
        # identical plan (bench runs validate twice) into spurious
        # 'already cached' warnings
        for df in self.cached:
            df.unpersist(blocking=True)


def row_violations(df: DataFrame, ruleset: RuleSet, row_rules: list[Rule]) -> DataFrame:
    """ALL row rules fused into ONE projection over ``df`` (batch or
    streaming; ``common.fused_violations``)."""
    checks = [
        (chk.rule, chk.predicate, chk.value, F.lit(chk.message))
        for chk in map(compile_row_rule, row_rules)
    ]
    return fused_violations(df, F.expr(ruleset.scope), entity_col(ruleset.key_cols), checks)


def _census(df: DataFrame, plan_rules: list[Rule]) -> tuple[dict, dict[int, str]]:
    """The run's census entries, key → (value, optional second value) as
    strings, and id(rule) → key for every census rule. A categorical rule's
    key is its column (rules auditing one column share its entry); any other
    rule's is 'type:position:rule_id' (unique even when rule ids repeat),
    prefixed with ':' until no categorical column has that name."""
    from safedata_validator_spark.engine.drift import histogram_bucket
    from safedata_validator_spark.engine.referential import canon_col
    from safedata_validator_spark.engine.typing_rules import format_class

    categorical = ("levels_audit", "ref_integrity")
    columns = {r.column for r in plan_rules if r.rule_type in categorical}
    entries, keys = {}, {}
    for i, r in enumerate(plan_rules):
        p, key = r.params, f"{r.rule_type}:{i}:{r.rule_id}"
        while key in columns:
            key = ":" + key
        if r.rule_type in categorical:
            key, values = r.column, (canon_col(df, r.column), None)
        elif r.rule_type == "drift":  # a NULL split flag joins neither cohort
            bucket = histogram_bucket(p.get("expr", sql_ident(r.column)), p["lo"], p["hi"], int(p.get("bins", 20)))
            values = bucket.cast("string"), F.expr(p["split"]).cast("string") if "split" in p else None
        elif r.rule_type == "format_consistency":
            values = format_class(F.col(sql_ident(r.column))), None
        elif r.rule_type == "name_resolution":
            values = canon_col(df, p.get("name_col", "name")), canon_col(df, p.get("rank_col", "rank"))
        elif r.rule_type == "hierarchy_congruence":
            values = canon_col(df, p["child_col"]), canon_col(df, p["ancestor_col"])
        else:
            continue
        keys[id(r)], entries[key] = key, values
    return entries, keys


class ValidationEngine:
    def _split_rules(self, df: DataFrame, ruleset: RuleSet) -> tuple[list[Rule], list[Rule]]:
        problems = registry.lint_ruleset(ruleset, df.columns)
        if problems:
            raise ValueError("ruleset lint failed:\n  " + "\n  ".join(problems))
        row_rules = [r for r in ruleset.rules if r.rule_type in registry.ROW_COMPILERS]
        plan_rules = [r for r in ruleset.rules if r.rule_type in registry.PLAN_RULE_TYPES]
        return row_rules, plan_rules

    def _plan_violations(
        self,
        df: DataFrame,
        ruleset: RuleSet,
        plan_rules: list[Rule],
        dims: dict,
        scope_agg: DataFrame,
        census: DataFrame | None,
        census_keys: dict[int, str],
        order_max: dict[str, int | None],
    ) -> list[DataFrame]:
        """Evaluate plan-level rules over the run's shared aggregates:
        ``scope_agg`` (the per-scope aggregate), ``census`` (the stacked
        census, sliced by ``census_keys``; None when no rule needs it) and
        ``order_max`` (the global maximum of each sequential order column;
        empty when the scope aggregate was too large to localize). Rules
        that share a relational shape share ONE pass over the data:

        * monotone + transition_grammar with the same (group, order,
          block_size) evaluate in ONE projection over one adjacent-pairs
          plan (one bounded window + one boundary stitch for all of them);
        * sequential + unique_key over (group, order) share the
          conversation-level hash-sum screen, the key-granularity work
          running only over flagged conversations (or one key-count
          aggregation over the whole table on the exact path);
        * ALL extent rules read the shared per-scope aggregate;
        * level audits, referential membership, drift, format consistency,
          name resolution and hierarchy congruence derive from the census.

        A unique_key rule on keys no sequential rule shares counts its own.

        At 10^12 rows the scan/shuffle count, not expression work, dominates
        cost — this is the engine's equivalent of the reference's single-pass
        multi-statistic design (field.py:1361-1415), applied across rules.
        """
        from collections import defaultdict

        from safedata_validator_spark.engine import drift, extents, hierarchy, ordering
        from safedata_validator_spark.engine import referential, typing_rules, uniqueness

        parts: list[DataFrame] = []

        # -- adjacency fusion ------------------------------------------------
        # ALL adjacency rules sharing (group, order) evaluate in ONE projection
        # over ONE pairs plan — a single consumer guarantees the pairs plan runs
        # once (separate consumers defeat ReuseExchange under column pruning)
        adj = [r for r in plan_rules if r.rule_type in ("monotone", "transition_grammar")]
        by_key: dict[tuple, list[Rule]] = defaultdict(list)
        for r in adj:
            by_key[ordering.rule_pair_key(r, ruleset)].append(r)
        for (group, order, block_size), rules in by_key.items():
            values = sorted({r.column for r in rules})
            pairs = ordering.build_pairs(df, ruleset, group, order, values, block_size)
            parts.append(ordering.fused_pairs_violations(pairs, rules, group, order))

        # -- sequential + unique_key fusion -----------------------------------
        # Fast path (the global max order value is known and within
        # SEQ_HASH_CAP): ONE conversation-level aggregation + hash-sum check
        # decides which conversations are clean — 5-6× cheaper at 40M turns
        # than aggregating per key — and only the flagged conversations are
        # re-aggregated at key level (the exact drilldown that produces
        # byte-identical violation rows, including the duplicate-key
        # report). Clean data therefore never pays the key-granularity
        # shuffle. method='exact' on the rule forces the key-level path (e.g.
        # adversarial inputs engineered against the public hash seeds).
        seq_rules = [r for r in plan_rules if r.rule_type == "sequential"]
        uniq_rules = [r for r in plan_rules if r.rule_type == "unique_key"]
        for sr in seq_rules:
            group = sr.params.get("group", ruleset.key_cols[0])
            order = sr.params.get("order", sr.column or "turn_idx")
            start = int(sr.params.get("start", 1))
            omax = order_max.get(order)
            fast = (
                sr.params.get("method", "auto") != "exact"
                and start == 1
                and omax is not None
                and 1 <= omax <= ordering.SEQ_HASH_CAP
            )
            if fast:
                bad_groups = ordering.flagged_sequence_groups(
                    df, group, order, ruleset.scope, omax
                )
                sub = df.join(
                    bad_groups.withColumnRenamed(group, "__badg"),
                    F.col(group).eqNullSafe(F.col("__badg")),
                    "left_semi",
                )
                counts = ordering.key_counts(sub, group, order, ruleset.scope)
            else:
                counts = ordering.key_counts(df, group, order, ruleset.scope)
            parts.append(ordering.sequential_from_counts(counts, sr, group, order))
            if sr.params.get("examples"):
                parts.append(ordering.sequential_examples(df, counts, sr, ruleset, group, order))
            shared = [ur for ur in uniq_rules if list(ur.params.get("keys", ruleset.key_cols)) == [group, order]]
            parts.extend(uniqueness.unique_from_counts(counts, ur, [group, order]) for ur in shared)
            uniq_rules = [ur for ur in uniq_rules if ur not in shared]

        # -- extents -----------------------------------------------------------
        # the min/max fold rides the shared per-scope aggregate — zero extra
        # fact passes; the declared-vs-computed congruence rules read the
        # SAME aggregate
        extent_rules = [r for r in plan_rules if r.rule_type == "extent"]
        congr_rules = [r for r in plan_rules if r.rule_type == "extent_congruence"]
        parts.extend(extents.extents_from_agg(scope_agg, extent_rules))
        parts.extend(extents.congruence_from_agg(scope_agg, congr_rules))

        # -- census rules ------------------------------------------------------
        # six families over ANY number of rules slice the one stacked census
        from_counts = {
            "levels_audit": referential.levels_audit_from_counts,
            "ref_integrity": referential.ref_integrity_from_counts,
            "drift": drift.drift_from_counts,
            "format_consistency": typing_rules.format_consistency_from_counts,
            "name_resolution": hierarchy.name_resolution_from_counts,
            "hierarchy_congruence": hierarchy.hierarchy_congruence_from_counts,
        }
        for rule in plan_rules:
            if id(rule) in census_keys:
                sliced = census.where(F.col("__col") == census_keys[id(rule)]).drop("__col")
                parts.append(from_counts[rule.rule_type](sliced, rule, dims))

        # -- unique_key on keys no sequential rule shares: its own count -------
        parts.extend(uniqueness.eval_unique_key(df, ur, ruleset) for ur in uniq_rules)
        return parts

    def _verdicts(
        self, ruleset: RuleSet, violations: DataFrame, scope_rows: DataFrame
    ) -> DataFrame:
        """(scope, rule_id, severity, n_rows, n_failed, passed) — one row per
        declared rule per scope (zero-filled), plus rows for derived rule ids
        (e.g. '.alias', '.unused') that only exist when violations occur.
        ``scope_rows`` (scope, n_rows) comes from the run's shared per-scope
        aggregate, so verdicts add no fact pass."""
        counts = violations.groupBy("scope", "rule_id", "severity").agg(
            F.count(F.lit(1)).alias("n_failed")
        )
        declared = local_table(
            violations.sparkSession,
            [(r.rule_id, r.severity) for r in ruleset.rules],
            "rule_id string, severity string",
        )
        # ONE reference to the violations subtree: the declared grid
        # full-outer-joins the observed counts (derived rule ids such as
        # '.alias'/'.unused' enter through the counts side), then row counts
        # attach from the (driver-local) scope_rows. The previous
        # grid-union-then-join shape embedded the violations plan twice,
        # doubling every fact scan when violations was not persisted.
        # Scope joins are NULL-SAFE: a scope expression may evaluate to NULL
        # and NULL is a verdict partition like any other.
        grid = scope_rows.select("scope").crossJoin(F.broadcast(declared))
        g, c = grid.alias("g"), counts.alias("c")
        merged = g.join(
            c,
            F.col("g.scope").eqNullSafe(F.col("c.scope"))
            & (F.col("g.rule_id") == F.col("c.rule_id"))
            & (F.col("g.severity") == F.col("c.severity")),
            "full_outer",
        ).select(
            F.coalesce(F.col("g.scope"), F.col("c.scope")).alias("scope"),
            F.coalesce(F.col("g.rule_id"), F.col("c.rule_id")).alias("rule_id"),
            F.coalesce(F.col("g.severity"), F.col("c.severity")).alias("severity"),
            F.col("c.n_failed").alias("n_failed"),
        )
        sr = scope_rows.withColumnRenamed("scope", "__sr_scope")
        return (
            merged.join(
                sr, F.col("scope").eqNullSafe(F.col("__sr_scope")), "left"
            )
            .withColumn("n_failed", F.coalesce("n_failed", F.lit(0)))
            .withColumn("passed", (F.col("severity") != ERROR) | (F.col("n_failed") == 0))
            .select("scope", "rule_id", "severity", "n_rows", "n_failed", "passed")
        )

    def validate(
        self,
        df: DataFrame,
        ruleset: RuleSet,
        dims: dict[str, DataFrame] | None = None,
        with_stats: bool = True,
        profile_columns: list[str] | None = None,
    ) -> RunResult:
        """Full run with cross-output pass fusion. Fact passes, total:

        1. ONE per-scope aggregation = profiler sketches + extent min/max +
           verdict row counts + sequential order maxima (eager; rows =
           #scopes);
        2. ONE stacked census pass for every levels_audit / ref_integrity
           column and every drift, format_consistency, name_resolution and
           hierarchy_congruence rule (eager; rows ≈ Σ distinct values per
           entry);

        then, in the violations plan, 7 for the transcript preset (the
        budget test_plans.test_full_validate_bounds_fact_scans pins), plus
        one per unique_key rule on keys no sequential rule shares:

        3. fused row-rule scan (the only pass touching heavy text columns);
        4-5. blocked-window adjacency (lag pass + block summary), ALL
           adjacency rules fused;
        6-7. conversation-level sequence screen + the key-count drilldown
           over the flagged conversations, shared by sequential +
           unique_key;
        8-9. a second copy of 6-7: each consumer of the key counts plans
           them again (sequential_examples, when on, a third copy plus one
           read for the example rows), and the copies are not always
           reused at run time (ROADMAP direction 2).

        Everything else is broadcast joins / re-aggregation over the tiny
        shared aggregates — nothing re-reads the fact table.

        The shared aggregates are computed EAGERLY (two small jobs at call
        time) and re-injected as driver-local tables (JVM LocalRelations,
        see ``common.localize``): their size is bounded by #scopes and
        Σ distinct values per census entry — both bounded by design (verdict
        partitions; level/membership domains, histogram bins, claimed names)
        — and a local table guarantees every downstream consumer reads the
        computed rows instead of
        replaying the fact scan inside broadcast-subquery jobs, which do not
        share adaptive query stages with the main action. Should a census
        entry turn out high-cardinality, the aggregate falls back to a
        persisted distributed plan (over ``LOCALIZE_ROWS`` rows or
        ``LOCALIZE_BYTES`` bytes).
        """
        from safedata_validator_spark.engine import extents as ext
        from safedata_validator_spark.engine import referential
        from safedata_validator_spark.engine.profiler import (
            default_profile_columns,
            profile_aggs,
            profile_long,
        )

        dims = dims or {}
        row_rules, plan_rules = self._split_rules(df, ruleset)

        extent_rules = [
            r for r in plan_rules if r.rule_type in ("extent", "extent_congruence")
        ]
        census_entries, census_keys = _census(df, plan_rules)
        # stats default to plan-rule-referenced + typed columns — free-text
        # columns with only row rules carry no sketch worth their bandwidth
        # (see default_profile_columns); pass profile_columns to override
        if not with_stats:
            prof_cols = []
        elif profile_columns is not None:
            prof_cols = list(profile_columns)
        else:
            prof_cols = default_profile_columns(df, ruleset)

        seq_orders = sorted(
            {
                r.params.get("order", r.column or "turn_idx")
                for r in plan_rules
                if r.rule_type == "sequential"
            }
            & set(df.columns)
        )

        aggs = [F.count(F.lit(1)).alias("__n_rows")]
        if prof_cols:
            aggs += profile_aggs(df, prof_cols)
        aggs += ext.extent_aggs(extent_rules)
        # global max of each sequential order column rides the same pass —
        # it gates + sizes the hash-sum fast path (see _plan_violations)
        aggs += [F.max(F.col(o).cast("long")).alias(f"__seqmax_{o}") for o in seq_orders]
        scope_agg_plan = df.groupBy(
            F.expr(ruleset.scope).cast("string").alias("__scope")
        ).agg(*aggs)

        # the two eager aggregates run as CONCURRENT Spark actions — their
        # driver planning and stage tails overlap (each alone under-utilises
        # the executors), shaving the serial prologue of every run
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            scope_fut = pool.submit(
                localize, scope_agg_plan, LOCALIZE_ROWS, LOCALIZE_BYTES
            )
            census_fut = (
                pool.submit(
                    localize,
                    referential.census_counts(df, ruleset.scope, census_entries),
                    LOCALIZE_ROWS,
                    LOCALIZE_BYTES,
                )
                if census_entries
                else None
            )
            # overlap: the fused row-rule scan consumes nothing from the
            # shared aggregates, so its (py4j-bound) plan construction runs
            # on the main thread WHILE the two aggregate jobs execute —
            # py4j is connection-per-thread, so driver-side building and
            # JVM job execution proceed concurrently
            parts: list[DataFrame] = []
            if row_rules:
                parts.append(row_violations(df, ruleset, row_rules))
            scope_agg, was_local = scope_fut.result()
            cached = [] if was_local else [scope_agg]
            # a distributed (over-cap) scope aggregate leaves the maxima
            # unknown, so sequential rules take the exact key-level path
            order_max: dict[str, int | None] = {}
            if was_local and seq_orders:
                # the optimizer folds this projection into the local
                # relation, so the collect runs no Spark job
                maxima = scope_agg.select(*[f"__seqmax_{o}" for o in seq_orders]).collect()
                order_max = {
                    o: max(
                        (r[f"__seqmax_{o}"] for r in maxima if r[f"__seqmax_{o}"] is not None),
                        default=None,
                    )
                    for o in seq_orders
                }
            census = None
            if census_fut is not None:
                census, census_local = census_fut.result()
                if not census_local:
                    cached.append(census)

        parts.extend(
            self._plan_violations(
                df, ruleset, plan_rules, dims, scope_agg, census, census_keys, order_max
            )
        )
        viols = (
            reduce(lambda a, b: a.unionByName(b), parts)
            if parts
            else empty_violations(df.sparkSession)
        )

        scope_rows = scope_agg.select(
            F.col("__scope").alias("scope"), F.col("__n_rows").alias("n_rows")
        )
        verd = self._verdicts(ruleset, viols, scope_rows)
        stats = profile_long(scope_agg, prof_cols) if with_stats else None
        return RunResult(viols, verd, stats, ruleset.content_hash(), cached=cached)

    # -- resumable runs ------------------------------------------------------
    def validate_resumable(
        self,
        df: DataFrame,
        ruleset: RuleSet,
        manifest: ckpt.CheckpointManifest,
        dims: dict[str, DataFrame] | None = None,
        snapshot_id: str = "",
        with_stats: bool = False,
        sink: Callable[[RunResult], None] | None = None,
    ) -> tuple[RunResult | None, list[str | None]]:
        """Validate only partitions (scope values, NULL included) not yet
        recorded in the manifest under this rule-set hash. Returns
        (result-or-None-if-nothing-pending, pending list).

        Finding the pending partitions reads the whole table once. When they
        are a strict subset of the table's partitions, the pending slice is
        persisted: its filter on the scope expression cannot be pushed into
        the scan, so every fact pass would otherwise re-read the whole
        table. When every partition is pending (a first run) the source is
        read as ``validate()`` reads it, uncached. The result's violations
        and verdicts are persisted before anything consumes them; all three
        are in ``result.cached`` and released by ``result.unpersist()``.

        ``sink(result)`` (e.g. writing the outputs) runs before the pending
        partitions are recorded, so a failed sink leaves them pending; the
        manifest rows are then folded from the persisted verdicts."""
        spark = df.sparkSession
        rhash = ruleset.content_hash()
        pending, partial = ckpt.pending_partitions(df, ruleset.scope, manifest, rhash)
        if not pending:
            return None, []
        sub = df.where(ckpt.partition_filter(ruleset.scope, pending))
        if partial:
            sub = sub.persist()
        result = self.validate(sub, ruleset, dims, with_stats=with_stats).persist()
        if partial:
            result.cached.append(sub)
        try:
            if sink is not None:
                sink(result)
            manifest.record(ckpt.manifest_entries(spark, result.verdicts, rhash, snapshot_id))
        except BaseException:
            result.unpersist()
            raise
        return result, pending
