"""Physical-plan quality assertions — the '.explain and iterate' discipline:
these pin the plan shapes that matter at 10^12-row scale, so a regression
(lost broadcast, lost pushdown, duplicated exchange) fails CI, not the
cluster."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from safedata_validator_spark.data.synth import transcripts_good
from safedata_validator_spark.engine.validator import ValidationEngine
from safedata_validator_spark.rules.model import Rule, RuleSet

SF = "/root/testdata/sf0.001"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_ref_integrity_uses_broadcast_join(spark, dims):
    df = transcripts_good(spark, n_convs=5, mean_turns=5, hot_factor=2)
    rs = RuleSet(
        name="t", key_cols=["conv_id", "turn_idx"],
        rules=[Rule("r", "ref_integrity", column="tool",
                    params={"dim": "tools", "dim_key": "tool"})],
    )
    plan = _physical(ValidationEngine().validate(df, rs, dims, with_stats=False).violations)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan  # dimension must never shuffle the fact side


def test_parquet_filter_pushdown_and_column_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.where(F.col("l_shipdate") <= "1995-01-01").select("l_orderkey", "l_quantity")
    plan = _physical(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # ReadSchema must contain only the referenced columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema and "l_comment" not in read_schema
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema


def test_row_rules_fuse_into_single_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    rs = RuleSet(
        name="t", key_cols=["l_orderkey", "l_linenumber"],
        rules=[
            Rule("a", "not_blank", column="l_returnflag"),
            Rule("b", "in_levels", column="l_linestatus", params={"levels": ["O", "F"]}),
            Rule("c", "bounds", column="l_quantity", params={"lo": 0.0, "hi": 100.0}),
        ],
    )
    plan = _optimized(ValidationEngine().validate(li, rs, with_stats=False).violations)
    assert plan.count("Relation") == 1  # one scan feeds all three rules


def test_adjacency_default_windows_are_block_bounded(spark):
    """The skew-safety property itself: the blocked-window adjacency
    never builds an unbounded per-conversation window over raw
    rows — a bare Window.partitionBy(conv_id).orderBy(turn_idx) is exactly
    the hot-key hazard the engine exists to avoid. Every window spec in the
    plan must involve __block: phase-1 lags partition by (conv_id, __block)
    (≤ block_size rows per partition regardless of conversation size); the
    per-conversation boundary stitch orders by __block and runs over the
    per-block summary that a HashAggregate keyed (conv_id, __block) has
    already shrunk by block_size×."""
    import re

    df = transcripts_good(spark, n_convs=5, mean_turns=8, hot_factor=2)

    rs = RuleSet(
        name="t", key_cols=["conv_id", "turn_idx"],
        rules=[
            Rule("m", "monotone", column="ts",
                 params={"group": "conv_id", "order": "turn_idx"}),
            Rule("g", "transition_grammar", column="role",
                 params={"group": "conv_id", "order": "turn_idx",
                         "transitions": [["system", "user"], ["user", "assistant"],
                                         ["assistant", "tool"], ["assistant", "user"],
                                         ["tool", "assistant"]],
                         "allowed_start": ["system"]}),
        ],
    )

    plan = _physical(ValidationEngine().validate(df, rs, with_stats=False).violations)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan[:2000]
    assert all("__block" in s for s in specs), specs
    # the block summary (max_by-based aggregate) keyed (conv_id, __block);
    # Hash/Object/Sort aggregate variants print keys= or key=
    assert re.search(r"Aggregate\(keys?=\[conv_id[^\]]*__block", plan), plan[:2000]



def test_sequential_unique_share_level1_exchange(spark):
    import re

    df = transcripts_good(spark, n_convs=5, mean_turns=8, hot_factor=2)
    rs = RuleSet(
        name="t", key_cols=["conv_id", "turn_idx"],
        rules=[
            Rule("u", "unique_key", params={"keys": ["conv_id", "turn_idx"]}),
            Rule("s", "sequential", column="turn_idx",
                 params={"group": "conv_id", "order": "turn_idx"}),
        ],
    )
    viols = ValidationEngine().validate(df, rs, with_stats=False).violations
    plan = _physical(viols)
    # the scale property: NO distinct aggregate anywhere — the distinct count
    # is derived from level-1 row counts, so no Expand node and no
    # count(distinct ...) rewrite appears in the plan
    assert "Expand" not in plan
    assert "count(distinct" not in plan.lower()
    # both rules consume the same level-1 (conv_id, turn_idx) aggregation
    assert plan.count("HashAggregate(keys=[conv_id") >= 2
    # the fast path's promise: the key-level (conv_id, turn_idx) exchange is
    # planned, but on clean data the conversation-level screen flags
    # nothing, so the final adaptive plan runs none
    key_level = re.compile(r"Exchange hashpartitioning\(conv_id#\d+, turn_idx#")
    assert key_level.search(plan), plan
    assert viols.collect() == []
    final = _physical(viols)
    assert "isFinalPlan=true" in final
    final_plan = final.split("== Initial Plan ==")[0]
    assert not key_level.search(final_plan), final


def test_full_validate_bounds_fact_scans(spark, dims, tmp_path):
    """THE scale property of the fused engine: a full validate() run over a
    parquet fact table touches it a bounded number of times. Budget:
    1 eager shared per-scope aggregate (+1 eager categorical-counts pass),
    then inside the violations plan: row-rule scan, conversation-level
    sequence screen, flagged-conversation drilldown, blocked-window
    adjacency (lag pass + block summary) — extents / level audits /
    ref-integrity / verdict row counts / stats all derive from the two
    cached driver-local aggregates and add ZERO scans."""
    from safedata_validator_spark.data.synth import transcripts_bad
    from safedata_validator_spark.rules.presets import transcript_ruleset

    src = str(tmp_path / "fact")
    transcripts_bad(spark).write.parquet(src)
    df = spark.read.parquet(src)
    res = ValidationEngine().validate(df, transcript_ruleset(), dims, with_stats=True)
    # Static budget 7: row(1) + adjacency lag pass(1) + block summary(1) +
    # sequence screen(1) + drilldown probe(1) + a duplicate of screen+probe
    # under the unique_key branch (2). Run-time reuse of the duplicate is
    # not guaranteed: an inferred isnotnull(conv_id) filter can make the
    # copies differ (ROADMAP direction 2).
    for name, d, budget in [
        ("violations", res.violations, 7),
        ("verdicts", res.verdicts, 7),  # = violations subtree + 0 extra scans
        ("stats", res.stats, 0),  # explode over the local aggregate
    ]:
        plan = _physical(d)
        n = plan.count("Scan parquet")
        assert n <= budget, f"{name}: {n} parquet scans (budget {budget})"
    # stats derive entirely from the driver-local aggregate (its only leaf
    # is a LocalTableScan — zero fact scans, asserted by the budget above)


def test_census_families_share_one_scan(spark, dims, tmp_path):
    """Six census-shaped plan families slice the one eager census, so a
    rule set mixing them with a row rule and a unique_key on keys no
    sequential rule shares plans two fact scans in its violations: the row
    scan and unique_key's own count."""
    from safedata_validator_spark.engine.hierarchy import build_closure

    src = str(tmp_path / "fact")
    spark.range(2000).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        F.element_at(F.array(*[F.lit(r) for r in ("user", "assistant", "tool")]),
                     (F.col("id") % 3 + 1).cast("int")).alias("role"),
        (F.col("id") % 17).cast("double").alias("v"),
        F.when(F.col("id") % 2 == 0, "2024-01-01").otherwise("7").alias("d"),
        F.when(F.col("id") % 5 == 0, "ghost").otherwise("bash").alias("cap"),
        F.lit("leaf").alias("rank"),
        F.when(F.col("id") % 4 == 0, "io").otherwise("compute").alias("family"),
        (F.col("id") % 100).alias("k"),
    ).write.parquet(src)
    df = spark.read.parquet(src)
    d = dict(dims, taxonomy_closure=build_closure(dims["taxonomy_nodes"]))
    rs = RuleSet(
        name="t", key_cols=["id"], scope="grp",
        rules=[
            Rule("nb", "not_blank", column="role"),
            Rule("la", "levels_audit", column="role", params={"dim": "roles", "dim_key": "role"}),
            Rule("dr", "drift", column="v",
                 params={"lo": 0.0, "hi": 17.0, "bins": 17, "split": "id % 2 = 0",
                         "psi_threshold": 0.1}),
            Rule("fmt", "format_consistency", column="d"),
            Rule("u", "unique_key", params={"keys": ["k", "grp"]}),
            Rule("nr", "name_resolution", column="cap",
                 params={"dim": "taxonomy_nodes", "name_col": "cap", "rank_col": "rank"}),
            Rule("hc", "hierarchy_congruence",
                 params={"nodes_dim": "taxonomy_nodes", "closure_dim": "taxonomy_closure",
                         "child_col": "cap", "ancestor_col": "family"}),
        ],
    )
    viols = ValidationEngine().validate(df, rs, d, with_stats=False).violations
    n = _physical(viols).count("Scan parquet")
    assert n <= 2, f"{n} parquet scans in the violations plan (budget 2)"
    got = {v["rule_id"] for v in viols.collect()}
    assert {"la.unused", "fmt", "u", "nr.missing", "hc"} <= got, got


def test_no_python_row_udfs_anywhere(spark, dims, tmp_path):
    """North-rule mandate: no per-row Python. The full rule set's plan must
    contain no BatchEvalPython (row UDF) nodes; ArrowEvalPython (vectorized)
    is allowed but the transcript preset needs none at all. Nor may any
    table the engine builds on the driver be a ``Scan ExistingRDD``: that is
    a PythonRDD, whose every read runs Python-worker tasks — driver-local
    tables must be LocalRelations. Checked for a plain and a resumable run;
    the dimensions are read from parquet, as in production."""
    from safedata_validator_spark.engine.checkpoint import CheckpointManifest
    from safedata_validator_spark.rules.presets import transcript_ruleset

    for name, dim in dims.items():
        dim.write.parquet(str(tmp_path / name))
    pq_dims = {name: spark.read.parquet(str(tmp_path / name)) for name in dims}
    df = transcripts_good(spark, n_convs=5, mean_turns=8, hot_factor=2)
    rs = transcript_ruleset(scope="date_format(ts, 'yyyy-MM')")
    eng = ValidationEngine()
    plain = eng.validate(df, rs, pq_dims)
    resumed, pending = eng.validate_resumable(
        df, rs, CheckpointManifest(str(tmp_path / "manifest")), pq_dims, with_stats=True
    )
    assert pending
    try:
        for res in (plain, resumed):
            for frame in (res.violations, res.verdicts, res.stats):
                plan = _physical(frame)
                assert "BatchEvalPython" not in plan
                assert "ArrowEvalPython" not in plan
                assert "Scan ExistingRDD" not in plan, plan
    finally:
        resumed.unpersist()


def test_profile_pushes_column_pruning_to_parquet(spark):
    from safedata_validator_spark.engine.profiler import profile

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    plan = _physical(profile(li, columns=["l_quantity", "l_discount"]))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema


def test_ann_plan_building_triggers_no_jobs(spark):
    """Plan CONSTRUCTION for the LSH/IVF-bucketing and near-dup paths must
    not execute anything when ``dim`` is passed — the old first() schema
    probe ran the whole upstream pipeline once per call (VERDICT r01 §wrong
    4). Job-count deltas come from the status tracker."""
    from safedata_validator_spark.functions import similarity as sim

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    sim.add_lsh_bucket(e, nbits=8, dim=64)
    sim.lsh_topk(e, q, k=3, nbits=8, dim=64)
    sim.embedding_near_dup_pairs(e, threshold=0.9, nbits=8, dim=64)
    after = len(tracker.getJobIdsForGroup(None))
    assert after == before, "building ANN plans must not run Spark jobs"


#: catalog entries that are EAGER by design — each runs bounded driver-side
#: actions while building its result (documented here so any new entry that
#: sneaks a hidden probe job in fails the test below, while these stay
#: exempt with a stated reason):
#:   transcript_verdicts — ValidationEngine.validate() materializes the tiny
#:     per-scope aggregate eagerly (two overlapped driver aggregates,
#:     validator.py) to derive stats/verdicts without a second fact pass;
#:   hierarchy_closure / hierarchy_congruence_events — build_closure's
#:     loop-until-fixpoint needs an emptiness check per doubling round
#:     (bounded by log2(max depth) jobs over the DIMENSION, not the fact);
#:     hierarchy_congruence_events then runs validate(), as below;
#:   ann_topk — the IVF branch trains a k-means coarse quantizer, iterative
#:     by nature (bounded, runs on the sampled training slice);
#:   stream_sequence_events — runs an actual two-micro-batch streaming query
#:     and returns the materialized emissions (the POINT of the gate);
#:   ann_recall — includes the IVF path (k-means training, as above).
EAGER_BY_DESIGN = {
    "minhash_lsh_docs",  # adaptive_cut probe: one bounded job proves the
    #   max_df cut a no-op and skips the |shingles|-row repack shuffle;
    #   the probe also pre-materializes the compact-array cache (r6)
    "dedup_ngram_jaccard",  # same adaptive_cut probe (r6): skips the
    #   no-op anti-join + the second full-shingle cache
    "transcript_verdicts",
    # validate() computes its two shared aggregates eagerly (one small job
    # each) in every engine-level gate
    "engine_ordering_events",
    "engine_keys_events",
    "engine_categorical_events",
    "engine_row_rules_customer",
    "engine_verdicts_orders",
    "engine_drift_keys_lineitem",
    "name_resolution_events",  # validate() over a name_resolution rule
    "hierarchy_closure",
    "hierarchy_congruence_events",
    "ann_topk",
    "stream_sequence_events",
    "stream_dedup_events",  # runs a real two-micro-batch streaming query
    "stream_drift_events",  # runs a real two-micro-batch streaming query
    "ann_recall",
    "dedup_clusters_docs",  # iterative star-contraction: per-round actions
    "curate_corpus_cluster",  # same star contraction inside the pipeline
}


def test_catalog_plan_building_triggers_no_jobs(spark):
    """EVERY catalog query must build its DataFrame without executing Spark
    jobs (no hidden first()/count() probes) unless listed in
    EAGER_BY_DESIGN with a reason. Round-2's q_embedding_near_dup escaped
    the ANN-specific test by omitting dim= — iterating the real callables
    closes that hole (VERDICT r02 §next 2)."""
    from safedata_validator_spark.queries import QUERIES

    lazy = {n: f for n, f in QUERIES.items() if n not in EAGER_BY_DESIGN}
    # warm pass: Spark 4 charges one footer-read job to the FIRST schema-less
    # read of each parquet table; queries._t caches the schema per table, so
    # after this pass every build must be job-free
    for fn in lazy.values():
        fn(spark, SF)
    tracker = spark.sparkContext.statusTracker()
    offenders = []
    for name, fn in lazy.items():
        before = len(tracker.getJobIdsForGroup(None))
        fn(spark, SF)
        after = len(tracker.getJobIdsForGroup(None))
        if after != before:
            offenders.append((name, after - before))
    assert not offenders, f"plan build ran jobs: {offenders}"


def test_minhash_verify_broadcasts_candidate_filters(spark):
    """The LSH pipeline must reach its big tables only through BROADCAST
    side-filters (hot-shingle anti-join, colliding-bucket semi-join,
    candidate-member semi-join): AQE cannot replan a cached-scan probe side
    (no exchange = no stage boundary), so losing an explicit broadcast
    regresses to a full-table SortMergeJoin serving a candidate set orders
    of magnitude smaller — the round-2 verify stage cost 50s of a 100s
    pipeline at 1M docs exactly this way."""
    from safedata_validator_spark.functions import dedup as dd

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = dd.minhash_lsh_dedup(docs, "doc_id", "text", threshold=0.5, max_df=100)
    plan = _physical(out)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "LeftSemi" in plan and "LeftAnti" in plan
    dd.release(out)


def test_scale_parameterized_ann_defaults():
    """nbits/n_centroids derivations follow the documented scaling rules."""
    from safedata_validator_spark.functions.similarity import n_centroids_for, nbits_for

    assert nbits_for(500) == 9          # ceil(log2(500))
    assert nbits_for(1_000_000) == 20
    assert nbits_for(1) == 4            # floor
    assert n_centroids_for(500) == 22   # ≈ √N
    assert n_centroids_for(1_000_000) == 1000


def test_taxon_query_dims_broadcast(spark):
    """name_resolution / hierarchy_congruence: every dimension join must
    broadcast — the fact side (claims) never shuffles for a dim lookup."""
    from safedata_validator_spark.queries import QUERIES

    for q in ("name_resolution_events", "hierarchy_congruence_events"):
        plan = _physical(QUERIES[q](spark, SF))
        assert "BroadcastHashJoin" in plan, q
        assert "SortMergeJoin" not in plan, q


def test_decontaminate_broadcasts_eval_side(spark):
    """Decontamination must broadcast the (tiny) eval n-gram set and
    semi-join it map-side — the training side, the 100-TB one, must reach
    the per-doc count without a join-side shuffle."""
    from safedata_validator_spark.functions.dedup import decontaminate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ev = docs.where(F.col("doc_id") % 10 == 0)
    tr = docs.where(F.col("doc_id") % 10 != 0)
    plan = _physical(decontaminate(tr, ev, "doc_id", "text"))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_mixture_resample_broadcasts_rates(spark):
    """The per-stratum rate table (|strata| rows) must broadcast back onto
    the corpus — a shuffled join would repartition the whole corpus to
    apply a row filter."""
    from safedata_validator_spark.functions.sampling import mixture_resample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _physical(
        mixture_resample(docs, "source", "doc_id", {"src0": 2.0, "src1": 1.0})
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_sequences_window_is_partition_bounded(spark):
    """The packing running-sum must hash-partition by the group key —
    an unpartitioned window would drag the corpus into one task."""
    from safedata_validator_spark.functions.sampling import pack_sequences

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _physical(pack_sequences(docs, "doc_id", "n_chars", 2000))
    assert "Window" in plan
    assert "SinglePartition" not in plan
    assert "hashpartitioning(source" in plan


def test_row_local_curation_ops_have_no_exchange(spark):
    """Repetition profiling, PII audit and split assignment are pure
    projections/filters: their plans must contain NO Exchange at all —
    the whole operator runs inside the scan's codegen stage."""
    from safedata_validator_spark.functions import pii
    from safedata_validator_spark.functions import repetition as rp
    from safedata_validator_spark.functions import sampling as sp

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for frame in (
        rp.repetition_profile(docs, "doc_id", "text"),
        pii.pii_audit(docs, "doc_id", "text"),
        sp.hash_split(docs, "doc_id"),
        sp.stratified_sample(docs, "doc_id", 0.25),
    ):
        plan = _physical(frame)
        assert "Exchange" not in plan, plan


def test_catalog_queries_release_all_caches(spark):
    """The cache hand-off must survive query post-processing: after
    materialize + release, NO persisted RDD introduced BY THE QUERY may
    remain (a dropped `_sdv_cached` attribute turns release() into a silent
    no-op and the next identical pipeline re-persists the same plan — the
    CacheManager 'already cached' leak).

    Flake discipline: asserts the persistent-RDD DELTA around each query
    (ids snapshot before, subtracted after) rather than a global zero, so a
    stray persist left by an unrelated earlier test cannot fail this one;
    and polls briefly after the blocking unpersist because the driver-side
    persistentRdds registry update can trail the unpersist call by a beat
    under load."""
    import time

    from safedata_validator_spark.functions.dedup import release
    from safedata_validator_spark.queries import QUERIES

    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc

    def _ids() -> set:
        return set(jsc.getPersistentRDDs().keySet().toArray())

    for name in (
        "dedup_ngram_jaccard",
        "minhash_lsh_docs",
        "dedup_clusters_docs",
        "curate_corpus",
        "curate_corpus_cluster",
        "decontaminate_docs",
        "span_dedup_docs",
        "decon_spans_docs",
        "lm_quality_docs",
    ):
        before = _ids()
        q = QUERIES[name](spark, SF)
        q.write.mode("overwrite").format("noop").save()
        release(q)
        deadline = time.monotonic() + 10.0
        leaked = _ids() - before
        while leaked and time.monotonic() < deadline:
            time.sleep(0.2)
            leaked = _ids() - before
        assert not leaked, (
            f"{name} leaked persisted RDD ids {sorted(leaked)} after release()"
        )


def test_url_blocklist_filter_broadcasts_both_sides(spark):
    """Domain filtering must broadcast the blocklist AND the offender id
    list — the corpus itself is never shuffled; and the per-doc URL audit
    is a pure projection (no Exchange)."""
    from safedata_validator_spark.functions import urls

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bl = spark.createDataFrame([("example.com",)], ["domain"])
    plan = _physical(urls.filter_blocked_domains(docs, "doc_id", "text", bl))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    audit_plan = _physical(urls.url_audit(docs, "doc_id", "text"))
    assert "Exchange" not in audit_plan


def test_small_scan_spread_restores_parallelism(spark):
    """r6 scan-parallelism guard: a compute-dense catalog query over a
    single-split table must plan a hash repartition to the session's
    parallelism right above the scan (the single-row-group sf files
    otherwise serialize the heavy projections onto one task), while
    opt-out queries keep the bare scan."""
    from safedata_validator_spark.queries import _t

    sf = "/root/testdata/sf0.1"  # sf0.001 documents is under the 128 KB
    # guard threshold (tiny tables skip the exchange by design)
    n = spark.sparkContext.defaultParallelism
    spread = _t(spark, sf, "documents", spread=True)
    assert spread.rdd.getNumPartitions() >= n
    assert "hashpartitioning" in _physical(spread)
    bare = _t(spark, sf, "documents")
    assert "Exchange" not in _physical(bare)


def test_spread_guard_follows_file_split_settings(spark):
    """The guard's cached split count belongs to the file-split settings it
    was planned under: once they change (as session.tune_scan_splits does),
    the next spread read plans against the new split count."""
    from safedata_validator_spark.queries import _t

    sf = SF.replace("sf0.001", "sf0.01")  # lineitem: one 1 MB file
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    saved = [spark.conf.get(k) for k in keys]
    try:
        spark.conf.set(keys[0], str(128 * 1024 * 1024))
        assert "hashpartitioning" in _physical(_t(spark, sf, "lineitem", spread=True))
        spark.conf.set(keys[0], str(64 * 1024))
        spark.conf.set(keys[1], str(16 * 1024))
        split = _t(spark, sf, "lineitem", spread=True)
        assert split.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
        assert "Exchange" not in _physical(split)
    finally:
        for k, v in zip(keys, saved):
            spark.conf.set(k, v)


def test_spread_guard_rereads_a_rewritten_table(spark, tmp_path):
    """The cached schema and split count belong to the files they were read
    from: a table rewritten at the same path with a different file count is
    planned against its new split count."""
    from safedata_validator_spark.queries import _t

    n = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "t.parquet")
    # about 1.3 MB of hex digests: over the guard's 128 KB threshold
    src = spark.range(40_000).select(
        "id", F.sha2(F.col("id").cast("string"), 256).alias("h")
    )
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    saved = [spark.conf.get(k) for k in keys]
    try:
        spark.conf.set(keys[0], str(128 * 1024 * 1024))
        spark.conf.set(keys[1], str(4 * 1024 * 1024))
        src.repartition(n).write.parquet(path)
        first = _t(spark, str(tmp_path), "t", spread=True)
        assert first.rdd.getNumPartitions() >= n
        assert "Exchange" not in _physical(first)
        src.coalesce(1).write.mode("overwrite").parquet(path)
        second = _t(spark, str(tmp_path), "t", spread=True)
        assert "hashpartitioning" in _physical(second)
    finally:
        for k, v in zip(keys, saved):
            spark.conf.set(k, v)
