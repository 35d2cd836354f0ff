"""Taxon-style hierarchy validation via a precomputed ancestor-closure table.

Reference analogue: GBIF parent-pointer chasing (taxa.py:414-488, canon chase
taxa.py:478-486), the NCBI recursive walk to root (taxa.py:621-647), and
hierarchy-congruence checks (``set(p.hierarchy).issubset(m.hierarchy)``,
taxa.py:1440-1453). The reference performs recursive point lookups per row —
the one pattern that would be catastrophic at scale (SURVEY §7.3.5). Here the
transitive closure is built ONCE per dimension snapshot by an iterative
self-join fixpoint with path doubling (O(log depth) shuffles of a small
dimension), and validation-time checks are plain broadcast joins against it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from safedata_validator_spark.engine.common import as_violations, sql_ident
from safedata_validator_spark.rules.model import Rule


def build_closure(nodes: DataFrame, max_iterations: int = 32) -> DataFrame:
    """(node_id, parent_id) edges → ancestor closure (node_id, ancestor_id,
    depth), including the reflexive (node, node, 0) row.

    Path-doubling fixpoint: after k iterations all paths of length ≤ 2^k are
    present, so a 6M-row / depth-~30 GBIF-style backbone closes in ~5 rounds.
    The result is cached-worthy and written once per dimension snapshot.
    """
    edges = (
        nodes.where(F.col("parent_id").isNotNull())
        .select(
            F.col("node_id").cast("long").alias("node_id"),
            F.col("parent_id").cast("long").alias("ancestor_id"),
            F.lit(1).alias("depth"),
        )
        .distinct()
    )
    selfrows = nodes.select(
        F.col("node_id").cast("long").alias("node_id"),
        F.col("node_id").cast("long").alias("ancestor_id"),
        F.lit(0).alias("depth"),
    ).distinct()

    closure = edges
    for _ in range(max_iterations):
        before = closure.count()
        hop = (
            closure.alias("a")
            .join(
                closure.alias("b"),
                F.col("a.ancestor_id") == F.col("b.node_id"),
                "inner",
            )
            .select(
                F.col("a.node_id").alias("node_id"),
                F.col("b.ancestor_id").alias("ancestor_id"),
                (F.col("a.depth") + F.col("b.depth")).alias("depth"),
            )
        )
        closure = (
            closure.unionByName(hop)
            .groupBy("node_id", "ancestor_id")
            .agg(F.min("depth").alias("depth"))
        )
        closure = closure.localCheckpoint(eager=True)  # truncate the iterative lineage
        after = closure.count()
        if after == before:
            break
    return selfrows.unionByName(closure).groupBy("node_id", "ancestor_id").agg(
        F.min("depth").alias("depth")
    )


def resolve_names(
    user: DataFrame,
    dim: DataFrame,
    name_col: str = "name",
    rank_col: str = "rank",
) -> DataFrame:
    """GBIF-style (name, rank) → preferred dimension row resolution
    (taxa.py:356-412): when several backbone rows share a name+rank, prefer
    status 'accepted', then 'doubtful', then a unique synonym; 0 matches →
    'missing', ambiguous → 'ambiguous'. The disambiguation runs on the
    DIMENSION side (tiny) as a window, precomputing one preferred row per
    (name, rank); user rows then broadcast-join it.

    Returns user columns + (node_id, status, match_status ∈
    {found, synonym, missing, ambiguous}).
    """
    prio = (
        F.when(F.col("status") == "accepted", 0)
        .when(F.col("status") == "doubtful", 1)
        .otherwise(2)
    )
    from pyspark.sql import Window

    w = Window.partitionBy(name_col, rank_col).orderBy(prio, F.col("node_id"))
    preferred = (
        dim.withColumn("__prio", prio)
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__nbest", F.count(F.lit(1)).over(Window.partitionBy(name_col, rank_col, "__prio")))
        .where(F.col("__rn") == 1)
        .select(
            F.col(name_col).alias("__name"),
            F.col(rank_col).alias("__rank"),
            "node_id",
            "status",
            # >1 row tied at the best priority and none accepted → ambiguous
            ((F.col("__nbest") > 1) & (F.col("__prio") > 0)).alias("__ambiguous"),
        )
    )
    joined = user.join(
        F.broadcast(preferred),
        (user[name_col] == F.col("__name")) & (user[rank_col] == F.col("__rank")),
        "left",
    )
    match_status = (
        F.when(F.col("node_id").isNull(), "missing")
        .when(F.col("__ambiguous"), "ambiguous")
        .when(F.col("status") == "synonym", "synonym")
        .otherwise("found")
    )
    return joined.select(*[user[c] for c in user.columns], "node_id", "status", match_status.alias("match_status"))


def name_resolution_from_counts(counts: DataFrame, rule: Rule, dims: dict) -> DataFrame:
    """Taxon-style name resolution as a validation rule (the engine analogue
    of ``validate_and_add_taxon``, taxa.py:1118-1508): every distinct
    (name, rank) claimed by the fact table (the rule's census slice) must
    resolve in the dimension — 'missing' and 'ambiguous' are ERRORs at rule
    severity, synonym use is a WARNING (the reference logs synonym
    substitution as a warning, taxa.py:1332-1340 decision matrix).

    params: dim (nodes dimension with name/rank/status/node_id columns),
    name_col, rank_col (fact columns).
    """
    dim = dims[rule.params["dim"]]
    name_col = rule.params.get("name_col", "name")
    claimed = counts.where(F.col("__val").isNotNull()).select(
        "__scope", F.col("__val").alias("name"), F.col("__val2").alias("rank"), "__n"
    )
    resolved = resolve_names(claimed, dim, "name", "rank")
    bad = resolved.where(F.col("match_status") != "found")
    sev = F.when(F.col("match_status") == "synonym", F.lit("WARNING")).otherwise(F.lit(rule.severity))
    msg = F.concat(
        F.lit("name resolution: "),
        F.col("match_status"),
        F.lit(" for ("),
        F.col("name"),
        F.lit(", "),
        F.coalesce(F.col("rank"), F.lit("∅")),
        F.lit(") ("),
        F.col("__n").cast("string"),
        F.lit(" rows)"),
    )
    entity = F.concat(F.lit("name="), F.col("name"), F.lit("/rank="), F.coalesce(F.col("rank"), F.lit("∅")))
    return bad.select(
        F.concat(F.lit(rule.rule_id), F.lit("."), F.col("match_status")).alias("rule_id"),
        sev.alias("severity"),
        F.col("__scope").cast("string").alias("scope"),
        entity.alias("entity"),
        F.lit(rule.column if rule.column else name_col).alias("column"),
        F.col("name").alias("value"),
        msg.alias("message"),
    )


def hierarchy_congruence_from_counts(counts: DataFrame, rule: Rule, dims: dict) -> DataFrame:
    """Fact rows claim (child_name, ancestor_name); the claim must hold in the
    closure table (reference congruence check taxa.py:1440-1453).

    params: nodes_dim, closure_dim, child_col, ancestor_col, name_col.
    The distinct claimed pairs (the rule's census slice) are resolved to ids
    via the (small) nodes dim and checked with a broadcast left join to the
    closure; both unknown names and non-ancestor pairs are violations.
    """
    nodes = dims[rule.params["nodes_dim"]]
    closure = dims[rule.params["closure_dim"]]
    child_col = rule.params["child_col"]
    anc_col = rule.params["ancestor_col"]
    name_col = rule.params.get("name_col", "name")
    pairs = counts.where(F.col("__val").isNotNull() & F.col("__val2").isNotNull()).select(
        "__scope", F.col("__val").alias("__child"), F.col("__val2").alias("__anc"), "__n"
    )
    ids = nodes.select(F.col(sql_ident(name_col)).alias("__name"), F.col("node_id").cast("long").alias("__id"))
    resolved = (
        pairs.join(
            F.broadcast(ids.withColumnRenamed("__name", "__child").withColumnRenamed("__id", "__cid")),
            "__child",
            "left",
        ).join(
            F.broadcast(ids.withColumnRenamed("__name", "__anc").withColumnRenamed("__id", "__aid")),
            "__anc",
            "left",
        )
    )
    checked = resolved.join(
        F.broadcast(
            closure.select(
                F.col("node_id").alias("__cid"), F.col("ancestor_id").alias("__aid"), F.lit(1).alias("__ok")
            )
        ),
        ["__cid", "__aid"],
        "left",
    )
    bad = checked.where(F.col("__ok").isNull())
    msg = F.when(F.col("__cid").isNull(), F.concat(F.lit("unknown node: "), F.col("__child"))).when(
        F.col("__aid").isNull(), F.concat(F.lit("unknown ancestor: "), F.col("__anc"))
    ).otherwise(
        F.concat(
            F.col("__anc"),
            F.lit(" is not an ancestor of "),
            F.col("__child"),
            F.lit(" ("),
            F.col("__n").cast("string"),
            F.lit(" rows)"),
        )
    )
    entity = F.concat(F.lit(f"{child_col}="), F.col("__child"), F.lit(f"/{anc_col}="), F.col("__anc"))
    return as_violations(bad, rule, F.col("__scope"), entity, F.col("__anc"), msg, column=child_col)
