"""Hierarchy closure + congruence (taxon-dimension analogue) and the
checkpoint/resume manifest."""

from __future__ import annotations

from safedata_validator_spark.data.synth import dims as synth_dims
from safedata_validator_spark.engine.checkpoint import CheckpointManifest
from safedata_validator_spark.engine.hierarchy import build_closure, resolve_names
from safedata_validator_spark.engine.validator import ValidationEngine
from safedata_validator_spark.rules.model import Rule, RuleSet

ENGINE = ValidationEngine()


def test_build_closure_full_ancestry(spark, dims):
    closure = build_closure(dims["taxonomy_nodes"])
    anc = {
        (r["node_id"], r["ancestor_id"]): r["depth"]
        for r in closure.collect()
    }
    # bash(10) → shell(6) → compute(3) → capability(1)
    assert anc[(10, 10)] == 0
    assert anc[(10, 6)] == 1
    assert anc[(10, 3)] == 2
    assert anc[(10, 1)] == 3
    # read(7) → filesystem(4) → io(2) → capability(1)
    assert anc[(7, 1)] == 3
    assert (7, 3) not in anc  # read is not under compute


def test_resolve_names_status_priority(spark, dims):
    user = spark.createDataFrame(
        [("read", "leaf"), ("bash-legacy", "leaf"), ("nope", "leaf")],
        "name string, rank string",
    )
    got = {r["name"]: r for r in resolve_names(user, dims["taxonomy_nodes"]).collect()}
    # 'read' has an accepted row (7) and a doubtful row (13) → accepted wins
    assert got["read"]["node_id"] == 7 and got["read"]["match_status"] == "found"
    assert got["bash-legacy"]["match_status"] == "synonym"
    assert got["nope"]["match_status"] == "missing"


def test_hierarchy_congruence_rule(spark, dims):
    closure = build_closure(dims["taxonomy_nodes"])
    d = dict(dims, taxonomy_closure=closure)
    df = spark.createDataFrame(
        [
            (1, "bash", "compute"),   # ok: bash under compute
            (2, "bash", "io"),        # wrong family
            (3, "ghost", "io"),       # unknown child
        ],
        "id int, leaf string, family string",
    )
    rs = RuleSet(
        name="t",
        key_cols=["id"],
        rules=[
            Rule("h", "hierarchy_congruence", severity="ERROR",
                 params={"nodes_dim": "taxonomy_nodes", "closure_dim": "taxonomy_closure",
                         "child_col": "leaf", "ancestor_col": "family"}),
        ],
    )
    got = {v["entity"]: v["message"] for v in ENGINE.validate(df, rs, d, with_stats=False).violations.collect()}
    assert set(got) == {"leaf=bash/family=io", "leaf=ghost/family=io"}
    assert "not an ancestor" in got["leaf=bash/family=io"]
    assert "unknown node" in got["leaf=ghost/family=io"]


def test_checkpoint_resume_and_rules_change(spark, dims, tmp_path):
    from safedata_validator_spark.data.synth import transcripts_good
    from safedata_validator_spark.rules.presets import transcript_ruleset

    df = transcripts_good(spark, n_convs=10, mean_turns=10, hot_factor=5)
    mani = CheckpointManifest(str(tmp_path / "manifest"))
    rs = transcript_ruleset(scope="conv_id")  # many partitions

    res, pending = ENGINE.validate_resumable(df, rs, mani, dims, snapshot_id="s1")
    assert len(pending) == 10 and res is not None
    res2, pending2 = ENGINE.validate_resumable(df, rs, mani, dims, snapshot_id="s1")
    assert res2 is None and pending2 == []

    # a changed rule set invalidates the checkpoint (different hash)
    rs_changed = transcript_ruleset(scope="conv_id", block_size=99)
    _, pending3 = ENGINE.validate_resumable(df, rs_changed, mani, dims, snapshot_id="s1")
    assert len(pending3) == 10

    mrows = mani.read(spark).collect()
    assert all(r["passed"] for r in mrows)
    assert {r["ruleset_hash"] for r in mrows} == {rs.content_hash(), rs_changed.content_hash()}


def test_checkpoint_resume_validates_only_new_partitions(spark, dims, tmp_path):
    """Incremental ingest: after a completed run, appended partitions are the
    ONLY pending work — the engine validates just them and the manifest
    accumulates (the reference's 'resume' is rerunning the whole file)."""
    from safedata_validator_spark.data.synth import transcripts_good
    from safedata_validator_spark.rules.presets import transcript_ruleset

    mani = CheckpointManifest(str(tmp_path / "mani2"))
    rs = transcript_ruleset(scope="conv_id")
    df10 = transcripts_good(spark, n_convs=10, mean_turns=10, hot_factor=5)
    ENGINE.validate_resumable(df10, rs, mani, dims, snapshot_id="s1")

    # the generator is per-conversation deterministic: n_convs=12 is the
    # 10-conversation table plus two appended conversations
    df12 = transcripts_good(spark, n_convs=12, mean_turns=10, hot_factor=5)
    res, pending = ENGINE.validate_resumable(df12, rs, mani, dims, snapshot_id="s2")
    assert sorted(pending) == ["conv-00010", "conv-00011"]
    scopes = {r["scope"] for r in res.verdicts.select("scope").distinct().collect()}
    assert scopes == {"conv-00010", "conv-00011"}
    # nothing pending afterwards; manifest holds all 12 partitions
    res2, pending2 = ENGINE.validate_resumable(df12, rs, mani, dims, snapshot_id="s2")
    assert res2 is None and pending2 == []
    parts = {r["partition"] for r in mani.read(spark).collect()}
    assert len(parts) == 12
