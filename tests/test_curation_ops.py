"""Training-pipeline hygiene operators: train/test decontamination
(functions.dedup.decontaminate), PII detection/scrubbing (functions.pii),
and deterministic split/sampling (functions.sampling)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from safedata_validator_spark.functions import pii
from safedata_validator_spark.functions import sampling as sp
from safedata_validator_spark.functions.dedup import decontaminate


# ---------------------------------------------------------------- decontaminate

def _corpora(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a completely different document about spark plans"),
            (3, "quick brown fox jumps over a sleeping cat today"),
        ],
        ["doc_id", "text"],
    )
    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over nothing at all")],
        ["doc_id", "text"],
    )
    return train, eval_df


def test_decontaminate_flags_overlapping_train_docs(spark):
    train, eval_df = _corpora(spark)
    out = decontaminate(train, eval_df, "doc_id", "text", n=5, min_hits=1)
    rows = {r["id"]: r["n_hits"] for r in out.collect()}
    # doc 1 shares 'the quick brown fox jumps' + 'quick brown fox jumps over';
    # doc 3 shares 'quick brown fox jumps over'; doc 2 shares nothing
    assert rows == {1: 2, 3: 1}


def test_decontaminate_min_hits_and_shuffle_path_agree(spark):
    train, eval_df = _corpora(spark)
    strict = decontaminate(train, eval_df, "doc_id", "text", n=5, min_hits=2)
    assert {r["id"] for r in strict.collect()} == {1}
    shuffled = decontaminate(
        train, eval_df, "doc_id", "text", n=5, broadcast_eval=False
    )
    broadcasted = decontaminate(train, eval_df, "doc_id", "text", n=5)
    assert sorted(map(tuple, shuffled.collect())) == sorted(
        map(tuple, broadcasted.collect())
    )


# --------------------------------------------------------- connected components

def _on_both_cc_paths(monkeypatch, check):
    """Run ``check(cc)`` against connected_components on the driver
    union-find (the default LOCAL_EDGES) and on the star contraction
    (LOCAL_EDGES = 0), asserting which path ran. ``cc`` takes the
    function's arguments; ``check`` may also call dup_clusters, which
    follows the same path."""
    from safedata_validator_spark.functions import dedup as dd

    for cap, local in ((dd.LOCAL_EDGES, True), (0, False)):
        monkeypatch.setattr(dd, "LOCAL_EDGES", cap)

        def cc(*args, **kw):
            stats: dict = {}
            out = dd.connected_components(*args, stats=stats, **kw)
            assert (stats["rounds"] == 0) == local, (cap, stats)
            return out

        check(cc)


def test_connected_components_chain_and_islands(spark, monkeypatch):
    # chain 1-2-3-4 (transitive, no direct 1-4 edge), island 10-11, and an
    # isolated pair order reversal (20, 12) to exercise normalization
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 12)], ["id_a", "id_b"]
    )
    from safedata_validator_spark.functions.dedup import dup_clusters

    def check(connected_components):
        cc = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
        assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 12, 20: 12}
        clusters = {
            r["component"]: (r["n_members"], r["member_ids"])
            for r in dup_clusters(pairs).collect()
        }
        assert clusters == {1: (4, [1, 2, 3, 4]), 10: (2, [10, 11]), 12: (2, [12, 20])}

    _on_both_cc_paths(monkeypatch, check)


def test_connected_components_long_chain_converges(spark, monkeypatch):
    # a 40-node path is the worst case for naive min-label propagation
    # (diameter rounds); star contraction must close it within the backstop
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["id_a", "id_b"]
    )

    def check(connected_components):
        cc = connected_components(pairs, max_iterations=12).collect()
        assert {r["component"] for r in cc} == {0}
        assert {r["id"] for r in cc} == set(range(41))

    _on_both_cc_paths(monkeypatch, check)


def test_connected_components_self_loops_and_dups(spark, monkeypatch):
    pairs = spark.createDataFrame(
        [(5, 5), (7, 8), (8, 7), (7, 8)], ["id_a", "id_b"]
    )

    def check(connected_components):
        cc = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
        assert cc == {7: 7, 8: 7}

    _on_both_cc_paths(monkeypatch, check)


def test_connected_components_string_and_int_ids(spark, monkeypatch):
    """String ids order by UTF-8 bytes on both paths ('B' < 'a' < 'é'), and
    int ids keep their type."""
    pairs = spark.createDataFrame(
        [("a", "é"), ("é", "B"), ("x", "y"), ("y", "y"), ("a\nb", "x")],
        ["id_a", "id_b"],
    )
    ints = pairs.sparkSession.createDataFrame([(3, 1), (2, 3)], "id_a int, id_b int")

    def check(connected_components):
        cc = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
        assert cc == {"a": "B", "é": "B", "B": "B", "x": "a\nb", "y": "a\nb", "a\nb": "a\nb"}
        out = connected_components(ints)
        assert out.schema.simpleString() == "struct<id:int,component:int>"
        assert sorted(map(tuple, out.collect())) == [(1, 1), (2, 1), (3, 1)]

    _on_both_cc_paths(monkeypatch, check)


def test_dup_clusters_small_graph_is_driver_local(spark):
    """A graph under LOCAL_EDGES closes on the driver: building the
    clusters runs at most three jobs (the edge distinct's map stage, the
    edge cache, the bounded probe) and their plan reads a LocalTableScan."""
    from safedata_validator_spark.functions.dedup import dup_clusters, release

    pairs = spark.range(30).select(
        F.col("id").alias("id_a"), (F.col("id") - F.col("id") % 3).alias("id_b")
    ).where(F.col("id_a") != F.col("id_b"))
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    clusters = dup_clusters(pairs)
    jobs = len(tracker.getJobIdsForGroup(None)) - before
    assert jobs <= 3, jobs
    rows = clusters.collect()
    assert "LocalTableScan" in clusters._jdf.queryExecution().executedPlan().toString()
    assert sorted((r["component"], r["member_ids"]) for r in rows) == [
        (i, [i, i + 1, i + 2]) for i in range(0, 30, 3)
    ]
    release(clusters)


def test_contraction_leaves_session_conf_alone(spark, monkeypatch):
    """The star contraction sizes its rounds with explicit repartitions; it
    must never write spark.sql.shuffle.partitions, which every other action
    on a shared session reads. A second thread polls the conf throughout."""
    import threading

    from safedata_validator_spark.functions import dedup as dd

    monkeypatch.setattr(dd, "LOCAL_EDGES", 0)
    key = "spark.sql.shuffle.partitions"
    original = spark.conf.get(key)
    seen: set = set()
    done = threading.Event()

    def poll():
        while not done.is_set():
            seen.add(spark.conf.get(key))
            done.wait(0.005)

    poller = threading.Thread(target=poll)
    poller.start()
    try:
        pairs = spark.createDataFrame([(i, i + 1) for i in range(20)], ["id_a", "id_b"])
        stats: dict = {}
        cc = dd.connected_components(pairs, stats=stats)
        assert {r["component"] for r in cc.collect()} == {0}
        dd.release(cc)
    finally:
        done.set()
        poller.join()
    assert stats["rounds"] >= 1
    assert seen == {original}, seen


# ------------------------------------------------------------------------- pii

PII_TEXT = (
    "mail alice.smith+x@example.co.uk then 192.168.0.1 "
    "call 555-867-5309 ssn 123-45-6789 card 1234-5678-9012-3456 end"
)


def test_pii_counts_each_class(spark):
    df = spark.createDataFrame([(1, PII_TEXT), (2, "clean text"), (3, None)], ["id", "t"])
    out = {
        r["id"]: r
        for r in df.select(
            "id", *[pii.pii_count(F.col("t"), k).alias(k) for k in pii.PII_PATTERNS]
        ).collect()
    }
    assert {k: out[1][k] for k in pii.PII_PATTERNS} == {
        "email": 1, "card": 1, "ssn": 1, "phone": 1, "ipv4": 1,
    }
    for rid in (2, 3):
        assert all(out[rid][k] == 0 for k in pii.PII_PATTERNS)


def test_scrub_replaces_with_tokens_and_keeps_clean_text(spark):
    df = spark.createDataFrame([(PII_TEXT,), ("clean text stays",)], ["t"])
    got = [r[0] for r in df.select(pii.scrub_pii(F.col("t"))).collect()]
    assert got[0] == (
        "mail <EMAIL> then <IPV4> call <PHONE> ssn <SSN> card <CARD> end"
    )
    assert got[1] == "clean text stays"


def test_pii_audit_chars_redacted_zero_for_clean(spark):
    df = spark.createDataFrame([(1, "no pii here"), (2, PII_TEXT)], ["id", "t"])
    rows = {r["id"]: r for r in pii.pii_audit(df, "id", "t").collect()}
    assert rows[1]["chars_redacted"] == 0
    expected_delta = len(PII_TEXT) - len(
        "mail <EMAIL> then <IPV4> call <PHONE> ssn <SSN> card <CARD> end"
    )
    assert rows[2]["chars_redacted"] == expected_delta


# --------------------------------------------------------- curate cluster mode

def test_curate_cluster_mode_drops_transitive_members(spark):
    """pairs mode keeps docs 1 AND 2 when both only pair with 3 (never with
    each other); cluster mode keeps only the component min (doc 1)."""
    from safedata_validator_spark.functions.pipeline import curate_documents

    # doc 3 is a near-dup bridge: shares half its shingles with 1 and the
    # other half with 2; 1 and 2 share nothing
    a = "alpha bravo charlie delta echo foxtrot"
    b = "golf hotel india juliet kilo lima"
    bridge = "alpha bravo charlie golf hotel india"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, bridge)], ["doc_id", "text"]
    )
    kw = dict(min_quality=0.0, langs=("und", "en", "de", "fr", "es"),
              near_dup_threshold=0.2, n=2, method="exact")
    pairs_kept = {r["id"] for r in curate_documents(df, **kw).collect()}
    cluster_kept = {
        r["id"] for r in curate_documents(df, near_dup_mode="cluster", **kw).collect()
    }
    assert pairs_kept == {1, 2}
    assert cluster_kept == {1}


def test_curate_span_removal_strips_boilerplate_keeps_tails(spark):
    """remove_dup_spans=k strips cross-doc boilerplate IN PLACE before
    similarity/quality are judged: boilerplate-heavy docs keep their
    unique tails instead of being dropped wholesale."""
    from safedata_validator_spark.functions.dedup import release
    from safedata_validator_spark.functions.pipeline import curate_documents
    from safedata_validator_spark.functions.spans import remove_duplicated_spans

    boiler = " ".join(f"license term {i} applies" for i in range(6))  # 24 toks
    docs = [
        (1, boiler + " the unique research part about ecology here"),
        (2, boiler + " a totally different discussion of chemistry instead"),
        (3, "no shared content in this one at all honestly"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    kw = dict(min_quality=0.0, langs=("und", "en", "de", "fr", "es"),
              near_dup_threshold=0.9, n=2, method="exact")

    plain = curate_documents(df, **kw)
    base = {r["id"]: r["ws_tokens"] for r in plain.collect()}
    release(plain)

    span = curate_documents(df, remove_dup_spans=8, **kw)
    got = {r["id"]: r["ws_tokens"] for r in span.collect()}
    release(span)

    # all three survive in both; with span removal the two boilerplate
    # carriers keep ONLY their 7-token tails, doc 3 is untouched
    assert set(base) == set(got) == {1, 2, 3}
    assert base[1] == 24 + 7 and got[1] == 7
    assert base[2] == 24 + 7 and got[2] == 7
    assert got[3] == base[3] == 9

    # composition wiring: with no exact dups, the pipeline with
    # remove_dup_spans=k must equal the pipeline over a corpus pre-cleaned
    # by spans.remove_duplicated_spans with the same k
    pre = remove_duplicated_spans(df, "doc_id", "text", n=8)
    pre_df = spark.createDataFrame(
        [(r["doc_id"], r["text_clean"]) for r in pre.collect()],
        ["doc_id", "text"],
    )
    release(pre)
    manual = curate_documents(pre_df, **kw)
    want = sorted(tuple(r) for r in manual.collect())
    release(manual)
    span2 = curate_documents(df, remove_dup_spans=8, **kw)
    have = sorted(tuple(r) for r in span2.collect())
    release(span2)
    assert have == want


def test_curate_lm_band_drops_extremes_keeps_middle_and_short(spark):
    """lm_band=(lo,hi) drops the self-scored perplexity extremes among
    the stage-4 survivors: the all-common-bigrams doc (low) and the
    novel-reorder doc (high) go; the mid docs stay; a doc too short to
    have bigrams (NULL band) is KEPT — length floors are stage 4's job."""
    from safedata_validator_spark.functions.dedup import release
    from safedata_validator_spark.functions.pipeline import curate_documents

    mids = [
        (i, f"the cat sat on the mat and the dog ran here variant{i}")
        for i in range(1, 6)
    ]
    docs = mids + [
        (50, "the cat sat on the mat and the dog ran here"),  # lowest ppl
        (51, "here ran dog the and mat the on sat cat the"),  # highest ppl
        (52, "x"),  # no bigrams -> NULL band -> kept
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    kw = dict(min_quality=0.0, langs=("und", "en", "de", "fr", "es"),
              near_dup_threshold=1.1, n=3, method="exact")  # no near-dup drops

    plain = curate_documents(df, **kw)
    assert {r["id"] for r in plain.collect()} == {1, 2, 3, 4, 5, 50, 51, 52}
    release(plain)

    banded = curate_documents(df, lm_band=(0.2, 0.8), **kw)
    kept = {r["id"] for r in banded.collect()}
    release(banded)
    assert kept == {1, 2, 3, 4, 5, 52}


def test_curate_span_and_band_stages_compose_in_order(spark):
    """Both optional stages together: span removal rewrites the text
    BEFORE the band is scored, so the composition must equal banding a
    corpus pre-cleaned by spans.remove_duplicated_spans (no exact dups,
    so stage 1 is the identity and order is fully pinned)."""
    from safedata_validator_spark.functions.dedup import release
    from safedata_validator_spark.functions.pipeline import curate_documents
    from safedata_validator_spark.functions.spans import remove_duplicated_spans

    boiler = " ".join(f"license term {i} applies" for i in range(6))
    docs = [(i, boiler + f" the cat sat on the mat variant number {i} here")
            for i in range(1, 7)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    kw = dict(min_quality=0.0, langs=("und", "en", "de", "fr", "es"),
              near_dup_threshold=1.1, n=3, method="exact")

    pre = remove_duplicated_spans(df, "doc_id", "text", n=8)
    pre_df = spark.createDataFrame(
        [(r["doc_id"], r["text_clean"]) for r in pre.collect()],
        ["doc_id", "text"],
    )
    release(pre)
    manual = curate_documents(pre_df, lm_band=(0.2, 0.8), **kw)
    want = sorted(tuple(r) for r in manual.collect())
    release(manual)

    combined = curate_documents(df, remove_dup_spans=8, lm_band=(0.2, 0.8), **kw)
    have = sorted(tuple(r) for r in combined.collect())
    release(combined)
    assert have == want and len(have) > 0


# ------------------------------------------------------------------ repetition

def test_repetition_profile_hand_computed(spark):
    from safedata_validator_spark.functions import repetition as rp

    # 'a b a b a' → tokens 5; 2-grams: [a b, b a, a b, b a] → total 4,
    # distinct 2, top 'a b' count 2 → top2=0.5, dup2=0.5
    # lines: 'x\nx\ny' → 3 lines, 2 distinct → dup_line_frac=1/3,
    # chars 1+1+1=3, distinct chars 2 → dup_line_char_frac=1/3
    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x\nx\ny"), (3, "q w"), (4, None)],
        ["doc_id", "text"],
    )
    rows = {
        r["id"]: r
        for r in rp.repetition_profile(df, "doc_id", "text", ns=(2,)).collect()
    }
    r1 = rows[1]
    assert (r1["n_tokens"], r1["g2_total"], r1["g2_distinct"]) == (5, 4, 2)
    assert (r1["top2gram_frac"], r1["dup2gram_frac"]) == (0.5, 0.5)
    r2 = rows[2]
    assert r2["n_lines"] == 3
    assert r2["dup_line_frac"] == round(1 / 3, 6)
    assert r2["dup_line_char_frac"] == round(1 / 3, 6)
    r3 = rows[3]  # 2 tokens → one 2-gram, no duplication
    assert (r3["g2_total"], r3["top2gram_frac"], r3["dup2gram_frac"]) == (1, 1.0, 0.0)
    r4 = rows[4]  # NULL text → zero tokens/lines, NULL fractions
    assert (r4["n_tokens"], r4["n_lines"], r4["g2_total"]) == (0, 0, 0)
    assert r4["top2gram_frac"] is None and r4["dup_line_frac"] is None


def test_max_run_counts_mode(spark):
    from safedata_validator_spark.functions.repetition import max_run

    df = spark.createDataFrame([(["b", "a", "b", "c", "b"],), ([],)], ["arr"])
    got = [r[0] for r in df.select(max_run(F.array_sort(F.col("arr")))).collect()]
    assert got == [3, 0]


# -------------------------------------------------------------------- sampling

def test_hash_split_deterministic_across_partitioning(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = sp.hash_split(df, "doc_id").collect()
    b = sp.hash_split(df.repartition(17), "doc_id").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_hash_split_weights_approximately_hold(spark):
    df = spark.range(0, 10_000).withColumnRenamed("id", "doc_id")
    counts = {
        r["split"]: r["n"]
        for r in sp.hash_split(df, "doc_id", weights={"train": 0.8, "val": 0.1, "test": 0.1})
        .groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] - 8000) < 300
    assert abs(counts["val"] - 1000) < 150
    assert abs(counts["test"] - 1000) < 150


def test_pack_sequences_chunking(spark):
    # per-source concat order by doc_id; budget 10: offsets 0,4,8,13 → seqs
    # 0,0,0,1 for src A; src B independent
    df = spark.createDataFrame(
        [(1, "A", 4), (2, "A", 4), (3, "A", 5), (4, "A", 2), (10, "B", 11), (11, "B", 1)],
        ["doc_id", "source", "n"],
    )
    out = {
        r["doc_id"]: (r["start_offset"], r["seq_id"])
        for r in sp.pack_sequences(df, "doc_id", "n", 10, part_cols=("source",)).collect()
    }
    assert out == {1: (0, 0), 2: (4, 0), 3: (8, 0), 4: (13, 1), 10: (0, 0), 11: (11, 1)}
    with pytest.raises(ValueError):
        sp.pack_sequences(df, "doc_id", "n", 0)


def test_mixture_resample_targets_and_anchor(spark):
    # 100 docs of A, 100 of B; target 3:1 → A anchors (keeps all), B keeps
    # ~1/3; C absent from targets → dropped entirely
    rows = [(i, "A") for i in range(100)] + [(i + 1000, "B") for i in range(100)]
    rows += [(i + 5000, "C") for i in range(50)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = sp.mixture_resample(df, "source", "doc_id", {"A": 3.0, "B": 1.0})
    counts = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert counts.get("C") is None
    assert counts["A"] == 100  # anchor keeps everything
    assert abs(counts["B"] - 33) <= 15  # hash-thinned to ≈ cnt/3
    # determinism across partitioning
    again = sp.mixture_resample(
        df.repartition(13), "source", "doc_id", {"A": 3.0, "B": 1.0}
    )
    assert sorted(r["doc_id"] for r in again.collect()) == sorted(
        r["doc_id"] for r in out.collect()
    )
    with pytest.raises(ValueError):
        sp.mixture_resample(df, "source", "doc_id", {})


def test_stratified_sample_is_deterministic_subset(spark):
    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"] for r in sp.stratified_sample(df, "doc_id", 0.2).collect()}
    s2 = {r["doc_id"] for r in sp.stratified_sample(df.repartition(9), "doc_id", 0.2).collect()}
    assert s1 == s2
    assert abs(len(s1) - 1000) < 150
    # independent salt: the sample is NOT the low buckets of the split hash
    with pytest.raises(ValueError):
        sp.stratified_sample(df, "doc_id", 1.5)
    with pytest.raises(ValueError):
        sp.split_assign(F.col("doc_id"), {})


# ------------------------------------------------------------------------ urls

def test_url_extraction_and_hosts(spark):
    from safedata_validator_spark.functions import urls

    df = spark.createDataFrame(
        [
            (1, "go to https://Sub.Example.COM/x?a=1 or http://other.org."),
            (2, "no links here"),
            (3, None),
        ],
        ["id", "t"],
    )
    rows = {r["id"]: r for r in urls.url_audit(df, "id", "t").collect()}
    assert rows[1]["n_urls"] == 2 and rows[1]["n_hosts"] == 2
    # hosts lowercased; the sentence-final '.' after a bare host not eaten
    assert rows[1]["hosts"] == "other.org,sub.example.com"
    assert rows[2]["n_urls"] == 0 and rows[2]["hosts"] == ""
    assert rows[3]["n_urls"] == 0


def test_host_suffixes_and_blocklist_subdomains(spark):
    from safedata_validator_spark.functions import urls

    sfx = spark.range(1).select(
        urls.host_suffixes(F.lit("a.b.example.com")).alias("s")
    ).first()["s"]
    assert sfx == ["a.b.example.com", "b.example.com", "example.com", "com"]

    docs = spark.createDataFrame(
        [
            (1, "link https://ads.tracker.net/x"),
            (2, "link https://tracker.net/y"),
            (3, "link https://nettracker.net/z"),
            (4, "clean doc"),
        ],
        ["id", "t"],
    )
    bl = spark.createDataFrame([("tracker.net",)], ["domain"])
    kept = {
        r["id"]
        for r in urls.filter_blocked_domains(docs, "id", "t", bl).collect()
    }
    # subdomain and exact host blocked; 'nettracker.net' is NOT a subdomain
    assert kept == {3, 4}


def test_connected_components_reports_rounds(spark, monkeypatch):
    # the stats hook powers the bench JSON's round-count × job-count row;
    # each round must run one action (lazy checkpoint materialized by the
    # convergence aggregate itself — see dedup._ckpt). LOCAL_EDGES = 0
    # keeps this 20-edge graph on the contraction path.
    from safedata_validator_spark.functions import dedup as dd
    from safedata_validator_spark.functions.dedup import connected_components

    monkeypatch.setattr(dd, "LOCAL_EDGES", 0)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(20)], ["id_a", "id_b"])
    stats = {}
    cc = connected_components(pairs, stats=stats).collect()
    assert stats["rounds"] >= 1
    assert {r["component"] for r in cc} == {0}
    assert {r["id"] for r in cc} == set(range(21))


def test_minhash_signature_fold_matches_materialized_form(spark):
    # signatures_from_hash_arrays computes each permutation as an
    # aggregate() fold with a scalar accumulator (zero intermediate-array
    # allocation — the 10M-doc wide-level contention fix). The fold MUST
    # stay value-identical to the straightforward
    # array_min(transform(hs, h -> xxhash64(h, p))) reading of the spec:
    # pinned here so an execution-shape refactor can't silently change
    # signature values (goldens and LSH buckets both derive from them).
    from safedata_validator_spark.functions.dedup import (
        shingle_hash_array,
        signatures_from_hash_arrays,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} alpha beta gamma tok{i % 3} delta common text {i}")
         for i in range(40)],
        ["doc_id", "text"],
    )
    arr = shingle_hash_array(docs, "doc_id", "text").where(F.size("hs") > 0)
    fold = signatures_from_hash_arrays(arr, num_perm=8)
    ref = arr.select(
        "id",
        F.array(*[
            F.array_min(
                F.transform("hs", (lambda q: (lambda h: F.xxhash64(h, F.lit(q))))(p))
            )
            for p in range(8)
        ]).alias("signature"),
    )
    mism = (
        fold.alias("f")
        .join(ref.alias("r"), "id")
        .where(F.col("f.signature") != F.col("r.signature"))
        .count()
    )
    assert fold.count() == 40
    assert mism == 0
