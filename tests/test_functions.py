"""Tests for the training-data pipeline operators: text analysis, dedup
(exact / jaccard / minhash-LSH / simhash), similarity search."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from safedata_validator_spark.functions import text as tx
from safedata_validator_spark.functions import dedup as dd
from safedata_validator_spark.functions import similarity as sim

DOC = "the quick brown fox jumps over the lazy dog near the river bank today"
NEAR = "the quick brown fox jumps over the lazy dog near the river bank tonight"
OTHER = "completely different words about spark shuffles and parquet column pruning"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, DOC),
        (2, DOC),                      # exact dup of 1
        (3, "  The quick brown fox jumps over the lazy dog near the river bank today!!  "),  # dup after normalisation
        (4, NEAR),                     # near-dup of 1
        (5, OTHER),
        (6, "unrelated tiny"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_counts_and_normalize(spark):
    df = spark.createDataFrame([("Hello, world! It's 2024.",), (None,), ("   ",)], "t string")
    got = df.select(
        tx.ws_token_count(F.col("t")).alias("ws"),
        tx.bpe_token_count(F.col("t")).alias("bpe"),
        tx.normalize_text(F.col("t")).alias("norm"),
    ).collect()
    assert (got[0]["ws"], got[1]["ws"], got[2]["ws"]) == (4, 0, 0)
    # Hello , world ! It ' s 2024 . → 9 BPE-ish tokens
    assert got[0]["bpe"] == 9
    assert got[0]["norm"] == "hello world it s 2024"


def test_quality_score_orders_sensibly(spark):
    df = spark.createDataFrame(
        [("good", DOC + " " + DOC), ("junk", "!!! ### $$$ %%% ^^^"), ("empty", "")],
        "k string, t string",
    )
    got = {r["k"]: r["q"] for r in df.select("k", tx.quality_score(F.col("t")).alias("q")).collect()}
    assert got["good"] > max(got["junk"], got["empty"])
    assert got["good"] > 0.5 and got["junk"] < 0.4
    assert all(0.0 <= v <= 1.0 for v in got.values())


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            ("en", "the cat and the dog went to the house"),
            ("de", "der hund und die katze sind nicht da"),
            ("fr", "le chat est pour la maison et les arbres"),
            ("es", "el perro y la casa es que una por"),
            ("und", "zzz qqq xxx"),
        ],
        "want string, t string",
    )
    got = df.select("want", tx.lang_id(F.col("t")).alias("got")).collect()
    for r in got:
        assert r["got"] == r["want"], (r["want"], r["got"])


def test_ngram_jaccard_pairs(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5).collect()
    }
    # exact dups have jaccard 1.0; near-dup differs in last word only
    assert pairs[(1, 2)] == 1.0 and pairs[(1, 3)] == 1.0 and pairs[(2, 3)] == 1.0
    assert (1, 4) in pairs and 0.6 < pairs[(1, 4)] < 1.0
    assert not any(5 in p or 6 in p for p in pairs)


def test_minhash_lsh_finds_near_dups(spark, docs):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.minhash_lsh_dedup(docs, "doc_id", "text", threshold=0.5).collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    # verification step makes every reported jaccard exact
    for k, v in got.items():
        assert exact[k] == pytest.approx(v)
    # identical docs always collide in every band → must be found
    assert (1, 2) in got and (1, 3) in got


def test_simhash_near_pairs(spark, docs):
    sigs = {r["id"]: r["simhash"] for r in dd.simhash64(docs, "doc_id", "text").collect()}
    assert sigs[1] == sigs[2] == sigs[3]  # identical token multisets... identical signature
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in
           dd.simhash_near_pairs(docs, "doc_id", "text", max_hamming=16).collect()}
    assert got[(1, 2)] == 0 and got[(1, 3)] == 0
    assert (1, 4) in got and 0 < got[(1, 4)] <= 16
    assert (1, 5) not in got and (1, 6) not in got


@pytest.mark.parametrize("id_col, text_col", [("doc.id", "te.xt"), ("`doc`", "te`xt")])
def test_dedup_quotes_user_column_names(spark, docs, id_col, text_col):
    """Column names are identifiers, not expressions: a dotted or
    backticked id/text column gives the same rows as plain names."""
    odd = docs.toDF(id_col, text_col)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(dd.simhash64(odd, id_col, text_col)) == rows(dd.simhash64(docs, "doc_id", "text"))
    got = dd.minhash_lsh_dedup(odd, id_col, text_col, threshold=0.5)
    want = dd.minhash_lsh_dedup(docs, "doc_id", "text", threshold=0.5)
    pairs = rows(want)
    assert pairs and rows(got) == pairs
    dd.release(got)
    dd.release(want)


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    # 4 tight clusters of 5 — true neighbours are same-cluster, so ANN
    # recall is meaningful (random gaussians have no true neighbours)
    centroids = rng.standard_normal((4, 16))
    base = np.stack(
        [centroids[i % 4] + 0.15 * rng.standard_normal(16) for i in range(20)]
    ).astype("float32")
    base[7] = base[3] + 0.001 * rng.standard_normal(16).astype("float32")  # near-dup pair (3,7)
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(20)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(spark, vectors):
    queries = vectors.where(F.col("vec_id") == 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sim.brute_force_topk(vectors, queries, k=3).collect()
    assert [r["vec_id"] for r in got if r["rank"] == 1] == [7]
    assert got[0]["sim"] > 0.999


def test_lsh_topk_recall_vs_brute_force(spark, vectors):
    queries = vectors.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    bf = sim.brute_force_topk(vectors, queries, k=3)
    ann = sim.lsh_topk(vectors, queries, k=3, nbits=6, probe_hamming=2)
    bf_set = {(r["query_id"], r["vec_id"]) for r in bf.collect()}
    ann_set = {(r["query_id"], r["vec_id"]) for r in ann.collect()}
    recall = len(bf_set & ann_set) / len(bf_set)
    assert recall >= 0.6, recall
    # the engineered near-identical pair must be found even single-probe
    nd = sim.embedding_near_dup_pairs(vectors, threshold=0.999, nbits=6)
    assert {(r["id_a"], r["id_b"]) for r in nd.collect()} == {(3, 7)}


def test_ivf_topk_recall_vs_brute_force(spark, vectors):
    queries = vectors.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    bf = sim.brute_force_topk(vectors, queries, k=3)
    ann = sim.ivf_topk(vectors, queries, k=3, n_centroids=4, nprobe=2)
    bf_set = {(r["query_id"], r["vec_id"]) for r in bf.collect()}
    ann_set = {(r["query_id"], r["vec_id"]) for r in ann.collect()}
    recall = len(bf_set & ann_set) / len(bf_set)
    assert recall >= 0.6, recall
    # probing every list recovers the exact result
    exact = sim.ivf_topk(vectors, queries, k=3, n_centroids=4, nprobe=4)
    assert {(r["query_id"], r["vec_id"]) for r in exact.collect()} == bf_set
    # deterministic: same seed → same quantizer → same output
    again = sim.ivf_topk(vectors, queries, k=3, n_centroids=4, nprobe=2)
    assert {tuple(r) for r in again.collect()} == {tuple(r) for r in ann.collect()}


def test_wkt_kind_syntax_bounds(spark):
    """JVM-side WKT battery (reference locations.py:353-364 semantics:
    parseable, structurally sound, strictly 2-D)."""
    from safedata_validator_spark.functions import geo

    cases = [
        # (wkt, kind, valid, bounds-or-None)
        ("POINT (1.5 2.5)", "POINT", True, (1.5, 2.5, 1.5, 2.5)),
        ("LINESTRING (0 0, 10 -5, 4 4)", "LINESTRING", True, (0.0, -5.0, 10.0, 4.0)),
        ("POLYGON ((0 0, 2 0, 2 2, 0 0))", "POLYGON", True, (0.0, 0.0, 2.0, 2.0)),
        ("MULTIPOINT ((1 1), (3 9))", "MULTIPOINT", True, (1.0, 1.0, 3.0, 9.0)),
        ("GEOMETRYCOLLECTION (POINT (1 2))", "GEOMETRYCOLLECTION", True, (1.0, 2.0, 1.0, 2.0)),
        ("POINT Z (1 2 3)", "POINT", False, None),  # 3-D rejected (has_z)
        ("POINT (1 2 3)", "POINT", False, None),  # triple is not an x-y pair
        ("POINT (1)", "POINT", False, None),  # lone ordinate
        ("POLYGON ((0 0, 1 1)", "POLYGON", False, None),  # unbalanced parens
        ("CIRCLE (1 2)", "CIRCLE", False, None),  # unknown tag
        ("not wkt at all", "NOT", False, None),
        (None, None, None, None),
    ]
    df = spark.createDataFrame([(w,) for w, *_ in cases], "wkt string")
    got = (
        df.select(
            "wkt",
            geo.wkt_kind(F.col("wkt")).alias("kind"),
            geo.wkt_is_valid_syntax(F.col("wkt")).alias("valid"),
            geo.wkt_bounds(F.col("wkt")).alias("b"),
        )
        .collect()
    )
    by_wkt = {r["wkt"]: r for r in got}
    for wkt, kind, valid, bounds in cases:
        r = by_wkt[wkt]
        assert r["kind"] == kind, (wkt, r["kind"])
        assert r["valid"] == valid, (wkt, r["valid"])
        if bounds is not None and valid:
            assert (r["b"]["min_x"], r["b"]["min_y"], r["b"]["max_x"], r["b"]["max_y"]) == bounds, wkt

    # lon/lat hard bounds (reference resources.py:60-63)
    ll = spark.createDataFrame(
        [(0.0, 0.0, True), (-180.0, 90.0, True), (180.5, 0.0, False), (0.0, -90.5, False)],
        "lon double, lat double, want boolean",
    )
    rows = ll.select("want", geo.lonlat_in_range(F.col("lon"), F.col("lat")).alias("got")).collect()
    assert all(r["want"] == r["got"] for r in rows)

    # full OGC validity runs everywhere via the built-in pure-numpy backend
    # (shapely, when installed, is the auto-preferred engine); forcing the
    # shapely backend without the library is the only NotImplementedError
    got = {r["wkt"]: r["ogc_valid"] for r in geo.full_validity(df, "wkt").collect()}
    assert got["POINT (1.5 2.5)"] is True
    assert got["POINT Z (1 2 3)"] is False
    assert got["not wkt at all"] is False
    assert got[None] is None
    try:
        import shapely  # noqa: F401
    except ImportError:
        import pytest as _pytest

        with _pytest.raises(NotImplementedError):
            geo.full_validity(df, "wkt", backend="shapely")


def test_dedup_pipelines_hand_back_their_cache(spark, docs):
    """The shingle table each dedup pipeline persists is handed back on the
    result for caller-controlled release (VERDICT r02 §wrong 2): after
    dd.release(out) no intermediate stays cached in the session."""
    for build in (
        lambda: dd.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5),
        lambda: dd.minhash_lsh_dedup(docs, "doc_id", "text", threshold=0.5),
    ):
        out = build()
        cached = getattr(out, "_sdv_cached", ())
        assert cached, "pipeline must hand its persisted intermediates back"
        out.count()
        assert all(c.storageLevel.useMemory or c.storageLevel.useDisk for c in cached)
        dd.release(out)
        assert all(
            not (c.storageLevel.useMemory or c.storageLevel.useDisk) for c in cached
        )
        assert getattr(out, "_sdv_cached", None) == ()


def test_curate_hands_back_neardup_cache(spark, docs):
    from safedata_validator_spark.functions.pipeline import curate_documents

    out = curate_documents(docs, "doc_id", "text", method="minhash")
    assert getattr(out, "_sdv_cached", ()), "curate must propagate the hand-off"
    out.count()
    dd.release(out)


def test_curate_documents_pipeline(spark, docs):
    """End-to-end curation drops the exact dups (2,3), the near-dup (4),
    and keeps survivors passing language+quality; minhash and exact near-dup
    paths agree on this corpus."""
    from safedata_validator_spark.functions.pipeline import curate_documents

    out = curate_documents(
        docs, "doc_id", "text", min_quality=0.0, langs=("en",),
        near_dup_threshold=0.5, n=3, method="exact",
    )
    kept = {r["id"] for r in out.collect()}
    assert 1 in kept and not {2, 3, 4} & kept  # dup group keeps min id; near-dup dropped
    out_mh = curate_documents(
        docs, "doc_id", "text", min_quality=0.0, langs=("en",),
        near_dup_threshold=0.5, n=3, method="minhash",
    )
    assert {r["id"] for r in out_mh.collect()} == kept
    # quality floor actually filters
    strict = curate_documents(docs, "doc_id", "text", min_quality=0.99, langs=("en",))
    assert strict.count() == 0


def test_chargram_winnowing_fingerprints(spark, docs):
    """Winnowing guarantees: identical docs → identical fingerprint sets;
    docs sharing long substrings share fingerprints; short texts → empty;
    every fingerprint is a k-gram hash of the document itself."""
    fp = {
        r["doc_id"]: r["fps"]
        for r in tx.with_chargram_fingerprints(docs, "text", out="fps", k=8, w=4)
        .select("doc_id", "fps")
        .collect()
    }
    assert fp[1] == fp[2] == fp[3]  # exact dups (after normalisation)
    s1, s4, s5 = set(fp[1]), set(fp[4]), set(fp[5])
    overlap_near = len(s1 & s4) / len(s1 | s4)
    overlap_far = len(s1 & s5) / len(s1 | s5) if s1 | s5 else 0.0
    assert overlap_near > 0.5 > overlap_far
    short = spark.createDataFrame([(1, "tiny"), (2, None)], "doc_id long, text string")
    got = {r["doc_id"]: r["fps"] for r in tx.with_chargram_fingerprints(
        short, "text", out="fps", k=8, w=4).select("doc_id", "fps").collect()}
    assert got[1] == [] and got[2] == []


# -- F17/F18 taxon-name helpers (reference taxa.py:2227-2326; the test
# matrices mirror test/test_ncbi_taxa.py:195-360) ---------------------------

@pytest.mark.parametrize(
    "name,rank,stripped,consistent",
    [
        ("Bacteria", "Kingdom", "Bacteria", True),
        ("k__Bacteria", "Kingdom", "Bacteria", True),
        ("k__Bacteria", "Phylum", "Bacteria", False),  # prefix/rank mismatch
        ("p__Acidobacteria", "Phylum", "Acidobacteria", True),
        ("s__", "Species", None, True),  # anonymous sequence-level annotation
    ],
)
def test_strip_rank_prefix(spark, name, rank, stripped, consistent):
    row = (
        spark.createDataFrame([(name, rank)], "name string, rank string")
        .select(
            tx.strip_rank_prefix(F.col("name")).alias("s"),
            tx.rank_prefix_consistent(F.col("name"), F.col("rank")).alias("c"),
        )
        .first()
    )
    assert row["s"] == stripped and row["c"] == consistent


@pytest.mark.parametrize(
    "higher,lower,tri,expected",
    [
        ("Escherichia", "coli", False, "Escherichia coli"),
        ("Escherichia", "Escherichia coli", False, "Escherichia coli"),
        ("Gorilla", "gorilla", False, "Gorilla gorilla"),
        ("Candidatus Koribacter", "Candidatus versatilis", False,
         "Candidatus Koribacter versatilis"),
        ("Candidatus Koribacter", "versatilis", False,
         "Candidatus Koribacter versatilis"),
        # lower name is EXACTLY 'Candidatus': empty remainder must not leave
        # a trailing space — reference returns the bare higher name
        # (ADVICE r02)
        ("Candidatus Koribacter", "Candidatus", False, "Candidatus Koribacter"),
        ("Over long genus name", "vulpes", False, None),      # genus too long
        ("Canis", "Vulpes vulpes", False, None),              # inconsistent genus
        ("Vulpes vulpes", "japonica", True, "Vulpes vulpes japonica"),
        ("Candidatus Koribacter versatilis", "Ellin345", True,
         "Candidatus Koribacter versatilis Ellin345"),
        ("Candidatus Koribacter versatilis", "Candidatus Ellin345", True,
         "Candidatus Koribacter versatilis Ellin345"),
        ("Vulpes vulpes", "Vulpes vulpes schrenckii", True,
         "Vulpes vulpes schrenckii"),
        ("Canis vulpes", "Vulpes vulpes schrenckii", True, None),  # inconsistent sp.
        ("Over long name", "schrenckii", True, None),         # species too long
        ("Vulpes", "Vulpes vulpes schrenckii", True, None),   # species too short
    ],
)
def test_build_binomial(spark, higher, lower, tri, expected):
    row = (
        spark.createDataFrame([(higher, lower)], "h string, l string")
        .select(tx.build_binomial(F.col("h"), F.col("l"), tri=tri).alias("nm"))
        .first()
    )
    assert row["nm"] == expected


def test_minhash_intersect_verify_matches_exact_jaccard(spark):
    """The row-local array_intersect verification (r6: replaces the
    exploded-shingle join hops + count groupBy + size joins) must report
    the identical (pair, jaccard) set as the exact shingle-join
    computation, INCLUDING under a biting max_df cut where the repack
    rebuilds hs arrays in arbitrary collect_list order — the intersection
    count is order-insensitive by construction."""
    rows = [(i, "alpha beta gamma delta epsilon zeta common run " + ("x " * (i % 3)) + f"tail{i // 4}")
            for i in range(24)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for max_df in (None, 6):
        lsh = dd.minhash_lsh_dedup(docs, "doc_id", "text", n=3, threshold=0.2, max_df=max_df)
        exact = dd.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.2, max_df=max_df)
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in lsh.collect()}
        ref = {(r["id_a"], r["id_b"]): r["jaccard"] for r in exact.collect()}
        dd.release(lsh)
        dd.release(exact)
        # every LSH-reported pair must carry the exact jaccard; banding may
        # only MISS pairs, never fabricate or mis-score them
        for k, v in got.items():
            assert ref[k] == pytest.approx(v), (max_df, k)
        # at these similarities the planted near-dup families band together
        assert got, f"no pairs found at max_df={max_df}"


def test_minhash_adaptive_cut_matches_default(spark, docs, monkeypatch):
    """adaptive_cut=True (scale path: skip the repack shuffle when the hot
    list is provably empty) must return exactly the default path's pairs —
    both when the cut is a no-op (high max_df) and when it bites (max_df=1
    makes every shared shingle hot, so only the cut survivors pair). It
    holds a candidate set of up to LOCAL_EDGES pairs driver-locally and
    persists a larger one (LOCAL_EDGES = 0); both give the same pairs."""
    for max_df in (100, 1):
        base = dd.minhash_lsh_dedup(
            docs, "doc_id", "text", threshold=0.1, max_df=max_df
        )
        got_b = sorted(map(tuple, base.collect()))
        dd.release(base)
        for cap in (dd.LOCAL_EDGES, 0):
            monkeypatch.setattr(dd, "LOCAL_EDGES", cap)
            adaptive = dd.minhash_lsh_dedup(
                docs, "doc_id", "text", threshold=0.1, max_df=max_df, adaptive_cut=True
            )
            persisted = [c for c in adaptive._sdv_cached if c.columns == ["id_a", "id_b"]]
            # verified pairs are candidates, so with pairs found the
            # candidate set exceeds LOCAL_EDGES = 0 (an empty one fits)
            assert bool(persisted) == (cap == 0 and bool(got_b)), (max_df, cap)
            got_a = sorted(map(tuple, adaptive.collect()))
            dd.release(adaptive)
            assert got_a == got_b, f"max_df={max_df}, LOCAL_EDGES={cap}"


def test_minhash_persists_compact_arrays_only(spark, docs):
    """The spill discipline: every table the pipeline persists must be
    compact — |docs|-row arrays or candidate-bounded rows — never the full
    exploded |shingles|-row table (the round-3 10M-doc spill cause)."""
    out = dd.minhash_lsh_dedup(docs, "doc_id", "text", threshold=0.5, max_df=100)
    out.write.mode("overwrite").format("noop").save()
    n_docs = docs.count()
    for cached in out._sdv_cached:
        cols = dict(cached.dtypes)
        if "__h" in cols and "hs" not in cols:
            # exploded persists are allowed ONLY for candidate members /
            # tiny hot lists — bounded by candidates, not the corpus
            assert cached.count() <= n_docs * 20, cached.columns
        else:
            assert cached.count() <= n_docs, cached.columns
    dd.release(out)
