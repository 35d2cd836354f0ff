"""Deduplication operators for training-data pipelines.

N-gram Jaccard (shingle self-join), MinHash+LSH
(shingle → minhash signature → band buckets → bucket join → exact verify),
SimHash (token bit-vote → hamming buckets), and embedding-cosine near-dup
(see functions.similarity).

Scale notes:
* Jaccard self-join explodes shingles; ``max_df`` drops ubiquitous shingles
  (stopword runs) whose buckets would be quadratic — the standard
  frequency-cut used by large-corpus dedup pipelines.
* MinHash/LSH replaces the all-pairs join with per-band bucket joins:
  candidates are only pairs agreeing on at least one band, then exact
  Jaccard verifies them. False negatives are bounded by the usual
  (1-s^r)^b curve; verification removes false positives.
* All hashing is xxhash64 with literal seeds — deterministic, JVM-side.
* The duplicate graph is small by design next to the corpus. Up to
  ``LOCAL_EDGES`` edges, connected components is a union-find on the
  driver and ``minhash_lsh_dedup(adaptive_cut=True)`` holds its candidate
  set as a driver-local table: at that size a distributed stage costs more
  in per-job overhead than in data. ``engine.common.localize``, the
  package's one bounded probe, decides both. Larger graphs take the
  distributed paths (star contraction, a persisted candidate set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from safedata_validator_spark.engine.common import local_table, localize, sql_ident
from safedata_validator_spark.functions.text import normalize_text

#: Edge count up to which a duplicate graph is closed on the driver: the
#: ``connected_components`` union-find, and ``minhash_lsh_dedup``'s
#: driver-local candidate set under ``adaptive_cut``.
LOCAL_EDGES = 50_000


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document → (id, shingle)."""
    toks = F.split(normalize_text(F.col(sql_ident(text_col))), " ")
    # n shifted slices zipped — O(n) array ops per row; a per-index slice
    # inside transform() would be O(len²) interpreted work per document
    length = F.size(toks) - (n - 1)
    shifted = [F.slice(toks, i + 1, F.greatest(length, F.lit(0))) for i in range(n)]
    zipped = F.arrays_zip(*shifted)
    sh = F.when(F.size(toks) >= n, F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
    )).otherwise(F.array().cast("array<string>"))
    # per-doc dedup BEFORE the explode: the shingle set is tiny per document
    # (≈ n_words), so array_distinct gives the identical distinct (id,
    # shingle) set as a post-explode .distinct() WITHOUT shuffling the full
    # exploded table (measured: removes an |shingles|-row exchange that
    # dominated the 1M-doc pipeline)
    return (
        df.select(
            F.col(sql_ident(id_col)).alias("id"),
            F.explode(F.array_distinct(sh)).alias("shingle"),
        )
        .where(F.col("shingle") != "")
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_hits: int = 1,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Train/test decontamination: flag training documents sharing at least
    ``min_hits`` distinct word n-grams with an evaluation corpus (the
    GPT-3/PaLM-style benchmark-overlap screen) → (id, n_hits).

    Scale shape: the eval corpus is tiny next to the training corpus, so
    its distinct n-gram hashes BROADCAST and contamination detection costs
    one map-side semi-join over the training shingles — the 100-TB side is
    never shuffled. Set ``broadcast_eval=False`` for an unusually large
    eval set (falls back to a shuffle join on the 8-byte hash). The n-gram
    hash (xxhash64) stands in for the string on both sides — 16-byte rows,
    collision odds 2^-64 per pair.
    """
    tr = word_shingles(train, id_col, text_col, n).select(
        "id", F.xxhash64("shingle").alias("__h")
    )
    ev = (
        word_shingles(eval_df, id_col, text_col, n)
        .select(F.xxhash64("shingle").alias("__h"))
        .distinct()
    )
    if broadcast_eval:
        ev = F.broadcast(ev)
    hits = tr.join(ev, "__h", "left_semi")
    # word_shingles de-dups per document, so count(*) IS the distinct
    # contaminated-shingle count — no second distinct pass needed
    return (
        hits.groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
        .where(F.col("n_hits") >= min_hits)
    )


def _hand_off_cache(out: DataFrame, cached: tuple[DataFrame, ...]) -> DataFrame:
    """Attach the pipeline's persisted intermediates to the result so the
    CALLER controls their release (mirroring ``RunResult.unpersist``,
    engine/validator.py): in a long-lived session, an eagerly-leaked cache
    accumulates across calls (the round-2 bench tail's ``CacheManager:
    Asked to cache already cached data`` warnings). ``release(df)`` after
    the result is materialized frees them."""
    existing = getattr(out, "_sdv_cached", ())
    out._sdv_cached = tuple(existing) + tuple(cached)
    return out


def carry(src: DataFrame, out: DataFrame) -> DataFrame:
    """Propagate a pipeline's cache hand-off through a post-processing
    transformation: ``df.select(...)`` returns a NEW DataFrame without the
    ``_sdv_cached`` attribute, silently turning the caller's ``release()``
    into a no-op (measured: leaked shingle caches re-persisted by the next
    catalog query → CacheManager 'already cached' warnings). Wrap any
    reshaping of a pipeline result: ``carry(pipeline_out, final_df)``."""
    return _hand_off_cache(out, tuple(getattr(src, "_sdv_cached", ())))


def release(df: DataFrame) -> None:
    """Unpersist every intermediate a dedup/curation pipeline persisted on
    behalf of ``df`` (no-op for frames without a cache hand-off). Blocking:
    the default async eviction races a subsequent persist() of an identical
    plan (e.g. back-to-back catalog queries sharing a shingle extraction)
    into spurious 'Asked to cache already cached data' warnings."""
    for c in getattr(df, "_sdv_cached", ()):
        c.unpersist(blocking=True)
    if hasattr(df, "_sdv_cached"):
        df._sdv_cached = ()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    adaptive_cut: bool = False,
) -> DataFrame:
    """All pairs (id_a < id_b) with Jaccard(shingles_a, shingles_b) ≥
    threshold → (id_a, id_b, n_common, n_a, n_b, jaccard)."""
    # the shingle extraction feeds several consumers (the frequency cut,
    # sizes, and both self-join sides); persist the RAW extraction once —
    # the normalize/split/slice chain is the expensive part. The persisted
    # table carries the 64-bit shingle hash, NOT the string: every
    # downstream consumer (frequency cut, self-join, sizes) needs only
    # equality, and 16-byte rows shuffle ~2-3x faster than strings. Two
    # distinct shingles colliding (2^-64 per pair) is the accepted trade —
    # the same one every production MinHash pipeline makes.
    sh_raw = (
        word_shingles(df, id_col, text_col, n)
        .select("id", F.xxhash64("shingle").alias("__h"))
        .persist()
    )
    sh = sh_raw
    caches: tuple[DataFrame, ...] = (sh_raw,)
    if max_df is not None:
        hot = sh.groupBy("__h").agg(F.count(F.lit(1)).alias("df")).where(F.col("df") > max_df)
        # adaptive_cut (same contract as minhash_lsh_dedup): one bounded
        # probe job — which must aggregate the shingle table anyway and so
        # also pre-materializes the sh_raw cache — proves the cut a no-op
        # and skips the anti-join plus the SECOND full-shingle cache. The
        # default stays False: catalog plan-building must stay job-free
        # unless the entry is listed EAGER_BY_DESIGN.
        cut = True
        if adaptive_cut:
            hot = hot.persist()
            caches = caches + (hot,)
            cut = hot.count() > 0
        if cut:
            # persist the cut table: sizes and both self-join sides read it
            # as separate cache hits instead of each re-running the hot cut
            sh = sh.join(F.broadcast(hot.select("__h")), "__h", "left_anti").persist()
            caches = caches + (sh,)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.__h") == F.col("b.__h")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    j = (
        common.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
    )
    out = j.where(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "n_common", "n_a", "n_b", "jaccard"
    )
    return _hand_off_cache(out, caches)


def shingle_hash_array(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, hs: array<bigint>) — each document's DISTINCT word n-gram
    shingle hashes as ONE compact array row, computed entirely row-locally
    (no explode, no shuffle). This is the 10×-fewer-rows representation the
    minhash pipeline persists instead of the exploded (id, __h) table: at
    10M docs the exploded form is ~180M cached rows (and round 3 cached it
    TWICE, raw + cut), whose storage pressure starved execution memory and
    spilled the signature aggregation — the measured cause of the 10M-doc
    1→4 scaling miss (BENCH/dedup_window_10M.json). Exploded views derive
    from this cache row-locally wherever a consumer needs rows."""
    toks = F.split(normalize_text(F.col(sql_ident(text_col))), " ")
    length = F.size(toks) - (n - 1)
    shifted = [F.slice(toks, i + 1, F.greatest(length, F.lit(0))) for i in range(n)]
    zipped = F.arrays_zip(*shifted)
    sh = F.when(F.size(toks) >= n, F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
    )).otherwise(F.array().cast("array<string>"))
    hs = F.transform(
        F.filter(F.array_distinct(sh), lambda x: x != ""),
        lambda s: F.xxhash64(s),
    )
    return df.select(F.col(sql_ident(id_col)).alias("id"), hs.alias("hs"))


def signatures_from_hash_arrays(packed: DataFrame, num_perm: int = 64) -> DataFrame:
    """MinHash signatures as a ROW-LOCAL projection over (id, hs) hash
    arrays: num_perm × aggregate(hs, MaxLong, (acc, h) -> least(acc,
    xxhash64(h, p))) — the zero-shuffle replacement for the former
    64-min-column groupBy over the exploded shingle table. Identical values
    (same per-permutation hash, a min is order-insensitive); what changes is
    the execution shape: no per-partition 64×8-byte-per-id aggregation hash
    tables (which overflowed and sort-spilled at 180M input rows), no
    shuffle at all — signatures pipeline into the banding projection.

    The fold (not ``array_min(transform(...))``) matters at scale: each
    ``transform`` materializes a fresh |shingles|-element array per row per
    permutation — 64 × ~180 × 8 B ≈ 92 KB of short-lived allocations per
    document, ~1 TB of allocation traffic across a 10M-doc corpus, all of
    it streaming through the shared L3 and the allocator. ``aggregate``
    keeps a SCALAR accumulator per permutation, so the only array touched
    is the cached ``hs`` itself (~1.4 KB, L1/L2-resident across all 64
    passes) — same xxhash64 evaluations, zero intermediate arrays. This is
    the measured in-box wide-level contention source behind the 10M minhash
    1→4 residual (BENCH/dedup_window_10M_r05_memprop_C.json: zero spill,
    identical shuffle bytes, yet 0.685 raw).

    Built as ONE parsed SQL expression, not num_perm ``F.aggregate``
    lambdas: constructing 64 higher-order Columns through py4j costs a
    measured 0.6 s of DRIVER time per call (pure Python/py4j chatter,
    serialized before any task runs); one ``F.expr`` parse is one call.
    The SQL text is the same expression tree — ``9223372036854775807L`` is
    the Long.MAX seed, ``xxhash64(h, p)`` hashes the (bigint, int) pair
    exactly as the Column form did — value-pinned by test.

    PRECONDITION (ADVICE r05): ``hs`` must be non-empty — an empty array
    folds to the Long.MAX seed in every slot, i.e. a well-formed signature
    that would band all empty docs together as near-duplicates. Every
    in-repo caller filters ``size(hs) > 0`` first; do the same."""
    terms = ", ".join(
        f"aggregate(hs, 9223372036854775807L, (acc, h) -> least(acc, xxhash64(h, {p})))"
        for p in range(num_perm)
    )
    return packed.select("id", F.expr(f"array({terms})").alias("signature"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 16,
    num_perm: int | None = None,
) -> DataFrame:
    """Band the signatures and bucket-join: pairs agreeing on ≥1 band.
    → (id_a, id_b) distinct, id_a < id_b. Pass ``num_perm`` when known —
    introspecting it via ``first()`` costs one full execution of the
    signature pipeline.

    Shape: the banded table (|docs| × bands rows) is persisted and
    aggregated once to find NON-SINGLETON buckets — on any real corpus the
    overwhelming majority of (band, bucket) groups hold exactly one doc, so
    a broadcast semi-join against the colliding-bucket list shrinks both
    self-join sides from |docs|×bands to ≈|candidate memberships| BEFORE
    the join. Measured at 1M docs: the naive banded self-join costs ~21s;
    this shape ~11s, of which the bucket-count aggregation is the floor.
    AQE does NOT convert these semi-joins on its own (the probe side is a
    cached scan with no exchange, so no runtime replanning point exists) —
    the broadcast is explicit. Scale envelope: the broadcast list is the
    set of colliding buckets, bounded by the near-dup candidate volume, not
    the corpus; a corpus where most buckets collide is an identical-doc
    flood that belongs to EXACT dedup first (``curate_documents`` runs it
    first by construction).

    The caller owns the persisted banded table via ``release()``."""
    if num_perm is None:
        num_perm = len(signatures.select("signature").first()["signature"])
    rows_per_band = num_perm // bands
    # bucket id = hash of (band index, the band's signature slots) DIRECTLY
    # (xxhash64 is variadic over longs) — no per-band string rendering; the
    # band index inside the hash keeps bands from cross-matching, so a
    # single 8-byte groupBy key replaces the (band, bucket) composite.
    # Parsed SQL, not per-band Column chains — same py4j-chatter economy
    # as signatures_from_hash_arrays.
    buckets_of = [
        F.expr(
            f"xxhash64({b}, "
            + ", ".join(
                f"element_at(signature, {b * rows_per_band + r + 1})"
                for r in range(rows_per_band)
            )
            + ")"
        )
        for b in range(bands)
    ]
    # persist the COMPACT per-doc bucket array (|docs| rows), not the
    # exploded banded table (|docs|×bands rows): both consumers (the
    # colliding-bucket aggregation and the self-join sides) explode it
    # row-locally from cache — same rows computed, bands× less cache
    # pressure (the round-3 banded cache was 160M rows at 10M docs)
    bucketed = signatures.select("id", F.array(*buckets_of).alias("bks")).persist()
    banded = bucketed.select("id", F.explode("bks").alias("bucket"))
    colliding = (
        banded.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .select("bucket")
    )
    small = banded.join(F.broadcast(colliding), "bucket", "left_semi")
    # pair generation via pre-aggregated bucket membership lists instead of
    # a bucket self-join (VERDICT r04 §next 4): collect each colliding
    # bucket's sorted member ids in ONE shuffle and expand the id<id pairs
    # ROW-LOCALLY from the array. The former a×b equi-join shuffled the
    # membership table TWICE (once per join side) and then shuffled the
    # pairs again for distinct — this shape shuffles memberships once
    # (map-side-combined collect_list) and keeps only the distinct. The
    # quadratic per-bucket expansion is the same pair volume the join
    # produced, now emitted from one row; bucket cardinality is bounded by
    # the near-dup candidate volume (an identical-doc flood belongs to
    # exact dedup, which curate_documents runs first by construction).
    members = (
        small.groupBy("bucket")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .select("ids")
    )
    pairs = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size("ids")),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    out = (
        members.select(F.explode(pairs).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )
    return _hand_off_cache(out, (bucketed,))


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_df: int | None = None,
    adaptive_cut: bool = False,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: candidates from banded signatures,
    verified with exact Jaccard over the shingle sets →
    (id_a, id_b, jaccard). Only candidate pairs are verified — the exact
    join runs on the (small) candidate set, not all pairs. ``max_df`` drops
    boilerplate shingles before signing AND verifying (the same frequency cut
    as ``ngram_jaccard_pairs`` — a stopword-run shingle on a real corpus
    otherwise dominates every signature).

    Memory shape (the round-3 10M-doc spill fix): the pipeline persists the
    COMPACT (id, hs array) form — ~|docs| rows — never the exploded
    |shingles|-row table (which round 3 cached twice, raw + cut, starving
    execution memory into sort-spill at 180M rows); and signatures are a
    row-local array projection (``signatures_from_hash_arrays``), not a
    64-min-column aggregation. The only |shingles|-row shuffle left is the
    frequency-cut repack, and ``adaptive_cut=True`` skips even that when the
    hot-list aggregation (which must run anyway) proves the cut is a no-op —
    the common case on real corpora with a sane ``max_df``.

    ``adaptive_cut=True`` means the call may run bounded probes while it
    builds the plan: the hot-list count above, and the bounded probe of
    ``common.localize`` over the candidate pairs, which become a
    driver-local table when at most ``LOCAL_EDGES`` of them exist, so the
    verify stage's broadcasts of them launch no job. The default stays
    False: catalog plan-building must stay job-free (tests/test_plans.py);
    scale runs opt in."""
    arr = (
        shingle_hash_array(df, id_col, text_col, n)
        .where(F.size("hs") > 0)
        .persist()
    )
    caches: tuple[DataFrame, ...] = (arr,)
    packed = arr
    if max_df is not None:
        exploded = arr.select("id", F.explode("hs").alias("__h"))
        hot = (
            exploded.groupBy("__h")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") > max_df)
            .select("__h")
        )
        repack = True
        if adaptive_cut:
            hot = hot.persist()
            caches = caches + (hot,)
            repack = hot.count() > 0
        if repack:
            # cut + repack: the one remaining |shingles|-row shuffle; light
            # 8-byte rows, collect_list buffers bounded by partition input
            packed = (
                exploded.join(F.broadcast(hot), "__h", "left_anti")
                .groupBy("id")
                .agg(F.collect_list("__h").alias("hs"))
                .persist()
            )
            caches = caches + (packed,)
    sig = signatures_from_hash_arrays(packed, num_perm)
    # candidates are tiny relative to the corpus (they're the point of LSH),
    # and the verify stage consumes them twice (member list + pair join) —
    # persist so the signature/banding pipeline runs exactly once
    cand = lsh_candidate_pairs(sig, bands, num_perm=num_perm)
    caches = caches + tuple(getattr(cand, "_sdv_cached", ()))
    if adaptive_cut:
        # the candidate set is bounded by the near-dup volume: when it fits,
        # it is a driver-local table, whose broadcasts below launch no job
        cand, _ = localize(cand, LOCAL_EDGES)
    else:
        cand = cand.persist()
    if cand.is_cached:
        caches = caches + (cand,)
    # semi-filter down to candidate-pair MEMBERS before any verify work —
    # on the COMPACT packed table (|docs| rows): without this, the verify
    # joins shuffle the full corpus to serve a candidate set many orders
    # of magnitude smaller (measured: 50s → ~7s of a 100s pipeline at 1M
    # docs). Explicit broadcast — AQE cannot replan a cached-scan probe
    # side (no exchange = no stage boundary); the member list is
    # 2×|candidate pairs| ids, bounded by the near-dup volume, not the
    # corpus.
    members = cand.select(F.explode(F.array("id_a", "id_b")).alias("id")).distinct()
    packed_c = packed.join(F.broadcast(members), "id", "left_semi")
    # verify each pair ROW-LOCALLY over the members' compact hash arrays:
    # two array-attaching joins + array_intersect replace the former
    # exploded-shingle double join hop + count groupBy + two size joins.
    # Same bytes cross the exchange (a doc's shingles move once per pair
    # either way — as ONE array row here instead of |shingles| exploded
    # rows), but the per-pair intersection needs no shuffle, no
    # aggregation state and no second cached table; sizes are row-local
    # size(hs). n_common = |A∩B| is identical — the arrays hold each
    # doc's DISTINCT shingle hashes by construction.
    j = (
        cand.join(
            packed_c.select(F.col("id").alias("id_a"), F.col("hs").alias("__hs_a")),
            "id_a",
        ).join(
            packed_c.select(F.col("id").alias("id_b"), F.col("hs").alias("__hs_b")),
            "id_b",
        )
    )
    n_common = F.size(F.array_intersect("__hs_a", "__hs_b")).cast("bigint")
    n_a = F.size("__hs_a").cast("bigint")
    n_b = F.size("__hs_b").cast("bigint")
    j = j.withColumn("jaccard", n_common / (n_a + n_b - n_common))
    out = j.where(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")
    return _hand_off_cache(out, caches)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 32,
    stats: dict | None = None,
) -> DataFrame:
    """Undirected duplicate-pair edges → (id, component), component = the
    minimum member id. Near-dup detectors emit PAIRS; corpus curation needs
    CLUSTERS (keep one representative per transitively-connected group —
    A~B, B~C must collapse to one kept doc even when A~C was never emitted).

    Eager. When the ids are integral or strings, the normalized edge set
    (hi > lo, no self-loops, distinct) goes through ``common.localize``
    with a cap of ``LOCAL_EDGES`` rows. When it fits, the edges are a
    driver-local table, the components come from a union-find over its
    rows and return as a driver-local table too: a dedup graph is tiny by
    design next to the corpus, and at that size the per-round jobs of the
    distributed path cost far more than the data. ``stats["rounds"]`` is
    then 0. Any other id type, or a graph over the cap, leaves the edges
    persisted.

    Larger graphs run alternating large-star / small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) from the persisted edges — the MapReduce-native algorithm:
    converges in O(log^2 n) rounds on ANY graph shape (a chain of near-dups
    does not cost diameter rounds, unlike naive min-label propagation), and
    large-star splits high-degree hubs so a viral duplicate cluster never
    concentrates on one reducer key beyond a single min() aggregation. Each
    round is two groupBy().min() + two joins on the edge table, whose size
    only shrinks; lineage is truncated per round with a localCheckpoint
    (the same discipline as engine/hierarchy.build_closure).

    Real dedup graphs (dense near-clique clusters) converge in 2-3 rounds;
    ``max_iterations`` is a backstop, not a tuning knob. Output covers every
    node incident to an edge — singletons are the caller's join-back.
    """
    a, b = F.col(id_a), F.col(id_b)
    edges = (
        pairs.select(F.greatest(a, b).alias("hi"), F.least(a, b).alias("lo"))
        .where(F.col("hi") != F.col("lo"))
        .distinct()
    )
    id_type = edges.schema["hi"].dataType
    # integral ids, or strings in the default binary collation: the ids
    # Python orders exactly as Spark does
    if isinstance(id_type, T.IntegralType) or id_type == T.StringType():
        edges, is_local = localize(edges, LOCAL_EDGES)
        if is_local:
            if stats is not None:
                stats["rounds"] = 0
            return _local_components(edges, id_type)
    else:
        edges = edges.persist()
    return _star_contraction(edges, max_iterations, stats)


def _local_components(edges: DataFrame, id_type: T.DataType) -> DataFrame:
    """Union-find over the rows of the driver-local (hi, lo) edge table
    (reading them runs no Spark job), each root the minimum of its set
    (strings order by code point in Python, i.e. by UTF-8 bytes as in
    Spark) → a local (id, component) table. Integral ids cross as longs
    and are cast back in a projection the optimizer folds into the
    relation."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for hi, lo in edges.collect():
        parent.setdefault(hi, hi)
        parent.setdefault(lo, lo)
        r_hi, r_lo = find(hi), find(lo)
        if r_hi != r_lo:
            parent[max(r_hi, r_lo)] = min(r_hi, r_lo)
    carrier = T.StringType() if isinstance(id_type, T.StringType) else T.LongType()
    out = local_table(
        edges.sparkSession,
        [(x, find(x)) for x in parent],
        T.StructType([T.StructField("id", carrier), T.StructField("component", carrier)]),
    )
    if carrier == id_type:
        return out
    return out.select(*[F.col(c).cast(id_type).alias(c) for c in ("id", "component")])


def _star_contraction(
    edges: DataFrame, max_iterations: int, stats: dict | None
) -> DataFrame:
    """The distributed path of ``connected_components`` over the persisted
    normalized ``edges`` (hi > lo), which it checkpoints and unpersists
    before the first round."""
    # localCheckpoint persists at the RDD level — invisible to the SQL
    # CacheManager and to DataFrame.unpersist — so each round must evict
    # the PREVIOUS round's checkpoint explicitly or a long-lived session
    # accumulates one edge-table copy per iteration. Track the persistent
    # RDD ids each checkpoint creates (diff around the localCheckpoint
    # call) and free the prior set once the new one is materialized; the
    # FINAL checkpoint backs the returned DataFrame and is handed to the
    # caller via release(). The diff assumes no OTHER thread persists RDDs
    # on this SparkSession during the (microsecond) window around the
    # localCheckpoint call — a concurrent persist would be captured into
    # the eviction set. Validation runs drive one contraction at a time,
    # so the assumption holds by construction here.
    spark = edges.sparkSession
    jsc = spark.sparkContext._jsc

    def _live_ids() -> set:
        return set(jsc.getPersistentRDDs().keySet().toArray())

    prev_cp_ids: set = set()

    def _ckpt(df: DataFrame):
        """Checkpoint *df* lazily, compute the convergence state (the
        materializing action, so each contraction round runs ONE action:
        checkpoint persist and state in the same pass over the data), then
        evict the previous round's checkpoint — only after the new one is
        fully materialized, so no recompute is ever needed."""
        nonlocal prev_cp_ids
        pre = _live_ids()
        out = df.localCheckpoint(eager=False)
        new_ids = _live_ids() - pre
        # (count, order-insensitive checksum); decimal(38,0) accumulator: a
        # long sum of 64-bit hashes overflows ANSI arithmetic after a
        # handful of rows
        state = tuple(
            out.agg(
                F.count(F.lit(1)),
                F.sum(F.xxhash64("hi", "lo").cast("decimal(38,0)")),
            ).first()
        )
        for rid in prev_cp_ids:
            r = jsc.getPersistentRDDs().get(rid)
            if r is not None:
                r.unpersist(True)
        prev_cp_ids = new_ids
        return out, state

    # Round 1 reads a checkpoint of the edges, not the cache: AQE plans
    # each of a round's references to a cached relation as its own stage,
    # and the shuffles above them were not reused (measured at 1M edges,
    # local[4]: 8 copies of the first shuffle, 44.8 s for round 1 against
    # 18.5 s from a checkpoint). The edge state seeds convergence (an input
    # that is already a fixpoint star set converges one round earlier) and
    # sizes the rounds below.
    e, prev = _ckpt(edges)
    edges.unpersist()
    # Each round's inputs are repartitioned into k partitions on the key
    # the next aggregate and join group by, so they reuse that partitioning
    # instead of each shuffling at spark.sql.shuffle.partitions; the
    # session conf is never touched (other actions may share the session).
    # k follows the edge volume (~24 B per (hi, lo) row, ≥8 MB per
    # partition), capped at the session's shuffle partitions: a tiny edge
    # set at the session default pays dozens of empty-task launches per
    # round, and an explicit partition count is never coalesced by AQE.
    k = max(
        1,
        min(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            int(prev[0] or 0) * 24 // (8 << 20) + 1,
        ),
    )
    rounds = 0
    for _ in range(max_iterations):
        # large-star: every node u links its LARGER neighbours to
        # m = min(neighbours(u) ∪ {u}) — hubs fan out, never in
        sym = (
            e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
            .unionByName(e.select(F.col("lo").alias("u"), F.col("hi").alias("v")))
            .repartition(k, "u")
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("hi"),
                F.least(F.col("u"), F.col("mv")).alias("lo"),
            )
            .repartition(k, "hi")
            .distinct()
        )
        # small-star: on the (hi > lo) edges, u re-points its smaller
        # neighbours (and itself) at m = min of its smaller neighbourhood
        mins2 = large.groupBy("hi").agg(F.min("lo").alias("m"))
        withm = large.join(mins2, "hi")
        small = (
            withm.select(F.col("hi"), F.col("m").alias("lo"))
            .unionByName(
                withm.where(F.col("lo") != F.col("m")).select(
                    F.col("lo").alias("hi"), F.col("m").alias("lo")
                )
            )
            .repartition(k, "hi")
            .distinct()
        )
        # converged when the edge set is stable: (count, order-insensitive
        # checksum). The lazy-checkpoint + state aggregate is ONE action per
        # round; no driver collect of rows.
        e, state = _ckpt(small)
        rounds += 1
        if state == prev:
            break
        prev = state
    if stats is not None:
        stats["rounds"] = rounds
    # fixpoint: every edge points a member directly at its component root
    roots = e.select(F.col("lo").alias("id")).distinct().join(
        e.select(F.col("hi").alias("id")).distinct(), "id", "left_anti"
    )
    out = e.select(F.col("hi").alias("id"), F.col("lo").alias("component")).unionByName(
        roots.select("id", F.col("id").alias("component"))
    )
    return _hand_off_cache(out, (_RddCacheHandle(jsc, prev_cp_ids),))


class _RddCacheHandle:
    """release()-compatible handle for RDD-level persists (localCheckpoint)
    that the SQL CacheManager cannot see."""

    def __init__(self, jsc, rdd_ids: set):
        self._jsc = jsc
        self._ids = set(rdd_ids)

    def unpersist(self, blocking: bool = True) -> None:
        for rid in self._ids:
            r = self._jsc.getPersistentRDDs().get(rid)
            if r is not None:
                r.unpersist(blocking)
        self._ids = set()


def dup_clusters(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Duplicate-pair edges → per-cluster summary (component, n_members,
    member_ids sorted ascending; component = min member = the conventional
    keep id). member_ids is bounded by the cluster size — safe to collect
    per row for dedup clusters, which curation caps anyway."""
    cc = connected_components(pairs, id_a, id_b)
    out = cc.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sort_array(F.collect_list("id")).alias("member_ids"),
    )
    # carry BOTH hand-offs: the pair-producing pipeline's caches AND the
    # contraction's final checkpoint handle
    return carry(pairs, carry(cc, out))


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document: each token votes ±1 on each bit of its
    hash; the signature is the sign vector. One explode + one aggregation
    with 64 sum() columns (all JVM-side bit arithmetic) → (id, simhash).

    The explode + hash-agg shape is DELIBERATE — do not "optimize" it into
    a row-local 64-fold like the minhash signatures: sum() columns run in
    whole-stage-codegen'd hash aggregation, while higher-order-function
    folds are interpreted; an A/B at 1M docs measured the fold variant
    2.5× SLOWER (28.0 s vs 10.6–12.0 s at local[4], values identical).
    The minhash fold won for the opposite reason: there the baseline was
    itself an interpreted higher-order pipeline whose transform()
    materialized per-permutation arrays — codegen was never available."""
    toks = (
        df.select(
            F.col(sql_ident(id_col)).alias("id"),
            F.explode(F.split(normalize_text(F.col(sql_ident(text_col))), " ")).alias("tok"),
        )
        .where(F.col("tok") != "")
        .select("id", F.xxhash64("tok").alias("h"))
    )
    # single-parse SQL expressions, not 64 when()-chains through py4j:
    # Column-by-Column construction of the 64 vote sums + the 64-term OR
    # chain measured 1.1 s of DRIVER time per call (serialized before any
    # task runs); two F.expr parses build the identical expression trees.
    votes = toks.groupBy("id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftright(h, {bit}) & 1) = 1 THEN 1 ELSE -1 END)"
            ).alias(f"b{bit}")
            for bit in range(64)
        ]
    )
    sig = " | ".join(
        f"(CASE WHEN b{bit} > 0 THEN shiftleft(CAST(1 AS BIGINT), {bit}) "
        "ELSE CAST(0 AS BIGINT) END)"
        for bit in range(64)
    )
    return votes.select("id", F.expr(sig).alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3, chunks: int = 4
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming, found with
    the pigeonhole trick: split the 64-bit signature into ``chunks`` pieces —
    any pair within distance < chunks must agree exactly on ≥1 piece, so
    bucket-join on each piece and verify with bit_count(xor).
    → (id_a, id_b, hamming)."""
    sig = simhash64(df, id_col, text_col)
    width = 64 // chunks
    mask = (1 << width) - 1
    pieces = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("piece"),
                        F.shiftright("simhash", c * width).bitwiseAND(F.lit(mask)).alias("val"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("p"),
    ).select("id", "simhash", F.col("p.piece").alias("piece"), F.col("p.val").alias("val"))
    a = pieces.alias("a")
    b = pieces.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.piece") == F.col("b.piece"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )
