"""Independent pure-Python/numpy reference implementations of the engine's
hash-seeded operators, used to generate pinned golden VALUES oracles for the
queries that cannot be expressed in DuckDB SQL (simhash, winnowing, sign-LSH,
IVF ANN).

The point of this module is INDEPENDENCE from the Spark implementations in
``safedata_validator_spark.functions``: everything here is recomputed from
first principles — xxHash64 from its public specification
(https://github.com/Cyan4973/xxHash/blob/dev/doc/xxhash_spec.md), matching
Spark's XxHash64 column semantics (seed 42, per-type primitive hashing,
multi-column chaining); tokenisation/winnowing/LSH from their published
algorithm descriptions. ``tests/test_functions.py`` cross-checks this hash
against Spark's so the two cannot drift silently.
"""

from __future__ import annotations

import math
import re

import numpy as np

MASK64 = (1 << 64) - 1
P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5

SPARK_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & MASK64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * P2) & MASK64
    h ^= h >> 29
    h = (h * P3) & MASK64
    h ^= h >> 32
    return h


def xxh64_bytes(data: bytes, seed: int) -> int:
    """XXH64 of a byte string (unsigned result)."""
    seed &= MASK64
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + P1 + P2) & MASK64
        v2 = (seed + P2) & MASK64
        v3 = seed
        v4 = (seed - P1) & MASK64
        while i + 32 <= n:
            for j, v in enumerate((v1, v2, v3, v4)):
                lane = int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little")
                v = (v + lane * P2) & MASK64
                v = (_rotl(v, 31) * P1) & MASK64
                if j == 0:
                    v1 = v
                elif j == 1:
                    v2 = v
                elif j == 2:
                    v3 = v
                else:
                    v4 = v
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & MASK64
        for v in (v1, v2, v3, v4):
            k = (_rotl((v * P2) & MASK64, 31) * P1) & MASK64
            h = (((h ^ k) * P1) + P4) & MASK64
    else:
        h = (seed + P5) & MASK64
    h = (h + n) & MASK64
    while i + 8 <= n:
        k = int.from_bytes(data[i : i + 8], "little")
        k = (_rotl((k * P2) & MASK64, 31) * P1) & MASK64
        h = ((_rotl(h ^ k, 27) * P1) + P4) & MASK64
        i += 8
    if i + 4 <= n:
        k = int.from_bytes(data[i : i + 4], "little")
        h = ((_rotl(h ^ ((k * P1) & MASK64), 23) * P2) + P3) & MASK64
        i += 4
    while i < n:
        h = ((_rotl(h ^ ((data[i] * P5) & MASK64), 11) * P1)) & MASK64
        i += 1
    return _fmix(h)


def _xxh64_long(value: int, seed: int) -> int:
    """Spark XXH64.hashLong: one 8-byte block of the long's LE bytes."""
    seed &= MASK64
    value &= MASK64
    h = (seed + P5 + 8) & MASK64
    k = (_rotl((value * P2) & MASK64, 31) * P1) & MASK64
    h = ((_rotl(h ^ k, 27) * P1) + P4) & MASK64
    return _fmix(h)


def _xxh64_int(value: int, seed: int) -> int:
    """Spark XXH64.hashInt: 4-byte primitive path."""
    seed &= MASK64
    value &= 0xFFFFFFFF
    h = (seed + P5 + 4) & MASK64
    h = ((_rotl(h ^ ((value * P1) & MASK64), 23) * P2) + P3) & MASK64
    return _fmix(h)


def _to_signed(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


class I32(int):
    """Marks a value as a 32-bit column (e.g. an ``F.lit(7)`` literal, which
    Spark types as IntegerType and hashes via the 4-byte primitive path)."""


def spark_xxhash64(*cols) -> int:
    """Replicates pyspark F.xxhash64(*cols): seed 42, each column hashed with
    the running hash as seed; str→UTF-8 bytes, I32→4-byte primitive path
    (IntegerType, e.g. plain int literals), int→long primitive path.
    Returns the SIGNED 64-bit value Spark yields."""
    h = SPARK_SEED
    for c in cols:
        if isinstance(c, str):
            h = xxh64_bytes(c.encode("utf-8"), h)
        elif isinstance(c, I32):
            h = _xxh64_int(c, h)
        elif isinstance(c, int):
            h = _xxh64_long(c, h)
        else:
            raise TypeError(type(c))
    return _to_signed(h)


# ------------------------------------------------------------------
# Text pipeline replicas (normalize → tokens / char-grams → winnow)
# ------------------------------------------------------------------

def normalize_text(s: str | None) -> str:
    s = (s or "").lower()
    s = re.sub(r"[^a-z0-9\s]", " ", s)
    return re.sub(r"\s+", " ", s).strip()


def simhash64(text: str | None) -> int:
    """Token-vote SimHash (signed 64-bit), matching functions.dedup.simhash64
    semantics: every token occurrence votes ±1 per bit of its xxhash64."""
    votes = [0] * 64
    for tok in normalize_text(text).split(" "):
        if tok == "":
            continue
        h = spark_xxhash64(tok) & MASK64
        for bit in range(64):
            votes[bit] += 1 if (h >> bit) & 1 else -1
    sig = 0
    for bit in range(64):
        if votes[bit] > 0:
            sig |= 1 << bit
    return _to_signed(sig)


def simhash_near_pairs(docs: dict[int, str], max_hamming: int = 12, chunks: int = 4):
    """Pigeonhole-bucketed near pairs → [(id_a, id_b, hamming)]."""
    sigs = {i: simhash64(t) & MASK64 for i, t in docs.items()}
    width = 64 // chunks
    mask = (1 << width) - 1
    buckets: dict[tuple[int, int], list[int]] = {}
    for i, s in sigs.items():
        for c in range(chunks):
            buckets.setdefault((c, (s >> (c * width)) & mask), []).append(i)
    cand = set()
    for ids in buckets.values():
        ids.sort()
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                cand.add((ids[x], ids[y]))
    out = []
    for a, b in sorted(cand):
        d = bin(sigs[a] ^ sigs[b]).count("1")
        if d <= max_hamming:
            out.append((a, b, d))
    return out


def winnow_fingerprints(text: str | None, k: int = 8, w: int = 4) -> list[int]:
    """MOSS winnowing selection (signed hashes, distinct, sorted)."""
    nrm = normalize_text(text)
    grams = [spark_xxhash64(nrm[i : i + k]) for i in range(len(nrm) - k + 1)]
    if not grams:
        return []
    if len(grams) < w:
        sel = grams
    else:
        sel = [min(grams[j : j + w]) for j in range(len(grams) - w + 1)]
    return sorted(set(sel))


def winnow_overlap_pairs(
    docs: dict[int, str], k: int = 8, w: int = 4, max_df: int = 20, min_common: int = 20
):
    """Fingerprint-overlap pairs → [(id_a, id_b, n_common)] after the
    boilerplate frequency cut (df > max_df dropped)."""
    fps = {i: winnow_fingerprints(t, k, w) for i, t in docs.items()}
    df_count: dict[int, int] = {}
    for sel in fps.values():
        for fp in sel:
            df_count[fp] = df_count.get(fp, 0) + 1
    keep = {fp for fp, c in df_count.items() if c <= max_df}
    posting: dict[int, list[int]] = {}
    for i, sel in fps.items():
        for fp in sel:
            if fp in keep:
                posting.setdefault(fp, []).append(i)
    counts: dict[tuple[int, int], int] = {}
    for ids in posting.values():
        ids.sort()
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                p = (ids[x], ids[y])
                counts[p] = counts.get(p, 0) + 1
    return [(a, b, c) for (a, b), c in sorted(counts.items()) if c >= min_common]


# ------------------------------------------------------------------
# Embedding replicas (sign-LSH buckets, cosine, IVF)
# ------------------------------------------------------------------

def hyperplanes(dim: int, nbits: int, seed: int = 7) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((nbits, dim)).astype(np.float64)


def lsh_bucket(vec: np.ndarray, planes: np.ndarray) -> int:
    bits = (planes @ vec.astype(np.float64)) > 0
    return int(sum(1 << i for i, b in enumerate(bits) if b))


def cosine(a, b) -> float:
    """Left-fold cosine matching the Spark expression's summation order
    (sequential aggregate over zip_with products)."""
    dot = 0.0
    na = 0.0
    nb = 0.0
    for x in a:
        na += float(x) * float(x)
    for y in b:
        nb += float(y) * float(y)
    for x, y in zip(a, b):
        dot += float(x) * float(y)
    return dot / (math.sqrt(na) * math.sqrt(nb))


def embedding_near_dup_pairs(
    vecs: dict[int, np.ndarray], threshold: float, nbits: int, seed: int = 7
):
    """Sign-LSH bucketed near-dup pairs → [(id_a, id_b, sim)]."""
    dim = len(next(iter(vecs.values())))
    planes = hyperplanes(dim, nbits, seed)
    buckets: dict[int, list[int]] = {}
    for i, v in vecs.items():
        buckets.setdefault(lsh_bucket(v, planes), []).append(i)
    out = []
    for ids in buckets.values():
        ids.sort()
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                s = cosine(vecs[ids[x]], vecs[ids[y]])
                if s >= threshold:
                    out.append((ids[x], ids[y], s))
    return sorted(out)


def _topk_from_scored(scored: dict[int, float], k: int):
    ranked = sorted(scored.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(vid, s, r + 1) for r, (vid, s) in enumerate(ranked)]


def lsh_topk(
    vecs: dict[int, np.ndarray],
    query_ids: list[int],
    k: int,
    nbits: int,
    probe_hamming: int = 1,
    seed: int = 7,
):
    """Multi-probe sign-LSH top-k → [(query_id, vec_id, sim, rank)]."""
    dim = len(next(iter(vecs.values())))
    planes = hyperplanes(dim, nbits, seed)
    assign = {i: lsh_bucket(v, planes) for i, v in vecs.items()}
    buckets: dict[int, list[int]] = {}
    for i, b in assign.items():
        buckets.setdefault(b, []).append(i)
    probes = [0] + ([1 << b for b in range(nbits)] if probe_hamming >= 1 else [])
    if probe_hamming >= 2:
        probes += [(1 << i) | (1 << j) for i in range(nbits) for j in range(i + 1, nbits)]
    out = []
    for qid in sorted(query_ids):
        qb = assign[qid]
        scored: dict[int, float] = {}
        for p in probes:
            for vid in buckets.get(qb ^ p, []):
                if vid != qid and vid not in scored:
                    scored[vid] = cosine(vecs[vid], vecs[qid])
        out += [(qid, vid, s, r) for vid, s, r in _topk_from_scored(scored, k)]
    return out


def ivf_centroids(
    vecs: dict[int, np.ndarray], n_centroids: int, seed: int = 7, lloyd_iters: int = 2
) -> np.ndarray:
    """Deterministic IVF quantizer replica: seed rows = lowest
    xxhash64(str(id), seed), then Lloyd iterations with exact (fsum) centroid
    sums over cosine-top-1 assignment."""
    order = sorted(vecs, key=lambda i: spark_xxhash64(str(i), I32(seed)))
    cents = np.stack(
        [np.asarray(vecs[i], dtype=np.float64) for i in order[:n_centroids]]
    )
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs.values()])
    for _ in range(lloyd_iters):
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        sims = (m / norms) @ cents.T
        cids = np.argmax(sims, axis=1)
        new = cents.copy()
        for cid in range(n_centroids):
            members = m[cids == cid]
            if len(members):
                s = np.array([math.fsum(members[:, d]) for d in range(m.shape[1])])
                n = np.linalg.norm(s)
                if n > 0:
                    new[cid] = s / n
        cents = new
    return cents


def ivf_topk(
    vecs: dict[int, np.ndarray],
    query_ids: list[int],
    k: int,
    n_centroids: int,
    nprobe: int,
    seed: int = 7,
    lloyd_iters: int = 2,
):
    """IVF inverted-list top-k → [(query_id, vec_id, sim, rank)]."""
    cents = ivf_centroids(vecs, n_centroids, seed, lloyd_iters)

    def top_cids(v: np.ndarray, p: int) -> list[int]:
        x = np.asarray(v, dtype=np.float64)
        n = np.linalg.norm(x)
        sims = (x / (n if n else 1.0)) @ cents.T
        return list(np.argsort(-sims, kind="stable")[:p])

    lists: dict[int, list[int]] = {}
    for i, v in vecs.items():
        lists.setdefault(top_cids(v, 1)[0], []).append(i)
    out = []
    for qid in sorted(query_ids):
        scored: dict[int, float] = {}
        for cid in top_cids(vecs[qid], nprobe):
            for vid in lists.get(cid, []):
                if vid != qid and vid not in scored:
                    scored[vid] = cosine(vecs[vid], vecs[qid])
        out += [(qid, vid, s, r) for vid, s, r in _topk_from_scored(scored, k)]
    return out


def duplicated_spans_ref(docs: dict[int, str], n: int = 20):
    """Independent reference for functions/spans.py: cross-document
    duplicated n-token windows -> merged maximal spans per doc. Windows
    are compared as exact token TUPLES (no hashing), so agreement with
    the engine also witnesses that xxhash64 did not collide on the
    corpus. Returns (tokens_by_id, spans_by_id)."""
    toks = {}
    for i, t in docs.items():
        nrm = normalize_text(t)
        toks[i] = nrm.split(" ") if nrm else []
    owners: dict[tuple, set] = {}
    for i, ts in toks.items():
        for p in range(len(ts) - n + 1):
            owners.setdefault(tuple(ts[p : p + n]), set()).add(i)
    spans = {}
    for i, ts in toks.items():
        merged: list[list[int]] = []
        for p in range(len(ts) - n + 1):
            if len(owners[tuple(ts[p : p + n])]) < 2:
                continue
            if merged and p <= merged[-1][1] + 1:
                merged[-1][1] = max(merged[-1][1], p + n - 1)
            else:
                merged.append([p, p + n - 1])
        spans[i] = [tuple(m) for m in merged]
    return toks, spans


def bigram_cross_entropy_ref(docs: dict[int, str], ref: dict[int, str] | None = None,
                             lam: float = 0.9):
    """Independent reference for functions/lm_quality.py: interpolated
    bigram cross-entropy per doc against the reference corpus model,
    P = lam*c12/c1 + (1-lam)*(c2+1)/(N+V). Exact token/tuple counting (no
    hashing). Returns {id: (n_tokens, n_bigrams, H_bits|None, ppl|None)}."""
    import math

    src = docs if ref is None else ref
    rtoks = {}
    for i, t in src.items():
        nrm = normalize_text(t)
        rtoks[i] = nrm.split(" ") if nrm else []
    uni: dict[str, int] = {}
    bg: dict[tuple, int] = {}
    for ts in rtoks.values():
        for w in ts:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ts, ts[1:]):
            bg[(a, b)] = bg.get((a, b), 0) + 1
    n_total, vocab = sum(uni.values()), len(uni)
    out = {}
    for i, t in docs.items():
        nrm = normalize_text(t)
        ts = nrm.split(" ") if nrm else []
        pairs = list(zip(ts, ts[1:]))
        if not pairs:
            out[i] = (len(ts), 0, None, None)
            continue
        h = 0.0
        for a, b in pairs:
            p_bg = bg[(a, b)] / uni[a] if (a, b) in bg else 0.0
            p_uni = (uni.get(b, 0) + 1) / (n_total + vocab)
            h += -math.log2(lam * p_bg + (1 - lam) * p_uni)
        h /= len(pairs)
        out[i] = (len(ts), len(pairs), h, 2.0 ** h)
    return out


def decontaminated_spans_ref(train: dict[int, str], eval_docs: dict[int, str],
                             n: int = 20):
    """Independent reference for spans.decontaminated_spans: training-doc
    windows appearing verbatim anywhere in the eval corpus -> merged
    maximal spans per flagged doc (exact token tuples, no hashing).
    Returns (tokens_by_id, spans_by_flagged_id)."""
    def toks_of(t):
        nrm = normalize_text(t)
        return nrm.split(" ") if nrm else []

    eval_wins = set()
    for t in eval_docs.values():
        ts = toks_of(t)
        for p in range(len(ts) - n + 1):
            eval_wins.add(tuple(ts[p : p + n]))
    toks = {i: toks_of(t) for i, t in train.items()}
    spans = {}
    for i, ts in toks.items():
        merged: list[list[int]] = []
        for p in range(len(ts) - n + 1):
            if tuple(ts[p : p + n]) not in eval_wins:
                continue
            if merged and p <= merged[-1][1] + 1:
                merged[-1][1] = max(merged[-1][1], p + n - 1)
            else:
                merged.append([p, p + n - 1])
        if merged:
            spans[i] = [tuple(m) for m in merged]
    return toks, spans
