"""Seeded input generators for the benchmark, with an on-disk cache.

Every table is a pure function of ``(seed, size)``. Conversation layout and
defect plants are drawn from ``random.Random(seed)``; per-turn values come
from a splitmix64 hash of (conversation, turn, seed). Tables are built with
NumPy and written as parquet with pyarrow, before Spark starts, so the
program under test only ever sees the written files.

Cache entries live under ``.bench_build/perfbench/inputs`` in the checkout,
keyed by a hash of this file's source, the seed, the size and (for the
validation tables) the rule set, so a changed generator never serves stale
inputs. A hit is trusted only after the row count and the SHA-256 of every
file match what was recorded when the entry was written.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: tables are spread over this many days; the newest PENDING_DAYS are the
#: ones an incremental run has not validated yet
DAYS = 30
PENDING_DAYS = 3
FIRST_DAY = dt.date(2024, 3, 1)
TURNS_PER_CONV = 50
#: share of all turns held by the single hot conversation (the skew the
#: ordering rules must survive); it lives in the newest day
HOT_SHARE = 0.05
#: one regular conversation in PENDING_EVERY lands in a pending day: with
#: the hot conversation that puts ~10% of all turns in the pending days
#: (0.05 + 0.95 / 19 = 0.10)
PENDING_EVERY = 19
#: share of regular conversations that carry one planted defect
DIRTY_SHARE = 0.10
#: files per table: several scan splits per core at local[4]
FILES = 8

ROLES = ["system", "user", "assistant", "tool"]
TOOLS = [("bash", "shell"), ("read", "fs"), ("write", "fs"), ("grep", "search"), ("web", "net")]
TOOL_ALIASES = [("shell", "bash"), ("rg", "grep"), ("browser", "web")]
UNKNOWN_TOOL = "quantum-sdk"
UNDECLARED_ROLE = "operator"

#: defect kinds, one per dirty conversation (see ``plant_turn`` for where
#: each lands and ``expected_violations`` for what each must produce)
KINDS = ("gap", "dup", "ts_regress", "role", "tool_unknown", "tool_alias", "text_null", "text_na")
#: rules whose violations are warnings, not errors, in the transcript preset
WARNING_RULES = ("text.not_na", "tool.ref_integrity.alias")

#: near-duplicate layout of the document corpus: doc ``k`` with
#: ``k % NEARDUP_EVERY == 1`` repeats the first ``DOC_WORDS - 2`` words of
#: doc ``k - 1`` (word 3-shingle Jaccard 16/20 = 0.8)
DOC_WORDS = 20
DOC_VOCAB = 50_000
NEARDUP_EVERY = 50

_US = 1_000_000


def mix(seed: int, *keys: np.ndarray) -> np.ndarray:
    """splitmix64 of the keys and the seed, elementwise (uint64)."""
    x = np.full(np.shape(keys[0]), seed % (1 << 64), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for k in keys:
            x = (x ^ np.asarray(k, dtype=np.uint64)) * np.uint64(0x9E3779B97F4A7C15)
            x ^= x >> np.uint64(30)
            x *= np.uint64(0xBF58476D1CE4E5B9)
            x ^= x >> np.uint64(27)
            x *= np.uint64(0x94D049BB133111EB)
            x ^= x >> np.uint64(31)
    return x


# -- transcripts ---------------------------------------------------------------


def plant_turn(kind: str, n: int, rng: random.Random) -> int:
    """Turn a defect of ``kind`` is planted at, in a conversation of ``n``
    turns. Roles cycle system, user, assistant, tool, assistant, user, ...
    so user turns are 2 mod 4 and tool turns 0 mod 4."""
    if kind in ("dup", "role"):
        # user turns only: a replayed user turn is a forbidden user->user
        # edge; an undeclared role on a user turn leaves the tool column NULL
        # and keeps both grammar edges inside the conversation
        last = n if kind == "dup" else n - 1
        return 2 + 4 * rng.randrange((last - 2) // 4 + 1)
    if kind in ("tool_unknown", "tool_alias"):
        return 4 + 4 * rng.randrange((n - 4) // 4 + 1)
    if kind in ("text_null", "text_na"):
        return rng.randint(1, n)
    return rng.randint(2, n)  # gap, ts_regress: never the first turn


def conversation_plan(n_turns: int, seed: int, dirty: bool) -> dict:
    """Driver-side layout: one entry per regular conversation
    ``[conv_no, day, start_s, kind, turn]`` (kind/turn are None when clean)
    plus the hot conversation's size. Deterministic in ``seed``."""
    rng = random.Random(seed)
    n_convs = int(n_turns * (1 - HOT_SHARE)) // TURNS_PER_CONV
    convs = []
    for c in range(1, n_convs + 1):
        if c % PENDING_EVERY == 0:
            day = DAYS - PENDING_DAYS + (c // PENDING_EVERY) % PENDING_DAYS
        else:
            day = c % (DAYS - PENDING_DAYS)
        start_s = rng.randrange(40_000)  # 50 turns x <2 min stay inside the day
        kind = turn = None
        if dirty and rng.random() < DIRTY_SHARE:
            kind = rng.choice(KINDS)
            turn = plant_turn(kind, TURNS_PER_CONV, rng)
        convs.append([c, day, start_s, kind, turn])
    return {
        "seed": seed,
        "hot_turns": n_turns - n_convs * TURNS_PER_CONV,
        "hot_day": DAYS - 1,
        "convs": convs,
    }


def day_name(day: int) -> str:
    return (FIRST_DAY + dt.timedelta(days=day)).isoformat()


def pending_days() -> list[str]:
    return [day_name(d) for d in range(DAYS - PENDING_DAYS, DAYS)]


def transcripts(plan: dict) -> pa.Table:
    """The transcript table (conv_id, turn_idx, role, text, tool, ts) a
    ``conversation_plan`` describes, defects applied, sorted by
    (conv_id, turn_idx)."""
    seed = plan["seed"]
    convs = plan["convs"]
    n_hot = plan["hot_turns"]
    # regular conversations first, the hot one ("conv-hot-000") sorts last
    conv_no = np.array([c[0] for c in convs] + [0], dtype=np.int64)
    day = np.array([c[1] for c in convs] + [plan["hot_day"]], dtype=np.int64)
    start_s = np.array([c[2] for c in convs] + [60], dtype=np.int64)
    kind = np.array([KINDS.index(c[3]) if c[3] else -1 for c in convs] + [-1], dtype=np.int64)
    plant = np.array([c[4] or 0 for c in convs] + [0], dtype=np.int64)
    n = np.array([TURNS_PER_CONV] * len(convs) + [n_hot], dtype=np.int64)

    conv = np.repeat(np.arange(len(n)), n)
    t = np.arange(n.sum()) - np.repeat(np.cumsum(n) - n, n) + 1
    k = kind[conv]
    at_plant = t == plant[conv]

    def planted(name: str) -> np.ndarray:
        # rows of the current k / at_plant (reordered below) carrying a plant
        return (k == KINDS.index(name)) & at_plant

    # the planted duplicate is an exact replay of one row, kept adjacent
    order = np.sort(np.concatenate([np.arange(len(t)), np.flatnonzero(planted("dup"))]), kind="stable")
    conv, t, k, at_plant = conv[order], t[order], k[order], at_plant[order]

    h = mix(seed, conv_no[conv], t)
    hot = conv_no[conv] == 0
    day_us = (np.datetime64(FIRST_DAY, "us").astype(np.int64) + day[conv] * 86_400 * _US)
    hot_step_us = min(90 * _US, 80_000 * _US // max(n_hot, 1))

    def ts_us(turn: np.ndarray, hh: np.ndarray) -> np.ndarray:
        # 90 s steps dominate the 0-29 s jitter: strictly increasing per
        # conversation, and every conversation ends inside its day
        regular = start_s[conv] * _US + turn * 90 * _US + (hh % np.uint64(30)).astype(np.int64) * _US
        return day_us + np.where(hot, 60 * _US + turn * hot_step_us, regular)

    ts = ts_us(t, h)
    regress = planted("ts_regress")
    ts[regress] = ts_us(t - 1, mix(seed, conv_no[conv], t - 1))[regress] - _US

    role = np.array(["assistant"] * len(t), dtype=object)
    role[(t - 2) % 4 == 0] = "user"
    role[(t - 2) % 4 == 2] = "tool"
    role[t == 1] = "system"
    tool = np.full(len(t), None, dtype=object)
    is_tool = role == "tool"
    tool[is_tool] = np.array([name for name, _ in TOOLS], dtype=object)[(h[is_tool] % np.uint64(len(TOOLS))).astype(np.int64)]
    role[planted("role")] = UNDECLARED_ROLE
    tool[planted("tool_unknown")] = UNKNOWN_TOOL
    tool[planted("tool_alias")] = "shell"

    conv_ids = np.array([f"conv-{c:09d}" for c in conv_no[:-1]] + ["conv-hot-000"], dtype=object)
    reps = ((h >> np.uint64(16)) % np.uint64(5)).astype(np.int64) + 1
    lorem = ["lorem ipsum dolor sit amet " * r for r in range(6)]
    text = np.array(
        [f"msg {conv_ids[c]} t{tt}: {lorem[r]}".rstrip() for c, tt, r in zip(conv.tolist(), t.tolist(), reps.tolist())],
        dtype=object,
    )
    text[planted("text_null")] = None
    text[planted("text_na")] = "NA"

    gap = k == KINDS.index("gap")
    turn_idx = np.where(gap & (t >= plant[conv]), t + 1, t)
    return pa.table({
        "conv_id": pa.array(conv_ids[conv], pa.string()),
        "turn_idx": pa.array(turn_idx, pa.int32()),
        "role": pa.array(role, pa.string()),
        "text": pa.array(text, pa.string()),
        "tool": pa.array(tool, pa.string()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
    })


def pending_rows(plan: dict) -> int:
    """Turns (planted replays included) in the pending days."""
    first = DAYS - PENDING_DAYS
    n = plan["hot_turns"] if plan["hot_day"] >= first else 0
    for _c, day, _s, kind, _t in plan["convs"]:
        if day >= first:
            n += TURNS_PER_CONV + (kind == "dup")
    return n


def expected_violations(plan: dict, days: list[str], max_examples: int = 100) -> dict[str, int]:
    """Violation rows per rule id that the transcript rule set (sequential
    rule with examples) must report over ``days``, derived from the plant
    plan. Each planted defect's effect is fixed by where ``plant_turn`` puts
    it:

    * gap at t: one sequence violation; rows t..50 are renumbered, so
      51 - t example rows;
    * replayed user turn t: one duplicate key, one sequence violation, one
      forbidden user->user edge, 51 - t example rows;
    * ts regression: one monotone violation;
    * undeclared role on a user turn: one in_levels row, two forbidden
      edges, and one levels-audit row per day the value occurs in;
    * unknown / aliased tool: one row per day the value occurs in;
    * NULL text: one not_blank row; 'NA' text: one not_na row.

    The example drilldown reports at most ``max_examples`` rows in total.
    """
    n = {k: 0 for k in KINDS}
    kind_days: dict[str, set] = {k: set() for k in KINDS}
    example_rows = 0
    for _c, day, _s, kind, turn in plan["convs"]:
        if kind is None or day_name(day) not in days:
            continue
        n[kind] += 1
        kind_days[kind].add(day)
        if kind in ("gap", "dup"):
            example_rows += TURNS_PER_CONV + 1 - turn
    out = {
        "text.not_blank": n["text_null"],
        "text.not_na": n["text_na"],
        "role.in_levels": n["role"],
        "role.levels_audit": len(kind_days["role"]),
        "role.grammar": 2 * n["role"] + n["dup"],
        "tool.ref_integrity": len(kind_days["tool_unknown"]),
        "tool.ref_integrity.alias": len(kind_days["tool_alias"]),
        "key.unique": n["dup"],
        "turn_idx.sequential": n["gap"] + n["dup"],
        "turn_idx.sequential.example": min(max_examples, example_rows),
        "ts.monotone": n["ts_regress"],
    }
    return {k: v for k, v in out.items() if v}


# -- documents -----------------------------------------------------------------


def documents(n_docs: int, seed: int) -> pa.Table:
    """(doc_id, text): ``DOC_WORDS`` hash-drawn words per document, with the
    planted near-duplicate pairs of ``planted_pairs``."""
    ids = np.arange(n_docs, dtype=np.int64)
    paired = (ids % NEARDUP_EVERY == 1) & (ids > 0)
    pos = np.arange(DOC_WORDS)
    # a twin takes its first DOC_WORDS - 2 words from its original
    src = np.where(paired[:, None] & (pos[None, :] < DOC_WORDS - 2), ids[:, None] - 1, ids[:, None])
    word = (mix(seed, src, np.broadcast_to(pos, src.shape)) % np.uint64(DOC_VOCAB)).astype(np.int64)
    vocab = [f"w{v:05d}" for v in range(DOC_VOCAB)]
    text = [" ".join(vocab[w] for w in row) for row in word.tolist()]
    return pa.table({"doc_id": pa.array(ids), "text": pa.array(text, pa.string())})


def planted_pairs(n_docs: int) -> list[tuple[int, int]]:
    return [(k - 1, k) for k in range(1, n_docs) if k % NEARDUP_EVERY == 1]


# -- dimensions and manifest ---------------------------------------------------


def dim_tables() -> dict[str, pa.Table]:
    return {
        "tools": pa.table({"tool": [t for t, _ in TOOLS], "category": [c for _, c in TOOLS]}),
        "tool_aliases": pa.table({"alias": [a for a, _ in TOOL_ALIASES], "tool": [t for _, t in TOOL_ALIASES]}),
    }


def manifest_seed(ruleset_hash: str, days: list[str]) -> pa.Table:
    """Checkpoint-manifest rows (engine.checkpoint.MANIFEST_DDL) recording
    ``days`` as validated under ``ruleset_hash``."""
    n = len(days)
    return pa.table({
        "partition": pa.array(days, pa.string()),
        "ruleset_hash": pa.array([ruleset_hash] * n, pa.string()),
        "snapshot_id": pa.array([""] * n, pa.string()),
        "n_rows": pa.array([None] * n, pa.int64()),
        "n_violations": pa.array([None] * n, pa.int64()),
        "n_errors": pa.array([None] * n, pa.int64()),
        "passed": pa.array([None] * n, pa.bool_()),
        "completed_at": pa.array([None] * n, pa.float64()),
        "run_id": pa.array(["seed"] * n, pa.string()),
    })


# -- cache ---------------------------------------------------------------------


def write_table(table: pa.Table, path: str, files: int = FILES) -> None:
    """Parquet directory of ``files`` contiguous slices of ``table``."""
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows or i == 0:
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def _file_sums(path: str) -> dict[str, str]:
    """{relative path: SHA-256} of every parquet file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(root, f), "rb") as fh:
                    out[os.path.relpath(os.path.join(root, f), path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _rows(path: str) -> int:
    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows for f in os.listdir(path))


class InputCache:
    """Directory of generated input sets, one sub-directory per key, each
    holding parquet tables plus ``meta.json`` (per-file rows and SHA-256,
    and generator metadata such as the plant plan)."""

    KEEP = 4  # entries kept per input name; older ones are pruned

    def __init__(self, root: str):
        self.root = root

    def get(self, name: str, key_parts: list, build) -> tuple[str, dict]:
        """Path and metadata of the input set ``name`` for ``key_parts``;
        ``build() -> (tables: {name: pa.Table}, meta)`` runs on a miss."""
        with open(__file__, "rb") as fh:
            source = hashlib.sha256(fh.read()).hexdigest()
        digest = hashlib.sha256(json.dumps([source, *key_parts]).encode()).hexdigest()[:12]
        path = os.path.join(self.root, f"{name}-{digest}")
        meta = self._verified(path)
        if meta is not None:
            os.utime(path)
            return path, meta
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tables, meta = build()
        for tname, table in tables.items():
            write_table(table, os.path.join(tmp, tname), FILES if table.num_rows > 1000 else 1)
        meta = {**meta, "rows": {t: tables[t].num_rows for t in tables}, "files": _file_sums(tmp)}
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump(meta, fh)
        os.rename(tmp, path)
        self._prune(name)
        return path, meta

    def _verified(self, path: str) -> dict | None:
        try:
            with open(os.path.join(path, "meta.json")) as fh:
                meta = json.load(fh)
            if _file_sums(path) != meta["files"]:
                return None
            if any(_rows(os.path.join(path, t)) != n for t, n in meta["rows"].items()):
                return None
        except (OSError, ValueError, pa.ArrowException):
            return None
        return meta

    def _prune(self, name: str) -> None:
        entries = [
            os.path.join(self.root, e)
            for e in os.listdir(self.root)
            if e.startswith(name + "-") and not e.endswith(".tmp")
        ]
        entries.sort(key=os.path.getmtime, reverse=True)
        for old in entries[self.KEEP:]:
            shutil.rmtree(old, ignore_errors=True)
