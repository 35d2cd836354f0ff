"""The benchmark's workloads: inputs, one timed repetition, output checks.

Each workload drives the engine's public entry points. ``prepare`` makes
or finds the seeded inputs; ``load`` opens them in a (re)built session;
``before`` resets state untimed; ``run`` is the timed
part of a repetition (entry call until every output is materialized or
written); ``check`` is untimed and returns the list of problems found (empty
when the outputs are right); ``release`` frees what ``run`` cached. A
repetition whose ``run`` raises or whose ``check`` finds a problem counts as
failed.
"""

from __future__ import annotations

import contextlib
import io
import json
import math
import os
import re
import shutil

from pyspark.sql import functions as F

from perfbench import gen
from perfbench.trace import NO_TRACE

from safedata_validator_spark import cli
from safedata_validator_spark.engine.validator import ValidationEngine
from safedata_validator_spark.functions import dedup
from safedata_validator_spark.rules.model import RuleSet
from safedata_validator_spark.rules.presets import transcript_ruleset

DAY_SCOPE = "date_format(ts,'yyyy-MM-dd')"


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _transcript_inputs(dirty: bool, n_turns: int, seed: int, extra_tables=None):
    def build():
        plan = gen.conversation_plan(n_turns, seed, dirty)
        tables = {"transcripts": gen.transcripts(plan), **gen.dim_tables(), **(extra_tables or {})}
        return tables, {"plan": plan}

    return build


class FullClean:
    """``ValidationEngine.validate()`` with stats over a clean table, single
    scope; violations, verdicts and stats materialized to the noop sink."""

    name = "full_clean"

    def __init__(self, n_turns: int = 400_000):
        self.n_turns = n_turns

    def prepare(self, cache: gen.InputCache, seed: int) -> None:
        self.path, meta = cache.get(self.name, [self.n_turns, seed], _transcript_inputs(False, self.n_turns, seed))
        self.rows = self.table_rows = meta["rows"]["transcripts"]
        self.ruleset = transcript_ruleset()

    def load(self, spark) -> None:
        self.df = spark.read.parquet(f"{self.path}/transcripts")
        self.dims = {n: spark.read.parquet(f"{self.path}/{n}") for n in ("tools", "tool_aliases")}

    def before(self) -> None:
        pass

    def run(self, spark, tracer=NO_TRACE):
        # traced runs span validate() through trace.instrument
        res = ValidationEngine().validate(self.df, self.ruleset, self.dims, with_stats=True)
        # verdicts re-read the violations: materialize them once
        res.violations.persist()
        with tracer.span("validator.violations"):
            noop(res.violations)
        with tracer.span("validator.verdicts"):
            noop(res.verdicts)
        with tracer.span("validator.stats"):
            noop(res.stats)
        return res

    def check(self, spark, res) -> list[str]:
        problems = []
        n_viol = res.violations.count()
        if n_viol:
            problems.append(f"clean table reported {n_viol} violations")
        verdicts = res.verdicts.collect()
        failed = sorted({v["rule_id"] for v in verdicts if not v["passed"]})
        if failed:
            problems.append(f"failed verdicts on a clean table: {failed}")
        rows_by_rule: dict[str, int] = {}
        for v in verdicts:
            rows_by_rule[v["rule_id"]] = rows_by_rule.get(v["rule_id"], 0) + (v["n_rows"] or 0)
        wrong = {r: n for r, n in rows_by_rule.items() if n != self.table_rows}
        if wrong or len(rows_by_rule) != len(self.ruleset.rules):
            problems.append(f"verdict n_rows per rule != {self.table_rows}: {wrong or rows_by_rule}")
        return problems

    def release(self, spark, res) -> None:
        res.violations.unpersist(blocking=True)
        res.unpersist()


class IncrementalDirty:
    """The nightly shape through ``cli.main``: day scope, a checkpoint
    manifest that already holds every day but the newest three, parquet
    dimensions, results written to parquet. Defects of every rule family are
    planted in ~10% of conversations."""

    name = "incremental_dirty"

    def __init__(self, n_turns: int = 100_000):
        self.n_turns = n_turns

    @staticmethod
    def ruleset_dict() -> dict:
        rs = transcript_ruleset().to_dict()
        for rule in rs["rules"]:
            if rule["rule_type"] == "sequential":
                rule["params"] = {**rule["params"], "examples": True}
        return rs

    def prepare(self, cache: gen.InputCache, seed: int) -> None:
        rs_dict = self.ruleset_dict()
        ruleset = RuleSet.from_dict(rs_dict)
        ruleset.scope = DAY_SCOPE  # what cli.main does with --scope
        rhash = ruleset.content_hash()
        self.pending = gen.pending_days()
        done = [gen.day_name(d) for d in range(gen.DAYS - gen.PENDING_DAYS)]
        build = _transcript_inputs(True, self.n_turns, seed, {"manifest_seed": gen.manifest_seed(rhash, done)})
        self.path, meta = cache.get(self.name, [self.n_turns, seed, rhash], build)
        self.plan = meta["plan"]
        self.rows = gen.pending_rows(self.plan)
        self.table_rows = meta["rows"]["transcripts"]
        self.seed_manifest_rows = meta["rows"]["manifest_seed"]
        self.expected = gen.expected_violations(self.plan, self.pending)
        self.expected_errors = sum(n for r, n in self.expected.items() if r not in gen.WARNING_RULES)
        work = os.path.join(os.path.dirname(self.path), "work", self.name)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        self.manifest = os.path.join(work, "manifest")
        self.out = os.path.join(work, "out")
        rs_path = os.path.join(work, "ruleset.json")
        with open(rs_path, "w") as fh:
            json.dump(rs_dict, fh)
        self.argv = [
            "--table", f"parquet:{self.path}/transcripts",
            "--ruleset", rs_path,
            "--dim", f"tools=parquet:{self.path}/tools",
            "--dim", f"tool_aliases=parquet:{self.path}/tool_aliases",
            "--out", f"parquet:{self.out}",
            "--manifest", self.manifest,
            "--scope", DAY_SCOPE,
        ]

    def load(self, spark) -> None:
        pass  # cli.main loads the tables itself

    def before(self) -> None:
        """Untimed: restore the manifest to the pre-seeded state."""
        shutil.rmtree(self.manifest, ignore_errors=True)
        shutil.copytree(f"{self.path}/manifest_seed", self.manifest)

    def run(self, spark, tracer=NO_TRACE):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf), tracer.span("cli.main"):
            code = cli.main(self.argv)
        return code, buf.getvalue()

    def check(self, spark, out) -> list[str]:
        code, stdout = out
        problems = []
        summary = json.loads(stdout.strip().splitlines()[-1])
        if code != 1:
            problems.append(f"cli exit code {code}, expected 1")
        if summary.get("pending_partitions") != gen.PENDING_DAYS:
            problems.append(f"pending partitions {summary.get('pending_partitions')} != {gen.PENDING_DAYS}")
        if summary.get("n_errors") != self.expected_errors:
            problems.append(f"summary n_errors {summary.get('n_errors')} != {self.expected_errors}")
        viols = spark.read.parquet(f"{self.out}/violations")
        got = {r["rule_id"]: r["n"] for r in viols.groupBy("rule_id").agg(F.count("*").alias("n")).collect()}
        if got != self.expected:
            problems.append(f"violations per rule {got} != plant plan {self.expected}")
        scopes = {r["scope"] for r in viols.select("scope").distinct().collect()}
        if not scopes <= set(self.pending):
            problems.append(f"violations outside the pending days: {sorted(scopes - set(self.pending))}")
        n_manifest = spark.read.parquet(self.manifest).count()
        if n_manifest != self.seed_manifest_rows + gen.PENDING_DAYS:
            problems.append(f"manifest has {n_manifest} rows, expected {self.seed_manifest_rows + gen.PENDING_DAYS}")
        return problems

    def release(self, spark, out) -> None:
        # cli.main leaves its persisted violations cached
        spark.catalog.clearCache()


class DedupClusters:
    """``minhash_lsh_dedup(max_df=20, adaptive_cut=True)`` then
    ``dup_clusters`` over a document corpus with one planted near-duplicate
    pair per 50 documents; pairs and clusters materialized."""

    name = "dedup_clusters"
    threshold = 0.5
    num_perm, bands = 64, 16

    def __init__(self, n_docs: int = 20_000):
        self.n_docs = n_docs

    def prepare(self, cache: gen.InputCache, seed: int) -> None:
        self.path, meta = cache.get(
            self.name, [self.n_docs, seed], lambda: ({"documents": gen.documents(self.n_docs, seed)}, {})
        )
        self.rows = self.table_rows = meta["rows"]["documents"]
        self.planted = gen.planted_pairs(self.n_docs)
        self.allowed_misses = banding_misses_bound(len(self.planted), self.planted_jaccard(), self.num_perm, self.bands)

    @staticmethod
    def planted_jaccard() -> float:
        shared = gen.DOC_WORDS - 2 - 2  # 3-shingles inside the shared prefix
        total = gen.DOC_WORDS - 2
        return shared / (2 * total - shared)

    def load(self, spark) -> None:
        self.df = spark.read.parquet(f"{self.path}/documents")

    def before(self) -> None:
        pass

    def run(self, spark, tracer=NO_TRACE):
        with tracer.span("dedup.lsh"):
            pairs = dedup.minhash_lsh_dedup(
                self.df, "doc_id", "text", num_perm=self.num_perm, bands=self.bands,
                threshold=self.threshold, max_df=20, adaptive_cut=True,
            ).persist()
            pairs.count()
        with tracer.span("dedup.cluster"):
            clusters = dedup.dup_clusters(pairs)
        with tracer.span("dedup.materialize"):
            clusters = clusters.persist()
            clusters.count()
        return pairs, clusters

    def check(self, spark, out) -> list[str]:
        pairs, clusters = out
        problems = []
        pair_rows = pairs.collect()
        ids = {r["id_a"] for r in pair_rows} | {r["id_b"] for r in pair_rows}
        texts = {
            r["doc_id"]: r["text"]
            for r in self.df.where(F.col("doc_id").isin(list(ids))).collect()
        } if ids else {}
        for r in pair_rows:
            exact = jaccard(texts[r["id_a"]], texts[r["id_b"]])
            if exact < self.threshold or not math.isclose(exact, r["jaccard"], abs_tol=1e-9):
                problems.append(f"pair {r['id_a']},{r['id_b']}: reported {r['jaccard']}, exact {exact}")
        found = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])) for r in pair_rows}
        misses = sum(p not in found for p in self.planted)
        if misses > self.allowed_misses:
            problems.append(f"{misses} of {len(self.planted)} planted pairs missed (bound {self.allowed_misses})")
        seen: set[int] = set()
        for c in clusters.collect():
            members = c["member_ids"]
            if c["n_members"] != len(members) or c["component"] != min(members):
                problems.append(f"malformed cluster {c['component']}")
            if seen & set(members):
                problems.append(f"documents in two clusters: {sorted(seen & set(members))[:5]}")
            seen |= set(members)
        if seen != ids:
            problems.append(f"cluster members {len(seen)} != paired documents {len(ids)}")
        return problems[:20]

    def release(self, spark, out) -> None:
        pairs, clusters = out
        dedup.release(clusters)
        clusters.unpersist(blocking=True)
        pairs.unpersist(blocking=True)


def shingles(text: str, n: int = 3) -> set[str]:
    """Word n-gram set after the dedup pipeline's normalisation (lowercase,
    runs of non-alphanumerics collapse to one space)."""
    toks = re.sub(r"[^a-z0-9]+", " ", text.lower()).strip().split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def banding_misses_bound(n_pairs: int, s: float, num_perm: int, bands: int, tail: float = 1e-9) -> int:
    """Most planted pairs (Jaccard ``s``) LSH banding may miss: the number of
    misses whose binomial tail probability, at the banding miss rate
    (1 - s^r)^b, is below ``tail`` — a bound that holds for any seed."""
    p = (1 - s ** (num_perm // bands)) ** bands
    m, cdf, pmf = 0, 0.0, (1 - p) ** n_pairs
    while m < n_pairs:
        cdf += pmf
        if 1 - cdf < tail:
            return m
        pmf *= (n_pairs - m) / (m + 1) * p / (1 - p)
        m += 1
    return n_pairs


WORKLOADS = {w.name: w for w in (FullClean, IncrementalDirty, DedupClusters)}
