"""Unit tests per compiled rule expression on tiny DataFrames — the analogue
of the reference's log-assertion unit tests (test/test_validators.py,
test/test_field.py): assert on violation rows instead of log text."""

from __future__ import annotations

from pyspark.sql import functions as F

from safedata_validator_spark.engine.validator import ValidationEngine
from safedata_validator_spark.rules.model import ERROR, WARNING, Rule, RuleSet

ENGINE = ValidationEngine()


def _ruleset(*rules, key_cols=None):
    return RuleSet(name="t", rules=list(rules), key_cols=key_cols or ["id"])


def _viols(spark, data, ddl, *rules, key_cols=None):
    df = spark.createDataFrame(data, ddl)
    rs = _ruleset(*rules, key_cols=key_cols)
    return ENGINE.validate(df, rs, with_stats=False).violations.collect()


def test_not_blank(spark):
    got = _viols(
        spark,
        [(1, "ok"), (2, None), (3, ""), (4, "   "), (5, "x")],
        "id int, v string",
        Rule("r", "not_blank", column="v"),
    )
    assert sorted(v["entity"] for v in got) == ["id=2", "id=3", "id=4"]
    assert all(v["severity"] == ERROR and v["rule_id"] == "r" for v in got)


def test_not_na_and_excel_error(spark):
    got = _viols(
        spark,
        [(1, "NA"), (2, "na"), (3, "#DIV/0!"), (4, "fine")],
        "id int, v string",
        Rule("na", "not_na", column="v", severity=WARNING),
        Rule("xl", "no_excel_error", column="v"),
    )
    by_rule = {(v["rule_id"], v["entity"]) for v in got}
    assert by_rule == {("na", "id=1"), ("xl", "id=3")}


def test_not_padded(spark):
    got = _viols(
        spark,
        [(1, " x"), (2, "x "), (3, "x"), (4, None), (5, " ")],
        "id int, v string",
        Rule("r", "not_padded", column="v"),
    )
    # ' ' trims to '' ≠ ' ' → padded too (blankness is a separate rule)
    assert sorted(v["entity"] for v in got) == ["id=1", "id=2", "id=5"]


def test_in_levels(spark):
    got = _viols(
        spark,
        [(1, "a"), (2, "b"), (3, "C"), (4, None)],
        "id int, v string",
        Rule("r", "in_levels", column="v", params={"levels": ["a", "b"]}),
    )
    assert sorted(v["entity"] for v in got) == ["id=3", "id=4"]
    got2 = _viols(
        spark,
        [(4, None)],
        "id int, v string",
        Rule("r", "in_levels", column="v", params={"levels": ["a"], "allow_null": True}),
    )
    assert got2 == []


def test_pattern_and_numeric_string(spark):
    got = _viols(
        spark,
        [(1, "a,b"), (2, "ab"), (3, "12.5"), (4, "x2")],
        "id int, v string",
        Rule("punct", "pattern", column="v", params={"regex": "[,;:]", "negate": True}),
        Rule("num", "numeric_string", column="v", severity=WARNING),
    )
    by_rule = {(v["rule_id"], v["entity"]) for v in got}
    assert by_rule == {("punct", "id=1"), ("num", "id=3")}


def test_castable_and_bounds(spark):
    got = _viols(
        spark,
        [(1, "2024-01-01", 5.0), (2, "not a date", 50.0), (3, None, -1.0)],
        "id int, d string, x double",
        Rule("cast", "castable", column="d", params={"to": "date"}),
        Rule("b", "bounds", column="x", params={"lo": 0.0, "hi": 10.0}),
    )
    by_rule = {(v["rule_id"], v["entity"]) for v in got}
    assert by_rule == {("cast", "id=2"), ("b", "id=2"), ("b", "id=3")}


def test_expr_rule(spark):
    got = _viols(
        spark,
        [(1, "tool", "bash"), (2, "user", "bash"), (3, "user", None)],
        "id int, role string, tool string",
        Rule("r", "expr", column="tool",
             params={"sql": "tool IS NULL OR role = 'tool'", "message": "bad tool turn"}),
    )
    assert [v["entity"] for v in got] == ["id=2"]
    assert got[0]["message"] == "bad tool turn"


def test_lint_rejects_unknown(spark):
    df = spark.createDataFrame([(1,)], "id int")
    stale = [
        (Rule("r", "no_such_type", column="id"), "no_such_type"),
        # the retired self-join adjacency must fail before any job runs,
        # never fall back to the blocked window silently
        (Rule("m", "monotone", column="id",
              params={"group": "id", "order": "id", "adjacency": "join"}), "'adjacency'"),
    ]
    for rule, needle in stale:
        try:
            ENGINE.validate(df, _ruleset(rule), with_stats=False).violations
            raise AssertionError("expected lint failure")
        except ValueError as e:
            assert needle in str(e)


def test_verdicts_zero_fill(spark):
    df = spark.createDataFrame([(1, "x"), (2, None)], "id int, v string")
    rs = _ruleset(
        Rule("blank", "not_blank", column="v"),
        Rule("na", "not_na", column="v", severity=WARNING),
    )
    res = ENGINE.validate(df, rs, with_stats=False)
    verd = {r["rule_id"]: r for r in res.verdicts.collect()}
    assert verd["blank"]["n_failed"] == 1 and not verd["blank"]["passed"]
    assert verd["na"]["n_failed"] == 0 and verd["na"]["passed"]
    assert verd["na"]["n_rows"] == 2
    assert not res.passed()


def test_format_pattern_presets(spark):
    """Reference Summary regex battery (summary.py:27-31) + R-name grammar
    (validators.py:50-95) as engine rules over a matrix of good/bad values."""
    from safedata_validator_spark.rules import patterns as P
    from safedata_validator_spark.rules.model import RuleSet
    from safedata_validator_spark.engine.validator import ValidationEngine

    rows = [
        # (id, name, email, orcid, doi, rname)
        (1, "Darwin, Charles", "a@b.org", "0000-0002-1825-0097", "https://doi.org/10.1/x", "my.var"),
        (2, "Charles Darwin", "not-an-email", "0000-0002-1825-009", "ftp://doi.org/10.1/x", "_bad"),
        (3, "A, B", "x@y.io", "0000-0002-1825-009X", "http://dx.doi.org/10.2/y", "..1"),
        (4, "no comma here", "a@b", "0000-0002-1825-00971", "https://doi.org/", "for"),
        (5, "L, F", "p@q.co", "0000-0002-1825-0097", "https://doi.org/10.3/z", "x2_ok.name"),
    ]
    df = spark.createDataFrame(
        rows, "id int, name string, email string, orcid string, doi string, rname string"
    )
    rs = RuleSet(
        name="fmt", key_cols=["id"],
        rules=[
            P.name_format_rule("name.fmt", "name"),
            P.email_format_rule("email.fmt", "email"),
            P.orcid_format_rule("orcid.fmt", "orcid"),
            P.doi_format_rule("doi.fmt", "doi"),
            P.r_name_rule("rname.fmt", "rname"),
        ],
    )
    viols = ValidationEngine().validate(df, rs, with_stats=False).violations.collect()
    got = {(v["rule_id"], v["entity"]) for v in viols}
    want = {
        ("name.fmt", "id=2"), ("name.fmt", "id=4"),
        ("email.fmt", "id=2"), ("email.fmt", "id=4"),
        ("orcid.fmt", "id=2"), ("orcid.fmt", "id=4"),
        ("doi.fmt", "id=2"), ("doi.fmt", "id=4"),
        ("rname.fmt", "id=2"), ("rname.fmt", "id=3"), ("rname.fmt", "id=4"),
    }
    assert got == want

    # DMS smell: matching the punctuation IS the violation (negated pattern)
    dms = spark.createDataFrame(
        [(1, "51°28'38\"N"), (2, "51.4772")], "id int, coord string"
    )
    rs2 = RuleSet(name="dms", key_cols=["id"],
                  rules=[P.dms_smell_rule("coord.dms", "coord")])
    got2 = {v["entity"] for v in ValidationEngine().validate(dms, rs2, with_stats=False).violations.collect()}
    assert got2 == {"id=1"}


def test_validate_empty_input(spark, dims):
    """Zero-row input: a full validate() run yields no violations, an empty
    verdict grid (no scopes), empty stats, and passes."""
    from safedata_validator_spark.engine.validator import ValidationEngine
    from safedata_validator_spark.rules.presets import transcript_ruleset

    empty = spark.createDataFrame(
        [], "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    res = ValidationEngine().validate(empty, transcript_ruleset(), dims, with_stats=True)
    assert res.violations.count() == 0
    assert res.verdicts.count() == 0
    assert res.stats.count() == 0
    assert res.passed()


def test_validate_null_scope_rows(spark, dims):
    """Rows whose scope expression evaluates to NULL still get verdicts
    (NULL is a scope value like any other — the reference's per-sheet scoping
    has no such case, so this pins the engine's chosen semantics)."""
    from safedata_validator_spark.engine.validator import ValidationEngine
    from safedata_validator_spark.rules.model import Rule, RuleSet

    df = spark.createDataFrame(
        [("a", 1, "x"), (None, 2, ""), (None, 3, "y")],
        "grp string, id int, v string",
    )
    rs = RuleSet(
        name="t", key_cols=["id"], scope="grp",
        rules=[Rule("v.not_blank", "not_blank", column="v")],
    )
    res = ValidationEngine().validate(df, rs, with_stats=False)
    verd = {(r["scope"], r["rule_id"]): r for r in res.verdicts.collect()}
    assert verd[(None, "v.not_blank")]["n_failed"] == 1
    assert verd[(None, "v.not_blank")]["n_rows"] == 2
    assert verd[("a", "v.not_blank")]["n_failed"] == 0


def test_membership_coerces_mixed_numeric_types(spark):
    """Membership joins compare canonical string renderings: a DOUBLE fact
    value 1.0 must match a dim INT key 1 (Spark's native join coercion
    semantics, preserved through the counts cache — ADVICE r01)."""
    from safedata_validator_spark.engine.validator import ValidationEngine
    from safedata_validator_spark.rules.model import Rule, RuleSet

    df = spark.createDataFrame(
        [("a", 1, 1.0), ("b", 2, 2.0), ("c", 3, 2.5), ("d", 4, None)],
        "conv_id string, turn_idx int, code double",
    )
    dims = {"codes": spark.createDataFrame([(1,), (2,)], "code int")}
    rs = RuleSet(
        name="coerce", key_cols=["conv_id", "turn_idx"], scope="'all'",
        rules=[Rule("code.ref_integrity", "ref_integrity", column="code",
                    params={"dim": "codes", "dim_key": "code"})],
    )
    viols = ValidationEngine().validate(df, rs, dims, with_stats=False).violations.collect()
    assert [v["value"] for v in viols] == ["2.5"]


def test_membership_coerces_string_dim_keys(spark):
    """A STRING dim key holding a float rendering ('1.0') must accept a
    DOUBLE fact value 1.0 — Spark's native join coercion casts both sides to
    double and matches (ADVICE r02). Non-numeric and exact string keys keep
    plain string semantics."""
    from safedata_validator_spark.engine.validator import ValidationEngine
    from safedata_validator_spark.rules.model import Rule, RuleSet

    df = spark.createDataFrame(
        [("a", 1, 1.0), ("b", 2, 2.5), ("c", 3, 9.0)],
        "conv_id string, turn_idx int, code double",
    )
    dims = {"codes": spark.createDataFrame([("1.0",), ("2.50",), ("x",)],
                                           "code string")}
    rs = RuleSet(
        name="coerce3", key_cols=["conv_id", "turn_idx"], scope="'all'",
        rules=[Rule("code.ref_integrity", "ref_integrity", column="code",
                    params={"dim": "codes", "dim_key": "code"})],
    )
    viols = ValidationEngine().validate(df, rs, dims, with_stats=False).violations.collect()
    # 1.0 matches '1.0' (integral), 2.5 matches '2.50' (non-integral
    # numeric), 9.0 matches nothing
    assert [v["value"] for v in viols] == ["9"]


def test_membership_string_facts_stay_exact(spark):
    """String fact vs string dim keeps exact string comparison: the numeric
    renderings only WIDEN the accepted set, never reject an exact match."""
    from safedata_validator_spark.engine.validator import ValidationEngine
    from safedata_validator_spark.rules.model import Rule, RuleSet

    df = spark.createDataFrame(
        [("a", 1, "001"), ("b", 2, "nope")], "conv_id string, turn_idx int, code string"
    )
    dims = {"codes": spark.createDataFrame([("001",)], "code string")}
    rs = RuleSet(
        name="coerce4", key_cols=["conv_id", "turn_idx"], scope="'all'",
        rules=[Rule("code.ref_integrity", "ref_integrity", column="code",
                    params={"dim": "codes", "dim_key": "code"})],
    )
    viols = ValidationEngine().validate(df, rs, dims, with_stats=False).violations.collect()
    assert [v["value"] for v in viols] == ["nope"]


def test_levels_audit_coerces_mixed_numeric_types(spark):
    from safedata_validator_spark.engine.validator import ValidationEngine
    from safedata_validator_spark.rules.model import Rule, RuleSet

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("b", 2, 30.5)],
        "conv_id string, turn_idx int, level double",
    )
    dims = {"levels": spark.createDataFrame([(10,), (20,)], "lv int")}
    rs = RuleSet(
        name="coerce2", key_cols=["conv_id", "turn_idx"], scope="'all'",
        rules=[Rule("level.levels_audit", "levels_audit", column="level",
                    params={"dim": "levels", "dim_key": "lv"})],
    )
    viols = ValidationEngine().validate(df, rs, dims, with_stats=False).violations.collect()
    got = {(v["rule_id"], v["value"]) for v in viols}
    # 30.5 undeclared; declared 20 never used; 10.0 matches declared 10
    assert got == {("level.levels_audit", "30.5"), ("level.levels_audit.unused", "20")}


def test_row_rules_quote_hostile_column_names(spark):
    """Row-rule and key columns are referenced by quoted identifier, never
    parsed as a path: names holding a dot, a backtick and unicode validate
    to the rows the Column API finds over a plain-named copy."""
    from pyspark.sql import types as T

    key, s, t, n = "k.é`y", "a.b", "c`d ü", "n.ü`m"
    schema = T.StructType(
        [
            T.StructField(key, T.IntegerType()),
            T.StructField(s, T.StringType()),
            T.StructField(t, T.StringType()),
            T.StructField(n, T.DoubleType()),
        ]
    )
    data = [
        (1, "ok", "x", 1.0),
        (2, None, " x", 5.0),
        (3, "  ", "NA", -1.0),
        (4, "12", "#N/A", None),
        (5, "ab-c", "y", 2.5),
    ]
    df = spark.createDataFrame(data, schema)
    rules = [
        Rule("blank", "not_blank", column=s),
        Rule("na", "not_na", column=t),
        Rule("xl", "no_excel_error", column=t),
        Rule("pad", "not_padded", column=t),
        Rule("lv", "in_levels", column=t, params={"levels": ["x", "y"]}),
        Rule("pat", "pattern", column=s, params={"regex": "^[a-z]+$"}),
        Rule("numstr", "numeric_string", column=s),
        Rule("cast", "castable", column=s, params={"to": "int"}),
        Rule("bnd", "bounds", column=n, params={"lo": 0.0, "hi": 3.0}),
    ]
    got = {
        (v["rule_id"], v["entity"], v["column"], v["value"])
        for v in _viols(spark, data, schema, *rules, key_cols=[key])
    }

    plain = df.toDF("key", "s", "t", "n")
    c = {"s": F.col("s"), "t": F.col("t"), "n": F.col("n")}
    preds = {
        "blank": ("s", c["s"].isNull() | (F.trim(c["s"]) == "")),
        "na": ("t", c["t"] == "NA"),
        "xl": ("t", c["t"] == "#N/A"),
        "pad": ("t", c["t"] != F.trim(c["t"])),
        "lv": ("t", ~c["t"].isin("x", "y") | c["t"].isNull()),
        "pat": ("s", ~c["s"].rlike("^[a-z]+$")),
        "numstr": ("s", c["s"].try_cast("double").isNotNull()),
        "cast": ("s", c["s"].isNotNull() & c["s"].try_cast("int").isNull()),
        "bnd": ("n", (c["n"] < 0.0) | (c["n"] >= 3.0)),
    }
    names = {"s": s, "t": t, "n": n}
    want = {
        (rid, f"{key}={r['key']}", names[col], r["v"])
        for rid, (col, pred) in preds.items()
        for r in plain.where(pred)
        .select("key", F.col(col).cast("string").alias("v"))
        .collect()
    }
    assert got == want
    assert {g[0] for g in got} == set(preds)


def test_unique_key_quotes_hostile_key_names(spark):
    """unique_key on keys no sequential rule shares counts its own keys by
    quoted identifier: names holding a dot, a backtick and unicode find the
    duplicates the Column API finds over a plain-named copy."""
    from pyspark.sql import types as T

    key, grp = "k.ü`y", "g.h"
    schema = T.StructType(
        [T.StructField(key, T.IntegerType()), T.StructField(grp, T.StringType())]
    )
    data = [(1, "a"), (1, "a"), (1, "b"), (2, None), (2, None), (2, None), (None, "c"), (None, "c")]
    rule = Rule("u", "unique_key", params={"keys": [key, grp]})
    got = {
        (v["entity"], v["column"], v["value"])
        for v in _viols(spark, data, schema, rule, key_cols=[key])
    }

    plain = spark.createDataFrame(data, schema).toDF("k", "g")
    want = {
        (
            f"{key}={'∅' if r['k'] is None else r['k']}/{grp}={'∅' if r['g'] is None else r['g']}",
            f"{key},{grp}",
            str(r["count"]),
        )
        for r in plain.groupBy("k", "g").count().where(F.col("count") > 1).collect()
    }
    assert got == want
    assert len(got) == 3


def test_drift_quotes_hostile_column_name(spark):
    """drift's default value expression is the rule column as a quoted
    identifier: a name holding a dot, backticks and unicode gives the
    statistics, scopes and message of a plain-named copy."""
    from pyspark.sql import types as T

    name = "p.`ü`"
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("grp", T.StringType()),
            T.StructField(name, T.DoubleType()),
        ]
    )
    # grp 'a': the even rows sit two buckets higher (drift); grp 'b': the
    # same values in both cohorts (no drift)
    data = [
        (i, g, float(i % 5 + (2 if g == "a" and i % 2 == 0 else 0)))
        for i in range(60)
        for g in ("a", "b")
    ]
    params = {"lo": 0.0, "hi": 8.0, "bins": 8, "split": "id % 2 = 0", "psi_threshold": 0.5}

    def run(df, column):
        rs = RuleSet(name="t", key_cols=["id"], scope="grp",
                     rules=[Rule("d", "drift", column=column, params=params)])
        return {
            (v["scope"], v["entity"], v["column"], v["value"], v["message"])
            for v in ENGINE.validate(df, rs, with_stats=False).violations.collect()
        }

    df = spark.createDataFrame(data, schema)
    got = run(df, name)
    plain = run(df.toDF("id", "grp", "p"), "p")
    assert got == {
        (s, e, name, v, m.replace("drift on p:", f"drift on {name}:"))
        for s, e, _, v, m in plain
    }
    assert {g[0] for g in got} == {"a"}


def _hostile_copy(df, names):
    """``df`` with each plain column renamed to its hostile name."""
    return df.toDF(*[names.get(c, c) for c in df.columns])


def test_categorical_rules_quote_hostile_column_names(spark):
    """levels_audit and ref_integrity read the audited column, the dimension
    key and the alias key and primary by quoted identifier: hostile names on
    the fact and dimension sides give the violations of a plain-named copy."""
    hostile = {
        "code": "c.`ö`", "level": "l.`ü`",
        "key": "k.`é`", "alias": "a.`x`", "primary": "p.`ý`", "lv": "v.`ä`",
    }
    fact = spark.createDataFrame(
        [(1, "g", "A", "lo"), (2, "g", "AA", "hi"), (3, "g", "Z", "bad"),
         (4, "g", "1", "lo"), (5, "h", "B", "mid")],
        "id int, grp string, code string, level string",
    )
    plain_dims = {
        "codes": spark.createDataFrame([("A",), ("B",), ("1.0",)], "key string"),
        "aliases": spark.createDataFrame([("AA", "A")], "alias string, primary string"),
        "levels": spark.createDataFrame([("lo",), ("hi",), ("mid",)], "lv string"),
    }

    def run(df, dims, n):
        rs = RuleSet(
            name="t", key_cols=["id"], scope="grp",
            rules=[
                Rule("ri", "ref_integrity", column=n["code"],
                     params={"dim": "codes", "dim_key": n["key"], "alias_dim": "aliases",
                             "alias_key": n["alias"], "alias_primary": n["primary"]}),
                Rule("la", "levels_audit", column=n["level"],
                     params={"dim": "levels", "dim_key": n["lv"]}),
            ],
        )
        return {
            (v["rule_id"], v["scope"], v["entity"], v["column"], v["value"], v["message"])
            for v in ENGINE.validate(df, rs, dims, with_stats=False).violations.collect()
        }

    plain = run(fact, plain_dims, {c: c for c in hostile})
    got = run(
        _hostile_copy(fact, hostile),
        {k: _hostile_copy(d, hostile) for k, d in plain_dims.items()},
        hostile,
    )
    assert got == {
        (r, s, hostile[c] + e[len(c):], hostile[c], v,
         m.replace(f"{c} not in", f"{hostile[c]} not in"))
        for r, s, e, c, v, m in plain
    }
    assert {(r, v) for r, _, _, _, v, _ in got} == {
        ("ri.alias", "AA"), ("ri", "Z"), ("la", "bad"),
        ("la.unused", "mid"), ("la.unused", "lo"), ("la.unused", "hi"),
    }


def test_format_consistency_quotes_hostile_column_name(spark):
    """format_consistency classifies the rule column by quoted identifier: a
    hostile name gives the scopes and message of a plain-named copy."""
    name = "d.`ø`"
    df = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "a", "2024-01-01 10:00:00"), (3, "a", "7"),
         (4, "b", "2024-02-03"), (5, "b", None)],
        "id int, grp string, d string",
    )

    def run(df, column):
        rs = RuleSet(name="t", key_cols=["id"], scope="grp",
                     rules=[Rule("fmt", "format_consistency", column=column)])
        return {
            (v["scope"], v["entity"], v["column"], v["value"], v["message"])
            for v in ENGINE.validate(df, rs, with_stats=False).violations.collect()
        }

    plain = run(df, "d")
    got = run(_hostile_copy(df, {"d": name}), name)
    assert got == {(s, e, name, v, name + m[1:]) for s, e, _, v, m in plain}
    assert {g[0] for g in got} == {"a"}


def test_name_resolution_quotes_hostile_column_names(spark, dims):
    """name_resolution reads the claimed name and rank by quoted identifier:
    hostile names give the violations of a plain-named copy."""
    names = {"cap": "c.`ä`", "rank": "r.ank"}
    df = spark.createDataFrame(
        [(1, "bash", "leaf"), (2, "bash-legacy", "leaf"), (3, "ghost", "leaf"), (4, "ghost", None)],
        "id int, cap string, rank string",
    )

    def run(df, n):
        rs = RuleSet(name="t", key_cols=["id"], rules=[
            Rule("nr", "name_resolution", column=n["cap"],
                 params={"dim": "taxonomy_nodes", "name_col": n["cap"], "rank_col": n["rank"]}),
        ])
        return {
            (v["rule_id"], v["severity"], v["entity"], v["column"], v["value"], v["message"])
            for v in ENGINE.validate(df, rs, dims, with_stats=False).violations.collect()
        }

    plain = run(df, {c: c for c in names})
    got = run(_hostile_copy(df, names), names)
    assert got == {(r, s, e, names["cap"], v, m) for r, s, e, _, v, m in plain}
    assert sorted(r for r, *_ in got) == ["nr.missing", "nr.missing", "nr.synonym"]


def test_hierarchy_congruence_quotes_hostile_column_names(spark, dims):
    """hierarchy_congruence reads the child and ancestor columns by quoted
    identifier: hostile names give the violations of a plain-named copy."""
    from safedata_validator_spark.engine.hierarchy import build_closure

    names = {"leaf": "c.h", "family": "a.`nc`"}
    d = dict(dims, taxonomy_closure=build_closure(dims["taxonomy_nodes"]))
    df = spark.createDataFrame(
        [(1, "bash", "compute"), (2, "bash", "io"), (3, "ghost", "io"), (4, None, "io")],
        "id int, leaf string, family string",
    )

    def run(df, n):
        rs = RuleSet(name="t", key_cols=["id"], rules=[
            Rule("hc", "hierarchy_congruence",
                 params={"nodes_dim": "taxonomy_nodes", "closure_dim": "taxonomy_closure",
                         "child_col": n["leaf"], "ancestor_col": n["family"]}),
        ])
        return {
            (v["entity"], v["column"], v["value"], v["message"])
            for v in ENGINE.validate(df, rs, d, with_stats=False).violations.collect()
        }

    plain = run(df, {c: c for c in names})
    got = run(_hostile_copy(df, names), names)
    assert got == {
        (e.replace("leaf=", "c.h=").replace("/family=", "/a.`nc`="), "c.h", v, m)
        for e, _, v, m in plain
    }
    assert {e for e, *_ in got} == {"c.h=bash/a.`nc`=io", "c.h=ghost/a.`nc`=io"}


def test_extent_rules_quote_hostile_column_name(spark):
    """extent and extent_congruence aggregate the rule column by quoted
    identifier under plain aliases: a hostile name gives the violations of a
    plain-named copy."""
    name = "n.`um`"
    df = spark.createDataFrame(
        [(1, "a", 5), (2, "a", 50), (3, "b", 7), (4, "c", None)], "id int, grp string, n int"
    )

    def run(df, column):
        rs = RuleSet(name="t", key_cols=["id"], scope="grp", rules=[
            Rule("ext", "extent", column=column, params={"lo": 0, "hi": 10}),
            Rule("cg", "extent_congruence", column=column,
                 params={"declared_lo": 0, "declared_hi": 40}),
            Rule("cg0", "extent_congruence", column=column),
        ])
        return {
            (v["rule_id"], v["scope"], v["entity"], v["column"], v["value"], v["message"])
            for v in ENGINE.validate(df, rs, with_stats=False).violations.collect()
        }

    plain = run(df, "n")
    got = run(_hostile_copy(df, {"n": name}), name)
    assert got == {(r, s, e, name, v, name + m[1:]) for r, s, e, _, v, m in plain}
    assert {(r, s) for r, s, *_ in got} == {("ext", "a"), ("cg", "a"), ("cg0", "c")}
