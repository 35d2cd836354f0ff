"""Run-manifest validation — the driver-side Summary-block analogue
(reference summary.py:148-262; tests mirror test_summary.py's good/bad block
matrices at dict level)."""

from __future__ import annotations

from datetime import date

from safedata_validator_spark.rules.manifest import manifest_passed, validate_manifest

TODAY = date(2026, 8, 16)

GOOD = {
    "title": "Transcripts 2026-08",
    "description": "agent runs",
    "access": "embargo",
    "embargo_date": "2027-01-01",
    "authors": [{"name": "Darwin, Charles", "email": "cd@example.org",
                 "orcid": "0000-0002-1825-0097"}],
    "keywords": ["agents", "validation"],
    "doi": "https://doi.org/10.5281/zenodo.1234",
    "project_ids": [1, 7],
    "tables": ["transcripts"],
}


def test_good_manifest_passes():
    problems = validate_manifest(GOOD, today=TODAY)
    assert problems == []
    assert manifest_passed(problems)


def test_bad_manifest_reports_each_block():
    bad = {
        "title": "  ",                       # blank core title
        "access": "secret",                  # unknown access level
        "embargo_date": "2020-01-01",        # warn: embargo date w/o embargo access
        "authors": [{"name": "Charles Darwin",   # not 'last, first'
                     "email": "nope",            # not an email
                     "orcid": "123"}],           # not an ORCID
        "keywords": ["ok", "bad,keyword", " "],  # punctuation / blank
        "doi": "doi:10.1/x",                 # not a doi.org URL
        "project_ids": [1, "seven"],         # non-integer id
    }
    problems = validate_manifest(bad, today=TODAY)
    fields = {f for _, f, _ in problems}
    assert {
        "title", "access", "authors[0].name", "authors[0].email",
        "authors[0].orcid", "keywords[1]", "keywords[2]", "doi",
        "project_ids[1]",
    } <= fields
    assert not manifest_passed(problems)


def test_embargo_requires_future_date():
    m = dict(GOOD, embargo_date="2026-01-01")
    problems = validate_manifest(m, today=TODAY)
    assert any("not in the future" in msg for _, f, msg in problems if f == "embargo_date")
    m2 = dict(GOOD, embargo_date=None)
    assert any(f == "embargo_date" for _, f, _ in validate_manifest(m2, today=TODAY))


def test_cli_manifest_gate(tmp_path):
    """A manifest with ERRORs aborts the CLI (exit 2) before any Spark work."""
    import json

    from safedata_validator_spark import cli

    bad_path = str(tmp_path / "m.json")
    with open(bad_path, "w") as fh:
        json.dump({"title": "", "authors": []}, fh)
    rc = cli.main(["--table", "/nonexistent", "--run-manifest", bad_path])
    assert rc == 2


def test_funding_block():
    ok = dict(GOOD, funding=[{"body": "NERC", "type": "grant",
                              "ref": "NE/123", "url": "https://nerc.example.org"}])
    assert validate_manifest(ok, today=TODAY) == []
    bad = dict(GOOD, funding=[{"body": " ", "type": None, "url": "not a url"}])
    problems = validate_manifest(bad, today=TODAY)
    fields = {f for _, f, _ in problems}
    assert {"funding[0].body", "funding[0].type", "funding[0].url"} <= fields
    # URL problem is advisory (reference has no URL check at all)
    assert [s for s, f, _ in problems if f == "funding[0].url"] == ["WARNING"]


def test_permits_block():
    ok = dict(GOOD, permits=[{"type": "Research", "authority": "Sabah", "number": 42}])
    assert validate_manifest(ok, today=TODAY) == []
    bad = dict(GOOD, permits=[{"type": "fishing", "authority": "", "number": None}])
    fields = {f for _, f, _ in validate_manifest(bad, today=TODAY)}
    assert {"permits[0].type", "permits[0].authority", "permits[0].number"} <= fields


def test_external_files_block():
    ok = dict(GOOD, external_files=[{"file": "data.zip", "description": "raw"}])
    assert validate_manifest(ok, today=TODAY) == []
    bad = dict(GOOD, external_files=[{"file": "my data.zip", "description": ""}])
    fields = {f for _, f, _ in validate_manifest(bad, today=TODAY)}
    assert {"external_files[0].file", "external_files[0].description"} <= fields


def test_tables_block_structured_entries():
    ok = dict(GOOD,
              external_files=[{"file": "big.bin", "description": "payload"}],
              tables=[{"name": "transcripts", "title": "T", "description": "d",
                       "external": "big.bin"}])
    assert validate_manifest(ok, today=TODAY) == []
    bad = dict(GOOD, tables=[
        {"name": "Summary", "title": "", "description": "d"},     # standard sheet + blank title
        {"name": "t2", "title": "x", "description": "y", "external": "ghost.bin"},
    ])
    fields = {f for _, f, _ in validate_manifest(bad, today=TODAY)}
    assert {"tables[0].name", "tables[0].title", "tables[1].external"} <= fields


def test_no_data_declared_is_error():
    bad = dict(GOOD, tables=[])
    problems = validate_manifest(bad, today=TODAY)
    assert any(f == "tables" and s == "ERROR" for s, f, _ in problems)
    # tables empty but external files present → advisory only (reference:
    # "Only external file descriptions provided")
    ok = dict(GOOD, tables=[], external_files=[{"file": "d.zip", "description": "x"}])
    problems = validate_manifest(ok, today=TODAY)
    assert [s for s, f, _ in problems if f == "tables"] == ["WARNING"]


def test_declared_extent_blocks():
    ok = dict(GOOD, temporal_extent={"start": "2024-01-01", "end": "2024-12-31"},
              geographic_extent={"west": 116.75, "east": 117.82,
                                 "south": 4.5, "north": 5.07})
    assert validate_manifest(ok, today=TODAY) == []
    bad = dict(GOOD, temporal_extent={"start": "2025-01-01", "end": "2024-01-01"},
               geographic_extent={"west": 10.0, "east": 5.0, "south": 8.0, "north": 2.0})
    msgs = [m for _, f, m in validate_manifest(bad, today=TODAY)
            if f in ("temporal_extent", "geographic_extent")]
    assert any("start date is after end date" in m for m in msgs)
    assert any("south limit is greater" in m for m in msgs)
    assert any("west limit is greater" in m for m in msgs)


def test_check_declared_tables_cross_refs():
    from safedata_validator_spark.rules.manifest import check_declared_tables

    m = dict(GOOD, tables=["transcripts", "events"])
    problems = check_declared_tables(m, ["transcripts", "extra_table"])
    msgs = {f: msg for _, f, msg in problems}
    assert "declared table 'events' not found" in msgs["tables.events"]
    assert "undocumented input table" in msgs["tables.extra_table"]
    assert check_declared_tables(m, ["transcripts", "events"]) == []


def test_declared_extent_rules_bridge():
    from safedata_validator_spark.rules.manifest import declared_extent_rules

    m = dict(GOOD, temporal_extent={"start": "2024-01-01", "end": "2024-12-31"},
             geographic_extent={"west": 116.75, "east": 117.82,
                                "south": 4.5, "north": 5.07})
    rules = declared_extent_rules(m, temporal_column="ts",
                                  lat_column="lat", lon_column="lon")
    by_col = {r.column: r for r in rules}
    assert set(by_col) == {"ts", "lat", "lon"}
    assert by_col["ts"].params["declared_lo"] == "2024-01-01"
    assert by_col["lat"].params == {"declared_lo": 4.5, "declared_hi": 5.07,
                                    "advisory": False}
    assert declared_extent_rules({}, temporal_column="ts") == []
    # a DATE-ONLY declared end is inclusive of the whole end day — compared
    # raw against a timestamp column it would coerce to midnight and flag
    # data later that day (ADVICE r02, medium)
    assert by_col["ts"].params["declared_hi"] == "2024-12-31 23:59:59.999999"
    # an end carrying a time component passes through untouched
    m2 = dict(GOOD, temporal_extent={"start": "2024-01-01",
                                     "end": "2024-12-31 18:00:00"})
    (r2,) = declared_extent_rules(m2, temporal_column="ts")
    assert r2.params["declared_hi"] == "2024-12-31 18:00:00"


def test_declared_end_day_fully_inclusive(spark):
    """Data at 15:00 on the declared end day is INSIDE the extent (the
    reference's date-granular inclusive comparison); data the day after is
    outside."""
    from datetime import datetime

    from safedata_validator_spark.engine.validator import ValidationEngine
    from safedata_validator_spark.rules.manifest import declared_extent_rules
    from safedata_validator_spark.rules.model import RuleSet

    m = dict(GOOD, temporal_extent={"start": "2024-01-01", "end": "2024-12-31"})
    (rule,) = declared_extent_rules(m, temporal_column="ts")
    rs = RuleSet(name="t", key_cols=["id"], scope="'all'", rules=[rule])

    inside = spark.createDataFrame(
        [(1, datetime(2024, 12, 31, 15, 0, 0))], "id int, ts timestamp"
    )
    engine = ValidationEngine()
    assert engine.validate(inside, rs, with_stats=False).violations.count() == 0

    outside = spark.createDataFrame(
        [(1, datetime(2025, 1, 1, 0, 0, 1))], "id int, ts timestamp"
    )
    assert engine.validate(outside, rs, with_stats=False).violations.count() == 1


def test_doi_check_skips_gracefully_offline():
    """Sandbox has no network: the DOI resolution check must degrade to a
    WARNING skip, never an ERROR or an exception (reference --validate_doi)."""
    from safedata_validator_spark.rules.manifest import check_doi_resolves

    problem = check_doi_resolves("https://doi.org/10.5281/zenodo.1234", timeout=2)
    assert problem is not None
    sev, field, msg = problem
    assert sev == "WARNING" and field == "doi"
