"""CLI entry point — the spark-submit analogue of the reference's
``safedata_validate`` command (entry_points.py:85-248): load config → load
rule set + dimensions → validate → write violations/verdicts/stats → exit 0
on pass, 1 on fail (entry_points.py:237-240), with a JSON run summary
(field.py:344-427 analogue).

Usage (cluster — spark-submit runs a file, so the shim tools/submit_validate.py
is the primary resource and the engine ships on --py-files; build the archive
with tools/make_pyfiles.py):
    spark-submit --master <cluster> --py-files dist/sdv_spark.zip \\
        tools/submit_validate.py \\
        --table iceberg:cat.db.transcripts --ruleset rules.json \\
        --dim tools=iceberg:cat.db.tools --out parquet:/out --manifest /ckpt

Local:
    python -m safedata_validator_spark.cli --table parquet:/data/transcripts \\
        --ruleset rules.json --out /tmp/out
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F

from safedata_validator_spark.engine.checkpoint import CheckpointManifest
from safedata_validator_spark.engine.validator import ValidationEngine
from safedata_validator_spark.rules.model import RuleSet
from safedata_validator_spark.rules.presets import transcript_ruleset
from safedata_validator_spark.session import build_session
from safedata_validator_spark.sources import tables


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="sdv-spark", description=__doc__)
    p.add_argument("--table", required=True, help="fact table ref (iceberg:... or parquet path)")
    p.add_argument("--ruleset", help="rule-set JSON path (default: transcript preset)")
    p.add_argument("--run-manifest", dest="run_manifest",
                   help="run-manifest JSON (Summary-block analogue); ERRORs abort before any job")
    p.add_argument("--dim", action="append", default=[], metavar="NAME=REF",
                   help="dimension table, repeatable")
    p.add_argument("--out", help="output ref prefix for violations/verdicts/stats")
    p.add_argument("--manifest", help="checkpoint manifest path (enables resume)")
    p.add_argument("--scope", help="override ruleset scope expression")
    p.add_argument("--no-stats", action="store_true")
    p.add_argument("--validate-doi", dest="validate_doi", action="store_true",
                   help="resolve the run-manifest DOI over the network "
                        "(reference --validate_doi; skips with a warning when offline)")
    p.add_argument("--master", default=None)
    p.add_argument("--json", dest="json_out", help="write the run summary JSON here")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)

    # manifest ERRORs abort BEFORE the Spark session exists — the analogue of
    # the reference's hard-abort on resource problems (logger.py:287-304)
    # versus log-and-continue data errors
    if args.run_manifest:
        from safedata_validator_spark.rules.manifest import (
            manifest_passed,
            validate_manifest,
        )

        with open(args.run_manifest) as fh:
            run_manifest = json.load(fh)
        problems = validate_manifest(run_manifest)
        if args.validate_doi and run_manifest.get("doi"):
            from safedata_validator_spark.rules.manifest import check_doi_resolves

            doi_problem = check_doi_resolves(run_manifest["doi"])
            if doi_problem is not None:
                problems.append(doi_problem)
        for sev, field, msg in problems:
            print(f"manifest {sev}: {field}: {msg}", file=sys.stderr)
        if not manifest_passed(problems):
            print(json.dumps({"status": "manifest-failed",
                              "n_errors": sum(s == "ERROR" for s, _, _ in problems)}))
            return 2

    spark = build_session(app_name="sdv-spark-validate", master=args.master)

    if args.ruleset:
        with open(args.ruleset) as fh:
            ruleset = RuleSet.from_dict(json.load(fh))
    else:
        ruleset = transcript_ruleset()
    if args.scope:
        ruleset.scope = args.scope

    dims = {}
    for spec in args.dim:
        name, ref = spec.split("=", 1)
        dims[name] = tables.load_table(spark, ref)

    df = tables.load_table(spark, args.table)
    engine = ValidationEngine()

    def write_outputs(result) -> None:
        if not args.out:
            return
        tables.write_results(result.violations, f"{args.out}/violations", mode="overwrite")
        tables.write_results(result.verdicts, f"{args.out}/verdicts", mode="overwrite")
        if result.stats is not None:
            tables.write_results(result.stats, f"{args.out}/stats", mode="overwrite")

    if args.manifest:
        manifest = CheckpointManifest(args.manifest)
        snapshot = tables.current_snapshot_id(spark, args.table)
        # the outputs are written before the manifest records the partitions
        result, pending = engine.validate_resumable(
            df, ruleset, manifest, dims, snapshot_id=snapshot,
            with_stats=not args.no_stats, sink=write_outputs,
        )
        if result is None:
            print(json.dumps({"status": "up-to-date", "pending_partitions": 0}))
            return 0
    else:
        result = engine.validate(df, ruleset, dims, with_stats=not args.no_stats).persist()
        pending = None
        write_outputs(result)

    # the verdicts hold the failure counts: no second pass over violations
    by_sev = {
        r["severity"]: r["n"]
        for r in result.verdicts.groupBy("severity").agg(F.sum("n_failed").alias("n")).collect()
    }
    result.unpersist()
    passed = by_sev.get("ERROR", 0) == 0
    summary = {
        "status": "passed" if passed else "failed",
        "ruleset": ruleset.name,
        "ruleset_hash": result.ruleset_hash,
        "n_errors": by_sev.get("ERROR", 0),
        "n_warnings": by_sev.get("WARNING", 0),
        "pending_partitions": len(pending) if pending is not None else None,
    }
    print(json.dumps(summary))
    if args.json_out:
        with open(args.json_out, "w") as fh:
            json.dump(summary, fh, indent=2)
    return 0 if passed else 1


if __name__ == "__main__":
    sys.exit(main())
