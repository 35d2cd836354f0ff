"""Side-by-side Spark-vs-DuckDB parity check for the query catalog —
a local replica of the driver's correctness gate (row count + columns +
order-insensitive values). Usage:

    python tools/oracle_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon(rows, cols):
    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return f"{v:.9g}"
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        return str(v)

    return sorted(tuple(norm(r[c]) for c in cols) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from safedata_validator_spark.queries import ORACLES, QUERIES
    from safedata_validator_spark.session import build_session

    # no console progress bar: its `\r`-ended lines would share a line with
    # the per-query results printed below
    spark = build_session(
        app_name="oracle-parity", master="local[4]", shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    failures = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        from safedata_validator_spark.golden_oracles import GOLDEN_ORACLES, PINNED_SF

        if name in GOLDEN_ORACLES and PINNED_SF not in sf_dir:
            print(f"{name:28s} pinned golden oracle (valid at {PINNED_SF} only), skipped")
            continue
        sdf = fn(spark, sf_dir)
        srows = [r.asDict() for r in sdf.collect()]
        scols = sorted(sdf.columns)
        # dedup/curation pipelines hand persisted intermediates back for
        # caller-controlled release — free them between queries, as bench.py
        # does, so back-to-back catalog runs don't accumulate cache
        from safedata_validator_spark.functions.dedup import release

        release(sdf)
        if name not in ORACLES:
            print(f"{name:28s} rows-only: {len(srows)} rows")
            continue
        ddf = con.sql(ORACLES[name])
        drows = ddf.fetchdf().to_dict("records")
        dcols = sorted(c.lower() for c in ddf.columns)
        status = []
        if len(srows) != len(drows):
            status.append(f"ROWS {len(srows)} vs {len(drows)}")
        if scols != dcols:
            status.append(f"COLS {scols} vs {dcols}")
        if not status:
            sv = _canon(srows, scols)
            dv = _canon(drows, sorted(ddf.columns, key=str.lower))
            if sv != dv:
                diff = [i for i, (a, b) in enumerate(zip(sv, dv)) if a != b][:3]
                status.append(
                    "VALUES differ, e.g. " + "; ".join(f"{sv[i]} vs {dv[i]}" for i in diff)
                )
        if status:
            failures.append(name)
            print(f"{name:28s} MISMATCH: {' | '.join(status)}")
        else:
            print(f"{name:28s} OK ({len(srows)} rows)")

    print("\nFAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
