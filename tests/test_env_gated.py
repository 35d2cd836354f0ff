"""Environment-gated batteries for the three environment boundaries.
OGC geometry validity has a built-in pure-numpy engine
(functions/geo_validity.py), so that battery runs in EVERY environment;
shapely and pillow, when present, run as parity oracles against the
built-in geometry engine and the built-in PNG codec. Only the
Iceberg runtime (a jar, not a library) remains skipped-not-absent."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

HAVE_SHAPELY = importlib.util.find_spec("shapely") is not None
HAVE_PIL = importlib.util.find_spec("PIL") is not None


# --------------------------------------------------------------------------
# 1. OGC geometry validity (functions/geo.py full_validity; reference
#    locations.py:353-364 `.is_valid` / `.has_z`)
# --------------------------------------------------------------------------

#: (wkt, expected ogc_valid) — the reference's invalid-geometry classes:
#: self-intersection (bowtie), nested-hole overlap, Z geometry rejected
#: (has_z), unparseable text, NULL passthrough.
OGC_CASES = [
    ("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", True),
    ("POINT (1 2)", True),
    ("LINESTRING (0 0, 1 1, 2 0)", True),
    # bowtie: edges cross — parses fine, OGC-invalid (the one check the
    # JVM-side syntax/bounds battery cannot express)
    ("POLYGON ((0 0, 1 1, 1 0, 0 1, 0 0))", False),
    # hole outside the shell
    ("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (5 5, 6 5, 6 6, 5 6, 5 5))", False),
    # Z geometry: reference rejects has_z outright
    ("POINT Z (1 2 3)", False),
    ("not wkt at all", False),
    (None, None),
]


def test_full_validity_ogc_battery(spark):
    """Runs in EVERY environment: backend='auto' resolves to shapely when
    installed, else the built-in pure-numpy engine — both must clear the
    reference's invalid classes."""
    from safedata_validator_spark.functions.geo import full_validity

    df = spark.createDataFrame([(i, w) for i, (w, _) in enumerate(OGC_CASES)],
                               "id int, wkt string")
    got = {r["id"]: r["ogc_valid"] for r in full_validity(df, "wkt").collect()}
    for i, (wkt, expected) in enumerate(OGC_CASES):
        assert got[i] == expected, (wkt, got[i])


def test_full_validity_forced_shapely_contract(spark):
    df = spark.createDataFrame([(1, "POINT (1 2)")], "id int, wkt string")
    from safedata_validator_spark.functions.geo import full_validity

    if HAVE_SHAPELY:
        assert full_validity(df, "wkt", backend="shapely").collect()[0]["ogc_valid"]
    else:
        with pytest.raises(NotImplementedError, match="shapely"):
            full_validity(df, "wkt", backend="shapely")


@pytest.mark.skipif(not HAVE_SHAPELY, reason="shapely not installed")
def test_builtin_validity_parity_with_shapely(spark):
    """When GEOS is present it is the oracle: the built-in engine must agree
    with shapely on the whole battery plus the tricky classes."""
    import shapely.wkt as _w

    from safedata_validator_spark.functions.geo_validity import ogc_valid_wkt

    extra = [
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))",
        "POLYGON ((0 0, 2 0, 2 2, 1 0, 0 2, 0 0))",
        "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((1 1, 3 1, 3 3, 1 3, 1 1)))",
        "LINESTRING (0 0, 2 2, 2 0, 0 2)",
        "POLYGON ((0 0, 1 0, 1 0, 1 1, 0 1, 0 0))",
    ]
    for wkt in [w for w, _ in OGC_CASES if w] + extra:
        try:
            g = _w.loads(wkt)
            expected = bool(g.is_valid) and not g.has_z
        except Exception:
            expected = False
        assert ogc_valid_wkt(wkt) == expected, wkt


# --------------------------------------------------------------------------
# 2. Built-in PNG codec (functions/png.py) against PIL
# --------------------------------------------------------------------------

@pytest.mark.skipif(not HAVE_PIL, reason="pillow not installed")
def test_builtin_png_parity_with_pil():
    """When pillow is present it is the oracle: the built-in decoder must
    reproduce its pixels across channel layouts and filter types."""
    import io

    import numpy as np
    from PIL import Image

    from safedata_validator_spark.functions.png import decode_png, encode_png, to_rgb

    rng = np.random.default_rng(11)
    for ch in (1, 3, 4):
        for ft in range(5):
            arr = rng.integers(0, 256, size=(9, 7, ch), dtype=np.uint8)
            data = encode_png(arr, filter_type=ft)
            with Image.open(io.BytesIO(data)) as im:
                pil_rgb = np.asarray(im.convert("RGB"), dtype=np.uint8)
            assert (to_rgb(decode_png(data)) == pil_rgb).all(), (ch, ft)


@pytest.mark.skipif(not HAVE_PIL, reason="pillow not installed")
def test_builtin_png_16bit_parity_with_pil():
    """16-bit greyscale: PIL opens as I;16 — raw sample values must match
    the built-in decoder's uint16 output exactly."""
    import io

    import numpy as np
    from PIL import Image

    from safedata_validator_spark.functions.png import decode_png, encode_png

    rng = np.random.default_rng(12)
    arr = rng.integers(0, 1 << 16, size=(9, 7, 1), dtype=np.uint16)
    data = encode_png(arr, filter_type=4)
    with Image.open(io.BytesIO(data)) as im:
        pil = np.asarray(im, dtype=np.uint16)
    assert (decode_png(data)[:, :, 0] == pil).all()


# --------------------------------------------------------------------------
# 3. Iceberg runtime (sources/tables.py load_table / current_snapshot_id):
#    a REAL local Hadoop-catalog round trip incl. snapshot time travel,
#    skipped when no runtime jar is present. Point
#    ICEBERG_SPARK_RUNTIME_JAR at e.g.
#    iceberg-spark-runtime-4.0_2.13-<ver>.jar to activate.
# --------------------------------------------------------------------------

def _iceberg_jar() -> str | None:
    env = os.environ.get("ICEBERG_SPARK_RUNTIME_JAR")
    if env and os.path.exists(env):
        return env
    import glob

    for pat in (
        os.path.expanduser("~/.ivy2/jars/*iceberg-spark-runtime*.jar"),
        "/opt/jars/*iceberg-spark-runtime*.jar",
    ):
        hits = glob.glob(pat)
        if hits:
            return hits[0]
    return None


@pytest.mark.skipif(_iceberg_jar() is None, reason="no Iceberg runtime jar")
def test_iceberg_snapshot_round_trip(tmp_path):
    """Separate JVM (jars must be on the driver classpath at JVM start, so
    the shared test session cannot host this): create a Hadoop-catalog
    table, commit twice, read latest + time-travel to the first snapshot
    through load_table, and check current_snapshot_id returns the real id."""
    import subprocess

    script = f"""
import sys
sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
from pyspark.sql import SparkSession
from safedata_validator_spark.sources.tables import (
    current_snapshot_id, iceberg_available, load_table)

spark = (SparkSession.builder.master("local[2]")
    .config("spark.jars", {_iceberg_jar()!r})
    .config("spark.sql.extensions",
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions")
    .config("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
    .config("spark.sql.catalog.local.type", "hadoop")
    .config("spark.sql.catalog.local.warehouse", {str(tmp_path / "wh")!r})
    .getOrCreate())
assert iceberg_available(spark)
spark.sql("CREATE TABLE local.db.t (id BIGINT, v STRING) USING iceberg")
spark.sql("INSERT INTO local.db.t VALUES (1, 'a')")
snap1 = current_snapshot_id(spark, "iceberg:local.db.t")
spark.sql("INSERT INTO local.db.t VALUES (2, 'b')")
assert load_table(spark, "iceberg:local.db.t").count() == 2
old = load_table(spark, "iceberg:local.db.t", snapshot_id=snap1)
assert [r["id"] for r in old.collect()] == [1]
snap2 = current_snapshot_id(spark, "iceberg:local.db.t")
assert snap2 != snap1 and snap2.isdigit()
print("ICEBERG_OK")
"""
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert "ICEBERG_OK" in out.stdout, out.stderr[-2000:]
