"""CLI smoke + error paths (mirrors reference tests/classes/errors.py
roles: bad compression, overwrite guard, resolution checks)."""
import json
import os

import pytest

from vector2dggs_spark.cli import main, resolve_output_path, validate_compression
from vector2dggs_spark.sources.documents import documents_df


@pytest.fixture(scope="module")
def docs_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("docs") / "documents.parquet")
    documents_df(spark, 120, seed=5).write.parquet(path)
    return path


def test_cli_end_to_end(spark, docs_parquet, tmp_path):
    out = str(tmp_path / "out")
    rc = main([
        "geohash", docs_parquet, out, "-r", "5", "-pr", "3", "-o",
    ], spark=spark)
    assert rc == 0
    assert any(d.startswith("geohash_03=") for d in os.listdir(out))
    with open(os.path.join(out, "_LINEAGE.json")) as f:
        lineage = json.load(f)
    assert lineage["config"]["dggs"] == "geohash"
    assert lineage["total_rows"] > 0


def test_cli_geo_mode(spark, docs_parquet, tmp_path):
    out = str(tmp_path / "geo")
    rc = main([
        "rhp", docs_parquet, out, "-r", "4", "-pr", "2", "--geo", "point", "-o",
    ], spark=spark)
    assert rc == 0
    files = [os.path.join(r, f) for r, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")]
    import pyarrow.parquet as pq

    assert files and b"geo" in (pq.read_table(files[0]).schema.metadata or {})


def test_cli_compaction_checkpoint(spark, docs_parquet, tmp_path):
    out = str(tmp_path / "co")
    cp = str(tmp_path / "cp")
    rc = main([
        "geohash", docs_parquet, out, "-r", "5", "-pr", "3", "-co",
        "--checkpoint", cp, "-o",
    ], spark=spark)
    assert rc == 0
    assert os.path.exists(os.path.join(cp, "compacted", "_MANIFEST.json"))


def test_cli_checkpoint_respects_source_crs(spark, tmp_path):
    """ADVICE r02 high, CLI-level: `index ... --source_crs 2193
    --checkpoint cp` must produce the SAME cells as the non-checkpoint
    run (round 2 silently parsed projected meters as lon/lat degrees)."""
    from vector2dggs_spark.geometry.crs import get_crs
    from vector2dggs_spark.sources.documents import DOCUMENTS_SCHEMA

    lons = [-176.45, -176.40, -176.35]
    lats = [-44.15, -44.10, -44.05]
    e, n = get_crs(2193).forward(lons, lats)
    rows = [
        (f"d{i}", [{"kind": "geometry", "text": f"POINT ({e[i]:.3f} {n[i]:.3f})",
                    "media_ref": None, "offset": 0}])
        for i in range(3)
    ]
    src = str(tmp_path / "nztm_docs.parquet")
    spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA).write.parquet(src)

    out1, out2, cp = str(tmp_path / "o1"), str(tmp_path / "o2"), str(tmp_path / "cp")
    assert main(["geohash", src, out1, "-r", "5", "-pr", "2",
                 "--source_crs", "2193", "-o"], spark=spark) == 0
    assert main(["geohash", src, out2, "-r", "5", "-pr", "2",
                 "--source_crs", "2193", "--checkpoint", cp, "-o"], spark=spark) == 0
    c1 = sorted(tuple(r) for r in spark.read.parquet(out1).collect())
    c2 = sorted(tuple(r) for r in spark.read.parquet(out2).collect())
    assert c1 == c2 and len(c1) == 3
    # and the cells decode back near the true lon/lat (degrees, not meters)
    from vector2dggs_spark.dggs import geohash as gh
    import numpy as np

    cells = np.array(sorted({r[0] for r in c1}), dtype=str)
    lat_c, lon_c = gh.decode_center(cells, 5)
    assert (np.abs(lon_c + 176.4) < 0.2).all() and (np.abs(lat_c + 44.1) < 0.2).all()


def test_cli_error_paths(spark, docs_parquet, tmp_path):
    with pytest.raises(ValueError, match="invalid compression"):
        validate_compression("brotli9000")
    out = tmp_path / "exists"
    out.mkdir()
    (out / "junk").write_text("x")
    with pytest.raises(FileExistsError):
        resolve_output_path(str(out), overwrite=False)
    # overwrite clears
    resolve_output_path(str(out), overwrite=True)
    assert not out.exists()
    with pytest.raises(ValueError, match="parent resolution"):
        main(["geohash", docs_parquet, str(tmp_path / "x"), "-r", "3", "-pr", "3"], spark=spark)
    with pytest.raises(SystemExit):
        main(["nope", docs_parquet, str(tmp_path / "y"), "-r", "3"], spark=spark)


def test_spark_submit_pyfiles_deploy(spark, docs_parquet, tmp_path):
    """North-rule deploy path, end to end: package the engine with
    scripts/make_pyfiles.py, then run a REAL ``spark-submit --py-files
    vector2dggs_spark.zip submit.py ...`` from a directory that does NOT
    contain the repo (the zip must supply every module), and check the
    partitioned output.  Also pins that get_spark() respects the
    submitted master instead of overriding it with local[N] (a
    hard-coded .master() would silently demote a YARN/k8s submission)."""
    import shutil
    import subprocess
    import sys

    from scripts.make_pyfiles import build

    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")
    dist = tmp_path / "dist"
    build(dist)
    out = str(tmp_path / "cells")
    env = dict(
        os.environ,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    env.pop("PYTHONPATH", None)  # the zip must be the only source
    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(dist / "vector2dggs_spark.zip"),
            str(dist / "submit.py"),
            "geohash", docs_parquet, out, "-r", "5", "-pr", "3", "-o",
        ],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        env=env,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert any(d.startswith("geohash_03=") for d in os.listdir(out))
    with open(os.path.join(out, "_LINEAGE.json")) as f:
        lineage = json.load(f)
    assert lineage["total_rows"] > 0
    # the submitted master must win over the library default
    assert lineage["config"]["master"] == "local[2]"


def test_default_driver_memory_fits_machine():
    """The default driver heap is half of RAM, capped at the old 24g."""
    from vector2dggs_spark.session import _default_driver_memory

    mem = _default_driver_memory()
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    assert mem == f"{min(24 * 1024, kb // 2048)}m"
    assert int(mem[:-1]) * 1024 <= kb // 2
