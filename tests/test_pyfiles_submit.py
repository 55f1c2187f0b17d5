"""North-rule deployment shape: ``spark-submit --py-files engine.zip``.

The engine must be importable from a packaged zip with no repo checkout
on the executor/driver path and no cwd assumptions — the way it ships to
a real multi-executor cluster (BASELINE.json north_rule; reference ships
one built bundle launched per-region, /root/reference/run.sh:7-80).

The test builds dist-style ``engine.zip`` via tools/package.py, copies
``main.py`` out of the package as the primary resource (so the package
itself resolves ONLY from the zip), runs the batch replay in a fresh
spark-submit process from a neutral cwd, and checks the resulting lake's
final state row-exactly against the sequential oracle — including the
per-row content-sha invariant.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from skipmap_processor_spark.lake import LakeTable
from skipmap_processor_spark.oracle import replay
from skipmap_processor_spark.sources.events import (
    generate_full,
    write_event_log,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or os.path.join(
    os.environ.get("SPARK_HOME", "/opt/spark"), "bin", "spark-submit")


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT),
                    reason="spark-submit not on PATH")
def test_pyfiles_zip_submit_batch_replay(spark, tmp_path):
    sys.path.insert(0, REPO)
    from tools.package import build_zip

    base, ev, ddl = generate_full(
        n_repos=8, n_base_paths=60, n_events=300, n_epochs=4)

    events_dir = str(tmp_path / "events")
    write_event_log(events_dir, ev, ddl)
    base_dir = str(tmp_path / "base")
    os.makedirs(base_dir)
    pq.write_table(pa.Table.from_pandas(base, preserve_index=False),
                   os.path.join(base_dir, "base.parquet"))

    zip_path = build_zip(str(tmp_path / "engine.zip"))
    # primary resource lives OUTSIDE the repo: package imports must come
    # from the zip alone, and the driver runs with a neutral cwd
    driver = str(tmp_path / "driver_main.py")
    shutil.copyfile(
        os.path.join(REPO, "skipmap_processor_spark", "main.py"), driver)

    lake_dir = str(tmp_path / "lake")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    out = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[2]",
         "--conf", "spark.driver.memory=2g",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zip_path, driver,
         "--events-dir", events_dir, "--lake", lake_dir,
         "--mode", "batch", "--merge-mode", "mor", "--num-buckets", "4",
         "--base-snapshot", base_dir],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=600,
    )
    assert out.returncode == 0, f"spark-submit failed:\n{out.stderr[-4000:]}"
    lines = [json.loads(ln) for ln in out.stdout.splitlines()
             if ln.startswith("{")]
    assert lines, f"no JSON output:\n{out.stdout[-2000:]}"

    oracle = replay(base, ev, ddl)
    assert lines[-1]["final_rows"] == len(oracle)
    assert lines[-1]["hwm_epoch"] == int(ev["epoch"].max())

    engine = (LakeTable.load(spark, lake_dir).read().toPandas()
              .sort_values(["repo", "path"]).reset_index(drop=True))
    cols = sorted(oracle.columns)
    assert sorted(engine.columns) == cols
    pd.testing.assert_frame_equal(
        engine[cols], oracle[cols].reset_index(drop=True), check_dtype=False)
    assert engine["content_sha"].equals(oracle["content_sha"])
