"""build_session sizes a session to the host and ships the package to
its Python workers, so the engine runs from any working directory."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

_SCRIPT = """
import json, sys
from data_etl_spark.etl import ETLPipeline
from data_etl_spark.session import build_session

spark = build_session("location-test")
conf = spark.sparkContext.getConf()
stats = ETLPipeline(spark, "index").process_folder(sys.argv[1])
print(json.dumps({
    "master": conf.get("spark.master"),
    "heap": conf.get("spark.driver.memory"),
    "parts": spark.conf.get("spark.sql.shuffle.partitions"),
    "stats": stats,
}))
spark.stop()
"""


def test_session_runs_from_any_directory(tmp_path):
    docs = tmp_path / "docs"
    docs.mkdir()
    (docs / "a.txt").write_text("alpha beta gamma " * 20)
    (docs / "b.md").write_text("delta epsilon " * 20)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    # only the driver finds the package, through sys.path; its Python
    # workers start in tmp_path with no PYTHONPATH
    script = tmp_path / "run.py"
    script.write_text(f"import sys\nsys.path.insert(0, {str(ROOT)!r})\n" + _SCRIPT)
    out = subprocess.run(
        [sys.executable, str(script), str(docs)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {
        "master": "local[2]",
        "heap": "1g",
        "parts": "2",
        "stats": {"n_documents": 2, "n_chunks": 2},
    }
