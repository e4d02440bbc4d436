"""spark-submit entry point (theta_spark/__main__.py).

Runs the module exactly as spark-submit would execute the script (a fresh
Python process owning its own SparkSession), against a small synthetic
corpus; asserts the stage-manifest contract and snapshot resume.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_cli(workdir, extra):
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_GRAFT_DRIVER_MEM="4g")
    proc = subprocess.run(
        [sys.executable, "-m", "theta_spark", "--workdir", str(workdir), *extra],
        cwd=REPO, capture_output=True, text=True, timeout=600, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def test_cli_synthetic_run_and_resume(tmp_path):
    wd = tmp_path / "kg"
    out = _run_cli(wd, ["--synthetic", "120"])
    assert set(out["stages"]) == {
        "mentions", "triples", "nodes", "canon_map", "edge_provenance", "edges",
        "scored_docs", "delta_stats",
    }
    rows = {s: m["rows_out"] for s, m in out["stages"].items()}
    assert all(v > 0 for v in rows.values())
    assert out["scorer"] == "rule" and out["decoder"] == "span"

    # resume: same manifests (snapshots reused, not rebuilt — wall_ms of the
    # original build is preserved verbatim in the manifest file)
    out2 = _run_cli(wd, ["--synthetic", "120", "--resume"])
    assert {s: m["rows_out"] for s, m in out2["stages"].items()} == rows
    assert out2["stages"]["mentions"]["wall_ms"] == out["stages"]["mentions"]["wall_ms"]

    # refresh of the unchanged corpus against the first run: same stages,
    # nothing re-extracted
    import pyarrow.parquet as pq

    wd3 = tmp_path / "kg_refresh"
    out3 = _run_cli(wd3, ["--synthetic", "120", "--incremental-from", str(wd)])
    assert set(out3["stages"]) == set(rows)
    stats = pq.read_table(str(wd3 / "delta_stats")).to_pylist()
    assert stats == [{"n_docs": 120, "n_extracted": 0, "n_retired": 0}]
