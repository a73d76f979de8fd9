"""The benchmark as a program: its declared metrics match the code,
it refuses to run without the package, and its bootstrap makes the
package importable to Spark's Python workers from any cwd."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap

from conftest import BENCH

ROOT = os.path.dirname(BENCH)


def test_benchmark_json_declares_the_metrics_run_prints():
    import run
    import workloads

    assert list(workloads.WORKLOADS) == run.WORKLOAD_NAMES
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == run.WORKLOAD_NAMES
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] \
        == [tuple(m) for m in run.END_TO_END]
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} \
        == run.per_layer_units()


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_python_udf_query_runs_from_another_cwd(tmp_path):
    """q135's pandas-UDF workers import the package; run it from a cwd
    outside the repo with PYTHONPATH unset."""
    script = textwrap.dedent(f"""
        import os, sys
        sys.path.insert(0, {BENCH!r})
        import env
        work = {str(tmp_path / 'work')!r}
        env.bootstrap(work)
        sys.path.insert(0, os.path.join(env.ROOT, "tools"))
        import gen_testdata
        from samba_tv_ingest_etl_spark import queries as Q
        data = os.path.join(work, "sf")
        gen_testdata.generate(0.01, data, 3)
        spark = env.start_spark(work, cpus=2)
        try:
            n = Q.registry()["q135_semdedup_increment"](spark, data).count()
        finally:
            env.shutdown(spark)
        print("ROWS", n)
    """)
    run_env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=run_env,
        capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    assert "ModuleNotFoundError" not in p.stderr
    rows = [line for line in p.stdout.splitlines() if line.startswith("ROWS ")]
    assert rows and int(rows[-1].split()[1]) > 0
