"""spark-submit --py-files packaging (north_rule: "run via spark-submit
--py-files on multi-executor clusters").

Two layers:

1. Import-completeness of the zip artifact — every engine module resolves
   with ONLY the zip on sys.path (a stale zip that misses a new module
   fails here in milliseconds, not at executor import time on a cluster).
2. A real ``spark-submit --py-files`` run of tools/submit_index_job.py on a
   tiny fixture corpus, asserting the job's JSON status line and that the
   written index loads and is queryable.  The engine code reaches the JVM
   only via the zip (cwd is a temp dir, repo not on PYTHONPATH).
"""

from __future__ import annotations

import json
import os
import pkgutil
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


def _build_zip() -> str:
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "make_pyfiles_zip.py")],
        capture_output=True,
        text=True,
        check=True,
    )
    path = out.stdout.strip().splitlines()[-1]
    assert os.path.exists(path)
    return path


def test_zip_contains_every_module():
    path = _build_zip()
    with zipfile.ZipFile(path) as zf:
        shipped = {n for n in zf.namelist() if n.endswith(".py")}
    pkg_dir = os.path.join(REPO, "modernsearchengines_spark")
    for root, dirs, files in os.walk(pkg_dir):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for name in files:
            if name.endswith(".py"):
                rel = os.path.relpath(os.path.join(root, name), REPO)
                assert rel in shipped, f"zip is stale: missing {rel}"


def test_zip_imports_standalone():
    """Every engine module imports with ONLY the zip on sys.path (plus
    site-packages for pyspark/numpy) — no repo directory leakage."""
    path = _build_zip()
    import modernsearchengines_spark as pkg

    modules = [
        name
        for _imp, name, _ispkg in pkgutil.walk_packages(
            pkg.__path__, prefix="modernsearchengines_spark."
        )
    ]
    assert len(modules) >= 15
    prog = (
        "import importlib, sys; "
        "assert not any('repo/modernsearchengines_spark' in (p or '') "
        "for p in sys.path), sys.path; "
        + "; ".join(f"importlib.import_module('{m}')" for m in modules)
        + "; print('ALL_IMPORTS_OK')"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = path
    out = subprocess.run(
        [sys.executable, "-c", prog],
        capture_output=True,
        text=True,
        env=env,
        cwd="/tmp",
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "ALL_IMPORTS_OK" in out.stdout


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not on PATH"
)
def test_spark_submit_pyfiles_end_to_end(tmp_path):
    from modernsearchengines_spark.sources.docs import (
        generate_docs,
        write_docs_parquet,
    )

    zip_path = _build_zip()
    docs_path = str(tmp_path / "docs.parquet")
    out_dir = str(tmp_path / "index")
    write_docs_parquet(generate_docs(120), docs_path)

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    # the job's own temp root, so a temporary directory it leaves is seen
    tmp_root = tmp_path / "tmp"
    tmp_root.mkdir()
    env["TMPDIR"] = str(tmp_root)
    out = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master",
            "local[2]",
            "--conf",
            "spark.sql.shuffle.partitions=4",
            "--conf",
            "spark.ui.enabled=false",
            "--conf",
            "spark.sql.execution.arrow.pyspark.enabled=true",
            "--py-files",
            zip_path,
            os.path.join(REPO, "tools", "submit_index_job.py"),
            docs_path,
            out_dir,
        ],
        capture_output=True,
        text=True,
        env=env,
        cwd=str(tmp_path),  # repo NOT the cwd: engine code ships via the zip
        timeout=420,
    )
    assert out.returncode == 0, (out.stdout[-2000:], out.stderr[-2000:])
    status_lines = [
        ln for ln in out.stdout.splitlines() if ln.startswith('{"status"')
    ]
    assert status_lines, out.stdout[-2000:]
    status = json.loads(status_lines[-1])
    assert status["status"] == "ok"
    assert status["n_docs"] > 0
    # the written index is complete and loadable
    for table in ("postings", "doc_stats", "term_df", "corpus_stats"):
        assert os.path.exists(os.path.join(out_dir, table)), table
    # the build's temporary enriched segment is removed, not leaked
    assert not [
        d for d in os.listdir(tmp_root) if d.startswith("msengines_idx_")
    ], os.listdir(tmp_root)
