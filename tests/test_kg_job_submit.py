"""End-to-end test of the production launch shape (north_rule):
``spark-submit --py-files char_ner_spark.zip tools/run_kg_job.py`` on a
small corpus, twice — the second invocation must resume (run 0 units) and
leave the committed triples unchanged."""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str:
    return shutil.which("spark-submit") or os.path.join(
        os.path.dirname(sys.executable), "spark-submit"
    )


def _make_zip(tmp: str) -> str:
    zpath = os.path.join(tmp, "char_ner_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        pkg = os.path.join(REPO, "char_ner_spark")
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, REPO))
    return zpath


def _run_job(zpath: str, pages_dir: str, out_dir: str, *extra: str) -> dict:
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1")
    cmd = [
        _spark_submit(),
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--py-files", zpath,
        os.path.join(REPO, "tools", "run_kg_job.py"),
        "--pages", pages_dir, "--out", out_dir,
        "--n-parts", "3", "--n-entities", "80",
        "--materialize-graph",
        *extra,
    ]
    res = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=600)
    assert res.returncode == 0, res.stdout[-2000:] + res.stderr[-3000:]
    for line in reversed(res.stdout.splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    pytest.fail(f"no JSON result line in stdout:\n{res.stdout[-2000:]}")


def test_spark_submit_job_runs_and_resumes(spark, tmp_path):
    from char_ner_spark import lineage
    from char_ner_spark.fixtures import make_alias_table, make_pages

    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    alias = make_alias_table(80, seed=42)
    spark.createDataFrame(make_pages(60, seed=42, alias_df=alias)).repartition(
        4
    ).write.parquet(pages_dir)
    zpath = _make_zip(str(tmp_path))

    first = _run_job(zpath, pages_dir, out_dir)
    assert first["units_run"] == 3 and first["units_total"] == 3
    assert first["triples"] > 0
    snap = lineage.current_snapshot(out_dir)
    assert snap is not None and snap["completed"] == [0, 1, 2]
    assert os.path.exists(os.path.join(out_dir, "entities"))
    assert os.path.exists(os.path.join(out_dir, "edges"))

    # resume + compaction in one shot: nothing re-runs, content unchanged
    second = _run_job(zpath, pages_dir, out_dir, "--compact")
    assert second["units_run"] == 0          # full resume: nothing re-runs
    assert second["triples"] == first["triples"]


#: prints the master and shuffle partitions build_session gives a driver
#: spark-submit started
_SUBMIT_MASTER = """
from char_ner_spark.session import build_session
spark = build_session("submit_master")
print(spark.sparkContext.master,
      spark.conf.get("spark.sql.shuffle.partitions"))
spark.stop()
"""


def _submit_master(tmp_path, *conf: str) -> str:
    """The last line _SUBMIT_MASTER prints under ``SPARK_GRAFT_CPUS=2
    spark-submit --master local[1]`` with ``conf`` (``key=value``)."""
    script = tmp_path / "submit_master.py"
    script.write_text(_SUBMIT_MASTER)
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", PYTHONPATH=os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p))
    res = subprocess.run(
        [_spark_submit(), "--master", "local[1]",
         "--conf", "spark.ui.enabled=false",
         *[a for kv in conf for a in ("--conf", kv)], str(script)],
        capture_output=True, text=True, env=env, cwd=tmp_path, timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    return res.stdout.strip().splitlines()[-1]


def test_build_session_keeps_submit_master(tmp_path):
    """Under spark-submit, build_session leaves the master to spark-submit
    and sizes the shuffle partitions from it."""
    assert _submit_master(tmp_path) == "local[1] 1"


def test_build_session_keeps_submit_shuffle_partitions(tmp_path):
    """Under spark-submit, a shuffle partition count spark-submit was
    given wins over the one build_session sizes from the master."""
    assert _submit_master(
        tmp_path, "spark.sql.shuffle.partitions=8") == "local[1] 8"
