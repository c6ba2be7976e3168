"""The north-rule shipping shape: ``spark-submit --py-files sparkcrawler.zip``.

The rule requires the engine to ship to a multi-executor cluster as a
single ``--py-files`` artifact (reference ships as a pip package,
simple_crawler/setup.py). This test proves the zip is self-contained:
a fresh ``spark-submit`` process, launched from a temp cwd with no
``PYTHONPATH``, must resolve ``sparkcrawler`` *from the zip* on the
driver AND inside executor python workers (where the crawl's cloudpickled
pandas-UDF bodies re-import ``sparkcrawler.functions.*``), then run a
real synth crawl end-to-end.

``--py-files`` entries land on ``PYTHONPATH`` ahead of site-packages, so
the zip-path assertion shows the shipped artifact wins even when a
stale checkout is installed — the precedence a real cluster relies on.
The package is not installed here: the ``crawl_job.py`` entry-point
check puts the repo root on its subprocess's ``PYTHONPATH`` instead.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """\
import json
import sys

import sparkcrawler
from sparkcrawler import cli
from sparkcrawler.session import get_spark

assert ".zip" in sparkcrawler.__file__, sparkcrawler.__file__

out_dir = sys.argv[1]
rc = cli.main(["https://host0.example/p/0", "--synth", "120", "--hosts", "4",
               "--max-pages", "25", "--out", out_dir, "--no-sitemap"])
assert rc == 0, rc

import pandas as pd  # noqa: E402

def worker_probe(batches):
    import sparkcrawler as sc_worker
    for pdf in batches:
        yield pd.DataFrame({"f": [sc_worker.__file__] * len(pdf)})

spark = get_spark("pyfiles-probe")
worker_paths = sorted({
    r.f for r in spark.range(8, numPartitions=4)
    .mapInPandas(worker_probe, "f string").collect()
})
print("PYFILES_PROBE " + json.dumps({
    "driver": sparkcrawler.__file__,
    "workers": worker_paths,
    "master": spark.sparkContext.master,
    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
}))
"""


def _spark_submit() -> str:
    exe = shutil.which("spark-submit")
    if exe:
        return exe
    import pyspark
    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin",
                        "spark-submit")
    if os.path.exists(cand):
        return cand
    pytest.skip("no spark-submit on PATH")


def test_spark_submit_pyfiles_self_contained(tmp_path):
    zip_path = str(tmp_path / "sparkcrawler.zip")
    subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "make_pyfiles.py"),
         zip_path],
        check=True,
    )
    probe = tmp_path / "probe.py"
    probe.write_text(_PROBE)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "4"
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    env.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    out_dir = str(tmp_path / "state")
    res = subprocess.run(
        [_spark_submit(), "--master", "local[4]", "--py-files", zip_path,
         str(probe), out_dir],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    probe_lines = [ln for ln in res.stdout.splitlines()
                   if ln.startswith("PYFILES_PROBE ")]
    assert probe_lines, res.stdout[-2000:]
    info = json.loads(probe_lines[-1].removeprefix("PYFILES_PROBE "))
    # driver + every worker resolved the package from the shipped zip
    assert "sparkcrawler.zip" in info["driver"], info
    assert info["workers"] and all(
        "sparkcrawler.zip" in p for p in info["workers"]), info
    # get_spark respected the submitted master instead of forcing local[*]
    assert info["master"] == "local[4]", info
    # without AQE nothing coalesces Spark's 200 default: get_spark sizes
    # the crawl's shuffles to the submitted master's parallelism
    assert info["shuffle_partitions"] == "4", info
    # the crawl itself completed and committed state under out_dir
    crawl_json = [ln for ln in res.stdout.splitlines()
                  if ln.startswith("{") and "visited" in ln]
    assert crawl_json, res.stdout[-2000:]
    payload = json.loads(crawl_json[-1])
    assert payload["visited"] == 25
    assert os.path.isdir(os.path.join(out_dir, "crawl_log"))


def test_crawl_job_entry_parses_args():
    env = dict(os.environ, PYTHONPATH=REPO)
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "crawl_job.py"),
         "--help"],
        capture_output=True, text=True, timeout=120, env=env,
    )
    assert res.returncode == 0
    assert "--max-pages" in res.stdout
