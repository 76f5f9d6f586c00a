"""End-to-end runs of the spark-submit entry point, ``readability_spark.job``:
an interrupted crawl, its resumed run and a fully resumed run over one
output directory and manifest.

Each run is a subprocess (``python -m readability_spark.job``), so the job's
own ``spark.stop()`` cannot end the shared test session.
"""

import json
import os
import subprocess
import sys

import pyarrow.dataset as ds
import pytest
from pyspark.sql import functions as F

from tests.conftest import sf_dir

pytestmark = pytest.mark.spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = sf_dir()
BUCKETS = 8
# buckets the interrupted first run finishes; the resumed run owns the rest
DONE = {0, 2, 3, 5, 6}


def run_job(input_spec: str, out: str, manifest: str) -> dict:
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS="--master local[2] --conf spark.ui.enabled=false pyspark-shell",
    )
    proc = subprocess.run(
        [sys.executable, "-m", "readability_spark.job",
         "--input", input_spec, "--output", out, "--manifest", manifest,
         "--buckets", str(BUCKETS), "--no-html"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def manifest_buckets(manifest: str) -> list:
    return sorted(ds.dataset(manifest, format="parquet").to_table(columns=["bucket"]).column(0).to_pylist())


def bucket_files(out: str, buckets: set) -> dict:
    """path -> (size, mtime) of every output file in the given buckets."""
    files = {}
    for b in buckets:
        d = os.path.join(out, f"bucket={b}")
        for name in os.listdir(d):
            st = os.stat(os.path.join(d, name))
            files[os.path.join(d, name)] = (st.st_size, st.st_mtime_ns)
    return files


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    from readability_spark.plans.pipeline import with_bucket
    from readability_spark.sources.pages import synthesize_pages

    tmp = tmp_path_factory.mktemp("job")
    out, manifest = str(tmp / "out"), str(tmp / "manifest")
    pages = with_bucket(synthesize_pages(spark, SF), BUCKETS)
    first_input = str(tmp / "first_input")
    pages.filter(F.col("bucket").isin(sorted(DONE))).drop("bucket").write.parquet(first_input)
    by_url = {r["url"]: r["bucket"] for r in pages.select("url", "bucket").collect()}

    r = {"by_url": by_url, "out": out}
    r["first"] = run_job(first_input, out, manifest)
    r["manifest_first"] = manifest_buckets(manifest)
    r["done_files"] = bucket_files(out, DONE)
    r["second"] = run_job(f"synth:{SF}", out, manifest)
    r["manifest_second"] = manifest_buckets(manifest)
    r["done_files_after"] = bucket_files(out, DONE)
    r["third"] = run_job(f"synth:{SF}", out, manifest)
    r["manifest_third"] = manifest_buckets(manifest)
    return r


def test_resumed_run_appends_only_its_pending_buckets(runs):
    assert runs["manifest_first"] == sorted(DONE)
    pending = set(range(BUCKETS)) - DONE
    n_pending_docs = sum(1 for b in runs["by_url"].values() if b in pending)
    second = runs["second"]
    assert second["docs"] == n_pending_docs
    assert second["buckets_written"] == len(pending)
    # one new row per pending bucket, none for buckets finished earlier
    assert runs["manifest_second"] == list(range(BUCKETS))
    # the histogram covers this run's docs only, not the whole output
    assert sum(h["n"] for h in second["length_histogram"]) == second["docs"]
    assert [h["len_bucket"] for h in second["length_histogram"]] == sorted(
        h["len_bucket"] for h in second["length_histogram"]
    )
    assert sum(h["n"] for h in runs["first"]["length_histogram"]) == runs["first"]["docs"]


def test_resumed_run_leaves_done_buckets_untouched(runs):
    assert runs["done_files"] and runs["done_files_after"] == runs["done_files"]


def test_every_url_written_exactly_once(runs):
    urls = ds.dataset(runs["out"], format="parquet", partitioning="hive").to_table(
        columns=["url"]
    ).column(0).to_pylist()
    assert len(urls) == len(set(urls))
    assert sorted(urls) == sorted(runs["by_url"])


def test_fully_resumed_run_extracts_and_appends_nothing(runs):
    third = runs["third"]
    assert third["docs"] == 0
    assert third["buckets_written"] == 0
    assert third["length_histogram"] == []
    assert runs["manifest_third"] == runs["manifest_second"]
