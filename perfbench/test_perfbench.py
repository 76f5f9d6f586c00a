"""Tests of the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import layers  # noqa: E402
import pages as G  # noqa: E402
import run  # noqa: E402


# ------------------------------------------------------------- generator


def test_generators_are_deterministic_per_seed():
    assert G.documents(7, 50) == G.documents(7, 50)
    assert G.web_page(7, 3, 50_000) == G.web_page(7, 3, 50_000)
    assert G.crawl_pages(7, [list(range(40))]) == G.crawl_pages(7, [list(range(40))])
    assert G.web_page(7, 3, 50_000)["html"] != G.web_page(8, 3, 50_000)["html"]
    assert G.documents(7, 50) != G.documents(8, 50)


def test_web_pages_span_the_size_mix_and_carry_sentinels():
    sizes = [len(G.web_page(1, i, G.web_size_quantile(i / 200))["html"]) for i in range(200)]
    assert min(sizes) >= 15_000 and max(sizes) <= G.MAX_WEB_BYTES + 20_000
    assert max(sizes) > 3 * sorted(sizes)[len(sizes) // 2]  # heavy tail
    page = G.web_page(1, 0, 40_000)
    html = page["html"].decode()
    assert len(page["article"]) == 3 and len(page["boiler"]) >= 6
    assert all(tok in html for tok in page["article"] + page["boiler"])


def test_crawl_groups_get_a_fixed_article_share_and_size_mix():
    groups = [list(range(0, 400, 2)), list(range(1, 400, 2))]
    mix = G.crawl_pages(3, groups)
    assert [p["url"] for p in mix] == [G.crawl_url(3, i) for i in range(400)]
    for group in groups:
        articles = [mix[i] for i in group if mix[i]["readerable"]]
        assert len(articles) == 50
        assert all(not mix[i]["article"] for i in group if not mix[i]["readerable"])
    # same work per group whatever the seed: sizes are stratified
    totals = [sum(len(p["html"]) for p in G.crawl_pages(s, groups) if p["readerable"]) for s in (3, 4, 5)]
    assert max(totals) / min(totals) < 1.05


# ---------------------------------------------------------------- checks


def _template_case():
    docs = G.documents(5, 3)
    expected, rows = {}, []
    for d in docs:
        exp = G.template_expectation(d)
        exp.update(kind="template", html=True)
        expected[exp["url"]] = exp
        rows.append(dict({k: exp[k] for k in checks.TEMPLATE_FIELDS}, url=exp["url"], ok=True, err=None, content_html="<p>x</p>"))
    return expected, rows


def _article_case():
    page = G.web_page(5, 0, 30_000)
    nav = G.nav_page(5, 1)
    expected = {
        page["url"]: {"kind": "article", "article": page["article"], "boiler": page["boiler"], "html": False},
        nav["url"]: {"kind": "not_readerable"},
    }
    rows = [
        {"url": page["url"], "ok": True, "err": None, "text": "intro " + " ".join(page["article"]), "content_html": None},
        {"url": nav["url"], "ok": False, "err": "not_readerable", "text": None, "content_html": None},
    ]
    return expected, rows


@pytest.mark.parametrize("case", [_template_case, _article_case])
def test_clean_output_has_no_failures(case):
    expected, rows = case()
    assert checks.count_failures(rows, expected).total == 0


def test_planted_wrong_missing_and_duplicated_rows_are_counted():
    expected, rows = _template_case()
    wrong = [dict(rows[0], text=rows[0]["text"] + " extra")] + rows[1:]
    assert checks.count_failures(wrong, expected).wrong == 1
    missing = rows[1:]
    assert checks.count_failures(missing, expected).missing == 1
    dup = rows + [dict(rows[2])]
    assert checks.count_failures(dup, expected).duplicated == 1
    stray = rows + [dict(rows[0], url="http://elsewhere/x")]
    assert checks.count_failures(stray, expected).wrong == 1

    expected, rows = _article_case()
    leak = [dict(rows[0], text=rows[0]["text"] + " " + expected[rows[0]["url"]]["boiler"][0])] + rows[1:]
    assert checks.count_failures(leak, expected).wrong == 1
    lost = [dict(rows[0], text="intro")] + rows[1:]
    assert checks.count_failures(lost, expected).wrong == 1
    crashed = [dict(rows[0], ok=False, err="ValueError: boom")] + rows[1:]
    assert checks.count_failures(crashed, expected).errors == 1
    extracted_nav = rows[:1] + [dict(rows[1], ok=True, err=None, text="x")]
    assert checks.count_failures(extracted_nav, expected).wrong == 1


# --------------------------------------------------------- metric names


def _event_log(directory: str, out_dir: str) -> None:
    """A minimal event log of one job.main call: the extract+write execution
    (extract stage 0, write stage 1) and a re-read execution."""

    def node(name, metrics, children=(), location=""):
        return {
            "nodeName": name,
            "simpleString": name,
            "metadata": {"Location": location} if location else {},
            "metrics": [{"name": n, "accumulatorId": i, "metricType": "sum"} for n, i in metrics],
            "children": list(children),
        }

    scan = node("Scan parquet", [("size of files read", 1), ("scan time", 2)])
    write_plan = node(
        "Execute InsertIntoHadoopFsRelationCommand",
        [("number of written files", 3), ("job commit time", 4)],
        [node("MapInPandas", [("time to run Python workers", 5)], [scan])],
    )
    reread_plan = node("Scan parquet", [("size of files read", 6)], location=f"file:{out_dir}")

    def task(stage, run_ms, accums, out_bytes=0):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {"Accumulables": [{"Name": n, "Update": str(v)} for n, v in accums]},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "JVM GC Time": 10,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 500, "Shuffle Write Time": 2_000_000},
                "Output Metrics": {"Bytes Written": out_bytes},
            },
        }

    sql = "org.apache.spark.sql.execution.ui."
    events = [
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 1, "time": 1000,
         "physicalPlanDescription": "InsertIntoHadoopFsRelationCommand MapInPandas", "sparkPlanInfo": write_plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], "Properties": {"spark.sql.execution.id": "1"}},
        task(0, 900, [("time to run Python workers", 800), ("scan time", 20)]),
        task(0, 1100, [("time to run Python workers", 1000), ("scan time", 30)]),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Submission Time": 1000, "Completion Time": 2200}},
        task(1, 50, [], out_bytes=700),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Submission Time": 2200, "Completion Time": 2400}},
        {"Event": sql + "SparkListenerDriverAccumUpdates", "executionId": 1, "accumUpdates": [[1, 4096], [3, 2], [4, 15]]},
        {"Event": sql + "SparkListenerSQLExecutionEnd", "executionId": 1, "time": 2500},
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 2, "time": 2600,
         "physicalPlanDescription": "Scan parquet", "sparkPlanInfo": reread_plan},
        {"Event": sql + "SparkListenerDriverAccumUpdates", "executionId": 2, "accumUpdates": [[6, 1200]]},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2950},
        {"Event": sql + "SparkListenerSQLExecutionEnd", "executionId": 2, "time": 2970},
    ]
    os.makedirs(directory)
    with open(os.path.join(directory, "app-1"), "w") as fh:
        fh.writelines(json.dumps(e) + "\n" for e in events)


def test_spark_layers_reads_the_event_log(tmp_path):
    out = str(tmp_path / "out")
    _event_log(str(tmp_path / "events"), out)
    m = layers.spark_layers(str(tmp_path / "events"), out, cores=2)
    assert m["scan.input_splits"] == 2 and m["scan.input_bytes"] == 4096
    assert m["operators.extract.task_s.sum"] == pytest.approx(2.0)
    assert m["operators.extract.core_util"] == pytest.approx(2.0 / (1.2 * 2))
    assert m["operators.extract.python_s"] == pytest.approx(1.8)
    assert m["job.write_s"] == pytest.approx(0.2) and m["job.write_bytes"] == 700
    assert m["job.write_files"] == 2 and m["job.commit_s"] == pytest.approx(0.015)
    assert m["job.reread_s"] == pytest.approx(0.45) and m["job.reread_bytes"] == 1200


def test_printed_metric_names_match_benchmark_json(tmp_path):
    spec = run.load_spec()
    e2e = run.end_to_end([1.0, 1.2], [5e8, 6e8], 9.0, docs=10, html_bytes=10_000)
    assert run.as_metrics(e2e, spec["end_to_end"]).keys() == spec["end_to_end"].keys()

    out = str(tmp_path / "out")
    _event_log(str(tmp_path / "events"), out)
    spark = layers.spark_layers(str(tmp_path / "events"), out, cores=2)
    spark.update({k: 0.0 for k in (
        "plans.pipeline.manifest_read_s", "plans.pipeline.manifest_append_s",
        "plans.pipeline.manifest_rows_appended", "plans.pipeline.manifest_dup_rows")})
    pages = [(p["url"], p["html"]) for p in G.crawl_pages(2, [list(range(8))])]
    py, per_doc_s = layers.layer_pass(pages, prefilter=True)

    class FakeBench:
        job_urls = {u for u, _ in pages}
        expected = dict.fromkeys(job_urls)

    values = run.per_layer(FakeBench, [1.0], [1.1], spark, py, per_doc_s)
    assert run.as_metrics(values, spec["per_layer"]).keys() == spec["per_layer"].keys()
    with pytest.raises(RuntimeError):
        run.as_metrics(dict(values, extra=1.0), spec["per_layer"])


def test_layer_pass_adds_up_to_the_extract_call():
    pages = [(p["url"], p["html"]) for p in (G.web_page(4, i, 30_000 + 5_000 * i) for i in range(12))]
    py, _ = layers.layer_pass(pages, prefilter=False, total_every=1)
    assert py["core.readability.articles_per_attempt"] == 1.0
    assert 0.8 < py["py.layer_sum_over_total"] < 1.25


# ------------------------------------------------------ missing program


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_resume", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
