"""Tracing for the benchmark's traced run. None of it wraps the timed
untraced calls; the untimed warm-up call carries :class:`PipelineSpans`
only to read the session settings the stamp records.

Three sources, all driven from the benchmark's own files:

- :class:`PipelineSpans` wraps the ``readability_spark.plans.pipeline``
  functions ``job.main`` calls (it imports them at call time, so patching the
  module attributes reaches it) and records one span per call.
- :func:`spark_layers` reads the Spark event log of one traced ``job.main``
  call (switched on by JVM system properties, which a new SparkContext picks
  up) and derives the scan, extract, shuffle and write numbers.
- :func:`layer_pass` runs the per-document Python layers in this process on
  one core and times each call into them.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

PIPELINE_CALLS = (
    "with_bucket",
    "read_manifest",
    "pending_buckets",
    "observed_extract",
    "append_manifest",
    "length_histogram",
)

EVENT_LOG_PROPS = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def _now_ms() -> float:
    return time.time() * 1000.0


class PipelineSpans:
    """Spans around the ``plans.pipeline`` calls of one ``job.main`` call.

    ``conf`` keeps the job session's settings the report stamps, read from
    the DataFrame ``observed_extract`` receives.
    """

    CONF_KEYS = ("spark.sql.execution.arrow.maxRecordsPerBatch", "spark.sql.shuffle.partitions")

    def __init__(self):
        self.spans: list = []  # (name, start_ms, end_ms)
        self.conf: dict = {}

    def _wrap(self, name, fn):
        def traced(*args, **kwargs):
            if name == "observed_extract" and not self.conf:
                conf = args[0].sparkSession.conf
                self.conf = {k: conf.get(k, None) for k in self.CONF_KEYS}
            t0 = _now_ms()
            try:
                return fn(*args, **kwargs)
            finally:
                self.spans.append((name, t0, _now_ms()))

        return traced

    @contextlib.contextmanager
    def installed(self):
        from readability_spark.plans import pipeline

        saved = {n: getattr(pipeline, n) for n in PIPELINE_CALLS}
        for n, fn in saved.items():
            setattr(pipeline, n, self._wrap(n, fn))
        try:
            yield self
        finally:
            for n, fn in saved.items():
                setattr(pipeline, n, fn)

    def seconds(self, name: str) -> float:
        return sum(e - s for n, s, e in self.spans if n == name) / 1000.0


@contextlib.contextmanager
def event_log(jvm, directory: str):
    """Event logging for SparkContexts created inside the block only."""
    os.makedirs(directory, exist_ok=True)
    props = dict(EVENT_LOG_PROPS, **{"spark.eventLog.dir": "file://" + os.path.abspath(directory)})
    system = jvm.java.lang.System
    for k, v in props.items():
        system.setProperty(k, v)
    try:
        yield
    finally:
        for k in props:
            system.clearProperty(k)


# ------------------------------------------------------------ event log


def _read_events(directory: str) -> list:
    files = [os.path.join(directory, f) for f in os.listdir(directory) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {len(files)}")
    with open(files[0]) as fh:
        return [json.loads(line) for line in fh]


def _plan_nodes(info: dict):
    yield info
    for child in info["children"]:
        yield from _plan_nodes(child)


class _Execution:
    def __init__(self, ev: dict):
        self.id = ev["executionId"]
        self.start = ev["time"]
        self.end = None
        self.plan = ev["physicalPlanDescription"]
        self.nodes: list = list(_plan_nodes(ev["sparkPlanInfo"]))
        self.driver_accums: dict = {}

    def accum_ids(self, metric: str, node_prefix: str = "", location: str = "") -> set:
        ids = set()
        for node in self.nodes:
            if not node["nodeName"].startswith(node_prefix):
                continue
            if location and location not in node.get("metadata", {}).get("Location", ""):
                continue
            ids.update(m["accumulatorId"] for m in node["metrics"] if m["name"] == metric)
        return ids

    def driver_sum(self, metric: str, node_prefix: str = "", location: str = "") -> int:
        ids = self.accum_ids(metric, node_prefix, location)
        return sum(v for k, v in self.driver_accums.items() if k in ids)


def _task_accum(task: dict, name: str) -> float:
    return sum(
        float(a.get("Update") or 0) for a in task["Task Info"]["Accumulables"] if a.get("Name") == name
    )


def spark_layers(events_dir: str, out_dir: str, cores: int) -> dict:
    """Scan, extract, shuffle and write numbers of one traced job.main call."""
    execs, jobs, stages, tasks = {}, {}, {}, {}
    last_job_end = 0
    for ev in _read_events(events_dir):
        kind = ev["Event"]
        if kind.endswith("SQLExecutionStart"):
            execs[ev["executionId"]] = _Execution(ev)
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            # AQE re-plans: later stages carry the new plan's accumulator ids
            execs[ev["executionId"]].nodes += list(_plan_nodes(ev["sparkPlanInfo"]))
        elif kind.endswith("SQLExecutionEnd"):
            execs[ev["executionId"]].end = ev["time"]
        elif kind.endswith("DriverAccumUpdates"):
            acc = execs[ev["executionId"]].driver_accums
            for k, v in ev["accumUpdates"]:
                acc[k] = acc.get(k, 0) + v
        elif kind == "SparkListenerJobStart":
            eid = ev["Properties"].get("spark.sql.execution.id")
            jobs[ev["Job ID"]] = (int(eid) if eid is not None else None, ev["Stage IDs"])
        elif kind == "SparkListenerJobEnd":
            last_job_end = max(last_job_end, ev["Completion Time"])
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            stages[si["Stage ID"]] = si
        elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
            tasks.setdefault(ev["Stage ID"], []).append(ev)

    write = next(
        e for e in execs.values() if "MapInPandas" in e.plan and "InsertIntoHadoopFsRelationCommand" in e.plan
    )
    write_stages = sorted(
        {s for eid, sids in jobs.values() if eid == write.id for s in sids if s in stages}
    )
    extract = next(s for s in write_stages if any(_task_accum(t, "time to run Python workers") for t in tasks.get(s, ())))
    after = [s for s in write_stages if s != extract]

    ext_tasks = tasks[extract]
    run_s = sorted(t["Task Metrics"]["Executor Run Time"] / 1000.0 for t in ext_tasks)
    si = stages[extract]
    stage_wall = (si["Completion Time"] - si["Submission Time"]) / 1000.0
    sw = [t["Task Metrics"]["Shuffle Write Metrics"] for t in ext_tasks]
    out_loc = "file:" + os.path.abspath(out_dir)
    rereads = [e for e in execs.values() if e.start >= (write.end or 0) and e.id != write.id]
    return {
        "scan.input_splits": len(ext_tasks),
        "scan.input_bytes": write.driver_sum("size of files read", "Scan"),
        "scan.task_s": sum(_task_accum(t, "scan time") for t in ext_tasks) / 1000.0,
        "operators.extract.tasks": len(ext_tasks),
        "operators.extract.task_s.sum": sum(run_s),
        "operators.extract.task_s.max_over_p50": run_s[-1] / statistics.median(run_s) if statistics.median(run_s) else 0.0,
        "operators.extract.core_util": sum(run_s) / (stage_wall * cores) if stage_wall else 0.0,
        "operators.extract.python_s": sum(_task_accum(t, "time to run Python workers") for t in ext_tasks) / 1000.0,
        "operators.extract.jvm_gc_s": sum(t["Task Metrics"]["JVM GC Time"] for t in ext_tasks) / 1000.0,
        "plans.pipeline.shuffle_bytes": sum(m["Shuffle Bytes Written"] for m in sw),
        "plans.pipeline.shuffle_write_s": sum(m["Shuffle Write Time"] for m in sw) / 1e9,
        "job.write_s": sum((stages[s]["Completion Time"] - stages[s]["Submission Time"]) / 1000.0 for s in after),
        "job.write_bytes": sum(
            t["Task Metrics"]["Output Metrics"]["Bytes Written"] for s in after for t in tasks.get(s, ())
        ),
        "job.write_files": write.driver_sum("number of written files"),
        "job.commit_s": write.driver_sum("job commit time") / 1000.0,
        "job.reread_s": (last_job_end - write.end) / 1000.0,
        "job.reread_bytes": sum(e.driver_sum("size of files read", "Scan", out_loc) for e in rereads),
    }


# ------------------------------------------------------- in-process pass


def _pct(values: list, q: int) -> float:
    if not values:
        return 0.0
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def layer_pass(pages: list, prefilter: bool, total_every: int = 4) -> tuple:
    """Time each per-document layer the job's extract UDF runs, on one core;
    returns (metrics, per-page seconds).

    Per page, in the order ``operators.extract._extract_one`` runs them:
    decode, parse, readerable check, Readability, serializer (the job's
    ``observed_extract`` always asks Readability for ``content_html``), and
    canonical text. Every ``total_every``-th page is also run once through
    ``_extract_one`` itself, so the layer sum can be checked against it.
    """
    from readability_spark.core.readability import Readability
    from readability_spark.core.readerable import is_probably_readerable
    from readability_spark.core.text import canonical_text
    from readability_spark.dom.parser import decode_html_bytes, parse_html
    from readability_spark.dom.serializer import inner_html
    from readability_spark.operators.extract import _extract_one

    pc = time.perf_counter
    opts = {"readerable_prefilter": True} if prefilter else {}
    t = {k: [] for k in ("decode", "parse", "readerable", "readability", "serializer", "text")}
    per_doc, nodes, html_bytes = [], [], 0
    attempts = articles = passed = 0
    sum_layers_sampled = sum_total_sampled = 0.0
    for i, (url, html) in enumerate(pages):
        html_bytes += len(html)
        t0 = pc()
        src = decode_html_bytes(bytes(html))
        t1 = pc()
        doc = parse_html(src, base_uri=url)
        t2 = pc()
        ok = is_probably_readerable(doc)
        t3 = pc()
        nodes.append(len(doc.get_elements_by_tag_name("*")))
        t["decode"].append(t1 - t0)
        t["parse"].append(t2 - t1)
        t["readerable"].append(t3 - t2)
        passed += ok
        spent = (t1 - t0) + (t2 - t1) + ((t3 - t2) if prefilter else 0.0)
        if ok or not prefilter:
            attempts += 1
            t4 = pc()
            reader = Readability(doc, serialize_content=False)
            reader._source_html = src
            art = reader.parse()
            if art is not None:
                content = art["_articleContent"]
                content.text_content  # what parse() builds when it serializes
            t5 = pc()
            t["readability"].append(t5 - t4)
            spent += t5 - t4
            if art is not None:
                articles += 1
                inner_html(content)
                t6 = pc()
                canonical_text(content)
                t7 = pc()
                t["serializer"].append(t6 - t5)
                t["text"].append(t7 - t6)
                spent += (t6 - t5) + (t7 - t6)
        per_doc.append(spent)
        if i % total_every == 0:
            t8 = pc()
            _extract_one(url, html, opts, False)
            sum_total_sampled += pc() - t8
            sum_layers_sampled += spent

    total = sum(per_doc)
    ms = {k: [v * 1000.0 for v in vs] for k, vs in t.items()}
    share = lambda *ks: sum(sum(t[k]) for k in ks) / total if total else 0.0  # noqa: E731
    out = {
        "py.docs": len(pages),
        "py.per_doc_ms.p50": _pct([v * 1000.0 for v in per_doc], 50),
        "py.per_doc_ms.p99": _pct([v * 1000.0 for v in per_doc], 99),
        "py.layer_sum_over_total": sum_layers_sampled / sum_total_sampled if sum_total_sampled else 0.0,
        "dom.parser.decode_ms.p50": _pct(ms["decode"], 50),
        "dom.parser.decode_ms.p99": _pct(ms["decode"], 99),
        "dom.parser.parse_ms.p50": _pct(ms["parse"], 50),
        "dom.parser.parse_ms.p99": _pct(ms["parse"], 99),
        "dom.parser.parse_mb_per_s": html_bytes / 1e6 / sum(t["parse"]),
        "dom.parser.nodes_per_doc.p50": statistics.median(nodes),
        "dom.parser.share": share("decode", "parse"),
        "core.readability.parse_ms.p50": _pct(ms["readability"], 50),
        "core.readability.parse_ms.p99": _pct(ms["readability"], 99),
        "core.readability.articles_per_attempt": articles / attempts if attempts else 0.0,
        "core.readability.share": share("readability"),
        "core.text.canonical_ms.p50": _pct(ms["text"], 50),
        "core.text.canonical_ms.p99": _pct(ms["text"], 99),
        "core.text.share": share("text"),
        "dom.serializer.inner_html_ms.p50": _pct(ms["serializer"], 50),
        "dom.serializer.inner_html_ms.p99": _pct(ms["serializer"], 99),
        "dom.serializer.share": share("serializer"),
        "core.readerable.check_ms.p50": _pct(ms["readerable"], 50),
        "core.readerable.check_ms.p99": _pct(ms["readerable"], 99),
        "core.readerable.pass_frac": passed / len(pages),
        "core.readerable.share": share("readerable") if prefilter else 0.0,
    }
    return out, per_doc
