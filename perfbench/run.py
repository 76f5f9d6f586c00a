"""Job-level extraction benchmark.

The timed unit is one in-process call of ``readability_spark.job.main(argv)``:
input scan -> ``observed_extract`` -> bucket-aligned parquet write -> output
re-read -> manifest append, the spark-submit surface. Load comes from this
one process, as a closed loop of one call after another.

    python3 perfbench/run.py --workload crawl_resume --seed 1 --seconds 10 --trace 0

Run from the repository root. Set-up (``setup_s``) is JVM launch, input
generation and one warm-up job; every timed call then starts from the same
on-disk state, restored untimed. After each call the output is checked
against the generator's expectations. The last stdout line is one JSON
object: ``correct``, ``attempted`` and ``failed`` count documents
(``failed / attempted`` is ``docs_failed_frac``), and ``metrics`` holds the
end-to-end metrics of BENCHMARK.json (``--trace 0``) or its per-layer
metrics (``--trace 1``, a separate traced run: Spark event log, pipeline
spans and an in-process single-core layer pass).
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import json
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402
from workloads import Paths  # noqa: E402

DRIVER_MEMORY = "2g"
# a fully committed, pre-touched heap: its resident size is a constant the
# benchmark sets, left out of peak_rss_mb (see TreeRss); no hsperfdata files
# outside the checkout
DRIVER_JAVA_OPTS = f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData"
MAX_CORES = 4
# the median of three leaves out one slow call: the first timed call is
# often the slowest, as the JVM is still warming up over the first jobs
MIN_CALLS = 3
TRACED_CALLS = 3
LAYER_PASS_PAGES = 1000


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


# ------------------------------------------------------------------ memory


class TreeRss:
    """Samples the resident memory of this process tree every ``PERIOD``
    seconds; ``take_peak`` returns and resets the peak since the last take.

    Counted: the driver JVM (this process's java child) by RSS less
    ``heap_bytes``, and every Python process (this driver, the Spark daemon
    and its workers) by proportional set size, which splits pages shared
    after a fork so forked workers are not counted twice. Anything else is
    skipped: in particular a JVM thread between fork and exec of a worker,
    which shares the JVM's memory and would count it twice. Reading the JVM's
    PSS would walk a 2 GB heap, too slow to sample.

    ``heap_bytes`` is the JVM's committed heap. The heap is pre-touched and
    never shrinks (``-Xms`` = ``-Xmx``), so it is resident in full from
    launch whatever the program does; what is left is the JVM's non-heap
    memory (metaspace, code cache, thread stacks, GC structures, direct and
    Netty buffers). Heap use within the fixed heap does not show here; it
    shows as ``operators.extract.jvm_gc_s`` in the traced run."""

    PAGE = os.sysconf("SC_PAGE_SIZE")
    PERIOD = 0.05

    def __init__(self):
        self._peak = 0
        self._interval = 0  # bumped by take_peak
        self.heap_bytes = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _resident(self, pid: int, is_jvm: bool) -> int:
        if is_jvm:
            with open(f"/proc/{pid}/statm") as fh:
                return max(0, int(fh.read().split()[1]) * self.PAGE - self.heap_bytes)
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0

    def tree_bytes(self, root: int) -> int:
        total, stack = 0, [(root, 0)]
        while stack:
            pid, depth = stack.pop()
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    comm = fh.read().strip()
                if comm.startswith("python") or (comm == "java" and depth == 1):
                    total += self._resident(pid, comm == "java")
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/children") as fh:
                        stack.extend((int(c), depth + 1) for c in fh.read().split())
            except (FileNotFoundError, ProcessLookupError, PermissionError):
                continue  # exited while we looked
        return total

    def _loop(self):
        me = os.getpid()
        while not self._stop.wait(self.PERIOD):
            with self._lock:
                interval = self._interval
            rss = self.tree_bytes(me)
            with self._lock:
                # a walk that straddles take_peak belongs to no interval
                if interval == self._interval:
                    self._peak = max(self._peak, rss)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def take_peak(self) -> int:
        with self._lock:
            peak, self._peak = self._peak, 0
            self._interval += 1
        return peak


# ------------------------------------------------------------------- spark


def spark_env(paths: Paths, cores: int) -> None:
    """Session settings the benchmark supplies; job.py sets no master."""
    os.makedirs(paths.tmp, exist_ok=True)
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.log.level": "ERROR",
        "spark.local.dir": paths.tmp,
        "spark.sql.warehouse.dir": os.path.join(paths.work, "warehouse"),
        "spark.driver.extraJavaOptions": f"{DRIVER_JAVA_OPTS} -Djava.io.tmpdir={paths.tmp}",
    }
    args = ["--master", f"local[{cores}]", "--driver-memory", DRIVER_MEMORY]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args + ["pyspark-shell"])
    os.environ["SPARK_LOCAL_DIRS"] = paths.tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own launcher JVM
    os.environ["TMPDIR"] = paths.tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def stop_jvm() -> None:
    """End the py4j gateway JVM and wait for it (closing its stdin ends it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_job(argv: list) -> None:
    """One job.main call; its JSON line stays off this program's stdout."""
    from readability_spark import job

    with contextlib.redirect_stdout(io.StringIO()):
        rc = job.main(argv)
    if rc != 0:
        raise RuntimeError(f"job.main returned {rc}")


# ------------------------------------------------------------------- stamp


def box_stamp(
    jvm, cores: int, w, paths: Paths, seed: int, job_conf: dict, setup_parts: dict, heap_bytes: int
) -> dict:
    import pyarrow
    import pyspark

    mem_kb = next(
        int(line.split()[1]) for line in open("/proc/meminfo") if line.startswith("MemTotal:")
    )
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        commit = None
    digest = hashlib.sha256()
    src = os.path.join(ROOT, "readability_spark")
    for dirpath, dirnames, files in os.walk(src):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    digest.update(fh.read())
    in_files = [os.path.join(paths.input, f) for f in os.listdir(paths.input) if f.endswith(".parquet")]
    return {
        "nproc": os.cpu_count(),
        "mem_total_gb": round(mem_kb / 1024 / 1024, 1),
        "git_commit": commit,
        "source_sha256": digest.hexdigest()[:16],
        "python": platform.python_version(),
        "java": jvm.java.lang.System.getProperty("java.version"),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "master": f"local[{cores}]",
        "driver_memory": DRIVER_MEMORY,
        "heap_bytes_left_out_of_rss": heap_bytes,
        "arrow_max_records_per_batch": job_conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
        "shuffle_partitions": job_conf.get("spark.sql.shuffle.partitions"),
        "buckets": W.BUCKETS,
        "input_files": len(in_files),
        "input_bytes": sum(os.path.getsize(f) for f in in_files),
        "seed": seed,
        "workload": w.name,
        "setup_parts_s": {k: round(v, 3) for k, v in setup_parts.items()},
        "flags": list(w.flags),
    }


# ------------------------------------------------------------------- bench


class Bench:
    def __init__(self, w, seed: int, paths: Paths, cores: int):
        self.w = w
        self.seed = seed
        self.paths = paths
        self.cores = cores
        self.expected: dict = {}
        self.pages: list = []
        self.job_urls: set = set()  # pages a timed call extracts
        self.job_conf: dict = {}
        self.attempted = 0
        self.failures: list = []

    # -- set-up: JVM launch, input generation, warm-up job
    def setup(self) -> float:
        from pyspark.sql import SparkSession

        from layers import PipelineSpans

        t0 = time.perf_counter()
        spark = SparkSession.builder.getOrCreate()
        self.jvm = spark.sparkContext._jvm
        self.heap_bytes = self.jvm.java.lang.Runtime.getRuntime().totalMemory()
        t1 = time.perf_counter()
        inputs = W.make_inputs(spark, self.w, self.paths, self.seed)
        self.expected, self.pages, self.job_urls = inputs.expected, inputs.pages, inputs.job_urls
        self.argv = W.job_argv(self.w, self.paths)
        spark.stop()
        t2 = time.perf_counter()
        spans = PipelineSpans()
        with spans.installed():
            if self.w.resume:
                # warm-up: the earlier crawl that finished the done buckets,
                # extracting three times the pages of a timed call, same flags
                W.prepare_resume(self.w, self.paths, inputs.done_pages)
                run_job(W.job_argv(self.w, self.paths, self.paths.prep_input))
                W.snapshot_state(self.paths)
                W.plant_stale_rows(self.paths, inputs)
            else:
                # warm-up: the same plan on the first input file
                run_job(W.job_argv(self.w, self.paths, W.warmup_input(self.paths)))
                W.restore_state(self.w, self.paths)
        self.job_conf = spans.conf
        self.job_bytes = sum(len(h) for u, h in self.pages if u in self.job_urls)
        t3 = time.perf_counter()
        self.setup_parts = {"jvm_s": t1 - t0, "inputs_s": t2 - t1, "warmup_s": t3 - t2}
        return t3 - t0

    def check(self) -> None:
        from checks import count_failures

        f = count_failures(W.read_output(self.paths), self.expected)
        self.attempted += len(self.expected)
        self.failures.append(f)

    def timed_calls(self, seconds: float, rss: TreeRss) -> tuple:
        walls, peaks = [], []
        while len(walls) < MIN_CALLS or sum(walls) < seconds:
            W.restore_state(self.w, self.paths)
            rss.take_peak()
            t0 = time.perf_counter()
            run_job(self.argv)
            walls.append(time.perf_counter() - t0)
            peaks.append(rss.take_peak())
            self.check()
        return walls, peaks

    def traced_calls(self) -> tuple:
        """TRACED_CALLS calls with event log and spans; returns the walls and
        the Spark/pipeline numbers of the median call."""
        from layers import PipelineSpans, event_log, spark_layers

        calls = []
        for i in range(TRACED_CALLS):
            W.restore_state(self.w, self.paths)
            before = W.read_manifest_rows(self.paths)
            events = os.path.join(self.paths.events, str(i))
            spans = PipelineSpans()
            with event_log(self.jvm, events), spans.installed():
                t0 = time.perf_counter()
                run_job(self.argv)
                wall = time.perf_counter() - t0
            self.check()
            layers = spark_layers(events, self.paths.out, self.cores)
            after = [r["bucket"] for r in W.read_manifest_rows(self.paths)]
            layers.update(
                {
                    "plans.pipeline.manifest_read_s": spans.seconds("read_manifest"),
                    "plans.pipeline.manifest_append_s": spans.seconds("append_manifest"),
                    "plans.pipeline.manifest_rows_appended": len(after) - len(before),
                    "plans.pipeline.manifest_dup_rows": len(after) - len(set(after)),
                }
            )
            calls.append((wall, layers))
        calls.sort(key=lambda c: c[0])
        return [c[0] for c in calls], calls[len(calls) // 2][1]

    def layer_pages(self) -> list:
        """LAYER_PASS_PAGES of the workload's pages: first the ones a timed
        call extracts, then the input's other pages, which have the same
        mix."""
        ordered = sorted(self.pages, key=lambda p: p[0] not in self.job_urls)
        if len(ordered) < LAYER_PASS_PAGES:
            raise RuntimeError(f"{len(ordered)} pages, the layer pass needs {LAYER_PASS_PAGES}")
        return ordered[:LAYER_PASS_PAGES]


def end_to_end(walls, peaks, setup_s, docs, html_bytes) -> dict:
    wall = statistics.median(walls)
    return {
        "wall_s": wall,
        "docs_per_s": docs / wall,
        "html_mb_per_s": html_bytes / 1e6 / wall,
        "peak_rss_mb": statistics.median(peaks) / 1e6,
        "setup_s": setup_s,
    }


def per_layer(
    bench: Bench, untraced_walls: list, traced_walls: list, spark: dict, py: dict, per_doc_s: list
) -> dict:
    docs = len(bench.job_urls)
    job_pages = min(docs, LAYER_PASS_PAGES)
    py_s = statistics.fmean(per_doc_s[:job_pages]) * docs
    task_s = spark["operators.extract.task_s.sum"]
    out = dict(spark)
    out.update(py)
    out.update(
        {
            "plans.pipeline.shuffle_bytes_per_doc": spark["plans.pipeline.shuffle_bytes"] / docs,
            "plans.pipeline.pending_frac": docs / len(bench.expected),
            "operators.extract.boundary_s": task_s - py_s,
            "operators.extract.boundary_share": (task_s - py_s) / task_s if task_s else 0.0,
            "tracing.overhead_frac": 1.0 - statistics.median(untraced_walls) / statistics.median(traced_walls),
        }
    )
    return out


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def as_metrics(values: dict, units: dict) -> dict:
    """Shape values as BENCHMARK.json metrics; the names must match exactly."""
    if set(values) != set(units):
        raise RuntimeError(
            f"metric names differ from BENCHMARK.json: extra {sorted(set(values) - set(units))}, "
            f"missing {sorted(set(units) - set(values))}"
        )
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


def print_table(title: str, metrics: dict) -> None:
    print(f"== {title}")
    for name, m in metrics.items():
        print(f"  {name:<44} {m['value']:>16.6g} {m['unit']}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "readability_spark", "job.py")):
        return fail(f"no readability_spark package next to {HERE}; run from a full checkout")
    try:
        import pyarrow  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        return fail(f"missing dependency: {exc}")
    sys.path.insert(0, ROOT)
    spec = load_spec()

    w = W.WORKLOADS[args.workload]
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    paths = Paths(os.path.join(ROOT, ".perfbench_work", f"{w.name}-{os.getpid()}"))
    shutil.rmtree(paths.work, ignore_errors=True)
    spark_env(paths, cores)
    bench = Bench(w, args.seed, paths, cores)
    try:
        with TreeRss() as rss:
            setup_s = bench.setup()
            rss.heap_bytes = bench.heap_bytes
            walls, peaks = bench.timed_calls(args.seconds, rss)
            e2e = end_to_end(walls, peaks, setup_s, len(bench.job_urls), bench.job_bytes)
            if args.trace:
                traced_walls, spark_nums = bench.traced_calls()
                from layers import layer_pass

                py, per_doc_s = layer_pass(bench.layer_pages(), w.prefilter)
                values = per_layer(bench, walls, traced_walls, spark_nums, py, per_doc_s)
                metrics = as_metrics(values, spec["per_layer"])
            else:
                metrics = as_metrics(e2e, spec["end_to_end"])
            stamp = box_stamp(
                bench.jvm, cores, w, paths, args.seed, bench.job_conf, bench.setup_parts, bench.heap_bytes
            )
    finally:
        stop_jvm()
        shutil.rmtree(paths.work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(paths.work))

    failed = sum(f.total for f in bench.failures)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({"calls_s": [round(x, 4) for x in walls], "docs_per_call": len(bench.job_urls)}))
    print_table(f"{w.name} end-to-end (tracing off, median of {len(walls)} calls)", as_metrics(e2e, spec["end_to_end"]))
    print(f"  {'docs_failed_frac':<44} {failed / bench.attempted:>16.6g} ratio")
    for f in bench.failures:
        if f.total:
            print(json.dumps({"failures": f.__dict__ | {"total": f.total}}))
    if args.trace:
        print_table(f"{w.name} per-layer (traced run)", metrics)
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": bench.attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
