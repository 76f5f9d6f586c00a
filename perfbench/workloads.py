"""The benchmark workloads: input tables, expectations and the on-disk state
each timed ``job.main`` call starts from.

Each input is written as ``INPUT_FILES`` parquet files. Why each workload
exists:

- ``article_small``: ~4 KB template pages (``sources.pages.synthesize_pages``)
  under distinct urls, default flags so ``content_html`` is kept. Cheapest
  per-doc Python cost, so the Arrow boundary, the ``content_html`` shuffle
  and the write carry their largest share; ``ORACLE_*`` gives exact fields.
- ``crawl_resume``: mostly nav/listing/login pages plus a minority of
  20–200 KB web articles with a heavy-tailed size mix (where parsing and
  Readability dominate and large pages make straggler tasks),
  ``--no-html --readerable-prefilter``, restarted against a manifest that
  marks a seeded three quarters of the buckets done, with stale rows planted
  in pending buckets. Exercises manifest read, anti-join, partial dynamic
  overwrite, the full-output re-read and the manifest append.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass

import pages as G

# 8 x cores of a 4-core box, the job's own sizing rule (observed_extract)
BUCKETS = 32
# input parquet files: at least as many as cores, as a crawl table would be
INPUT_FILES = 8


@dataclass(frozen=True)
class Workload:
    name: str
    pages: int
    flags: tuple
    resume: bool = False
    # share of buckets the pre-made manifest marks done (resume only)
    done_share: float = 0.0

    @property
    def keep_html(self) -> bool:
        return "--no-html" not in self.flags

    @property
    def prefilter(self) -> bool:
        return "--readerable-prefilter" in self.flags


WORKLOADS = {
    w.name: w
    for w in (
        Workload("article_small", pages=2400, flags=()),
        Workload(
            "crawl_resume",
            pages=1000,
            flags=("--no-html", "--readerable-prefilter"),
            resume=True,
            done_share=0.75,
        ),
    )
}


class Paths:
    """Everything one run reads or writes, under one work directory."""

    def __init__(self, work: str):
        self.work = work
        self.docs = os.path.join(work, "docs")
        self.input = os.path.join(work, "input")
        self.prep_input = os.path.join(work, "prep_input")
        self.state = os.path.join(work, "state")  # pristine out + manifest
        self.out = os.path.join(work, "out")
        self.manifest = os.path.join(work, "manifest")
        self.events = os.path.join(work, "events")
        self.tmp = os.path.join(work, "tmp")


def job_argv(w: Workload, paths: Paths, input_dir: "str | None" = None) -> list:
    return [
        "--input", input_dir or paths.input,
        "--output", paths.out,
        "--manifest", paths.manifest,
        "--buckets", str(BUCKETS),
        *w.flags,
    ]


def warmup_input(paths: Paths) -> str:
    """The first input file: the warm-up job runs the same plan on less data."""
    return os.path.join(paths.input, min(f for f in os.listdir(paths.input) if f.endswith(".parquet")))


def _write_files(pages: list, directory: str, n_files: int = INPUT_FILES) -> None:
    """Write pages, in the order given, as ``n_files`` parquet files of
    consecutive rows, as a crawl table in crawl order would hold them. Files
    have equal page counts, not equal bytes: where the large articles land
    is up to the seed, so scan tasks can be uneven."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    per_file = -(-len(pages) // n_files)
    os.makedirs(directory, exist_ok=True)
    for k in range(n_files):
        chunk = pages[k * per_file : (k + 1) * per_file]
        table = pa.table(
            {
                "url": pa.array([p["url"] for p in chunk], pa.string()),
                "html": pa.array([p["html"] for p in chunk], pa.binary()),
            }
        )
        pq.write_table(table, os.path.join(directory, f"part-{k:03d}.parquet"))


def _expectation(page: dict, keep_html: bool, prefilter: bool) -> dict:
    if prefilter and not page["readerable"]:
        return {"kind": "not_readerable"}
    return {
        "kind": "article",
        "article": page["article"],
        "boiler": page["boiler"],
        "html": keep_html,
    }


@dataclass
class Inputs:
    expected: dict  # url -> expectation
    pages: list  # (url, html) in crawl order, for the in-process layer pass
    job_urls: set  # the pages one timed call extracts
    done_pages: list = None  # resume: pages of the buckets already done
    buckets: dict = None  # resume: url -> job bucket


def make_inputs(spark, w: Workload, paths: Paths, seed: int) -> Inputs:
    """Write the workload's input table and return what the checks need."""
    if not w.resume:
        return _make_templates(spark, w, paths, seed)
    # draw urls from a pool so that exactly (1 - done_share) of the pages
    # fall in pending buckets, whatever the seed
    urls = [G.crawl_url(seed, i) for i in range(2 * w.pages)]
    buckets = bucket_of(spark, urls)
    done = done_buckets(seed, w.done_share)
    n_pending = round(w.pages * (1 - w.done_share))
    pending = [i for i, u in enumerate(urls) if buckets[u] not in done][:n_pending]
    finished = [i for i, u in enumerate(urls) if buckets[u] in done][: w.pages - n_pending]
    gen = G.crawl_pages(seed, [pending, finished])  # in crawl (url index) order
    _write_files(gen, paths.input)
    job_urls = {urls[i] for i in pending}
    return Inputs(
        expected={p["url"]: _expectation(p, w.keep_html, w.prefilter) for p in gen},
        pages=[(p["url"], p["html"]) for p in gen],
        job_urls=job_urls,
        done_pages=[p for p in gen if p["url"] not in job_urls],
        buckets=buckets,
    )


def _make_templates(spark, w: Workload, paths: Paths, seed: int) -> Inputs:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from readability_spark.sources.pages import synthesize_pages

    docs = G.documents(seed, w.pages)
    os.makedirs(paths.docs, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(docs), os.path.join(paths.docs, "documents.parquet"))
    (
        synthesize_pages(spark, paths.docs)
        .repartition(INPUT_FILES, F.col("url"))
        .write.parquet(paths.input)
    )
    expected = {}
    for d in docs:
        exp = G.template_expectation(d)
        exp.update(kind="template", html=w.keep_html)
        expected[exp["url"]] = exp
    table = pq.read_table(paths.input, columns=["url", "html"])
    pages = sorted(zip(table.column("url").to_pylist(), table.column("html").to_pylist()))
    return Inputs(expected, pages, set(expected))


def bucket_of(spark, urls: list) -> dict:
    """url -> job bucket, computed by the pipeline's own ``with_bucket``."""
    from readability_spark.plans.pipeline import with_bucket

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return {r["url"]: r["bucket"] for r in with_bucket(df, BUCKETS).collect()}


def done_buckets(seed: int, share: float) -> set:
    rng = random.Random(f"{seed}:done")
    return set(rng.sample(range(BUCKETS), int(BUCKETS * share)))


def prepare_resume(w: Workload, paths: Paths, done_pages: list) -> None:
    """Input of the earlier, interrupted crawl: pages of done buckets only."""
    _write_files(done_pages, paths.prep_input)


def plant_stale_rows(paths: Paths, inputs: Inputs) -> int:
    """Leave one stale row per pending bucket in the pristine output, as a
    crashed attempt would; the resumed job must overwrite those buckets."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = os.path.join(paths.state, "out")
    some = next(
        os.path.join(root, f)
        for root, _, files in os.walk(out)
        for f in files
        if f.endswith(".parquet")
    )
    schema = pq.read_schema(some)
    planted = {}
    for url in sorted(inputs.job_urls):
        planted.setdefault(inputs.buckets[url], url)
    for b, url in planted.items():
        cols = {
            f.name: pa.nulls(1, f.type) for f in schema if f.name not in ("url", "ok", "err")
        }
        table = pa.table(
            {"url": [url], "ok": [False], "err": ["stale"], **cols}
        ).select(schema.names).cast(schema)
        d = os.path.join(out, f"bucket={b}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "part-stale.parquet"))
    return len(planted)


def snapshot_state(paths: Paths) -> None:
    """Move the job's out/ and manifest/ aside as the pristine start state."""
    shutil.rmtree(paths.state, ignore_errors=True)
    os.makedirs(paths.state)
    shutil.move(paths.out, os.path.join(paths.state, "out"))
    shutil.move(paths.manifest, os.path.join(paths.state, "manifest"))


def restore_state(w: Workload, paths: Paths) -> None:
    """Put the on-disk state back to what every timed call starts from."""
    shutil.rmtree(paths.out, ignore_errors=True)
    shutil.rmtree(paths.manifest, ignore_errors=True)
    if w.resume:
        shutil.copytree(os.path.join(paths.state, "out"), paths.out)
        shutil.copytree(os.path.join(paths.state, "manifest"), paths.manifest)


def read_output(paths: Paths) -> list:
    import pyarrow.dataset as ds

    cols = ["url", "ok", "err", "title", "byline", "excerpt", "published", "text", "content_html"]
    return ds.dataset(paths.out, format="parquet", partitioning="hive").to_table(columns=cols).to_pylist()


def read_manifest_rows(paths: Paths) -> list:
    import pyarrow.dataset as ds

    if not os.path.isdir(paths.manifest):
        return []
    return ds.dataset(paths.manifest, format="parquet").to_table(columns=["bucket"]).to_pylist()
