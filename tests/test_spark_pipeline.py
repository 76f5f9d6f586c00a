"""Spark-level integration tests: the golden corpus through mapInPandas,
checkpoint/resume, metrics, streaming parity, and determinism under
partitioning."""

import os

import pytest
from pyspark.sql import functions as F

from readability_spark.sources import fixtures

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def fixture_pages(spark):
    rows = list(fixtures.input_rows())
    if not rows:
        pytest.skip("reference fixture corpus not present")
    return spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


@pytest.fixture(scope="module")
def expected_texts(spark):
    rows = [
        (f"http://fakehost/test/{name}/page.html", fixtures.expected_text(fixtures.load_case(name)))
        for name in fixtures.fixture_names()
    ]
    return spark.createDataFrame(rows, "url string, expected_text string")


def test_corpus_through_spark_byte_identical(spark, fixture_pages, expected_texts):
    """The north-rule invariant, end to end through the Spark engine."""
    from readability_spark.operators.extract import extract

    out = extract(fixture_pages, include_html=False)
    joined = out.join(expected_texts, "url", "inner")
    assert joined.count() == fixture_pages.count()
    mismatches = joined.filter(
        ~F.col("ok") | (F.col("text") != F.col("expected_text"))
    ).count()
    assert mismatches == 0


def test_determinism_under_partitioning(spark, fixture_pages):
    """Identical output regardless of partition layout (SURVEY.md §7.3)."""
    from readability_spark.operators.extract import extract

    one = extract(fixture_pages.coalesce(1), include_html=False)
    many = extract(fixture_pages.repartition(13), include_html=False)
    a = {r["url"]: (r["ok"], r["text"], r["title"]) for r in one.collect()}
    b = {r["url"]: (r["ok"], r["text"], r["title"]) for r in many.collect()}
    assert a == b


def test_failure_isolation(spark):
    """Broken html must produce ok=false rows, not task failures."""
    from readability_spark.operators.extract import extract

    df = spark.createDataFrame(
        [("u1", None), ("u2", b"<html><body><p>" + b"hello world, " * 60 + b"</p></body></html>")],
        "url string, html binary",
    )
    rows = {r["url"]: r for r in extract(df).collect()}
    assert rows["u1"]["ok"] is False and rows["u1"]["err"] is not None
    assert rows["u2"]["ok"] is True


def test_observed_extract_metrics(spark, fixture_pages):
    from readability_spark.plans.pipeline import observed_extract

    result, obs = observed_extract(fixture_pages, include_html=True, n_buckets=16)
    n = result.count()
    m = dict(obs.get)
    assert m["docs"] == n == fixture_pages.count()
    assert m["docs_ok"] >= n - 2
    assert m["html_bytes"] > m["content_bytes"] > 0  # boilerplate was stripped


def test_resume_protocol(spark, fixture_pages, tmp_path):
    from readability_spark.plans.pipeline import (
        append_manifest,
        pending_buckets,
        read_manifest,
        with_bucket,
    )

    manifest_path = os.path.join(str(tmp_path), "manifest")
    pages = with_bucket(fixture_pages, n_buckets=8)
    # simulate a prior run that completed buckets {0..3}
    done = pages.filter(F.col("bucket") < 4).withColumn("ok", F.lit(True))
    append_manifest(done, manifest_path)

    manifest = read_manifest(spark, manifest_path)
    remaining = pending_buckets(pages, manifest)
    assert remaining.filter(F.col("bucket") < 4).count() == 0
    assert remaining.count() == pages.filter(F.col("bucket") >= 4).count()


def test_corrupt_manifest_raises(spark, tmp_path):
    """Only a missing manifest means "no bucket done". An unreadable one
    fails the run; reading it as "nothing done" would reprocess the whole
    crawl."""
    from readability_spark.plans.pipeline import append_manifest, done_buckets, read_manifest

    missing = read_manifest(spark, str(tmp_path / "no-manifest-yet"))
    assert missing is None and done_buckets(missing, 8) == set()

    only_corrupt = tmp_path / "only_corrupt"
    only_corrupt.mkdir()
    (only_corrupt / "part-00000.parquet").write_bytes(b"PAR1 truncated by a crash")
    with pytest.raises(Exception):
        done_buckets(read_manifest(spark, str(only_corrupt)), 8)

    path = str(tmp_path / "manifest")
    done = spark.range(10).select(
        F.col("id").alias("bucket"), F.lit(True).alias("ok")
    )
    append_manifest(done, path)
    # buckets of a run with a different --buckets are not done in this one
    assert done_buckets(read_manifest(spark, path), 8) == set(range(8))
    with open(os.path.join(path, "part-99999-corrupt.parquet"), "wb") as fh:
        fh.write(b"PAR1 not a parquet footer")
    with pytest.raises(Exception):
        done_buckets(read_manifest(spark, path), 8)


def test_salted_repartition_balance(spark, fixture_pages):
    from readability_spark.plans.pipeline import salted_repartition

    parts = (
        salted_repartition(fixture_pages, 8)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    sizes = [r["count"] for r in parts]
    # the salt must spread input-ordered rows across several partitions and
    # never concentrate everything in one (8 hash values → >=4 partitions whp)
    assert len(sizes) >= 4
    assert max(sizes) < sum(sizes)


def test_streaming_windowed_counts_match_batch(spark, tmp_path):
    from readability_spark.streaming.stream import (
        stream_events,
        windowed_event_counts_batch,
    )

    sf = "/root/testdata/sf0.001"
    batch = {
        (str(r["window_start"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in windowed_event_counts_batch(spark, sf).collect()
    }
    streamed = stream_events(spark, sf, str(tmp_path / "ckpt"))
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in streamed.collect()
    }
    assert got == batch


def test_streaming_extract(spark, tmp_path, fixture_pages):
    from readability_spark.streaming.stream import stream_extract

    pages_path = str(tmp_path / "pages")
    fixture_pages.limit(10).write.parquet(pages_path)
    out = stream_extract(
        spark, pages_path, str(tmp_path / "ckpt2"), str(tmp_path / "articles")
    )
    assert out.count() == 10
    assert out.filter("ok").count() >= 9


def test_media_plumbing(spark):
    """Round trip: synthesized valid PNG/WAV/MP4 container bytes → Arrow
    batch transport → real header parse recovers the synthesis params."""
    from readability_spark.operators.multimodal import (
        extract_media_metadata,
        synthesize_media,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    meta = extract_media_metadata(synthesize_media(docs))
    rows = meta.collect()
    assert len(rows) == 50
    assert all(r["ok"] for r in rows)
    for r in rows:
        d = r["doc_id"]
        if r["media_type"] == "image/png":
            assert (r["width"], r["height"]) == (d % 640 + 1, d % 480 + 1)
        elif r["media_type"] == "audio/wav":
            assert r["sample_rate"] == 8000 * (1 + (d // 3) % 3)
            assert r["n_samples"] == d % 100 + 1
            assert r["duration_us"] == r["n_samples"] * 1_000_000 // r["sample_rate"]
        else:
            assert r["n_frames"] == d % 30 + 1
            # duration comes from the real mvhd box: n_frames * 40 ticks
            # at timescale 1000
            assert r["duration_us"] == (d % 30 + 1) * 40_000


def test_mp4_frame_count_only_from_stts():
    """The frame count must come from a real moov/stbl/stts walk — an MP4
    carrying a count only in a `free` box (the r2 stand-in) yields None."""
    import struct

    from readability_spark.operators.multimodal import build_mp4, parse_mp4

    meta = parse_mp4(build_mp4(7))
    assert meta["n_frames"] == 7 and meta["duration_us"] == 280_000
    old_trick = (
        struct.pack(">I", 16) + b"ftyp" + b"isom" + struct.pack(">I", 0)
        + struct.pack(">I", 12) + b"free" + struct.pack(">I", 99)
    )
    meta = parse_mp4(old_trick)
    assert meta["n_frames"] is None and meta["duration_us"] is None


def test_media_codecs_reject_malformed(spark):
    """Malformed payloads become ok=False rows, not job failures."""
    from readability_spark.operators.multimodal import (
        build_png,
        extract_media_metadata,
        parse_png,
    )

    good = build_png(10, 20)
    # flip a byte inside IHDR: CRC check must catch it
    bad = good[:18] + bytes([good[18] ^ 0xFF]) + good[19:]
    with pytest.raises(ValueError):
        parse_png(bad)
    media = spark.createDataFrame(
        [(1, "image/png", good), (2, "image/png", bad), (3, "audio/wav", b"junk")],
        "doc_id long, media_type string, payload binary",
    )
    rows = {r["doc_id"]: r for r in extract_media_metadata(media).collect()}
    assert rows[1]["ok"] and rows[1]["width"] == 10 and rows[1]["height"] == 20
    assert not rows[2]["ok"] and not rows[3]["ok"]


def test_embedding_near_dup_pairs(spark):
    from readability_spark.operators.similarity import (
        embedding_near_dup_pairs,
        load_embeddings,
        with_injected_near_dups,
    )

    emb = with_injected_near_dups(load_embeddings(spark, "/root/testdata/sf0.001"))
    pairs = embedding_near_dup_pairs(emb).collect()
    # every injected copy pairs with its original at cosine == 1
    injected = {(r["id_a"], r["id_b"]) for r in pairs if r["id_b"] == r["id_a"] + 1000000}
    n_orig = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").filter(
        "vec_id % 10 = 0"
    ).count()
    assert len(injected) == n_orig
    assert all(r["cosine"] >= 0.9 for r in pairs)


def test_readerable_prefilter(spark, fixture_pages):
    from readability_spark.operators.extract import extract

    sample = fixture_pages.limit(30)
    base = {r["url"]: r["text"] for r in extract(sample, include_html=False).collect()}
    pre = extract(
        sample, options={"readerable_prefilter": True}, include_html=False
    ).collect()
    skipped = [r for r in pre if r["err"] == "not_readerable"]
    # pages that pass the prefilter must extract byte-identically
    for r in pre:
        if r["ok"]:
            assert r["text"] == base[r["url"]]
    # a plainly non-readerable page is skipped cheaply
    tiny = spark.createDataFrame(
        [("http://x/nav.html", b"<html><body><a href='/'>home</a></body></html>")],
        "url string, html binary",
    )
    row = extract(tiny, options={"readerable_prefilter": True}).collect()[0]
    assert not row["ok"] and row["err"] == "not_readerable"
    assert isinstance(skipped, list)


def test_stream_dedup_first_seen(spark, tmp_path):
    from pyspark.sql import functions as F

    from readability_spark.streaming.stream import stream_dedup_first_seen

    pages_path = str(tmp_path / "pages")
    base = spark.range(100).select(
        F.concat(F.lit("http://h/"), F.col("id")).alias("url"),
        F.lit(b"<html></html>").alias("html"),
    )
    # two files with a 50-url overlap: the duplicate crawl must be dropped;
    # a null url must be skipped, not crash the query (ADVICE r1)
    base.coalesce(1).write.mode("append").parquet(pages_path)
    overlap = base.filter(F.col("url").substr(10, 10).cast("long") >= 50)
    with_null = overlap.unionByName(
        spark.createDataFrame([(None, b"<html></html>")], "url string, html binary")
    )
    with_null.coalesce(1).write.mode("append").parquet(pages_path)
    out = stream_dedup_first_seen(spark, pages_path, str(tmp_path / "ck"))
    rows = out.collect()
    urls = [r["url"] for r in rows]
    assert len(urls) == 100
    assert len(set(urls)) == 100
    assert None not in urls


def test_stream_dedup_incremental_state_bounded(spark, tmp_path):
    """Two-run incremental check (VERDICT r1 item 3): re-running over re-seen
    urls emits nothing new, and the state store holds exactly one key per
    distinct url — it does not grow with re-seen traffic."""
    from pyspark.sql import functions as F

    from readability_spark.streaming.stream import stream_dedup_first_seen

    pages_path = str(tmp_path / "pages")
    ck = str(tmp_path / "ck")
    sink = str(tmp_path / "sink")

    def urls(lo, hi):
        return (
            spark.range(lo, hi)
            .select(F.concat(F.lit("http://h/"), F.col("id")).alias("url"))
        )

    urls(0, 100).coalesce(1).write.mode("append").parquet(pages_path)
    out1 = stream_dedup_first_seen(spark, pages_path, ck, out_path=sink)
    assert out1.count() == 100

    # run 2: 50 re-seen + 10 new
    urls(50, 110).coalesce(1).write.mode("append").parquet(pages_path)
    out2 = stream_dedup_first_seen(spark, pages_path, ck, out_path=sink)
    assert out2.count() == 110

    # run 3: pure re-seen traffic → no new emissions
    urls(0, 110).coalesce(1).write.mode("append").parquet(pages_path)
    out3 = stream_dedup_first_seen(spark, pages_path, ck, out_path=sink)
    assert out3.count() == 110

    # state keys == distinct urls, even after 270 total input rows
    state = spark.read.format("statestore").load(ck)
    assert state.count() == 110


def test_media_degenerate_wav_is_err_row(spark):
    """A fmt chunk declaring zero channels must yield ok=False, not a
    ZeroDivisionError that kills the task (code-review r2)."""
    import struct

    from readability_spark.operators.multimodal import extract_media_metadata

    fmt = struct.pack("<HHIIHH", 1, 0, 0, 0, 0, 0)  # channels=0, rate=0
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", 4) + b"\x00" * 4
    bad = b"RIFF" + struct.pack("<I", len(body)) + body
    media = spark.createDataFrame(
        [(1, "audio/wav", bad)], "doc_id long, media_type string, payload binary"
    )
    row = extract_media_metadata(media).collect()[0]
    assert not row["ok"]


def test_streaming_sessions_match_batch(spark, tmp_path):
    """Session windows (stateful merging aggregation): availableNow stream
    equals the batch computation."""
    from readability_spark.streaming.stream import (
        stream_user_sessions,
        user_sessions_batch,
    )

    sf = "/root/testdata/sf0.001"
    batch = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
        for r in user_sessions_batch(spark, sf).collect()
    }
    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
        for r in stream_user_sessions(spark, sf, str(tmp_path / "ck_sess")).collect()
    }
    assert got == batch
    assert len(batch) > 50


def test_stream_dedup_on_rocksdb_state_store(spark, tmp_path):
    """The first-seen dedup must run unchanged on the RocksDB state store
    provider (the at-scale state backend the operator documents)."""
    from pyspark.sql import functions as F

    from readability_spark.streaming.stream import stream_dedup_first_seen

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        pages_path = str(tmp_path / "pages_rdb")
        (
            spark.range(200)
            .select(F.concat(F.lit("http://h/"), (F.col("id") % 120)).alias("url"))
            .coalesce(1)
            .write.parquet(pages_path)
        )
        out = stream_dedup_first_seen(spark, pages_path, str(tmp_path / "ck_rdb"))
        urls = [r["url"] for r in out.collect()]
        assert len(urls) == 120 and len(set(urls)) == 120
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_stream_dedup_survives_fp_collision(spark, tmp_path):
    """Two distinct urls colliding on the shuffle-key fingerprint must BOTH
    be emitted (ADVICE r2): the state verifies a second independent hash
    before suppressing. Simulated by forcing a constant shuffle key."""
    from pyspark.sql import functions as F

    from readability_spark.streaming.stream import stream_dedup_first_seen

    pages_path = str(tmp_path / "pages_coll")
    base = spark.range(20).select(
        F.concat(F.lit("http://h/"), (F.col("id") % 10)).alias("url")
    )
    base.coalesce(1).write.parquet(pages_path)
    out = stream_dedup_first_seen(
        spark, pages_path, str(tmp_path / "ck_coll"), _fp_expr="cast(0 as bigint)"
    )
    urls = [r["url"] for r in out.collect()]
    assert sorted(urls) == sorted(f"http://h/{i}" for i in range(10))


def test_stream_dedup_ttl_expiry(spark, tmp_path):
    """Processing-time TTL (VERDICT r2 item 7): a url re-seen within the TTL
    stays suppressed; past the TTL its key is forgotten and it re-emits."""
    import time

    from pyspark.sql import functions as F

    from readability_spark.streaming.stream import stream_dedup_first_seen

    def urls(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("http://h/"), F.col("id")).alias("url")
        )

    # long TTL: re-seen urls inside the window remain suppressed across runs
    pages_l = str(tmp_path / "pages_ttl_long")
    sink_l = str(tmp_path / "sink_ttl_long")
    ck_l = str(tmp_path / "ck_ttl_long")
    urls(0, 50).coalesce(1).write.mode("append").parquet(pages_l)
    out = stream_dedup_first_seen(spark, pages_l, ck_l, out_path=sink_l, ttl_minutes=10)
    assert out.count() == 50
    urls(25, 60).coalesce(1).write.mode("append").parquet(pages_l)
    out = stream_dedup_first_seen(spark, pages_l, ck_l, out_path=sink_l, ttl_minutes=10)
    assert out.count() == 60  # 25-49 suppressed, 50-59 new

    # short TTL: urls not re-seen within the window are forgotten → re-emit
    pages_s = str(tmp_path / "pages_ttl_short")
    sink_s = str(tmp_path / "sink_ttl_short")
    ck_s = str(tmp_path / "ck_ttl_short")
    ttl_min = 2 / 60  # 2 seconds
    urls(0, 50).coalesce(1).write.mode("append").parquet(pages_s)
    out = stream_dedup_first_seen(spark, pages_s, ck_s, out_path=sink_s, ttl_minutes=ttl_min)
    assert out.count() == 50
    time.sleep(5)  # every key's timer expires while the query is down
    urls(25, 60).coalesce(1).write.mode("append").parquet(pages_s)
    out = stream_dedup_first_seen(spark, pages_s, ck_s, out_path=sink_s, ttl_minutes=ttl_min)
    # all 35 re-emit: 25-49 expired (eager eviction on restart), 50-59 new
    assert out.count() == 85


def test_streaming_hll_registers_match_batch(spark, tmp_path):
    """The streaming windowed distinct-user sketch carries EXACTLY the
    batch register table as state (mergeable max per (window, bucket))."""
    from readability_spark.operators.sketches import hll_registers
    from readability_spark.streaming.stream import stream_window_distinct

    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        F.window("ts", "1 hour").getField("start").alias("window_start"),
        "user_id",
    )
    batch = {
        (str(r["grp"]), r["bucket"]): r["register"]
        for r in hll_registers(ev, "window_start", "user_id").collect()
    }
    streamed = stream_window_distinct(spark, sf, str(tmp_path / "ckpt"))
    got = {
        (str(r["grp"]), r["bucket"]): r["register"] for r in streamed.collect()
    }
    assert got == batch


def test_key_skew_report_shares_and_order(spark):
    from readability_spark.plans.pipeline import key_skew_report

    df = spark.createDataFrame(
        [(k,) for k in ["a"] * 6 + ["b"] * 3 + ["c"] * 1], "k string"
    )
    rows = key_skew_report(df, "k").collect()
    assert [r["key"] for r in rows] == ["a", "b", "c"]
    assert rows[0]["row_share"] == 0.6
    assert rows[0]["n_keys_total"] == 3 and rows[0]["rows_total"] == 10
    plan = key_skew_report(df, "k")._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_streaming_cms_table_matches_batch(spark, tmp_path):
    """The streamed CMS count table is EXACTLY the batch cms_table —
    mergeable sums as streaming state, bounded at d*w rows."""
    from readability_spark.operators.sketches import cms_table
    from readability_spark.streaming.stream import stream_cms_counts

    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf}/events.parquet")
    batch = {
        (r["j"], r["bucket"]): r["n"]
        for r in cms_table(ev, "event_type").collect()
    }
    streamed = stream_cms_counts(spark, sf, str(tmp_path / "ckpt"))
    got = {(r["j"], r["bucket"]): r["n"] for r in streamed.collect()}
    assert got == batch
    assert len(got) <= 4 * 4096


def test_streaming_quantile_bins_match_batch(spark, tmp_path):
    """The streamed log2 histogram carries EXACTLY the batch register
    table as state (mergeable counts per (grp, bin))."""
    from readability_spark.operators.sketches import quantile_bins
    from readability_spark.streaming.stream import stream_quantile_bins

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    batch = {
        (r["grp"], r["bin_lo"], r["bin_hi"]): r["n"]
        for r in quantile_bins(docs, "lang", "n_chars").collect()
    }
    streamed = stream_quantile_bins(spark, sf, str(tmp_path / "ckpt"))
    got = {
        (r["grp"], r["bin_lo"], r["bin_hi"]): r["n"] for r in streamed.collect()
    }
    assert got == batch and len(got) > 10


def test_minhash_projection_matches_groupby_form(spark):
    """array_min projection signatures must be row-identical to the
    exploded groupBy-min form the batch pipeline uses."""
    from readability_spark.operators.dedup import (
        minhash_band_buckets,
        minhash_band_buckets_projection,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = sorted(map(tuple, minhash_band_buckets(docs).collect()))
    b = sorted(
        map(tuple, minhash_band_buckets_projection(docs).select("doc_id", "band", "key").collect())
    )
    assert a == b


def test_stream_triage_matches_batch(spark, tmp_path):
    """The streaming admission gate must reach the identical verdict per
    doc as the batch snapshot_triage on the same old/new split."""
    from pyspark.sql import functions as F

    from readability_spark.operators.snapshots import snapshot_triage
    from readability_spark.streaming.stream import stream_triage

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 5 != 1).withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 2, F.concat("text", F.lit(" v2"))).otherwise(
            F.col("text")
        ),
    )
    src = str(tmp_path / "increment")
    # two files so the stream sees multiple input splits
    new.filter(F.col("doc_id") % 2 == 0).write.mode("append").parquet(src)
    new.filter(F.col("doc_id") % 2 == 1).write.mode("append").parquet(src)

    got = {
        r.doc_id: (r.status, r.max_jaccard)
        for r in stream_triage(spark, old, src, str(tmp_path / "ck")).collect()
    }
    want = {
        r.doc_id: (r.status, r.max_jaccard) for r in snapshot_triage(old, new).collect()
    }
    assert got == want
    assert {s for s, _ in want.values()} == {"exact_dup", "near_dup", "new"}


def test_release_persistent_rdds_drops_checkpoint_blocks(spark):
    """Harness hygiene: localCheckpoint leaves RDD-level blocks that
    clearCache does NOT reclaim; release_persistent_rdds must drop them
    all, and a plain-persisted DataFrame must stay recomputable (its
    lineage is intact) after the blanket unpersist."""
    from readability_spark.plans.pipeline import release_persistent_rdds

    ckpt = spark.range(100).localCheckpoint()
    assert ckpt.count() == 100
    cached = spark.range(50).persist()
    assert cached.count() == 50

    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    assert jmap.size() >= 2
    spark.catalog.clearCache()

    n = release_persistent_rdds(spark)
    assert n >= 1
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
    # lineage-backed recompute still works after the blocks are gone
    assert cached.count() == 50
