"""Physical-plan regression tests: the scale claims in docs/SCALE.md are
properties of the plan, not prose — assert them so refactors can't silently
reintroduce a shuffle or widen a scan (the plan shape is what survives the
jump from sf0.1 to 100 TB)."""

import re

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extraction_plan_single_shuffle(spark):
    """Default plan: scan -> mapInPandas -> bucket-aligned exchange of the
    EXTRACTED rows. Exactly ONE exchange, and it must sit ABOVE the Python
    extraction in the plan tree (i.e. the shuffle carries extracted rows,
    not raw html — ~30x fewer shuffle bytes at 100 TB). Two exchanges means
    the write-alignment reshuffle crept back in (measured cost: 0.63 vs
    0.81 scaling efficiency 4->16 cores)."""
    from readability_spark.plans.pipeline import observed_extract, with_bucket

    pages = with_bucket(spark.read.parquet(f"{SF}/documents.parquet")
                        .select(F.col("doc_id").cast("string").alias("url"),
                                F.encode("text", "utf-8").alias("html")), 16)
    result, _ = observed_extract(pages, include_html=False, n_buckets=16)
    plan = plan_of(result)
    assert plan.count("Exchange") == 1, plan
    # toString prints parents above children: the exchange (write alignment)
    # must be the parent of the extraction, so extraction runs scan-side
    assert plan.index("Exchange") < plan.index("MapInPandas"), plan


def test_extraction_plan_pre_salt_single_shuffle(spark):
    """--pre-salt variant: the single exchange moves BELOW the extraction
    (raw pages shuffled on the url-hash bucket before the UDF; the
    bucket-partitioned write then needs no second shuffle)."""
    from readability_spark.plans.pipeline import observed_extract, with_bucket

    pages = with_bucket(spark.read.parquet(f"{SF}/documents.parquet")
                        .select(F.col("doc_id").cast("string").alias("url"),
                                F.encode("text", "utf-8").alias("html")), 16)
    result, _ = observed_extract(pages, include_html=False, n_buckets=16, salt=True)
    plan = plan_of(result)
    assert plan.count("Exchange") == 1, plan
    assert plan.index("MapInPandas") < plan.index("Exchange"), plan


def test_resumed_plan_sizes_exchange_to_pending_buckets(spark):
    """Resumed with k of n buckets done: still ONE shuffle exchange above
    the extraction, now hash-partitioned on the bucket into n - k
    partitions, so the write schedules one task per pending bucket instead
    of n (the broadcast of the tiny manifest is not a shuffle)."""
    from readability_spark.plans.pipeline import (
        done_buckets,
        observed_extract,
        pending_buckets,
        with_bucket,
    )

    n, k = 16, 5
    pages = with_bucket(spark.read.parquet(f"{SF}/documents.parquet")
                        .select(F.col("doc_id").cast("string").alias("url"),
                                F.encode("text", "utf-8").alias("html")), n)
    manifest = spark.range(k).select(F.col("id").alias("bucket"))
    n_pending = n - len(done_buckets(manifest, n))
    result, _ = observed_extract(
        pending_buckets(pages, manifest), include_html=False, n_buckets=n, n_pending=n_pending
    )
    plan = plan_of(result)
    shuffles = [l for l in plan.splitlines() if "Exchange" in l and "BroadcastExchange" not in l]
    assert len(shuffles) == 1, plan
    assert re.search(rf"Exchange hashpartitioning\(bucket#\d+L, {n - k}\)", shuffles[0]), plan
    assert plan.index(shuffles[0]) < plan.index("MapInPandas"), plan


def test_extraction_scan_prunes_columns(spark):
    """Only url+html reach the parquet scan: html is ~99% of table bytes and
    every other column scanned is pure waste at 100 TB."""
    from readability_spark.operators.extract import extract

    pages = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("url"),
        F.encode("text", "utf-8").alias("html"),
        F.col("lang"),
        F.col("source"),
    )
    out = extract(pages, include_html=False)
    plan = plan_of(out)
    scan_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "doc_id" in scan_line and "text" in scan_line
    assert "lang" not in scan_line and "source" not in scan_line, scan_line


def test_dimension_joins_broadcast(spark):
    """TPC-H-style revenue query: nation/customer dims must broadcast —
    a sort-merge join of a dimension table against the fact table is the
    classic does-not-survive-100x plan."""
    import __spark_entry__ as entry

    df = entry.queries()["tpch_revenue_by_nation"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan


def test_manifest_antijoin_broadcast(spark):
    """Resume anti-join broadcasts the tiny manifest, never shuffles pages."""
    from readability_spark.plans.pipeline import pending_buckets, with_bucket

    pages = with_bucket(
        spark.read.parquet(f"{SF}/documents.parquet").select(
            F.col("doc_id").cast("string").alias("url")
        ),
        16,
    )
    manifest = spark.range(4).select(F.col("id").alias("bucket"))
    pending = pending_buckets(pages, manifest)
    plan = plan_of(pending)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_filter_pushdown_reaches_scan(spark):
    """length/lang pre-filters must reach the parquet scan as PushedFilters."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(
        (F.col("lang") == "en") & (F.col("n_chars") < 10000)
    )
    plan = plan_of(docs.select("doc_id"))
    assert "PushedFilters: [" in plan
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "lang" in pushed and "n_chars" in pushed, pushed


def test_max_html_bytes_filter_pushed(spark, tmp_path):
    """--max-html-bytes: with a materialized html_len column the cap lands
    in the parquet scan's PushedFilters (row-group pruning at 100 TB); the
    length(html) fallback still filters scan-side, below the shuffle and
    the Python UDF."""
    from readability_spark.plans.pipeline import observed_extract

    path = str(tmp_path / "pages")
    (
        spark.range(100)
        .select(
            F.concat(F.lit("http://h/"), F.col("id")).alias("url"),
            F.encode(F.concat(F.lit("<html><body>"), F.col("id")), "utf-8").alias("html"),
        )
        .withColumn("html_len", F.length("html").cast("long"))
        .write.mode("overwrite")
        .parquet(path)
    )
    pages = spark.read.parquet(path).filter(F.col("html_len") <= 100_000)
    result, _ = observed_extract(pages, include_html=False, n_buckets=8)
    plan = plan_of(result)
    scan_line = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "html_len" in scan_line and "100000" in scan_line, scan_line

    # fallback path: expression filter can't reach PushedFilters, but must
    # sit in the scan stage — strictly before the exchange and the UDF
    pages2 = spark.read.parquet(path).filter(F.length("html") <= 100_000)
    result2, _ = observed_extract(pages2, include_html=False, n_buckets=8)
    plan2 = plan_of(result2)
    filter_pos = plan2.index("length(html")
    # printed tree: deeper in the string = earlier in execution — the filter
    # must execute before the exchange and the UDF
    assert filter_pos > plan2.index("Exchange")
    assert plan2.index("MapInPandas") < filter_pos, plan2


def test_lang_filter_pushed_to_scan(spark, tmp_path):
    """--langs: the IN predicate must land in PushedFilters."""
    path = str(tmp_path / "pages_lang")
    (
        spark.range(50)
        .select(
            F.concat(F.lit("http://h/"), F.col("id")).alias("url"),
            F.encode(F.lit("<html><body>x</body></html>"), "utf-8").alias("html"),
            F.when(F.col("id") % 2 == 0, "en").otherwise("es").alias("lang"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )
    df = spark.read.parquet(path).filter(F.col("lang").isin(["en"]))
    plan = plan_of(df)
    scan_line = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "lang" in scan_line, scan_line


def test_ngram_df_tagging_skew_free(spark):
    """The n-gram DF-tagging stage must not route a hot shingle's full
    posting list through one task: document frequency comes from a map-side-
    combined groupBy (HashAggregate, partial+final), the hot set is
    broadcast, and NO Window over the shingle column appears in the plan
    (ADVICE r2: Window.partitionBy(g) was the straggler at 100x)."""
    from readability_spark.operators.dedup import ngram_jaccard_pairs, with_injected_duplicates

    docs = with_injected_duplicates(
        spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    )
    plan = plan_of(ngram_jaccard_pairs(docs))
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "HashAggregate" in plan, plan


def test_pii_scrub_plan_no_shuffle(spark):
    """pii_scrub is a pure projection (regexp count/replace): zero exchanges,
    whole-stage codegen — the shape that stays embarrassingly parallel."""
    from readability_spark.operators.pii import pii_scrub, with_injected_pii

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(pii_scrub(with_injected_pii(docs)))
    assert "Exchange" not in plan, plan
    # `*(1)` is how executedPlan().toString() marks a whole-stage-codegen span
    assert "*(1) Project" in plan, plan


def test_ivf_plan_broadcasts_centroids_and_probes(spark):
    """ivf_topk: the centroid table and the query probe set must broadcast —
    the only shuffles allowed are the map-side-combined argmax aggregation
    and the final window top-k; any sort-merge join against the vector table
    would not survive 10^9 vectors."""
    from readability_spark.operators.similarity import ivf_topk, load_embeddings

    df = ivf_topk(load_embeddings(spark, SF))
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # centroid attach is a broadcast nested-loop (no equi-key), never a
    # shuffled join
    assert "SortMergeJoin" not in plan or "ShuffledHashJoin" not in plan, plan


def test_repetition_plan_partial_aggregates(spark):
    """repetition_stats: both aggregations must show a partial (map-side)
    phase — HashAggregate pairs — so hot boilerplate grams combine before
    the shuffle."""
    from readability_spark.operators.textstats import repetition_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(repetition_stats(docs))
    assert plan.count("HashAggregate") >= 4, plan


def test_decontaminate_plan_broadcasts_benchmark(spark):
    """decontaminate: the benchmark n-gram set is the small side (eval suites
    are ~10^6 grams vs 10^12 corpus grams) — it must broadcast; corpus grams
    must never shuffle as strings (the only Exchange carries the per-doc
    aggregation), and no Window/sort-merge join may appear."""
    from readability_spark.operators.decontam import (
        decontaminate,
        with_injected_contamination,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(decontaminate(with_injected_contamination(docs)))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan, plan
    # partial+final pair for the contamination count
    assert plan.count("HashAggregate") >= 2, plan


def test_chunk_dedup_plan_skew_free_keeper_election(spark):
    """chunk_dedup: keeper election is min(struct) under groupBy(hash) —
    map-side combined HashAggregates, NO Window over the chunk hash (a chunk
    repeated on every page must not funnel through one task)."""
    from readability_spark.operators.decontam import chunk_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(chunk_dedup(docs))
    assert "Window" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_blocklist_plan_broadcast_no_big_rejoin(spark):
    """blocklist_filter: the domain list must broadcast (10^6 domains vs
    10^12 urls) and the fold-back must be a map-side-combined aggregation,
    not a big-with-big url rejoin — no SortMergeJoin anywhere."""
    from readability_spark.operators.urltools import blocklist_filter

    urls = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.concat(F.lit("http://h"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(".example.com/d/"), F.col("doc_id").cast("string")).alias("url")
    )
    blocked = spark.createDataFrame([("example.com",)], "domain string")
    plan = plan_of(blocklist_filter(urls, blocked, r"/d/1"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_bm25_plan_shares_one_postings_shuffle(spark):
    """bm25_topk: the scoring and document-frequency branches must share ONE
    corpus scan + explode via ReuseExchange (a plain count(tf) in the df
    branch lets Catalyst prune the inner count function, desyncing the
    partial aggregates and silently re-reading + re-exploding 10^12 docs).
    With corpus_stats supplied, exactly one parquet scan remains; all query-
    side joins broadcast. Checked with AQE off — AQE's runtime stage reuse
    keys on the same exchange canonicalization this pins."""
    from readability_spark.operators.lexsearch import bm25_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    qdf = spark.createDataFrame([(0, "the vector join")], "query_id long, query string")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(bm25_topk(docs, qdf, k=5))
        assert "ReusedExchange" in plan, plan
        assert plan.count("Scan parquet") == 2, plan  # postings + corpus stats
        plan2 = plan_of(bm25_topk(docs, qdf, k=5, corpus_stats=(500, 50000)))
        assert plan2.count("Scan parquet") == 1, plan2
        assert "SortMergeJoin" not in plan2, plan2
        assert "CartesianProduct" not in plan2, plan2
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_frontier_plan_broadcasts_priors_hashes_crawled(spark):
    """prioritize_frontier: host priors broadcast (10^7 hosts vs 10^12
    candidate urls); the crawled-set check must stay a hash-keyed anti-join
    (either side shuffled on url — never broadcast by us, never a cartesian);
    candidate collapse is a map-side-combined aggregate."""
    from readability_spark.operators.frontier import prioritize_frontier

    discovered = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.lit("http://s/x").alias("url"),
        F.concat(F.lit("http://h"), (F.col("doc_id") % 7).cast("string"),
                 F.lit("/p"), F.col("doc_id").cast("string")).alias("href"),
    )
    crawled = discovered.select(F.col("href").alias("url")).limit(10)
    scores = spark.createDataFrame([("h1", 2.0)], "host string, host_score double")
    plan = plan_of(prioritize_frontier(discovered, crawled, scores))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # the priors join
    assert "LeftAnti" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_anchor_profile_plan_preaggregates_modal_side(spark):
    """anchor_profile: the modal-anchor window must rank pre-aggregated
    (href, anchor) counts, so a partial+final HashAggregate pair sits below
    the Window — never the raw inlink stream — and the totals/modal join is
    co-located (no cartesian, no broadcast of a corpus-sized side needed for
    correctness: SMJ/shuffled-hash both acceptable here)."""
    from readability_spark.operators.links import anchor_profile

    links = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.lit("http://s/x").alias("url"),
        F.concat(F.lit("http://t/"), (F.col("doc_id") % 7).cast("string")).alias("href"),
        F.lit("click here").alias("anchor"),
    )
    plan = plan_of(anchor_profile(links))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final on both sides
    assert "Window" in plan, plan


def test_funnel_plan_one_user_exchange_any_stage_count(spark):
    """The whole stage cascade shares ONE hash exchange on the user key:
    every chained conditional-min window has the same partitioning, the
    per-user collapse reuses it, and only the final 4-row aggregate goes
    through a SinglePartition exchange. A per-stage self-join (the naive
    k-pass funnel) would show k hash exchanges and k joins."""
    from readability_spark.operators.temporal import funnel_counts

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = plan_of(funnel_counts(ev, ("view", "click", "signup", "purchase")))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_keep_best_election_no_window(spark):
    """The per-cluster keeper election is a map-side-combined struct-max
    groupBy (partial_max must appear), NOT a window rank — a window would
    sort every cluster's members inside one task per cluster key and, with
    a degenerate giant cluster, concentrate the corpus in one task."""
    from readability_spark.operators.dedup import (
        canonical_survivors,
        with_injected_duplicates,
    )

    docs = with_injected_duplicates(
        spark.read.parquet(f"{SF}/documents.parquet")
    )
    plan = plan_of(canonical_survivors(docs))
    assert "Window" not in plan, plan
    assert "partial_max" in plan, plan


def test_token_drift_one_shuffle_topk_no_global_sort(spark):
    """Both slices' counts ride ONE token groupBy (conditional sums, no
    two-scan join); totals broadcast; top-k plans as TakeOrderedAndProject
    (per-partition partial top-k), never a full global Sort+Exchange."""
    from readability_spark.operators.textstats import token_drift

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(token_drift(docs))
    assert "TakeOrderedAndProject" in plan, plan
    # the single token groupBy sits behind the counts checkpoint (Scan
    # ExistingRDD) so the visible plan must carry NO further hash exchange
    # (a second one would mean the explode+groupBy runs twice) and no
    # global Sort (TakeOrdered replaces it)
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "ExistingRDD" in plan, plan
    assert "\nSort" not in plan, plan


def test_domain_mixers_single_partition_only_on_k_rows(spark):
    """unimax/temperature/prior: corpus work is ONE map-side-combined
    groupBy(domain); the SinglePartition exchange (the K-row window
    frame) sits strictly above that partial aggregate, so the corpus
    never funnels through one task."""
    from readability_spark.operators.sampling import (
        temperature_mix,
        unimax_allocation,
    )
    from readability_spark.operators.textstats import domain_quality_prior

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (
        unimax_allocation(docs, 50000.0, 2.0),
        temperature_mix(docs, 50000.0, 0.3),
        domain_quality_prior(docs),
    ):
        plan = plan_of(df)
        assert plan.count("Exchange SinglePartition") == 1, plan
        # map-side combine before any exchange: partial count/sum present
        assert "partial_" in plan, plan
        # the single-partition section must come AFTER the domain groupBy
        sp = plan.index("Exchange SinglePartition")
        assert "partial_" in plan[sp:], plan


def test_reshard_assignment_is_pure_projection(spark):
    """Rendezvous assignment must add ZERO exchanges below the report's one
    groupBy: the md5 argmax is a per-row column expression. The report
    itself is one map-side-combined aggregation (AQE may print the
    exchange once per plan reuse; count distinct exchange ids instead)."""
    from readability_spark.operators.shards import reshard_plan

    keys = spark.range(200).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
    plan = plan_of(reshard_plan(keys, "k", n_old=8, n_new=12))
    assert plan.count("Exchange") == 1, plan
    assert "HashAggregate" in plan, plan


def test_typosquat_plan_broadcasts_brands(spark):
    """The brand side must reach the screen as a broadcast: a shuffled join
    against a top-k list would serialize the whole host table through one
    exchange for an 8-row build side."""
    from readability_spark.operators.urltools import typosquat_candidates

    pages = spark.range(300).select(
        F.concat(F.lit("http://h"), (F.col("id") % 40).cast("string"),
                 F.lit(".com/p"), F.col("id")).alias("url"))
    plan = plan_of(typosquat_candidates(pages, top_k=4))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    # host counting is the only real shuffle of data volume
    assert "SortMergeJoin" not in plan, plan


def test_calibration_plan_single_aggregation(spark):
    """The reliability table is one map-side-combined groupBy over n_bins
    keys — no window, no join, no second exchange."""
    from readability_spark.operators.classifier import (
        calibration_report,
        quality_features,
        score_logreg,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    scored = score_logreg(quality_features(docs), [1.0, 1.0, 0.0])
    plan = plan_of(calibration_report(scored))
    assert plan.count("Exchange") == 1, plan
    assert "Window" not in plan and "Join" not in plan, plan


def test_audio_fingerprint_plan_no_shuffle(spark):
    """The acoustic fingerprint is a pure mapInPandas projection over the
    WAV payload — zero exchanges, same contract as the decode/stats ops."""
    from readability_spark.operators.audio import audio_fingerprint, synthesize_audio

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(audio_fingerprint(synthesize_audio(docs)))
    assert plan.count("Exchange") == 0, plan


def test_joint_near_dup_single_pair_join(spark):
    """The multimodal composition adds exactly ONE join over its two pair
    inputs — the composite-key equi-join. (Pinned on synthetic pair tables:
    the assert is the join count; a rejoin against doc/signature tables
    inside joint_near_dup would show up as a second join here.)"""
    from readability_spark.operators.dedup import joint_near_dup

    a = spark.createDataFrame(
        [(1, 2, 0), (2, 3, 1)], "id_a long, id_b long, hamming int"
    )
    b = spark.createDataFrame(
        [(1, 2, 0), (9, 10, 2)], "id_a long, id_b long, hamming int"
    )
    plan = plan_of(joint_near_dup(a, b))
    joins = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") + plan.count("BroadcastHashJoin")
    assert joins == 1, plan


def test_mime_sniff_zero_shuffle_before_matrix_agg(spark):
    """The sniff itself is a pure codegen projection: the routing-matrix
    report's ONLY exchange is the final (declared, sniffed) groupBy — no
    Python, no shuffle of payload bytes (only the two small string columns
    reach the aggregation)."""
    from readability_spark.operators.mime import mime_mismatch_report, sniff_mime

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.encode("text", "utf-8").alias("payload"), F.lit("text/plain").alias("declared")
    )
    # the bare sniff column is shuffle-free
    plan = plan_of(docs.select(sniff_mime(F.col("payload")).alias("m")))
    assert plan.count("Exchange") == 0, plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, plan
    # the matrix agg pays exactly one exchange (map-side partials first)
    plan2 = plan_of(mime_mismatch_report(docs))
    assert plan2.count("Exchange") == 1, plan2
    assert plan2.count("HashAggregate") == 2, plan2  # partial + final


def test_resolve_redirects_logarithmic_join_rounds(spark):
    """Pointer doubling: ceil(log2(max_hops)) self-join rounds + the edge
    dedup agg + the terminal probe — NOT max_hops sequential joins. With
    max_hops=16 the resolved plan contains exactly 4 doubling joins (the
    lineage-truncating localCheckpoints make each round's input a scan, so
    the last round's plan shows one join above checkpointed state)."""
    from readability_spark.operators.urltools import resolve_redirects

    edges = spark.createDataFrame(
        [(i, i - 1) for i in range(1, 64) if i % 8 != 0], "src long, dst long"
    )
    out = resolve_redirects(edges, max_hops=16)
    plan = plan_of(out)
    # localCheckpoint truncates per-round lineage: the final plan is ONLY
    # the terminal-probe join over the checkpointed state — constant-size
    # regardless of max_hops (the property that matters for the driver).
    joins = (
        plan.count("SortMergeJoin")
        + plan.count("ShuffledHashJoin")
        + plan.count("BroadcastHashJoin")
    )
    assert joins == 1, plan
    assert "Scan ExistingRDD" in plan, plan


def test_governance_and_inventory_single_exchange(spark):
    """The governance matrix, JSON-LD inventory, and charset audit are all
    codegen-projection + ONE map-side-combined exchange — no Python, no
    second shuffle."""
    from readability_spark.operators.mime import charset_report
    from readability_spark.operators.pagemeta import governance_report, jsonld_inventory

    pages = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("text").alias("html"), F.encode("text", "utf-8").alias("payload")
    )
    for df in (
        governance_report(pages),
        jsonld_inventory(pages),
        charset_report(pages),
    ):
        plan = plan_of(df)
        assert plan.count("Exchange") == 1, plan
        assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, plan


def test_rare_ngram_join_keys_bounded_by_rare_df(spark):
    """The memorization audit's join back to postings is filtered to keys
    with DF <= rare_df BEFORE the join — no key can fan out (the skew-free
    property, asserted on the data: every joined key's posting count is
    within the bound)."""
    from readability_spark.operators.dedup import _shingles, with_injected_duplicates
    from readability_spark.operators.pii import rare_ngram_report

    docs = with_injected_duplicates(
        spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    )
    out = rare_ngram_report(docs, rare_df=1)
    # data-level bound: rare keys are df<=1, so total rare-posting rows ==
    # total n_rare — and no doc can report more rare shingles than it has
    bad = out.filter(F.col("n_rare") > F.col("n_ngrams")).count()
    assert bad == 0
    # duplicated originals (doc_id % 10 == 0) must have zero unique shingles
    dup_orig = out.filter((F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 1000000))
    assert dup_orig.filter(F.col("n_rare") > 0).count() == 0


def test_cdc_chunking_zero_shuffle_until_fp_groupby(spark):
    """CDC chunking is higher-order codegen per row: the chunk column costs
    no exchange and no Python; the dedup's ONLY exchange is the
    fingerprint groupBy, and the projection to (fp, len) happens BELOW it
    (only 16-byte hashes + ints shuffle, never chunk text)."""
    from readability_spark.operators.cdc import cdc_chunk_dedup, cdc_chunks_col

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(docs.select(cdc_chunks_col(F.col("text")).alias("ch")))
    assert plan.count("Exchange") == 0, plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, plan
    plan2 = plan_of(cdc_chunk_dedup(docs.select("doc_id", "text")))
    # exactly the two-phase distinct-agg shape: partial distinct on
    # (chunk_fp, doc_id), final on chunk_fp — both map-side combined; the
    # hash projection sits below both, so only 16-byte fps + ints shuffle
    assert plan2.count("Exchange") == 2, plan2
    assert "hashpartitioning(chunk_fp" in plan2, plan2
    assert "md5" in plan2.lower(), plan2


def test_lm_scoring_broadcasts_context_counts(spark):
    """Perplexity scoring: the exploded document-bigram stream shuffles
    ONCE (the (w1, w2) model join); the vocabulary-bounded context-count
    side rides a BroadcastHashJoin, not a second corpus-sized exchange."""
    from readability_spark.operators.lm import lm_perplexity

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(lm_perplexity(docs))
    assert "BroadcastHashJoin" in plan
    # the left-outer context join must be the broadcast one: with
    # broadcast_contexts=False the same plan gains one more SortMergeJoin
    from readability_spark.operators.lm import (
        score_perplexity,
        train_bigram_lm,
    )

    # with auto-broadcast off, only the explicit hint keeps the context
    # join a broadcast; the fallback path gains a shuffled join
    c2, c1, vocab = train_bigram_lm(docs)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fused = plan_of(score_perplexity(docs, c2, c1, vocab))
        fallback = plan_of(
            score_perplexity(docs, c2, c1, vocab, broadcast_contexts=False)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert fused.count("BroadcastHashJoin") > fallback.count("BroadcastHashJoin")
    assert fallback.count("SortMergeJoin") > fused.count("SortMergeJoin")


def test_slim_family_has_no_blanket_fanout(spark):
    """The conditional fan-out policy (VERDICT r4 item 3): slim column-
    expression queries read scan -> agg with NO RepartitionByExpression
    ahead of their first real shuffle. At 100 TB a blanket reshuffle of
    the read columns before a map-only/agg-only plan is pure waste — the
    production scan arrives already split by maxPartitionBytes."""
    import __spark_entry__ as entry

    q = entry.queries()
    for name in ("url_canonical_dedup", "text_quality", "url_blocklist",
                 "corpus_pack", "anchor_profile"):
        plan = plan_of(q[name](spark, SF))
        # the fan-out readers pin the partition count, which Spark tags
        # REPARTITION_BY_NUM; an unpinned .repartition(col) would tag
        # REPARTITION_BY_COL and a bare .repartition(n) RoundRobin
        for marker in ("REPARTITION_BY_NUM", "REPARTITION_BY_COL",
                       "RoundRobinPartitioning"):
            assert marker not in plan, \
                f"{name} pays a blanket fan-out ({marker}):\n{plan}"


def test_heavy_family_keeps_fanout(spark):
    """The per-doc-Python / token-explode families DO keep the pinned
    doc_id/url-hash fan-out: at the sandbox sf the parquet arrives as one
    row group, and without it the whole Python/explode stage runs as one
    task (lm_perplexity 23.9s -> 2.8s, tokenfinder 6.2s -> 0.8s, r4)."""
    import __spark_entry__ as entry

    q = entry.queries()
    for name in ("extract_articles", "lm_perplexity"):
        plan = plan_of(q[name](spark, SF))
        # must be the explicit pinned-count repartition of the INPUT, not
        # just any hashpartitioning exchange the query's own joins/aggs
        # emit (lm_perplexity's model join would keep a bare
        # "hashpartitioning" assertion green even with the fan-out gone)
        assert "REPARTITION_BY_NUM" in plan, f"{name} lost its fan-out:\n{plan}"


def test_bitext_executed_plan_is_shortlist(spark):
    """bitext_pairs' executed candidate generator is the banded LSH
    shortlist (VERDICT r4 item 2): the registry plan must contain NO
    CartesianProduct / BroadcastNestedLoopJoin — O(|A|x|B|) candidates
    are the one scale-killer this operator had left."""
    import __spark_entry__ as entry

    plan = plan_of(entry.queries()["bitext_pairs"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
