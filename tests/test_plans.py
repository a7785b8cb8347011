"""Physical-plan quality gates: the scale claims in the operator
docstrings must be visible in the actual plans, not just prose.
Plans are inspected at sf0.001 (plan shape is sf-independent)."""

from __future__ import annotations

import re

from pu4spark_spark.operators.asof import q_range_click_purchases
from pu4spark_spark.operators.dedup import _edge_set_diff, q_dedup_exact_docs
from pu4spark_spark.operators.relational import (
    q_q1_pricing_summary,
    q_q5_region_supplier_revenue,
)
from pu4spark_spark.plans import explain_str

SF_DIR = "/root/testdata/sf0.001"


def test_q1_pushdown_and_pruning(spark):
    plan = explain_str(q_q1_pricing_summary(spark, SF_DIR))
    # the shipdate filter must reach the parquet scan...
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan)
    # ...and the scan must not read columns the query never touches
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m and "l_comment" not in m.group(1) and "l_partkey" not in m.group(1)


def test_q5_broadcasts_all_dims(spark):
    plan = explain_str(q_q5_region_supplier_revenue(spark, SF_DIR))
    # supplier, nation, region are all broadcast — the lineitem scan
    # never shuffles for a dimension join
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_range_join_is_not_nested_loop(spark):
    """The banded rewrite must keep the lookback join a hash/merge join;
    a pure inequality join would appear as BroadcastNestedLoopJoin."""
    plan = explain_str(q_range_click_purchases(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_exact_dedup_single_shuffle(spark):
    """Hash-groupBy dedup: exactly one exchange (the groupBy on the
    content hash), with a map-side partial aggregate before it."""
    plan = explain_str(q_dedup_exact_docs(spark, SF_DIR))
    # formatted output lists each node once in the tree and once in the
    # details; count the detail headers
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "partial_" in plan  # map-side combine happened


def test_cc_star_convergence_probe_is_one_full_outer_join(spark):
    """The CC-star loop's per-round probe (the symmetric diff of the old
    and new edge sets) is one full-outer join: 2 exchanges, where the
    two-subtract form it replaced had 4."""
    new = spark.createDataFrame([(2, 1), (3, 1)], "a long, b long")
    old = spark.createDataFrame([(2, 1), (3, 2)], "a long, b long")
    plan = explain_str(_edge_set_diff(new, old))
    assert re.findall(r"Join type: (\w+)", plan) == ["FullOuter"]
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_no_row_udfs_anywhere():
    """Grep the package source: no row-at-a-time Python UDFs — the only
    Python boundaries allowed are Arrow-batched (mapInPandas /
    applyInPandasWithState)."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "pu4spark_spark"
    offenders = []
    for p in root.rglob("*.py"):
        src = p.read_text()
        if re.search(r"F\.udf\(|@udf|functions\.udf\(|\budf\(lambda", src):
            offenders.append(str(p))
    assert offenders == []


def test_salted_join_row_identical(spark):
    """Salting redistributes the shuffle but must not change the join
    result."""
    from pu4spark_spark.plans import salted_join
    from pu4spark_spark.sources import load_table

    orders = load_table(spark, "orders", SF_DIR)
    cust = load_table(spark, "customer", SF_DIR).withColumnRenamed(
        "c_custkey", "o_custkey"
    ).select("o_custkey", "c_name", "c_mktsegment")
    plain = orders.join(cust, "o_custkey").select(
        "o_orderkey", "c_name", "c_mktsegment"
    )
    salted = salted_join(orders, cust, "o_custkey", salt=8).select(
        "o_orderkey", "c_name", "c_mktsegment"
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_simhash_stays_in_codegen_with_preshuffle_reduce(spark):
    """SimHash must run as ONE map-side-combined aggregation in
    whole-stage codegen (no interpreted higher-order functions — they
    are CodegenFallback and measured 10-50× slower): a partial
    HashAggregate must pre-reduce each doc's tokens BEFORE the exchange,
    so the shuffle carries one 64-counter row per doc, not per token;
    the only other exchange allowed is spread()'s scan fan-out."""
    from pu4spark_spark.operators.dedup import q_dedup_simhash

    plan = explain_str(q_dedup_simhash(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2
    assert "partial_count" in plan  # map-side combine before the shuffle
    # no interpreted HOFs anywhere in the fingerprint path
    assert "ArrayFilter" not in plan and "ArrayAggregate" not in plan


def test_pii_redact_zero_exchange(spark):
    """Redaction is a pure scan-stage projection — no exchange at all."""
    from pu4spark_spark.operators.curation import q_curation_pii_redact

    plan = explain_str(q_curation_pii_redact(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark shingle set is fixed-size: both contamination joins
    must be broadcast, never sort-merge on the corpus side."""
    from pu4spark_spark.operators.curation import q_curation_decontaminate

    plan = explain_str(q_curation_decontaminate(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_band_artifact_probe_corpus_side_shuffle_free(spark):
    """Probing the precomputed band artifact must NOT shuffle the
    corpus side: the bucketed table's layout is the join distribution,
    so the only exchanges are batch-sized (spread fan-out, the batch
    band shuffle, the candidate distinct) — and the scan reports the
    bucket layout as actually used."""
    from pyspark.sql import functions as F

    from pu4spark_spark.operators.dedup import (
        INCR_BATCH_MOD,
        _doc_shingle_sets,
        build_band_artifacts,
        minhash_bands,
        probe_band_candidates,
    )

    # other tests persist() identical shingle-set subtrees; a cached
    # InMemoryRelation substituted into this plan changes its exchange
    # census — inspect the clean plan
    spark.catalog.clearCache()
    sh = _doc_shingle_sets(spark, SF_DIR)
    is_batch = F.col("doc_id") % INCR_BATCH_MOD == 0
    bands_tbl, _ = build_band_artifacts(spark, sh.filter(~is_batch), "gate")
    cand = probe_band_candidates(
        minhash_bands(sh.filter(is_batch)), spark.table(bands_tbl)
    )
    plan = explain_str(cand)
    assert "Bucketed: true" in plan  # layout exploited, not just present
    assert "SortMergeJoin" in plan
    # none of the exchanges sits on the corpus branch.  Formatted-plan
    # node ids are depth-first, so the corpus subtree (the join's
    # second child) is exactly the id range [corpus scan, join) —
    # assert no Exchange node falls in it.  (The batch side legallly
    # has several batch-sized exchanges: spread fan-out, the minhash
    # signature groupBy, the band-key shuffle, the candidate distinct.)
    scan_id = int(
        re.search(
            r"\((\d+)\) Scan parquet spark_catalog\.default\.corpus_bands",
            plan,
        ).group(1)
    )
    smj_id = int(re.search(r"\((\d+)\) SortMergeJoin", plan).group(1))
    assert scan_id < smj_id
    for ex in re.findall(r"\((\d+)\) Exchange", plan):
        assert not (scan_id <= int(ex) < smj_id), plan


def test_no_corpus_derived_broadcast_hints(spark):
    """A mandatory broadcast hint is only legitimate on tables whose
    size does NOT grow with the corpus (query sets, benchmark shingle
    sets, centroids).  Corpus-derived tables — vocabulary counts,
    per-w1 bigram totals, per-doc contamination counts — must reach
    the join unhinted, leaving broadcast-vs-shuffle to AQE's runtime
    size measurement.  The analyzed logical plan makes hints explicit
    as ResolvedHint nodes."""
    from pu4spark_spark.operators.curation import (
        q_curation_decontaminate,
        q_pipeline_corpus_release,
    )
    from pu4spark_spark.operators.text import (
        q_text_bigram_lm,
        q_text_commonness,
    )

    def n_hints(df):
        return df._jdf.queryExecution().analyzed().toString().count(
            "ResolvedHint"
        )

    assert n_hints(q_text_commonness(spark, SF_DIR)) == 0
    assert n_hints(q_text_bigram_lm(spark, SF_DIR)) == 0
    # decontaminate / release keep exactly ONE hint each: the
    # fixed-size benchmark shingle probe
    assert n_hints(q_curation_decontaminate(spark, SF_DIR)) == 1
    assert n_hints(q_pipeline_corpus_release(spark, SF_DIR)) == 1


def test_shard_pack_single_exchange(spark):
    """The shard groupBy must reuse the window's hash partitioning on
    lang — exactly one exchange, no global sort."""
    from pu4spark_spark.operators.curation import q_curation_shard_pack

    plan = explain_str(q_curation_shard_pack(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    # the only Sort is the window's partition-local sort (no global
    # Exchange rangepartitioning anywhere)
    assert "rangepartitioning" not in plan


def test_corpus_release_pipeline_shuffle_census(spark):
    """The composed release chain must stay broadcast + four data-size
    exchanges (benchmark-probe groupBys, md5 dedup window, lang pack
    window) with no sort-merge join or nested loop."""
    from pu4spark_spark.operators.curation import q_pipeline_corpus_release

    plan = explain_str(q_pipeline_corpus_release(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3  # probe join + 2 anti/left


def test_sessionization_single_exchange(spark):
    """Batch sessionization: lag window, island sum window, and the
    session groupBy must all reuse one hash partitioning on user_id."""
    from pu4spark_spark.operators.relational import q_events_sessionized

    plan = explain_str(q_events_sessionized(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_q10_pushdown_and_broadcast(spark):
    """q10: the return-flag filter must reach the fact scan as a pushed
    filter, the date window must reach the orders scan, and nation must
    join as a broadcast."""
    from pu4spark_spark.operators.relational import q_q10_returned_items

    plan = explain_str(q_q10_returned_items(spark, SF_DIR))
    assert re.search(r"PushedFilters: \[[^\]]*l_returnflag", plan)
    assert re.search(r"PushedFilters: \[[^\]]*o_orderdate", plan)
    assert "BroadcastHashJoin" in plan


def test_chunk_windows_is_exchange_free(spark):
    """Chunking explodes where the tokens live: no shuffle anywhere."""
    from pu4spark_spark.operators.curation import q_curation_chunk_windows

    plan = explain_str(q_curation_chunk_windows(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0
    assert "Generate" in plan  # the posexplode runs in-place


def test_chunk_span_dedup_two_bounded_shuffles(spark):
    """Span dedup adds exactly two exchanges on top of the
    exchange-free chunking — (chunk_md5, doc_id) distinct then
    chunk_md5 rollup, both pre-reduced map-side so each carries
    fingerprint rows, never token data."""
    from pu4spark_spark.operators.curation import q_dedup_chunk_spans

    plan = explain_str(q_dedup_chunk_spans(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    # map-side pre-aggregation before the first exchange
    first_exchange = plan.index("Exchange")
    assert "HashAggregate" in plan[:first_exchange]


def test_funnel_single_sort_two_windows(spark):
    """Both qualifying-prior-stage columns share ONE (user) exchange +
    ONE sort; the k-stage funnel never joins per stage."""
    from pu4spark_spark.operators.relational import q_events_funnel

    plan = explain_str(q_events_funnel(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 1
    assert "Join" not in plan


def test_retention_no_self_join(spark):
    """Cohort day via unordered window min: no join back onto events,
    no sort under the window."""
    from pu4spark_spark.operators.relational import q_events_retention

    plan = explain_str(q_events_retention(spark, SF_DIR))
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1


def test_inverted_index_two_phase_capped_collect(spark):
    """The posting-list build must be the salted two-phase shape: first
    exchange on (token, partition-salt), second on token — never one
    unbounded collect_list per token."""
    from pu4spark_spark.operators.text import q_text_inverted_index

    plan = explain_str(q_text_inverted_index(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert re.search(r"spark_partition_id", plan, re.IGNORECASE)
    assert plan.count("slice") >= 2  # both phases cap before shipping


def test_sliding_windows_expand_no_preshuffle(spark):
    """Sliding-window assignment is the Expand operator in the scan
    stage; exactly one exchange (the aggregation), map-side combined."""
    from pu4spark_spark.operators.relational import q_events_sliding_windows

    plan = explain_str(q_events_sliding_windows(spark, SF_DIR))
    assert "Expand" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "partial_count" in plan


def test_q4_plans_as_semi_join(spark):
    """The EXISTS shape must plan as a left-semi join with the quarter
    filter pushed into the orders scan."""
    from pu4spark_spark.operators.relational import q_q4_order_priority

    plan = explain_str(q_q4_order_priority(spark, SF_DIR))
    assert "LeftSemi" in plan
    assert re.search(r"PushedFilters: \[[^\]]*o_orderdate", plan)


def test_bloom_build_is_fixed_size_aggregate(spark):
    """Bloom decontamination: the bit table is built by ONE bit_or
    aggregation (map-side combined) and probed as a broadcast — no
    corpus-proportional broadcast, no cartesian anywhere."""
    from pu4spark_spark.operators.curation import (
        q_curation_bloom_decontaminate,
    )

    plan = explain_str(q_curation_bloom_decontaminate(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "bit_or" in plan
    assert "partial_bit_or" in plan  # map-side pre-reduction to ≤8192 rows
    assert "BroadcastHashJoin" in plan


def test_gram_matrix_explodes_in_scan_stage(spark):
    """Gram matrix: both Generates pipeline before any exchange, the
    only data-size aggregation is map-side combined on (i, j), and
    CONSTRUCTION runs zero jobs — the mean's denominator is the group
    count, not a separate count() scan (a second full pass at 100 TB)."""
    from pu4spark_spark.operators.similarity import q_embedding_gram_matrix

    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "gram_build_gate")
    try:
        df = q_embedding_gram_matrix(spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    for jid in tracker.getJobIdsForGroup("gram_build_gate"):
        for st in tracker.getJobInfo(jid).stageIds:
            si = tracker.getStageInfo(st)
            # the only permissible eager work is the 1-task parquet
            # footer read of schema inference; the old count() scan
            # surfaced here as a multi-task 'count at ...' job
            assert si is None or (
                si.numTasks == 1 and si.name.startswith("parquet")
            ), f"eager job during gram construction: {si.name} ({si.numTasks} tasks)"

    plan = explain_str(df)
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 2
    assert "partial_sum" in plan
    # no exchange BETWEEN the two Generates — they pipeline in one stage
    tree = plan.split("\n\n(1)")[0]
    g_positions = [m.start() for m in re.finditer(r"Generate", tree)]
    e_positions = [m.start() for m in re.finditer(r"Exchange", tree)]
    assert not any(
        g_positions[0] > e > g_positions[1]
        for e in e_positions
        if len(g_positions) == 2
    )


def test_value_trend_single_aggregation(spark):
    """Grouped OLS: one exchange (the event_type aggregation) with
    map-side partials; the slope math lives above the agg, not in a
    second pass."""
    from pu4spark_spark.operators.relational import q_events_value_trend

    plan = explain_str(q_events_value_trend(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "partial_count" in plan or "partial_sum" in plan
    assert "Join" not in plan


def test_runtime_bloom_filter_injection(spark):
    """Catalyst's runtime bloom-filter injection is live on the engine's
    shuffle joins: a selective dim-filtered join whose big side is too
    large to broadcast gets a bloom_filter_agg built on the filtered
    side and a might_contain probe pushed into the fact scan — the
    semi-join reduction that cuts shuffled fact bytes at 100 TB.  The
    fixture-scale thresholds are lowered for the gate (production
    defaults only inject past a 10 GB application-side scan — i.e.
    exactly the regime this repo targets); broadcast is disabled so
    the join actually plans as a shuffle join."""
    from pyspark.sql import functions as F

    from pu4spark_spark.sources import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": (
            "100MB"
        ),
    }
    old: dict[str, str | None] = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = load_table(spark, "orders", SF_DIR).filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, "lineitem", SF_DIR)
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = explain_str(j)
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan.lower()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_time_rollup_single_exchange_with_expand(spark):
    """Multi-granularity rollup: grouping sets expand INSIDE the agg
    stage (Expand operator), one map-side-combined exchange total, and
    the event-type filter pushed to the parquet scan — one scan serves
    every granularity."""
    from pu4spark_spark.operators.relational import q_events_time_rollup

    plan = explain_str(q_events_time_rollup(spark, SF_DIR))
    assert "Expand" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "partial_" in plan
    assert re.search(r"PushedFilters: \[[^\]]*event_type", plan)


def test_auc_no_global_row_sort(spark):
    """The rank-sum AUC must NOT globally sort rows: the corpus is
    reduced by a map-side-combined bin groupBy, and only the
    fixed-size bin table passes through the SinglePartition window —
    two exchanges total, with the scan pruned to (text, lang)."""
    from pu4spark_spark.operators.text import q_eval_quality_auc

    plan = explain_str(q_eval_quality_auc(spark, SF_DIR))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert "partial_" in plan
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m and "doc_id" not in m.group(1) and "source" not in m.group(1)


def test_interval_overlap_join_is_banded(spark):
    """The interval×interval join must stay a hash/merge equi-join on
    the band key — never a nested-loop over the inequality predicate.
    (The busy-threshold 1-ROW scalar append legitimately plans as a
    broadcast nested loop — the correct constant-append shape, see the
    BNLJ note in SURVEY §5b.10 — so the gate checks the interval join
    node specifically, not a blanket BNLJ ban.)"""
    import re as _re

    from pu4spark_spark.operators.asof import q_sessions_busy_overlap

    plan = explain_str(q_sessions_busy_overlap(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # the interval join itself is the hash join keyed on __band
    assert _re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan)
    assert "__band" in plan
    # any nested-loop node must be the 1-row scalar cross join, and the
    # band join must not be one: every BNLJ in the plan is a Cross of
    # the totals row
    for m in _re.finditer(r"\(\d+\) BroadcastNestedLoopJoin[^\n]*\nJoin type: (\w+)", plan):
        assert m.group(1) == "Cross"


def test_ahash_near_dup_is_banded(spark):
    """Perceptual near-dup: pigeonhole band equi-join, no all-pairs."""
    from pu4spark_spark.operators.multimodal import q_mm_ahash_near_dup

    plan = explain_str(q_mm_ahash_near_dup(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cms_probe_broadcasts_sketch(spark):
    """The Count-Min probe joins a FIXED-size (d×w) sketch — it must be
    broadcast, never shuffled against the probe rows."""
    from pu4spark_spark.operators.text import q_text_cms_frequency

    plan = explain_str(q_text_cms_frequency(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_dpp_fact_scan_prunes_at_runtime(spark):
    """The supplier-partitioned fact scan must carry a dynamicpruning
    PartitionFilter derived from the dimension filter — runtime
    partition pruning, not a full-table scan."""
    from pu4spark_spark.sources.formats import q_fmt_dpp_fact_scan

    plan = explain_str(q_fmt_dpp_fact_scan(spark, SF_DIR))
    assert "dynamicpruning" in plan
    assert "PartitionFilters" in plan


def test_shuffle_hash_hint_plans_shj(spark):
    """The shuffle_hash hint must actually plan a ShuffledHashJoin (no
    sort-merge sorts on either fact side)."""
    from pu4spark_spark.operators.relational import q_lineitem_orders_shj

    plan = explain_str(q_lineitem_orders_shj(spark, SF_DIR))
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_fact_join_zero_exchange_zero_sort(spark):
    """Both fact sides read their bucket layout: nothing below the
    SortMergeJoin may EXCHANGE — the bucket layout is the join
    distribution, so the only exchange in the query is the
    output-sized priority rollup.  (A per-bucket in-task Sort remains:
    Spark ignores sortBy order at read time unless the legacy
    ``bucketedTableScan.outputOrdering`` conf is on — SPARK-28595 — and
    that sort is task-local, pipelined, and spill-safe, not a shuffle.)
    """
    from pu4spark_spark.operators.relational import (
        q_lineitem_orders_bucketed_join,
    )

    spark.catalog.clearCache()
    df = q_lineitem_orders_bucketed_join(spark, SF_DIR)
    plan = explain_str(df)
    assert plan.count("Bucketed: true") == 2, plan
    assert "SortMergeJoin" in plan
    smj_id = int(re.search(r"\((\d+)\) SortMergeJoin", plan).group(1))
    # depth-first ids: everything below the join has id < smj_id
    for ex in re.findall(r"\((\d+)\) Exchange", plan):
        assert int(ex) > smj_id, plan
    # every bucket participates and the layout is actually consumed
    assert plan.count("SelectedBucketsCount: 16 out of 16") == 2, plan


def test_winsorized_boundaries_are_sketch_not_exact_percentile(spark):
    """The winsorized-mean P5/P95 boundary pass must come from the
    fixed-memory 64-bin histogram sketch, never Spark's exact
    ``percentile`` aggregate (whose value→count state is unbounded on
    a fat-tailed value column at 100 TB) nor the GK
    ``approx_percentile`` (engine-specific layout, not oracle
    hash-checkable)."""
    from pu4spark_spark.operators.relational import (
        q_lineitem_winsorized_mean,
    )

    plan = explain_str(q_lineitem_winsorized_mean(spark, SF_DIR))
    assert "percentile" not in plan.lower(), plan
    # the sketch's fingerprints: equi-width binning + cumulative window
    assert re.search(r"\bFLOOR\(", plan, re.IGNORECASE), plan
    assert "specifiedwindowframe" in plan.lower() or "Window" in plan, plan


def test_intradoc_dup_ngrams_zero_exchange(spark):
    """The Gopher dup-ngram rule must be a pure scan-stage projection:
    n-gram arrays, distinct counts, fractions, and the keep flag are
    per-row array expressions — ZERO exchanges, so at 100 TB the rule
    rides any corpus pass for free."""
    from pu4spark_spark.operators.text import q_text_intradoc_dup_ngrams

    plan = explain_str(q_text_intradoc_dup_ngrams(spark, SF_DIR))
    assert ") Exchange" not in plan, plan
    assert "BroadcastExchange" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_events_type_drift_shape(spark):
    """Drift audit: one 1-row scalar broadcast (the BNLJ-cross scalar
    pattern), one map-side-combined groupBy over the ≤|types| key
    space, windows only over that tiny aggregated table — exactly two
    data-bearing exchanges (agg partials + the single-partition window
    feed), never a data-sized join or sort."""
    from pu4spark_spark.operators.relational import q_events_type_drift

    plan = explain_str(q_events_type_drift(spark, SF_DIR))
    # scalar broadcast join is the only join; no data-sized SMJ
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin Cross BuildRight" in plan, plan
    # partial->final aggregation (map-side combine) present
    assert plan.lower().count("hashaggregate") >= 2, plan


def test_two_phase_rank_equals_single_phase_window(spark):
    """The centralized two-phase top-k must return EXACTLY the rows a
    single-phase per-group window would, for any physical partitioning
    — the one correctness requirement the helper's docstring states
    (phase-1's per-slice order must be the global total order).  Random
    data with heavy score ties exercises the tie-break; repartition
    shifts which rows share a slice."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pu4spark_spark.plans import two_phase_rank

    rng = random.Random(42)
    rows = [
        (i, rng.randrange(4), float(rng.randrange(5)))  # many score ties
        for i in range(200)
    ]
    for parts in (1, 7):
        df = spark.createDataFrame(rows, ["id", "g", "s"]).repartition(parts)
        two = two_phase_rank(
            df, ["g"], [F.desc("s"), F.asc("id")], 5, rank_col="r"
        )
        w = Window.partitionBy("g").orderBy(F.desc("s"), F.asc("id"))
        one = (
            df.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= 5)
        )
        got = sorted(map(tuple, two.select("g", "id", "s", "r").collect()))
        want = sorted(map(tuple, one.select("g", "id", "s", "r").collect()))
        assert got == want, f"parts={parts}"


def test_sql_docs_clean_stages_serve_from_cache(spark):
    """The SQL-front-end pipeline twin must evaluate its interpreted
    shingle/signature HOF projections ONCE: the ``base`` and ``bands``
    stages are ``CACHE TABLE``-staged, and every top-level consumer in
    the main statement reads the InMemoryRelation — zero raw parquet
    scans outside a cached subtree.  Guards the WithCTE pitfall: a WITH
    anywhere in the view definition or the consumer breaks CacheManager
    substitution for re-instanced references (only the first copy
    canonicalizes equal), silently re-running the HOF chain per
    consumer."""
    from pu4spark_spark.operators.pipeline import q_sql_docs_clean

    df = q_sql_docs_clean(spark, SF_DIR)
    # InMemoryRelation is a LEAF of the optimized logical plan (its
    # cached build plan is a field, not a child), so the leaf census is
    # an exact substitution count — display-string heuristics are not
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    names = [leaves.apply(i).nodeName() for i in range(leaves.size())]
    spark.catalog.clearCache()
    # consumers: final select + sa + sb (base) and both LSH sides (bands)
    assert names.count("InMemoryRelation") >= 5, names
    assert all(n == "InMemoryRelation" for n in names), names


def test_ivf_partitioned_probe_prunes_directories(spark):
    """The cell-partitioned IVF artifact must be read with a STATIC
    partition filter: the probed cell list appears in the scan's
    PartitionFilters, and the scan's selected partition count is the
    probed-cell count, not all IVF_CLUSTERS directories — IVF as a
    layout, not just a filter."""
    import re

    from pu4spark_spark.operators.similarity import (
        IVF_CLUSTERS,
        IVF_NPROBE,
        q_ann_ivf_partitioned_probe,
    )

    df = q_ann_ivf_partitioned_probe(spark, SF_DIR, limit_queries=1)
    plan = explain_str(df)
    spark.catalog.clearCache()
    m = re.search(r"PartitionFilters: \[([^\]]*cell[^\]]*)\]", plan)
    assert m, plan
    # short lists print as IN (...), longer ones as INSET ...
    sel = re.search(
        r"cell#\d+ (?:IN \(([0-9,]+)\)|INSET ([0-9, ]+))", m.group(1)
    )
    assert sel, m.group(1)
    n_sel = len((sel.group(1) or sel.group(2)).split(","))
    # one query probes exactly nprobe of the cluster directories
    assert n_sel == IVF_NPROBE, (n_sel, IVF_NPROBE)
    assert n_sel < IVF_CLUSTERS


def test_session_window_single_exchange_merging_sessions(spark):
    """Native session_window: ONE data exchange (on user_id) into the
    MergingSessions operator, with a partial aggregate below it —
    the engine-native sessionization never resorts to window funcs."""
    from pu4spark_spark.operators.relational import (
        q_events_session_window_fn,
    )

    plan = explain_str(q_events_session_window_fn(spark, SF_DIR))
    assert "MergingSessions" in plan
    tree = plan.split("== Physical Plan ==")[1]
    assert len(re.findall(r"\bExchange\b", tree.split("(1) Scan")[0])) <= 2
    assert "Window" not in plan


def test_k_anonymity_single_raw_scan(spark):
    """The relabel + residual re-aggregate must run over the QI-cell
    table only: exactly one scan of the raw customer parquet."""
    from pu4spark_spark.operators.curation import q_curation_k_anonymity

    plan = explain_str(q_curation_k_anonymity(spark, SF_DIR))
    tree = plan.split("== Physical Plan ==")[1].split("(1) Scan")[0]
    assert tree.count("Scan parquet") == 1


def test_hll_merge_rollup_reads_sketches_not_raw(spark):
    """The union rollup's input is the day-sketch aggregate (second
    HashAggregate above the first), not a second raw-event scan on
    the sketch side: two scans total (sketch side + exact side)."""
    from pu4spark_spark.operators.relational import (
        q_events_hll_sketch_merge,
    )

    plan = explain_str(q_events_hll_sketch_merge(spark, SF_DIR))
    tree = plan.split("== Physical Plan ==")[1].split("(1) Scan")[0]
    assert tree.count("Scan parquet") == 2
    assert "hll_union_agg" in plan or "hll_union" in plan


def test_aqe_skew_join_split_witnessed(spark):
    """AQE's skew-join handling observed LIVE: the hot-key SMJ's
    executed (adaptive, post-materialization) plan must carry the
    skew=true marker — Spark detected the oversized shuffle partition
    at runtime and split it.  The engine-native alternative to the
    manual salting `salted_segment_revenue` oracle-checks; both must
    produce identical rows (the oracle of the AQE twin pins that)."""
    from pu4spark_spark.operators.relational import (
        q_skew_join_aqe_revenue,
    )

    df = q_skew_join_aqe_revenue(spark, SF_DIR)
    # the query materialized itself under the lowered skew thresholds;
    # its executed plan is final (AQE resolved)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan, plan[:4000]
    rows = df.collect()
    assert rows and sum(r["n_orders"] for r in rows) > 0
    df.unpersist()


def test_aqe_coalesce_witnessed(spark):
    """AQE's partition-coalescing observed LIVE, the small-partition
    twin of the skew gate: the hourly rollup plans 64 initial shuffle
    partitions, and the executed plan must show AQEShuffleRead
    coalescing them down — the engine-native fix for too-many-reducers
    (a task launch + tiny output file per partition at 100 TB)."""
    from pu4spark_spark.operators.relational import (
        q_events_aqe_coalesce_hourly,
    )

    df = q_events_aqe_coalesce_hourly(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan and "coalesced" in plan, plan[:4000]
    n_parts = df.rdd.getNumPartitions()
    assert n_parts < 64, n_parts
    rows = df.collect()
    assert rows and sum(r["n_events"] for r in rows) > 0
    df.unpersist()


def test_quality_constraint_suite_single_scan_and_verdicts(spark):
    """The constraint suite must (a) ride ONE scan of orders — one
    'Scan parquet' leaf in the optimized plan, however many constraints
    are declared — and (b) compute real verdicts: the date-bounds
    constraint genuinely fails on the fixture (orders run through
    2001) while every other constraint passes."""
    from pu4spark_spark.operators.relational import (
        q_audit_quality_constraints,
    )
    from pu4spark_spark.plans import explain_str

    df = q_audit_quality_constraints(spark, SF_DIR)
    plan = explain_str(df)
    tree = plan.split("== Physical Plan ==")[1].split("(1) Scan")[0]
    assert tree.count("Scan parquet") == 1, plan[:4000]
    rows = {r["check_name"]: r for r in df.collect()}
    assert rows["date_bounds_1995_2000"]["passed"] == 0
    assert 0.0 < rows["date_bounds_1995_2000"]["metric"] < 1.0
    for name, r in rows.items():
        if name != "date_bounds_1995_2000":
            assert r["passed"] == 1, (name, r)
            assert r["ok_rows"] == r["n_rows"]


def test_cbo_join_reorder_witnessed(spark):
    """Cost-based join reordering observed in BOTH directions: without
    CBO the declared (worst) order survives — fact⋈fact innermost —
    and with CBO + ANALYZEd stats the selective part join rotates
    innermost (the query itself raises if not).  Result rows must be
    identical either way (the oracle pins the values)."""
    import re

    from pyspark.sql import functions as F

    from pu4spark_spark.operators.relational import (
        CBO_BRAND,
        ensure_cbo_stats_tables,
        q_orders_cbo_join_reorder,
    )

    li_tbl, o_tbl, p_tbl = ensure_cbo_stats_tables(spark, SF_DIR)
    li = spark.table(li_tbl)
    o = spark.table(o_tbl)
    p = spark.table(p_tbl).filter(F.col("p_brand") == CBO_BRAND)
    declared = li.join(o, li["l_orderkey"] == o["o_orderkey"]).join(
        p, li["l_partkey"] == p["p_partkey"]
    )
    prev = spark.conf.get("spark.sql.cbo.enabled", "false")
    spark.conf.set("spark.sql.cbo.enabled", "false")
    try:
        opt = declared._jdf.queryExecution().optimizedPlan().toString()
    finally:
        spark.conf.set("spark.sql.cbo.enabled", prev)
    conds = re.findall(r"Join Inner, \((\w+)#\d+", opt)
    # without CBO the deepest (last-listed) join is the declared first
    # join — the fact-fact orderkey join
    assert conds and conds[-1] in ("l_orderkey", "o_orderkey"), conds

    # with CBO the query self-gates the rotation; just run it
    df = q_orders_cbo_join_reorder(spark, SF_DIR)
    rows = df.collect()
    assert rows and sum(r["n_items"] for r in rows) > 0
    df.unpersist()


def test_aqe_join_demotion_witnessed(spark):
    """The THIRD AQE lever observed live (skew split and coalesce have
    their own gates): with the static planner denied broadcast, the
    initial plan is a SortMergeJoin and the executed adaptive plan must
    carry the runtime-converted BroadcastHashJoin — the query itself
    raises on either miss, so here we just run it and sanity-check the
    rows against the manual twin's totals."""
    from pu4spark_spark.operators.relational import (
        q_orders_aqe_join_demotion,
    )

    df = q_orders_aqe_join_demotion(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:4000]
    rows = df.collect()
    assert rows and sum(r["n_orders"] for r in rows) > 0
    df.unpersist()


def test_bloom_filter_join_witnessed(spark):
    """The row-level runtime Bloom filter observed live: a selective
    dim filter must plant a bloom_filter_agg subquery and a
    might_contain probe above the fact scan (the query raises on
    either miss); rows sanity-checked against the selective brand."""
    from pu4spark_spark.operators.relational import (
        q_lineitem_bloom_filter_join,
    )

    df = q_lineitem_bloom_filter_join(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bloom_filter_agg" in plan and "might_contain" in plan
    rows = df.collect()
    assert rows and all(r["n_items"] > 0 for r in rows)
    df.unpersist()


def test_release_cached_logs_a_failed_unpersist(caplog, monkeypatch):
    """``release_cached`` stays non-fatal but no longer hides a failed
    unpersist: the failure is logged with its exception, and the other
    pinned frames are still released."""
    import logging

    from pu4spark_spark import plans

    class _Frame:
        def __init__(self, fail: bool) -> None:
            self.fail, self.released = fail, False

        def unpersist(self) -> None:
            if self.fail:
                raise RuntimeError("block manager gone")
            self.released = True

    ok, bad = _Frame(False), _Frame(True)
    monkeypatch.setattr(plans, "_RELEASABLE", [ok, bad])
    with caplog.at_level(logging.WARNING, logger="pu4spark_spark.plans"):
        plans.release_cached()
    assert plans._RELEASABLE == [] and ok.released
    assert any(
        "RuntimeError" in r.getMessage()
        and "block manager gone" in r.getMessage()
        for r in caplog.records
    )
