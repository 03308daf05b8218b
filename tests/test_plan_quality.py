"""Physical-plan regression tests — the scale posture, asserted.

At 100 TB the difference between a partition-pruned scan and a full scan, or
between a broadcast join and a nested-loop join, is the difference between a
query and an outage. These tests pin the plan properties the engine relies
on, via ``explain`` output:

- engine reads prune ``time_bucket`` partitions (the reference's level
  pruning, level_info.rs:98-111, done by Catalyst);
- analytic predicates and column pruning reach the parquet scan;
- dimension joins broadcast, and no plan degenerates into a cartesian
  product;
- metadata-only multimodal queries never read the payload bytes.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from helixdb_spark.engine import HelixOptions, HelixSpark
from helixdb_spark.sources import load_table


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def kv_db(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("plan_db"))
    db = HelixSpark.open(
        spark, base, HelixOptions(rick_range=100, outdate_range=1 << 40, auto_maintain=False)
    )
    db.put([(t, f"k{k}".encode(), b"v") for t in range(0, 500, 50) for k in range(4)])
    return db


def test_scan_prunes_time_bucket_partitions(kv_db):
    plan = plan_of(kv_db.scan((120, 180)))
    assert "PartitionFilters" in plan
    # bucket range [1, 1] derived from ts range [120, 180] with rick_range=100
    assert "time_bucket" in plan.split("PartitionFilters", 1)[1][:300]


def test_small_scan_sorts_in_the_dedup_partition(kv_db, monkeypatch):
    """An ordered scan whose files fit ``SCAN_ONE_TASK_SORT_BYTES`` sorts
    inside the dedup's partition: the dedup exchange is the only one. Over
    the threshold (forced to zero bytes) the range-partitioned sort is
    back. An unordered scan is never coalesced."""
    import re

    from helixdb_spark import comparators, engine

    plan = plan_of(kv_db.scan((0, 499)))
    assert "rangepartitioning" not in plan.lower()
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "Coalesce" not in plan_of(kv_db.scan((0, 499), comparator=comparators.NO_ORDER))
    monkeypatch.setattr(engine, "SCAN_ONE_TASK_SORT_BYTES", 0)
    plan = plan_of(kv_db.scan((0, 499)))
    assert plan.lower().count("rangepartitioning") == 1


def test_get_plan_prunes_and_pushes_key(kv_db):
    # the plan get / get_many collect: one probe (ts 120 -> bucket 1)
    plan = plan_of(kv_db._point_df({(120, b"k1")}))
    assert "PartitionFilters" in plan
    assert "time_bucket" in plan.split("PartitionFilters", 1)[1][:300]
    pushed = plan.split("PushedFilters", 1)[1][:200]
    assert "key" in pushed  # key equality reaches the parquet scan


def test_cold_read_prunes_generations(spark, tmp_path):
    """The manifest predicate on the cold store is a PARTITION filter on
    (gen, time_bucket): superseded and uncommitted generation dirs are
    pruned at planning time, never opened. This is what makes the
    write-new-then-flip commit free on the read path."""
    base = str(tmp_path / "gen_db")
    db = HelixSpark.open(
        spark, base, HelixOptions(rick_range=10, outdate_range=1 << 40, auto_maintain=False)
    )
    db.put([(t, b"k", str(t).encode()) for t in range(10)])
    db.compact(0, 9)                      # gen=0
    db.put([(5, b"k", b"late")])
    db.compact(0, 9)                      # gen=1 supersedes gen=0
    plan = plan_of(db._cold_df())
    assert "PartitionFilters" in plan
    part = plan.split("PartitionFilters", 1)[1][:400]
    assert "gen" in part and "time_bucket" in part


def test_q1_pushdown_and_column_pruning(spark, sf_dir):
    from helixdb_spark.plans import tpch

    plan = plan_of(tpch.q1_pricing_summary(spark, sf_dir))
    pushed = plan.split("PushedFilters", 1)[1]
    assert "l_shipdate" in pushed[:200]
    read_schema = plan.split("ReadSchema", 1)[1][:400]
    # only the 7 needed columns, not the 16-column lineitem
    assert "l_orderkey" not in read_schema
    assert "l_comment" not in read_schema


def test_tpch_joins_broadcast_no_cartesian(spark, sf_dir):
    from helixdb_spark.plans import tpch

    for name in ("q3_shipping_priority", "q5_local_supplier_volume", "q18_large_orders"):
        plan = plan_of(tpch.QUERIES[name](spark, sf_dir))
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_mm_metadata_filter_never_reads_payload(spark, sf_dir):
    from helixdb_spark.plans import media

    plan = plan_of(media.mm_metadata_filter(spark, sf_dir))
    read_schema = plan.split("ReadSchema", 1)[1][:300]
    # the payload synthesis derives from text, but the grouped metadata
    # aggregate must not carry the payload binary column itself
    assert "payload" not in read_schema


def test_shingle_explode_not_duplicated_below_exchange(spark, sf_dir):
    """Regression for the InferFiltersFromGenerate pathology: the shingling
    expression must appear in the post-shuffle Generate/Project, not in a
    Filter pushed below the spread Exchange (which would re-evaluate it
    serially on the narrow pre-shuffle side)."""
    from helixdb_spark.operators import dedup

    # Other tests persist the shingled corpus; the cache manager would
    # substitute that InMemoryRelation (whose description embeds the
    # shingling expressions) into this plan and confuse the string checks.
    spark.catalog.clearCache()
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.doc_shingles(docs)
    plan = plan_of(sh.select("doc_id", F.explode("shingles").alias("s")))
    # Detail blocks print in node order (leaf first). A filter pushed below
    # the Exchange would place its regexp expression before the Exchange's
    # detail header "(N) Exchange"; a healthy plan evaluates the shingling
    # in a Project after it. Positional parse is robust to the scan being an
    # InMemoryTableScan when another test has cached `documents`.
    detail = plan.split("== Physical Plan ==", 1)[-1]
    ex_detail = detail.rindex(") Exchange")
    assert "regexp_replace" not in detail[:ex_detail]


def test_chunking_is_shuffle_free_before_sort(spark, sf_dir):
    """chunk_windows must not shuffle between the scan and the chunk
    explode: the only exchanges allowed are the deliberate spread
    repartition and the final presentation sort. At 100 TB the chunking
    stage pipelines inside the scan's tasks."""
    from helixdb_spark.operators import chunking

    spark.catalog.clearCache()
    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(chunking.chunk_windows(docs))
    detail = plan.split("== Physical Plan ==", 1)[-1]
    # no hash shuffle anywhere; range partitioning only for the final
    # presentation sort; the spread's RoundRobin is the one other exchange
    assert "hashpartitioning" not in detail.lower()
    assert detail.lower().count("rangepartitioning") <= 1
    # the regex split must not be evaluated below the spread Exchange
    # (a pushed-down filter would re-run it serially on the narrow side)
    rr = detail.find("RoundRobinPartitioning")
    assert rr != -1 and "regexp_replace" not in detail[:rr]


def test_pack_contexts_single_shuffle(spark, sf_dir):
    """pack_contexts needs exactly one data shuffle (on the group key) —
    the running-sum window and the per-(group,bin) aggregate must reuse
    that partitioning instead of re-exchanging."""
    from helixdb_spark.operators import chunking

    spark.catalog.clearCache()
    docs = load_table(spark, sf_dir, "documents")
    df = chunking.pack_contexts(docs).sortWithinPartitions("source", "bin_id")
    plan = plan_of(df)
    detail = plan.split("== Physical Plan ==", 1)[-1]
    hash_exchanges = detail.lower().count("hashpartitioning")
    assert hash_exchanges <= 1, f"{hash_exchanges} hash exchanges:\n{detail[:800]}"


def test_default_engine_read_path_is_pure_jvm(kv_db):
    """With the default codec registry (no custom dispatch, no blobs ever
    written) neither compact's output nor the scan-after-compact plan may
    contain a Python evaluation node: the UDCF hooks are pay-for-use
    (reference runs its noop codec unconditionally; we skip Python
    entirely)."""
    kv_db.compact(0, 99)
    plan = plan_of(kv_db.scan((0, 499)))
    assert "Python" not in plan  # no ArrowEvalPython / BatchEvalPython
    assert "Window" not in plan  # LWW dedup is a hash aggregate, not a window


def test_kmeans_assignment_is_shuffle_free(spark):
    """Small-k centroid assignment must be a pure projection (argmin over
    literal centroids): no Exchange beyond AQE's reused scan output and no
    per-point window shuffle."""
    from helixdb_spark.operators.similarity import kmeans_assign

    pts = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(F.rand(seed=1), F.rand(seed=2)).alias("embedding"),
    )
    plan = plan_of(kmeans_assign(pts, [(0, [0.0, 0.0]), (1, [1.0, 1.0])]))
    assert "Exchange" not in plan
    assert "Window" not in plan


def test_simhash_fingerprints_single_exchange(spark, sf_dir):
    """The fingerprint fold is document-local: the only Exchange in the
    plan is the spread repartition that fans the narrow input out to the
    cores."""
    from helixdb_spark.operators.dedup import simhash_fingerprints

    import re

    plan = plan_of(simhash_fingerprints(load_table(spark, sf_dir, "documents")))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 1


def test_simhash64_fingerprints_single_exchange(spark, sf_dir):
    """The 64-bit (corpus-scale) configuration keeps the same plan shape:
    two document-local half-folds in one projection, no extra Exchange —
    widening the fingerprint must not add a shuffle."""
    from helixdb_spark.operators.dedup import simhash_fingerprints

    import re

    df = simhash_fingerprints(load_table(spark, sf_dir, "documents"), bits=64)
    assert set(df.columns) == {"doc_id", "sim_lo", "sim_hi"}
    plan = plan_of(df)
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 1


def test_repetition_metrics_shuffle_only_for_output_order(spark, sf_dir):
    """Gopher repetition signals are document-local: spread + the final
    orderBy range exchange are the only shuffles (no per-gram groupBy)."""
    from helixdb_spark.operators.text_analysis import repetition_metrics

    import re

    plan = plan_of(repetition_metrics(load_table(spark, sf_dir, "documents")))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 2
    assert "HashAggregate" not in plan  # nothing aggregates across rows


def test_scene_change_groupby_reuses_window_partitioning(spark, sf_dir):
    """Scene detection after the frame decode is one shuffle: the lag
    window hashes on doc_id and the scene-count groupBy reuses that exact
    partitioning — adding the aggregate must not add an Exchange."""
    import re

    from helixdb_spark.operators import multimodal as mm

    media = mm.synthesize_media(load_table(spark, sf_dir, "documents"))
    plan = plan_of(mm.scene_changes(mm.sample_frames(media, stride=1)))
    # spread fan-out + the doc_id hash exchange for the window; nothing else
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 2


def test_hll_registers_partial_aggregate(spark, sf_dir):
    """The HLL register fold must partially aggregate before its exchange —
    each input partition emits ≤ m register rows, so the shuffle volume is
    O(m · partitions) regardless of input size. Same pin for the grouped
    (mergeable) form."""
    from helixdb_spark.operators import sketches as sk

    ev = load_table(spark, sf_dir, "events")
    for df in (sk.hll_registers(ev, "user_id"), sk.hll_registers_by(ev, "event_type", "user_id")):
        plan = plan_of(df)
        pre_exchange = plan.split("Exchange", 1)[0]
        assert "HashAggregate" in pre_exchange  # map-side combine before shuffle


def test_no_unintended_nested_loops_in_graded_queries(spark, sf_dir):
    """Sweep every batch graded query's physical plan: CartesianProduct is
    never acceptable; BroadcastNestedLoopJoin only where it is the point —
    1-row scalar-aggregate broadcasts (q11, q22) and the deliberately
    brute-force verification tiers (ANN / embedding cosine), whose loop side
    is a broadcast small enough to be a design choice, not an accident."""
    import __spark_entry__ as entrymod

    ALLOWED_BNLJ = {
        "ann_bruteforce_topk",
        "ann_sq8_topk",  # full-scan-over-codes is the SQ8 design point:
        # |Q|-row query broadcast against the byte-code table
        "ann_ivf_topk",
        "ann_ivf_persisted",  # same k-row coarse-centroid broadcast as ivf_topk
        "ann_ivf_appended",  # same k-row coarse-centroid broadcast as ivf_topk
        "ann_ivf_multiprobe",  # same k-row coarse-centroid broadcast as ivf_topk
        "ann_ivfpq_topk",  # same k-row coarse-centroid broadcast as ivf_topk
        # (corpus + query routing), feeding the residual PQ encode
        "ev_ols_trend",  # 1-row day-span broadcast into the dense grid
        "sketch_hll_intersection",  # 1-row exact-audit broadcast cross join
        "curate_epoch_schedule",  # 1-row corpus-total broadcast cross join
        "text_bigram_lm_score",  # 1-row vocab-size aggregate broadcast
        "ann_recall_audit",  # brute-force truth tier + 1-row possible broadcast
        "ann_appended_drift_audit",  # brute truth tier + k-row centroid
        # routing + 1-row possible broadcast (the recall-audit shape)
        "dedup_embedding_cosine",
        "q11_important_parts",
        "q22_rich_without_orders",
        "ev_funnel",  # stage counts: three 1-row aggregates cross-joined
        "text_tfidf",  # 1-row corpus-size aggregate broadcast
        "ev_gapfill_locf",  # dense grid = tiny hour sequence x tiny type set
        "kv_asof_probes",  # keys x 3-row probe-instant broadcast
        "ev_value_histogram",  # 1-row min/max span broadcast
        "ev_rfm_scores",  # 1-row ref-instant + 1-row quintile-boundary broadcasts
        "sample_temperature_mix",  # 1-row corpus-total broadcast
        "curate_dsir_importance",  # 1-row token-total broadcast into the
        # per-bucket log-ratio table
        "curate_balanced_shards",  # 1-row corpus-token-total broadcast
        "curate_probe_outliers",  # 1-row probe-coefficient broadcast
        "text_bm25_search",  # 1-row N/avgdl corpus-stats broadcast
        "text_lm_score",  # 1-row corpus-total/vocab-size broadcast
        "emb_covariance",  # 1-row n broadcast into the cov finisher
        "ev_rollup_incremental",  # 1-row max-ts cutoff broadcast
        "sketch_hll_distinct",  # 1-row estimate x 1-row exact-count broadcast
        "sketch_bloom_probe",  # 1-row collected-bitset broadcast to the probe side
        "sketch_hist_quantiles",  # 1-row min/max/n stats broadcast into binning
        "bloom_join_urgent_revenue",  # 1-row bloom-sketch broadcast onto the fact side
        "nation_trade_pagerank",  # 1-row dangling-mass broadcast per iteration
        "validate_orders",  # 1-row total-count broadcast into the FK report row
        "text_collocations",  # 1-row N1/N2 token-total broadcasts into PMI
        "basket_part_lift",  # 1-row n_orders broadcast into the lift finisher
        "ann_truncated_recall",  # two brute-force tiers (truth + truncated)
        "ev_decayed_value",  # 1-row max-ts reference-instant broadcast
        "ann_pq_recall_audit",  # exact-L2 brute truth tier vs the PQ codes
        "sketch_hll_sliding",  # 256-row register grid broadcast + the
        # trailing-window exact-audit range join over the tiny day list
        "ann_filtered_topk",  # the brute-force tier over the metadata-
        # filtered corpus: |Q|-row query broadcast, the design point
        "ann_ivfpq_recall_audit",  # brute truth tier + the two quantizer
        # tiers' k-row/1-row broadcasts + 1-row possible broadcast
        "curate_ppl_buckets",  # rides text_bigram_lm_score's 1-row
        # vocab-size aggregate broadcast
        "nation_trade_linkpred",  # 1-row edge-mean (t, m) broadcast into
        # the strong-backbone threshold
        "ev_autocorr",  # 1-row global-moment broadcast + 7-row lag fan-out
        "ev_periodogram",  # 1-row global-moment broadcast + 9-row period
        # fan-out
        "hybrid_rrf_search",  # the two top-20 retriever tiers' design-point
        # broadcasts (brute |Q|=1 tier + BM25's 1-row corpus stats)
        "knn_graph_descent",  # sampled brute truth tier + 1-row n_vecs /
        # possible broadcasts (the recall-audit shape)
        "emb_jl_distortion",  # bounded sample-pair audit tier: the 10% id
        # sample crossed with itself is the measurement, not the operator
        "ann_ivfpq_rerank",  # rides ann_ivfpq_topk's allowlisted coarse-
        # centroid broadcast; the re-rank stage itself is equi-keyed
        "text_source_kl",  # 1-row corpus-token-total broadcast (replaced
        # the unpartitioned window sum over the vocab — r9)
        "ann_ivf_share_drift",  # 1-row (fit-total, newest-total) broadcast
        # into the per-list TV terms + the IVF family's k-row centroid
        # routing broadcast (r9)
        "ann_drift_refit",  # final probe rides the same ivf_share_drift /
        # coarse-routing broadcasts after the in-pass re-fit (r9)
        "text_kn_lm_score",  # 1-row N1+(.,.) bigram-type-total broadcast
        # into the continuation-probability terms (r9)
        "curate_hard_negatives",  # |Q|-row query broadcast against the
        # corpus — the brute mining tier's design point (r9)
        "curate_unigram_sampler",  # 1-row head-total broadcast into the
        # p/cdf ratios (r9)
        "curate_dataset_card",  # 1-row duplicate-count broadcast into the
        # one-row card (r9)
        "ev_seasonal_naive_mase",  # 1-row calendar-span broadcast into the
        # per-type dense day grid (the ev_ols_trend shape — r10)
    }
    # streaming queries execute on construction; dedup_clusters and
    # emb_kmeans run their iterative jobs on construction — covered by
    # their own tests (kmeans' k-row centroid broadcast is the map-side
    # assignment design, not an accident)
    # dedup_semantic runs the same Lloyd jobs on construction; its pair
    # stage is asserted equi-join (not BNLJ) in test_pipeline_ops
    # dedup_canonical reuses dedup_clusters' iterative closure on
    # construction; its election window and joins are equi by construction
    # emb_power_iteration runs its matvec rounds on construction (d-float
    # driver state per round, the kmeans discipline)
    SKIP = {
        "dedup_clusters",
        "dedup_canonical",
        "emb_kmeans",
        "dedup_semantic",
        "emb_power_iteration",
        "emb_pca_scores",  # runs the eigenvector build on construction
        "emb_pc1_removed",  # same eigenvector build on construction
        "emb_kmeans_sampled",  # runs the sampled Lloyd fit on construction
        "curate_dedup_savings",  # reuses dedup_canonical's iterative
        # closure on construction (same reason dedup_canonical is skipped)
    }
    qs = entrymod.queries()
    offenders = []
    for name, fn in sorted(qs.items()):
        if name.startswith("stream_") or name in SKIP:
            continue
        df = fn(spark, sf_dir)
        plan = plan_of(df)
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in ALLOWED_BNLJ:
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert not offenders, offenders


def test_phash_candidate_join_is_equi_shuffle(spark, sf_dir):
    """The pHash block-LSH candidate stage must be an equi-join on the
    block key (shuffle or broadcast HASH join) — never a nested loop over
    fingerprints — and the fingerprint pass is the only Python node."""
    from helixdb_spark.operators import multimodal as mm

    spark.catalog.clearCache()
    media = mm.synthesize_media(load_table(spark, sf_dir, "documents"))
    plan = plan_of(mm.phash_candidate_degree(mm.perceptual_hash(media)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("ArrowEvalPython") + plan.count("MapInPandas") >= 1


def test_ev_percentiles_partial_aggregates(spark, sf_dir):
    """Exact percentile is an ImperativeAggregate with map-side partials:
    one hash exchange on event_type plus the presentation sort — no window
    and no extra shuffle."""
    from helixdb_spark.plans import events

    import re

    plan = plan_of(events.ev_percentiles(spark, sf_dir))
    assert "Window" not in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 2


def test_wide_projection_takes_arrow_branch(spark, sf_dir):
    """emb_wide_projection exists to GRADE the >BROADCAST_DIM_THRESHOLD
    vector_dot branch: its plan must carry the Arrow pandas-UDF eval, not
    an inlined literal fold."""
    from helixdb_spark.plans.pipeline import emb_wide_projection

    plan = (
        emb_wide_projection(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan


def test_entity_pagerank_exceeds_driver_threshold_at_sf001(spark):
    """supplier_customer_pagerank exists to GRADE pagerank's distributed
    branch: at the driver's grading scale (sf0.01) the node count must
    exceed SMALL_GRAPH_DRIVER_NODES so the iteration runs distributed."""
    import os

    from helixdb_spark.operators.graph import SMALL_GRAPH_DRIVER_NODES
    from helixdb_spark.plans.tpch import CUST_NODE_OFFSET
    from helixdb_spark.sources import load_table

    sf01 = "/root/testdata/sf0.01"
    if not os.path.isdir(sf01):
        import pytest

        pytest.skip("sf0.01 testdata not present")
    li = load_table(spark, sf01, "lineitem")
    orders = load_table(spark, sf01, "orders")
    n_nodes = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("l_suppkey").cast("long").alias("node")
        )
        .unionByName(
            orders.select(
                (F.col("o_custkey").cast("long") + F.lit(CUST_NODE_OFFSET)).alias("node")
            )
        )
        .distinct()
        .count()
    )
    assert n_nodes > SMALL_GRAPH_DRIVER_NODES


def test_no_unpartitioned_window_over_unbounded_input(spark, sf_dir):
    """Sweep every batch graded query's OPTIMIZED LOGICAL plan: a Window
    with an empty partitionSpec executes as Exchange SinglePartition ->
    one task sorting the whole input — acceptable only when the input is
    provably row-bounded (a GlobalLimit/LocalLimit below it, a grouping-
    free 1-row aggregate, literal local data, or compositions of those
    through row-preserving operators). The top-k discipline: orderBy()
    .limit(k) FIRST (distributed TakeOrderedAndProject), then number the
    k survivors — never row_number over the corpus (r8 verdict item 4)."""
    import __spark_entry__ as entrymod

    # constant-bounded inputs the rule cannot see through a grouped
    # aggregate: each justified individually
    ALLOWED = {
        "sketch_hist_quantiles",  # cumulative sum over groupBy(bin) where
        # bin = least(bins-1, ...) — at most HIST_BINS (constant) rows
    }
    SKIP = {
        "dedup_clusters", "dedup_canonical", "emb_kmeans", "dedup_semantic",
        "emb_power_iteration", "emb_pca_scores", "emb_pc1_removed",
        "emb_kmeans_sampled", "curate_dedup_savings",
    }

    PASS_THROUGH = {
        "Project", "Filter", "Sort", "Window", "SubqueryAlias",
        "Repartition", "RepartitionByExpression", "RepartitionOperation",
        "Distinct", "Deduplicate", "Generate", "ResolvedHint", "WithCTE",
        "CTERelationDef", "Expand",
    }
    BOUNDED_LEAF = {"GlobalLimit", "LocalLimit", "LocalRelation",
                    "OneRowRelation"}

    def children(node):
        ch = node.children()
        return [ch.apply(i) for i in range(ch.length())]

    def bounded(node) -> bool:
        cls = node.getClass().getSimpleName()
        if cls in BOUNDED_LEAF:
            return True
        if cls == "Aggregate":
            return node.groupingExpressions().isEmpty() or bounded(
                children(node)[0]
            )
        if cls in ("Join", "Union"):
            return all(bounded(c) for c in children(node))
        if cls in PASS_THROUGH:
            kids = children(node)
            return bool(kids) and all(bounded(c) for c in kids)
        return False  # leaf relations (parquet scans), anything unknown

    def walk(node):
        yield node
        for c in children(node):
            yield from walk(c)

    qs = entrymod.queries()
    offenders = []
    for name, fn in sorted(qs.items()):
        if name.startswith("stream_") or name in SKIP:
            continue
        plan = fn(spark, sf_dir)._jdf.queryExecution().optimizedPlan()
        for n in walk(plan):
            if (
                n.getClass().getSimpleName() == "Window"
                and n.partitionSpec().isEmpty()
                and not bounded(children(n)[0])
                and name not in ALLOWED
            ):
                offenders.append(name)
                break
    assert not offenders, offenders


def test_events_product_sums_are_documented_bounded():
    """Every inline ``F.sum(col * col)`` product sum in plans/events.py
    must carry a ``bounded:`` comment (or route through
    ``bounded_moment_sum``/``bounded_square_sum``): an undocumented
    long-typed product sum is how int64 silently wraps at 100 TB (the
    r10/r11 moment-sum sweep, closed in r12)."""
    import re
    from pathlib import Path

    import helixdb_spark.plans.events as events_mod

    src = Path(events_mod.__file__).read_text().splitlines()
    offenders = []
    for i, line in enumerate(src):
        if re.search(r"F\.sum\(F\.col\(.*\) \* F\.col\(", line):
            window = "\n".join(src[max(0, i - 8): i])
            if "bounded:" not in window:
                offenders.append(f"events.py:{i + 1}: {line.strip()}")
    assert not offenders, offenders
