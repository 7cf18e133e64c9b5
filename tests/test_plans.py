"""Physical-plan shape tests: the 100 TB guardrails.

Correctness tests can't see a de-optimization — a filter that stops reaching
the scan or a broadcast that silently becomes a shuffle returns the same
rows, just 100× slower at cluster scale. These tests pin the plan properties
each operator was designed around, using the explain-text inspectors in
``iceberg_explorer_spark.plans.inspect``.

Plans are built at sf0.001 — plan SHAPE (pushdown, pruning, join strategy
chosen from stats, partial aggregation) is what's asserted, and broadcast
thresholds comfortably cover every dim table at any test scale.
"""

from __future__ import annotations

import pytest

from iceberg_explorer_spark.operators import QUERIES
from iceberg_explorer_spark.plans import inspect as pi

from .conftest import SF_DIR_SMALL


def build(spark, name):
    return QUERIES[name].builder(spark, SF_DIR_SMALL)


def test_filter_projection_pushdown_and_pruning(spark):
    df = build(spark, "filter_projection")
    pushed = " ".join(pi.pushed_filters(df))
    assert "o_orderstatus" in pushed and "o_totalprice" in pushed
    # 4 output columns + the filter-only o_orderstatus/... — but never the
    # full 9-column orders schema
    cols = pi.scan_columns(df, "orders.parquet")
    assert cols == {
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate",
    }
    assert pi.shuffle_count(df) == 0


def test_pricing_summary_one_shuffle_partial_agg(spark):
    df = build(spark, "pricing_summary")
    assert pi.shuffle_count(df) == 1  # exactly the groupBy exchange
    assert pi.has_partial_aggregate(df)  # map-side combine before it
    assert "l_shipdate" in " ".join(pi.pushed_filters(df))
    assert "l_orderkey" not in pi.scan_columns(df, "lineitem.parquet")


def test_join_revenue_by_nation_broadcasts_dims(spark):
    df = build(spark, "join_revenue_by_nation")
    # customer/nation/region (and the orders build side) broadcast — the
    # fact table is never shuffled for the join, only the final groupBy
    assert pi.broadcast_join_count(df) >= 3
    assert pi.sort_merge_join_count(df) == 0
    assert pi.shuffle_count(df) <= 1
    assert pi.has_partial_aggregate(df)


def test_topk_is_not_a_global_sort(spark):
    df = build(spark, "topk_orders")
    assert "TakeOrderedAndProject" in pi.physical_plan(df)


def test_dedup_exact_shuffles_digest_not_text(spark):
    df = build(spark, "dedup_exact")
    assert pi.shuffle_count(df) == 1
    assert pi.has_partial_aggregate(df)
    # only the two needed columns leave the scan
    assert pi.scan_columns(df, "documents.parquet") == {"doc_id", "text"}


def test_minhash_lsh_shuffle_budget(spark):
    # shingle hash → sig groupBy, band groupBy, pair groupBy: the linear
    # pipeline needs ≤3 KEY shuffles and no join at all (bucket grouping,
    # not a bands⋈bands self-join). The round-robin compute spread on the
    # single-split scan is excluded — it's parallelism, not data movement.
    # Pin the RAW pipeline (the registered query serves from the shared
    # checkpoint, whose plan is just the materialized scan).
    from iceberg_explorer_spark.operators.dedup import lsh_candidates

    df = lsh_candidates(spark, SF_DIR_SMALL)
    assert pi.key_shuffle_count(df) <= 3
    assert pi.sort_merge_join_count(df) == 0
    assert pi.broadcast_join_count(df) == 0


def test_ngram_jaccard_candidate_broadcast_is_gated(spark):
    df = build(spark, "dedup_ngram_jaccard")
    # SIZE-GATED, not hint-forced: no compile-time broadcast hint anywhere
    # (candidate pairs grow with the corpus — an unconditional hint is the
    # 100 TB failure mode), yet the planner still picks broadcast for the
    # pair joins at test scale from the candidate checkpoint's stats
    assert pi.broadcast_hint_count(df) == 0
    assert pi.broadcast_join_count(df) >= 1


def test_containment_candidate_broadcast_is_gated(spark):
    df = build(spark, "dedup_containment")
    # same discipline as the Jaccard verifier it shares its set build
    # with: size-gated, never hint-forced — candidate pairs grow with
    # the corpus
    assert pi.broadcast_hint_count(df) == 0
    assert pi.broadcast_join_count(df) >= 1

def test_containment_probe_is_hint_free_and_bounded(spark):
    df = build(spark, "dedup_containment_probe")
    # the df table and probe hits are corpus-proportional: nothing may be
    # hint-forced to broadcast; fanout is bounded by PROBE_DF_CAP instead
    assert pi.broadcast_hint_count(df) == 0


def test_overlap_spectrum_composes_checkpoints_one_verify(spark):
    df = build(spark, "dedup_overlap_spectrum")
    plan = pi.physical_plan(df)
    # same gating discipline as the verify it composes: candidate pairs
    # grow with the corpus, so nothing is hint-forced to broadcast
    assert pi.broadcast_hint_count(df) == 0
    # ONE verify pass over the unioned candidates: the spectrum plan
    # carries exactly as many array_intersect expression sites as a
    # SINGLE-generator verify (the plan text prints the expression at its
    # Project and pushed-Filter nodes) — re-verifying per generator
    # would double it
    single = pi.physical_plan(build(spark, "dedup_containment"))
    assert plan.count("array_intersect") == single.count("array_intersect")
    # both generator pipelines are consumed as materialized checkpoints —
    # no minhash band or probe-window rebuild inside the spectrum plan
    assert "Scan ExistingRDD" in plan

def test_similarity_bruteforce_broadcasts_query_vector(spark):
    df = build(spark, "similarity_bruteforce_topk")
    assert pi.broadcast_join_count(df) >= 1
    assert pi.shuffle_count(df) == 0  # single pass + TakeOrdered
    assert "TakeOrderedAndProject" in pi.physical_plan(df)


def test_ivf_assignment_broadcasts_centroids(spark):
    df = build(spark, "similarity_ivf_topk")
    # centroids, probe lists and the query vector all broadcast; the corpus
    # is shuffled only by the per-vector rank window
    assert pi.broadcast_join_count(df) >= 3
    assert pi.sort_merge_join_count(df) == 0


def test_ivf_balance_one_agg_shuffle_broadcast_total(spark):
    df = build(spark, "similarity_ivf_balance")
    # same broadcast assignment as the top-k query (centroids + the 1-row
    # total); the data-bearing KEY shuffles are the per-vector rank window
    # and the partial-aggregated groupBy(cid) — the third counted exchange
    # is the global corpus-count's SinglePartition merge of one partial
    # row per partition (O(partitions), not O(rows); the total reads the
    # scan, NOT the rank window). The corpus never shuffles for
    # assignment and the output is O(K) rows.
    assert pi.broadcast_join_count(df) >= 2
    assert pi.sort_merge_join_count(df) == 0
    assert pi.key_shuffle_count(df) <= 3
    assert pi.has_partial_aggregate(df)


def test_semi_and_anti_joins_stay_joins(spark):
    for name in ("semi_join_active_customers", "anti_join_idle_customers"):
        plan = pi.physical_plan(build(spark, name))
        assert "Semi" in plan or "Anti" in plan


@pytest.mark.parametrize(
    "name",
    ["pricing_summary", "filter_projection", "join_revenue_by_nation",
     "dedup_exact", "text_token_count"],
)
def test_hot_paths_are_codegen(spark, name):
    # the scan→project→filter→partial-agg pipeline must sit inside
    # WholeStageCodegen regions, not fall back to interpreted mode. Adaptive
    # plans only materialize their codegen'd stages on execution, and a
    # .write wraps the plan in a NEW query execution — collect() is the
    # action that finalizes the DataFrame's own plan.
    df = build(spark, name)
    df.collect()
    assert pi.whole_stage_codegen_spans(df) >= 1


def test_bucketed_join_no_shuffle(spark):
    """Co-located bucketed tables join WITHOUT any exchange: the standing-
    workload shape for fact⋈fact joins (SCALE.md). Both sides bucketed+
    sorted by the join key → SortMergeJoin, zero shuffles."""
    from iceberg_explorer_spark.sources.layout import bucketed_write
    from iceberg_explorer_spark.sources.registry import load_table

    lo, li = "bucketed_orders", "bucketed_lineitem"
    bucketed_write(
        spark, load_table(spark, SF_DIR_SMALL, "orders"), lo, "o_orderkey", 8
    )
    try:
        bucketed_write(
            spark, load_table(spark, SF_DIR_SMALL, "lineitem"), li, "l_orderkey", 8
        )
        lt = spark.table(lo).hint("merge")
        rt = spark.table(li)
        df = lt.join(rt, lt.o_orderkey == rt.l_orderkey)
        assert pi.sort_merge_join_count(df) == 1
        assert pi.shuffle_count(df) == 0
        # and it actually runs
        assert df.count() > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {lo}")
        spark.sql(f"DROP TABLE IF EXISTS {li}")


def test_explode_word_frequencies_combines_before_shuffle(spark):
    """The explode multiplies rows ~100x; the partial count must collapse
    them inside the scan stage so the shuffle carries (word, count) pairs,
    and the top-50 must be a heap-merge, not a global sort."""
    df = build(spark, "explode_word_frequencies")
    assert pi.shuffle_count(df) == 1
    assert pi.has_partial_aggregate(df)
    assert "TakeOrderedAndProject" in pi.physical_plan(df)
    assert pi.scan_columns(df, "documents.parquet") == {"text"}


def test_conditional_agg_single_pass(spark):
    """All FILTER-clause branches fold into one scan + one agg — never a
    join of N filtered subqueries."""
    df = build(spark, "conditional_agg_order_status")
    assert pi.shuffle_count(df) == 1
    assert pi.has_partial_aggregate(df)
    assert pi.broadcast_join_count(df) == 0
    assert pi.sort_merge_join_count(df) == 0


def test_window_range_frame_one_shuffle(spark):
    df = build(spark, "window_range_moving_revenue")
    assert pi.shuffle_count(df) == 1  # the partitionBy(o_custkey) exchange
    cols = pi.scan_columns(df, "orders.parquet")
    assert cols == {"o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"}


def test_scalar_subqueries_are_decorrelated(spark):
    """Catalyst must rewrite both correlated scalar subqueries into
    aggregate + join — the plan has a bounded shuffle budget instead of
    per-row subquery re-execution (no Subquery nodes survive)."""
    df = build(spark, "scalar_subquery_nation_stats")
    plan = pi.physical_plan(df)
    assert "Subquery" not in plan
    # one agg shuffle per decorrelated subquery; nation stays broadcast
    assert pi.shuffle_count(df) <= 2
    assert pi.broadcast_join_count(df) >= 1


def test_token_shards_prefix_is_two_phase(spark):
    """The corpus-wide prefix-sum window must partition on (source, blk),
    never on the ~8-value source alone — one hot source must not serialize
    the sort onto a single reducer. The per-row rescan window is the one
    ordered by doc_id; the offsets window (ordered by blk) runs over the
    tiny subtotal table only."""
    import re

    df = build(spark, "pipeline_token_shards")
    plan = pi.physical_plan(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    row_specs = [s for s in specs if "doc_id" in s]
    assert row_specs, f"expected a per-row rescan window in:\n{plan}"
    for s in row_specs:
        assert "blk" in s, f"corpus window partitions by source alone: {s}"


def test_sequence_pack_prefix_is_two_phase(spark):
    """pipeline_sequence_pack rides the same two-phase prefix sum as
    token_shards: the per-row rescan window must partition on (source, blk),
    never on source alone."""
    import re

    df = build(spark, "pipeline_sequence_pack")
    plan = pi.physical_plan(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    row_specs = [s for s in specs if "doc_id" in s]
    assert row_specs, f"expected a per-row rescan window in:\n{plan}"
    for s in row_specs:
        assert "blk" in s, f"corpus window partitions by source alone: {s}"


def test_global_shuffle_rank_is_two_phase(spark):
    """The global rank in pipeline_global_shuffle must come from
    block-partitioned row_numbers plus a tiny offset table — any window that
    orders corpus rows by the hash key must be partitioned by blk; only the
    offsets window (over <=256 subtotal rows) may be unpartitioned."""
    import re

    df = build(spark, "pipeline_global_shuffle")
    plan = pi.physical_plan(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    key_specs = [s for s in specs if re.search(r"\bk#", s)]
    assert key_specs, f"expected a hash-key rank window in:\n{plan}"
    for s in key_specs:
        assert "blk" in s, f"corpus rank window lacks blk partitioning: {s}"
    # the total-count side joins in as a broadcast, never a shuffle
    assert pi.broadcast_join_count(df) >= 1


def test_train_val_split_is_one_pass(spark):
    """Split assignment is a pure map-side predicate: exactly the one
    (source, split) aggregation exchange, combined map-side."""
    df = build(spark, "pipeline_train_val_split")
    assert pi.shuffle_count(df) == 1
    assert pi.has_partial_aggregate(df)


def test_image_resize_is_map_side(spark):
    """Resize never shuffles: at most the compute-spread repartition ahead
    of the Python stage, no join/agg exchanges."""
    df = build(spark, "multimodal_image_resize")
    assert pi.shuffle_count(df) <= 1
    assert pi.broadcast_join_count(df) == 0
    assert pi.sort_merge_join_count(df) == 0


from contextlib import contextmanager


@contextmanager
def _no_broadcast(spark):
    """Temporarily disable broadcast joins so a plan assertion can't be
    satisfied by a small-scale broadcast that wouldn't exist at 100 TB."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located layout: after bucketed_write of orders and lineitem on
    orderkey, the fact⋈fact equi-join plans with ZERO shuffle Exchange on
    either side — the repeat-workload win the SCALE.md fact⋈fact row
    promises. (Broadcast is disabled for the assertion so the plan can't
    cheat: it must be an exchange-free SortMergeJoin.)"""
    from iceberg_explorer_spark.sources.layout import bucketed_write
    from iceberg_explorer_spark.sources.registry import load_table

    orders = load_table(spark, SF_DIR_SMALL, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    lineitem = load_table(spark, SF_DIR_SMALL, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    bucketed_write(spark, orders, "bkt_orders", "o_orderkey", n_buckets=4)
    bucketed_write(spark, lineitem, "bkt_lineitem", "l_orderkey", n_buckets=4)
    try:
        with _no_broadcast(spark):
            joined = spark.table("bkt_orders").join(
                spark.table("bkt_lineitem"),
                spark.table("bkt_orders").o_orderkey
                == spark.table("bkt_lineitem").l_orderkey,
            )
            assert pi.shuffle_count(joined) == 0, pi.physical_plan(joined)
            assert pi.sort_merge_join_count(joined) == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_lineitem")


def test_bucketed_digest_probe_no_history_shuffle(spark, tmp_path):
    """The day-2 digest probe against the BUCKETED artifact store never
    shuffles history (VERDICT r12 #3 — the executable form of the
    operator docs' 'bucketed digest artifact both days probe'): with the
    digests artifact written bucketed by its probe key ``h``,

    (1) the probe's history side (DISTINCT over the artifact) plans with
        ZERO Exchange — the bucketed scan already satisfies the
        aggregation's distribution; and
    (2) the full exact-stage probe (incremental_exact_flags over a
        day-2 batch, broadcast disabled so the plan can't cheat) plans
        with exactly ONE FEWER shuffle than the same probe over an
        unbucketed parquet copy of the same digests — the eliminated
        exchange is the corpus-sized history side, the one that must
        never move at 100 TB; the remaining shuffles are
        increment-sized (batch key grouping and join alignment).

    Row-equality with the in-session path is pinned by the store
    round-trip test; this pins the layout's plan claim."""
    from iceberg_explorer_spark.operators.dedup import (
        INCR_DAY2_REM,
        INCR_MOD,
        incremental_exact_flags,
    )
    from iceberg_explorer_spark.operators.incremental_artifacts import (
        BucketedArtifactStore,
        _all_batch,
        write_incremental_artifacts,
    )
    from iceberg_explorer_spark.sources.registry import load_table

    # bucket count sized to the session shuffle width — the production
    # rule (sources/layout.py: "choose n_buckets ≈ cluster cores").
    # With FEWER buckets than the shuffle width the probe still never
    # moves history into ITS join (the batch side aligns to the bucket
    # count), but the downstream bmin join re-widens the joined output,
    # re-shuffling increment-sized rows — matched widths avoid that too.
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    store = BucketedArtifactStore(spark, "t_art_plan", n_buckets=n)
    try:
        write_incremental_artifacts(spark, SF_DIR_SMALL, store)
        # the contrast: the same digest rows as a plain (unbucketed)
        # parquet directory
        unbucketed = str(tmp_path / "digests.parquet")
        store.read("digests").write.mode("overwrite").parquet(unbucketed)
        import pyspark.sql.functions as F

        d2 = F.col("doc_id") % INCR_MOD == INCR_DAY2_REM
        batch = load_table(spark, SF_DIR_SMALL, "documents").filter(d2)

        # (1) the history side of the probe: distinct over the bucketed
        # artifact aggregates in place
        hist_distinct = store.read("digests").select("h").distinct()
        assert pi.shuffle_count(hist_distinct) == 0, pi.physical_plan(
            hist_distinct
        )

        with _no_broadcast(spark):
            probe_bucketed = incremental_exact_flags(
                batch,
                history_digests=store.read("digests"),
                batch_pred=_all_batch,
            )
            probe_path = incremental_exact_flags(
                batch,
                history_digests=spark.read.parquet(unbucketed),
                batch_pred=_all_batch,
            )
            n_bucketed = pi.shuffle_count(probe_bucketed)
            n_path = pi.shuffle_count(probe_path)
            # (2) the history exchange is gone, nothing else changed
            assert n_bucketed == n_path - 1, (
                n_bucketed,
                n_path,
                pi.physical_plan(probe_bucketed),
            )
            # and the probes agree on the data
            a = sorted(map(tuple, probe_bucketed.collect()))
            b = sorted(map(tuple, probe_path.collect()))
            assert a == b and a
    finally:
        store.drop()


def test_unigram_logfreq_partial_aggs_and_word_key(spark):
    """Both corpus groupBys (vocab, tf) partial-aggregate map-side, and no
    low-cardinality key ever owns the corpus: every shuffle keys on word /
    (doc_id, word) / doc_id."""
    df = build(spark, "text_unigram_logfreq")
    assert pi.has_partial_aggregate(df)
    plan = pi.physical_plan(df)
    assert "hashpartitioning" in plan
    import re
    for part in re.findall(r"hashpartitioning\(([^)]*)\)", plan):
        assert ("word" in part) or ("doc_id" in part), part


def test_temperature_mix_single_corpus_pass(spark):
    """The corpus is read once: one partial-aggregated shuffle on source,
    then the O(sources) weight frame coalesces (narrow) to one partition
    where the corpus-wide totals are window aggregates — no second scan,
    no second exchange. Pinned by FileScan count, the strongest form of
    'single corpus pass' (the round-3 broadcast-totals shape passed a
    broadcast assertion while scanning the corpus twice)."""
    df = build(spark, "pipeline_temperature_mix")
    assert pi.shuffle_count(df) <= 1
    assert pi.has_partial_aggregate(df)
    assert pi.physical_plan(df).count("FileScan parquet") == 1


def test_mad_outliers_broadcasts_tiny_stats(spark):
    """Both per-type stats tables broadcast back onto the events corpus —
    the corpus shuffles only for the two grouped percentiles + final agg,
    never for the stat joins."""
    df = build(spark, "events_value_outliers_mad")
    assert pi.broadcast_join_count(df) >= 2
    assert pi.sort_merge_join_count(df) == 0


def test_chunk_documents_is_pure_map(spark):
    """Chunking is narrow work: split → sequence-explode → slice, NO
    shuffle and no join — at 100 TB it runs at scan width and chains into
    sequence packing without a repartition."""
    df = build(spark, "pipeline_chunk_documents")
    assert pi.shuffle_count(df) == 0
    assert pi.broadcast_join_count(df) == 0
    assert pi.sort_merge_join_count(df) == 0


def test_user_retention_no_self_join(spark):
    """The cohort day is a window MIN over user_id on the already-distinct
    (user, day) frame — no self-join and no broadcast of the O(users) cohort
    table (users is the big dimension at scale)."""
    df = build(spark, "events_user_retention")
    plan = pi.physical_plan(df)
    assert "Join" not in plan
    assert pi.has_partial_aggregate(df)
    assert pi.shuffle_count(df) <= 3


def test_span_boilerplate_bounded_shuffles(spark):
    """(doc, span) distinct → doc-frequency window on span → per-doc rollup:
    three partial-aggregated shuffles, no join, nothing quadratic."""
    df = build(spark, "dedup_span_boilerplate")
    plan = pi.physical_plan(df)
    assert "Join" not in plan
    assert pi.has_partial_aggregate(df)
    assert pi.shuffle_count(df) <= 3


def test_pq_adc_broadcasts_codebook_and_lut(spark):
    """PQ-ADC (r17 map-side shape, r18 one-subtree map build): the
    codebook and query LUT ride ONE broadcast row as lookup maps; every
    vector encodes and ADC-sums map-side, so the CORPUS path has zero
    key exchanges — scan → spread → map → TakeOrderedAndProject heap.
    Since r18 BOTH maps derive from a single collect_list aggregation
    over the un-fanned seed scan, so the only key shuffle left in the
    plan text is that aggregation's 1-row SinglePartition merge (the
    r17 shape paid a groupBy(key) + a key join + TWO SinglePartition
    merges + a map-map nested-loop cross — four extra AQE stage jobs on
    O(M x K) rows), and exactly ONE broadcast join remains: the 1-row
    map row crossed with the corpus. Never a sort-merge join."""
    df = build(spark, "similarity_pq_adc_topk")
    # the single map-build SinglePartition merge (see docstring);
    # the RoundRobin fan-out spread is excluded by key_shuffle_count
    assert pi.key_shuffle_count(df) <= 1
    assert pi.broadcast_join_count(df) >= 1
    assert pi.sort_merge_join_count(df) == 0
    assert "TakeOrderedAndProject" in pi.physical_plan(df)
    # the corpus is never aggregated/joined for scoring: no Window, no
    # partial-agg of corpus rows above the map stage
    assert pi.physical_plan(df).count("Window [") == 0


def test_bpe_pair_freq_counts_over_vocab_not_corpus(spark):
    """Pair counting runs over the aggregated (word, freq) vocabulary, not
    the raw token stream: two partial-aggregated shuffles, no join, and the
    top-k is a heap merge — so per-merge cost scales with O(vocab)."""
    df = build(spark, "text_bpe_pair_freq")
    assert pi.shuffle_count(df) == 2
    assert pi.has_partial_aggregate(df)
    assert "Join" not in pi.physical_plan(df)
    assert "TakeOrderedAndProject" in pi.physical_plan(df)


def test_incremental_ingest_probes_history_without_rescanning(spark):
    """The historical corpus contributes ONLY its digest column (scan
    pruning pins that) and the batch joins it once — three
    partial-aggregated shuffles total, no cartesian anywhere. At 100 TB the
    digest table is bucketed by hash so the probe join needs no shuffle of
    history at all."""
    df = build(spark, "dedup_incremental_ingest")
    assert pi.shuffle_count(df) <= 3
    assert pi.has_partial_aggregate(df)
    assert "CartesianProduct" not in pi.physical_plan(df)
    assert pi.scan_columns(df, "documents.parquet") <= {
        "doc_id", "source", "text"
    }


def test_kmeans_step_broadcast_assign_one_update_shuffle(spark):
    """Lloyd assignment is map-side against broadcast centroids; the
    centroid update is partial-aggregated on (cid, dim). Per-iteration cost
    at scale = one corpus scan + one bounded shuffle."""
    df = build(spark, "similarity_kmeans_step")
    assert pi.broadcast_join_count(df) >= 1
    assert pi.sort_merge_join_count(df) == 0
    # key shuffles only: the r17 fan-out guard's RoundRobin spread of the
    # narrow scan is excluded (vanishes at scale)
    assert pi.key_shuffle_count(df) <= 2
    assert pi.has_partial_aggregate(df)


def test_resample_gapfill_one_scan_no_join(spark):
    """LEAD-idiom gap fill: the corpus scans ONCE and aggregates to
    O(types × buckets); the lead window + range explode run on that tiny
    frame — two shuffles, no join, and no dense spine ever materializes
    (a spine-join formulation costs a second pruned corpus scan because
    column pruning defeats exchange reuse)."""
    df = build(spark, "events_resample_gapfill")
    plan = pi.physical_plan(df)
    assert pi.shuffle_count(df) <= 2
    assert pi.has_partial_aggregate(df)
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan


def test_lateral_is_decorrelated_to_ranked_join(spark):
    """Catalyst must rewrite the LATERAL per-customer LIMIT into a window/
    join shape — no per-row subquery execution survives in the plan."""
    df = build(spark, "lateral_top_orders")
    plan = pi.physical_plan(df)
    assert "Subquery" not in plan
    assert pi.shuffle_count(df) <= 2


def test_group_by_all_plans_like_explicit(spark):
    """GROUP BY ALL is resolver sugar: same single partial-aggregated
    shuffle as the explicit GROUP BY."""
    df = build(spark, "group_by_all_status_priority")
    assert pi.shuffle_count(df) == 1
    assert pi.has_partial_aggregate(df)


def test_unpivot_is_zero_shuffle_expand(spark):
    """UNPIVOT lowers to Expand (each row emits k metric rows map-side):
    no shuffle, no join — scan-width work like explode."""
    df = build(spark, "unpivot_customer_metrics")
    plan = pi.physical_plan(df)
    assert pi.shuffle_count(df) == 0
    assert "Expand" in plan
    assert "Join" not in plan


def test_market_basket_no_self_join(spark):
    """Pair expansion is an in-array nested transform on the collected
    basket, not a self-join: two partial-aggregated KEY shuffles, no
    join anywhere, and the top-k is a heap merge (benched ~2× the
    self-join shape). The scale-guarded RoundRobin spread between the
    basket aggregate and the expansion (r18 — AQE coalesces the
    pre-explosion exchange below core count at test SF) is excluded by
    key_shuffle_count, the same accounting as every other fan-out
    pin."""
    df = build(spark, "market_basket_part_pairs")
    plan = pi.physical_plan(df)
    assert pi.key_shuffle_count(df) <= 2
    assert "Join" not in plan
    assert pi.has_partial_aggregate(df)
    assert "TakeOrderedAndProject" in plan


def test_rfm_tiles_are_two_phase_not_global_ntile(spark):
    """rfm_customer_segments must never run a single-partition window over
    the per-customer frame (round 4 shipped three global NTILEs — a
    scale-killer). The rank window must partition by (metric, blk); the
    offsets window over the tiny subtotal table partitions by metric; the
    offset and total tables join in as broadcasts."""
    import re

    df = build(spark, "rfm_customer_segments")
    plan = pi.physical_plan(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, f"expected rank windows in:\n{plan}"
    rank_specs = [s for s in specs if "o_custkey" in s]
    assert rank_specs, f"expected a custkey-tie-broken rank window in:\n{plan}"
    for s in rank_specs:
        assert "metric" in s and "blk" in s, (
            f"per-customer rank window is not block-partitioned: {s}"
        )
    for s in specs:  # NO window at all may be unpartitioned
        assert "metric" in s, f"unpartitioned window spec: {s}"
    assert "ntile" not in plan.lower()
    assert pi.broadcast_join_count(df) >= 2


def test_ann_recall_report_shared_scan_all_broadcast(spark):
    """The recall report composes four index builds over ONE persisted
    embeddings scan (the CacheManager substitutes the in-memory relation
    into every variant's plan), and every join it adds is broadcast —
    top-k-sized frames only; a shuffled join here would mean a corpus-sized
    frame leaked into the evaluation harness."""
    df = build(spark, "similarity_ann_recall_report")
    plan = pi.physical_plan(df)
    assert "InMemoryTableScan" in plan, "shared embeddings scan not cached"
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert pi.broadcast_join_count(df) >= 4


def test_markov_transitions_windows_are_partitioned(spark):
    """Markov transitions: the LEAD window must partition by user_id (one
    shuffle of per-user history), the probability normalization window by
    event_type (over the O(types^2) matrix) — no window may run
    unpartitioned, and the bigram count partial-aggregates before its
    shuffle."""
    import re

    df = build(spark, "events_markov_transitions")
    plan = pi.physical_plan(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, f"expected windows in:\n{plan}"
    lead_specs = [s for s in specs if "user_id" in s]
    assert lead_specs, "LEAD window lost its user_id partitioning"
    for s in specs:
        assert "user_id" in s or "event_type" in s, (
            f"unpartitioned window spec: {s}"
        )
    assert pi.has_partial_aggregate(df)


def test_tfidf_rank_window_partitioned_and_partial_aggs(spark):
    """TF-IDF terms: tf and df aggregations partial-aggregate before their
    shuffles, the 1-row corpus count joins in as a broadcast, and the
    top-k rank window partitions by source — never a global sort."""
    import re

    df = build(spark, "text_tfidf_source_terms")
    plan = pi.physical_plan(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, f"expected a rank window in:\n{plan}"
    for s in specs:
        assert "source" in s, f"rank window lost source partitioning: {s}"
    assert pi.has_partial_aggregate(df)
    assert pi.broadcast_join_count(df) >= 1


def test_dau_wau_no_range_self_join(spark):
    """DAU/WAU stickiness must keep the constant <=7x contribution-explode
    shape: a Generate (sequence explode) instead of the oracle's range
    self-join, the day-list semi join broadcast, and no nested-loop or
    cartesian join anywhere — the range-join formulation explodes
    quadratically in users at 100 TB."""
    df = build(spark, "events_dau_wau_stickiness")
    plan = pi.physical_plan(df)
    assert "Generate explode" in plan, "contribution explode missing"
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert pi.broadcast_join_count(df) >= 1
    assert pi.has_partial_aggregate(df)


def test_pagerank_step_broadcasts_node_count_partial_aggs(spark):
    """One PageRank step = join edges to degrees + ONE aggregation shuffle
    of in-flowing mass; the 1-row node count joins in as a broadcast and
    degree/mass aggregations partial-aggregate. No nested-loop join over
    anything bigger than the 1-row count frame (its crossJoin IS the
    broadcast), no window, no sort."""
    df = build(spark, "dedup_pagerank_step")
    plan = pi.physical_plan(df)
    assert pi.has_partial_aggregate(df)
    assert pi.broadcast_join_count(df) >= 2
    # the ONLY compile-time hints are the two 1-row node-count crossJoins —
    # scale-independent frames; the edge-side joins stay size-gated
    assert pi.broadcast_hint_count(df) == 2
    assert "windowspecdefinition" not in plan
    assert "CartesianProduct" not in plan


def test_graph_family_reads_candidate_checkpoint_not_corpus(spark):
    """The graph-family reports consume the session-shared LSH candidate
    materialization (shared_lsh_candidates), the in-session mirror of the
    materialize-candidates-once step a production dedup run performs: the
    pure-graph ops (PageRank, triangles) must read the checkpointed edge
    blocks and NEVER re-scan corpus parquet, and repeated calls must
    return the SAME materialization, not rebuild the minhash pipeline."""
    from iceberg_explorer_spark.operators.dedup import shared_lsh_candidates

    a = shared_lsh_candidates(spark, SF_DIR_SMALL)
    b = shared_lsh_candidates(spark, SF_DIR_SMALL)
    assert a is b
    for name in ("dedup_pagerank_step", "dedup_candidate_triangles"):
        plan = pi.physical_plan(build(spark, name))
        assert "ExistingRDD" in plan, name      # the checkpoint scan
        assert "FileScan parquet" not in plan, name  # no corpus re-scan
    # the overlap matrix legitimately scans documents for source labels
    # (its grand-total branch repeats the subtree in the pre-AQE plan
    # text, so no exact scan count) — but its PAIR side must come from
    # the checkpoint, and no scan may read the text column: the minhash
    # pipeline is never rebuilt, only the 2-column doc→source projection
    # is touched
    df = build(spark, "dedup_source_overlap_matrix")
    plan = pi.physical_plan(df)
    assert "ExistingRDD" in plan
    assert "text" not in pi.scan_columns(df, "documents.parquet")


def test_source_overlap_candidate_broadcast_is_gated(spark):
    """The doc→source labeling joins must be SIZE-GATED, not hint-forced:
    the candidate-pair frame is Σ bucket-collisions — bucket-capped but
    corpus-proportional — so an unconditional ``broadcast()`` hint on it
    dies at exactly the scale the operator serves (past Spark's 8 GB
    broadcast hard limit; VERDICT r5 'What's wrong' #1). The gated plan:
    ZERO compile-time broadcast hints on the labeling joins (the only
    permitted hint is the 1-row grand-total crossJoin), while the planner
    still CHOOSES broadcast at test scale from measured stats — the
    session-shared candidate checkpoint gives it accurate sizes. At 100 TB
    the same plan degrades to a shuffled hash join on doc keys instead of
    failing."""
    df = build(spark, "dedup_source_overlap_matrix")
    plan = pi.physical_plan(df)
    # exactly one hint survives: the 1-row total frame (scale-independent)
    assert pi.broadcast_hint_count(df) == 1
    # and the size gate still picks broadcast joins at this scale — the
    # labeling joins did not silently become shuffles locally
    assert pi.broadcast_join_count(df) >= 3
    assert "SortMergeJoin" not in plan
    assert pi.has_partial_aggregate(df)
    assert "CartesianProduct" not in plan


def test_bm25_filters_terms_mapside_topk_not_sort(spark):
    """BM25: the query-term IN-filter must run against the exploded token
    stream BEFORE any shuffle (map-side collapse to query-term rows), the
    idf and corpus frames join as broadcasts, and the final top-k is
    TakeOrderedAndProject — a global sort of per-doc scores would be the
    scale bug."""
    df = build(spark, "text_bm25_topk")
    plan = pi.physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert pi.has_partial_aggregate(df)
    assert pi.broadcast_join_count(df) >= 2
    # the IN-filter must sit in the same codegen stage as the explode —
    # i.e. appear as a Filter over the generated word column, not after
    # an exchange
    import re

    gen_idx = plan.find("Generate explode")
    assert gen_idx != -1
    first_exchange_after = plan.find("Exchange", gen_idx)
    filter_after = plan.find("word", gen_idx)
    assert filter_after != -1 and (
        first_exchange_after == -1 or filter_after < first_exchange_after
    ), "term filter did not stay map-side with the explode"


def test_int8_quantize_is_map_only(spark):
    """Per-vector quantization must be a pure map: zero shuffles, zero
    joins, zero windows — the plan is scan → project, so at 100 TB it runs
    at scan speed with perfect partition parallelism. Any Exchange here
    means someone turned a row-local computation into a distributed one."""
    df = build(spark, "similarity_int8_quantize")
    plan = pi.physical_plan(df)
    assert pi.shuffle_count(df) == 0, plan
    assert "Join" not in plan
    assert "windowspecdefinition" not in plan
    # scan-backed, not cached: a session-wide embeddings cache (the bug the
    # recall report once had) would substitute an InMemoryTableScan here
    assert "Scan parquet" in plan or "FileScan" in plan, plan
    assert "InMemoryTableScan" not in plan, plan


def test_jaccard_sweep_expands_pairs_not_corpus(spark):
    """The threshold sweep must explode the GRID against the candidate-pair
    frame (|pairs| x 5 rows), never against anything corpus-shaped, keep
    the candidate joins broadcast exactly like dedup_ngram_jaccard, and
    partial-aggregate the per-threshold counts. The corpus-side shingle
    scan must appear once, not per threshold."""
    df = build(spark, "dedup_jaccard_threshold_sweep")
    plan = pi.physical_plan(df)
    assert "Generate explode" in plan
    # pair joins size-gated (no compile-time hint on corpus-growing frames)
    assert pi.broadcast_hint_count(df) == 0
    assert pi.broadcast_join_count(df) >= 2
    assert pi.has_partial_aggregate(df)
    assert "CartesianProduct" not in plan
    # grid expansion must sit above the pair join, not under it: the
    # explode's Generate node must appear before (higher in the tree than)
    # the first broadcast join in the plan text
    assert plan.find("Generate explode") < plan.find("BroadcastHashJoin")


def test_pack_efficiency_single_extra_shuffle(spark):
    """The efficiency report rides the packer's pinned plan and may add
    exactly ONE aggregation shuffle (O(sequences) frame onto the O(sources)
    key) with partial aggregation — no window, no join, no sort on top of
    what pipeline_chunk_pack already does."""
    base = build(spark, "pipeline_chunk_pack")
    df = build(spark, "pipeline_pack_efficiency")
    assert pi.shuffle_count(df) == pi.shuffle_count(base) + 1
    assert pi.has_partial_aggregate(df)
    # no join/window added on top of the packer's own pinned plan (the
    # packer's prefix-sum broadcast join is part of the base)
    assert pi.broadcast_join_count(df) == pi.broadcast_join_count(base)
    assert pi.sort_merge_join_count(df) == 0


def test_source_minhash_no_join_all_partial_aggs(spark):
    """The per-source sketch must be pure aggregation: NO join anywhere
    (pair emission is group-by-hash-bucket + in-bucket explode over the
    O(sources x hashes) melted frame, never a signature self-join that
    would recompute the corpus scan), mins partial-aggregate map-side, and
    no window/sort touches anything corpus-sized."""
    df = build(spark, "dedup_source_minhash_similarity")
    plan = pi.physical_plan(df)
    assert "Join" not in plan, "sketch pipeline grew a join"
    assert pi.has_partial_aggregate(df)
    assert "windowspecdefinition" not in plan


def test_vocab_growth_corpus_agg_partial_window_tiny(spark):
    """The only corpus-sized stage is the shingle-keyed MIN aggregation and
    it must partial-aggregate (first-seen is a commutative min). The
    running-total window is allowed ONLY above the batch-level aggregate —
    its input is the O(batches) frame, so the window's child in the plan
    must be an aggregate, not a scan/exchange of corpus rows."""
    df = build(spark, "text_vocab_growth")
    plan = pi.physical_plan(df)
    assert pi.has_partial_aggregate(df)
    assert "Join" not in plan
    w = plan.find("Window")
    assert w != -1
    # everything corpus-shaped (the Generate explode of shingles) must sit
    # BELOW both aggregations, i.e. appear after the window in the printed
    # top-down plan and after the last HashAggregate
    assert plan.find("Generate explode") > w


def test_centroid_drift_partial_sums_broadcast_pair_join(spark):
    """Drift centroids must partial-aggregate the fixed-point element sums
    map-side (the only corpus-sized shuffle is on (label, batch, dim)),
    the a/b pairing join on O(labels) rows must broadcast, and no
    sort-merge join or corpus-sized window may appear."""
    df = build(spark, "similarity_centroid_drift")
    plan = pi.physical_plan(df)
    assert pi.has_partial_aggregate(df)
    assert pi.broadcast_join_count(df) >= 1
    assert pi.sort_merge_join_count(df) == 0
    assert "windowspecdefinition" not in plan


def test_abc_pareto_cumsum_is_block_partitioned(spark):
    """The global cumulative revenue sum must be two-phase: the per-part
    running-sum window partitions by the coarse revenue block (never a
    single-partition window over the O(parts) frame — the RFM lesson);
    the only unpartitioned window is the offsets pass over the O(blocks)
    subtotal frame; offsets and total join in as broadcasts."""
    import re

    df = build(spark, "parts_abc_pareto")
    plan = pi.physical_plan(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    part_specs = [s for s in specs if "l_partkey" in s]
    assert part_specs, f"expected a partkey-tie-broken window in:\n{plan}"
    for s in part_specs:
        assert "blk" in s, f"per-part cumsum window not block-partitioned: {s}"
    assert pi.broadcast_join_count(df) >= 2
    assert pi.sort_merge_join_count(df) == 0
    assert pi.has_partial_aggregate(df)


def test_funnel_latency_single_pass_over_funnel(spark):
    """The latency report must compute all six stage statistics in ONE
    aggregation over the funnel frame and unpivot the 1-row result — the
    events table is scanned exactly as many times as events_funnel itself
    scans it (per-stage re-aggregation would double the funnel cost)."""
    base_plan = pi.physical_plan(build(spark, "events_funnel"))
    plan = pi.physical_plan(build(spark, "events_funnel_latency"))
    assert plan.count("events.parquet") == base_plan.count("events.parquet")
    assert pi.has_partial_aggregate(build(spark, "events_funnel_latency"))


def test_ngram_entropy_partial_aggs_no_join(spark):
    """Entropy is two stacked aggregations (shingle counts, then the
    per-source rollup) — both partial map-side, no join, no window, and
    every log2 is taken on an already-aggregated exact count (never on a
    per-row value)."""
    df = build(spark, "text_ngram_entropy")
    plan = pi.physical_plan(df)
    assert pi.has_partial_aggregate(df)
    assert "Join" not in plan
    assert "windowspecdefinition" not in plan


def test_path_topk_user_window_heap_topk(spark):
    """Path mining must window on high-cardinality user_id (never an
    unpartitioned sequence window) and take the top-k with per-partition
    heaps (TakeOrderedAndProject), not a global sort."""
    import re

    df = build(spark, "events_path_topk")
    plan = pi.physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert pi.has_partial_aggregate(df)
    for s in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "user_id" in s, f"unpartitioned journey window: {s}"


def test_ahash_dedup_mapside_decode_one_shuffle(spark):
    """The decode+hash must be map-side Python (MapInPandas) feeding ONE
    hash-keyed aggregation shuffle with map-side partial counts — 8 bytes
    per image on the wire, never pixels. No join anywhere."""
    df = build(spark, "multimodal_ahash_dedup")
    plan = pi.physical_plan(df)
    assert "MapInPandas" in plan
    assert pi.key_shuffle_count(df) == 1
    assert pi.has_partial_aggregate(df)
    assert "Join" not in plan


def test_cluster_stats_rides_cc_two_rollups(spark):
    """The yield report may add exactly two aggregation rollups on top of
    the CC pipeline (cluster sizes, then the size histogram) — both with
    map-side partials — and no join or window of its own."""
    base = build(spark, "dedup_clusters")
    df = build(spark, "dedup_cluster_stats")
    assert pi.shuffle_count(df) == pi.shuffle_count(base) + 2
    assert pi.has_partial_aggregate(df)
    assert pi.broadcast_join_count(df) == pi.broadcast_join_count(base)
    assert pi.sort_merge_join_count(df) == pi.sort_merge_join_count(base)


def test_categorical_drift_single_scan_single_agg(spark):
    """ONE scan of events and ONE partial-aggregated (event_type) shuffle
    with conditional per-batch counts — no per-batch self-join (the
    inner-join formulation was also blind to appearing/vanishing types).
    Batch totals ride an unpartitioned window over the O(types) frame,
    so total shuffles are exactly 2 and there is no join at all."""
    df = build(spark, "events_categorical_drift")
    plan = pi.physical_plan(df)
    assert plan.count("events.parquet") == 1, "corpus scanned more than once"
    assert pi.shuffle_count(df) == 2
    assert pi.has_partial_aggregate(df)
    assert "Join" not in plan


def test_incremental_rollup_merges_on_types_only(spark):
    """Both sides aggregate independently with map-side partials and the
    merge is a join on the O(types) key — at most one join, no window,
    no corpus re-shuffle beyond the two rollup aggregations."""
    df = build(spark, "events_incremental_rollup")
    plan = pi.physical_plan(df)
    assert pi.has_partial_aggregate(df)
    assert "windowspecdefinition" not in plan
    # EXACTLY one join (the O(types) merge) — an upper bound, so a
    # regression that adds joins or corpus re-shuffles fails
    assert (
        pi.broadcast_join_count(df) + pi.sort_merge_join_count(df) == 1
    ), plan
    assert pi.shuffle_count(df) <= 4  # 2 rollup aggs + merge exchanges


def test_seasonality_index_months_frame_only(spark):
    """The year-total window must partition by order_year over the
    O(months) aggregate — never a corpus-sized or unpartitioned sort —
    and the monthly rollup partial-aggregates."""
    import re

    df = build(spark, "orders_seasonality_index")
    plan = pi.physical_plan(df)
    assert pi.has_partial_aggregate(df)
    assert "Join" not in plan
    for s in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "order_year" in s, f"unpartitioned seasonality window: {s}"


def test_semantic_clusters_aggregate_checkpointed_edges(spark):
    """dedup_semantic_clusters' report plan must consume the eagerly
    checkpointed edge frame (it feeds the CC loop AND the intra-cluster
    stats join — multi-branch discipline), never re-run the per-bucket
    GEMM or re-scan embedding parquet inside the final aggregation, and
    hint nothing to broadcast (cluster count grows with the corpus)."""
    df = build(spark, "dedup_semantic_clusters")
    plan = pi.physical_plan(df)
    assert "ExistingRDD" in plan            # checkpointed edges + labels
    assert "FlatMapGroupsInPandas" not in plan  # GEMM ran once, upstream
    assert "FileScan parquet" not in plan       # no embedding re-scan
    assert pi.broadcast_hint_count(df) == 0


def test_filter_funnel_two_aggs_checkpointed_droplist(spark):
    """pipeline_filter_funnel must stay two partial-aggregated passes
    over a 2-column projection (flag counts + canonical digests) plus the
    cached LSH drop list — never a per-stage corpus re-scan, never the
    full document schema, and nothing hint-forced to broadcast."""
    df = build(spark, "pipeline_filter_funnel")
    plan = pi.physical_plan(df)
    assert pi.scan_columns(df, "documents.parquet") == {"doc_id", "text"}
    assert plan.count("FileScan parquet") <= 2  # base flags + canon digests
    assert pi.has_partial_aggregate(df)
    assert "ExistingRDD" in plan  # drop list from the candidate checkpoint
    assert pi.broadcast_hint_count(df) == 0


def test_semantic_decontaminate_pushes_split_predicates(spark):
    """The split predicates must reach both embedding scans (an eval
    split is ~1e-4 of a production corpus — that scan prunes to almost
    nothing) and nothing may be hint-forced to broadcast (both sides
    grow with the corpus; AQE decides from measured sizes)."""
    df = build(spark, "similarity_semantic_decontaminate")
    pushed = " ".join(pi.pushed_filters(df))
    assert "label" in pushed
    assert pi.broadcast_hint_count(df) == 0


def test_no_operator_plans_row_at_a_time_python(spark):
    """Registry-wide UDF-tier guardrail: NO operator's physical plan may
    contain a row-at-a-time Python eval node (BatchEvalPython — each row
    pickled through the worker one at a time, the 10-100x slow path).
    The only Python allowed in any plan is Arrow-batched
    (ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas, the decode
    and GEMM tiers). A future operator that slips a plain @udf into a
    hot path fails here by name rather than surfacing as a silent
    100 TB regression."""
    from concurrent.futures import ThreadPoolExecutor

    # every registered query's plan, built and printed concurrently —
    # the work is driver-JVM-side plan analysis, which threads fine and
    # releases the GIL at the py4j boundary; the checked property per
    # query is unchanged (guide §2.6 overlap, ~3x on this 167-plan loop)
    def check(item):
        name, spec = item
        plan = pi.physical_plan(spec.builder(spark, SF_DIR_SMALL))
        return name if "BatchEvalPython" in plan else None

    with ThreadPoolExecutor(max_workers=8) as pool:
        offenders = [n for n in pool.map(check, QUERIES.items()) if n]
    assert offenders == [], offenders


def test_clean_manifest_one_python_kernel_window_keep(spark):
    """multimodal_clean_manifest's keep decision must be a MIN window
    over the hash partition, never a canonical self-join — the decode
    kernel is the expensive stage and a self-join shape runs it twice.
    Exactly ONE Arrow-batched Python kernel in the plan, a window, and
    nothing hint-forced to broadcast."""
    df = build(spark, "multimodal_clean_manifest")
    plan = pi.physical_plan(df)
    assert plan.count("MapInPandas") == 1
    assert "Window" in plan
    assert pi.broadcast_hint_count(df) == 0


def test_paired_dedup_one_python_kernel_digest_shuffle(spark):
    """multimodal_paired_dedup composes the aHash kernel with the
    caption fingerprint: exactly ONE Arrow-batched Python kernel (the
    image decode runs once; the caption side is pure JVM expressions),
    no window/self-join on the kernel output, and nothing hint-forced
    to broadcast (AQE picks the join strategy at runtime)."""
    df = build(spark, "multimodal_paired_dedup")
    plan = pi.physical_plan(df)
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan
    assert pi.broadcast_hint_count(df) == 0


def test_incremental_paired_one_kernel_key_only_joins(spark):
    """dedup_incremental_paired classifies the batch against the
    history pair-key set with the aHash decode kernel run exactly ONCE:
    the key frame feeds three plan branches (history keys, batch rows,
    batch key-min), so it is consumed as a materialized checkpoint
    (Scan ExistingRDD — zero MapInPandas in the visible plan; without
    it the kernel ran once per branch), no row-at-a-time Python, and
    nothing hint-forced to broadcast (the history key table grows with
    the corpus; at 100 TB it is the persisted artifact the batch
    probes — AQE picks the strategy from measured sizes)."""
    df = build(spark, "dedup_incremental_paired")
    plan = pi.physical_plan(df)
    assert plan.count("MapInPandas") == 0
    assert "Scan ExistingRDD" in plan
    assert "BatchEvalPython" not in plan
    assert pi.broadcast_hint_count(df) == 0


def test_incremental_ingest_v2_artifacts_only(spark):
    """pipeline_incremental_ingest_v2 adds the paired stage with ZERO
    new kernels: the visible plan consumes the session-cached status
    waterfall and pair-key table as materialized checkpoints (Scan
    ExistingRDD), runs no Python at all (no MapInPandas — the aHash
    decode happened once inside the shared pair-key build; no
    BatchEvalPython), and hint-forces nothing to broadcast (the
    pair-key history grows with the corpus; at 100 TB it is the
    persisted 'pairs' artifact probed bucketed by key)."""
    df = build(spark, "pipeline_incremental_ingest_v2")
    plan = pi.physical_plan(df)
    assert plan.count("MapInPandas") == 0
    assert "BatchEvalPython" not in plan
    assert "Scan ExistingRDD" in plan
    assert pi.broadcast_hint_count(df) == 0


def test_incremental_artifact_delta_v2_artifacts_only(spark):
    """pipeline_incremental_artifact_delta_v2 bills the four-stage
    keep-list with the same discipline as the v1 delta: zero Python in
    the visible plan (status waterfall, pair keys and the keep-list are
    materialized checkpoints — Scan ExistingRDD), corpus-sized
    shingle/embedding/pair tables semi-join-reduced to the increment
    before their left joins, and nothing hint-forced to broadcast."""
    df = build(spark, "pipeline_incremental_artifact_delta_v2")
    plan = pi.physical_plan(df)
    assert plan.count("MapInPandas") == 0
    assert "BatchEvalPython" not in plan
    assert "Scan ExistingRDD" in plan
    assert pi.broadcast_hint_count(df) == 0


def test_lsh_band_tuning_one_signature_one_verify(spark):
    """dedup_lsh_band_tuning sweeps the registered band layouts from ONE
    signature pass and verifies the distinct union ONCE: the plan carries
    as many array_intersect sites as the single-generator Jaccard verify
    (re-verifying per layout would multiply it), consumes the shingle
    scan and the multi-branch pair frame as materialized checkpoints,
    and hint-forces nothing to broadcast (candidate pairs grow with the
    corpus; AQE converts from measured sizes)."""
    df = build(spark, "dedup_lsh_band_tuning")
    plan = pi.physical_plan(df)
    assert pi.broadcast_hint_count(df) == 0
    single = pi.physical_plan(build(spark, "dedup_ngram_jaccard"))
    # <= not ==: the tuning report drops the jaccard value right after the
    # dup filter, so it prints FEWER expression sites than the verify that
    # also outputs the score; more sites than the single verify would mean
    # a per-layout re-verify
    assert 1 <= plan.count("array_intersect") <= single.count("array_intersect")
    assert "Scan ExistingRDD" in plan


def test_semantic_tau_sweep_one_gemm_tiny_tail(spark):
    """similarity_semantic_tau_sweep pays ONE bucketed GEMM however many
    grid points it scores: the pair histogram is checkpointed (the
    cumulative join and the total both read it — ExistingRDD in the
    plan), the tail operates on O(grid) rows, and nothing is
    hint-forced to broadcast."""
    df = build(spark, "similarity_semantic_tau_sweep")
    plan = pi.physical_plan(df)
    assert pi.broadcast_hint_count(df) == 0
    # the GEMM ran once inside the eager checkpoint; the visible plan is
    # the O(1)-row tail reading the materialized cell counts
    assert "Scan ExistingRDD" in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_clean_corpus_v2_one_kernel_checkpointed_lists(spark):
    """pipeline_clean_corpus_v2 composes all four dedup families into one
    attribution spine with ZERO Python kernels in the visible plan: the
    pair-key table (the aHash decode, the report's single heaviest
    stage) arrives as the session-shared "pairs" checkpoint exactly like
    the near and semantic drop lists (Scan ExistingRDD — the LSH
    candidate, cluster-label and pair-key artifacts are built once per
    corpus, never re-derived per report; r18, was previously the one
    stage still re-running its kernel in-plan), the caption fingerprint,
    digest dedup and quality gate are pure JVM expressions, and nothing
    is hint-forced to broadcast (every drop list grows with the corpus;
    AQE converts from measured sizes)."""
    df = build(spark, "pipeline_clean_corpus_v2")
    plan = pi.physical_plan(df)
    assert plan.count("MapInPandas") == 0
    assert "BatchEvalPython" not in plan
    assert "Scan ExistingRDD" in plan
    assert pi.broadcast_hint_count(df) == 0


def test_incremental_near_reuses_artifacts_single_verify(spark):
    """dedup_incremental_near answers the daily-batch near-dup question
    from the artifacts a production pipeline already maintains: the
    candidate pairs and the shingle table arrive as materialized session
    checkpoints, the batch-touching pairs are verified ONCE into an
    eager checkpoint (three consumers — batch-batch edges the CC loop
    re-reads every round, the corpus-contact list — all read the
    materialized rows: Scan ExistingRDD, zero array_intersect sites left
    in the visible plan because the verify already ran), the documents
    scan contributes only the batch's (doc_id, source), the
    classification is partial-aggregated, and nothing is hint-forced to
    broadcast (candidates grow with the corpus; AQE converts from
    measured sizes)."""
    df = build(spark, "dedup_incremental_near")
    plan = pi.physical_plan(df)
    assert pi.broadcast_hint_count(df) == 0
    assert "BatchEvalPython" not in plan
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    # the verify pipeline is consumed as a checkpoint — a re-verify per
    # consumer would resurface intersect sites in the visible plan
    assert plan.count("array_intersect") == 0
    assert pi.has_partial_aggregate(df)
    assert pi.scan_columns(df, "documents.parquet") <= {"doc_id", "source"}


def test_incremental_semantic_reads_edge_artifact(spark):
    """dedup_incremental_semantic consumes the session-shared SRP-GEMM
    edge artifact (Scan ExistingRDD — the bucketed GEMM ran once inside
    the checkpoint; no Python kernel and no cosine fold re-evaluation in
    the visible plan), classifies through the family's shared component
    tail, and hint-forces nothing to broadcast. The documents scan
    contributes only (doc_id, source); the embeddings scan only the
    batch's validity-filtered vectors."""
    df = build(spark, "dedup_incremental_semantic")
    plan = pi.physical_plan(df)
    assert pi.broadcast_hint_count(df) == 0
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert pi.has_partial_aggregate(df)
    assert pi.scan_columns(df, "documents.parquet") <= {"doc_id", "source"}
    assert pi.scan_columns(df, "embeddings.parquet") <= {"vec_id", "embedding"}


def test_incremental_capstone_artifacts_no_kernels(spark):
    """pipeline_incremental_ingest composes the three incremental stages
    from materialized artifacts only: the shingle/LSH checkpoints and
    the SRP-GEMM edge artifact arrive as Scan ExistingRDD, no Python
    kernel appears anywhere in the plan (digests are map-side md5; the
    GEMM ran inside the session artifact), nothing is hint-forced to
    broadcast, the final attribution is partial-aggregated, and the
    documents scan carries only (doc_id, source, text) — text solely
    for the map-side digest."""
    df = build(spark, "pipeline_incremental_ingest")
    plan = pi.physical_plan(df)
    assert pi.broadcast_hint_count(df) == 0
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert pi.has_partial_aggregate(df)
    assert pi.scan_columns(df, "documents.parquet") <= {
        "doc_id", "source", "text"
    }


def test_artifact_delta_reuses_status_and_checkpoints(spark):
    """pipeline_incremental_artifact_delta reads the shared waterfall and
    the shingle checkpoint as materialized artifacts (Scan ExistingRDD),
    keeps everything JVM-side (no Python kernels), hint-forces nothing
    to broadcast, and partial-aggregates the per-source append counts."""
    df = build(spark, "pipeline_incremental_artifact_delta")
    plan = pi.physical_plan(df)
    assert pi.broadcast_hint_count(df) == 0
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert pi.has_partial_aggregate(df)
    assert pi.scan_columns(df, "embeddings.parquet") <= {"vec_id", "embedding"}


def test_simhash_hamming_codegen_bands_no_python(spark):
    """dedup_simhash_hamming's plan: the signature build and the banded
    candidate stage are pure JVM expressions (no MapInPandas, no
    BatchEvalPython — the stack() of literal shifts stays inside
    whole-stage codegen), the checkpointed signature frame is consumed
    as Scan ExistingRDD by its three branches (band rows + both verify
    sides — without the checkpoint the 60-term aggregation re-ran per
    branch), and nothing is hint-forced to broadcast (the signature
    table grows with the corpus; AQE picks the verify-join strategy
    from measured sizes)."""
    df = build(spark, "dedup_simhash_hamming")
    plan = pi.physical_plan(df)
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert "Scan ExistingRDD" in plan
    assert pi.broadcast_hint_count(df) == 0


def test_two_day_exact_digest_only_no_python(spark):
    """dedup_incremental_two_day_exact's plan: one digest pass over the
    corpus consumed as a checkpoint by its four branches (Scan
    ExistingRDD — history digests, both days' flag builds, the day-1
    kept-digest lookup), pure JVM expressions end to end (no
    MapInPandas, no BatchEvalPython), and nothing hint-forced to
    broadcast (the grown digest table is corpus-sized; at 100 TB it is
    the bucketed digest artifact both days probe)."""
    df = build(spark, "dedup_incremental_two_day_exact")
    plan = pi.physical_plan(df)
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert "Scan ExistingRDD" in plan
    assert pi.broadcast_hint_count(df) == 0


def test_two_day_near_one_verify_no_python(spark):
    """dedup_incremental_two_day_near: one Jaccard verify serves both
    generations (the verified edge table is a checkpoint consumed as
    Scan ExistingRDD by day-1's parity classification and day-2's
    membership classification), pure JVM end to end (no MapInPandas,
    no BatchEvalPython), and nothing hint-forced to broadcast (the
    shingle/band artifacts grow with the corpus; the day-2 drop-list
    anti-joins and membership joins are increment-sized, AQE picks
    their strategy)."""
    df = build(spark, "dedup_incremental_two_day_near")
    plan = pi.physical_plan(df)
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert "Scan ExistingRDD" in plan
    assert pi.broadcast_hint_count(df) == 0


def test_simhash_hamming_sweep_tiny_window(spark):
    """dedup_simhash_hamming_sweep adds only an aggregation + a
    deliberate single-partition cumulative window over <= 61 histogram
    rows on top of the shared candidate chain: no Python anywhere, the
    checkpointed signature frame consumed as Scan ExistingRDD, exactly
    ONE Window node (the tiny cumulative), nothing hint-forced to
    broadcast."""
    df = build(spark, "dedup_simhash_hamming_sweep")
    plan = pi.physical_plan(df)
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert "Scan ExistingRDD" in plan
    assert plan.count("Window") == 1
    assert pi.broadcast_hint_count(df) == 0


def test_incremental_simhash_shared_chain_no_python(spark):
    """dedup_incremental_simhash rides the SAME session-cached simhash
    candidate+distance chain as the pair operator and its sweep (the
    checkpoint consumed as Scan ExistingRDD — no second signature
    build, no re-banding), classifies through the shared component
    tail, and stays pure JVM end to end: no MapInPandas, no
    BatchEvalPython, nothing hint-forced to broadcast (the signature
    artifact grows with the corpus; the batch-side frames are
    increment-sized and AQE picks their join strategy)."""
    df = build(spark, "dedup_incremental_simhash")
    plan = pi.physical_plan(df)
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert "Scan ExistingRDD" in plan
    assert pi.broadcast_hint_count(df) == 0


def test_ivf_probe_sweep_one_assignment_no_python(spark):
    """similarity_ivf_probe_sweep prices every nprobe config from ONE
    centroid-assignment pass: the probed-list window survivors and the
    exact top-k baseline are the only materializations (both consumed
    as Scan ExistingRDD by their two branches), everything is pure JVM
    (no MapInPandas, no BatchEvalPython), and the only broadcast hint
    VISIBLE in the final plan is the 1-row recall denominator — the
    other four hinted frames (centroids, the query's probe ranking,
    both query vectors) are all O(K)/O(1) and sit upstream of the two
    checkpoint boundaries, so their hints are consumed inside the
    materialization subplans. The corpus-sized frames (lists,
    candidates) are never hint-forced anywhere."""
    df = build(spark, "similarity_ivf_probe_sweep")
    plan = pi.physical_plan(df)
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert "Scan ExistingRDD" in plan
    assert pi.broadcast_hint_count(df) == 1


def test_pq_geometry_sweep_one_scan_no_python(spark):
    """similarity_pq_geometry_sweep prices the whole geometry grid from
    one corpus pass: all configs' sub-chunks explode from a single
    scan and every stage keys on the config column (no per-geometry
    rerun), pure JVM end to end (no MapInPandas, no BatchEvalPython),
    the exact baseline consumed as a checkpoint (Scan ExistingRDD).
    Exactly TWO Window nodes — the exact two-stage per-config top-k
    (bucketed local rank, then global rank over the survivor set) —
    and Spark additionally pushes WindowGroupLimit rank-limits to the
    map side of both. Two broadcast hints since the r17 map-side fold:
    the ONE codebook+LUT map row (formerly the codebook subtree twice
    plus the LUT) and the 1-row recall denominator; the corpus-sized
    score frames are never hint-forced."""
    df = build(spark, "similarity_pq_geometry_sweep")
    plan = pi.physical_plan(df)
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert "Scan ExistingRDD" in plan
    assert plan.count("Window [") == 2
    # Partial + Final rank-limit per window: losing either window's
    # map-side pushdown would void the no-full-corpus-partition claim
    assert plan.count("WindowGroupLimit") == 4
    assert pi.broadcast_hint_count(df) == 2


def test_ivf_pq_topk_composed_plan(spark):
    """similarity_ivf_pq_topk composes the two index families' plans:
    the assignment pass runs ONCE inside the checkpointed candidate
    frame (visible plan: Scan ExistingRDD, ZERO Window nodes — probed
    candidates are read, not recomputed per consumer), the encode is
    restricted to candidates+seeds+query, pure JVM end to end, ONE
    broadcast hint since the r17 map-side fold — the codebook+LUT map
    row (formerly three hint sites: the codebook subtree twice plus the
    LUT); qprobe's hint lives upstream of the checkpoint and
    legitimately does not surface. The map row reaches every scored
    vector via a 1-row BroadcastNestedLoopJoin cross (O(1) build, the
    BQ cascade's pattern) — no cartesian product, and the top-k is
    a heap merge. The un-hinted candidate-sized joins (encode
    restriction semi-join, final probe_list join) may plan
    SortMergeJoin statically — candidates are nprobe/K of the corpus
    (scale-DEPENDENT, the no-hint rule) and AQE converts them at
    runtime (observed BuildLeft broadcast at sf0.01)."""
    df = build(spark, "similarity_ivf_pq_topk")
    plan = pi.physical_plan(df)
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan
    assert plan.count("Window [") == 0
    assert pi.broadcast_hint_count(df) == 1
    assert "TakeOrderedAndProject" in plan


def test_bigram_lm_score_plan(spark):
    """text_bigram_lm_score stays JVM-side with the unigram op's
    two-pass shape: the corpus-wide bigram model is built ONCE and
    checkpointed (Scan ExistingRDD — its two consumers, the context
    marginal and the probability join, read the blocks); the doc-side
    bigram stream is a ZERO-window map over the token array (r17: the
    former per-doc lead() window's Exchange(doc_id)+Sort shuffled the
    whole token stream — the adjacent-pair zip is row-local); every
    groupBy partial-aggregates map-side; the 1-row vocabulary size is
    the only broadcast hint (scale-independent); no cartesian product
    (the cross join is against that 1-row aggregate)."""
    df = build(spark, "text_bigram_lm_score")
    plan = pi.physical_plan(df)
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan
    assert plan.count("Window [") == 0
    assert pi.has_partial_aggregate(df)
    assert pi.broadcast_hint_count(df) == 1


def test_clean_corpus_v3_one_kernel_checkpointed_lists(spark):
    """pipeline_clean_corpus_v3 composes all FIVE dedup families with
    the v2 plan discipline intact: ZERO Python kernels in the visible
    plan (the pair-key table arrives as the session-shared "pairs"
    checkpoint since r18; the simhash stage adds zero kernels: its
    component labels come from the session-shared banded-Hamming chain
    plus the CC loop, both checkpointed), every stage's drop list is
    consumed as a materialized checkpoint (Scan ExistingRDD), no
    corpus-wide Window (the stage windows partition by cluster/pair key
    over bounded member frames), and nothing is hint-forced to
    broadcast (every drop list grows with the corpus; AQE converts from
    measured sizes)."""
    df = build(spark, "pipeline_clean_corpus_v3")
    plan = pi.physical_plan(df)
    assert plan.count("MapInPandas") == 0
    assert "BatchEvalPython" not in plan
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    assert pi.broadcast_hint_count(df) == 0


def test_ivf_pq_refine_topk_plan(spark):
    """similarity_ivf_pq_refine_topk is the parent composed plan plus a
    scale-bounded refine tail: still zero Window nodes (assignment
    lives inside the checkpointed candidate frame, Scan ExistingRDD),
    pure JVM end to end, TWO TakeOrderedAndProject heaps (the R-row
    shortlist cut, then the exact top-k), and exactly THREE broadcast
    hints since the r17 map-side fold — the parent's codebook+LUT map
    row (formerly three hint sites) plus the R-row shortlist and the
    1-row query vector, all scale-independent. Nested-loop joins are
    the two 1-row broadcast crosses (the map row and the query vector —
    O(candidates) and O(R) work); no cartesian product."""
    df = build(spark, "similarity_ivf_pq_refine_topk")
    plan = pi.physical_plan(df)
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan
    assert plan.count("Window [") == 0
    assert pi.broadcast_hint_count(df) == 3
    assert plan.count("TakeOrderedAndProject") == 2


def test_scd2_intervals_plan(spark):
    """events_scd2_intervals costs exactly ONE shuffle (user_id): the
    lag/row_number pass, the per-user total, and the boundary-row lead
    pass are three Window nodes all satisfied by the same hash
    distribution (two sorts — the event-order sort, then the
    |changes|-sized re-sort AFTER the boundary filter, so the second
    never sees the full event stream: Filter sits between the Window
    nodes). No run-keyed groupBy, pure JVM, no hints, and the scan is
    column-pruned to the four columns the op reads."""
    df = build(spark, "events_scd2_intervals")
    plan = pi.physical_plan(df)
    assert pi.shuffle_count(df) == 1
    assert plan.count("Window [") == 3
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert pi.broadcast_hint_count(df) == 0
    # the boundary filter precedes (sits below) the lead window's sort
    lead_sort = plan.index("Sort [user_id")
    assert "Filter (new_run" in plan[lead_sort:]
    m = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert set(
        c.split(":")[0]
        for c in m.split("struct<")[1].rstrip(">").split(",")
    ) == {"event_id", "ts", "user_id", "event_type"}


def test_bq_hamming_topk_plan(spark):
    """similarity_bq_hamming_topk is the cheapest cascade in the
    similarity family and its plan must stay that way: ONE parquet scan
    feeds the whole cascade's compute (the only other scan is the
    pushed-filter read of the query row for the 1-row broadcast), ZERO
    shuffles, ZERO Window nodes, two TakeOrderedAndProject heaps (the
    Hamming shortlist cut carries its vectors, so the exact re-rank
    needs NO join back to the corpus), exactly one broadcast hint (the
    query sketch) whose only join is the 1-row BroadcastNestedLoopJoin
    cross, pure JVM, and the scan pruned to (vec_id, embedding)."""
    df = build(spark, "similarity_bq_hamming_topk")
    plan = pi.physical_plan(df)
    # zero KEY shuffles: the r17 fan-out guard's RoundRobin spread of the
    # narrow scan (before the sketch-packing map work) is excluded — it
    # vanishes at scale where the scan is already wide
    assert pi.key_shuffle_count(df) == 0
    assert plan.count("Window [") == 0
    assert plan.count("TakeOrderedAndProject") == 2
    assert pi.broadcast_hint_count(df) == 1
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Scan parquet") == 2
    m = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert set(
        c.split(":")[0]
        for c in m.split("struct<")[1].split(">")[0].split(",")
    ) == {"vec_id", "embedding"}


def test_bq_r_sweep_plan(spark):
    """similarity_bq_r_sweep: the scored pass is consumed by heap cuts
    only (the true-top-10 cut and the max(R)-row shortlist cut, both
    TakeOrderedAndProject), and the single Window node ranks the
    ALREADY-CUT 100-row frame — a TakeOrderedAndProject sits BELOW it,
    so the row_number never sees the corpus. Zero shuffles, tiny
    broadcast sides only, pure JVM."""
    df = build(spark, "similarity_bq_r_sweep")
    plan = pi.physical_plan(df)
    # zero KEY shuffles (r17 fan-out RoundRobin excluded, see the BQ
    # cascade pin)
    assert pi.key_shuffle_count(df) == 0
    assert plan.count("TakeOrderedAndProject") >= 2
    assert plan.count("Window [") == 1
    # the Window consumes the heap-cut frame: a TakeOrderedAndProject
    # (the max(R) shortlist cut) sits BELOW the Window node
    w = plan.index("Window [")
    assert "TakeOrderedAndProject" in plan[w:]
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_mrl_r_sweep_plan(spark):
    """similarity_mrl_r_sweep (r17) mirrors the BQ sweep's plan: the
    scored pass is consumed by heap cuts only (the true-top-10 cut and
    the max(R)-row shortlist cut, both TakeOrderedAndProject), and the
    single Window node ranks the ALREADY-CUT frame — a
    TakeOrderedAndProject sits BELOW it, so the row_number never sees
    the corpus. Zero shuffles, tiny broadcast sides only, pure JVM."""
    df = build(spark, "similarity_mrl_r_sweep")
    plan = pi.physical_plan(df)
    # zero KEY shuffles (r17 fan-out RoundRobin excluded, see the BQ
    # cascade pin)
    assert pi.key_shuffle_count(df) == 0
    assert plan.count("TakeOrderedAndProject") >= 2
    assert plan.count("Window [") == 1
    w = plan.index("Window [")
    assert "TakeOrderedAndProject" in plan[w:]
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_mrl_truncation_sweep_plan(spark):
    """similarity_mrl_truncation_sweep: every config's truncated cosine
    explodes from ONE normalized pass; per-config top-k is the exact
    two-stage fan-in — the local-rank Window keys on (config, vec_id
    mod bucket) and the global-rank Window sees only the bounded
    survivor set, so no Window ranks the corpus in one partition. The
    exact-baseline checkpoint shows as Scan ExistingRDD; pure JVM; the
    only nested-loop joins are the 1-row broadcast query vector and
    the 1-row exact-count attach."""
    df = build(spark, "similarity_mrl_truncation_sweep")
    plan = pi.physical_plan(df)
    assert plan.count("Window [") == 2
    assert "pmod" in plan  # the local stage's salt key
    assert "Scan ExistingRDD" in plan
    # key shuffles only (r17 fan-out RoundRobin excluded)
    assert pi.key_shuffle_count(df) <= 4
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_mrl_prefix_topk_plan(spark):
    """similarity_mrl_prefix_topk (r17) mirrors the BQ cascade's plan —
    the cheapest-cascade shape with truncation as the cheap stage: ONE
    parquet scan feeds the whole cascade (the only other scan is the
    pushed-filter read of the query row for the 1-row broadcast), ZERO
    shuffles, ZERO Window nodes, two TakeOrderedAndProject heaps (the
    prefix shortlist cut carries its ne, so the exact re-rank needs NO
    join back to the corpus), exactly one broadcast hint whose only
    join is the 1-row BroadcastNestedLoopJoin cross, pure JVM, and the
    scan pruned to (vec_id, embedding)."""
    df = build(spark, "similarity_mrl_prefix_topk")
    plan = pi.physical_plan(df)
    # zero KEY shuffles (r17 fan-out RoundRobin excluded, see the BQ
    # cascade pin)
    assert pi.key_shuffle_count(df) == 0
    assert plan.count("Window [") == 0
    assert plan.count("TakeOrderedAndProject") == 2
    assert pi.broadcast_hint_count(df) == 1
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Scan parquet") == 2
    m = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert set(
        c.split(":")[0]
        for c in m.split("struct<")[1].split(">")[0].split(",")
    ) == {"vec_id", "embedding"}


def test_heldout_perplexity_plan(spark):
    """text_heldout_perplexity: the model is one-time eager work
    (checkpointed bigram + unigram tables — Scan ExistingRDD in the
    final plan), so the RETURNED plan scans parquet exactly ONCE (the
    heldout side; the split modulo cannot push to parquet, which is
    why the doc sends 100 TB users to a split column). Zero Window
    nodes (r17: the doc-side bigram stream is a row-local zip over the
    token array, not a lead() window), the 1-row totals broadcast plus
    the OOV-floor broadcast, pure JVM, and partial aggregation on the
    doc-side reductions."""
    df = build(spark, "text_heldout_perplexity")
    plan = pi.physical_plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Scan ExistingRDD" in plan
    assert plan.count("Window [") == 0
    # 5 key shuffles: doc-side (doc_id,w1,w2) partial-agg, ctx (w1), the
    # final per-doc groupBy, and two 1-row SinglePartition merges. The
    # former lead() window's Exchange(doc_id) used to double as the
    # doc-side agg's distribution (subset-key reuse), so the count is
    # unchanged-in-kind: the zip swaps a SORTED token-stream exchange for
    # a partial-aggregated tuple exchange — fewer bytes, no sort, at any
    # scale
    assert pi.shuffle_count(df) <= 5
    assert pi.broadcast_hint_count(df) == 2
    assert pi.has_partial_aggregate(df)
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_watermark_lateness_audit_plan(spark):
    """events_watermark_lateness_audit costs exactly ONE shuffle: the
    running-max window hash-partitions on event_type and the groupBy's
    final aggregate reuses that distribution (partial+final HashAggregate
    directly over the Window output, no second exchange). One Window
    node, no hints, pure JVM, scan pruned to the three columns read."""
    df = build(spark, "events_watermark_lateness_audit")
    plan = pi.physical_plan(df)
    assert pi.shuffle_count(df) == 1
    assert plan.count("Window [") == 1
    assert pi.has_partial_aggregate(df)
    assert pi.broadcast_hint_count(df) == 0
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    m = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert set(
        c.split(":")[0]
        for c in m.split("struct<")[1].split(">")[0].split(",")
    ) == {"event_id", "ts", "event_type"}


def test_watermark_delay_sweep_plan(spark):
    """events_watermark_delay_sweep (r17) costs the audit's window
    exchange plus ONE global-aggregate fold: every rung's counters are
    conditional aggregations in a single partial+final pass (the grid
    multiplies NOTHING — no per-rung explode of the corpus; the one
    Generate node unfolds the 1-ROW aggregate into five rung rows).
    One Window node, no hints, pure JVM, scan pruned to the three
    columns read."""
    df = build(spark, "events_watermark_delay_sweep")
    plan = pi.physical_plan(df)
    assert pi.shuffle_count(df) == 2  # window + SinglePartition fold
    assert plan.count("Window [") == 1
    assert pi.has_partial_aggregate(df)
    assert pi.broadcast_hint_count(df) == 0
    # the Generate (explode) sits ABOVE the aggregate — it unfolds the
    # 1-row result, never the corpus
    g = plan.index("Generate")
    assert "HashAggregate" in plan[g:]
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    m = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert set(
        c.split(":")[0]
        for c in m.split("struct<")[1].split(">")[0].split(",")
    ) == {"event_id", "ts", "event_type"}


def test_session_gap_sweep_plan(spark):
    """events_session_gap_sweep (r17) mirrors the delay sweep's shape:
    ONE keyed exchange (the per-user LAG window), then ONE global
    partial+final conditional aggregation computing every rung in a
    single pass — the grid multiplies nothing; the one Generate node
    unfolds the 1-ROW aggregate into five rung rows. One Window node,
    no hints, pure JVM, scan pruned to the three columns read."""
    df = build(spark, "events_session_gap_sweep")
    plan = pi.physical_plan(df)
    assert pi.shuffle_count(df) == 2  # window + SinglePartition fold
    assert plan.count("Window [") == 1
    assert pi.has_partial_aggregate(df)
    assert pi.broadcast_hint_count(df) == 0
    g = plan.index("Generate")
    assert "HashAggregate" in plan[g:]
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    m = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert set(
        c.split(":")[0]
        for c in m.split("struct<")[1].split(">")[0].split(",")
    ) == {"event_id", "ts", "user_id"}


def test_domain_caps_plan(spark):
    """pipeline_domain_caps: the heavy half is one partial-aggregated
    token sum (exactly ONE exchange, the per-source groupBy); the
    whole water-filling optimization then runs as Window passes over
    the O(|sources|) frame COALESCED to one partition — no second
    exchange (the temperature-mix discipline), no broadcast hints, no
    Python."""
    df = build(spark, "pipeline_domain_caps")
    plan = pi.physical_plan(df)
    assert pi.shuffle_count(df) == 1
    assert "Coalesce" in plan
    assert pi.has_partial_aggregate(df)
    assert pi.broadcast_hint_count(df) == 0
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
