"""Physical-plan audits — the 100 TB contract, asserted.

Each test checks the OPTIMIZED PLAN SHAPE (not results): filters reach the
parquet scan, projections prune the read schema, small dims broadcast, the
sequence-window pipeline shuffles exactly once, and top-k plans use
TakeOrdered instead of a global sort. A regression here is a 100×-scale
performance bug even when sf0.001 results stay correct.
"""

from pyspark.sql import functions as F

from sequenzo_spark.session import release_caches

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").filter(
        F.col("event_type") == "purchase"
    )
    plan = _plan(ev)
    assert "PushedFilters" in plan and "EqualTo(event_type,purchase)" in plan, plan


def test_column_pruning_in_read_schema(spark):
    # uses the events table: the documents parquet gets .cache()d by other
    # test modules, and a matching cached relation serves scans with the
    # FULL schema, masking pruning (order-dependent otherwise).
    from sequenzo_spark.driver_queries import QUERIES

    df = QUERIES["xtabs_state_hour"](spark, SF_DIR)
    plan = _plan(df)
    scan = plan[plan.index("ReadSchema"):][:200]
    assert "event_type" in scan and "ts" in scan
    assert "props" not in scan and "value" not in scan, scan


def test_nation_revenue_broadcasts_dims(spark):
    from sequenzo_spark.driver_queries import QUERIES

    df = QUERIES["nation_revenue"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2000]
    assert "CartesianProduct" not in plan


def test_cosine_topk_uses_take_ordered_not_global_sort(spark):
    from sequenzo_spark.pipeline.similarity import brute_force_cosine_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qvec = list(emb.first()["embedding"])
    plan = _plan(brute_force_cosine_topk(emb, qvec, k=10))
    assert "TakeOrderedAndProject" in plan, plan[:1500]


def test_fused_1m_rollup_shuffles_once(spark):
    """The raw→1m window pass (lead + lag + row_number + count over one
    (conv) partitioning) must plan exactly ONE exchange — the whole point of
    the fused stage (aggregates.rollup_1m_fused)."""
    from sequenzo_spark.rollup.aggregates import rollup_1m_fused, with_conv_bucket
    from sequenzo_spark.synth import generate_transcripts

    t = with_conv_bucket(
        generate_transcripts(spark, n_convs=20, seed=1), buckets=4
    ).withColumn("state", F.col("role"))
    enriched, tables = rollup_1m_fused(t)
    try:
        plan = _plan(enriched)
        n_exchanges = plan.count("Exchange hashpartitioning")
        assert n_exchanges == 1, f"{n_exchanges} exchanges:\n{plan[:3000]}"
    finally:
        release_caches()


def test_spell_table_reuses_sequence_partitioning(spark, toy):
    """spell_table groups by (seq_id, spell_id) AFTER windowing by seq_id —
    partitioning by seq_id already clusters those groups, so the aggregation
    must not add a second exchange."""
    from sequenzo_spark.operators.spells import spell_table

    plan = _plan(spell_table(toy))
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"{n} exchanges:\n{plan[:3000]}"


def test_minhash_band_join_carries_ids_only(spark):
    """The LSH band self-join must not shuffle the 64-long signatures —
    round-1 perf finding. The join-side exchanges' schemas carry only
    (doc_id, band, bucket)."""
    from sequenzo_spark.pipeline.dedup import minhash_lsh_candidates

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = minhash_lsh_candidates(docs)
    plan = _plan(df)
    # the band-bucket candidate join is whichever join keys on band/bucket
    # (SMJ/SHJ at scale, broadcast under AQE at toy scale); its keys must
    # never include the 64-long signature arrays.
    join_lines = [
        l for l in plan.splitlines() if "Join" in l and "band" in l
    ]
    assert join_lines, plan[:2000]
    for l in join_lines:
        assert "bucket" in l, l
        assert "signature" not in l and "s1#" not in l and "s2#" not in l, l


def test_top_sequences_uses_take_ordered(spark):
    """most_frequent_sequences must plan the top-k as TakeOrderedAndProject
    (per-partition heaps) — a global Sort would materialize every distinct
    sequence pattern at 100 TB."""
    from sequenzo_spark.driver_queries import QUERIES

    plan = _plan(QUERIES["top_sequences"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan[:1500]


def test_modal_sequence_broadcasts_modal_array(spark):
    """The one-row modal array must reach the per-sequence side as a
    broadcast (BroadcastNestedLoopJoin on a single-row build side), never a
    shuffled CartesianProduct over the sequence table."""
    from sequenzo_spark.driver_queries import QUERIES

    plan = _plan(QUERIES["modal_sequence_occurrences"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "Broadcast" in plan, plan[:2000]


def test_domain_combine_single_shuffle_per_input(spark):
    """combine_domains joins N inputs on one (seq_id, pos) key: at most one
    exchange per input, none between the joins."""
    from sequenzo_spark.driver_queries import QUERIES

    plan = _plan(QUERIES["domain_combine_counts"](spark, SF_DIR))
    # 2 domain inputs + 1 aggregation exchange is the ceiling; window pos
    # derivation shares the seq_id partitioning
    assert plan.count("Exchange") <= 4, plan[:2500]


def test_subsequence_mining_uses_equijoins_only(spark):
    """The kᵏ pattern joins must all hash/sort-merge on seq_id — a
    cartesian or broadcast-nested-loop join here would be the O(n²) bomb
    the per-event-aggregate design exists to avoid."""
    from sequenzo_spark.driver_queries import QUERIES

    plan = _plan(QUERIES["frequent_event_subseq"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    # the only nested-loop join allowed is the 1-row total broadcast
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan


def test_prefix_divergence_broadcasts_depth_stats(spark):
    """The per-depth moment table (max-depth rows) must re-attach to the
    rarity rows via a broadcast join, not a shuffle."""
    from sequenzo_spark.driver_queries import QUERIES

    plan = _plan(QUERIES["prefix_divergence"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_simhash_aggregates_map_side_before_shuffle(spark):
    """Round-6: simhash is an explode + codegen'd 64-conditional-sum hash
    aggregation (HOF folds are codegen-fallback; the conditional sums are
    3.5× faster at 10× bench scale). The plan invariant: the aggregation
    must be a PARTIAL (map-side) hash aggregate pair, so the doc_id
    exchange carries one 64-long row per doc per map partition — never the
    exploded token rows — and no Python boundary appears."""
    from sequenzo_spark.pipeline.dedup import simhash64

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(simhash64(docs))
    # partial + final pair: two HashAggregate nodes around the exchange
    assert plan.count("HashAggregate") == 2, plan
    assert "partial_sum" in plan, plan
    assert "SortAggregate" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_emlt_cooccurrence_is_equijoin(spark):
    """The situation co-occurrence self-join must hash/sort-merge on
    seq_id (the t_j >= t_i bound is a post-join filter) — a cartesian
    here would be O(N²) over sequences."""
    from sequenzo_spark.driver_queries import QUERIES

    plan = _plan(QUERIES["emlt_transrate"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_topp_selection_has_no_global_window(spark):
    """Round-6: the ungrouped top_proportion selection derives its
    threshold from aggregates (count + bounded top-k order statistic) and
    ranks only the boundary ties via TakeOrdered — the returned plan must
    contain NO single-partition exchange and NO window with an empty
    partition spec (the round-5 verdict's scale-killer funnelled every
    per-sequence score through one task)."""
    from sequenzo_spark.driver_queries import QUERIES

    for q in ("suffix_convergence_topp", "prefix_divergence_topp"):
        plan = _plan(QUERIES[q](spark, SF_DIR))
        # every ordered window must be PARTITIONED: an unpartitioned spec
        # reads windowspecdefinition(<expr> ASC ..., frame) — nothing
        # before the first ordering expression — while partitioned specs
        # list the partition columns first (comma before the first ASC/
        # DESC). (Global-aggregate merge exchanges over partial rows are
        # fine; a global WINDOW over the scored rows is the bug.)
        for chunk in plan.split("windowspecdefinition(")[1:]:
            for marker in (" ASC", " DESC"):
                if marker in chunk.split("specifiedwindowframe")[0]:
                    head = chunk.split(marker, 1)[0]
                    assert "," in head, f"{q}: unpartitioned window: {chunk[:160]}"
                    break
        # the boundary-tie rank plans as a bounded TakeOrdered
        assert "TakeOrderedAndProject" in plan, f"{q}:\n{plan[:2000]}"
        release_caches()


def test_suffix_convergence_broadcasts_level_stats(spark):
    """Both per-level moment tables (max-length rows) must re-attach to
    the rarity rows via broadcast joins, not shuffles."""
    from sequenzo_spark.driver_queries import QUERIES

    plan = _plan(QUERIES["suffix_convergence"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_topp_selection_job_count(spark):
    """The ungrouped top_proportion selection reads s* (the k-th most
    extreme score) and its tie budget (how often s* appears in the top k)
    from one job: each topp query of ``driver_queries`` runs 24 Spark
    jobs end to end, two fewer than with a separate strict-count action.
    Group-less jobs submitted in the window (engine thread pools) are
    counted too."""
    from sequenzo_spark.driver_queries import QUERIES

    sc = spark.sparkContext
    st = sc.statusTracker()
    for q in ("prefix_divergence_topp", "suffix_convergence_topp"):
        release_caches()
        group = f"test-jobs-{q}"
        loose = set(st.getJobIdsForGroup(None))
        sc.setJobGroup(group, group)
        try:
            QUERIES[q](spark, SF_DIR).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        n = len(st.getJobIdsForGroup(group))
        n += len(set(st.getJobIdsForGroup(None)) - loose)
        assert n == 24, (q, n)
    release_caches()


def test_cascade_job_count(spark, tmp_path):
    """The cascade takes its manifest rows and checksums from observations
    on its writes: no persisted outputs, no metrics job and no footer
    read-back. On this fixed input (20 conversations crossing midnight,
    4 buckets) a full run submits 54 Spark jobs, stable run to run; the two
    write paths it replaced took 71. The scheduler's job counter sees the
    jobs of every thread, whatever job group a reused thread carries."""
    from sequenzo_spark.rollup.cascade import run_cascade
    from sequenzo_spark.schema import ROLE_ALPHABET
    from sequenzo_spark.synth import generate_transcripts

    raw = generate_transcripts(
        spark, n_convs=20, seed=1, base_ts="2024-01-01 23:30:00"
    ).cache()
    raw.count()
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    first = scheduler.numTotalJobs()
    try:
        run_cascade(
            spark, raw, str(tmp_path / "cascade"), states=ROLE_ALPHABET,
            salt_buckets=4, job_id="jobs",
        )
    finally:
        raw.unpersist()
    n = scheduler.numTotalJobs() - first
    assert n == 54, n


def test_tree_queries_leave_no_persisted_rdds(spark):
    """The oracle parity test checks the persisted-RDD count after every
    oracled query (the ten tree queries among them); this covers the three
    queries without an oracle. One release drains what each persisted
    (``minhash_lsh_candidates`` persists its signature table)."""
    from sequenzo_spark.driver_queries import QUERIES

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    release_caches()
    before = persisted()
    for q in ("turbulence", "turbulence_norm", "minhash_lsh_candidates"):
        QUERIES[q](spark, SF_DIR).collect()
        release_caches()
        assert persisted() <= before, q


def test_release_names_are_the_session_registry():
    """The four module release names are aliases of the one registry."""
    from sequenzo_spark import session
    from sequenzo_spark.operators.prefix_tree import release_prefix_caches
    from sequenzo_spark.operators.subsequences import release_stats_caches
    from sequenzo_spark.operators.suffix_tree import release_suffix_caches
    from sequenzo_spark.pipeline.dedup import release_sig_caches

    for name in (release_prefix_caches, release_suffix_caches,
                 release_stats_caches, release_sig_caches):
        assert name is session.release_caches
