"""Cross-sectional state distributions & entropy — seqstatd/seqmodst semantics.

Reference semantics (studied, not copied):
- get_cross_sectional_entropy
  (/root/reference/sequenzo/.../overall_cross_sectional_entropy.py:16-220):
  per time position t, weighted state frequencies P[k,t] = Σw·1[s=k] /
  N_valid(t) (:93-109), Shannon entropy H(t) = -Σ p ln p (:112), normalized
  by ln K (:114-116), effective states e^H (:121), per-time freq rank and
  top-k flags (:139-143), tidy long output.
- get_modal_state_sequence (cross_sectional_indicators.py:105-195): per-time
  argmax of the weighted frequency matrix (:171-177).

This is THE continuous aggregate of the rollup engine: per (time bucket,
state) weighted counts are the stored algebraic state; entropy / effective
states / modal are derived from counts by ONE sorted fold,
:func:`fold_distribution`, which the driver queries and the cascade tiers
(``rollup.aggregates.derive_distribution``) both call. Missing states are
skipped by the counts (policy: ``operators/spells.py``). All expressions —
no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cross_sectional_distribution(
    df: DataFrame,
    bucket_col: str = "time_bucket",
    state_col: str = "state",
    weight_col: str | None = None,
) -> DataFrame:
    """Per (bucket, state): weighted count `state_count`, bucket total
    `n_valid`, share `freq`, and descending-frequency `freq_rank`."""
    wexpr = F.col(weight_col) if weight_col else F.lit(1.0)
    counts = (
        df.filter(F.col(state_col).isNotNull())
        .groupBy(F.col(bucket_col).alias("time_bucket"), F.col(state_col).alias("state"))
        .agg(F.sum(wexpr).alias("state_count"))
    )
    wb = Window.partitionBy("time_bucket")
    wr = Window.partitionBy("time_bucket").orderBy(
        F.desc("state_count"), F.asc("state")
    )
    return (
        counts.withColumn("n_valid", F.sum("state_count").over(wb))
        .withColumn("freq", F.col("state_count") / F.col("n_valid"))
        .withColumn("freq_rank", F.row_number().over(wr))
    )


def fold_distribution(
    counts: DataFrame, count_col: str, n_states: int | None = None
) -> DataFrame:
    """THE per-bucket distribution fold, shared by the driver queries
    (:func:`cross_sectional_entropy`, :func:`modal_state`) and the tiers
    (``rollup.aggregates.derive_distribution``).

    Input: (time_bucket, state, ``count_col``) with one row per state of a
    bucket. The bucket's (state, count) pairs are collected, sorted by state
    and folded once, so every float is identical at any parallelism. One
    row per bucket:

    - n_valid: the count total (seqstatd N_valid, :107);
    - entropy: -Σ p ln p (:112), ``+ 0.0`` turning IEEE −0.0 into +0.0;
    - effective_states: e^entropy (:121);
    - modal_state / modal_count: the largest count, ties to the smaller
      state (seqmodst argmax, cross_sectional_indicators.py:171-177);
    - entropy_norm, when ``n_states`` (the declared alphabet size K) is
      given: entropy / ln K (:114-116), 0.0 where ln K = 0.
    """
    g = counts.groupBy("time_bucket").agg(
        F.array_sort(
            F.collect_list(
                F.struct("state", F.col(count_col).cast("double").alias("c"))
            )
        ).alias("_arr")
    )
    g = g.withColumn(
        "n_valid", F.aggregate("_arr", F.lit(0.0), lambda a, s: a + s["c"])
    )

    def p(s):
        return s["c"] / F.col("n_valid")

    ent = F.aggregate("_arr", F.lit(0.0), lambda a, s: a + p(s) * F.log(p(s)))
    none = F.struct(F.lit(None).cast("string").alias("state"), F.lit(-1.0).alias("c"))
    modal = F.aggregate(
        "_arr", none, lambda acc, s: F.when(s["c"] > acc["c"], s).otherwise(acc)
    )
    g = g.select(
        "time_bucket",
        "n_valid",
        (-ent + F.lit(0.0)).alias("entropy"),
        modal["state"].alias("modal_state"),
        modal["c"].alias("modal_count"),
    )
    cols = [
        "time_bucket",
        "n_valid",
        "entropy",
        F.exp("entropy").alias("effective_states"),
        "modal_state",
        "modal_count",
    ]
    if n_states is not None:
        ln_k = F.log(F.lit(float(n_states)))
        cols.append(
            F.when(ln_k == 0.0, F.lit(0.0))
            .otherwise(F.col("entropy") / ln_k)
            .alias("entropy_norm")
        )
    return g.select(*cols)


def cross_sectional_entropy(dist: DataFrame, n_states: int) -> DataFrame:
    """Per bucket: Shannon entropy of the state distribution, normalized by
    ln K for the declared alphabet size ``n_states`` = K (reference
    :114-116) — :func:`fold_distribution` over ``state_count``.

    Input is the output of :func:`cross_sectional_distribution` (or any
    frame with time_bucket/state/state_count), so entropy is always derived
    from counts — the algebraic tier state.

    Output: time_bucket, n_valid, entropy, entropy_norm, effective_states.
    """
    return fold_distribution(dist, "state_count", n_states).select(
        "time_bucket", "n_valid", "entropy", "entropy_norm", "effective_states"
    )


def js_divergence_consecutive(
    dist: DataFrame, bucket_col: str = "time_bucket"
) -> DataFrame:
    """Jensen-Shannon DISTANCE between consecutive buckets' state
    distributions — compute_js_divergence semantics
    (prefix_tree/system_level_indicators.py:154-184, scipy.jensenshannon:
    sqrt of the base-e divergence; first bucket emits 0.0).

    Input is :func:`cross_sectional_distribution` output. The per-bucket
    distribution is packed into a sorted state→freq map (one row per bucket),
    lag-shifted over the bucket order, and the divergence folded as an
    expression over the sorted union of state keys — deterministic fold
    order, zero UDFs.

    The lag window is PARTITIONED BY YEAR with boundary stitching: at
    hour/day granularity an un-partitioned window is harmless, but at
    1-minute buckets over multi-year inputs it would funnel millions of map
    rows through one task. Each year lags internally; the first bucket of a
    year takes its predecessor from a tiny per-year boundary frame (one row
    per year — the year's last bucket), linked to the NEXT EXISTING year via
    a lead over that frame, so calendar gaps between years stitch correctly.
    The only un-partitioned window runs over the boundary frame itself
    (#years rows)."""
    per = dist.groupBy(F.col(bucket_col).alias("time_bucket")).agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("state", "freq")))
        ).alias("_p")
    )
    bucket_type = dict(per.dtypes)["time_bucket"]
    per = per.withColumn(
        "_yr",
        # Non-temporal bucket keys (toy integer grids) keep the legacy single
        # partition — the scale concern is minute TIMESTAMP buckets.
        F.year("time_bucket")
        if bucket_type in ("timestamp", "timestamp_ntz", "date")
        else F.lit(0),
    )
    w = Window.partitionBy("_yr").orderBy("time_bucket")
    per = per.withColumn("_q", F.lag("_p").over(w))
    # Boundary frame: last bucket per year, fed to the next existing year.
    wy = Window.partitionBy("_yr").orderBy(F.desc("time_bucket"))
    last_rows = (
        per.withColumn("_rn", F.row_number().over(wy))
        .filter(F.col("_rn") == 1)
        .select(F.col("_yr").alias("_byr"), F.col("_p").alias("_bp"))
    )
    wb = Window.orderBy("_byr")  # #years rows — un-partitioned is fine here
    feed = (
        last_rows.withColumn("_tyr", F.lead("_byr").over(wb))
        .filter(F.col("_tyr").isNotNull())
        .select(F.col("_tyr").alias("_yr"), F.col("_bp").alias("_prev_p"))
    )
    per = per.join(F.broadcast(feed), "_yr", "left").withColumn(
        "_q", F.coalesce(F.col("_q"), F.col("_prev_p"))
    )
    keys = F.array_sort(
        F.array_union(
            F.map_keys("_p"), F.map_keys(F.coalesce(F.col("_q"), F.col("_p")))
        )
    )

    def _term(acc, k):
        pv = F.coalesce(F.element_at(F.col("_p"), k), F.lit(0.0))
        qv = F.coalesce(F.element_at(F.col("_q"), k), F.lit(0.0))
        m = (pv + qv) / 2
        tp = F.when(pv > 0, pv * F.log(pv / m)).otherwise(F.lit(0.0))
        tq = F.when(qv > 0, qv * F.log(qv / m)).otherwise(F.lit(0.0))
        return acc + 0.5 * tp + 0.5 * tq

    div = F.aggregate(keys, F.lit(0.0), _term)
    jsd = F.when(F.col("_q").isNull(), F.lit(0.0)).otherwise(
        F.sqrt(F.greatest(div, F.lit(0.0)))
    )
    return per.select("time_bucket", jsd.alias("jsd"))


def modal_state(dist: DataFrame) -> DataFrame:
    """Per bucket: the modal (argmax-frequency) state and its share —
    seqmodst semantics (:171-177) from :func:`fold_distribution`. Ties go
    to the smaller state name, so the result is deterministic under any
    shuffle order."""
    return fold_distribution(dist, "state_count").select(
        "time_bucket",
        "modal_state",
        "modal_count",
        (F.col("modal_count") / F.col("n_valid")).alias("modal_freq"),
    )


def modal_sequence_occurrences(
    df: DataFrame,
    seq_col: str = "seq_id",
    order_col: str = "pos",
    state_col: str = "state",
    sep: str = "-",
) -> DataFrame:
    """seqmodst occurrence count (cross_sectional_indicators.py:180-192): the
    per-position modal-state sequence plus how many sequences MATCH it.

    The reference's wide matrix is fixed-length, so "match" is exact equality
    at every position; this engine's sequences vary in length, so a sequence
    matches iff it equals the modal sequence's PREFIX of its own length (the
    documented variable-length recast — full-length sequences reduce to the
    reference's exact-equality rule).

    Plan: per-position modal via one hash agg + one rank window over at most
    (max_len × K) rows; the modal array is ONE row (bounded by max sequence
    length) → broadcast; per-sequence arrays compare against its slice.
    Output one row: modal_seq, n_matching, n_seqs."""
    dist = cross_sectional_distribution(df, bucket_col=order_col, state_col=state_col)
    modal = modal_state(dist)  # time_bucket = pos here
    marr = modal.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("time_bucket").alias("p"), F.col("modal_state").alias("s")))
        ).alias("_m")
    ).select(F.transform("_m", lambda x: x["s"]).alias("modal_arr"))
    seqs = df.filter(F.col(state_col).isNotNull()).groupBy(F.col(seq_col)).agg(
        F.array_sort(F.collect_list(F.struct(order_col, state_col))).alias("_a")
    ).select(F.transform("_a", lambda x: x[state_col]).alias("arr"))
    j = seqs.crossJoin(F.broadcast(marr))
    match = F.col("arr") == F.slice(F.col("modal_arr"), 1, F.size("arr"))
    return j.agg(
        F.first(F.array_join("modal_arr", sep)).alias("modal_seq"),
        F.sum(match.cast("long")).alias("n_matching"),
        F.count(F.lit(1)).alias("n_seqs"),
    )


def flag_top_states(dist: DataFrame, k: int = 3) -> DataFrame:
    """is_top marker for the k dominant states per bucket (reference
    add_topk flags, overall_cross_sectional_entropy.py:139-143) — derived
    from the freq_rank column of :func:`cross_sectional_distribution`."""
    return dist.withColumn("is_top", F.col("freq_rank") <= k)
