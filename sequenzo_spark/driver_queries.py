"""Driver-contract queries: Spark implementations + DuckDB oracle SQL.

The driver's correctness gate runs each ``QUERIES[name]`` on
/root/testdata/sf0.01 and compares row count, schema, and an
order-insensitive value hash against ``ORACLE_SQL[name]`` executed by DuckDB
on the same parquet files. Rules honored here:
- every computed column aliased identically on both sides;
- every derived float rounded to 9 dp on BOTH sides (sum order differs
  between engines; integer counts stay exact);
- sequence ordering is the stable (ts, event_id) tuple so both engines
  derive the identical turn order.

The ``events`` table plays the transcript role (FIXTURES.md §4):
user_id→conv_id, event_type→role/state, ts→ts, row_number→turn_idx.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sequenzo_spark.operators.distributions import (
    cross_sectional_distribution,
    cross_sectional_entropy,
    js_divergence_consecutive,
    modal_state,
)
from sequenzo_spark.operators.indicators import (
    entropy_difference,
    integration_index,
    mean_time_in_states,
    sequence_indicators,
    spell_duration_variance,
    stat_summary,
    turbulence,
)
from sequenzo_spark.operators.spells import spell_table
from sequenzo_spark.operators.transitions import transition_counts, transition_rates
from sequenzo_spark.session import release_caches

R = 9  # rounding for derived floats on both sides

# Declared state alphabet of the events fixture (TESTDATA.md; verified
# identical at every SF). The reference requires an explicit alphabet
# (define_sequence_data.py:148) — deriving K per query via countDistinct
# would both add a full-column scan job before the real query at 100 TB and
# silently redefine K as "observed" (a state absent from a slice would
# change entropy_norm / volatility denominators).
EVENT_STATES = ["click", "error", "purchase", "signup", "view"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _event_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → canonical sequence frame (seq_id, pos, state, ts).

    pos = row_number over the stable (ts, event_id) order — the engine's
    stable-ordering invariant (SURVEY.md §1.2)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.col("user_id").alias("seq_id"),
        F.row_number().over(w).alias("pos"),
        F.col("event_type").alias("state"),
        "ts",
        "value",
        "event_id",
    )


# ---------------------------------------------------------------- queries

def q_state_dist_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sectional state distribution per 1h bucket (seqstatd freqs,
    overall_cross_sectional_entropy.py:93-109)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "time_bucket", F.date_trunc("hour", "ts")
    )
    dist = cross_sectional_distribution(ev, "time_bucket", "event_type")
    return dist.select(
        "time_bucket",
        "state",
        "state_count",
        "n_valid",
        F.round("freq", R).alias("freq"),
        F.col("freq_rank").cast("long").alias("freq_rank"),
    )


def q_xsect_entropy_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket Shannon entropy, ln-K normalized, K = the DECLARED
    alphabet size (overall_cross_sectional_entropy.py:112-121)."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.date_trunc("hour", "ts").alias("time_bucket"),
        F.col("event_type").alias("state"),
    ).agg(F.sum(F.lit(1.0)).alias("state_count"))
    ent = cross_sectional_entropy(counts, n_states=len(EVENT_STATES))
    return ent.select(
        "time_bucket",
        "n_valid",
        F.round("entropy", R).alias("entropy"),
        F.round("entropy_norm", R).alias("entropy_norm"),
        F.round("effective_states", R).alias("effective_states"),
    )


def q_modal_state_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day modal state (seqmodst argmax, cross_sectional_indicators.py:171-177)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "time_bucket", F.date_trunc("day", "ts")
    )
    dist = cross_sectional_distribution(ev, "time_bucket", "event_type")
    m = modal_state(dist)
    return m.select(
        "time_bucket",
        "modal_state",
        "modal_count",
        F.round("modal_freq", R).alias("modal_freq"),
    )


def q_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global weighted from→to transition counts (trate count=True,
    get_sm_trate_substitution_cost_matrix.pyx:73-93)."""
    turns = _event_turns(spark, sf_dir)
    return transition_counts(turns).orderBy("from_state", "to_state")


def q_transition_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-normalized transition probabilities P(to|from)."""
    turns = _event_turns(spark, sf_dir)
    rates = transition_rates(transition_counts(turns))
    return rates.select(
        "from_state",
        "to_state",
        "transition_count",
        F.round("transition_rate", R).alias("transition_rate"),
    )


def q_transition_counts_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-varying transition counts per day bucket of the from-event
    (trate time_varying=True, :50-71, buckets instead of raw positions)."""
    turns = _event_turns(spark, sf_dir).withColumn(
        "time_bucket", F.date_trunc("day", "ts")
    )
    return transition_counts(turns, bucket_col="time_bucket")


def q_spell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence spell stats over the spell table (seqdur semantics +
    var_pop, variance_of_spell_durations.py:45-48)."""
    turns = _event_turns(spark, sf_dir)
    spells = spell_table(turns)
    g = spells.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_spells"),
        F.sum("duration").alias("total_turns"),
        F.sum(F.col("duration") * F.col("duration")).alias("_sq"),
        F.max("duration").alias("max_spell_duration"),
    )
    # variance from exact integer sums with a fixed expression order so the
    # DuckDB oracle computes the bit-identical double before rounding
    n = F.col("n_spells").cast("double")
    mean = F.col("total_turns") / n
    var = F.col("_sq") / n - mean * mean
    return g.select(
        "seq_id",
        "n_spells",
        "total_turns",
        F.round(mean, R).alias("mean_spell_duration"),
        F.round(var, R).alias("spell_duration_var"),
        "max_spell_duration",
    )


def q_seq_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence indicator battery (length, visited, transitions,
    entropy, complexity…) — SURVEY.md §2.4 rows seqlength/seqtransn/
    seqient/seqici/seqivolatility."""
    turns = _event_turns(spark, sf_dir)
    ind = sequence_indicators(turns, n_states=len(EVENT_STATES))
    return ind.select(
        "seq_id",
        "length",
        "visited",
        "transitions",
        F.round("entropy", R).alias("entropy"),
        F.round("entropy_norm", R).alias("entropy_norm"),
        F.round("transitions_norm", R).alias("transitions_norm"),
        "n_spells",
        F.round("mean_spell_duration", R).alias("mean_spell_duration"),
        F.round("recurrence", R).alias("recurrence"),
        F.round("complexity", R).alias("complexity"),
        F.round("volatility", R).alias("volatility"),
    )


def q_seqconc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """seqconc: join states into 'A-B-C' per sequence in stable order
    (sequence_operations/operations.py:49-71). Array sorted by (pos) inside
    the aggregate — never relies on shuffle order."""
    turns = _event_turns(spark, sf_dir)
    arr = F.array_sort(F.collect_list(F.struct("pos", "state")))
    return turns.groupBy("seq_id").agg(
        F.array_join(F.transform(arr, lambda s: s["state"]), "-").alias("seq_str"),
        F.count(F.lit(1)).alias("length"),
    )


def q_value_rollup_1h_from_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample-cascade check: aggregate value to 1m tier, then RE-MERGE
    the algebraic 1m state into 1h (SURVEY.md §4 — sums/counts/min/max merge;
    avg derived after the merge). Oracle computes 1h directly, so a hash
    match proves the cascade is exact."""
    ev = _t(spark, sf_dir, "events")
    m1 = ev.groupBy(
        F.date_trunc("minute", "ts").alias("m_bucket"),
        F.col("event_type").alias("state"),
    ).agg(
        F.sum("value").alias("value_sum"),
        F.count("value").alias("value_count"),
        F.min("value").alias("value_min"),
        F.max("value").alias("value_max"),
    )
    # 6 dp (not the usual 9): float sums accumulate in engine-specific order;
    # at hour scale the order-difference noise (~1e-13 relative) can straddle
    # a 9-dp rounding boundary — a latent flake flagged by the round-1 advisor.
    h1 = m1.groupBy(
        F.date_trunc("hour", "m_bucket").alias("time_bucket"), "state"
    ).agg(
        F.round(F.sum("value_sum"), 6).alias("value_sum"),
        F.sum("value_count").alias("value_count"),
        F.min("value_min").alias("value_min"),
        F.max("value_max").alias("value_max"),
    )
    return h1.withColumn(
        "value_avg", F.round(F.col("value_sum") / F.col("value_count"), 6)
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over documents: hash-groupBy on md5(text); keeper =
    min(doc_id); one row per distinct text."""
    from sequenzo_spark.pipeline.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality ratios per document (whitespace tokens,
    char counts, punctuation density) — training-data text analysis."""
    docs = _t(spark, sf_dir, "documents")
    trimmed = F.trim(F.col("text"))
    n_tokens = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )
    n_chars = F.length(F.col("text"))
    n_punct = n_chars - F.length(F.regexp_replace("text", r"[.,;:!?]", ""))
    return docs.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars_text"),
        n_tokens.cast("long").alias("n_tokens"),
        n_punct.cast("long").alias("n_punct"),
        F.round(
            F.when(n_chars == 0, F.lit(0.0)).otherwise(
                n_punct.cast("double") / n_chars
            ),
            R,
        ).alias("punct_ratio"),
    )


def q_turbulence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence turbulence (seqST) — subsequence-count DP is not
    SQL-expressible; driver records the rows-only check."""
    turns = _event_turns(spark, sf_dir)
    t = turbulence(turns)
    return t.select(
        "seq_id", "n_spells", F.round("phi", 3).alias("phi"),
        F.round("turbulence", R).alias("turbulence"),
    )


def q_gapfill_locf_minutely(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense minute grid over the events value series with LOCF fill —
    the engine's gap-fill operator (operators/gapfill.py; reference ffill
    precedent seqdss.pyx:19-21)."""
    from sequenzo_spark.operators.gapfill import fill_gaps

    ev = _t(spark, sf_dir, "events")
    m = ev.groupBy(F.date_trunc("minute", "ts").alias("time_bucket")).agg(
        F.round(F.sum("value"), R).alias("value_sum")
    )
    filled = fill_gaps(m, key_cols=[], value_cols=["value_sum"],
                       step_seconds=60, method="locf")
    return filled.select("time_bucket", "value_sum", "is_gap")


def q_uniqueness_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """check_uniqueness_rate semantics (define_sequence_data.py:1295-1341):
    distinct whole-sequence patterns / n sequences."""
    turns = _event_turns(spark, sf_dir)
    arr = F.array_sort(F.collect_list(F.struct("pos", "state")))
    seqs = turns.groupBy("seq_id").agg(
        F.array_join(F.transform(arr, lambda s: s["state"]), "-").alias("s")
    )
    return seqs.agg(
        F.count(F.lit(1)).alias("n_seqs"),
        F.countDistinct("s").alias("n_unique"),
        F.round(
            F.countDistinct("s").cast("double") / F.count(F.lit(1)), R
        ).alias("uniqueness_rate"),
    )


def q_mean_time_in_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    """seqmeant with Var/SD/SE under finite-population correction
    (cross_sectional_indicators.py:25-102). All moments are exact integer
    sums → derived floats bit-identical to the oracle."""
    turns = _event_turns(spark, sf_dir)
    m = mean_time_in_states(turns, serr=True)
    return m.select(
        "state",
        F.round("mean_time", R).alias("mean_time"),
        F.round("var_time", R).alias("var_time"),
        F.round("sd_time", R).alias("sd_time"),
        F.round("se_time", R).alias("se_time"),
    )


def q_entropy_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """seqientdiff: normalized entropy of per-seq spell-duration vectors
    (entropy_difference.py:25-103)."""
    turns = _event_turns(spark, sf_dir)
    return entropy_difference(turns, norm=True).select(
        "seq_id", F.round("hdss", R).alias("hdss")
    )


def q_spell_dur_var2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """seqivardur type 2: non-visited states as 0-duration spells with the
    closed-form var_max (variance_of_spell_durations.py:50-72)."""
    turns = _event_turns(spark, sf_dir)
    v = spell_duration_variance(turns, n_states=len(EVENT_STATES), var_type=2)
    return v.select(
        "seq_id",
        "n_spells",
        F.round("meand", R).alias("meand"),
        F.round("var_spell_dur", R).alias("var_spell_dur"),
        F.round("var_max", R).alias("var_max"),
    )


def q_turbulence_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized type-2 turbulence (turbulence.py:94-145) — subsequence DP,
    rows-only driver check; exact toy parity in unit tests."""
    turns = _event_turns(spark, sf_dir)
    t = turbulence(turns, var_type=2, norm=True, states=EVENT_STATES)
    return t.select(
        "seq_id", "n_spells", F.round("phi", 3).alias("phi"),
        F.round("turbulence", R).alias("turbulence"),
    )


def q_integration_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """seqintegr: position-weighted share of state 'purchase', power 1
    (integration_index.py:88)."""
    turns = _event_turns(spark, sf_dir)
    ii = integration_index(turns, target_state="purchase", power=1.0)
    return ii.select("seq_id", F.round("integration", R).alias("integration"))


def q_seq_length_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count/mean/median/q1/q3/min/max of per-sequence lengths
    (sequence_statistics.py:85-105) — exact percentile, not approx."""
    turns = _event_turns(spark, sf_dir)
    lengths = turns.groupBy("seq_id").agg(F.count(F.lit(1)).alias("length"))
    s = stat_summary(lengths, "length")
    return s.select(
        "count",
        F.round("mean", R).alias("mean"),
        F.round("median", R).alias("median"),
        F.round("min", R).alias("min"),
        F.round("q1", R).alias("q1"),
        F.round("q3", R).alias("q3"),
        F.round("max", R).alias("max"),
    )


def q_jsd_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon distance between consecutive hourly state
    distributions (system_level_indicators.py:154-184); first bucket 0.0."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "time_bucket", F.date_trunc("hour", "ts")
    )
    dist = cross_sectional_distribution(ev, "time_bucket", "event_type")
    return js_divergence_consecutive(dist).select(
        "time_bucket", F.round("jsd", R).alias("jsd")
    )


def q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational rollup over the TPC-H tables: revenue per (region, nation)
    via lineitem⋈orders⋈customer⋈nation⋈region. The dims are broadcast —
    `.explain()` shows BroadcastHashJoin for nation/region/customer and one
    shuffle for the lineitem⋈orders hash join (SURVEY.md §2.3 join tier).
    Money math in DECIMAL so both engines aggregate exactly, cast to double
    only at the end."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    # Round-6: pre-aggregate lineitem by orderkey BEFORE the join (guide
    # §2.3 — aggregate before you shuffle): the orders join then carries one
    # row per order instead of ~4 lineitems, and the final aggregation sums
    # the per-order partials. DECIMAL sums are exact and associative, so
    # revenue (and the trailing double cast) is bit-identical; n_lineitems
    # = Σ per-order counts; n_orders keeps the countDistinct so equivalence
    # holds even without assuming o_orderkey uniqueness.
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(rev).alias("_rev"), F.count(F.lit(1)).alias("_nli")
    )
    j = (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        j.groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum("_rev").cast("double"), 2).alias("revenue"),
            F.sum("_nli").alias("n_lineitems"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


def q_person_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Person-period expansion (sequence_history_analysis.py:12-62): one row
    per observed period 1..time, event flag at the final period only.
    Person-level rows derived from events (time = turn count capped at 20)."""
    from sequenzo_spark.functions.reshape import person_period

    ev = _t(spark, sf_dir, "events")
    person = ev.groupBy(F.col("user_id").alias("id")).agg(
        F.least(F.count(F.lit(1)), F.lit(20)).cast("int").alias("time"),
        (F.col("user_id") % 2 == 0).alias("event"),
    )
    return person_period(person)


def q_find_seq_occurrences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """seqfind (operations.py:277-296): users whose whole event-type sequence
    exactly matches one of the needle users' sequences (needles: user_id<5)."""
    from sequenzo_spark.functions.seqops import find_sequence_occurrences

    turns = _event_turns(spark, sf_dir)
    needles = turns.filter(F.col("seq_id") < 5)
    return find_sequence_occurrences(needles, turns)


def q_xtabs_state_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_xtabs (define_sequence_data.py:1267-1293): weighted contingency of
    event_type × hour-of-day."""
    from sequenzo_spark.functions.seqops import get_xtabs

    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("state"),
        F.hour("ts").cast("long").alias("hour_of_day"),
    )
    return get_xtabs(ev, "state", "hour_of_day")


def q_transition_pwight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """seqtransn pwight=True (simple_characteristics.py:283-294): per-seq sum
    of global P(to|from) over consecutive DSS pairs — broadcast rate join."""
    from sequenzo_spark.operators.transitions import transition_pwight

    turns = _event_turns(spark, sf_dir)
    p = transition_pwight(turns)
    return p.select("seq_id", F.round("pwight", R).alias("pwight"), "n_dss_pairs")


def q_transition_counts_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted trate counts (get_sm_trate_substitution_cost_matrix.pyx:73-93
    with non-unit weights): weight = the FROM turn's value column. Exercises
    the weight plumbing every aggregate shares (SURVEY.md §1.1 weights row).
    6 dp: weights are real doubles, so sums are order-sensitive."""
    from sequenzo_spark.operators.transitions import transition_counts

    turns = _event_turns(spark, sf_dir)
    c = transition_counts(turns, weight_col="value")
    return c.select(
        "from_state",
        "to_state",
        F.round("transition_count", 6).alias("transition_count"),
    )


def q_gapfill_linear_minutely(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over missing minute buckets of the (sparser)
    purchase-only value series — the second gap-fill method the north rule
    names (operators/gapfill.fill_gaps method='linear')."""
    from sequenzo_spark.operators.gapfill import fill_gaps

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    m = ev.groupBy(F.date_trunc("minute", "ts").alias("time_bucket")).agg(
        F.round(F.sum("value"), R).alias("value_sum")
    )
    filled = fill_gaps(m, key_cols=[], value_cols=["value_sum"],
                       step_seconds=60, method="linear")
    # Tie-nudged 6 dp round: interpolation weights on a minute grid are
    # binary fractions (k/2^m), so interpolated values often land EXACTLY on
    # decimal .5 ties where the engines' round() tie-breaking differs; the
    # +1e-9 bias (≫ the 1-ulp cross-engine noise, ≪ the 1e-6 resolution)
    # pushes both sides off the tie in the same direction.
    return filled.select(
        "time_bucket",
        F.round(F.col("value_sum") + F.lit(1e-9), 6).alias("value_sum"),
        "is_gap",
    )


def q_state_dist_hourly_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted cross-sectional distribution (seqstatd with non-unit weights,
    overall_cross_sectional_entropy.py:93-109; weight = value col) —
    exercises the Σw·1[s=k] plumbing every aggregate claims. 6 dp on the
    weighted sums (real doubles → order-sensitive), 9 dp on the ratio;
    freq_rank omitted: ranking on float sums is tie-unstable cross-engine."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "time_bucket", F.date_trunc("hour", "ts")
    )
    dist = cross_sectional_distribution(
        ev, "time_bucket", "event_type", weight_col="value"
    )
    return dist.select(
        "time_bucket",
        "state",
        F.round("state_count", 6).alias("state_count"),
        F.round("n_valid", 6).alias("n_valid"),
        F.round("freq", R).alias("freq"),
    )


def q_mean_time_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """seqmeant with per-sequence weights (cross_sectional_indicators.py:
    25-102, weighted regime define_sequence_data.py:507-511): weight =
    seq_id%3+1 (small exact integers → all moment sums exact in float64)."""
    turns = _event_turns(spark, sf_dir).withColumn(
        "wt", (F.col("seq_id") % 3 + 1).cast("double")
    )
    m = mean_time_in_states(turns, weight_col="wt", serr=True)
    return m.select(
        "state",
        F.round("mean_time", R).alias("mean_time"),
        F.round("var_time", R).alias("var_time"),
        F.round("sd_time", R).alias("sd_time"),
        F.round("se_time", R).alias("se_time"),
    )


def q_modal_sequence_occurrences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """seqmodst occurrence count (cross_sectional_indicators.py:180-192):
    per-position modal sequence + count of sequences matching its prefix of
    their length (variable-length recast of the exact-equality rule)."""
    from sequenzo_spark.operators.distributions import modal_sequence_occurrences

    turns = _event_turns(spark, sf_dir)
    return modal_sequence_occurrences(turns)


def q_event_counts_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TSE export (to_event_rows, seqe2tse semantics) aggregated to daily
    event counts: initial-state events plus 'prev>new' transition events."""
    from sequenzo_spark.functions.seqops import to_event_rows

    turns = _event_turns(spark, sf_dir)
    ev = to_event_rows(turns, ts_col="ts")
    return ev.groupBy(
        F.date_trunc("day", "ts").alias("time_bucket"), "event"
    ).agg(F.count(F.lit(1)).alias("n_events"))


def q_top_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 whole-sequence patterns by count (most_frequent_sequences,
    §2.6) — plans as TakeOrderedAndProject, never a global sort."""
    from sequenzo_spark.functions.seqops import most_frequent_sequences

    turns = _event_turns(spark, sf_dir)
    return most_frequent_sequences(turns, k=10)


def q_domain_combine_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multidomain expanded-alphabet combine (combine_domains; CombT label
    merge, combt.py:55-70): event-type domain ⊗ value-band domain aligned on
    (seq_id, pos), counted per combined state."""
    from sequenzo_spark.functions.multidomain import combine_domains

    turns = _event_turns(spark, sf_dir)
    d1 = turns.select("seq_id", "pos", "state")
    d2 = turns.select(
        "seq_id",
        "pos",
        F.when(F.col("value") >= 100, F.lit("hi")).otherwise(F.lit("lo")).alias("state"),
    )
    comb = combine_domains({"event": d1, "band": d2})
    return comb.groupBy("state").agg(F.count(F.lit(1)).alias("n_positions"))


def q_sparse_pattern_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge_sparse_types over whole-sequence patterns: patterns with support
    < 5 relabeled 'Others' (distance-free recast of merge_sparse_combt_types,
    combt.py:220), then counted."""
    from sequenzo_spark.functions.multidomain import merge_sparse_types

    turns = _event_turns(spark, sf_dir)
    arr = F.array_sort(F.collect_list(F.struct("pos", "state")))
    pats = turns.groupBy("seq_id").agg(
        F.array_join(F.transform(arr, lambda s: s["state"]), "-").alias("state")
    )
    merged = merge_sparse_types(pats, min_size=5)
    return merged.groupBy(F.col("state").alias("pattern")).agg(
        F.count(F.lit(1)).alias("n_seqs")
    )


# ------------------------------------------- training-data pipeline queries

def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (≥0.8) via shingle equijoin —
    complete for any τ>0 (pipeline/dedup.py)."""
    from sequenzo_spark.pipeline.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.8, n=3)
    return pairs.select("d1", "d2", F.round("jaccard", R).alias("jaccard"))


def q_minhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates re-scored with EXACT shingle Jaccard (≥0.8) — turns
    the probabilistic MinHash path into an oracle-checkable statement: the
    DuckDB side computes exact all-candidate Jaccard, so any LSH recall miss
    at this SF surfaces as a row-count/hash mismatch."""
    from sequenzo_spark.pipeline.dedup import minhash_verified_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_verified_pairs(docs, threshold=0.8)
    return pairs.select("d1", "d2", F.round("jaccard", R).alias("jaccard"))


def q_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sequenzo_spark.pipeline.text import quality_metrics

    return quality_metrics(_t(spark, sf_dir, "documents"))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sequenzo_spark.pipeline.text import doc_fingerprint

    return doc_fingerprint(_t(spark, sf_dir, "documents"))


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against vec_id=0's embedding."""
    from sequenzo_spark.pipeline.similarity import brute_force_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    top = brute_force_cosine_topk(emb, list(qvec), k=10)
    return top.select("vec_id", F.round("cosine", R).alias("cosine"))


def q_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64)+LSH(16 bands) near-dup candidates — probabilistic, so
    rows-only driver check; recall/precision asserted in unit tests."""
    from sequenzo_spark.pipeline.dedup import minhash_lsh_candidates

    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_candidates(docs).filter(F.col("jaccard_est") >= 0.5)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints, engine-portable md5 token hash (hi/lo
    packed as two non-negative longs) — value-for-value ORACLE-CHECKED
    against DuckDB's identical md5/hex/bit arithmetic. The xxhash64-hashed
    production variant (`simhash64`) shares the same shuffle-free per-row
    fold and is unit-tested for bit-identity of the fold itself."""
    from sequenzo_spark.pipeline.dedup import simhash64_hilo

    return simhash64_hilo(_t(spark, sf_dir, "documents"))


def q_lsh_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN top-10 — ORACLE-CHECKED: the seeded hyperplanes
    are embedded as literals in the DuckDB oracle, which recomputes every
    bucket with identical float arithmetic and takes the exact top-k within
    the same candidate set (see _lsh_topk_oracle_sql)."""
    from sequenzo_spark.pipeline.similarity import lsh_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    top = lsh_cosine_topk(emb, list(qvec), k=10)
    return top.select("vec_id", F.round("cosine", R).alias("cosine"))


def q_ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN: top-5 neighbors for 8 query vectors at once via the
    (table, bucket) equi-join — ORACLE-CHECKED against the embedded-
    hyperplane DuckDB oracle (see _ann_batch_oracle_sql); recall vs brute
    force additionally asserted in unit tests."""
    from sequenzo_spark.pipeline.similarity import lsh_cosine_topk_batch

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = lsh_cosine_topk_batch(emb, queries, k=5, dim=_EMB_DIM)
    return top.select(
        "query_id", "vec_id", F.round("cosine", R).alias("cosine"), "rank"
    )


# --------------------------------------- event-subsequence mining queries

#: fixed probe patterns for the occurrence-count / group-comparison queries
#: (transition-representation events over the declared alphabet; patterns
#: absent from a sequence still emit dense 0/absent rows on both sides)
SUBSEQ_PATTERNS = [
    "(view>click)",
    "(view)-(click>purchase)",
    "(view>click)-(click>view)-(view>click)",
]


def q_frequent_event_subseq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent event subsequences (k ≤ 3, presence support ≥ 5%) over the
    TSE export — find_frequent_subsequences/seqefsub semantics
    (reference event_sequences/core.py:601) as per-event-aggregate
    self-joins (operators/subsequences.py)."""
    from sequenzo_spark.functions.seqops import to_event_rows
    from sequenzo_spark.operators.subsequences import frequent_subsequences

    ev = to_event_rows(_event_turns(spark, sf_dir))
    out = frequent_subsequences(ev, max_k=3, min_support_ratio=0.05)
    return out.select(
        "subseq", "k", "n_seqs", F.round("support", R).alias("support")
    )


def q_subseq_occurrence_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence CDIST_O occurrence counts of three fixed patterns —
    count_subsequence_occurrences/seqeapplysub semantics (core.py:702) via
    the closed form of the greedy start-position counter (:1574-1589)."""
    from sequenzo_spark.functions.seqops import to_event_rows
    from sequenzo_spark.operators.subsequences import (
        count_subsequence_occurrences,
    )

    ev = to_event_rows(_event_turns(spark, sf_dir))
    return count_subsequence_occurrences(ev, SUBSEQ_PATTERNS, method="count")


def q_subseq_group_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square association of pattern presence with a 2-level group
    (seq_id parity) — compare_groups/seqecmpgroup semantics (core.py:785)
    with scipy's Yates-at-dof-1 convention."""
    from sequenzo_spark.functions.seqops import to_event_rows
    from sequenzo_spark.operators.subsequences import compare_group_subsequences

    turns = _event_turns(spark, sf_dir)
    ev = to_event_rows(turns)
    groups = turns.select("seq_id").distinct().select(
        "seq_id", (F.col("seq_id") % 2).alias("group")
    )
    # the operator persists its per-event aggregate: it feeds one cnt_df
    # branch per pattern plus the dense-seqs frame, and uncached it would
    # re-derive the whole event window pipeline once per pattern
    out = compare_group_subsequences(ev, groups, SUBSEQ_PATTERNS)
    return out.select(
        "subseq",
        F.round("statistic", R).alias("statistic"),
        "dof",
        "n_present",
        "n_total",
    )


def q_prefix_tree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """System-level prefix-tree indicators: distinct-prefix count and
    branching factor per depth (compute_prefix_count /
    compute_branching_factor, prefix_tree/system_level_indicators.py:110,
    :131) — closed-form count ratios, no tree materialization."""
    from sequenzo_spark.operators.prefix_tree import prefix_tree_stats

    turns = _event_turns(spark, sf_dir)
    out = prefix_tree_stats(turns)
    return out.select(
        "t", "n_prefixes", F.round("branching_factor", R).alias("branching_factor")
    )


def q_prefix_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Individual-level prefix rarity score (Σ −ln(freq/N)) and path
    uniqueness (prefix_tree/individual_level_indicators.py:46, :1282)."""
    from sequenzo_spark.operators.prefix_tree import prefix_rarity

    turns = _event_turns(spark, sf_dir)
    out = prefix_rarity(turns)
    return out.select(
        "seq_id", F.round("rarity_score", R).alias("rarity_score"),
        "path_uniqueness",
    )


def q_prefix_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Individual divergence flags via the z-score window method
    (IndividualDivergence.compute_diverged / compute_standardized_rarity_score,
    prefix_tree/individual_level_indicators.py:99-280, :647) — window=2
    consecutive above-threshold years from depth 2 on."""
    from sequenzo_spark.operators.prefix_tree import prefix_divergence

    turns = _event_turns(spark, sf_dir)
    out = prefix_divergence(turns, z_threshold=1.0, min_t=2, window=2)
    return out.select(
        "seq_id",
        F.round("std_score", R).alias("std_score"),
        "diverged",
        "first_divergence_t",
    )


def q_spell_prefix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spell-based prefix tree (level = spell index,
    prefix_tree/spell_level_indicators.py:155 build_spell_prefix_tree /
    spell_individual_level_indicators.py:40): the same prefix-count +
    branching-factor aggregate over the SPELL table — level k = after the
    k-th spell — composing spell_table with prefix_tree_stats."""
    from sequenzo_spark.operators.prefix_tree import prefix_tree_stats
    from sequenzo_spark.operators.spells import spell_table

    turns = _event_turns(spark, sf_dir)
    spells = spell_table(turns)
    out = prefix_tree_stats(spells, order_col="spell_id")
    return out.select(
        "t", "n_prefixes", F.round("branching_factor", R).alias("branching_factor")
    )


def q_suffix_tree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """System-level suffix-tree indicators, position mode: distinct
    SUBSTRING count per length t and merging factor n(t)/n(t−1)
    (suffix_tree/system_level_indicators.py compute_suffix_count :110 /
    compute_merging_factor :128 — the reference tree inserts every suffix
    so its keys are the corpus substrings). max_len=6 bounds the
    quadratic substring family to n-gram statistics (identical values for
    t ≤ 6)."""
    from sequenzo_spark.operators.suffix_tree import suffix_tree_stats

    turns = _event_turns(spark, sf_dir)
    out = suffix_tree_stats(turns, max_len=6)
    return out.select(
        "t", "n_suffixes", F.round("merging_factor", R).alias("merging_factor")
    )


def q_suffix_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Individual-level suffix rarity score (Σ −ln(freq/N + 1e-10) over
    suffix lengths) and path uniqueness
    (suffix_tree/individual_level_indicators.py :718, :988)."""
    from sequenzo_spark.operators.suffix_tree import suffix_rarity

    turns = _event_turns(spark, sf_dir)
    out = suffix_rarity(turns)
    return out.select(
        "seq_id", F.round("rarity_score", R).alias("rarity_score"),
        "path_uniqueness",
    )


def q_suffix_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Individual convergence flags via the z-score window method — the
    suffix mirror of prefix_divergence (IndividualConvergence
    .compute_converged / compute_standardized_rarity_score,
    suffix_tree/individual_level_indicators.py:107-726) — window=2
    consecutive below-(−1.0)-z years from year 1 on."""
    from sequenzo_spark.operators.suffix_tree import suffix_convergence

    turns = _event_turns(spark, sf_dir)
    out = suffix_convergence(turns, z_threshold=1.0, min_t=1, window=2)
    return out.select(
        "seq_id",
        F.round("std_score", R).alias("std_score"),
        "converged",
        "first_convergence_t",
    )


def q_suffix_convergence_topp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convergence via the top_proportion selection method (the reference's
    rank branch, suffix_tree/individual_level_indicators.py:181-205):
    the floor(0.2·n_valid) smallest aggregated std_scores are flagged;
    first_convergence_t = earliest year whose window-max z is ≤ the
    selection threshold (:449-487)."""
    from sequenzo_spark.operators.suffix_tree import suffix_convergence

    turns = _event_turns(spark, sf_dir)
    out = suffix_convergence(
        turns, min_t=1, window=1, method="top_proportion", proportion=0.2
    )
    return out.select(
        "seq_id",
        F.round("std_score", R).alias("std_score"),
        "converged",
        "first_convergence_t",
    )


def q_prefix_divergence_topp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Divergence via the top_proportion selection method
    (prefix_tree/individual_level_indicators.py:165-211): the
    floor(0.2·n_valid) LARGEST aggregated std_scores are flagged
    (direction high); first_divergence_t = earliest year whose window-min
    z is ≥ the selection threshold."""
    from sequenzo_spark.operators.prefix_tree import prefix_divergence

    turns = _event_turns(spark, sf_dir)
    out = prefix_divergence(
        turns, min_t=2, window=1, method="top_proportion", proportion=0.2
    )
    return out.select(
        "seq_id",
        F.round("std_score", R).alias("std_score"),
        "diverged",
        "first_divergence_t",
    )


def q_spell_suffix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spell-based suffix tree (level k = last k spells,
    suffix_tree/spell_level_indicators.py build_spell_suffix_tree :104 /
    compute_suffix_count_spell :158 / compute_merging_factor_spell :173):
    one reversed insert per sequence → distinct sequence-suffix counts —
    composing spell_table with spell_suffix_stats."""
    from sequenzo_spark.operators.spells import spell_table
    from sequenzo_spark.operators.suffix_tree import spell_suffix_stats

    turns = _event_turns(spark, sf_dir)
    spells = spell_table(turns)
    out = spell_suffix_stats(spells, order_col="spell_id")
    return out.select(
        "k", "n_suffixes", F.round("merging_factor", R).alias("merging_factor")
    )


def q_emlt_transrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMLT situation transition rates (TraMineRextras seqemlt's
    ``transrate``, /root/reference/sequenzo/emlt/seqemlt.py:87): weighted
    co-occurrence of (state, t) situation pairs with t_j ≥ t_i divided by
    the source situation's weight — the data-scale stage of the EMLT
    pipeline, restated as a per-sequence self-equijoin. Restricted to the
    first 12 positions (the situation grid is |alphabet|×periods)."""
    from sequenzo_spark.operators.emlt import situation_cooccurrence

    turns = _event_turns(spark, sf_dir).filter(F.col("pos") <= 12)
    out = situation_cooccurrence(turns)
    return out.select(
        "ti", "si", "tj", "sj", "cooc", F.round("rate", R).alias("rate")
    )


def q_spell_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Kaplan–Meier spell-survival curves per state
    (with_event_history_analysis/spell_survival_analysis.py
    _weighted_kaplan_meier :138 + the last-spell-censored status
    convention :129): n.risk / n.event / surv / Greenwood std.err at every
    distinct spell duration."""
    from sequenzo_spark.operators.survival import spell_survival

    turns = _event_turns(spark, sf_dir)
    out = spell_survival(turns)
    return out.select(
        "stratum",
        "time",
        "n_risk",
        "n_event",
        F.round("surv", R).alias("surv"),
        F.round("std_err", R).alias("std_err"),
    )


def q_badness_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """seqibad (ranked_indicators.py:134): Σ_pos cost(state)·pos / Σ_pos
    pos with default uniformly spaced precarity costs over the sorted
    alphabet (linspace 0..1)."""
    from sequenzo_spark.operators.ranked import badness_index

    turns = _event_turns(spark, sf_dir)
    # declared alphabet: sorted(EVENT_STATES) == the operator's derived
    # sorted-distinct default at every SF, minus one eager distinct job
    out = badness_index(turns, state_order=sorted(EVENT_STATES))
    return out.select("seq_id", F.round("badness", R).alias("badness"))


def q_degradation_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """seqidegrad, method=RANK defaults (ranked_indicators.py:198): over
    DSS transitions, Σ (cost_to − cost_from)·j/Σ_{m≤j}m (for
    penalized=BOTH the RANK weight times the sign IS the signed cost
    difference), zeroed when no weighted transitions exist."""
    from sequenzo_spark.operators.ranked import degradation_index

    turns = _event_turns(spark, sf_dir)
    out = degradation_index(turns, state_order=sorted(EVENT_STATES))
    return out.select(
        "seq_id", F.round("degradation", R).alias("degradation")
    )


def q_pos_neg_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """seqipos "share" (binary_indicators.py:131): proportion of positive
    spells over the DSS (dss=True default), positive = {click, purchase,
    signup}, negative = the alphabet complement."""
    from sequenzo_spark.operators.indicators import positive_negative_indicator

    turns = _event_turns(spark, sf_dir)
    out = positive_negative_indicator(
        turns,
        pos_states=["click", "purchase", "signup"],
        neg_states=["error", "view"],
    )
    return out.select("seq_id", F.round("share", R).alias("share"))


def q_duration_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FES duration features (build_duration_features,
    feature_extraction_and_selection/duration_timing_feature_builders.py:27):
    dense DUR_<state> totals of spell steps per sequence, long format."""
    from sequenzo_spark.operators.features import duration_features

    turns = _event_turns(spark, sf_dir)
    out = duration_features(
        turns, state_groups={s: [s] for s in sorted(EVENT_STATES)}
    )
    return out.select("seq_id", "feature", "value")


def q_sequence_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHA person-period history rows (get_sequence_history_data,
    with_event_history_analysis/sequence_history_analysis.py:116), long
    recast carrying both the left-aligned position index and the
    right-aligned Tm index; observation duration capped at 12 periods
    (SHA is inherently quadratic in duration)."""
    from sequenzo_spark.functions.history import sequence_history_data

    turns = _event_turns(spark, sf_dir)
    lens = turns.groupBy("seq_id").agg(F.max("pos").alias("_n"))
    dur = lens.select(
        "seq_id",
        F.least(F.col("_n"), F.lit(12)).alias("time"),
        F.lit(True).alias("event"),
    )
    out = sequence_history_data(turns, dur)
    return out.select(
        "seq_id", "t", F.col("event").cast("int").alias("event"),
        "hist_pos", "tm", "state",
    )


def _after_release(q):
    """``q`` run after :func:`release_caches`: each query plans against an
    empty cache registry, so no frame an earlier query persisted stands in
    for a sub-plan of this one. The release comes before any table read, so
    queries started together in threads release before any of them
    persists; a frame released under a running plan is recomputed, never
    wrong."""

    @functools.wraps(q)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_caches()
        return q(spark, sf_dir)

    return run


QUERIES = {
    name: _after_release(q)
    for name, q in {
        "state_dist_hourly": q_state_dist_hourly,
        "xsect_entropy_hourly": q_xsect_entropy_hourly,
        "modal_state_daily": q_modal_state_daily,
        "transition_counts": q_transition_counts,
        "transition_rates": q_transition_rates,
        "transition_counts_daily": q_transition_counts_daily,
        "spell_stats": q_spell_stats,
        "seq_indicators": q_seq_indicators,
        "seqconc": q_seqconc,
        "gapfill_locf_minutely": q_gapfill_locf_minutely,
        "uniqueness_rate": q_uniqueness_rate,
        "value_rollup_1h_from_1m": q_value_rollup_1h_from_1m,
        "dedup_exact": q_dedup_exact,
        "token_stats": q_token_stats,
        "turbulence": q_turbulence,
        "mean_time_in_states": q_mean_time_in_states,
        "entropy_diff": q_entropy_diff,
        "spell_dur_var2": q_spell_dur_var2,
        "turbulence_norm": q_turbulence_norm,
        "integration_index": q_integration_index,
        "seq_length_summary": q_seq_length_summary,
        "jsd_hourly": q_jsd_hourly,
        "nation_revenue": q_nation_revenue,
        "person_period": q_person_period,
        "find_seq_occurrences": q_find_seq_occurrences,
        "xtabs_state_hour": q_xtabs_state_hour,
        "transition_pwight": q_transition_pwight,
        "transition_counts_weighted": q_transition_counts_weighted,
        "gapfill_linear_minutely": q_gapfill_linear_minutely,
        "state_dist_hourly_weighted": q_state_dist_hourly_weighted,
        "mean_time_weighted": q_mean_time_weighted,
        "modal_sequence_occurrences": q_modal_sequence_occurrences,
        "event_counts_daily": q_event_counts_daily,
        "top_sequences": q_top_sequences,
        "domain_combine_counts": q_domain_combine_counts,
        "sparse_pattern_counts": q_sparse_pattern_counts,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "quality_metrics": q_quality_metrics,
        "doc_fingerprint": q_doc_fingerprint,
        "cosine_topk": q_cosine_topk,
        "minhash_lsh_candidates": q_minhash_lsh_candidates,
        "minhash_verified_pairs": q_minhash_verified_pairs,
        "simhash": q_simhash,
        "lsh_cosine_topk": q_lsh_cosine_topk,
        "ann_batch_topk": q_ann_batch_topk,
        "frequent_event_subseq": q_frequent_event_subseq,
        "subseq_occurrence_counts": q_subseq_occurrence_counts,
        "subseq_group_chisq": q_subseq_group_chisq,
        "prefix_tree_stats": q_prefix_tree_stats,
        "prefix_rarity": q_prefix_rarity,
        "prefix_divergence": q_prefix_divergence,
        "spell_prefix_stats": q_spell_prefix_stats,
        "suffix_tree_stats": q_suffix_tree_stats,
        "suffix_rarity": q_suffix_rarity,
        "suffix_convergence": q_suffix_convergence,
        "suffix_convergence_topp": q_suffix_convergence_topp,
        "prefix_divergence_topp": q_prefix_divergence_topp,
        "spell_suffix_stats": q_spell_suffix_stats,
        "emlt_transrate": q_emlt_transrate,
        "spell_survival": q_spell_survival,
        "badness_index": q_badness_index,
        "degradation_index": q_degradation_index,
        "pos_neg_share": q_pos_neg_share,
        "duration_features": q_duration_features,
        "sequence_history": q_sequence_history,
    }.items()
}

# ------------------------------------------------------------- oracle SQL

_TURNS_CTE = """
turns AS (
    SELECT user_id AS seq_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
           event_type AS state, ts, value, event_id
    FROM events
)"""

_SPELLS_CTE = _TURNS_CTE + """,
marked AS (
    SELECT *, CASE WHEN lag(state) OVER (PARTITION BY seq_id ORDER BY pos)
                        IS DISTINCT FROM state THEN 1 ELSE 0 END AS chg
    FROM turns
),
grouped AS (
    SELECT *, sum(chg) OVER (PARTITION BY seq_id ORDER BY pos) AS spell_id
    FROM marked
),
spells AS (
    SELECT seq_id, spell_id, min(state) AS state, count(*) AS duration
    FROM grouped GROUP BY seq_id, spell_id
)"""

# suffix rows: k = suffix length (time index from end), suffix = states
# from this position through the end (mirrors operators/suffix_tree.py)
_SFX_CTE = _TURNS_CTE + """,
sfx AS (
    SELECT seq_id,
           count(*) OVER w AS k,
           string_agg(state, chr(31)) OVER w AS suffix
    FROM turns
    WINDOW w AS (PARTITION BY seq_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)"""

def _sql_double(x: float) -> str:
    """A DuckDB literal that parses as DOUBLE (not DECIMAL): exponent-form
    literals are typed DOUBLE, and repr() round-trips the exact value."""
    lit = repr(float(x))
    return lit if ("e" in lit or "E" in lit) else lit + "e0"


def _lsh_bucket_sql(vec_expr: str, planes) -> str:
    """Sign-LSH bucket id of ``vec_expr`` for one table's hyperplanes —
    bit i = 1[<v, plane_i> >= 0], the exact expression signature_bits_col
    evaluates Spark-side (pipeline/similarity.py). The dot product uses the
    same list_sum shape the cosine_topk oracle already hash-matches."""
    terms = []
    for i, p in enumerate(planes):
        lits = ", ".join(_sql_double(x) for x in p)
        dot = (
            f"list_sum(list_transform(list_zip({vec_expr}, [{lits}]), "
            f"x -> CAST(x[1] AS DOUBLE) * x[2]))"
        )
        terms.append(f"CASE WHEN {dot} >= 0 THEN {1 << i} ELSE 0 END")
    return "(" + "\n             + ".join(terms) + ")"


_EMB_DIM = 64  # embeddings fixture dimensionality (TESTDATA.md, all SFs)


def _lsh_tables_planes(n_planes: int = 4, n_tables: int = 8, seed: int = 42):
    from sequenzo_spark.pipeline.similarity import _hyperplane

    return [
        [_hyperplane(_EMB_DIM, t * n_planes + i, seed) for i in range(n_planes)]
        for t in range(n_tables)
    ]


def _cos_sql(a: str, b: str) -> str:
    """Exact-cosine SQL matching Spark's fold order (the proven
    cosine_topk oracle expression)."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
        f" / (sqrt(list_sum(list_transform({a}, "
        f"v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))"
        f" * sqrt(list_sum(list_transform({b}, "
        f"v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))"
    )


def _lsh_topk_oracle_sql() -> str:
    """Oracle for q_lsh_cosine_topk: the hyperplanes are DETERMINISTIC
    (seeded splitmix mix), so the SQL embeds them as literals, recomputes
    every vector's sign-LSH buckets AND the query's buckets with identical
    float arithmetic, filters to the same candidate set, and takes the exact
    cosine top-k within it. Any recall/bucketing divergence between the
    engines surfaces as a row/hash mismatch — the minhash_verified_pairs
    trick applied to ANN."""
    tp = _lsh_tables_planes()
    vb = ",\n               ".join(
        f"{_lsh_bucket_sql('e.embedding', planes)} AS vb_{t}"
        for t, planes in enumerate(tp)
    )
    qb = ",\n               ".join(
        f"{_lsh_bucket_sql('qe', planes)} AS qb_{t}"
        for t, planes in enumerate(tp)
    )
    match = " OR ".join(f"b.vb_{t} = qb.qb_{t}" for t in range(len(tp)))
    return f"""
        WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        b AS (
            SELECT e.vec_id, e.embedding,
               {vb}
            FROM embeddings e
        ),
        qb AS (
            SELECT {qb}
            FROM q
        ),
        cand AS (
            SELECT b.vec_id, b.embedding FROM b, qb WHERE {match}
        ),
        scored AS (
            SELECT c.vec_id, {_cos_sql('c.embedding', 'q.qe')} AS cos_raw
            FROM cand c, q
        )
        SELECT vec_id, round(cos_raw, {R}) AS cosine
        FROM scored ORDER BY cos_raw DESC, vec_id ASC LIMIT 10
    """


def _ann_batch_oracle_sql() -> str:
    """Oracle for q_ann_batch_topk — same embedded-hyperplane device as
    _lsh_topk_oracle_sql, batched: candidates = (query, vector) pairs
    sharing any table bucket, then exact cosine + per-query row_number
    top-5 with the same (cosine DESC, vec_id ASC) tie-break."""
    tp = _lsh_tables_planes()
    vb = ",\n               ".join(
        f"{_lsh_bucket_sql('e.embedding', planes)} AS b_{t}"
        for t, planes in enumerate(tp)
    )
    qb = ",\n               ".join(
        f"{_lsh_bucket_sql('e.embedding', planes)} AS b_{t}"
        for t, planes in enumerate(tp)
    )
    match = " OR ".join(f"v.b_{t} = q.b_{t}" for t in range(len(tp)))
    return f"""
        WITH v AS (
            SELECT e.vec_id, e.embedding,
               {vb}
            FROM embeddings e
        ),
        q AS (
            SELECT e.vec_id AS query_id, e.embedding AS qe,
               {qb}
            FROM embeddings e WHERE e.vec_id < 8
        ),
        cand AS (
            SELECT DISTINCT q.query_id, v.vec_id FROM v, q WHERE {match}
        ),
        scored AS (
            SELECT c.query_id, c.vec_id,
                   {_cos_sql('v.embedding', 'q.qe')} AS cos_raw
            FROM cand c
            JOIN v ON v.vec_id = c.vec_id
            JOIN q ON q.query_id = c.query_id
        ),
        ranked AS (
            SELECT query_id, vec_id, cos_raw,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_raw DESC, vec_id ASC)
                       AS rank
            FROM scored
        )
        SELECT query_id, vec_id, round(cos_raw, {R}) AS cosine,
               CAST(rank AS INTEGER) AS rank
        FROM ranked WHERE rank <= 5
    """


def _simhash_oracle_sql() -> str:
    """DuckDB SimHash oracle, generated: 64 per-bit conditional sums over
    the md5-hashed token multiset, then majority-bit packing into the same
    (simhash_hi, simhash_lo) non-negative longs as simhash64_hilo."""
    bit_sums = ",\n               ".join(
        f"sum(CASE WHEN (({'lo' if b < 32 else 'hi'} >> {b % 32}) & 1) = 1 "
        f"THEN 1 ELSE -1 END) AS b{b}"
        for b in range(64)
    )
    lo_terms = " + ".join(
        f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(32)
    )
    hi_terms = " + ".join(
        f"CASE WHEN b{b} > 0 THEN {1 << (b - 32)} ELSE 0 END"
        for b in range(32, 64)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
            FROM documents WHERE text IS NOT NULL
        ),
        h AS (
            SELECT doc_id,
                   ('0x' || substr(md5(t), 1, 8))::BIGINT AS hi,
                   ('0x' || substr(md5(t), 9, 8))::BIGINT AS lo
            FROM toks
        ),
        c AS (
            SELECT doc_id,
               {bit_sums}
            FROM h GROUP BY doc_id
        )
        SELECT doc_id,
               CAST({hi_terms} AS BIGINT) AS simhash_hi,
               CAST({lo_terms} AS BIGINT) AS simhash_lo
        FROM c
    """


_EV_CTE = """
turns AS (
    SELECT user_id AS seq_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
           event_type AS state
    FROM events
),
ev0 AS (
    SELECT seq_id, pos,
           CASE WHEN lag(state) OVER w IS NULL THEN state
                WHEN lag(state) OVER w <> state
                    THEN lag(state) OVER w || '>' || state
           END AS event
    FROM turns WINDOW w AS (PARTITION BY seq_id ORDER BY pos)
),
e AS (SELECT seq_id, pos, event FROM ev0 WHERE event IS NOT NULL),
pe AS (
    SELECT seq_id, event, min(pos) AS fp, max(pos) AS lp, count(*) AS n,
           list_sort(list(pos)) AS ps
    FROM e GROUP BY seq_id, event
)"""


def _subseq_cnt_sql(evs: list[str]) -> str:
    """One SELECT producing (seq_id, cnt BIGINT) for a parsed pattern —
    the same closed-form CDIST_O expressions the Spark operator uses."""
    if len(evs) == 1:
        return (
            f"SELECT seq_id, CAST(n AS BIGINT) AS cnt FROM pe "
            f"WHERE event = '{evs[0]}'"
        )
    if len(evs) == 2:
        return (
            f"SELECT a.seq_id, "
            f"CAST(len(list_filter(a.ps, p -> p < b.lp)) AS BIGINT) AS cnt "
            f"FROM pe a JOIN pe b ON a.seq_id = b.seq_id "
            f"AND a.event = '{evs[0]}' AND b.event = '{evs[1]}'"
        )
    return (
        f"SELECT a.seq_id, "
        f"CAST(len(list_filter(a.ps, p -> len(list_filter(b.ps, "
        f"q -> q > p AND q < c.lp)) > 0)) AS BIGINT) AS cnt "
        f"FROM pe a JOIN pe b ON a.seq_id = b.seq_id "
        f"JOIN pe c ON a.seq_id = c.seq_id "
        f"AND a.event = '{evs[0]}' AND b.event = '{evs[1]}' "
        f"AND c.event = '{evs[2]}'"
    )


def _subseq_counts_union_sql() -> str:
    """Dense (seq_id, subseq, cnt) rows for every SUBSEQ_PATTERNS entry."""
    from sequenzo_spark.operators.subsequences import parse_subsequence

    parts = []
    for pat in SUBSEQ_PATTERNS:
        evs = parse_subsequence(pat)
        parts.append(
            f"SELECT s.seq_id, '{pat}' AS subseq, "
            f"coalesce(c.cnt, 0) AS cnt "
            f"FROM seqs s LEFT JOIN ({_subseq_cnt_sql(evs)}) c "
            f"ON s.seq_id = c.seq_id"
        )
    return " UNION ALL ".join(parts)


ORACLE_SQL = {
    "state_dist_hourly": f"""
        WITH c AS (
            SELECT date_trunc('hour', ts) AS time_bucket, event_type AS state,
                   CAST(count(*) AS DOUBLE) AS state_count
            FROM events GROUP BY 1, 2
        )
        SELECT time_bucket, state, state_count,
               sum(state_count) OVER (PARTITION BY time_bucket) AS n_valid,
               round(state_count / sum(state_count) OVER (PARTITION BY time_bucket), {R}) AS freq,
               row_number() OVER (PARTITION BY time_bucket
                                  ORDER BY state_count DESC, state ASC) AS freq_rank
        FROM c
    """,
    "xsect_entropy_hourly": f"""
        WITH c AS (
            SELECT date_trunc('hour', ts) AS time_bucket, event_type AS state,
                   CAST(count(*) AS DOUBLE) AS state_count
            FROM events GROUP BY 1, 2
        ),
        d AS (
            SELECT time_bucket, state, state_count,
                   sum(state_count) OVER (PARTITION BY time_bucket) AS n_valid
            FROM c
        ),
        k AS (SELECT CAST({len(EVENT_STATES)} AS DOUBLE) AS kk)  -- declared alphabet K, same constant as the Spark side
        SELECT time_bucket,
               any_value(n_valid) AS n_valid,
               round(-sum((state_count / n_valid) * ln(state_count / n_valid)), {R}) AS entropy,
               round(-sum((state_count / n_valid) * ln(state_count / n_valid))
                     / ln((SELECT kk FROM k)), {R}) AS entropy_norm,
               round(exp(-sum((state_count / n_valid) * ln(state_count / n_valid))), {R})
                   AS effective_states
        FROM d GROUP BY time_bucket
    """,
    "modal_state_daily": f"""
        WITH c AS (
            SELECT date_trunc('day', ts) AS time_bucket, event_type AS state,
                   CAST(count(*) AS DOUBLE) AS state_count
            FROM events GROUP BY 1, 2
        ),
        r AS (
            SELECT *, sum(state_count) OVER (PARTITION BY time_bucket) AS n_valid,
                   row_number() OVER (PARTITION BY time_bucket
                                      ORDER BY state_count DESC, state ASC) AS rk
            FROM c
        )
        SELECT time_bucket, state AS modal_state, state_count AS modal_count,
               round(state_count / n_valid, {R}) AS modal_freq
        FROM r WHERE rk = 1
    """,
    "transition_counts": f"""
        WITH {_TURNS_CTE},
        pairs AS (
            SELECT state AS from_state,
                   lead(state) OVER (PARTITION BY seq_id ORDER BY pos) AS to_state
            FROM turns
        )
        SELECT from_state, to_state, CAST(count(*) AS DOUBLE) AS transition_count
        FROM pairs WHERE to_state IS NOT NULL
        GROUP BY from_state, to_state
    """,
    "transition_rates": f"""
        WITH {_TURNS_CTE},
        pairs AS (
            SELECT state AS from_state,
                   lead(state) OVER (PARTITION BY seq_id ORDER BY pos) AS to_state
            FROM turns
        ),
        counts AS (
            SELECT from_state, to_state, CAST(count(*) AS DOUBLE) AS transition_count
            FROM pairs WHERE to_state IS NOT NULL
            GROUP BY from_state, to_state
        )
        SELECT from_state, to_state, transition_count,
               round(transition_count /
                     sum(transition_count) OVER (PARTITION BY from_state), {R})
                   AS transition_rate
        FROM counts
    """,
    "transition_counts_daily": f"""
        WITH {_TURNS_CTE},
        pairs AS (
            SELECT date_trunc('day', ts) AS time_bucket, state AS from_state,
                   lead(state) OVER (PARTITION BY seq_id ORDER BY pos) AS to_state
            FROM turns
        )
        SELECT time_bucket, from_state, to_state,
               CAST(count(*) AS DOUBLE) AS transition_count
        FROM pairs WHERE to_state IS NOT NULL
        GROUP BY time_bucket, from_state, to_state
    """,
    "spell_stats": f"""
        WITH {_SPELLS_CTE},
        g AS (
            -- CAST: DuckDB sums BIGINT into HUGEINT (hashes as float64);
            -- Spark sums into int64 — cast so both sides hash identically.
            SELECT seq_id, count(*) AS n_spells,
                   CAST(sum(duration) AS BIGINT) AS total_turns,
                   CAST(sum(duration * duration) AS BIGINT) AS sq,
                   max(duration) AS max_spell_duration
            FROM spells GROUP BY seq_id
        )
        SELECT seq_id, n_spells, total_turns,
               round(total_turns / CAST(n_spells AS DOUBLE), {R})
                   AS mean_spell_duration,
               round(sq / CAST(n_spells AS DOUBLE)
                     - (total_turns / CAST(n_spells AS DOUBLE))
                       * (total_turns / CAST(n_spells AS DOUBLE)), {R})
                   AS spell_duration_var,
               max_spell_duration
        FROM g
    """,
    "seq_indicators": f"""
        WITH {_SPELLS_CTE},
        k AS (SELECT CAST({len(EVENT_STATES)} AS DOUBLE) AS kk),  -- declared alphabet K, same constant as the Spark side
        base AS (
            SELECT seq_id, count(*) AS length,
                   CAST(count(DISTINCT state) AS BIGINT) AS visited
            FROM turns GROUP BY seq_id
        ),
        tr AS (
            SELECT seq_id, CAST(count(*) - 1 AS BIGINT) AS n_spells_m1,
                   count(*) AS n_spells
            FROM spells GROUP BY seq_id
        ),
        ent AS (
            SELECT seq_id,
                   -sum((c * 1.0 / tot) * ln(c * 1.0 / tot)) AS entropy
            FROM (
                SELECT seq_id, state, count(*) AS c,
                       sum(count(*)) OVER (PARTITION BY seq_id) AS tot
                FROM turns GROUP BY seq_id, state
            ) GROUP BY seq_id
        ),
        sp AS (
            SELECT seq_id, count(*) AS sp_n, round(avg(duration), {R}) AS mean_spell_duration
            FROM spells GROUP BY seq_id
        )
        SELECT b.seq_id, b.length, b.visited, t.n_spells_m1 AS transitions,
               round(e.entropy, {R}) AS entropy,
               round(e.entropy / ln((SELECT kk FROM k)), {R}) AS entropy_norm,
               round(CASE WHEN b.length <= 1 THEN 0.0
                          ELSE t.n_spells_m1 * 1.0 / (b.length - 1) END, {R})
                   AS transitions_norm,
               t.n_spells, s.mean_spell_duration,
               round(t.n_spells * 1.0 / b.visited, {R}) AS recurrence,
               round(sqrt((CASE WHEN b.length <= 1 THEN 0.0
                                ELSE t.n_spells_m1 * 1.0 / (b.length - 1) END)
                          * (e.entropy / ln((SELECT kk FROM k)))), {R}) AS complexity,
               round(0.5 * (b.visited - 1) / ((SELECT kk FROM k) - 1)
                     + 0.5 * (CASE WHEN b.length <= 1 THEN 0.0
                                   ELSE t.n_spells_m1 * 1.0 / (b.length - 1) END), {R})
                   AS volatility
        FROM base b JOIN tr t USING (seq_id) JOIN ent e USING (seq_id)
             JOIN sp s USING (seq_id)
    """,
    "seqconc": f"""
        WITH {_TURNS_CTE}
        SELECT seq_id,
               string_agg(state, '-' ORDER BY pos) AS seq_str,
               count(*) AS length
        FROM turns GROUP BY seq_id
    """,
    "value_rollup_1h_from_1m": """
        -- mirrors the Spark side's 1m intermediate (cascade shape): both
        -- engines sum identical minute partials, shrinking accumulation-order
        -- noise; 6-dp rounding absorbs the residue.
        WITH m1 AS (
            SELECT date_trunc('minute', ts) AS m_bucket, event_type AS state,
                   sum(value) AS value_sum, count(value) AS value_count,
                   min(value) AS value_min, max(value) AS value_max
            FROM events GROUP BY 1, 2
        )
        SELECT date_trunc('hour', m_bucket) AS time_bucket, state,
               round(sum(value_sum), 6) AS value_sum,
               CAST(sum(value_count) AS BIGINT) AS value_count,
               min(value_min) AS value_min,
               max(value_max) AS value_max,
               round(round(sum(value_sum), 6) / CAST(sum(value_count) AS BIGINT), 6)
                   AS value_avg
        FROM m1 GROUP BY 1, 2
    """,
    "dedup_exact": """
        SELECT md5(text) AS text_hash, count(*) AS dup_count,
               min(doc_id) AS keeper_doc_id
        FROM documents GROUP BY md5(text)
    """,
    "token_stats": f"""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_text,
               CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE length(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)
                   AS n_tokens,
               CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
                   AS BIGINT) AS n_punct,
               round(CASE WHEN length(text) = 0 THEN 0.0
                     ELSE (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
                          * 1.0 / length(text) END, {R}) AS punct_ratio
        FROM documents
    """,
    # "turbulence" / "turbulence_norm": intentionally absent — the
    # subsequence-count DP is not SQL-expressible (exact toy unit tests).
    "mean_time_in_states": f"""
        WITH {_TURNS_CTE},
        tot AS (SELECT CAST(count(DISTINCT seq_id) AS DOUBLE) AS wtot FROM turns),
        per AS (
            SELECT seq_id, state, CAST(count(*) AS DOUBLE) AS c
            FROM turns GROUP BY seq_id, state
        ),
        g AS (
            SELECT state, sum(c) AS swc, sum(c * c) AS swc2
            FROM per GROUP BY state
        ),
        v AS (
            SELECT state, wtot, swc / wtot AS mean_time,
                   (swc2 - 2 * (swc / wtot) * swc
                    + (swc / wtot) * (swc / wtot) * wtot)
                   * wtot / (wtot * wtot - wtot) AS var_time
            FROM g, tot
        )
        SELECT state, round(mean_time, {R}) AS mean_time,
               round(var_time, {R}) AS var_time,
               round(sqrt(var_time), {R}) AS sd_time,
               round(sqrt(var_time / wtot), {R}) AS se_time
        FROM v
    """,
    "entropy_diff": f"""
        WITH {_SPELLS_CTE},
        l AS (
            SELECT seq_id, duration,
                   sum(duration) OVER (PARTITION BY seq_id) AS L
            FROM spells
        ),
        e AS (
            SELECT seq_id,
                   -sum((duration / CAST(L AS DOUBLE))
                        * ln(duration / CAST(L AS DOUBLE))) AS ent,
                   any_value(L) AS L
            FROM l GROUP BY seq_id
        )
        SELECT seq_id,
               round(CASE WHEN ent > 0 THEN ent / ln(CAST(L AS DOUBLE))
                     ELSE 0.0 END, {R}) AS hdss
        FROM e
    """,
    "spell_dur_var2": f"""
        WITH {_SPELLS_CTE},
        k AS (SELECT CAST({len(EVENT_STATES)} AS DOUBLE) AS kk),  -- declared alphabet K, same constant as the Spark side
        g AS (
            SELECT seq_id, count(*) AS n_spells,
                   CAST(sum(duration) AS BIGINT) AS len,
                   CAST(sum(duration * duration) AS BIGINT) AS sq,
                   count(DISTINCT state) AS visited
            FROM spells GROUP BY seq_id
        ),
        c1 AS (
            SELECT seq_id, n_spells, kk,
                   CAST(n_spells AS DOUBLE) AS dl,
                   CAST(len AS DOUBLE) AS lg,
                   CAST(sq AS DOUBLE) AS sqd,
                   kk - CAST(visited AS DOUBLE) AS nnv
            FROM g, k
        ),
        c2 AS (SELECT *, dl + nnv AS denom, lg / (dl + nnv) AS meand FROM c1),
        c3 AS (
            SELECT *,
                   (sqd - 2 * meand * lg + dl * meand * meand
                    + nnv * meand * meand) / denom AS var_spell_dur,
                   CASE WHEN n_spells = 1 THEN kk - 1 ELSE kk - 2 END AS maxnnv
            FROM c2
        ),
        c4 AS (SELECT *, meand * denom / (dl + maxnnv) AS mm FROM c3)
        SELECT seq_id, n_spells, round(meand, {R}) AS meand,
               round(var_spell_dur, {R}) AS var_spell_dur,
               round(((dl - 1) * (1.0 - mm) * (1.0 - mm)
                      + (lg - dl + 1 - mm) * (lg - dl + 1 - mm)
                      + maxnnv * mm * mm) / (dl + maxnnv), {R}) AS var_max
        FROM c4
    """,
    "integration_index": f"""
        WITH {_TURNS_CTE}
        SELECT seq_id,
               round(sum(CASE WHEN state = 'purchase'
                              THEN CAST(pos AS DOUBLE) ELSE 0.0 END)
                     / sum(CAST(pos AS DOUBLE)), {R}) AS integration
        FROM turns GROUP BY seq_id
    """,
    "seq_length_summary": f"""
        WITH {_TURNS_CTE},
        l AS (
            SELECT seq_id, CAST(count(*) AS DOUBLE) AS length
            FROM turns GROUP BY seq_id
        )
        SELECT CAST(count(length) AS BIGINT) AS count,
               round(avg(length), {R}) AS mean,
               round(quantile_cont(length, 0.5), {R}) AS median,
               round(min(length), {R}) AS min,
               round(quantile_cont(length, 0.25), {R}) AS q1,
               round(quantile_cont(length, 0.75), {R}) AS q3,
               round(max(length), {R}) AS max
        FROM l
    """,
    "jsd_hourly": f"""
        WITH c AS (
            SELECT date_trunc('hour', ts) AS tb, event_type AS state,
                   CAST(count(*) AS DOUBLE) AS cnt
            FROM events GROUP BY 1, 2
        ),
        d AS (
            SELECT tb, state, cnt / sum(cnt) OVER (PARTITION BY tb) AS freq
            FROM c
        ),
        bi AS (
            SELECT tb, row_number() OVER (ORDER BY tb) AS rn
            FROM (SELECT DISTINCT tb FROM d)
        ),
        st AS (SELECT DISTINCT state FROM d),
        grid AS (SELECT bi.tb, bi.rn, st.state FROM bi CROSS JOIN st),
        gf AS (
            SELECT g.tb, g.rn, g.state, COALESCE(d.freq, 0.0) AS pv
            FROM grid g LEFT JOIN d ON d.tb = g.tb AND d.state = g.state
        ),
        lg AS (
            SELECT tb, rn, state, pv,
                   lag(pv) OVER (PARTITION BY state ORDER BY rn) AS qv
            FROM gf
        ),
        t AS (
            SELECT tb,
                   0.5 * (CASE WHEN pv > 0
                               THEN pv * ln(pv / ((pv + qv) / 2))
                               ELSE 0.0 END)
                 + 0.5 * (CASE WHEN qv > 0
                               THEN qv * ln(qv / ((pv + qv) / 2))
                               ELSE 0.0 END) AS term
            FROM lg WHERE qv IS NOT NULL
        ),
        s AS (SELECT tb, sum(term) AS sm FROM t GROUP BY tb)
        SELECT bi.tb AS time_bucket,
               round(CASE WHEN bi.rn = 1 THEN 0.0
                     ELSE sqrt(greatest(s.sm, 0.0)) END, {R}) AS jsd
        FROM bi LEFT JOIN s ON s.tb = bi.tb
    """,
    "nation_revenue": """
        SELECT r.r_name AS region, n.n_name AS nation,
               round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                              * (CAST(1 AS DECIMAL(18,2))
                                 - CAST(l.l_discount AS DECIMAL(18,2))))
                          AS DOUBLE), 2) AS revenue,
               count(*) AS n_lineitems,
               count(DISTINCT o.o_orderkey) AS n_orders
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    """,
    "person_period": """
        WITH p AS (
            SELECT user_id AS id,
                   CAST(least(count(*), 20) AS INTEGER) AS t,
                   (user_id % 2 = 0) AS e
            FROM events GROUP BY user_id
        )
        SELECT id, CAST(gs AS INTEGER) AS time, (gs = t AND e) AS event
        FROM (SELECT id, t, e, unnest(generate_series(1, t)) AS gs FROM p)
    """,
    "find_seq_occurrences": """
        -- chr(31) = \\x1f unit separator: a separator-free concat would let
        -- distinct sequences collide (['ab','c'] == ['a','bc']).
        WITH t AS (
            SELECT user_id,
                   string_agg(event_type, chr(31) ORDER BY ts, event_id) AS s
            FROM events GROUP BY user_id
        )
        SELECT a.user_id AS needle_id, b.user_id AS match_id
        FROM t a JOIN t b ON a.s = b.s
        WHERE a.user_id < 5
    """,
    "xtabs_state_hour": """
        SELECT event_type AS v1,
               CAST(date_part('hour', ts) AS BIGINT) AS v2,
               CAST(count(*) AS DOUBLE) AS weighted_count
        FROM events GROUP BY 1, 2
    """,
    "transition_pwight": f"""
        WITH {_SPELLS_CTE},
        tp AS (
            SELECT state AS from_state,
                   lead(state) OVER (PARTITION BY seq_id ORDER BY pos) AS to_state
            FROM turns
        ),
        tc AS (
            SELECT from_state, to_state, CAST(count(*) AS DOUBLE) AS c
            FROM tp WHERE to_state IS NOT NULL GROUP BY 1, 2
        ),
        rates AS (
            SELECT from_state, to_state,
                   c / sum(c) OVER (PARTITION BY from_state) AS transition_rate
            FROM tc
        ),
        dp AS (
            SELECT seq_id, state AS from_state,
                   lead(state) OVER (PARTITION BY seq_id ORDER BY spell_id)
                       AS to_state
            FROM spells
        )
        -- single-spell sequences have no DSS pair but are KEPT with 0
        -- (reference: get_number_of_transitions pwight=True returns 0)
        SELECT d.seq_id,
               round(coalesce(sum(CASE WHEN d.to_state IS NOT NULL
                                       THEN r.transition_rate END), 0.0), {R})
                   AS pwight,
               CAST(sum(CASE WHEN d.to_state IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dss_pairs
        FROM dp d LEFT JOIN rates r
          ON d.from_state = r.from_state AND d.to_state = r.to_state
        GROUP BY d.seq_id
    """,
    "transition_counts_weighted": """
        WITH turns AS (
            SELECT user_id AS seq_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
                   event_type AS state, ts, value, event_id
            FROM events
        ),
        pairs AS (
            SELECT state AS from_state, value,
                   lead(state) OVER (PARTITION BY seq_id ORDER BY pos) AS to_state
            FROM turns
        )
        SELECT from_state, to_state,
               round(sum(value), 6) AS transition_count
        FROM pairs WHERE to_state IS NOT NULL
        GROUP BY from_state, to_state
    """,
    "gapfill_linear_minutely": f"""
        WITH m AS (
            SELECT date_trunc('minute', ts) AS tb, round(sum(value), {R}) AS v
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        grid AS (
            SELECT unnest(generate_series((SELECT min(tb) FROM m),
                                          (SELECT max(tb) FROM m),
                                          INTERVAL 1 MINUTE)) AS time_bucket
        ),
        j AS (SELECT g.time_bucket, m.v FROM grid g LEFT JOIN m ON m.tb = g.time_bucket),
        w AS (
            SELECT time_bucket, v, v IS NULL AS is_gap,
                   CAST(epoch(time_bucket) AS DOUBLE) AS t,
                   last_value(v IGNORE NULLS) OVER (
                       ORDER BY time_bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
                   last_value(CASE WHEN v IS NOT NULL
                                   THEN CAST(epoch(time_bucket) AS DOUBLE) END
                       IGNORE NULLS) OVER (
                       ORDER BY time_bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
                   first_value(v IGNORE NULLS) OVER (
                       ORDER BY time_bucket
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
                   first_value(CASE WHEN v IS NOT NULL
                                    THEN CAST(epoch(time_bucket) AS DOUBLE) END
                       IGNORE NULLS) OVER (
                       ORDER BY time_bucket
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
            FROM j
        )
        SELECT time_bucket,
               round((CASE WHEN NOT is_gap THEN v
                           WHEN pv IS NULL THEN nv
                           WHEN nv IS NULL THEN pv
                           ELSE pv + (nv - pv) * (t - pt) / (nt - pt) END)
                     + 1e-9, 6) AS value_sum,
               is_gap
        FROM w
    """,
    "gapfill_locf_minutely": f"""
        WITH m AS (
            SELECT date_trunc('minute', ts) AS tb, round(sum(value), {R}) AS v
            FROM events GROUP BY 1
        ),
        grid AS (
            SELECT unnest(generate_series((SELECT min(tb) FROM m),
                                          (SELECT max(tb) FROM m),
                                          INTERVAL 1 MINUTE)) AS time_bucket
        ),
        j AS (SELECT g.time_bucket, m.v FROM grid g LEFT JOIN m ON m.tb = g.time_bucket)
        SELECT time_bucket,
               last_value(v IGNORE NULLS) OVER (
                   ORDER BY time_bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_sum,
               v IS NULL AS is_gap
        FROM j
    """,
    "uniqueness_rate": f"""
        WITH t AS (
            SELECT user_id,
                   string_agg(event_type, '-' ORDER BY ts, event_id) AS s
            FROM events GROUP BY user_id
        )
        SELECT count(*) AS n_seqs, count(DISTINCT s) AS n_unique,
               round(count(DISTINCT s) * 1.0 / count(*), {R}) AS uniqueness_rate
        FROM t
    """,
    "state_dist_hourly_weighted": f"""
        WITH c AS (
            SELECT date_trunc('hour', ts) AS time_bucket,
                   event_type AS state, sum(value) AS sc
            FROM events GROUP BY 1, 2
        )
        SELECT time_bucket, state,
               round(sc, 6) AS state_count,
               round(sum(sc) OVER (PARTITION BY time_bucket), 6) AS n_valid,
               round(sc / sum(sc) OVER (PARTITION BY time_bucket), {R}) AS freq
        FROM c
    """,
    "mean_time_weighted": f"""
        WITH {_TURNS_CTE},
        sw AS (
            SELECT seq_id, CAST(seq_id % 3 + 1 AS DOUBLE) AS w
            FROM (SELECT DISTINCT seq_id FROM turns)
        ),
        tot AS (SELECT sum(w) AS wtot, sum(w * w) AS w2tot FROM sw),
        per AS (
            SELECT t.seq_id, state, CAST(count(*) AS DOUBLE) AS c,
                   any_value(w) AS w
            FROM turns t JOIN sw USING (seq_id)
            GROUP BY t.seq_id, state
        ),
        g AS (
            SELECT state, sum(w * c) AS swc, sum(w * c * c) AS swc2
            FROM per GROUP BY state
        ),
        v AS (
            SELECT state, wtot,
                   swc / wtot AS mean_time,
                   (swc2 - 2 * (swc / wtot) * swc
                    + (swc / wtot) * (swc / wtot) * wtot)
                   * wtot / (wtot * wtot - w2tot) AS var_time
            FROM g, tot
        )
        SELECT state, round(mean_time, {R}) AS mean_time,
               round(var_time, {R}) AS var_time,
               round(sqrt(var_time), {R}) AS sd_time,
               round(sqrt(var_time / wtot), {R}) AS se_time
        FROM v
    """,
    "modal_sequence_occurrences": f"""
        WITH {_TURNS_CTE},
        byp AS (
            SELECT pos, state, CAST(count(*) AS DOUBLE) AS c
            FROM turns GROUP BY pos, state
        ),
        rk AS (
            SELECT pos, state,
                   row_number() OVER (PARTITION BY pos
                                      ORDER BY c DESC, state ASC) AS r
            FROM byp
        ),
        marr AS (SELECT list(state ORDER BY pos) AS ma FROM rk WHERE r = 1),
        seqs AS (
            SELECT seq_id, list(state ORDER BY pos) AS arr
            FROM turns GROUP BY seq_id
        )
        SELECT array_to_string(ma, '-') AS modal_seq,
               CAST(sum(CASE WHEN arr = ma[1:len(arr)] THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_matching,
               count(*) AS n_seqs
        FROM seqs, marr GROUP BY ma
    """,
    "event_counts_daily": """
        WITH turns AS (
            SELECT user_id AS seq_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
                   event_type AS state, ts
            FROM events
        ),
        e AS (
            SELECT ts,
                   CASE WHEN lag(state) OVER w IS NULL THEN state
                        WHEN lag(state) OVER w <> state
                            THEN lag(state) OVER w || '>' || state
                   END AS event
            FROM turns WINDOW w AS (PARTITION BY seq_id ORDER BY pos)
        )
        SELECT date_trunc('day', ts) AS time_bucket, event,
               count(*) AS n_events
        FROM e WHERE event IS NOT NULL
        GROUP BY 1, 2
    """,
    "top_sequences": """
        WITH turns AS (
            SELECT user_id AS seq_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
                   event_type AS state
            FROM events
        ),
        s AS (
            SELECT seq_id, string_agg(state, '-' ORDER BY pos) AS seq_str
            FROM turns GROUP BY seq_id
        )
        SELECT seq_str, count(*) AS n_seqs
        FROM s GROUP BY seq_str
        ORDER BY n_seqs DESC, seq_str ASC
        LIMIT 10
    """,
    "domain_combine_counts": """
        WITH turns AS (
            SELECT user_id AS seq_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
                   event_type AS state, value
            FROM events
        )
        SELECT state || '+' || CASE WHEN value >= 100 THEN 'hi' ELSE 'lo' END
                   AS state,
               count(*) AS n_positions
        FROM turns GROUP BY 1
    """,
    "sparse_pattern_counts": """
        WITH turns AS (
            SELECT user_id AS seq_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
                   event_type AS state
            FROM events
        ),
        pats AS (
            SELECT seq_id, string_agg(state, '-' ORDER BY pos) AS s
            FROM turns GROUP BY seq_id
        ),
        counts AS (SELECT s, count(*) AS n FROM pats GROUP BY s)
        SELECT CASE WHEN c.n < 5 THEN 'Others' ELSE p.s END AS pattern,
               count(*) AS n_seqs
        FROM pats p JOIN counts c USING (s)
        GROUP BY 1
    """,
    "ngram_jaccard_pairs": f"""
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents WHERE length(trim(text)) > 0
        ),
        sh AS (
            SELECT doc_id,
                   list_distinct([array_to_string(t[i:i+2], ' ')
                                  FOR i IN range(1, len(t) - 1)]) AS shingles
            FROM toks WHERE len(t) >= 3
        ),
        ex AS (
            SELECT doc_id, unnest(shingles) AS s, len(shingles) AS c FROM sh
        ),
        pairs AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter,
                   any_value(a.c) AS c1, any_value(b.c) AS c2
            FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT d1, d2,
               round(inter * 1.0 / (c1 + c2 - inter), {R}) AS jaccard
        FROM pairs WHERE inter * 1.0 / (c1 + c2 - inter) >= 0.8
    """,
    "minhash_verified_pairs": f"""
        -- exact all-candidate Jaccard at the same τ: identical to the
        -- ngram_jaccard_pairs oracle (the Spark side only differs in HOW it
        -- prunes the pair space — LSH banding — not in what survives τ).
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents WHERE length(trim(text)) > 0
        ),
        sh AS (
            SELECT doc_id,
                   list_distinct([array_to_string(t[i:i+2], ' ')
                                  FOR i IN range(1, len(t) - 1)]) AS shingles
            FROM toks WHERE len(t) >= 3
        ),
        ex AS (
            SELECT doc_id, unnest(shingles) AS s, len(shingles) AS c FROM sh
        ),
        pairs AS (
            SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter,
                   any_value(a.c) AS c1, any_value(b.c) AS c2
            FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT d1, d2,
               round(inter * 1.0 / (c1 + c2 - inter), {R}) AS jaccard
        FROM pairs WHERE inter * 1.0 / (c1 + c2 - inter) >= 0.8
    """,
    "quality_metrics": f"""
        WITH base AS (
            SELECT doc_id, text,
                   CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                        ELSE regexp_split_to_array(trim(text), '\\s+') END AS t
            FROM documents
        )
        SELECT doc_id,
               CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens,
               round(CASE WHEN len(t) = 0 THEN 0.0
                     ELSE len(list_distinct(t)) * 1.0 / len(t) END, {R})
                   AS type_token_ratio,
               round(CASE WHEN len(t) = 0 THEN 0.0
                     ELSE list_sum(list_transform(t, x -> length(x))) * 1.0
                          / len(t) END, {R}) AS mean_token_len,
               round(CASE WHEN len(t) = 0 THEN 0.0
                     ELSE len(list_filter(t, x -> list_contains(
                              ['the','a','of','to','in','and','is'], x)))
                          * 1.0 / len(t) END, {R}) AS stopword_ratio,
               round(CASE WHEN length(text) = 0 THEN 0.0
                     ELSE length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                          * 1.0 / length(text) END, {R}) AS alpha_ratio
        FROM base
    """,
    "frequent_event_subseq": f"""
        WITH {_EV_CTE},
        tot AS (SELECT CAST(count(DISTINCT seq_id) AS DOUBLE) AS t FROM e),
        k1 AS (
            SELECT '(' || event || ')' AS subseq, 1 AS k,
                   CAST(count(*) AS DOUBLE) AS n_seqs
            FROM pe GROUP BY 1
        ),
        k2 AS (
            SELECT '(' || a.event || ')-(' || b.event || ')' AS subseq,
                   2 AS k, CAST(count(*) AS DOUBLE) AS n_seqs
            FROM pe a JOIN pe b ON a.seq_id = b.seq_id AND a.fp < b.lp
            GROUP BY 1
        ),
        k3 AS (
            SELECT '(' || a.event || ')-(' || b.event || ')-('
                       || c.event || ')' AS subseq,
                   3 AS k, CAST(count(*) AS DOUBLE) AS n_seqs
            FROM pe a
            JOIN pe b ON a.seq_id = b.seq_id
            JOIN pe c ON a.seq_id = c.seq_id
            WHERE len(list_filter(b.ps, p -> p > a.fp AND p < c.lp)) > 0
            GROUP BY 1
        ),
        u AS (
            SELECT * FROM k1 UNION ALL SELECT * FROM k2
            UNION ALL SELECT * FROM k3
        )
        SELECT subseq, k, n_seqs, round(n_seqs / t, {R}) AS support
        FROM u, tot WHERE n_seqs / t >= 0.05
    """,
    "subseq_occurrence_counts": f"""
        WITH {_EV_CTE},
        seqs AS (SELECT DISTINCT seq_id FROM e),
        counts AS ({_subseq_counts_union_sql()})
        SELECT seq_id, subseq, cnt AS count FROM counts
    """,
    "subseq_group_chisq": f"""
        WITH {_EV_CTE},
        seqs AS (SELECT DISTINCT seq_id FROM e),
        counts AS ({_subseq_counts_union_sql()}),
        pres AS (
            SELECT seq_id, subseq,
                   CASE WHEN cnt > 0 THEN 1 ELSE 0 END AS x
            FROM counts
        ),
        cells AS (
            SELECT subseq, seq_id % 2 AS grp,
                   CAST(sum(x) AS BIGINT) AS obs1,
                   CAST(count(*) - sum(x) AS BIGINT) AS obs0
            FROM pres GROUP BY 1, 2
        ),
        rows_ AS (
            SELECT subseq,
                   CAST(sum(obs1) AS BIGINT) AS r1,
                   CAST(sum(obs0) AS BIGINT) AS r0,
                   count(*) AS ng,
                   CAST(sum(obs1) + sum(obs0) AS DOUBLE) AS nt
            FROM cells GROUP BY 1
        ),
        terms AS (
            SELECT c.subseq, r.r1, r.nt,
                   -- Yates (dof 1) per scipy >= 1.7: correction clamped
                   -- to min(0.5, |diff|), i.e. max(|diff| - 0.5, 0)^2
                   (CASE WHEN (c.obs1 + c.obs0) * r.r1 / r.nt > 0 THEN
                        pow(greatest(abs(c.obs1 - (c.obs1 + c.obs0) * r.r1 / r.nt)
                                     - (CASE WHEN r.ng = 2 THEN 0.5 ELSE 0.0 END),
                                     0.0), 2)
                        / ((c.obs1 + c.obs0) * r.r1 / r.nt)
                    ELSE 0.0 END)
                 + (CASE WHEN (c.obs1 + c.obs0) * r.r0 / r.nt > 0 THEN
                        pow(greatest(abs(c.obs0 - (c.obs1 + c.obs0) * r.r0 / r.nt)
                                     - (CASE WHEN r.ng = 2 THEN 0.5 ELSE 0.0 END),
                                     0.0), 2)
                        / ((c.obs1 + c.obs0) * r.r0 / r.nt)
                    ELSE 0.0 END) AS cell_term
            FROM cells c JOIN rows_ r ON c.subseq = r.subseq
        )
        SELECT t.subseq, round(sum(t.cell_term), {R}) AS statistic,
               CAST(any_value(r.ng) - 1 AS BIGINT) AS dof,
               any_value(r.r1) AS n_present,
               CAST(any_value(r.nt) AS BIGINT) AS n_total
        FROM terms t JOIN rows_ r ON t.subseq = r.subseq
        -- reference skips degenerate patterns (present in 0 or all seqs)
        WHERE r.r1 > 0 AND r.r1 < CAST(r.nt AS BIGINT)
        GROUP BY t.subseq
    """,
    "prefix_tree_stats": f"""
        WITH {_TURNS_CTE},
        pfx AS (
            SELECT seq_id, row_number() OVER w AS t,
                   string_agg(state, chr(31)) OVER (
                       PARTITION BY seq_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS prefix
            FROM turns WINDOW w AS (PARTITION BY seq_id ORDER BY pos)
        ),
        c AS (
            SELECT t, CAST(count(DISTINCT prefix) AS BIGINT) AS n_prefixes
            FROM pfx GROUP BY t
        )
        SELECT t, n_prefixes,
               round(CASE WHEN lag(n_prefixes) OVER (ORDER BY t) IS NULL
                          THEN 0.0
                          ELSE CAST(n_prefixes AS DOUBLE)
                               / CAST(lag(n_prefixes) OVER (ORDER BY t)
                                      AS DOUBLE)
                     END, {R}) AS branching_factor
        FROM c
    """,
    "prefix_rarity": f"""
        WITH {_TURNS_CTE},
        pfx AS (
            SELECT seq_id, row_number() OVER w AS t,
                   string_agg(state, chr(31)) OVER (
                       PARTITION BY seq_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS prefix
            FROM turns WINDOW w AS (PARTITION BY seq_id ORDER BY pos)
        ),
        f AS (SELECT t, prefix, count(*) AS freq FROM pfx GROUP BY 1, 2),
        n AS (SELECT CAST(count(DISTINCT seq_id) AS DOUBLE) AS nn FROM pfx),
        j AS (
            SELECT p.seq_id, p.t, f.freq
            FROM pfx p JOIN f ON p.t = f.t AND p.prefix = f.prefix
        )
        SELECT seq_id,
               round(list_sum(list(-ln(CAST(freq AS DOUBLE) / nn + 1e-10)
                                   ORDER BY t)) + 0.0, {R}) AS rarity_score,
               CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS path_uniqueness
        FROM j, n GROUP BY seq_id
    """,
    "prefix_divergence": f"""
        WITH {_TURNS_CTE},
        pfx AS (
            SELECT seq_id, row_number() OVER w AS t,
                   string_agg(state, chr(31)) OVER (
                       PARTITION BY seq_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS prefix
            FROM turns WINDOW w AS (PARTITION BY seq_id ORDER BY pos)
        ),
        f AS (SELECT t, prefix, count(*) AS freq FROM pfx GROUP BY 1, 2),
        n AS (SELECT CAST(count(DISTINCT seq_id) AS DOUBLE) AS nn FROM pfx),
        rar AS (
            SELECT p.seq_id, p.t,
                   -ln(CAST(f.freq AS DOUBLE) / nn + 1e-10) AS r
            FROM pfx p JOIN f ON p.t = f.t AND p.prefix = f.prefix, n
        ),
        st0 AS (
            SELECT t, count(*) AS cnt, sum(r) AS s1,
                   count(DISTINCT r) = 1 AS zv
            FROM rar GROUP BY t
        ),
        st AS (
            -- two-pass variance: the one-pass s2-2m*s1+cnt*m^2 form
            -- cancels catastrophically near zero variance and its sign
            -- flips with summation order (operators/prefix_tree.py)
            SELECT st0.t, st0.cnt, st0.s1, st0.zv,
                   sum((rar.r - st0.s1 / st0.cnt)
                       * (rar.r - st0.s1 / st0.cnt)) AS ss
            FROM rar JOIN st0 ON rar.t = st0.t
            GROUP BY st0.t, st0.cnt, st0.s1, st0.zv
        ),
        z AS (
            SELECT rar.seq_id, rar.t,
                   CASE WHEN st.zv OR st.cnt < 2 THEN NULL
                        ELSE (rar.r - st.s1 / st.cnt)
                             / sqrt(st.ss / (st.cnt - 1))
                   END AS z
            FROM rar JOIN st ON rar.t = st.t
        ),
        per AS (SELECT seq_id, list(z ORDER BY t) AS za FROM z GROUP BY seq_id),
        cand AS (
            SELECT seq_id,
                   [struct_pack(p := p, wmin := list_min(za[p:p+1]))
                    FOR p IN range(2, len(za))
                    IF len(list_filter(za[p:p+1], x -> x IS NULL)) = 0]
                       AS cands
            FROM per
        ),
        agg AS (
            SELECT seq_id, cands,
                   [c.wmin FOR c IN cands] AS wmins,
                   [c.p FOR c IN cands IF c.wmin > 1.0] AS passed
            FROM cand
        )
        SELECT seq_id,
               CASE WHEN len(wmins) > 0
                    THEN round(list_max(wmins), {R}) END AS std_score,
               CAST(CASE WHEN len(passed) > 0 THEN 1 ELSE 0 END AS BIGINT)
                   AS diverged,
               CAST(CASE WHEN len(passed) > 0 THEN list_min(passed) ELSE 0 END
                    AS BIGINT) AS first_divergence_t
        FROM agg
    """,
    "spell_prefix_stats": f"""
        WITH {_SPELLS_CTE},
        pfx AS (
            SELECT seq_id, row_number() OVER w AS t,
                   string_agg(state, chr(31)) OVER (
                       PARTITION BY seq_id ORDER BY spell_id
                       ROWS UNBOUNDED PRECEDING) AS prefix
            FROM spells WINDOW w AS (PARTITION BY seq_id ORDER BY spell_id)
        ),
        c AS (
            SELECT t, CAST(count(DISTINCT prefix) AS BIGINT) AS n_prefixes
            FROM pfx GROUP BY t
        )
        SELECT t, n_prefixes,
               round(CASE WHEN lag(n_prefixes) OVER (ORDER BY t) IS NULL
                          THEN 0.0
                          ELSE CAST(n_prefixes AS DOUBLE)
                               / CAST(lag(n_prefixes) OVER (ORDER BY t)
                                      AS DOUBLE)
                     END, {R}) AS branching_factor
        FROM c
    """,
    "suffix_tree_stats": f"""
        WITH {_TURNS_CTE},
        arr AS (SELECT seq_id, list(state ORDER BY pos) AS sts
                FROM turns GROUP BY seq_id),
        grams AS (
            SELECT u.t AS t, u.g AS g FROM (
                SELECT unnest(flatten(
                    [[struct_pack(t := t,
                                  g := array_to_string(sts[s:s+t-1], chr(31)))
                      FOR t IN range(1, least(6, len(sts)-s+1)+1)]
                     FOR s IN range(1, len(sts)+1)])) AS u
                FROM arr)
        ),
        c AS (
            SELECT t, CAST(count(DISTINCT g) AS BIGINT) AS n_suffixes
            FROM grams GROUP BY t
        )
        SELECT t, n_suffixes,
               round(CASE WHEN lag(n_suffixes) OVER (ORDER BY t) IS NULL
                          THEN 0.0
                          ELSE CAST(n_suffixes AS DOUBLE)
                               / CAST(lag(n_suffixes) OVER (ORDER BY t)
                                      AS DOUBLE)
                     END, {R}) AS merging_factor
        FROM c
    """,
    "suffix_rarity": f"""
        WITH {_SFX_CTE},
        f AS (SELECT k, suffix, count(*) AS freq FROM sfx GROUP BY 1, 2),
        n AS (SELECT CAST(count(DISTINCT seq_id) AS DOUBLE) AS nn FROM sfx),
        j AS (
            SELECT s.seq_id, s.k, f.freq
            FROM sfx s JOIN f ON s.k = f.k AND s.suffix = f.suffix
        )
        SELECT seq_id,
               round(list_sum(list(-ln(CAST(freq AS DOUBLE) / nn + 1e-10)
                                   ORDER BY k)) + 0.0, {R}) AS rarity_score,
               CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS path_uniqueness
        FROM j, n GROUP BY seq_id
    """,
    "suffix_convergence": f"""
        WITH {_SFX_CTE},
        f AS (SELECT k, suffix, count(*) AS freq FROM sfx GROUP BY 1, 2),
        n AS (SELECT CAST(count(DISTINCT seq_id) AS DOUBLE) AS nn FROM sfx),
        rar AS (
            SELECT s.seq_id, s.k,
                   -ln(CAST(f.freq AS DOUBLE) / nn + 1e-10) AS r
            FROM sfx s JOIN f ON s.k = f.k AND s.suffix = f.suffix, n
        ),
        st0 AS (
            SELECT k, count(*) AS cnt, sum(r) AS s1,
                   count(DISTINCT r) = 1 AS zv
            FROM rar GROUP BY k
        ),
        st AS (
            -- two-pass variance: the one-pass s2-2m*s1+cnt*m^2 form
            -- cancels catastrophically near zero variance and its sign
            -- flips with summation order (operators/prefix_tree.py)
            SELECT st0.k, st0.cnt, st0.s1, st0.zv,
                   sum((rar.r - st0.s1 / st0.cnt)
                       * (rar.r - st0.s1 / st0.cnt)) AS ss
            FROM rar JOIN st0 ON rar.k = st0.k
            GROUP BY st0.k, st0.cnt, st0.s1, st0.zv
        ),
        z AS (
            SELECT rar.seq_id, rar.k,
                   CASE WHEN st.zv OR st.cnt < 2 THEN NULL
                        ELSE (rar.r - st.s1 / st.cnt)
                             / sqrt(st.ss / (st.cnt - 1))
                   END AS z
            FROM rar JOIN st ON rar.k = st.k
        ),
        -- year order: t = L - k + 1, i.e. descending k
        per AS (SELECT seq_id, list(z ORDER BY k DESC) AS za FROM z
                GROUP BY seq_id),
        cand AS (
            SELECT seq_id,
                   [struct_pack(p := p, wmax := list_max(za[p:p+1]))
                    FOR p IN range(1, len(za))
                    IF len(list_filter(za[p:p+1], x -> x IS NULL)) = 0]
                       AS cands
            FROM per
        ),
        agg AS (
            SELECT seq_id,
                   [c.wmax FOR c IN cands] AS wmaxs,
                   [c.p FOR c IN cands IF c.wmax < -1.0] AS passed
            FROM cand
        )
        SELECT seq_id,
               CASE WHEN len(wmaxs) > 0
                    THEN round(list_min(wmaxs), {R}) END AS std_score,
               CAST(CASE WHEN len(passed) > 0 THEN 1 ELSE 0 END AS BIGINT)
                   AS converged,
               CAST(CASE WHEN len(passed) > 0 THEN list_min(passed) ELSE 0 END
                    AS BIGINT) AS first_convergence_t
        FROM agg
    """,
    "suffix_convergence_topp": f"""
        WITH {_SFX_CTE},
        f AS (SELECT k, suffix, count(*) AS freq FROM sfx GROUP BY 1, 2),
        n AS (SELECT CAST(count(DISTINCT seq_id) AS DOUBLE) AS nn FROM sfx),
        rar AS (
            SELECT s.seq_id, s.k,
                   -ln(CAST(f.freq AS DOUBLE) / nn + 1e-10) AS r
            FROM sfx s JOIN f ON s.k = f.k AND s.suffix = f.suffix, n
        ),
        st0 AS (
            SELECT k, count(*) AS cnt, sum(r) AS s1,
                   count(DISTINCT r) = 1 AS zv
            FROM rar GROUP BY k
        ),
        st AS (
            -- two-pass variance: the one-pass s2-2m*s1+cnt*m^2 form
            -- cancels catastrophically near zero variance and its sign
            -- flips with summation order (operators/prefix_tree.py)
            SELECT st0.k, st0.cnt, st0.s1, st0.zv,
                   sum((rar.r - st0.s1 / st0.cnt)
                       * (rar.r - st0.s1 / st0.cnt)) AS ss
            FROM rar JOIN st0 ON rar.k = st0.k
            GROUP BY st0.k, st0.cnt, st0.s1, st0.zv
        ),
        z AS (
            SELECT rar.seq_id, rar.k,
                   CASE WHEN st.zv OR st.cnt < 2 THEN NULL
                        ELSE (rar.r - st.s1 / st.cnt)
                             / sqrt(st.ss / (st.cnt - 1))
                   END AS z
            FROM rar JOIN st ON rar.k = st.k
        ),
        per AS (SELECT seq_id, list(z ORDER BY k DESC) AS za FROM z
                GROUP BY seq_id),
        -- window=1: candidate p iff z not null
        cand AS (
            SELECT seq_id,
                   [struct_pack(p := p, wmax := za[p])
                    FOR p IN range(1, len(za)+1)
                    IF za[p] IS NOT NULL] AS cands
            FROM per
        ),
        sc AS (
            SELECT seq_id, cands,
                   CASE WHEN len(cands) > 0
                        THEN list_min([c.wmax FOR c IN cands]) END AS std_score
            FROM cand
        ),
        rk AS (
            SELECT *,
                   count(std_score) OVER () AS n_valid,
                   row_number() OVER (ORDER BY std_score ASC NULLS LAST,
                                      seq_id ASC) AS rn
            FROM sc
        ),
        sel AS (
            SELECT *,
                   CASE WHEN std_score IS NOT NULL AND rn <=
                        least(greatest(CAST(floor(0.2 * n_valid) AS BIGINT),
                                       1), n_valid)
                        THEN 1 ELSE 0 END AS selected
            FROM rk
        ),
        -- threshold via a WINDOW over the same evaluation, NOT a separate
        -- CTE reference: DuckDB inlines CTEs, and a second evaluation's
        -- parallel partial sums can differ in last-ulp bits, breaking the
        -- exact wmax <= th equality for the boundary individual
        wth AS (
            SELECT *, max(CASE WHEN selected = 1 THEN std_score END)
                          OVER () AS th
            FROM sel
        )
        SELECT seq_id, round(std_score, {R}) AS std_score,
               CAST(selected AS BIGINT) AS converged,
               CAST(CASE WHEN selected = 1
                         AND len([c.p FOR c IN cands IF c.wmax <= th]) > 0
                    THEN list_min([c.p FOR c IN cands IF c.wmax <= th])
                    ELSE 0 END AS BIGINT) AS first_convergence_t
        FROM wth
    """,
    "prefix_divergence_topp": f"""
        WITH {_TURNS_CTE},
        pfx AS (
            SELECT seq_id, row_number() OVER w AS t,
                   string_agg(state, chr(31)) OVER (
                       PARTITION BY seq_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS prefix
            FROM turns WINDOW w AS (PARTITION BY seq_id ORDER BY pos)
        ),
        f AS (SELECT t, prefix, count(*) AS freq FROM pfx GROUP BY 1, 2),
        n AS (SELECT CAST(count(DISTINCT seq_id) AS DOUBLE) AS nn FROM pfx),
        rar AS (
            SELECT p.seq_id, p.t,
                   -ln(CAST(f.freq AS DOUBLE) / nn + 1e-10) AS r
            FROM pfx p JOIN f ON p.t = f.t AND p.prefix = f.prefix, n
        ),
        st0 AS (
            SELECT t, count(*) AS cnt, sum(r) AS s1,
                   count(DISTINCT r) = 1 AS zv
            FROM rar GROUP BY t
        ),
        st AS (
            -- two-pass variance: the one-pass s2-2m*s1+cnt*m^2 form
            -- cancels catastrophically near zero variance and its sign
            -- flips with summation order (operators/prefix_tree.py)
            SELECT st0.t, st0.cnt, st0.s1, st0.zv,
                   sum((rar.r - st0.s1 / st0.cnt)
                       * (rar.r - st0.s1 / st0.cnt)) AS ss
            FROM rar JOIN st0 ON rar.t = st0.t
            GROUP BY st0.t, st0.cnt, st0.s1, st0.zv
        ),
        z AS (
            SELECT rar.seq_id, rar.t,
                   CASE WHEN st.zv OR st.cnt < 2 THEN NULL
                        ELSE (rar.r - st.s1 / st.cnt)
                             / sqrt(st.ss / (st.cnt - 1))
                   END AS z
            FROM rar JOIN st ON rar.t = st.t
        ),
        per AS (SELECT seq_id, list(z ORDER BY t) AS za FROM z GROUP BY seq_id),
        -- min_t=2, window=1: candidate p in [2, len]
        cand AS (
            SELECT seq_id,
                   [struct_pack(p := p, wmin := za[p])
                    FOR p IN range(2, len(za)+1)
                    IF za[p] IS NOT NULL] AS cands
            FROM per
        ),
        sc AS (
            SELECT seq_id, cands,
                   CASE WHEN len(cands) > 0
                        THEN list_max([c.wmin FOR c IN cands]) END AS std_score
            FROM cand
        ),
        rk AS (
            SELECT *,
                   count(std_score) OVER () AS n_valid,
                   row_number() OVER (ORDER BY std_score DESC NULLS LAST,
                                      seq_id DESC) AS rn
            FROM sc
        ),
        sel AS (
            SELECT *,
                   CASE WHEN std_score IS NOT NULL AND rn <=
                        least(greatest(CAST(floor(0.2 * n_valid) AS BIGINT),
                                       1), n_valid)
                        THEN 1 ELSE 0 END AS selected
            FROM rk
        ),
        -- window threshold, same single-evaluation rationale as the
        -- suffix_convergence_topp oracle
        wth AS (
            SELECT *, min(CASE WHEN selected = 1 THEN std_score END)
                          OVER () AS th
            FROM sel
        )
        SELECT seq_id, round(std_score, {R}) AS std_score,
               CAST(selected AS BIGINT) AS diverged,
               CAST(CASE WHEN selected = 1
                         AND len([c.p FOR c IN cands IF c.wmin >= th]) > 0
                    THEN list_min([c.p FOR c IN cands IF c.wmin >= th])
                    ELSE 0 END AS BIGINT) AS first_divergence_t
        FROM wth
    """,
    "spell_suffix_stats": f"""
        WITH {_SPELLS_CTE},
        sfx AS (
            SELECT seq_id,
                   count(*) OVER w AS k,
                   string_agg(state, chr(31)) OVER w AS suffix
            FROM spells
            WINDOW w AS (PARTITION BY seq_id ORDER BY spell_id
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        ),
        c AS (
            SELECT k, CAST(count(DISTINCT suffix) AS BIGINT) AS n_suffixes
            FROM sfx GROUP BY k
        )
        SELECT k, n_suffixes,
               round(CASE WHEN lag(n_suffixes) OVER (ORDER BY k) IS NULL
                          THEN 0.0
                          ELSE CAST(n_suffixes AS DOUBLE)
                               / CAST(lag(n_suffixes) OVER (ORDER BY k)
                                      AS DOUBLE)
                     END, {R}) AS merging_factor
        FROM c
    """,
    "sequence_history": f"""
        WITH {_TURNS_CTE},
        lens AS (SELECT seq_id, CAST(max(pos) AS INT) AS n
                 FROM turns GROUP BY seq_id),
        periods AS (
            SELECT seq_id, unnest(range(1, least(n, 12) + 1)) AS t,
                   least(n, 12) AS tmax
            FROM lens
        )
        SELECT p.seq_id, CAST(p.t AS INT) AS t,
               CAST(CASE WHEN p.t = p.tmax THEN 1 ELSE 0 END AS INT)
                   AS event,
               CAST(tu.pos AS INT) AS hist_pos,
               CAST(p.t - tu.pos AS INT) AS tm,
               tu.state
        FROM periods p JOIN turns tu
          ON tu.seq_id = p.seq_id AND tu.pos < p.t
    """,
    "duration_features": f"""
        WITH {_SPELLS_CTE},
        seqs AS (SELECT DISTINCT seq_id FROM spells),
        states AS (SELECT DISTINCT state FROM spells),
        per AS (
            SELECT seq_id, state, sum(CAST(duration AS DOUBLE)) AS v
            FROM spells GROUP BY 1, 2
        )
        SELECT s.seq_id, 'DUR_' || st.state AS feature,
               coalesce(p.v, 0.0) AS value
        FROM seqs s CROSS JOIN states st
        LEFT JOIN per p ON p.seq_id = s.seq_id AND p.state = st.state
    """,
    "pos_neg_share": f"""
        WITH {_SPELLS_CTE}
        SELECT seq_id,
               round(sum(CASE WHEN state IN ('click', 'purchase', 'signup')
                              THEN 1.0 ELSE 0.0 END) / count(*), {R})
                   AS share
        FROM spells GROUP BY seq_id
    """,
    "badness_index": f"""
        WITH {_TURNS_CTE},
        alpha AS (
            SELECT state, row_number() OVER (ORDER BY state) - 1 AS rnk,
                   count(*) OVER () AS kk
            FROM (SELECT DISTINCT state FROM turns)
        ),
        costed AS (
            SELECT t.seq_id, CAST(t.pos AS DOUBLE) AS pw,
                   CASE WHEN a.kk > 1
                        THEN CAST(a.rnk AS DOUBLE) / (a.kk - 1)
                        ELSE 0.0 END AS cost
            FROM turns t JOIN alpha a ON t.state = a.state
        )
        SELECT seq_id, round(sum(cost * pw) / sum(pw), {R}) AS badness
        FROM costed GROUP BY seq_id
    """,
    "degradation_index": f"""
        WITH {_SPELLS_CTE},
        alpha AS (
            SELECT state, row_number() OVER (ORDER BY state) - 1 AS rnk,
                   count(*) OVER () AS kk
            FROM (SELECT DISTINCT state FROM turns)
        ),
        sp AS (
            SELECT s.seq_id, s.spell_id AS j,
                   CASE WHEN a.kk > 1
                        THEN CAST(a.rnk AS DOUBLE) / (a.kk - 1)
                        ELSE 0.0 END AS cost,
                   lag(CASE WHEN a.kk > 1
                            THEN CAST(a.rnk AS DOUBLE) / (a.kk - 1)
                            ELSE 0.0 END)
                       OVER (PARTITION BY s.seq_id ORDER BY s.spell_id)
                       AS cost_from
            FROM spells s JOIN alpha a ON s.state = a.state
        )
        SELECT seq_id,
               round(CASE WHEN sum(CASE WHEN cost_from IS NOT NULL
                                        THEN abs(cost - cost_from)
                                             * (2.0 * j / (j * (j + 1)))
                                        ELSE 0.0 END) > 0
                          THEN sum(CASE WHEN cost_from IS NOT NULL
                                        THEN (cost - cost_from)
                                             * (2.0 * j / (j * (j + 1)))
                                        ELSE 0.0 END)
                          ELSE 0.0 END, {R}) AS degradation
        FROM sp GROUP BY seq_id
    """,
    "spell_survival": f"""
        WITH {_SPELLS_CTE},
        sp AS (
            SELECT state AS stratum, CAST(duration AS DOUBLE) AS time,
                   CASE WHEN spell_id <> max(spell_id)
                                 OVER (PARTITION BY seq_id)
                        THEN 1.0 ELSE 0.0 END AS evw
            FROM spells
        ),
        agg AS (
            SELECT stratum, time, sum(evw) AS d, sum(1.0 - evw) AS c,
                   CAST(count(*) AS DOUBLE) AS wt
            FROM sp GROUP BY 1, 2
        ),
        wr AS (
            SELECT *, sum(wt) OVER (PARTITION BY stratum ORDER BY time
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                      AS n_risk
            FROM agg
        ),
        cum AS (
            SELECT *,
                CASE WHEN max(CASE WHEN d > 0 AND d >= n_risk THEN 1
                                   ELSE 0 END)
                          OVER (PARTITION BY stratum ORDER BY time
                                ROWS UNBOUNDED PRECEDING) = 1
                     THEN 0.0
                     ELSE exp(sum(CASE WHEN d > 0 AND n_risk > d
                                       THEN ln(1 - d / n_risk)
                                       ELSE 0.0 END)
                              OVER (PARTITION BY stratum ORDER BY time
                                    ROWS UNBOUNDED PRECEDING))
                END AS surv,
                sum(CASE WHEN d > 0 AND n_risk > d
                         THEN d / (n_risk * (n_risk - d)) ELSE 0.0 END)
                    OVER (PARTITION BY stratum ORDER BY time
                          ROWS UNBOUNDED PRECEDING) AS gvar
            FROM wr WHERE d > 0 OR c > 0
        )
        SELECT stratum, time, n_risk, d AS n_event,
               round(surv, {R}) AS surv,
               round(surv * sqrt(gvar), {R}) AS std_err
        FROM cum
    """,
    "emlt_transrate": f"""
        WITH {_TURNS_CTE},
        r12 AS (SELECT seq_id, CAST(pos AS INT) AS t, state AS s
                FROM turns WHERE pos <= 12),
        nb AS (SELECT t, s, CAST(count(*) AS DOUBLE) AS nb
               FROM r12 GROUP BY 1, 2),
        co AS (
            SELECT a.t AS ti, a.s AS si, b.t AS tj, b.s AS sj,
                   CAST(count(*) AS DOUBLE) AS cooc
            FROM r12 a JOIN r12 b
              ON a.seq_id = b.seq_id AND b.t >= a.t
            GROUP BY 1, 2, 3, 4
        )
        SELECT co.ti, co.si, co.tj, co.sj, co.cooc,
               round(co.cooc / nb.nb, {R}) AS rate
        FROM co JOIN nb ON co.ti = nb.t AND co.si = nb.s
    """,
    "simhash": _simhash_oracle_sql(),
    "lsh_cosine_topk": _lsh_topk_oracle_sql(),
    "ann_batch_topk": _ann_batch_oracle_sql(),
    "doc_fingerprint": """
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                   regexp_split_to_array(trim(text), '\\s+'))), ' '))
                   AS fingerprint
        FROM documents
    """,
    "cosine_topk": f"""
        WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        scored AS (
            SELECT e.vec_id,
                   list_sum(list_transform(list_zip(e.embedding, q.qe),
                       x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                   / (sqrt(list_sum(list_transform(e.embedding,
                          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                    * sqrt(list_sum(list_transform(q.qe,
                          v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))))
                       AS cos_raw
            FROM embeddings e, q
        )
        SELECT vec_id, round(cos_raw, {R}) AS cosine
        FROM scored ORDER BY cos_raw DESC, vec_id ASC LIMIT 10
    """,
}
