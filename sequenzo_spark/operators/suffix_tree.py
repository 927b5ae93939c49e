"""Suffix-tree indicators (level = time index from the END).

Reference surface (studied, not copied — the reference materializes an
in-memory dict trie per corpus; this engine derives the same quantities
from key aggregates and never builds a tree object):

- system level, position mode — suffix_tree/system_level_indicators.py:
  ``_build_suffix_tree_position`` (:186) inserts EVERY suffix of every
  sequence, and ``insert`` (:29) counts every prefix of each inserted
  suffix — so ``tree.counts``'s keys are the corpus's distinct SUBSTRINGS
  and ``compute_suffix_count`` (:110) is the number of distinct substrings
  of each length t. ``compute_merging_factor`` (:128) is the mean number
  of trie children over the length-(t−1) substrings, 0.0-padded at t=1;
  every length-t substring has exactly one length-(t−1) prefix, so the
  mean equals n(t)/n(t−1) — the closed form computed here. (The
  JS-convergence third indicator, :154, is
  operators/distributions.js_divergence_consecutive — note scipy's
  ``jensenshannon`` returns the square root of the base-e divergence.)

- system level, spell mode — suffix_tree/spell_level_indicators.py:
  ``build_spell_suffix_tree`` (:104) inserts ONE reversed spell sequence
  per individual, so level-k keys are the distinct "last k spells"
  patterns; ``compute_suffix_count_spell`` / ``compute_merging_factor_spell``
  (:158, :173) reduce to the same count/ratio closed form over
  sequence-suffix keys (spell_suffix_stats here).

- individual level — suffix_tree/individual_level_indicators.py
  (IndividualConvergence) and spell_individual_level_indicators.py:
  suffix_{i,t} = states from time t to the END; rarity(i,t) =
  −ln(freq/N + 1e-10) (:93, :668, _EPS in the spell module); rarity
  score = Σ_t rarity (:718); path uniqueness = #{t : freq == 1} (:988,
  by-group :1626); convergence = windows of LOW z
  (compute_converged :107, compute_standardized_rarity_score :737,
  compute_first_convergence_year :360) — the exact mirror of the prefix
  tree's divergence, with flipped comparisons: std_score =
  min_p max_k z(p+k), converged iff some window has all z < −threshold.
  Selection methods "top_proportion" / "quantile" (:181-245) rank the
  aggregated std_score instead (shared with prefix divergence via
  select_by_score).

The reference requires equal-length sequences; this engine generalizes to
variable lengths by pooling on k = SUFFIX LENGTH (the module's own "time
index from end"): for equal-length inputs k = T−t+1 is a bijection of the
reference's year index t, so frequencies, z columns, and outputs coincide;
per-sequence year indices are reported from the sequence's own start
(t = L_i − k + 1), matching the reference's 1-indexed years at equal L.

Scale shape: ONE window pass builds (seq, k, suffix-key) rows; everything
else is groupBy aggregates on (k, suffix) / seq_id with bounded task
state. The position-mode SYSTEM tree is inherently quadratic in sequence
length (all substrings — the reference inserts T suffixes of length
O(T)); ``suffix_tree_stats`` therefore takes ``max_len`` to bound it to
n-gram statistics (rows = T·max_len per sequence), the right shape for
10⁴-turn transcripts.

The computation is the direction-parameterized core in ``_tree`` run
backwards (from_end=True: key rows by suffix, scan for LOW z in year
order); this module names the columns (level ``k``, ``converged``,
``first_convergence_t``). Only ``suffix_tree_stats`` builds its own rows:
it counts substrings, not suffixes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from sequenzo_spark.operators import _tree
from sequenzo_spark.operators._tree import (  # noqa: F401  (public names)
    SEP,
    select_by_score,
    starts_of,
)
from sequenzo_spark.session import release_caches as release_suffix_caches  # noqa: F401


def suffix_tree_stats(
    df: DataFrame,
    max_len: int | None = None,
    seq_col: str = "seq_id",
    order_col: str = "pos",
    state_col: str = "state",
) -> DataFrame:
    """Position-mode SYSTEM indicators: per substring length t, the number
    of distinct substrings (compute_suffix_count) and the merging factor
    n(t)/n(t−1), 0.0 at t=1 (compute_merging_factor's closed form — see
    module docstring).

    ``max_len`` bounds the substring length (n-gram statistics): the
    reference's all-substrings tree is O(T²) keys per sequence, a
    scale-killer for long transcripts; with ``max_len`` the row count is
    T·max_len per sequence and the t ≤ max_len outputs are IDENTICAL to
    the unbounded tree's.

    Round-6 shape: one window pass collects, per POSITION, the next
    ``max_len`` states (a bounded per-row array); the grams starting at
    that position are prefixes of that small array. The previous
    per-sequence nested transform re-walked the whole sequence array for
    every gram (O(T) interpreted element accesses per gram — ~8 s of the
    9 s total at sf0.1); this form does O(max_len²) bounded work per
    position inside the same one-shuffle plan."""
    frame_end = (
        int(max_len) - 1 if max_len is not None else Window.unboundedFollowing
    )
    w = (
        Window.partitionBy(seq_col)
        .orderBy(order_col)
        .rowsBetween(Window.currentRow, frame_end)
    )
    rows = df.select(F.collect_list(state_col).over(w).alias("_w"))
    grams = F.transform(
        F.sequence(F.lit(1), F.size("_w")),
        lambda t: F.struct(
            t.alias("t"), F.concat_ws(SEP, F.slice("_w", 1, t)).alias("g")
        ),
    )
    # explode_outer: grams is non-empty for every position row and outer
    # explode stops InferFiltersFromGenerate from duplicating the
    # gram-building expression into a pre-filter
    gram_rows = rows.select(F.explode_outer(grams).alias("e")).select(
        F.col("e.t").alias("t"), F.col("e.g").alias("g")
    )
    return _tree.level_counts(gram_rows, "g", "n_suffixes", "merging_factor")


def spell_suffix_stats(
    df: DataFrame,
    seq_col: str = "seq_id",
    order_col: str = "pos",
    state_col: str = "state",
) -> DataFrame:
    """Spell/sequence-suffix SYSTEM indicators: per level k (last k
    elements), distinct suffix count and merging factor n(k)/n(k−1), 0.0
    at k=1 (compute_suffix_count_spell / compute_merging_factor_spell —
    the spell tree inserts one reversed sequence per individual, so its
    level-k keys are exactly the distinct length-k sequence suffixes).
    Feed ``spell_table`` output (order_col="spell_id") for spell mode."""
    return _tree.level_counts(
        _tree._prefix_rows(df, seq_col, order_col, state_col, from_end=True),
        "prefix",
        "n_suffixes",
        "merging_factor",
    ).withColumnRenamed("t", "k")


def suffix_rarity(
    df: DataFrame,
    seq_col: str = "seq_id",
    order_col: str = "pos",
    state_col: str = "state",
    group_col: str | None = None,
    hashed: bool = False,
) -> DataFrame:
    """Per sequence: rarity_score = Σ_k −ln(freq(suffix_k)/N + 1e-10)
    (compute_suffix_rarity_score) and path_uniqueness = #{k :
    freq(suffix_k) == 1} (compute_path_uniqueness; with ``group_col`` the
    within-group variant compute_path_uniqueness_by_group_suffix, :1626 —
    freq and N computed inside each group). The rarity sum folds in
    ascending-k order for bit-deterministic output."""
    return _tree.rarity_fold(
        df, seq_col, order_col, state_col, group_col, hashed, True
    )


def suffix_convergence(
    df: DataFrame,
    z_threshold: float = 1.5,
    min_t: int = 1,
    max_t: int | None = None,
    window: int = 1,
    inclusive: bool = False,
    method: str = "zscore",
    proportion: float | None = None,
    quantile_p: float | None = None,
    min_count: int = 1,
    seq_col: str = "seq_id",
    order_col: str = "pos",
    state_col: str = "state",
    group_col: str | None = None,
) -> DataFrame:
    """Individual convergence — the suffix mirror of prefix_divergence
    (IndividualConvergence.compute_converged /
    compute_standardized_rarity_score / compute_first_convergence_year,
    suffix_tree/individual_level_indicators.py:107-726):

    rarity(i,k) = −ln(freq(suffix_{i,k})/N + 1e-10); z(i,k) standardizes
    rarity across individuals per level k with SAMPLE std (ddof=1);
    zero-variance levels (exactly one distinct frequency) and single-row
    levels give null z. Per individual the z's are scanned in YEAR order
    (t = L_i − k + 1, i.e. start position of the suffix): over start
    years p ∈ [min_t, L−window+1], windows of ``window`` consecutive z's
    skipping any window containing null:

      std_score            = min_p max_j z(p+j)   (lower = more typical)
      converged            = 1 iff some window has all z < −threshold
                             (<= if ``inclusive``)
      first_convergence_t  = smallest such p, 0 if none (1-indexed)

    method="top_proportion"/"quantile" instead rank std_score via
    select_by_score (direction="low"); converged = selected, and
    first_convergence_t = earliest p whose window-max z is ≤ the
    selection threshold (the reference's per_t_window_max logic, :418).

    ``group_col`` (constant within a sequence) switches to the reference's
    within-group variant (_compute_converged_by_group and the per-group
    selection branches): frequencies, N, and the z moments are computed
    inside each group, and rank/quantile selections run per group.

    Output: seq_id, [group], std_score, converged, first_convergence_t."""
    return _tree.divergence(
        df, True, z_threshold, min_t, max_t, window, inclusive, method,
        proportion, quantile_p, min_count, seq_col, order_col, state_col,
        group_col,
    ).withColumnsRenamed({"flag": "converged", "first_t": "first_convergence_t"})


def suffix_rarity_per_level(
    df: DataFrame,
    zscore: bool = False,
    seq_col: str = "seq_id",
    order_col: str = "pos",
    state_col: str = "state",
) -> DataFrame:
    """Per-(sequence, level) suffix rarity — the reference's
    compute_suffix_rarity_per_year / compute_suffix_rarity_per_spell
    (suffix_tree/individual_level_indicators.py:668,
    spell_individual_level_indicators.py:83) in long format:
    (seq_id, k, rarity) with k = suffix length (time index from end);
    ``zscore=True`` returns the columnwise ddof-1 z instead (null at
    zero-variance or single-row levels). Levels beyond a sequence's
    length are simply absent (the reference's NaN cells)."""
    rar = _tree.rarity_rows(df, seq_col, order_col, state_col, from_end=True)
    rar, col = (_tree.zscores(rar, []), "z") if zscore else (rar, "r")
    return rar.select("seq_id", F.col("t").alias("k"), F.col(col).alias("rarity"))
