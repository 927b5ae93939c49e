"""Prefix-tree indicators (position-based: level = time index).

Reference surface (studied, not copied — the reference materializes an
in-memory dict trie; this engine never builds a tree object, it derives the
same quantities from prefix-key aggregates):

- system level — prefix_tree/system_level_indicators.py:
  compute_prefix_count (:110): distinct prefixes per depth t;
  compute_branching_factor (:131): mean number of children over the
  depth-(t−1) prefixes, 0.0 padded at t=1. Every depth-t prefix has exactly
  one depth-(t−1) parent, so the mean children count equals
  n_prefixes(t) / n_prefixes(t−1) — the closed form computed here.
  (The JS-divergence third indicator, :154, is
  operators/distributions.js_divergence_consecutive.)

- individual level — prefix_tree/individual_level_indicators.py:
  prefix rarity (:46, compute_prefix_rarity_per_year): rarity(i,t) =
  −ln(freq(prefix_{i,t}) / N); rarity score = Σ_t rarity (i.e.
  compute_prefix_rarity_score); path uniqueness (compute_path_uniqueness,
  grouped variant :1282): number of depths at which the individual's prefix
  is unique (freq == 1). With ``group_col``, frequencies and N are computed
  within each group (compute_path_uniqueness_by_group_prefix).

The reference requires equal-length sequences; this engine generalizes to
variable lengths: prefix_{i,t} exists for t ≤ len(i), freq counts the
sequences sharing that exact depth-t prefix, and N stays the total
sequence (or group) count — for equal-length inputs the numbers coincide
with the reference's.

The computation is the direction-parameterized core in ``_tree`` run
forwards (from_end=False): rows → freq → rarity → histogram z → window scan
→ selection; this module names the columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from sequenzo_spark.operators import _tree
from sequenzo_spark.operators._tree import (  # noqa: F401  (public names)
    SEP,
    _prefix_rows,
)
from sequenzo_spark.session import release_caches as release_prefix_caches  # noqa: F401


def prefix_tree_stats(
    df: DataFrame,
    seq_col: str = "seq_id",
    order_col: str = "pos",
    state_col: str = "state",
    hashed: bool = False,
) -> DataFrame:
    """Per depth t: n_prefixes (distinct prefixes — compute_prefix_count)
    and branching_factor (n_prefixes(t)/n_prefixes(t−1), 0.0 at t=1 —
    compute_branching_factor's padding). The lag window runs over the
    per-depth aggregate (max-sequence-length rows), not data rows."""
    return _tree.level_counts(
        _prefix_rows(df, seq_col, order_col, state_col, hashed),
        "prefix",
        "n_prefixes",
        "branching_factor",
    )


def prefix_divergence(
    df: DataFrame,
    z_threshold: float = 1.5,
    min_t: int = 2,
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
    hashed: bool = False,
) -> DataFrame:
    """Individual divergence via the reference's z-score window method
    (IndividualDivergence.compute_diverged / compute_standardized_rarity_score
    / compute_first_divergence_year,
    prefix_tree/individual_level_indicators.py:99-280, :647-726):

    rarity(i,t) = −ln(freq(prefix_{i,t})/N + 1e-10)  (the divergence paths'
    epsilon, :252); z(i,t) standardizes rarity across individuals per depth
    with SAMPLE std (ddof=1, pandas default, :700); zero-variance depths
    (all rarities equal — detected exactly as one distinct frequency, not
    a float threshold) and single-row depths give null z. Then per individual, over
    start depths p ∈ [min_t, T−window+1], windows of ``window`` consecutive
    z's skipping any window containing null:

      std_score          = max_p min_k z(p+k)         (:717-722)
      diverged           = 1 iff some window has all z > threshold
                           (>= if ``inclusive``)       (:264-277)
      first_divergence_t = smallest such p, 0 if none  (1-indexed, :282)

    method="top_proportion"/"quantile" (compute_diverged's selection
    branches, :165-245) instead rank std_score via
    select_by_score (direction="high": the largest aggregated
    scores are the most atypical); diverged = selected, and
    first_divergence_t = earliest p whose window-min z is ≥ the selection
    threshold (mirror of the suffix module's per_t_window_max logic).

    Output: seq_id, std_score (null when no valid window), diverged,
    first_divergence_t. Per-depth moments fold an exact per-depth
    histogram of the rarity values in a fixed order (``_tree.zscores``)
    and the per-seq window scan folds in depth order, so every output bit
    is independent of partitioning. Variable-length inputs generalize the
    reference's equal-T requirement: depth-t stats cover the sequences
    long enough to reach t.

    ``group_col`` (constant within a sequence) switches to the reference's
    within-group variant (_compute_converged_by_group's prefix mirror and
    the per-group selection branches): frequencies, N, and the z moments
    are computed inside each group, and rank/quantile selections run per
    group; the output gains the group column."""
    return _tree.divergence(
        df, False, z_threshold, min_t, max_t, window, inclusive, method,
        proportion, quantile_p, min_count, seq_col, order_col, state_col,
        group_col, hashed,
    ).withColumnsRenamed({"flag": "diverged", "first_t": "first_divergence_t"})


def prefix_rarity(
    df: DataFrame,
    seq_col: str = "seq_id",
    order_col: str = "pos",
    state_col: str = "state",
    group_col: str | None = None,
    hashed: bool = False,
) -> DataFrame:
    """Per sequence: rarity_score = Σ_t −ln(freq(prefix_t)/N + 1e-10)
    (the reference's epsilon, individual_level_indicators.py:580) and
    path_uniqueness = #{t : freq(prefix_t) == 1}.

    ``group_col`` (a per-turn column, constant within a sequence) switches
    to the within-group variant: freq and N are computed inside each group
    (compute_path_uniqueness_by_group_prefix, individual_level:1282).
    The rarity sum folds in ascending-t order for bit-deterministic output."""
    return _tree.rarity_fold(
        df, seq_col, order_col, state_col, group_col, hashed, False
    )
