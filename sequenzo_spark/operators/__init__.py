from sequenzo_spark.operators.spells import dss, locf_fill, spell_table
from sequenzo_spark.operators.transitions import (
    transition_counts,
    transition_pairs,
    transition_pwight,
    transition_rates,
)
from sequenzo_spark.operators.distributions import (
    cross_sectional_distribution,
    cross_sectional_entropy,
    flag_top_states,
    fold_distribution,
    js_divergence_consecutive,
    modal_sequence_occurrences,
    modal_state,
)
from sequenzo_spark.operators.indicators import (
    entropy_difference,
    integration_index,
    mean_time_in_states,
    sequence_indicators,
    spell_duration_variance,
    stat_summary,
    state_freq_per_seq,
    turbulence,
)
from sequenzo_spark.operators.gapfill import densify, fill_gaps

__all__ = [
    "spell_table",
    "dss",
    "locf_fill",
    "transition_pairs",
    "transition_counts",
    "transition_rates",
    "transition_pwight",
    "cross_sectional_distribution",
    "cross_sectional_entropy",
    "flag_top_states",
    "fold_distribution",
    "js_divergence_consecutive",
    "modal_state",
    "modal_sequence_occurrences",
    "sequence_indicators",
    "turbulence",
    "mean_time_in_states",
    "entropy_difference",
    "spell_duration_variance",
    "integration_index",
    "stat_summary",
    "state_freq_per_seq",
    "densify",
    "fill_gaps",
]
