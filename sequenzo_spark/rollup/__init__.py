from sequenzo_spark.rollup.aggregates import (
    TABLES,
    derive_distribution,
    derive_spell_stats,
    derive_transition_rates,
    merge,
    merge_tier,
    rollup_1m_fused,
)
from sequenzo_spark.rollup.cascade import run_cascade

__all__ = [
    "TABLES",
    "merge",
    "merge_tier",
    "rollup_1m_fused",
    "derive_distribution",
    "derive_transition_rates",
    "derive_spell_stats",
    "run_cascade",
]
