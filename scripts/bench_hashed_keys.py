"""Deep-transcript benchmark: string vs hashed prefix/suffix keys.

The (t, prefix) shuffle key is the \\x1f-joined state string — O(depth)
bytes per row, O(T²) bytes per sequence across levels — which is the plan
you would NOT want at 10³-10⁴-turn transcripts (round-5 verdict). The
constant-width xxhash64-chain path (``hashed=True``,
_tree._hashed_key_rows) is the opt-in scale path for deep sequences; it
defaults to ``False`` because string keys are portable to the DuckDB
oracle (the oracle SQL re-derives them).

Run: python scripts/bench_hashed_keys.py  [n_convs turns]
Prints one JSON line with wall times and a ratio.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    turns = int(sys.argv[2]) if len(sys.argv) > 2 else 1000

    from pyspark.sql import functions as F

    from sequenzo_spark import get_spark
    from sequenzo_spark.operators.prefix_tree import prefix_rarity
    from sequenzo_spark.operators.suffix_tree import suffix_rarity

    spark = get_spark("bench-hashed", shuffle_partitions=None)
    spark.sparkContext.setLogLevel("ERROR")
    # EVERY sequence `turns` deep (deterministic xxhash64-derived states) —
    # this is the regime where the O(T²)-bytes-per-sequence string keys
    # diverge from the constant-width hash chain
    states = F.lit(["user", "assistant", "tool", "system"])
    seq = (
        spark.range(n_convs)
        .repartition(32)
        .select(
            F.col("id").alias("seq_id"),
            F.explode(
                F.sequence(F.lit(1), F.lit(int(turns)))
            ).alias("pos"),
        )
        .select(
            "seq_id",
            "pos",
            F.element_at(
                states,
                (F.pmod(F.xxhash64("seq_id", "pos"), F.lit(4)) + 1).cast(
                    "int"
                ),
            ).alias("state"),
        )
    )
    seq.write.mode("overwrite").parquet("/dev/shm/_hashed_bench_input")
    seq = spark.read.parquet("/dev/shm/_hashed_bench_input")

    out = {"n_convs": n_convs, "max_turns": turns}
    for name, fn in (("prefix_rarity", prefix_rarity), ("suffix_rarity", suffix_rarity)):
        for hashed in (False, True):
            per = []
            for _ in range(2):
                t0 = time.time()
                fn(seq, hashed=hashed).write.format("noop").mode(
                    "overwrite"
                ).save()
                per.append(round(time.time() - t0, 2))
            out[f"{name}_{'hashed' if hashed else 'string'}"] = min(per)
        out[f"{name}_speedup"] = round(
            out[f"{name}_string"] / out[f"{name}_hashed"], 2
        )
    print(json.dumps(out))
    spark.stop()
    import shutil

    shutil.rmtree("/dev/shm/_hashed_bench_input", ignore_errors=True)


if __name__ == "__main__":
    main()
