"""Direction-parameterized core of the prefix- and suffix-tree operators.

A suffix is a prefix of the sequence read backwards, so every tree
indicator is one computation run in one of two directions. ``from_end``
picks the key rows: False keys each position by its prefix (level t =
depth from the start), True by its suffix (level t = suffix length, the
"time index from the end"). The divergence scan follows the same switch:
prefixes hunt windows of HIGH z in depth order (window value = its least
z, std_score = the best window's value, selection direction "high");
suffixes hunt windows of LOW z in year order, i.e. descending suffix
length (window value = its greatest z, selection direction "low").
``prefix_tree`` and ``suffix_tree`` are thin wrappers that name the
columns.

Scale shape: ONE window pass builds (seq, t, key) rows; everything else is
groupBy aggregates on (t, key) / seq_id with bounded task state. The key
is the \\x1f-joined state string (portable to the SQL oracle;
collision-free). Its length grows with depth, so the (t, key) shuffle
carries O(depth) bytes per row — at extreme depths ``hashed=True`` swaps
it for the incremental xxhash64 chain (_hashed_key_rows: same plan,
constant-width 8-byte keys, loses oracle portability). Every float
reduction folds in a fixed order, so each output bit is the same at any
parallelism (the engine-wide reduction rule): per-seq sums fold in level
order, and the per-level z moments fold an exact (freq → count) histogram
in freq order (``zscores``).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

from sequenzo_spark.session import persist

SEP = "\x1f"  # unit separator: cannot appear in state labels (validated at ingest)

_HASH_SEED = -6048811049363430000  # arbitrary non-state chain seed


def _hashed_key_rows(
    df: DataFrame,
    seq_col: str,
    order_col: str,
    state_col: str,
    from_end: bool,
) -> DataFrame:
    """(seq_id, t, prefix) with CONSTANT-WIDTH 8-byte keys: key_t =
    xxhash64(key_{t−1}, state_t) — an incremental hash chain over the
    per-sequence state array (reversed when ``from_end``), so the
    (t, key) shuffle carries 8 bytes per row instead of the O(depth)
    string key. Collision-free only probabilistically (64-bit); the
    string key stays the default for oracle portability."""
    arr = df.groupBy(F.col(seq_col).alias("seq_id")).agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col(order_col).alias("p"), F.col(state_col).alias("s"))
            )
        ).alias("_a")
    )
    sts = F.transform(F.col("_a"), lambda x: x["s"])
    if from_end:
        sts = F.reverse(sts)
    chain = F.aggregate(
        sts,
        F.array().cast("array<bigint>"),
        lambda acc, s: F.concat(
            acc,
            F.array(
                F.xxhash64(
                    # F.get is null (not ANSI error) on the empty accumulator
                    F.coalesce(
                        F.get(acc, F.size(acc) - 1), F.lit(_HASH_SEED)
                    ),
                    s,
                )
            ),
        ),
    )
    return arr.select(
        # outer: chain is non-empty (≥1 state per sequence) and outer
        # explode avoids the inferred size>0 pre-filter re-evaluating the
        # whole hash-chain fold
        "seq_id", F.posexplode_outer(chain).alias("t0", "prefix")
    ).select("seq_id", (F.col("t0") + 1).alias("t"), "prefix")


def _prefix_rows(
    df: DataFrame,
    seq_col: str = "seq_id",
    order_col: str = "pos",
    state_col: str = "state",
    hashed: bool = False,
    from_end: bool = False,
) -> DataFrame:
    """(seq_id, t, prefix) — one row per sequence position; prefix = the
    states from the start through t, joined with SEP. One window pass.

    ``from_end=True`` reads the sequence backwards: t = positions from
    here to the end (the suffix LENGTH, a long) and prefix = the suffix
    from here through the end, in forward order.

    ``hashed=True`` swaps the string key for the incremental xxhash64
    chain (constant-width shuffle keys — the scale path for 10⁴-turn
    sequences, where the string key's O(T²) bytes per sequence dominate;
    same plan shape, loses oracle portability)."""
    if hashed:
        return _hashed_key_rows(df, seq_col, order_col, state_col, from_end)
    # from_end orders DESCENDING with an unbounded-PRECEDING frame, then
    # reverses: Spark evaluates unbounded-FOLLOWING (shrinking) frames by
    # re-aggregating the whole frame for EVERY row — O(T²) collect_list
    # work per sequence — while the growing frame is incremental (O(T)).
    order = F.col(order_col).desc() if from_end else F.col(order_col)
    wr = Window.partitionBy(seq_col).orderBy(order)
    t = F.row_number().over(wr)
    states = F.collect_list(state_col).over(
        wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if from_end:
        t, states = t.cast("long"), F.reverse(states)
    return df.select(
        F.col(seq_col).alias("seq_id"),
        t.alias("t"),
        F.concat_ws(SEP, states).alias("prefix"),
    )


def level_counts(
    rows: DataFrame, key: str, n_col: str, ratio_col: str
) -> DataFrame:
    """Per level t: ``n_col`` = distinct ``key`` values and ``ratio_col`` =
    n(t)/n(t−1), 0.0 at t=1 — the tree's mean children count in closed
    form (every level-t key has exactly one level-(t−1) parent). The lag
    window runs over the per-level aggregate (max-length rows), so an
    un-partitioned window is fine."""
    per_t = rows.groupBy("t").agg(F.countDistinct(key).alias(n_col))
    prev = F.lag(n_col).over(Window.orderBy("t"))
    ratio = F.when(prev.isNull(), F.lit(0.0)).otherwise(
        F.col(n_col).cast("double") / prev.cast("double")
    )
    return per_t.select("t", n_col, ratio.alias(ratio_col))


def _freq_rows(
    df: DataFrame,
    seq_col: str,
    order_col: str,
    state_col: str,
    group_col: str | None,
    hashed: bool,
    from_end: bool,
) -> DataFrame:
    """Key rows plus ``freq`` (sequences sharing the row's level-t key) and
    ``_n`` (sequence count), both within ``group_col`` when given."""
    gcols = [group_col] if group_col else []
    rows = _prefix_rows(df, seq_col, order_col, state_col, hashed, from_end)
    if group_col:
        grp = df.groupBy(F.col(seq_col).alias("seq_id")).agg(
            F.first(group_col).alias(group_col)
        )
        rows = rows.join(grp, "seq_id")
    # freq as a WINDOW count over (t, key): one shuffle of the key rows,
    # instead of a groupBy + re-join which evaluated the expensive
    # per-sequence key window pass twice more (values identical: every
    # row's count over its own key group)
    rows = rows.withColumn(
        "freq", F.count(F.lit(1)).over(Window.partitionBy(*gcols, "t", "prefix"))
    )
    # N from the BASE table (cheap column-pruned aggregate; same distinct
    # seq set as the key rows, which carry ≥1 row per sequence), not from
    # the key rows (which would re-evaluate the key pipeline a third time)
    if group_col:
        n_seqs = df.groupBy(F.col(group_col)).agg(
            F.countDistinct(F.col(seq_col)).alias("_n")
        )
        return rows.join(F.broadcast(n_seqs), gcols)
    n_seqs = df.agg(F.countDistinct(F.col(seq_col)).alias("_n"))
    return rows.crossJoin(F.broadcast(n_seqs))


def _rarity():
    # the reference adds 1e-10 inside the log (prefix
    # individual_level_indicators.py:252, :580; suffix :93, :668)
    return -F.log(
        F.col("freq").cast("double") / F.col("_n").cast("double")
        + F.lit(1e-10)
    )


def rarity_rows(
    df: DataFrame,
    seq_col: str,
    order_col: str,
    state_col: str,
    group_col: str | None = None,
    hashed: bool = False,
    from_end: bool = False,
) -> DataFrame:
    """(seq_id, [group], t, freq, r) with r = −ln(freq/N + 1e-10)."""
    gcols = [group_col] if group_col else []
    return _freq_rows(
        df, seq_col, order_col, state_col, group_col, hashed, from_end
    ).select("seq_id", *gcols, "t", "freq", _rarity().alias("r"))


def rarity_fold(
    df: DataFrame,
    seq_col: str,
    order_col: str,
    state_col: str,
    group_col: str | None,
    hashed: bool,
    from_end: bool,
) -> DataFrame:
    """Per sequence: rarity_score = Σ_t rarity (folded in ascending-t
    order for bit-deterministic output) and path_uniqueness = #{t :
    freq == 1}."""
    gcols = [group_col] if group_col else []
    per_seq = _freq_rows(
        df, seq_col, order_col, state_col, group_col, hashed, from_end
    ).groupBy("seq_id", *gcols).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("t").alias("t"), _rarity().alias("r")))
        ).alias("_rs"),
        F.sum(F.when(F.col("freq") == 1, 1).otherwise(0))
        .cast("long")
        .alias("path_uniqueness"),
    )
    score = (
        F.aggregate(F.col("_rs"), F.lit(0.0), lambda acc, s: acc + s["r"])
        + 0.0  # normalize -0.0 (all-shared keys → −ln(1) terms)
    )
    return per_seq.select(
        "seq_id", *gcols, score.alias("rarity_score"), "path_uniqueness"
    )


def zscores(rar: DataFrame, gcols: list[str]) -> DataFrame:
    """(seq_id, [group], t, z): ``r`` standardized across sequences per
    level (within group) with SAMPLE std (ddof=1); null z at zero-variance
    and single-row levels.

    The moments come from an EXACT per-level histogram, so their bits do
    not depend on how Spark partitions the rows. Within a level, r is a
    function of freq alone, so grouping by (level, freq) gives an exact
    long count n per distinct r. Each level's (freq, n, r) structs are then
    sorted and folded in freq order: cnt = Σn, m = Σn·r / cnt, ss =
    Σn·(r−m)² (the two-pass form: the one-pass s2−2m·s1+cnt·m² cancels
    catastrophically near zero variance). The array is bounded: its d
    distinct freq values sum to at most N, so d ≤ √(2N). Zero variance is
    exactly one distinct freq (size 1), which also covers cnt == 1. One
    broadcast join puts z back on the rarity rows."""
    kcols = gcols + ["t"]
    hist = (
        rar.groupBy(*kcols, "freq")
        .agg(F.count(F.lit(1)).alias("n"), F.max("r").alias("r"))
        .groupBy(*kcols)
        .agg(
            F.array_sort(F.collect_list(F.struct("freq", "n", "r"))).alias("_h")
        )
    )
    cnt = F.aggregate("_h", F.lit(0).cast("long"), lambda acc, h: acc + h["n"])
    s1 = F.aggregate("_h", F.lit(0.0), lambda acc, h: acc + h["n"] * h["r"])
    # m is referenced twice below, so the optimizer keeps it in this
    # projection instead of re-folding it inside the ss lambda
    moments = hist.select(*kcols, "_h", cnt.alias("cnt"), (s1 / cnt).alias("m"))

    def sq_dev(h):
        d = h["r"] - F.col("m")
        return d * d

    ss = F.aggregate("_h", F.lit(0.0), lambda acc, h: acc + h["n"] * sq_dev(h))
    sd = F.when(F.size("_h") > 1, F.sqrt(ss / (F.col("cnt") - 1)))
    stats = moments.select(*kcols, "m", sd.alias("sd"))
    z = (F.col("r") - F.col("m")) / F.col("sd")
    return rar.join(F.broadcast(stats), kcols).select(
        "seq_id", *gcols, "t", z.alias("z")
    )


def starts_of(za, min_t: int, w: int, max_t: int | None = None):
    """Window start years p ∈ [min_t, min(max_t, len(za)−w+1)] (empty when
    the sequence is too short — F.sequence would otherwise DESCEND;
    ``max_t`` is the reference's search-interval cap, default None →
    T−window+1)."""
    hi = F.size(za) - (w - 1)
    if max_t is not None:
        hi = F.least(hi, F.lit(int(max_t)))
    return F.when(
        hi >= int(min_t), F.sequence(F.lit(int(min_t)), hi)
    ).otherwise(F.array().cast("array<int>"))


def _first_p(cands):
    """Smallest window start p in a non-empty candidate array."""
    return F.aggregate(
        F.transform(cands, lambda c: c["p"]),
        F.lit(2**31 - 1),
        lambda acc, x: F.least(acc, x),
    )


def divergence(
    df: DataFrame,
    from_end: bool,
    z_threshold: float,
    min_t: int,
    max_t: int | None,
    window: int,
    inclusive: bool,
    method: str,
    proportion: float | None,
    quantile_p: float | None,
    min_count: int,
    seq_col: str,
    order_col: str,
    state_col: str,
    group_col: str | None,
    hashed: bool = False,
) -> DataFrame:
    """seq_id, [group], std_score, flag, first_t — the z-score window
    method shared by prefix divergence and suffix convergence (see the
    wrappers' docstrings). Over start years p ∈ [min_t, T−window+1]
    (capped at ``max_t``), windows of ``window`` consecutive z's skipping
    any window containing null: a window's value is its least z (prefix)
    or greatest z (suffix); std_score = the most extreme window value;
    method="zscore" flags a window whose value is beyond ±z_threshold,
    the selection methods flag select_by_score's pick and take first_t as
    the earliest window at or beyond the selection threshold."""
    if min_t < 1 or window < 1:
        raise ValueError("min_t and window must be >= 1")
    if max_t is not None and max_t < min_t:
        raise ValueError("max_t must be >= min_t")
    gcols = [group_col] if group_col else []
    # rar feeds both the per-level histogram and the z re-join; without
    # the cache the window+join chain runs twice
    rar = persist(
        rarity_rows(df, seq_col, order_col, state_col, group_col, hashed, from_end)
    )
    # scan in year order: depth for prefixes; for suffixes year
    # L − t + 1, i.e. descending suffix length
    order = -F.col("t") if from_end else F.col("t")
    per = zscores(rar, gcols).groupBy("seq_id", *gcols).agg(
        F.array_sort(
            F.collect_list(F.struct(order.alias("o"), F.col("z")))
        ).alias("_zs")
    )

    def beyond(x, thr, inclusive):
        if from_end:
            return (x <= thr) if inclusive else (x < thr)
        return (x >= thr) if inclusive else (x > thr)

    w = int(window)
    # STAGED projections: the z array and the candidate-window array are
    # each computed ONCE into a column and every consumer references the
    # column. Interpreted higher-order functions get no common-
    # subexpression elimination, so a flat form re-evaluates the whole
    # transform/filter chain once per output column — and the z-array
    # `transform` once per lambda invocation inside it (O(T²) per row).
    # CollapseProject keeps multi-referenced non-trivial aliases staged,
    # so each row pays one za pass + one cands pass.
    staged = per.select(
        "seq_id",
        *gcols,
        F.transform(F.col("_zs"), lambda s: s["z"]).alias("_za"),
    )
    zac = F.col("_za")
    window_value, best = (
        (F.array_max, F.array_min) if from_end else (F.array_min, F.array_max)
    )
    cands_expr = F.filter(
        F.transform(
            starts_of(zac, min_t, w, max_t),
            lambda p: F.struct(
                p.alias("p"), window_value(F.slice(zac, p, w)).alias("v")
            ),
        ),
        lambda c: ~F.exists(F.slice(zac, c["p"], w), lambda x: x.isNull()),
    )
    staged = staged.select("seq_id", *gcols, cands_expr.alias("_cands"))
    cands = F.col("_cands")
    std_score = F.when(
        F.size(cands) > 0, best(F.transform(cands, lambda c: c["v"]))
    )
    if method == "zscore":
        thr = F.lit(-float(z_threshold) if from_end else float(z_threshold))
        passed_expr = F.filter(cands, lambda c: beyond(c["v"], thr, inclusive))
        staged = staged.select(
            "seq_id", *gcols, cands, passed_expr.alias("_passed")
        )
        passed = F.col("_passed")
        flag = F.when(F.size(passed) > 0, F.lit(1)).otherwise(F.lit(0))
        first_t = F.when(F.size(passed) > 0, _first_p(passed)).otherwise(
            F.lit(0)
        )
        return staged.select(
            "seq_id",
            *gcols,
            std_score.alias("std_score"),
            flag.cast("long").alias("flag"),
            first_t.cast("long").alias("first_t"),
        )
    # ``_cands`` rides through the selection so the first-crossing scan
    # below reuses the staged array instead of rebuilding it from _zs
    scored = staged.select(
        "seq_id", *gcols, std_score.alias("std_score"), cands
    )
    sel = select_by_score(
        scored,
        "std_score",
        direction="low" if from_end else "high",
        method=method,
        proportion=proportion,
        quantile_p=quantile_p,
        min_count=min_count,
        group_col=group_col,
    )
    # earliest window at or beyond the selection threshold, carried as the
    # ``_thr`` column by select_by_score (worst selected score for
    # top_proportion, the percentile for quantile)
    hit = F.filter(F.col("_cands"), lambda c: beyond(c["v"], F.col("_thr"), True))
    first_t = F.when(
        (F.col("selected") == 1) & (F.size(hit) > 0), _first_p(hit)
    ).otherwise(F.lit(0))
    return sel.select(
        "seq_id",
        *gcols,
        "std_score",
        F.col("selected").cast("long").alias("flag"),
        first_t.cast("long").alias("first_t"),
    )


def select_by_score(
    scored: DataFrame,
    score_col: str,
    direction: str,
    method: str,
    proportion: float | None,
    quantile_p: float | None,
    min_count: int,
    group_col: str | None = None,
) -> DataFrame:
    """Rank/quantile selection over an aggregated standardized score —
    the reference's "top_proportion" / "quantile" branches
    (suffix_tree/individual_level_indicators.py:181-245,
    prefix_tree/individual_level_indicators.py:97-245), shared by suffix
    convergence (direction="low": smallest scores selected) and prefix
    divergence (direction="high": largest selected).

    top_proportion: k = clamp(floor(p·n_valid), min_count, n_valid) per
    group (global when no group); the k most extreme finite scores are
    flagged. The reference breaks score ties by input order (stable
    argsort); here ties break by seq_id — identical whenever input order
    is seq_id order. quantile: flag scores beyond the linear-interpolated
    quantile (numpy nanquantile default), ≤ for "low", ≥ for "high".
    Null scores are never selected. Adds an int ``selected`` column and a
    ``_thr`` column (the selection threshold = the most extreme NON-selected
    boundary value: worst selected score for top_proportion, the quantile
    for quantile — callers use it for first-crossing logic and drop it).

    Scale shape: the UNGROUPED paths derive the threshold from AGGREGATES
    — count + bounded per-partition top-k for the k-th order statistic,
    or an exact percentile aggregate — then select by plain comparison;
    the only remaining rank runs over the TIE rows at the threshold
    boundary (normally ~1 row). A ``Window.partitionBy()`` would funnel
    EVERY per-sequence score through one task. The grouped paths keep
    per-group windows (bounded by group size)."""
    if direction not in ("low", "high"):
        raise ValueError("direction must be 'low' or 'high'")
    low = direction == "low"
    sc = F.col(score_col)
    if method in ("top_proportion", "topk", "proportion", "rank"):
        p = 0.10 if proportion is None else float(proportion)
        if group_col:
            wg = Window.partitionBy(group_col)
            order = (
                [sc.asc_nulls_last(), F.col("seq_id").asc()]
                if low
                else [sc.desc_nulls_last(), F.col("seq_id").desc()]
            )
            wr = wg.orderBy(*order)
            n_valid = F.sum(F.when(sc.isNotNull(), 1).otherwise(0)).over(wg)
            kk = F.greatest(
                F.floor(F.lit(p) * n_valid), F.lit(int(min_count))
            )
            kk = F.least(kk, n_valid)
            sel = (F.row_number().over(wr) <= kk) & sc.isNotNull()
            out = scored.withColumn("selected", sel.cast("int"))
            thr = (F.max if low else F.min)(
                F.when(F.col("selected") == 1, sc)
            ).over(wg)
            return out.withColumn("_thr", thr)
        # aggregate-derived threshold: the selected set is {score strictly
        # more extreme than s*} ∪ {the first (k − |strict|) boundary ties
        # by seq_id}, where s* = the k-th most extreme score (the worst
        # selected score). Every strictly-more-extreme score is among the
        # top k, so the tie budget k − |strict| is the number of times s*
        # appears in the top k: one job yields both s* and the budget.
        cached = persist(scored)
        n_valid = cached.where(sc.isNotNull()).count()
        k = min(max(math.floor(p * n_valid), int(min_count)), n_valid)
        if k <= 0:
            return cached.withColumn("selected", F.lit(0)).withColumn(
                "_thr", F.lit(None).cast("double")
            )
        s_star, budget = (
            cached.where(sc.isNotNull())
            .select(sc.alias("_s"))
            .orderBy(F.col("_s").asc() if low else F.col("_s").desc())
            .limit(k)
            .groupBy("_s")
            .count()
            .orderBy(F.col("_s").desc() if low else F.col("_s").asc())
            .first()
        )
        strict = (sc < F.lit(s_star)) if low else (sc > F.lit(s_star))
        # boundary ties ranked by seq_id via TakeOrdered (bounded per-
        # partition top-k, no single-partition exchange anywhere)
        tie_sel = (
            cached.where(sc == F.lit(s_star))
            .select("seq_id")
            .orderBy(F.col("seq_id").asc() if low else F.col("seq_id").desc())
            .limit(int(budget))
            .select("seq_id", F.lit(1).alias("_tie_sel"))
        )
        out = cached.join(F.broadcast(tie_sel), "seq_id", "left")
        sel = sc.isNotNull() & (strict | F.col("_tie_sel").isNotNull())
        return (
            out.withColumn("selected", sel.cast("int"))
            .withColumn("_thr", F.lit(float(s_star)))
            .drop("_tie_sel")
        )
    if method == "quantile":
        q = (
            (0.10 if low else 0.90)
            if quantile_p is None
            else float(quantile_p)
        )
        if group_col:
            wg = Window.partitionBy(group_col)
            xq = F.expr(f"percentile({score_col}, {q!r})").over(wg)
            sel = ((sc <= xq) if low else (sc >= xq)) & sc.isNotNull()
            return scored.withColumn("selected", sel.cast("int")).withColumn(
                "_thr", xq
            )
        # exact percentile as an AGGREGATE (identical value to a
        # whole-frame window percentile: same function, same multiset),
        # broadcast back — no single-partition window
        cached = persist(scored)
        thr_df = cached.agg(
            F.expr(f"percentile({score_col}, {q!r})").alias("_thr")
        )
        out = cached.crossJoin(F.broadcast(thr_df))
        sel = (
            (sc <= F.col("_thr")) if low else (sc >= F.col("_thr"))
        ) & sc.isNotNull()
        return out.withColumn("selected", sel.cast("int"))
    raise ValueError(f"unknown selection method: {method!r}")
