"""Mergeable frequency sketches with deterministic error bounds.

Complements the built-in sketch surface (HyperLogLog++ distinct counts,
Greenwald–Khanna quantiles — queries_analytics.py sketch_*) with the
third classic streaming summary: HEAVY HITTERS (most-frequent items),
via the distributed Misra-Gries / SpaceSaving merge.

Reference scope: the reference has no approximate operators at all
(SURVEY.md §2.6 — its aggregations are exact); this module is part of
the 100 TB extension surface, where "exact top-k users" means shuffling
every distinct (user, count) pair and a bounded-memory summary per
partition is the only viable shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from tugas_2_big_data_spark.functions import hashing
from tugas_2_big_data_spark.operators.sampling import hash_unit24

# Deterministic LOGICAL shards (not physical partitions): sharding by a
# portable seeded hash of a row attribute makes the sketch's output a
# pure function of the DATA, so it is rerun-stable, cross-engine
# reproducible (the DuckDB oracle replays the identical math), and
# independent of Spark's physical partitioning. Physical partitions
# would couple results to file splits — correct too, but unauditable.
SHARD_SEED = 5


def heavy_hitters(
    df: DataFrame,
    item_col: str,
    shard_key_col: str,
    n_shards: int = 16,
    local_k: int = 20,
    top_n: int = 10,
) -> DataFrame:
    """Top-`top_n` most frequent items with Misra-Gries merge bounds.

    Each logical shard keeps only its `local_k` highest per-item counts
    (bounded memory: `n_shards · local_k` summary rows total, whatever
    the item cardinality). For every candidate item (union of shard
    top-k lists):

    - ``est_lo`` = Σ counts over shards where the item survived — a
      certain LOWER bound on its true frequency;
    - ``est_hi`` = est_lo + Σ residual over shards where it was
      dropped, residual_s = the (k+1)-th count of shard s (no dropped
      item can exceed it) — a certain UPPER bound.

    An item whose true count exceeds Σ_s residual_s is GUARANTEED to be
    a candidate (it beats the cut in at least one shard), so the
    summary cannot miss a sufficiently heavy hitter — the Misra-Gries
    guarantee, merged.

    Output: (item, exact_cnt, est_lo, est_hi, within_bound) for the
    top_n candidates by est_lo. `exact_cnt` (one extra exact
    aggregation over the candidates) is emitted so the cross-engine
    gate value-compares true frequencies AND pins the sketch's bound
    arithmetic via ``within_bound`` — same contract as the HLL/GK
    sketch queries.

    Scale shape: one partial-aggregated shuffle to (shard, item), a
    WindowGroupLimit-pruned per-shard top-k over the ALREADY-aggregated
    relation (n_shards groups), one broadcast of the one-row total
    residual, and an exact count restricted to candidates. At 100 TB
    the (shard, item) aggregate is the only data-sized stage; all
    sketch state after it is n_shards·local_k rows.
    """
    shard = F.pmod(hash_unit24(shard_key_col, SHARD_SEED), F.lit(n_shards))
    local = (
        df.select(shard.alias("shard"), F.col(item_col).alias("item"))
        .groupBy("shard", "item")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("shard").orderBy(F.desc("cnt"), F.col("item"))
    ranked = local.withColumn("rk", F.row_number().over(w))
    kept = ranked.filter(F.col("rk") <= local_k)
    resid = ranked.filter(F.col("rk") == local_k + 1).select(
        "shard", F.col("cnt").alias("residual")
    )
    tot = resid.agg(
        F.coalesce(F.sum("residual"), F.lit(0)).alias("tot_residual")
    )
    per_item = (
        kept.join(resid, "shard", "left")
        .groupBy("item")
        .agg(
            F.sum("cnt").alias("est_lo"),
            F.sum(F.coalesce(F.col("residual"), F.lit(0))).alias(
                "present_resid"
            ),
        )
    )
    # exact counts RESTRICTED to the candidate set: the candidate item
    # ids (≤ n_shards·local_k rows) broadcast into a semi-join on the
    # scan, so the exact branch aggregates only candidate rows — a full
    # per-item aggregate here would be the very all-distinct-items
    # shuffle the sketch exists to avoid
    exact = (
        df.join(
            F.broadcast(per_item.select("item")),
            F.col(item_col) == F.col("item"),
            "left_semi",
        )
        .groupBy(F.col(item_col).alias("item"))
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    return (
        per_item.crossJoin(F.broadcast(tot))
        .withColumn(
            "est_hi",
            F.col("est_lo") + F.col("tot_residual") - F.col("present_resid"),
        )
        .join(exact, "item")
        .withColumn(
            "within_bound",
            (F.col("est_lo") <= F.col("exact_cnt"))
            & (F.col("exact_cnt") <= F.col("est_hi")),
        )
        .orderBy(F.desc("est_lo"), F.col("item"))
        .limit(top_n)
        .select(
            F.col("item"),
            F.col("exact_cnt"),
            F.col("est_lo"),
            F.col("est_hi"),
            F.col("within_bound"),
        )
    )


# ---------------------------------------------------------------------------
# Count-Min sketch: mergeable point-frequency estimation
# ---------------------------------------------------------------------------


def _cm_positions(item: Column, depth: int, width: int) -> Column:
    """The `depth` (row, col) counter positions of one item under the
    md5-seeded Count-Min hash family — seed goes INSIDE the hash
    (`cm{r}:item`), so each row is an independent family and the
    DuckDB oracle recomputes every position bit-for-bit."""
    return F.array(
        *[
            F.struct(
                F.lit(r).cast("int").alias("r"),
                (
                    hashing.hash60(
                        F.concat(F.lit(f"cm{r}:"), item.cast("string"))
                    )
                    % width
                )
                .cast("long")
                .alias("c"),
            )
            for r in range(depth)
        ]
    )


def count_min_counters(
    item_counts: DataFrame, depth: int = 4, width: int = 512
) -> DataFrame:
    """Build the Count-Min counter table (r, c, cell) from an exact
    (item, cnt) relation: each distinct item adds its count into one
    cell per row. The table is at most ``depth · width`` rows whatever
    the item cardinality — the whole sketch state fits in one broadcast
    — and it is MERGEABLE: cell-wise sum of two tables with the same
    (depth, width) is exactly the sketch of the concatenated streams
    (`merge_count_min`), so it rides the same append-only ingest loop
    as the bloom/fingerprint state.

    Scale shape: the caller's (item, cnt) aggregate is the only
    data-sized stage; this adds `depth` rows per DISTINCT item and one
    bounded groupBy. Building from pre-aggregated counts instead of raw
    rows keeps the explode off the 100 TB relation."""
    pos = F.explode(
        _cm_positions(F.col("item"), depth, width)
    ).alias("p")
    return (
        item_counts.select("cnt", pos)
        .select(F.col("p.r").alias("r"), F.col("p.c").alias("c"), "cnt")
        .groupBy("r", "c")
        .agg(F.sum("cnt").alias("cell"))
    )


def merge_count_min(cm_a: DataFrame, cm_b: DataFrame) -> DataFrame:
    """cm(A) + cm(B) = cm(A ++ B): union the counter tables and sum
    colliding cells. Per-merge cost is bounded by depth·width, not by
    stream size — the frequency twin of `merge_bloom_state`."""
    return (
        cm_a.unionByName(cm_b)
        .groupBy("r", "c")
        .agg(F.sum("cell").alias("cell"))
    )


def count_min_heavy(
    df: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 512,
    top_n: int = 10,
    materialize: bool = True,
) -> DataFrame:
    """Count-Min frequency estimates for the `top_n` most frequent
    items: (item, exact_cnt, cm_est, over_est, within_bound) where
    cm_est = min over the `depth` rows of the probed cell and
    within_bound pins the sketch's CERTAIN one-sided guarantee
    cm_est >= exact_cnt (every occurrence of an item lands in all of
    its cells; collisions only ADD). The sketch is fully deterministic
    (md5-seeded positions + sums), so unlike HLL/GK the estimates
    themselves are value-compared by the oracle, heavy-hitters-style.

    `exact_cnt` doubles as the probe selector and the oracle contract;
    a production deployment would probe externally-supplied keys
    against the broadcast counter table instead. `materialize`
    localCheckpoints the (item, cnt) aggregate — it feeds the counter
    build AND the probe selection, and without it the corpus-sized
    aggregate runs twice."""
    items = df.groupBy(F.col(item_col).alias("item")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    if materialize:
        items = items.localCheckpoint()
    counters = count_min_counters(items, depth, width)
    probes = items.orderBy(F.desc("cnt"), "item").limit(top_n)
    probe_pos = probes.select(
        "item",
        F.col("cnt").alias("exact_cnt"),
        F.explode(_cm_positions(F.col("item"), depth, width)).alias("p"),
    ).select("item", "exact_cnt", F.col("p.r").alias("r"), F.col("p.c").alias("c"))
    return (
        probe_pos.join(F.broadcast(counters), ["r", "c"])
        .groupBy("item", "exact_cnt")
        .agg(F.min("cell").alias("cm_est"))
        .select(
            "item",
            "exact_cnt",
            "cm_est",
            (F.col("cm_est") - F.col("exact_cnt")).alias("over_est"),
            (F.col("cm_est") >= F.col("exact_cnt")).alias("within_bound"),
        )
        .orderBy(F.desc("exact_cnt"), "item")
    )


# ---------------------------------------------------------------------------
# Portable HyperLogLog: mergeable distinct-count registers whose every
# bit the DuckDB oracle recomputes
# ---------------------------------------------------------------------------

HLL_B = 8  # 2^8 = 256 registers -> standard error 1.04/sqrt(256) = 6.5%


def hll_registers(df: DataFrame, item_col: str, b: int = HLL_B) -> DataFrame:
    """The (idx, r) register table of a deterministic, cross-engine
    HyperLogLog (Flajolet et al. 2007) over ``df[item_col]``:

      h   = hash60(item)           (md5-derived 60-bit non-negative int)
      idx = h mod 2^b              (register index — low b bits)
      w   = h >> b                 (the remaining 60-b bit window)
      rho = leading zeros of w within the window + 1
          = (60-b) + 1 - bit_length(w)   [w = 0 -> (60-b)+1]
      r   = max(rho) per idx; an ABSENT idx means register value 0.

    bit_length is length(bin(w)) — both Spark and DuckDB print minimal
    binary (no leading zeros), so the oracle replays every register
    bit-for-bit; this is the fully-value-checked twin of the built-in
    HLL++ (`sketch_distinct_users`, whose engine-internal estimate can
    only be bound-flag-checked). Bit ops (pmod / shiftright), never
    float division: h/2^b in a double loses low bits past 2^53.

    Scale: one map-only projection + one b-bounded groupBy whose max()
    partial-aggregates map-side — the whole sketch is <= 2^b rows no
    matter the corpus. max() is associative/commutative, so register
    tables MERGE by cell-wise max (`merge_hll`) — the distinct-count
    member of the mergeable-state family (bloom: bit_or, count-min:
    sum, heavy-hitters: SpaceSaving merge)."""
    m = 1 << b
    wbits = 60 - b
    h = hashing.hash60(F.col(item_col).cast("string"))
    # NULL items contribute nothing (the standard distinct-count
    # convention, matching count(DISTINCT col)); without the filter a
    # NULL hash would seed a NULL register row
    df = df.filter(F.col(item_col).isNotNull())
    win = df.select(
        F.pmod(h, F.lit(m)).cast("int").alias("idx"),
        F.shiftright(h, b).alias("_w"),
    )
    rho = F.when(F.col("_w") == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits + 1) - F.length(F.bin(F.col("_w")))
    )
    return (
        win.select("idx", rho.cast("int").alias("rho"))
        .groupBy("idx")
        .agg(F.max("rho").alias("r"))
    )


def merge_hll(reg_a: DataFrame, reg_b: DataFrame) -> DataFrame:
    """hll(A) merged with hll(B) = hll(A ++ B): cell-wise max of the
    register tables (max of maxes over the union of contributions).
    Exact, not approximate-on-approximate: the merged table is
    IDENTICAL to the table built over the concatenated input."""
    return (
        reg_a.unionByName(reg_b).groupBy("idx").agg(F.max("r").alias("r"))
    )


def hll_estimate(registers: DataFrame, b: int = HLL_B) -> DataFrame:
    """One-row (estimate DOUBLE) from a register table: the standard
    HLL estimator raw = alpha_m * m^2 / (sum 2^-r + V) where V counts
    zero (absent) registers, with the linear-counting correction
    m * ln(m / V) when raw <= 2.5m and V > 0 (the small-range regime
    where raw overestimates). alpha_m = 0.7213/(1 + 1.079/m) for
    m >= 128. All arithmetic is portable (power/ln) — the oracle
    recomputes the estimate itself, not just a bound flag."""
    m = 1 << b
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = registers.agg(
        # coalesce: sum over an EMPTY register table is NULL, which
        # would NULL-out raw and the linear-counting condition; with 0
        # registers present V = m and the correction correctly yields
        # m * ln(m/m) = 0 — the right estimate for an empty input.
        F.coalesce(
            F.sum(F.pow(F.lit(2.0), -F.col("r"))), F.lit(0.0)
        ).alias("_s"),
        F.count(F.lit(1)).alias("_present"),
    )
    zeros = (F.lit(m) - F.col("_present")).cast("double")
    raw = F.lit(alpha * m * m) / (F.col("_s") + zeros)
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return agg.select(est.alias("estimate"))


def hll_intersection_estimate(
    reg_a: DataFrame, reg_b: DataFrame, b: int = HLL_B
) -> DataFrame:
    """Distinct-overlap estimate for two item sets from their HLL
    register tables via inclusion-exclusion: |A ∩ B| ≈ E(A) + E(B) −
    E(A ∪ B), where E(A ∪ B) comes from the exact max-merge — the
    classic planner/profiler trick for join-cardinality estimation
    without co-shuffling the two sides (each side is sketched
    independently, possibly on different days; only 2·2^b register
    rows ever meet).

    One row: (est_a, est_b, est_union, est_intersection). Error is the
    DIFFERENCE of three estimates, so its deviation scales with the
    UNION size (1.04/sqrt(m) · O(|union|)), not the intersection —
    small overlaps of large sets drown in noise; callers should gate
    on est_union like the registered query's within_bound does."""
    ea = hll_estimate(reg_a, b).select(F.col("estimate").alias("est_a"))
    eb = hll_estimate(reg_b, b).select(F.col("estimate").alias("est_b"))
    eu = hll_estimate(merge_hll(reg_a, reg_b), b).select(
        F.col("estimate").alias("est_union")
    )
    return (
        ea.crossJoin(eb)
        .crossJoin(eu)
        .select(
            "est_a",
            "est_b",
            "est_union",
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
                "est_intersection"
            ),
        )
    )


def histogram_counts(
    df: DataFrame, value_col: str, n_bins: int = 256
) -> DataFrame:
    """Fixed-binning histogram sketch over ``df[value_col]``: bin =
    min(floor((v - lo) / width), n_bins-1) on the exact [min, max]
    grid, counts per bin — <= n_bins rows (each carrying the grid)
    whatever the corpus, MERGEABLE by cell-wise sum given the same
    grid, the quantile member of the portable mergeable-sketch family
    (bloom: bit_or, count-min/histogram: sum, HLL: max). The grid
    comes from an exact min/max aggregate broadcast back as a one-row
    cross join — exact extremes are engine-portable where a sampled
    grid would not be (the two-pass shape every fixed-grid histogram
    pays once; a production sketch would freeze the grid in an
    artifact and single-pass thereafter). NULLs contribute nothing."""
    vals = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("double").alias("_v")
    )
    grid = vals.agg(
        F.min("_v").alias("lo"), F.max("_v").alias("_hi")
    ).select(
        "lo",
        # degenerate grid (all values equal) -> any positive width puts
        # everything in bin 0 instead of dividing by zero
        F.when(F.col("_hi") == F.col("lo"), F.lit(1.0))
        .otherwise((F.col("_hi") - F.col("lo")) / n_bins)
        .alias("width"),
    )
    binned = vals.crossJoin(F.broadcast(grid)).select(
        F.least(
            F.floor((F.col("_v") - F.col("lo")) / F.col("width")),
            F.lit(n_bins - 1),
        )
        .cast("int")
        .alias("bin"),
        "lo",
        "width",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.first("lo").alias("lo"),
        F.first("width").alias("width"),
    )


def histogram_quantile_estimates(
    hist: DataFrame, probs: list[float]
) -> DataFrame:
    """(p, est) rows from a histogram sketch: est = the UPPER edge of
    the first bin whose cumulative count reaches ceil(p * total) — a
    deterministic estimator. Error bound: |est - q| <= one bin width
    is CERTAIN for the non-interpolated (lower / percentile_disc-style)
    quantile, whose order statistic lies in the reached bin by
    construction. Against type-7 INTERPOLATED quantiles (Spark
    `percentile`, DuckDB `quantile_cont`) it is not a theorem — the
    interpolation point between the ceil(p*n)-th and next order
    statistic can cross bins where the data is sparse — but holds
    empirically on the pinned test data. The
    cumulative walk is a window over <= n_bins rows — sketch-sized,
    never data-sized (the single-partition window is over the SKETCH,
    which is the point of sketching)."""
    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "bin", "cnt", "lo", "width", F.sum("cnt").over(w).alias("cum")
    ).crossJoin(F.broadcast(hist.agg(F.sum("cnt").alias("_total"))))
    parts = []
    for p in probs:
        need = F.ceil(F.lit(p) * F.col("_total"))
        est_bin = cum.filter(F.col("cum") >= need).agg(
            F.min("bin").alias("_b"),
            F.first("lo").alias("_lo"),
            F.first("width").alias("_width"),
        )
        parts.append(
            est_bin.select(
                F.lit(p).alias("p"),
                (F.col("_lo") + (F.col("_b") + 1) * F.col("_width")).alias(
                    "est"
                ),
            )
        )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


def hll_registers_by_group(
    df: DataFrame,
    item_col: str,
    group_cols: list[str],
    b: int = HLL_B,
) -> DataFrame:
    """Grouped register tables: (group_cols..., idx, r) — one
    independent HLL per group key, built in ONE pass (a single
    (groups, idx) hash aggregate, max partial-aggregated map-side).
    The production form of the portable HLL: per-tenant / per-day /
    per-type distinct counts as <= 2^b rows per group, each group's
    table merging independently by cell-wise max."""
    m = 1 << b
    wbits = 60 - b
    h = hashing.hash60(F.col(item_col).cast("string"))
    df = df.filter(F.col(item_col).isNotNull())
    win = df.select(
        *group_cols,
        F.pmod(h, F.lit(m)).cast("int").alias("idx"),
        F.shiftright(h, b).alias("_w"),
    )
    rho = F.when(F.col("_w") == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits + 1) - F.length(F.bin(F.col("_w")))
    )
    return (
        win.select(*group_cols, "idx", rho.cast("int").alias("rho"))
        .groupBy(*group_cols, "idx")
        .agg(F.max("rho").alias("r"))
    )


def hll_estimates_by_group(
    registers: DataFrame, group_cols: list[str], b: int = HLL_B
) -> DataFrame:
    """(group_cols..., estimate) — the standard estimator applied per
    group over the grouped register table (same arithmetic as
    `hll_estimate`, one row per group, sketch-sized input)."""
    m = 1 << b
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = registers.groupBy(*group_cols).agg(
        # a group only exists with >= 1 register row, so the sum can't
        # be NULL here; coalesce kept for symmetry with hll_estimate
        F.coalesce(
            F.sum(F.pow(F.lit(2.0), -F.col("r"))), F.lit(0.0)
        ).alias("_s"),
        F.count(F.lit(1)).alias("_present"),
    )
    zeros = (F.lit(m) - F.col("_present")).cast("double")
    raw = F.lit(alpha * m * m) / (F.col("_s") + zeros)
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return agg.select(*group_cols, est.alias("estimate"))


def histogram_by_group(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    n_bins: int = 256,
) -> DataFrame:
    """Grouped histogram sketch: (group_cols..., bin, cnt, lo, width)
    with an independent exact-[min,max] grid PER GROUP — the mergeable
    production twin of an exact grouped percentile (per-group sort
    cost replaced by two bounded aggregates), mirroring
    `hll_registers_by_group` for the quantile family. <= n_bins rows
    per group; same-grid tables merge by cell-wise sum."""
    vals = df.filter(F.col(value_col).isNotNull()).select(
        *group_cols, F.col(value_col).cast("double").alias("_v")
    )
    grid = (
        vals.groupBy(*group_cols)
        .agg(F.min("_v").alias("lo"), F.max("_v").alias("_hi"))
        .select(
            *group_cols,
            "lo",
            F.when(F.col("_hi") == F.col("lo"), F.lit(1.0))
            .otherwise((F.col("_hi") - F.col("lo")) / n_bins)
            .alias("width"),
        )
    )
    binned = vals.join(F.broadcast(grid), group_cols).select(
        *group_cols,
        F.least(
            F.floor((F.col("_v") - F.col("lo")) / F.col("width")),
            F.lit(n_bins - 1),
        )
        .cast("int")
        .alias("bin"),
        "lo",
        "width",
    )
    return binned.groupBy(*group_cols, "bin").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.first("lo").alias("lo"),
        F.first("width").alias("width"),
    )


def histogram_quantiles_by_group(
    hist: DataFrame, probs: list[float], group_cols: list[str]
) -> DataFrame:
    """(group_cols..., p, est) from a grouped histogram sketch — the
    per-group cumulative walk runs over <= n_bins rows per group
    (window PARTITIONED by the group, so no single-partition stage),
    estimate = upper edge of the first bin reaching ceil(p * total)."""
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    totals = hist.groupBy(*group_cols).agg(F.sum("cnt").alias("_total"))
    cum = hist.select(
        *group_cols, "bin", "lo", "width", F.sum("cnt").over(w).alias("cum")
    ).join(F.broadcast(totals), group_cols)
    parts = []
    for p in probs:
        need = F.ceil(F.lit(p) * F.col("_total"))
        est = (
            cum.filter(F.col("cum") >= need)
            .groupBy(*group_cols)
            .agg(
                F.min("bin").alias("_b"),
                F.first("lo").alias("_lo"),
                F.first("width").alias("_width"),
            )
            .select(
                *group_cols,
                F.lit(p).alias("p"),
                (F.col("_lo") + (F.col("_b") + 1) * F.col("_width")).alias(
                    "est"
                ),
            )
        )
        parts.append(est)
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


def count_min_join_size(
    cm_a: DataFrame, cm_b: DataFrame, depth: int = 4
) -> DataFrame:
    """AMS-style join-cardinality estimate from two Count-Min counter
    tables built with the SAME hash family: for each row r, the inner
    product sum_c a[r][c]*b[r][c] equals the true join size
    sum_key cntA(key)*cntB(key) PLUS non-negative collision cross
    terms — so every row overestimates and min-over-rows is the
    tightest certain upper bound (Cormode & Muthukrishnan's inner-
    product estimator).

    This is how an optimizer prices a join WITHOUT running it: the two
    data-sized stages are the per-key count aggregates the sketches
    are built from (map-side partial, one shuffle each); the estimate
    itself joins two ≤depth·width-row tables — constant work whatever
    the fact sizes, and both sketches are mergeable, so per-partition
    sketches fold up without touching the other side."""
    joined = cm_a.alias("a").join(cm_b.alias("b"), ["r", "c"])
    per_row = joined.groupBy("r").agg(
        F.sum(F.col("a.cell") * F.col("b.cell")).alias("ip")
    )
    # a row with NO shared cells has inner product 0 — it just never
    # appears in the inner join. min() over the present rows alone
    # would overestimate (or return NULL on full disjointness), so the
    # estimate is min(ip) only when ALL depth rows are present, else 0
    # (hypothesis-pinned: the bound must hold for ANY count tables).
    return per_row.agg(
        F.coalesce(
            F.when(F.count(F.lit(1)) == depth, F.min("ip")), F.lit(0)
        )
        .cast("long")
        .alias("cm_est")
    )
