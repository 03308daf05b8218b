"""Approximate-query sketches: HyperLogLog, count-min, Bloom filter.

At 100 TB, "how many distinct users", "which keys are heavy", and "is this
key present" are the questions you cannot afford to answer exactly on every
run — the sketch versions are one map-side-combinable aggregation whose
state is kilobytes, independent of input size. The reference declares (but
never populates) FilterBlocks for exactly this role on its read path
(reference protos/flatbuffer/helix.fbs:53-57); these operators are the
engine-added analytics generalization.

Every sketch here uses a **deterministic md5-derived hash family** (the
same discipline as operators/dedup.py), so the DuckDB oracle can replicate
the sketch bit-for-bit: register maxima, cell counts, and bit positions are
integers, making even the *approximate* answers hash-checkable — both
engines make identical errors.

Scale posture per sketch:

- **HLL**: one shuffle of at most ``m`` register groups (map-side combine
  reduces each partition to ≤ m rows first); final fold is over ≤ m rows.
  Register state is integer-exact; the float estimate is one expression.
- **CMS**: one shuffle of at most ``d*w`` cells; estimates probe the cell
  table with a broadcast join (the sketch is kilobytes by construction).
- **Bloom**: the bit-position set (≤ m rows) builds with one distinct
  shuffle and broadcasts to the probe side, which never shuffles at all —
  the same shape Spark's own runtime bloom-filter join pushdown uses.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------- HLL
# m = 2^HLL_P registers; md5 supplies 8 index bits + 48 "rho domain" bits.
HLL_P = 8
HLL_M = 1 << HLL_P  # 256
# rho is computed over a 48-bit window (12 hex chars); a zero window gets
# rho = 49 (all 48 bits zero, plus one).
HLL_RHO_BITS = 48

# CMS: d independent rows of w counters.
CMS_DEPTH = 4
CMS_WIDTH = 1024

# Bloom: m bits, k probes per key.
BLOOM_M = 16384
BLOOM_K = 5


def _md5_hex(col: Column) -> Column:
    return F.md5(col.cast("string"))


def hll_registers(df: DataFrame, key_col: str) -> DataFrame:
    """(register, max_rho) — the integer-exact HLL state, ≤ m rows.

    register = first 2 hex chars of md5(key); rho = 1 + leading zeros of
    the next 48 bits (bit-length arithmetic, no floats). One groupBy over m
    keys; partial aggregation makes each input partition emit ≤ m rows.
    """
    h = _md5_hex(F.col(key_col))
    register = F.conv(F.substring(h, 1, 2), 16, 10).cast("long").alias("register")
    w = F.conv(F.substring(h, 3, 12), 16, 10).cast("long")
    # length(bin(w)) = floor(log2 w) + 1 for w > 0 — integer bit-length via
    # the binary-string form, identical in Spark and DuckDB.
    rho = F.when(w > 0, F.lit(HLL_RHO_BITS + 1) - F.length(F.bin(w))).otherwise(
        F.lit(HLL_RHO_BITS + 1)
    )
    return (
        df.select(register, rho.alias("rho"))
        .groupBy("register")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_registers_by(df: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """Per-group HLL state: (key_name, register, max_rho), ≤ m rows/group.

    The grouped form is what a partitioned 100 TB corpus actually produces —
    each source/shard folds its own ≤ m-row register set, and union is a
    register-wise max (``hll_merge``). One shuffle over (group, register)
    with map-side combine."""
    h = _md5_hex(F.col(key_col))
    register = F.conv(F.substring(h, 1, 2), 16, 10).cast("long").alias("register")
    w = F.conv(F.substring(h, 3, 12), 16, 10).cast("long")
    rho = F.when(w > 0, F.lit(HLL_RHO_BITS + 1) - F.length(F.bin(w))).otherwise(
        F.lit(HLL_RHO_BITS + 1)
    )
    return (
        df.select(
            F.col(group_col).cast("string").alias("key_name"),
            register,
            rho.alias("rho"),
        )
        .groupBy("key_name", "register")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_merge(registers_by: DataFrame, merged_name: str = "__merged__") -> DataFrame:
    """Union per-group sketches into one: register-wise max over ≤ m·groups
    rows — the O(m) merge that makes HLL the right distinct-count carrier
    across shards/days at scale (never re-reads the raw data)."""
    return (
        registers_by.groupBy("register")
        .agg(F.max("max_rho").alias("max_rho"))
        .select(F.lit(merged_name).alias("key_name"), "register", "max_rho")
    )


def hll_estimate_by(registers_by: DataFrame) -> DataFrame:
    """Per-group summary rows from (key_name, register, max_rho) state.

    The harmonic sum is kept in scaled integers — sum(2^(49-rho)) with
    absent registers contributing 2^49 — so it is exact in int64 (≤ 2^57)
    and independent of summation order; only the final estimate expression
    touches floats. Small-range (linear counting) correction applies below
    2.5·m, matching the published HLL algorithm.
    """
    scale = 1 << (HLL_RHO_BITS + 1)  # 2^49, the rho=0 (absent) contribution
    agg = registers_by.groupBy("key_name").agg(
        F.count("*").alias("nonzero_raw"),
        F.sum(
            F.pow(F.lit(2.0), (F.lit(HLL_RHO_BITS + 1) - F.col("max_rho")))
            .cast("long")
        ).alias("present_sum"),
    ).select(
        "key_name",
        F.col("nonzero_raw").cast("long").alias("nonzero"),
        (F.lit(HLL_M) - F.col("nonzero_raw")).cast("long").alias("v_zero"),
        (F.col("present_sum") + (F.lit(HLL_M) - F.col("nonzero_raw")) * F.lit(scale))
        .cast("long")
        .alias("sum_scaled"),
    )
    m = F.lit(float(HLL_M))
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / m)
    e_raw = alpha * m * m * F.lit(float(scale)) / F.col("sum_scaled")
    estimate = F.when(
        (e_raw <= 2.5 * m) & (F.col("v_zero") > 0),
        m * F.log(m / F.col("v_zero")),
    ).otherwise(e_raw)
    return agg.select(
        "key_name",
        F.lit(HLL_M).cast("long").alias("m"),
        "nonzero",
        "v_zero",
        "sum_scaled",
        F.round(estimate + F.lit(1e-9), 4).alias("estimate"),
    )


def hll_estimate(registers: DataFrame, key_name: str) -> DataFrame:
    """One summary row from an ungrouped register state (see
    ``hll_estimate_by`` for the arithmetic guarantees)."""
    return hll_estimate_by(
        registers.select(F.lit(key_name).alias("key_name"), "register", "max_rho")
    )


def hll_sliding_estimate_by_day(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Trailing-``window_days`` distinct-count per day from DAILY HLL
    sketches — the sliding-window cardinality a dashboard shows as
    "7-day active users", computed WITHOUT re-reading raw data per window
    position (the naive form rescans ``window_days`` of raw events for
    every day).

    Shape: one map-side-combined fold to (day, register, rho_day) — at
    most m rows per day regardless of volume — then a register-partitioned
    window max over a dense (day x m) grid performs every day's
    register-wise union in ONE pass (max is associative, so the sliding
    merge is exactly ``hll_merge`` applied per frame). The estimate
    arithmetic is hll_estimate_by's, scaled-integer exact. Total post-fold
    state: days*m rows, independent of corpus size.
    """
    from pyspark.sql.window import Window as W

    spark = df.sparkSession
    h = _md5_hex(F.col(key_col))
    register = F.conv(F.substring(h, 1, 2), 16, 10).cast("long")
    w_ = F.conv(F.substring(h, 3, 12), 16, 10).cast("long")
    rho = F.when(
        w_ > 0, F.lit(HLL_RHO_BITS + 1) - F.length(F.bin(w_))
    ).otherwise(F.lit(HLL_RHO_BITS + 1))
    daily = (
        df.select(
            F.to_date(F.col(ts_col)).alias("day"),
            register.alias("register"),
            rho.alias("rho"),
        )
        .groupBy("day", "register")
        .agg(F.max("rho").alias("rho_day"))
    )
    days = daily.select("day").distinct()
    # dense (day x m) grid so a register seen only EARLIER in the frame
    # still contributes to the current day's merged sketch (a 256-row
    # broadcast — the nested-loop is the design, not an accident)
    grid = days.crossJoin(
        F.broadcast(spark.range(HLL_M).select(F.col("id").alias("register")))
    )
    win = (
        W.partitionBy("register")
        .orderBy("day_num")
        .rangeBetween(-(window_days - 1), 0)
    )
    merged = (
        grid.join(daily, ["day", "register"], "left")
        .withColumn("day_num", F.unix_date("day"))
        .withColumn("max_rho", F.max("rho_day").over(win))
        .where(F.col("max_rho").isNotNull())
    )
    return hll_estimate_by(
        merged.select(
            F.col("day").cast("string").alias("key_name"),
            "register",
            "max_rho",
        )
    )


def hll_distinct(df: DataFrame, key_col: str, key_name: str | None = None) -> DataFrame:
    """HLL cardinality summary row for ``df[key_col]`` plus the exact count
    (the exact side makes the sketch's error visible and the query a
    self-contained accuracy report)."""
    est = hll_estimate(hll_registers(df, key_col), key_name or key_col)
    exact = df.agg(F.count_distinct(F.col(key_col)).alias("exact_distinct"))
    return est.crossJoin(exact)  # 1 row × 1 row


# ---------------------------------------------------------------- CMS
def cms_cells(df: DataFrame, key_col: str, depth: int = CMS_DEPTH, width: int = CMS_WIDTH) -> DataFrame:
    """(row, col, cnt) count-min cells — ≤ d·w rows after one shuffle.

    Each input row lands in one cell per hash row; the explode is d-fold
    but partial aggregation collapses each partition to ≤ d·w rows before
    the exchange.
    """
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                (
                    F.conv(
                        F.substring(
                            F.md5(F.concat_ws(":", F.lit(str(j)), F.col(key_col).cast("string"))),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % width
                ).alias("col"),
            )
            for j in range(depth)
        ]
    )
    return (
        df.select(F.explode(cells).alias("c"))
        .select("c.row", "c.col")
        .groupBy("row", "col")
        .agg(F.count("*").alias("cnt"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    top_n: int = 10,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Exact top-N keys with their count-min estimates alongside.

    The sketch is built in one shuffle; the estimate probe joins the ≤ d·w
    cell table via **broadcast** (kilobytes by construction), so the probe
    adds no shuffle of the candidate side. Everything emitted is integer —
    the sketch's overcount is reproduced exactly by the oracle.
    """
    cells = cms_cells(df, key_col, depth, width)
    exact = (
        df.groupBy(F.col(key_col).alias("key"))
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.col("key"))
        .limit(top_n)
    )
    probes = exact.select(
        "key",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        (
                            F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat_ws(
                                            ":", F.lit(str(j)), F.col("key").cast("string")
                                        )
                                    ),
                                    1,
                                    15,
                                ),
                                16,
                                10,
                            ).cast("long")
                            % width
                        ).alias("col"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("p"),
    ).select("key", "exact_cnt", "p.row", "p.col")
    return (
        probes.join(F.broadcast(cells), ["row", "col"])
        .groupBy("key", "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
        .select(
            "key",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
        )
        .orderBy(F.desc("exact_cnt"), F.col("key"))
    )


# ---------------------------------------------------------------- Bloom
def _bloom_positions(key: Column, k: int = BLOOM_K, m: int = BLOOM_M) -> Column:
    """Array of k bit positions for a key (md5 family, identical in SQL)."""
    return F.array(
        *[
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.lit(str(i)), key.cast("string"))), 1, 15
                ),
                16,
                10,
            ).cast("long")
            % m
            for i in range(k)
        ]
    )


# Packed-word layout: 32 bits per word so the mask 2^(pos%32) is exactly
# representable as pow(2.0, ·) — shiftleft() takes only a literal shift in
# the column API, and 2^63 would overflow signed int64 anyway.
_BLOOM_WORD = 32


def bloom_bitset(df: DataFrame, key_col: str, k: int = BLOOM_K, m: int = BLOOM_M) -> DataFrame:
    """One row holding the filter as a dense array of m/32 packed words.

    Probing an array-of-positions bitset costs a linear scan of the whole
    set PER probe (array_contains) — O(k·m) a row, the difference between
    0.5 s and 15 s at sf0.1 and fatal at scale. The packed form probes with
    an O(1) indexed ``get`` + bitwise AND. Build: one ≤ m/32-group shuffle
    (map-side combined bit_or), then a single-row fold densifies the words.
    """
    n_words = m // _BLOOM_WORD
    mask = F.pow(
        F.lit(2.0), (F.col("pos") % _BLOOM_WORD).cast("double")
    ).cast("long")
    words = (
        df.select(F.explode(_bloom_positions(F.col(key_col), k, m)).alias("pos"))
        .select(
            (F.col("pos") / _BLOOM_WORD).cast("long").alias("w"),
            mask.alias("mask"),
        )
        .groupBy("w")
        .agg(F.bit_or("mask").alias("mask"))
    )
    dense = F.aggregate(
        F.collect_list(F.struct("w", "mask")),
        F.array_repeat(F.lit(0).cast("long"), n_words),
        lambda acc, x: F.transform(
            acc,
            lambda v, i: F.when(i.cast("long") == x["w"], v.bitwiseOR(x["mask"])).otherwise(v),
        ),
    )
    return words.agg(dense.alias("bitset"))


def _bloom_word_test(bitset: Column, p: Column) -> Column:
    word = F.get(bitset, (p / _BLOOM_WORD).cast("int"))
    mask = F.pow(F.lit(2.0), (p % _BLOOM_WORD).cast("double")).cast("long")
    return word.bitwiseAND(mask) != 0


def bloom_probe_summary(
    build_df: DataFrame,
    build_key: str,
    probe_df: DataFrame,
    probe_key: str,
    k: int = BLOOM_K,
    m: int = BLOOM_M,
) -> DataFrame:
    """Probe every ``probe_df`` key against a Bloom filter of ``build_df``
    keys; one summary row with the exact false-positive accounting.

    The packed-word bit set broadcasts (m/32 longs, kilobytes); the probe
    side computes its k positions and tests bits with an O(1) indexed
    ``get`` + bitwise AND map-side — **zero probe-side shuffle**, the same
    plan shape as Spark's runtime bloom-join pushdown. (An
    array-of-positions bitset would pay an array_contains linear scan of
    the whole set per probe — O(k·m) a row, 30× slower at sf0.1.)
    Membership ground truth comes from a broadcast semi-join against the
    distinct build keys, so the summary exposes true/false positives
    exactly — and the oracle reproduces them bit-for-bit.
    """
    bitset = bloom_bitset(build_df, build_key, k, m)  # 1 row, m/32 longs
    members = build_df.select(F.col(build_key).alias("mk")).distinct()
    probed = (
        probe_df.select(F.col(probe_key).alias("key"))
        .crossJoin(F.broadcast(bitset))
        .select(
            "key",
            F.forall(
                _bloom_positions(F.col("key"), k, m),
                lambda p: _bloom_word_test(F.col("bitset"), p),
            ).alias("bloom_positive"),
        )
    )
    truth = probed.join(
        F.broadcast(members), probed["key"] == members["mk"], "left"
    ).select(
        "key", "bloom_positive", F.col("mk").isNotNull().alias("is_member")
    )
    return truth.agg(
        F.count("*").alias("probed"),
        F.sum(F.col("bloom_positive").cast("long")).alias("bloom_positive"),
        F.sum(F.col("is_member").cast("long")).alias("true_members"),
        F.sum(
            (F.col("bloom_positive") & ~F.col("is_member")).cast("long")
        ).alias("false_positives"),
        F.sum(
            (~F.col("bloom_positive") & F.col("is_member")).cast("long")
        ).alias("false_negatives"),  # must be 0 — Bloom never false-negatives
    )


# ------------------------------------------------- histogram quantiles
HIST_BINS = 256


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    qs: tuple[float, ...] = (0.5, 0.95, 0.99),
    bins: int = HIST_BINS,
) -> DataFrame:
    """Equi-width-histogram quantile estimates next to the exact answers.

    Exact percentiles need a full sort (or Spark's single-pass percentile
    aggregate whose state grows with distinct values); the histogram sketch
    needs one ≤ ``bins``-group shuffle and O(bins) state — mergeable across
    executors, same as the HLL registers. Two scans by design (min/max
    frame the grid; at scale those ride a prior pass or parquet footer
    stats). Estimation: first bin whose cumulative count reaches q·n,
    linear interpolation inside the bin — deterministic float arithmetic
    with the same expression shape as the SQL oracle.
    """
    stats = df.agg(
        F.min(value_col).alias("vmin"),
        F.max(value_col).alias("vmax"),
        F.count(value_col).alias("n"),
    )
    width = (F.col("vmax") - F.col("vmin")) / F.lit(float(bins))
    bin_expr = F.least(
        F.lit(bins - 1),
        F.greatest(
            F.lit(0).cast("long"),
            F.floor((F.col(value_col) - F.col("vmin")) / width).cast("long"),
        ),
    )
    hist = (
        df.where(F.col(value_col).isNotNull())
        .crossJoin(F.broadcast(stats))
        .select(bin_expr.alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("cnt"))
    )
    from pyspark.sql.window import Window as W

    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)),
    )
    q_rows = F.explode(F.array(*[F.lit(float(q)).alias("q") for q in qs])).alias("q")
    picked = (
        cum.crossJoin(F.broadcast(stats.select("n")))
        .select("bin", "cnt", "cum", "n", q_rows)
        .where(F.col("cum") >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(F.min_by(F.struct("bin", "cnt", "cum"), F.col("bin")).alias("s"))
        .select("q", "s.bin", "s.cnt", "s.cum")
    )
    exact = df.agg(
        *[
            F.percentile(value_col, F.lit(float(q))).alias(f"e{i}")
            for i, q in enumerate(qs)
        ]
    )
    exact_rows = exact.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(q)).alias("q"), F.col(f"e{i}").alias("exact_raw")
                    )
                    for i, q in enumerate(qs)
                ]
            )
        ).alias("e")
    ).select("e.q", "e.exact_raw")
    est = (
        F.col("vmin")
        + (
            F.col("bin")
            + (F.col("q") * F.col("n") - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
        )
        * (F.col("vmax") - F.col("vmin"))
        / F.lit(float(bins))
    )
    return (
        picked.crossJoin(F.broadcast(stats))
        .join(exact_rows, "q")
        .select(
            "q",
            F.col("n").cast("long").alias("n"),
            F.round(est + F.lit(1e-9), 4).alias("estimate"),
            F.round(F.col("exact_raw") + F.lit(1e-9), 6).alias("exact"),
        )
        .orderBy("q")
    )


def cms_cells_by(
    df: DataFrame,
    group_col: str,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Per-group count-min cell tables (group, row, col, cnt) — the
    shard/day-grain sketch state a 100 TB pipeline persists instead of raw
    keys; each group's state is ≤ d·w integer rows."""
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    ":", F.lit(str(j)), F.col(key_col).cast("string")
                                )
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % width
                ).alias("col"),
            )
            for j in range(depth)
        ]
    )
    return (
        df.select(F.col(group_col).alias("grp"), F.explode(cells).alias("c"))
        .select("grp", "c.row", "c.col")
        .groupBy("grp", "row", "col")
        .agg(F.count("*").alias("cnt"))
    )


def cms_merge(cells_by: DataFrame) -> DataFrame:
    """Union per-group count-min sketches: cellwise SUM over ≤ d·w·groups
    integer rows (counts are additive, so the merged sketch is
    BIT-IDENTICAL to one built over the concatenated data — unlike HLL's
    max-merge this loses nothing). The mergeability that lets per-day
    states roll up to any window without re-reading raw data."""
    return cells_by.groupBy("row", "col").agg(F.sum("cnt").alias("cnt"))
