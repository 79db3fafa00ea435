"""Distributed order statistics.

Spark's exact ``percentile`` aggregate materializes EVERY value in one
aggregation buffer — measured 4× slower than necessary at sf0.1 and an
OOM at 100 TB (the buffer is per-group, and an ungrouped percentile is
one group).  The scalable exact plan selects the two neighboring ORDER
STATISTICS distributedly and brings exactly TWO rows to the driver, for
ANY p including the median:

1. range-repartition the values (``repartitionByRange`` — Spark's
   distributed sort primitive: sampled boundaries, equal keys always
   land in the same partition);
2. per-partition ``row_number`` window (partitioned by
   ``spark_partition_id`` — never a global single-partition window);
3. cumulative partition counts (one tiny P-row aggregate, broadcast
   back) turn local ranks into global ranks;
4. ``filter(rank IN (k+1, k+2))`` — two rows cross the wire.

The value shuffle happens once: both the count branch and the rank
branch hang off the same ``repartitionByRange`` exchange, which
Catalyst's ReuseExchange deduplicates.  Nothing anywhere holds more
than one partition of values, and the driver never sees more than
P + 2 rows regardless of n or p — the ``limit(k).collect()`` form this
replaces collected O(p·n) rows, which at a fixed fraction grows
linearly with the corpus (VERDICT r7 #2).

Interpolation between the two order statistics reproduces the standard
linear-interpolation definition (Spark ``percentile`` ≡ DuckDB
``quantile_cont``) bit-for-bit.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F


def order_statistics_df(df: DataFrame, col: str, ranks: list[int]) -> DataFrame:
    """``(_rk, _v)`` rows for the requested 1-indexed ascending ranks of
    the NON-NULL values of ``col`` — len(ranks) rows, selected without
    any global sort, single-partition window, or driver-side top-k
    (see module doc for the plan shape).  Ranks beyond n are absent.
    Ties are broken arbitrarily within the window, which cannot change
    the VALUE at any rank (order statistics are tie-invariant).

    Correctness contract (ADVICE r9): ``_pid`` is read by TWO branches
    (the counts/offsets aggregate and the rank join), and range
    partitioning samples its boundaries at runtime — the branches MUST
    share one exchange or their pids could disagree.  Spark's exchange
    reuse provides exactly that (the identical subplan is planned once;
    the second consumer gets a ReusedExchange), and
    tests/test_plan_contracts.py pins the final plan to one
    rangepartitioning exchange + ReusedExchange so a regression fails
    loudly instead of skewing ranks."""
    ranks = [int(r) for r in ranks]
    if not ranks:
        # len(ranks) rows: none.  The rank filter below would otherwise
        # be .filter(None), which Spark rejects.
        return df.select(
            F.lit(None).cast("bigint").alias("_rk"), F.col(col).alias("_v")
        ).where(F.lit(False))
    spark = df.sparkSession
    p_conf = spark.conf.get("spark.sql.shuffle.partitions", "32")
    num_parts = int(p_conf) if str(p_conf).isdigit() else 32
    vals = (
        df.filter(F.col(col).isNotNull())
        .select(F.col(col).alias("_v"))
        .repartitionByRange(num_parts, F.col("_v").asc())
        .withColumn("_pid", F.spark_partition_id())
    )
    counts = vals.groupBy("_pid").agg(F.count(F.lit(1)).alias("_c"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid",
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
        F.col("_c"),
    )
    w_local = Window.partitionBy("_pid").orderBy(F.col("_v").asc())
    # Rank-interval pruning (r19, guide §1.2 "don't compute things you
    # throw away"): a range partition holds global ranks (_off, _off+_c];
    # a partition whose interval contains NO requested rank cannot emit a
    # surviving row, so drop it BEFORE the sort+row_number window — the
    # stage that carried ~117 s of the 123 s task CPU at sf10 — instead of
    # ranking every value and filtering after.  Surviving partitions keep
    # every one of their rows, so local ranks (and therefore the selected
    # values) are unchanged.
    hit = None
    for r in ranks:
        term = (F.col("_off") < F.lit(r)) & (F.lit(r) <= F.col("_off") + F.col("_c"))
        hit = term if hit is None else (hit | term)
    # Explicit-width exchange before the window (r18): the window's own
    # hash(_pid) exchange is byte-small but CPU-dense (sort + row_number),
    # and AQE coalesces it to a handful of tasks at bench scale.  An
    # explicit partition count is exempt from AQE coalescing; ranks are
    # per-(pid) regardless of physical placement, so the result is
    # unchanged.
    dp = spark.sparkContext.defaultParallelism
    return (
        vals.join(F.broadcast(offsets), "_pid")
        .filter(hit)
        .repartition(dp, "_pid")
        .withColumn("_rk", F.row_number().over(w_local) + F.col("_off"))
        .filter(F.col("_rk").isin(ranks))
        .select("_rk", "_v")
    )


def exact_percentiles(
    df: DataFrame, col: str, ps: list[float], n: int | None = None
) -> list[float]:
    """Several exact quantiles in ONE distributed pass: the rank filter
    takes every requested order statistic together, so computing p25/p50/
    p75 costs the same single value shuffle as one quantile — 2·len(ps)
    rows to the driver."""
    for p in ps:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"p must be in [0, 1], got {p}")
    df = df.filter(F.col(col).isNotNull())
    if n is None:
        n = df.count()
    if n == 0:
        raise ValueError("exact_percentiles of an empty or all-null column")
    pos = [(p * (n - 1)) for p in ps]
    ranks = sorted({r for x in pos for r in (math.floor(x) + 1, math.floor(x) + 2)})
    vals = {int(r["_rk"]): r["_v"] for r in order_statistics_df(df, col, ranks).collect()}
    out = []
    for x in pos:
        k, frac = math.floor(x), x - math.floor(x)
        v1 = vals[k + 1]
        v2 = vals.get(k + 2, v1)
        out.append(v1 * (1.0 - frac) + v2 * frac)  # wavg form; see exact_percentile
    return out


def grouped_exact_percentiles(
    df: DataFrame, group_col: str, col: str, ps: list[float]
) -> DataFrame:
    """Exact per-GROUP quantiles with the same bounded-memory plan shape:
    ``(group_col, p, value)`` rows, one per group × requested quantile.

    Spark's grouped ``percentile``/``median`` buffer every value of a
    group in one aggregator — exactly wrong when groups are FEW and HUGE
    (a 3-flag split of 10¹² rows puts a third of the corpus in one
    buffer).  Here values range-partition on ``(group, value)`` so a huge
    group SPANS partitions; per-(group, partition) ranks plus cumulative
    group offsets (a tiny groups×partitions aggregate, broadcast) give
    global per-group ranks, and only the 2·len(ps) neighbor ranks per
    group survive.  No executor ever holds more than one range partition;
    the driver sees nothing until the final collect of |groups|·|ps| rows.

    Designed for the few-large-groups regime.  With millions of tiny
    groups the offsets broadcast grows as groups×partitions — there the
    plain grouped ``percentile`` aggregate is already bounded (each
    buffer holds one small group) and should be used instead; the two
    plans are complementary ends of the same dial.

    Ties and interpolation follow Spark ``percentile`` ≡ DuckDB
    ``quantile_cont`` exactly (weighted-average form, see
    :func:`exact_percentile`).
    """
    for p in ps:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"p must be in [0, 1], got {p}")
    spark = df.sparkSession
    p_conf = spark.conf.get("spark.sql.shuffle.partitions", "32")
    num_parts = int(p_conf) if str(p_conf).isdigit() else 32
    vals = (
        df.filter(F.col(col).isNotNull())
        .select(F.col(group_col).alias("_g"), F.col(col).alias("_v"))
        .repartitionByRange(num_parts, F.col("_g").asc(), F.col("_v").asc())
        .withColumn("_pid", F.spark_partition_id())
    )
    counts = vals.groupBy("_g", "_pid").agg(F.count(F.lit(1)).alias("_c"))
    w_off = (
        Window.partitionBy("_g").orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_g",
        "_pid",
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
        F.col("_c"),
    )
    ng = counts.groupBy("_g").agg(F.sum("_c").alias("_n"))
    # per (group, p): the two neighbor ranks and the interpolation weight
    t = (
        ng.select(
            "_g",
            "_n",
            F.explode(F.array(*[F.lit(float(p)) for p in ps])).alias("_p"),
        )
        .withColumn("_pos", F.col("_p") * (F.col("_n") - 1))
        .withColumn("_k", F.floor("_pos"))
        .withColumn("_frac", F.col("_pos") - F.col("_k"))
    )
    wants = t.select(
        "_g",
        "_p",
        "_frac",
        F.explode(
            F.array(
                F.struct((F.col("_k") + 1).alias("_rk"), F.lit(0).alias("_hi")),
                F.struct((F.col("_k") + 2).alias("_rk"), F.lit(1).alias("_hi")),
            )
        ).alias("_w"),
    ).select("_g", "_p", "_frac", F.col("_w._rk").alias("_rk"), F.col("_w._hi").alias("_hi"))
    w_local = Window.partitionBy("_g", "_pid").orderBy(F.col("_v").asc())
    # Rank-interval pruning (r19): a (_g,_pid) slice holds that group's
    # global ranks (_off, _off+_c]; a slice containing none of the
    # group's wanted ranks cannot produce a surviving row, so drop it
    # before the sort+row_number window.  `live` is a plan-side join of
    # two broadcast-sized frames (groups×partitions against groups×2·|ps|)
    # — no action runs.  Surviving slices keep all their rows, so local
    # ranks are unchanged.
    live = (
        offsets.join(wants.select("_g", "_rk").distinct(), "_g")
        .filter(
            (F.col("_off") < F.col("_rk"))
            & (F.col("_rk") <= F.col("_off") + F.col("_c"))
        )
        .select("_g", "_pid")
        .distinct()
    )
    # Explicit-width exchange before the window — same rationale as
    # order_statistics_df above (AQE coalesces the byte-small/CPU-dense
    # rank stage; an explicit count is exempt).  Ranks are per-(_g,_pid),
    # so physical placement cannot change them.
    dp = spark.sparkContext.defaultParallelism
    ranked = (
        vals.join(F.broadcast(offsets), ["_g", "_pid"])
        .join(F.broadcast(live), ["_g", "_pid"], "leftsemi")
        .repartition(dp, "_g", "_pid")
        .withColumn("_rk", F.row_number().over(w_local) + F.col("_off"))
    )
    # inner join: the _k+2 want has no match when _k+1 == n (p == 1.0);
    # the v2 slot then stays null and coalesces to v1 below
    hits = ranked.join(F.broadcast(wants), ["_g", "_rk"])
    out = hits.groupBy("_g", "_p", "_frac").agg(
        F.min(F.when(F.col("_hi") == 0, F.col("_v"))).alias("_v1"),
        F.min(F.when(F.col("_hi") == 1, F.col("_v"))).alias("_v2"),
    )
    return out.select(
        F.col("_g").alias(group_col),
        F.col("_p").alias("p"),
        (
            F.col("_v1") * (F.lit(1.0) - F.col("_frac"))
            + F.coalesce(F.col("_v2"), F.col("_v1")) * F.col("_frac")
        ).alias("value"),
    )


def exact_percentile(df: DataFrame, col: str, p: float, n: int | None = None) -> float:
    """Exact linear-interpolated quantile of a numeric column, computed as
    an order statistic (see module doc).  Nulls are ignored, matching
    Spark ``percentile`` / DuckDB ``quantile_cont``.  ``n`` (the NON-NULL
    row count) can be passed to avoid a recount when the caller already
    has it."""
    if not 0.0 <= p <= 1.0:
        raise ValueError(f"p must be in [0, 1], got {p}")
    df = df.filter(F.col(col).isNotNull())
    if n is None:
        n = df.count()
    if n == 0:
        raise ValueError("exact_percentile of an empty or all-null column")
    pos = p * (n - 1)
    k = math.floor(pos)
    frac = pos - k
    vals = {
        int(r["_rk"]): r["_v"]
        for r in order_statistics_df(df, col, [k + 1, k + 2]).collect()
    }
    v1 = vals[k + 1]
    v2 = vals.get(k + 2, v1)
    # weighted-average form, NOT v1 + (v2-v1)*frac: Spark's Percentile and
    # DuckDB's quantile_cont both evaluate v1*(1-frac) + v2*frac, and the
    # two forms round differently in float64 (caught at p=0.4 on sf0.001)
    return v1 * (1.0 - frac) + v2 * frac
