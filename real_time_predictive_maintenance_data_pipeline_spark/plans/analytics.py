"""Round-5 catalog wave: business-analytics, evaluation-metric, and
inequality/concentration statistics over the TPC-H-ish fixtures — the
operators a warehouse team runs daily (RFM, ABC, YoY, Gini/HHI, lift
tables, AUC) that the reference (a fixed five-phase telemetry pipeline,
`SURVEY.md` §2.1) has no machinery for, expressed as single-pass
DataFrame programs with DuckDB oracles per the registry conventions
(identical aliases, integer cents for money sums, deterministic
tiebreaks under every window order, ``+ 0.0`` after near-zero rounds).

Scale stance shared by the module: every query is one or two shuffles
on well-distributed keys (custkey/partkey/user_id); every window is
partitioned (no global single-partition ordering except over
already-aggregated frames whose cardinality is bounded by a dimension,
e.g. 366 days, 10 deciles); no collects, no Python UDFs.
"""

from __future__ import annotations

import operator
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.spread import spread
from ..sources.tables import load_table
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# Exact integer cents of a 2-dp money column (registry convention: sums
# of integral doubles are order-independent; raw double sums are not).
def _cents(col: str) -> F.Column:
    return F.round(F.col(col) * 100)


# lineitem revenue in exact integer 1/10000ths: extendedprice (2 dp)
# times (1 - discount) (2 dp) has at most 4 decimals, so scaling by
# 10^4 and rounding lands on the exact integer in both engines.
# (A function, not a module constant: building a Column requires an
# active SparkContext, and the catalog must import session-free —
# __spark_entry__ and tools/plan_digest.py import it before any
# session exists.)
def _rev_tmt() -> F.Column:
    return F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)


_REV_TMT_SQL = "ROUND(l_extendedprice * (1 - l_discount) * 10000)"


# ---------------------------------------------------------------------------
# RFM segmentation
# ---------------------------------------------------------------------------


@register(
    "rel_rfm_segmentation",
    oracle="""
WITH cust AS (
  SELECT o_custkey AS custkey,
         CAST(MAX(epoch_us(o_orderdate) // 86400000000) AS BIGINT) AS last_day,
         COUNT(*) AS frequency,
         CAST(SUM(ROUND(o_totalprice * 100)) AS BIGINT) AS monetary_cents
  FROM orders GROUP BY o_custkey
),
anchor AS (SELECT MAX(last_day) AS max_day FROM cust),
scored AS (
  SELECT custkey, (a.max_day - last_day) AS recency_days, frequency,
         monetary_cents,
         NTILE(5) OVER (ORDER BY (a.max_day - last_day) ASC, custkey) AS r_score,
         NTILE(5) OVER (ORDER BY frequency DESC, custkey) AS f_score,
         NTILE(5) OVER (ORDER BY monetary_cents DESC, custkey) AS m_score
  FROM cust, anchor a
)
SELECT custkey, CAST(recency_days AS BIGINT) AS recency_days, frequency,
       monetary_cents, r_score, f_score, m_score,
       CONCAT(CAST(r_score AS VARCHAR), CAST(f_score AS VARCHAR),
              CAST(m_score AS VARCHAR)) AS rfm_cell
FROM scored
""",
    tags=("analytics", "window"),
)
def rel_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation:
    per-customer order stats, then NTILE(5) quintile scores on each
    axis with a custkey tiebreak so the tiling is deterministic, and
    the concatenated RFM cell every campaign tool keys on.

    Scale: one groupBy(custkey) shuffle builds the per-customer frame
    (cardinality = |customer| << |orders|). The three NTILE windows are
    UNPARTITIONED — Spark runs each on a single partition, fine for the
    aggregated customer frame up to ~10⁸ rows but the honest bottleneck
    beyond; ``rel_rfm_bucketed`` (same file) is the implemented
    scale-safe default — quintile BOUNDARIES per axis via one
    approx_percentile pass + broadcast range compare, same cells up to
    tie placement. This exact-NTILE form is the audit path. Recency
    anchors on the data's own max day
    so the query is deterministic, and days are integer epoch-day
    buckets (no double seconds cross the engines)."""
    from ..functions.timeutil import epoch_us

    o = _t(spark, sf_dir, "orders")
    cust = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.floor(epoch_us("o_orderdate") / 86_400_000_000)).alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(_cents("o_totalprice")).cast("bigint").alias("monetary_cents"),
    )
    anchor = cust.agg(F.max("last_day").alias("max_day"))
    scored = (
        cust.crossJoin(F.broadcast(anchor))
        .withColumn("recency_days", (F.col("max_day") - F.col("last_day")))
        .withColumn(
            "r_score",
            F.ntile(5).over(Window.orderBy(F.asc("recency_days"), F.asc("custkey"))),
        )
        .withColumn(
            "f_score",
            F.ntile(5).over(Window.orderBy(F.desc("frequency"), F.asc("custkey"))),
        )
        .withColumn(
            "m_score",
            F.ntile(5).over(Window.orderBy(F.desc("monetary_cents"), F.asc("custkey"))),
        )
    )
    return scored.select(
        "custkey",
        F.col("recency_days").cast("bigint").alias("recency_days"),
        "frequency",
        "monetary_cents",
        "r_score",
        "f_score",
        "m_score",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("rfm_cell"),
    )


# ---------------------------------------------------------------------------
# ABC classification (cumulative-share bucketing)
# ---------------------------------------------------------------------------


@register(
    "rel_abc_classification",
    oracle=f"""
WITH rev AS (
  SELECT l_partkey AS partkey,
         CAST(SUM({_REV_TMT_SQL}) AS BIGINT) AS rev_tmt
  FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT SUM(rev_tmt) AS total FROM rev),
ranked AS (
  SELECT partkey, rev_tmt,
         SUM(rev_tmt) OVER (ORDER BY rev_tmt DESC, partkey
                            ROWS UNBOUNDED PRECEDING) AS cum_tmt
  FROM rev
)
SELECT partkey, rev_tmt,
       ROUND(cum_tmt * 1.0 / t.total, 4) AS cum_share,
       CASE WHEN cum_tmt * 1.0 / t.total <= 0.8 THEN 'A'
            WHEN cum_tmt * 1.0 / t.total <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked, tot t
""",
    tags=("analytics", "window"),
)
def rel_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue, running
    cumulative share, A = first 80 % of revenue, B = next 15 %, C =
    tail — the Pareto cut purchasing teams drive stocking policy with.

    Scale: revenue aggregates per partkey first (one shuffle; output
    cardinality = |part|); the running sum then orders the aggregated
    frame in a single partition — fine to ~10⁸ parts, and beyond that
    the standard rewrite is a two-level prefix sum (per-range partial
    totals broadcast back as offsets). Revenue is summed in exact
    integer ten-thousandths so the running total is order-exact, and
    the share division happens on identical integers in both engines
    (the class boundary compare is then safe — no float drift can flip
    a row across 0.8)."""
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(_rev_tmt()).cast("bigint").alias("rev_tmt")
    )
    tot = rev.agg(F.sum("rev_tmt").alias("total"))
    w = Window.orderBy(F.desc("rev_tmt"), F.asc("partkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = rev.withColumn("cum_tmt", F.sum("rev_tmt").over(w))
    share = F.col("cum_tmt") * 1.0 / F.col("total")
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "partkey",
            "rev_tmt",
            F.round(share, 4).alias("cum_share"),
            F.when(share <= 0.8, "A")
            .when(share <= 0.95, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )


def abc_two_level_prefix(rev: DataFrame) -> DataFrame:
    """Two-level prefix-sum ABC classification over a ``(partkey,
    rev_tmt)`` frame — the scale-safe core of ``rel_abc_prefix2``,
    factored out so the Hypothesis property test can drive it with
    arbitrary revenue multisets (ties, powers of two, zeros, single
    rows). See the query docstring for the monotone-range argument."""
    tot = rev.agg(F.sum("rev_tmt").alias("total"))
    rng = rev.withColumn(
        "range_id",
        (-F.floor(F.log2(F.greatest(F.col("rev_tmt"), F.lit(1))))).cast("bigint"),
    )
    w = (
        Window.partitionBy("range_id")
        .orderBy(F.desc("rev_tmt"), F.asc("partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    inr = rng.withColumn("cum_in_range", F.sum("rev_tmt").over(w))
    rtot = rng.groupBy("range_id").agg(F.sum("rev_tmt").alias("rtotal"))
    a, b = rtot.alias("a"), rtot.alias("b")
    roff = (
        a.join(F.broadcast(b), F.col("b.range_id") < F.col("a.range_id"), "left")
        .groupBy(F.col("a.range_id").alias("range_id"))
        .agg(F.coalesce(F.sum("b.rtotal"), F.lit(0)).alias("offset_tmt"))
    )
    cum = F.col("offset_tmt") + F.col("cum_in_range")
    share = cum * 1.0 / F.col("total")
    return (
        inr.join(F.broadcast(roff), "range_id")
        .crossJoin(F.broadcast(tot))
        .select(
            "partkey",
            "rev_tmt",
            F.round(share, 4).alias("cum_share"),
            F.when(share <= 0.8, "A")
            .when(share <= 0.95, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )


@register(
    "rel_abc_prefix2",
    oracle=f"""
WITH rev AS (
  SELECT l_partkey AS partkey,
         CAST(SUM({_REV_TMT_SQL}) AS BIGINT) AS rev_tmt
  FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT SUM(rev_tmt) AS total FROM rev),
rng AS (
  SELECT partkey, rev_tmt,
         -CAST(FLOOR(LOG2(GREATEST(rev_tmt, 1))) AS BIGINT) AS range_id
  FROM rev
),
inr AS (
  SELECT partkey, rev_tmt, range_id,
         SUM(rev_tmt) OVER (PARTITION BY range_id
                            ORDER BY rev_tmt DESC, partkey
                            ROWS UNBOUNDED PRECEDING) AS cum_in_range
  FROM rng
),
rtot AS (SELECT range_id, SUM(rev_tmt) AS rtotal FROM rng GROUP BY range_id),
roff AS (
  SELECT a.range_id, COALESCE(SUM(b.rtotal), 0) AS offset_tmt
  FROM rtot a LEFT JOIN rtot b ON b.range_id < a.range_id
  GROUP BY a.range_id
)
SELECT i.partkey, i.rev_tmt,
       ROUND((o.offset_tmt + i.cum_in_range) * 1.0 / t.total, 4) AS cum_share,
       CASE WHEN (o.offset_tmt + i.cum_in_range) * 1.0 / t.total <= 0.8 THEN 'A'
            WHEN (o.offset_tmt + i.cum_in_range) * 1.0 / t.total <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM inr i JOIN roff o ON i.range_id = o.range_id, tot t
""",
    tags=("analytics", "window", "scale-safe"),
)
def rel_abc_prefix2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level-prefix ABC classification — the 100 TB-safe EXACT
    rewrite of ``rel_abc_classification`` (same file), whose running
    sum orders the whole part frame in ONE window task. The global
    (rev DESC, partkey) prefix sum decomposes into value ranges:
    range_id = −⌊log2(revenue)⌋ is monotone in revenue, so the total
    order 'range ASC, then rev DESC, partkey' IS the global order;
    each range computes its prefix in a PARTITIONED window, and the
    cross-range offsets come from per-range totals joined on
    range_id < range_id (~60 ranges — bounded by the value domain's
    log, not the data). Same exact integer ten-thousandths, same
    share division on identical integers, byte-identical output to
    the single-window form (``test_abc_prefix2_equals_exact`` + the
    Hypothesis equivalence property over arbitrary revenue multisets).
    The ulp behavior of log2 cannot flip results: any boundary drift
    between engines moves a row between ADJACENT ranges, and the
    composed order is unchanged because the map stays monotone per
    engine.

    Scale: one fact shuffle to |part|, one partitioned window keyed
    by ~60 bounded ranges, two tiny broadcast frames. This is the
    default path at scale; the single-window form is the audit path."""
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(_rev_tmt()).cast("bigint").alias("rev_tmt")
    )
    return abc_two_level_prefix(rev)


@register(
    "rel_rfm_bucketed",
    oracle=None,  # approx_percentile boundaries are engine-specific; the
    # local gate checks bucket balance + cell agreement with exact NTILE
    tags=("analytics", "approx", "scale-safe"),
)
def rel_rfm_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-bucketed RFM segmentation — the 100 TB-safe variant of
    ``rel_rfm_segmentation`` (same file), whose three NTILE(5) windows
    sort the whole customer frame in ONE task each. Here each axis
    computes its four quintile BOUNDARIES in one pass
    (``approx_percentile``, a mergeable sketch), broadcasts the 1-row
    boundary frame, and scores every customer by range compare — no
    window, no total order, same cells up to tie placement at the
    quintile edges. On tie-heavy discrete axes (frequency) NTILE
    forcibly splits tie runs by custkey while value-bucketing keeps
    tied customers together — a semantic difference, not an error.
    The gate ``test_rfm_bucketed_matches_exact_ntile`` pins ≥90 %
    agreement on the continuous axes, ≥75 % on frequency, and
    10–30 % bucket balance.

    Scale: one groupBy(custkey) shuffle + one sketch aggregate + a
    broadcast map-side compare. This is the default path at scale; the
    exact-NTILE form is the audit path."""
    from ..functions.timeutil import epoch_us

    o = _t(spark, sf_dir, "orders")
    cust = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.floor(epoch_us("o_orderdate") / 86_400_000_000)).alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(_cents("o_totalprice")).cast("bigint").alias("monetary_cents"),
    )
    anchor = cust.agg(F.max("last_day").alias("max_day"))
    cust = cust.crossJoin(F.broadcast(anchor)).withColumn(
        "recency_days", F.col("max_day") - F.col("last_day")
    )
    probs = [0.2, 0.4, 0.6, 0.8]
    bounds = cust.agg(
        F.percentile_approx("recency_days", probs, 10_000).alias("rb"),
        F.percentile_approx("frequency", probs, 10_000).alias("fb"),
        F.percentile_approx("monetary_cents", probs, 10_000).alias("mb"),
    )

    def _score(col: str, bs: str, better: Callable[[Column, Column], Column]):
        # 1 + number of quintile boundaries the value is strictly
        # "better" than. operator.gt = ascending axis (small value ->
        # score 1, e.g. recency); operator.lt = descending axis (large
        # value -> score 1, e.g. frequency/monetary).
        return (
            F.lit(1)
            + sum(
                better(F.col(col), F.col(bs).getItem(i)).cast("int")
                for i in range(4)
            )
        ).cast("int")

    scored = cust.crossJoin(F.broadcast(bounds)).select(
        "custkey",
        F.col("recency_days").cast("bigint").alias("recency_days"),
        "frequency",
        "monetary_cents",
        _score("recency_days", "rb", operator.gt).alias("r_score"),
        _score("frequency", "fb", operator.lt).alias("f_score"),
        _score("monetary_cents", "mb", operator.lt).alias("m_score"),
    )
    return scored.withColumn(
        "rfm_cell",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


# ---------------------------------------------------------------------------
# Year-over-year growth
# ---------------------------------------------------------------------------


@register(
    "rel_yoy_growth",
    oracle="""
WITH yearly AS (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
         CAST(SUM(ROUND(o_totalprice * 100)) AS BIGINT) AS revenue_cents,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT order_year, revenue_cents, n_orders,
       LAG(revenue_cents) OVER (ORDER BY order_year) AS prev_cents,
       ROUND((revenue_cents - LAG(revenue_cents) OVER (ORDER BY order_year))
             * 1.0 / LAG(revenue_cents) OVER (ORDER BY order_year), 4) + 0.0
         AS yoy_growth
FROM yearly
""",
    tags=("analytics", "window"),
)
def rel_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth: yearly totals (exact cents), LAG
    to the prior year, growth ratio. ``+ 0.0`` normalizes the signed
    zero a flat year's tiny negative growth can round to.

    Scale: the window orders the AGGREGATED yearly frame (a handful of
    rows at any data size); the only fact-table pass is one groupBy on
    the year."""
    o = _t(spark, sf_dir, "orders")
    yearly = o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("order_year")
    ).agg(
        F.sum(_cents("o_totalprice")).cast("bigint").alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("order_year")
    prev = F.lag("revenue_cents").over(w)
    return yearly.select(
        "order_year",
        "revenue_cents",
        "n_orders",
        prev.alias("prev_cents"),
        (
            F.round((F.col("revenue_cents") - prev) * 1.0 / prev, 4) + F.lit(0.0)
        ).alias("yoy_growth"),
    )


# ---------------------------------------------------------------------------
# Inequality / concentration statistics
# ---------------------------------------------------------------------------


@register(
    "rel_gini_coefficient",
    oracle="""
WITH spend AS (
  SELECT c.c_nationkey AS nationkey, c.c_custkey,
         CAST(SUM(ROUND(o.o_totalprice * 100)) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT nationkey, cents,
         ROW_NUMBER() OVER (PARTITION BY nationkey
                            ORDER BY cents, c_custkey) AS i,
         COUNT(*) OVER (PARTITION BY nationkey) AS n,
         SUM(cents) OVER (PARTITION BY nationkey) AS total
  FROM spend
)
SELECT CAST(nationkey AS BIGINT) AS nationkey,
       CAST(MAX(n) AS BIGINT) AS n_customers,
       ROUND(2.0 * SUM(i * cents) / (MAX(n) * MAX(total))
             - (MAX(n) + 1.0) / MAX(n), 4) + 0.0 AS gini
FROM ranked GROUP BY nationkey
""",
    tags=("analytics", "statistics"),
)
def rel_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend per nation via the rank
    formula G = 2*Σ(i·xᵢ)/(n·Σx) − (n+1)/n over values sorted
    ascending — the single-pass inequality audit for revenue
    concentration. Near-equal nations round to ±0 → ``+ 0.0``.

    Scale: spend aggregates on (nationkey, custkey) — one shuffle on a
    well-distributed composite; the rank window partitions BY NATION
    (parallel across nations, never a global sort); Σ(i·xᵢ) is exact
    integer arithmetic (cents × row number) so partial-agg order
    cannot drift the double."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nationkey"), "c_custkey"
        )
        .agg(F.sum(_cents("o_totalprice")).cast("bigint").alias("cents"))
    )
    wp = Window.partitionBy("nationkey")
    ranked = spend.select(
        "nationkey",
        "cents",
        F.row_number()
        .over(wp.orderBy(F.asc("cents"), F.asc("c_custkey")))
        .alias("i"),
        F.count(F.lit(1)).over(wp).alias("n"),
        F.sum("cents").over(wp).alias("total"),
    )
    return ranked.groupBy(F.col("nationkey").cast("bigint").alias("nationkey")).agg(
        F.max("n").cast("bigint").alias("n_customers"),
        (
            F.round(
                2.0 * F.sum(F.col("i") * F.col("cents")) / (F.max("n") * F.max("total"))
                - (F.max("n") + 1.0) / F.max("n"),
                4,
            )
            + F.lit(0.0)
        ).alias("gini"),
    )


@register(
    "rel_herfindahl_index",
    oracle=f"""
WITH rev AS (
  SELECT s.s_nationkey AS nationkey, l.l_suppkey,
         SUM({_REV_TMT_SQL}) AS r
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
),
sh AS (
  SELECT nationkey, r / SUM(r) OVER (PARTITION BY nationkey) AS share
  FROM rev
)
SELECT CAST(nationkey AS BIGINT) AS nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       ROUND(SUM(share * share), 4) AS hhi
FROM sh GROUP BY nationkey
""",
    tags=("analytics", "statistics"),
)
def rel_herfindahl_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index of supplier revenue
    share within each nation: Σ shareᵢ² — 1/n = perfectly even, 1.0 =
    monopoly. The market-concentration audit for supply-chain risk.

    Scale: revenue per (nation, supplier) is one shuffle; shares come
    from a nation-partitioned window over the aggregated frame (one
    row per supplier). The share squares divide identical exact
    integer sums, so both engines square identical doubles."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nationkey"), "l_suppkey")
        .agg(F.sum(_rev_tmt()).alias("r"))
    )
    share = F.col("r") / F.sum("r").over(Window.partitionBy("nationkey"))
    return (
        rev.withColumn("sq", share * share)
        .groupBy(F.col("nationkey").cast("bigint").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.round(F.sum("sq"), 4).alias("hhi"),
        )
    )


@register(
    "rel_entropy_by_group",
    oracle="""
WITH c AS (
  SELECT user_id % 10 AS user_bucket, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
t AS (
  SELECT user_bucket, SUM(n) AS total, COUNT(*) AS n_types FROM c GROUP BY 1
)
SELECT c.user_bucket, CAST(MAX(t.total) AS BIGINT) AS n_events,
       CAST(MAX(t.n_types) AS BIGINT) AS n_types,
       ROUND(-SUM((c.n * 1.0 / t.total) * ln(c.n * 1.0 / t.total)), 4) + 0.0
         AS entropy
FROM c JOIN t USING (user_bucket)
GROUP BY c.user_bucket
""",
    tags=("analytics", "statistics"),
)
def rel_entropy_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the event-type distribution per user bucket
    — the diversity score behind engagement-mix dashboards (0 = one
    behavior only). A single-type bucket yields −(1·ln 1) = −0.0, the
    exact signed-zero trap → ``+ 0.0``.

    Scale: counts aggregate on (bucket, type) — the entropy sum then
    runs over an aggregate whose cardinality is buckets × types, not
    events."""
    e = _t(spark, sf_dir, "events")
    c = e.groupBy(
        (F.col("user_id") % 10).alias("user_bucket"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("user_bucket").agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_types")
    )
    p = F.col("n") * 1.0 / F.col("total")
    return (
        c.join(t, "user_bucket")
        .groupBy("user_bucket")
        .agg(
            F.max("total").cast("bigint").alias("n_events"),
            F.max("n_types").cast("bigint").alias("n_types"),
            (F.round(-F.sum(p * F.log(p)), 4) + F.lit(0.0)).alias("entropy"),
        )
    )


@register(
    "rel_percent_of_total",
    oracle=f"""
WITH rev AS (
  SELECT n.n_name AS nation, CAST(SUM({_REV_TMT_SQL}) AS BIGINT) AS rev_tmt
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY 1
)
SELECT nation, rev_tmt,
       ROUND(rev_tmt * 100.0 / SUM(rev_tmt) OVER (), 4) AS pct_of_total,
       CAST(RANK() OVER (ORDER BY rev_tmt DESC) AS BIGINT) AS rev_rank
FROM rev
""",
    tags=("analytics", "window"),
)
def rel_percent_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total contribution per supplier nation with a dense
    revenue rank — the share-of-wallet readout. The unpartitioned
    window runs over the AGGREGATED nation frame (25 rows at any scale
    factor), never the fact table; revenue is exact integers so the
    global sum is order-independent."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    rev = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(_rev_tmt()).cast("bigint").alias("rev_tmt"))
    )
    return rev.select(
        "nation",
        "rev_tmt",
        F.round(
            F.col("rev_tmt") * 100.0 / F.sum("rev_tmt").over(Window.partitionBy()),
            4,
        ).alias("pct_of_total"),
        F.rank().over(Window.orderBy(F.desc("rev_tmt"))).cast("bigint").alias("rev_rank"),
    )


@register(
    "rel_top_decile_ratio",
    oracle="""
WITH spend AS (
  SELECT c.c_nationkey % 5 AS region_bucket, o.o_custkey,
         CAST(SUM(ROUND(o.o_totalprice * 100)) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
tiled AS (
  SELECT region_bucket, cents,
         NTILE(10) OVER (PARTITION BY region_bucket
                         ORDER BY cents, o_custkey) AS decile
  FROM spend
)
SELECT region_bucket,
       CAST(SUM(CASE WHEN decile = 10 THEN cents ELSE 0 END) AS BIGINT)
         AS top_cents,
       CAST(SUM(CASE WHEN decile = 1 THEN cents ELSE 0 END) AS BIGINT)
         AS bottom_cents,
       ROUND(SUM(CASE WHEN decile = 10 THEN cents ELSE 0 END) * 1.0
             / SUM(CASE WHEN decile = 1 THEN cents ELSE 0 END), 4)
         AS decile_ratio
FROM tiled GROUP BY region_bucket
""",
    tags=("analytics", "window"),
)
def rel_top_decile_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-decile-to-bottom-decile spend ratio per customer bucket —
    the dispersion headline in pricing reviews. NTILE carries a
    custkey tiebreak (deterministic tiling), the ratio divides exact
    integer cent totals.

    Scale: one (bucket, custkey) aggregate shuffle; the decile window
    partitions by bucket over the aggregated frame."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy((F.col("c_nationkey") % 5).alias("region_bucket"), "o_custkey")
        .agg(F.sum(_cents("o_totalprice")).cast("bigint").alias("cents"))
    )
    tiled = spend.withColumn(
        "decile",
        F.ntile(10).over(
            Window.partitionBy("region_bucket").orderBy(
                F.asc("cents"), F.asc("o_custkey")
            )
        ),
    )
    top = F.sum(F.when(F.col("decile") == 10, F.col("cents")).otherwise(0))
    bot = F.sum(F.when(F.col("decile") == 1, F.col("cents")).otherwise(0))
    return tiled.groupBy("region_bucket").agg(
        top.cast("bigint").alias("top_cents"),
        bot.cast("bigint").alias("bottom_cents"),
        F.round(top * 1.0 / bot, 4).alias("decile_ratio"),
    )


# ---------------------------------------------------------------------------
# Event-stream behavioral statistics
# ---------------------------------------------------------------------------


@register(
    "events_dau_stickiness",
    oracle="""
WITH daily AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         COUNT(DISTINCT user_id) AS dau
  FROM events GROUP BY 1
),
monthly AS (
  SELECT CAST(epoch_us(ts) // 86400000000 // 30 AS BIGINT) AS month30,
         COUNT(DISTINCT user_id) AS mau
  FROM events GROUP BY 1
)
SELECT m.month30, CAST(m.mau AS BIGINT) AS mau,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(SUM(d.dau) * 1.0 / COUNT(*), 4) AS avg_dau,
       ROUND(SUM(d.dau) * 1.0 / COUNT(*) / m.mau, 4) AS stickiness
FROM daily d JOIN monthly m ON d.day // 30 = m.month30
GROUP BY m.month30, m.mau
""",
    tags=("analytics", "events"),
)
def events_dau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per 30-day epoch bucket: average daily
    distinct users over monthly distinct users — the engagement-depth
    ratio. Day and month are integer epoch-day buckets so no timezone
    or calendar-month edge crosses the engines.

    Scale: two COUNT(DISTINCT user_id) aggregations (partial
    distinct via hash sets per bucket) on day/month keys; the final
    join is per-day against the tiny month frame. Counts are exact
    integers, so the ratios divide identical operands."""
    from ..functions.timeutil import epoch_us

    e = _t(spark, sf_dir, "events")
    day = F.floor(epoch_us("ts") / 86_400_000_000).cast("bigint")
    daily = e.groupBy(day.alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    monthly = e.groupBy(F.floor(day / 30).cast("bigint").alias("month30")).agg(
        F.countDistinct("user_id").alias("mau")
    )
    return (
        daily.withColumn("month30", F.floor(F.col("day") / 30).cast("bigint"))
        .join(monthly, "month30")
        .groupBy("month30", "mau")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.round(F.sum("dau") * 1.0 / F.count(F.lit(1)), 4).alias("avg_dau"),
            F.round(
                F.sum("dau") * 1.0 / F.count(F.lit(1)) / F.col("mau"), 4
            ).alias("stickiness"),
        )
        .select(
            "month30",
            F.col("mau").cast("bigint").alias("mau"),
            "n_days",
            "avg_dau",
            "stickiness",
        )
    )


@register(
    "events_interarrival_stats",
    oracle="""
WITH seq AS (
  SELECT user_id, epoch_us(ts) AS us,
         LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts), event_id) AS prev_us
  FROM events
),
gaps AS (
  SELECT user_id, us - prev_us AS gap_us FROM seq WHERE prev_us IS NOT NULL
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
       SUM(gap_us) * 1.0 / COUNT(*) AS avg_gap_us,
       quantile_cont(gap_us, 0.5) AS median_gap_us
FROM gaps GROUP BY user_id
""",
    tags=("analytics", "events", "window"),
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time profile per user: LAG over the per-user
    event sequence, then count/min/max/mean/median of the gaps — the
    cadence fingerprint behind bot detection and engagement scoring.

    Float-parity: gaps are integer MICROSECONDS end-to-end; mean and
    median stay unrounded (exact integer sums divided by exact counts,
    and a linear-interpolated median of integers is at worst x.5 —
    binary-exact in both engines), per the raw-doubles convention.

    Scale: the LAG window partitions by user_id (parallel, no global
    sort); the aggregate is one shuffle on the same key — at 100 TB
    this is the canonical sessionization shape."""
    from ..functions.timeutil import epoch_us

    e = _t(spark, sf_dir, "events").withColumn("us", epoch_us("ts"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gaps = (
        e.withColumn("prev_us", F.lag("us").over(w))
        .filter(F.col("prev_us").isNotNull())
        .select("user_id", (F.col("us") - F.col("prev_us")).alias("gap_us"))
    )
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.min("gap_us").cast("bigint").alias("min_gap_us"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
        (F.sum("gap_us") * 1.0 / F.count(F.lit(1))).alias("avg_gap_us"),
        F.expr("percentile(gap_us, 0.5)").alias("median_gap_us"),
    )


@register(
    "events_autocorr_lag1",
    oracle="""
WITH hourly AS (
  SELECT event_type, CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour,
         COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT event_type, c AS x,
         LEAD(c) OVER (PARTITION BY event_type ORDER BY hour) AS y
  FROM hourly
),
p AS (SELECT event_type, x, y FROM pairs WHERE y IS NOT NULL)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y)) /
             (sqrt(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)) *
              sqrt(COUNT(*) * SUM(y * y) - SUM(y) * SUM(y))), 4) + 0.0
         AS autocorr_lag1
FROM p GROUP BY event_type
""",
    tags=("analytics", "timeseries", "statistics"),
)
def events_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the hourly event-count series per
    event type — positive = bursty/trending traffic, near zero =
    memoryless. Pearson r over (c_t, c_{t+1}) pairs computed from
    INTEGER sufficient statistics (Σx, Σy, Σxy, Σx², Σy² of counts are
    exact in any partial-agg order), one division at the end; the
    near-zero round gets ``+ 0.0``.

    Scale: counts aggregate per (type, hour) first; the LEAD window
    partitions by type over the aggregated series."""
    from ..functions.timeutil import epoch_us

    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        F.floor(epoch_us("ts") / 3_600_000_000).cast("bigint").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("event_type").orderBy("hour")
    p = (
        hourly.select(
            "event_type",
            F.col("c").alias("x"),
            F.lead("c").over(w).alias("y"),
        )
        .filter(F.col("y").isNotNull())
    )
    n = F.count(F.lit(1))
    num = n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")
    den = F.sqrt(n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")) * F.sqrt(
        n * F.sum(F.col("y") * F.col("y")) - F.sum("y") * F.sum("y")
    )
    return p.groupBy("event_type").agg(
        n.cast("bigint").alias("n_pairs"),
        (F.round(num / den, 4) + F.lit(0.0)).alias("autocorr_lag1"),
    )


@register(
    "events_power_user_share",
    oracle="""
WITH per_user AS (
  SELECT event_type, user_id, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, user_id, n,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY n DESC, user_id) AS rk,
         COUNT(*) OVER (PARTITION BY event_type) AS n_users,
         SUM(n) OVER (PARTITION BY event_type) AS total
  FROM per_user
)
SELECT event_type,
       CAST(MAX(n_users) AS BIGINT) AS n_users,
       CAST(CEIL(MAX(n_users) * 0.05) AS BIGINT) AS n_power,
       CAST(SUM(CASE WHEN rk <= CEIL(n_users * 0.05) THEN n ELSE 0 END)
            AS BIGINT) AS power_events,
       ROUND(SUM(CASE WHEN rk <= CEIL(n_users * 0.05) THEN n ELSE 0 END)
             * 1.0 / MAX(total), 4) AS power_share
FROM ranked GROUP BY event_type
""",
    tags=("analytics", "events"),
)
def events_power_user_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-user concentration: the share of each event type's volume
    generated by its top-5 % most active users (ceil, user_id
    tiebreak) — the skew number capacity planning and abuse teams both
    ask for. All counts are exact integers; one final division.

    Scale: per-(type, user) counts are one shuffle; ranking partitions
    by type over the aggregated frame. CEIL on n_users*0.05 is integer
    arithmetic on both engines."""
    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    wp = Window.partitionBy("event_type")
    ranked = per_user.select(
        "event_type",
        "n",
        F.row_number().over(wp.orderBy(F.desc("n"), F.asc("user_id"))).alias("rk"),
        F.count(F.lit(1)).over(wp).alias("n_users"),
        F.sum("n").over(wp).alias("total"),
    )
    in_top = F.col("rk") <= F.ceil(F.col("n_users") * 0.05)
    power = F.sum(F.when(in_top, F.col("n")).otherwise(0))
    return ranked.groupBy("event_type").agg(
        F.max("n_users").cast("bigint").alias("n_users"),
        F.ceil(F.max("n_users") * 0.05).cast("bigint").alias("n_power"),
        power.cast("bigint").alias("power_events"),
        F.round(power * 1.0 / F.max("total"), 4).alias("power_share"),
    )


@register(
    "ts_bollinger_bands",
    oracle="""
WITH seq AS (
  SELECT event_type, epoch_us(ts) AS us, event_id,
         ROUND(value * 100) AS cents
  FROM events
),
win AS (
  SELECT event_type, us, event_id, cents,
         COUNT(*) OVER w AS n,
         SUM(cents) OVER w AS s,
         SUM(cents * cents) OVER w AS ss,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY us, event_id) AS rk
  FROM seq
  WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT event_type, CAST(us AS BIGINT) AS ts_us,
       ROUND(s / n / 100.0, 4) AS ma20,
       ROUND(s / n / 100.0
             + 2 * sqrt((ss - s * s / n) / (n - 1)) / 100.0, 4) AS upper_band,
       ROUND(s / n / 100.0
             - 2 * sqrt((ss - s * s / n) / (n - 1)) / 100.0, 4) AS lower_band
FROM win WHERE rk >= 20
""",
    tags=("analytics", "timeseries", "window"),
)
def ts_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (20-observation moving average ± 2σ) over each
    event type's value series — the volatility envelope, computed from
    INTEGER-CENT window sums (Σc and Σc² are exact in the sequential
    frame on both engines; mean and sample variance derive from them
    with one division each) instead of a built-in STDDEV whose
    accumulation algorithm differs between engines.

    Scale: one ordered window per event_type partition — rows never
    leave their partition, the frame is bounded (20 rows), and the
    same shape holds per machine/sensor at 100 TB."""
    from ..functions.timeutil import epoch_us

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        epoch_us("ts").alias("us"),
        "event_id",
        F.round(F.col("value") * 100).alias("cents"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("us", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    wr = Window.partitionBy("event_type").orderBy("us", "event_id")
    n = F.count(F.lit(1)).over(w)
    s = F.sum("cents").over(w)
    ss = F.sum(F.col("cents") * F.col("cents")).over(w)
    win = e.select(
        "event_type",
        F.col("us").cast("bigint").alias("ts_us"),
        n.alias("n"),
        s.alias("s"),
        ss.alias("ss"),
        F.row_number().over(wr).alias("rk"),
    ).filter(F.col("rk") >= 20)
    ma = F.col("s") / F.col("n") / 100.0
    sd = F.sqrt(
        (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
    ) / 100.0
    return win.select(
        "event_type",
        "ts_us",
        F.round(ma, 4).alias("ma20"),
        F.round(ma + 2 * sd, 4).alias("upper_band"),
        F.round(ma - 2 * sd, 4).alias("lower_band"),
    )


@register(
    "ts_max_drawdown",
    oracle="""
WITH seq AS (
  SELECT event_type, epoch_us(ts) AS us, event_id,
         SUM(ROUND(value * 100)) OVER (PARTITION BY event_type
                                       ORDER BY epoch_us(ts), event_id
                                       ROWS UNBOUNDED PRECEDING) AS cum
  FROM events
),
dd AS (
  SELECT event_type, cum,
         MAX(cum) OVER (PARTITION BY event_type
                        ORDER BY us, event_id
                        ROWS UNBOUNDED PRECEDING) AS runmax
  FROM seq
)
SELECT event_type,
       CAST(MAX(runmax - cum) AS BIGINT) AS max_drawdown_cents,
       CAST(MAX(runmax) AS BIGINT) AS peak_cents,
       CAST(MAX(cum) AS BIGINT) AS high_cents
FROM dd GROUP BY event_type
""",
    tags=("analytics", "timeseries", "window"),
)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each event type's cumulative value series:
    running total (integer cents) in event order, running peak, and
    the deepest peak-to-trough drop — the risk statistic ported from
    finance to any cumulative KPI (credits burned, balance, score).
    Both windows order by the same (epoch, event_id) sequence so the
    frames align row-for-row across engines, and the series is integer
    cents end-to-end.

    Scale: two stacked windows, both partitioned by event_type —
    rows never cross partitions and the state per row is O(1)."""
    from ..functions.timeutil import epoch_us

    e = _t(spark, sf_dir, "events")
    wseq = (
        Window.partitionBy("event_type")
        .orderBy(epoch_us("ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = e.select(
        "event_type",
        epoch_us("ts").alias("us"),
        "event_id",
        F.sum(F.round(F.col("value") * 100)).over(wseq).alias("cum"),
    )
    wmax = (
        Window.partitionBy("event_type")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = seq.withColumn("runmax", F.max("cum").over(wmax))
    return dd.groupBy("event_type").agg(
        F.max(F.col("runmax") - F.col("cum")).cast("bigint").alias(
            "max_drawdown_cents"
        ),
        F.max("runmax").cast("bigint").alias("peak_cents"),
        F.max("cum").cast("bigint").alias("high_cents"),
    )


@register(
    "events_weekday_profile",
    oracle="""
WITH daily AS (
  SELECT dayofweek(ts) + 1 AS weekday,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
wd AS (
  SELECT weekday, SUM(n) AS total, COUNT(*) AS n_days FROM daily GROUP BY 1
),
ov AS (SELECT SUM(total) * 1.0 / SUM(n_days) AS overall_avg FROM wd)
SELECT weekday, CAST(total AS BIGINT) AS total_events,
       CAST(n_days AS BIGINT) AS n_days,
       total * 1.0 / n_days AS avg_per_day,
       ROUND(total * 1.0 / n_days / o.overall_avg, 4) AS seasonality_index
FROM wd, ov o
""",
    tags=("analytics", "timeseries"),
)
def events_weekday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile: average events per calendar
    day for each weekday and its index against the all-day average —
    the weekly traffic shape. Spark's ``dayofweek`` is 1=Sunday while
    DuckDB's is 0=Sunday, so the oracle shifts by one; days are epoch
    buckets.

    Scale: one (weekday, day) count aggregate; everything after runs
    on ≤7×n_days rows. Averages divide exact integer totals (raw
    double is hash-safe); only the index — a double/double ratio — is
    rounded."""
    from ..functions.timeutil import epoch_us

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.dayofweek("ts").alias("weekday"),
        F.floor(epoch_us("ts") / 86_400_000_000).cast("bigint").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    wd = daily.groupBy("weekday").agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_days")
    )
    ov = wd.agg(
        (F.sum("total") * 1.0 / F.sum("n_days")).alias("overall_avg")
    )
    return wd.crossJoin(F.broadcast(ov)).select(
        "weekday",
        F.col("total").cast("bigint").alias("total_events"),
        F.col("n_days").cast("bigint").alias("n_days"),
        (F.col("total") * 1.0 / F.col("n_days")).alias("avg_per_day"),
        F.round(
            F.col("total") * 1.0 / F.col("n_days") / F.col("overall_avg"), 4
        ).alias("seasonality_index"),
    )


@register(
    "ts_xmr_control",
    oracle="""
WITH seq AS (
  SELECT event_type, ROUND(value * 100) AS cents,
         LAG(ROUND(value * 100)) OVER (PARTITION BY event_type
                                       ORDER BY epoch_us(ts), event_id)
           AS prev_cents
  FROM events
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_obs,
       SUM(cents) / COUNT(*) / 100.0 AS mean_value,
       SUM(ABS(cents - prev_cents)) FILTER (WHERE prev_cents IS NOT NULL)
         / COUNT(*) FILTER (WHERE prev_cents IS NOT NULL) / 100.0 AS avg_mr,
       SUM(cents) / COUNT(*) / 100.0
         + 2.66 * (SUM(ABS(cents - prev_cents))
                     FILTER (WHERE prev_cents IS NOT NULL)
                   / COUNT(*) FILTER (WHERE prev_cents IS NOT NULL) / 100.0)
         AS ucl_x,
       SUM(cents) / COUNT(*) / 100.0
         - 2.66 * (SUM(ABS(cents - prev_cents))
                     FILTER (WHERE prev_cents IS NOT NULL)
                   / COUNT(*) FILTER (WHERE prev_cents IS NOT NULL) / 100.0)
         AS lcl_x
FROM seq GROUP BY event_type
""",
    tags=("analytics", "timeseries", "statistics"),
)
def ts_xmr_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XmR (individuals / moving-range) control-chart parameters per
    event type: process mean, average moving range |xₜ−xₜ₋₁|, and the
    ±2.66·mR natural process limits — the SPC chart for unsubgrouped
    telemetry. Every statistic derives from integer-cent sums (exact
    in any partial order) followed by identical scalar arithmetic, so
    all four doubles are emitted RAW (no round needed).

    Scale: one LAG window per event_type partition + one aggregate on
    the same key."""
    from ..functions.timeutil import epoch_us

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).alias("cents"),
        epoch_us("ts").alias("us"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    seq = e.withColumn("prev_cents", F.lag("cents").over(w))
    has_prev = F.col("prev_cents").isNotNull()
    mr_sum = F.sum(
        F.when(has_prev, F.abs(F.col("cents") - F.col("prev_cents"))).otherwise(
            F.lit(None)
        )
    )
    mr_n = F.count(F.when(has_prev, F.lit(1)))
    mean = F.sum("cents") / F.count(F.lit(1)) / 100.0
    avg_mr = mr_sum / mr_n / 100.0
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        mean.alias("mean_value"),
        avg_mr.alias("avg_mr"),
        (mean + 2.66 * avg_mr).alias("ucl_x"),
        (mean - 2.66 * avg_mr).alias("lcl_x"),
    )


# ---------------------------------------------------------------------------
# Text profile statistics
# ---------------------------------------------------------------------------


@register(
    "doc_ttr",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_types,
       ROUND(len(list_distinct(string_split(text, ' '))) * 1.0
             / len(string_split(text, ' ')), 4) AS ttr
FROM documents
""",
    tags=("analytics", "text"),
)
def doc_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio per document (distinct words / words) — the
    lexical-diversity score used as a cheap quality/repetition signal
    in pretraining curation (low TTR = boilerplate or spam).

    Scale: map-only higher-order expressions (split + array_distinct),
    zero shuffles; the ratio divides exact integer lengths."""
    d = _t(spark, sf_dir, "documents")
    words = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(words)).cast("bigint").alias("n_types"),
        F.round(
            F.size(F.array_distinct(words)) * 1.0 / F.size(words), 4
        ).alias("ttr"),
    )


@register(
    "doc_hapax_ratio",
    oracle="""
WITH tok AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
),
freq AS (SELECT w, COUNT(*) AS cf FROM tok GROUP BY w)
SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN f.cf = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hapax,
       ROUND(SUM(CASE WHEN f.cf = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
         + 0.0 AS hapax_ratio
FROM tok t JOIN freq f USING (w)
GROUP BY t.doc_id
""",
    tags=("analytics", "text"),
)
def doc_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-hapax ratio per document: the fraction of a document's
    tokens that occur exactly once in the WHOLE corpus — high values
    mark novel/rare-vocabulary documents (or OCR noise), a standard
    curation feature alongside DSIR.

    Scale: the same two-pass shape as doc_dsir_importance — one
    shuffle builds the corpus frequency table keyed by word, the
    scoring join reuses that key (AQE broadcasts when the vocab is
    small); a common word-soup corpus has near-zero hapax ratios, so
    the round gets ``+ 0.0``."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cf"))
    is_hapax = (F.col("cf") == 1).cast("int")
    return (
        tok.join(freq, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(is_hapax).cast("bigint").alias("n_hapax"),
            (
                F.round(F.sum(is_hapax) * 1.0 / F.count(F.lit(1)), 4)
                + F.lit(0.0)
            ).alias("hapax_ratio"),
        )
    )


@register(
    "doc_word_len_profile",
    oracle="""
WITH tok AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(length(w)) AS BIGINT) AS total_chars,
       SUM(length(w)) * 1.0 / COUNT(*) AS avg_word_len,
       CAST(MAX(length(w)) AS BIGINT) AS max_word_len,
       ROUND(SUM(CASE WHEN length(w) >= 6 THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 4) + 0.0 AS long_word_ratio
FROM tok GROUP BY doc_id
""",
    tags=("analytics", "text"),
)
def doc_word_len_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-length profile per document (mean/max length, share of
    long words) — the morphology half of a quality heuristic: machine-
    generated word soup and natural prose separate cleanly on these.

    Scale: explode + one groupBy(doc_id) shuffle; all statistics are
    exact-integer sums (mean emitted raw, ratio rounded with the
    signed-zero guard)."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    wl = F.length("w")
    long_n = F.sum(F.when(wl >= 6, 1).otherwise(0))
    return tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(wl).cast("bigint").alias("total_chars"),
        (F.sum(wl) * 1.0 / F.count(F.lit(1))).alias("avg_word_len"),
        F.max(wl).cast("bigint").alias("max_word_len"),
        (F.round(long_n * 1.0 / F.count(F.lit(1)), 4) + F.lit(0.0)).alias(
            "long_word_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# Model-evaluation metrics (deterministic synthetic score, exact-rank math)
# ---------------------------------------------------------------------------

# Deterministic "model score" over lineitem: a hash-ish mix of keys in
# [0,1) plus a signal term on the label (returnflag = 'R') so the
# metrics are non-trivial. Pure integer arithmetic up to the final
# division — bit-identical in both engines.
_SCORE_SQL = """
(((l_partkey * 31 + l_suppkey * 7 + l_linenumber) % 1000) / 1000.0
 + CASE WHEN l_returnflag = 'R' THEN 0.4 ELSE 0.0 END)
"""


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    score = (
        (F.col("l_partkey") * 31 + F.col("l_suppkey") * 7 + F.col("l_linenumber"))
        % 1000
    ) / 1000.0 + F.when(F.col("l_returnflag") == "R", 0.4).otherwise(0.0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
        score.alias("score"),
    )


@register(
    "ml_roc_auc",
    oracle=f"""
WITH scored AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         {_SCORE_SQL} AS score
  FROM lineitem
),
ranked AS (
  SELECT y,
         RANK() OVER (ORDER BY score) AS rk,
         COUNT(*) OVER (PARTITION BY score) AS tie_n
  FROM scored
),
agg AS (
  SELECT SUM(CASE WHEN y = 1 THEN rk + (tie_n - 1) / 2.0 ELSE 0 END)
           AS pos_rank_sum,
         SUM(y) AS n_pos, COUNT(*) - SUM(y) AS n_neg
  FROM ranked
)
SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
       CASE WHEN n_pos * n_neg > 0
            THEN (pos_rank_sum - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)
       END AS auc
FROM agg
""",
    tags=("analytics", "ml-eval"),
)
def ml_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC via the Mann-Whitney rank statistic with proper
    average-rank tie handling: AUC = (Σ ranks₊ − n₊(n₊+1)/2)/(n₊n₋).
    The score is a deterministic integer-hash mix (documented above)
    so the metric is oracle-checkable; swap in any model score column
    at call sites. AUC emitted RAW — every term is exact integer
    arithmetic until the one final division.

    Scale: no per-row Python, no collect — but RANK() is a GLOBAL
    unpartitioned sort: one task ranks the whole fact. This exact
    variant is the labelled AUDIT PATH for small/medium frames; the
    default at scale is ``ml_roc_auc_hist`` (same file), which gets
    the identical tie-corrected statistic from score-histogram
    sufficient statistics with a single bounded shuffle and no
    window."""
    s = _scored(spark, sf_dir)
    ranked = s.select(
        "y",
        F.rank().over(Window.orderBy("score")).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("score")).alias("tie_n"),
    )
    avg_rank = F.col("rk") + (F.col("tie_n") - 1) / 2.0
    agg = ranked.agg(
        F.sum(F.when(F.col("y") == 1, avg_rank).otherwise(0.0)).alias(
            "pos_rank_sum"
        ),
        F.sum("y").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).alias("n_neg"),
    )
    return agg.select(
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.col("n_neg").cast("bigint").alias("n_neg"),
        F.when(
            F.col("n_pos") * F.col("n_neg") > 0,
            (F.col("pos_rank_sum") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0)
            / (F.col("n_pos") * F.col("n_neg")),
        ).alias("auc"),
    )


@register(
    "ml_lift_deciles",
    oracle=f"""
WITH scored AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         {_SCORE_SQL} AS score
  FROM lineitem
),
tiled AS (
  SELECT y, NTILE(10) OVER (ORDER BY score DESC, l_orderkey, l_linenumber)
           AS decile
  FROM scored
),
ov AS (SELECT SUM(y) * 1.0 / COUNT(*) AS base_rate FROM tiled)
SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       SUM(y) * 1.0 / COUNT(*) AS response_rate,
       CASE WHEN o.base_rate > 0
            THEN ROUND(SUM(y) * 1.0 / COUNT(*) / o.base_rate, 4) END AS lift
FROM tiled, ov o GROUP BY decile, o.base_rate
""",
    tags=("analytics", "ml-eval"),
)
def ml_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table: rows tiled into 10 score-ordered buckets
    (deterministic key tiebreak), per-decile response rate vs the base
    rate — the campaign-targeting readout every scoring model ships
    with. Counts are exact; rates divide exact integers (raw), only
    the rate-of-rates lift is rounded.

    Scale: the NTILE is a GLOBAL unpartitioned window — one task sorts
    the whole fact. This exact rank-decile form is the labelled AUDIT
    PATH; the default at scale is ``ml_lift_bucketed`` (same file):
    fixed-width score bands, one bounded groupBy, no window."""
    s = _scored(spark, sf_dir)
    tiled = s.select(
        "y",
        F.ntile(10)
        .over(Window.orderBy(F.desc("score"), "l_orderkey", "l_linenumber"))
        .alias("decile"),
    )
    ov = tiled.agg((F.sum("y") * 1.0 / F.count(F.lit(1))).alias("base_rate"))
    rate = F.sum("y") * 1.0 / F.count(F.lit(1))
    return (
        tiled.crossJoin(F.broadcast(ov))
        .groupBy("decile", "base_rate")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("n_pos"),
            rate.alias("response_rate"),
            F.when(
                F.col("base_rate") > 0, F.round(rate / F.col("base_rate"), 4)
            ).alias("lift"),
        )
        .drop("base_rate")
    )


@register(
    "ml_roc_auc_hist",
    oracle=f"""
WITH scored AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         {_SCORE_SQL} AS score
  FROM lineitem
),
hist AS (
  SELECT CAST(FLOOR(score * 1000 + 0.5) AS BIGINT) AS bin,
         CAST(SUM(y) AS BIGINT) AS pos_n,
         CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg_n
  FROM scored GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(pos_n) AS BIGINT) AS n_pos,
         CAST(SUM(neg_n) AS BIGINT) AS n_neg,
         CAST(COUNT(*) AS BIGINT) AS n_bins
  FROM hist
),
above AS (
  SELECT CAST(COALESCE(SUM(a.pos_n * b.neg_n), 0) AS BIGINT) AS conc
  FROM hist a JOIN hist b ON a.bin > b.bin
),
ties AS (
  SELECT CAST(SUM(pos_n * neg_n) AS BIGINT) AS tied FROM hist
)
SELECT t.n_pos, t.n_neg, t.n_bins,
       CASE WHEN t.n_pos * t.n_neg > 0
            THEN (a.conc + ti.tied / 2.0) / (t.n_pos * 1.0 * t.n_neg)
       END AS auc
FROM tot t, above a, ties ti
""",
    tags=("analytics", "ml-eval"),
)
def ml_roc_auc_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-bucketed ROC AUC — the 100 TB-safe variant of
    ``ml_roc_auc`` (`analytics.py`, the exact Mann-Whitney audit path,
    which ranks the raw fact in ONE unpartitioned window task). Scores
    are quantized into fixed-width 1/1000 bins with one
    ``groupBy(bin)`` pass; AUC then comes entirely from the bounded
    per-bin sufficient statistics: concordant pairs = Σ pos_a·neg_b
    over bin_a > bin_b, within-bin ties counted half — the exact
    tie-corrected Mann-Whitney statistic at bin resolution. Every term
    is exact integer arithmetic until the one final division (raw
    emit, both engines divide identical integers).

    Scale: the fact table is touched by ONE partial-aggregating
    shuffle onto ≤ ~1400 bins; the pair join runs on the bounded bin
    histogram (≤1400×1400 broadcast nested loop, constant in data
    size). No window anywhere. Bin resolution bounds the error:
    |hist − exact| ≤ the probability mass straddling bin edges — on
    this fixture < 1e-3, pinned by
    ``test_roc_auc_hist_close_to_exact_rank_auc`` (exact equality is
    impossible even on the 1/1000-quantized score: float addition puts
    some y=1 scores 1 ulp off their y=0 twins, which the exact rank
    separates but a bin cannot)."""
    s = _scored(spark, sf_dir)
    hist = s.groupBy(
        F.floor(F.col("score") * 1000 + 0.5).cast("bigint").alias("bin")
    ).agg(
        F.sum("y").cast("bigint").alias("pos_n"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("neg_n"),
    )
    tot = hist.agg(
        F.sum("pos_n").cast("bigint").alias("n_pos"),
        F.sum("neg_n").cast("bigint").alias("n_neg"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
    )
    a, b = hist.alias("a"), hist.alias("b")
    above = (
        a.join(F.broadcast(b), F.col("a.bin") > F.col("b.bin"))
        .agg(
            F.coalesce(F.sum(F.col("a.pos_n") * F.col("b.neg_n")), F.lit(0))
            .cast("bigint")
            .alias("conc")
        )
    )
    ties = hist.agg(
        F.sum(F.col("pos_n") * F.col("neg_n")).cast("bigint").alias("tied")
    )
    return (
        tot.crossJoin(F.broadcast(above))
        .crossJoin(F.broadcast(ties))
        .select(
            "n_pos",
            "n_neg",
            "n_bins",
            F.when(
                F.col("n_pos") * F.col("n_neg") > 0,
                (F.col("conc") + F.col("tied") / 2.0)
                / (F.col("n_pos") * 1.0 * F.col("n_neg")),
            ).alias("auc"),
        )
    )


@register(
    "ml_lift_bucketed",
    oracle=f"""
WITH scored AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         {_SCORE_SQL} AS score
  FROM lineitem
),
hist AS (
  SELECT CAST(FLOOR(score * 10) AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS n_pos
  FROM scored GROUP BY 1
),
ov AS (SELECT SUM(n_pos) * 1.0 / SUM(n) AS base_rate FROM hist)
SELECT bucket, n, n_pos,
       n_pos * 1.0 / n AS response_rate,
       CASE WHEN o.base_rate > 0
            THEN ROUND(n_pos * 1.0 / n / o.base_rate, 4) END AS lift
FROM hist, ov o
""",
    tags=("analytics", "ml-eval"),
)
def ml_lift_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-bucketed lift table — the 100 TB-safe variant of
    ``ml_lift_deciles`` (`analytics.py`, the exact rank-decile audit
    path, whose NTILE moves the raw fact into ONE window task). Rows
    bucket by fixed-width score band (0.1-wide; the comparison happens
    on bit-identical doubles in both engines), so the plan is a single
    partial-aggregating ``groupBy(bucket)`` — no total order at all.
    Per-bucket response rate vs the global base rate; counts exact,
    rates divide exact integers (raw), only the rate-of-rates lift is
    rounded. Unlike deciles, bucket populations vary — the honest
    trade when the rank axis is replaced by the score axis.

    Scale: ONE fact pass — groupBy(bucket) partial-aggregates onto
    ≤15 buckets, then a second tiny aggregate folds those rows into a
    single collect_list row (bounded) whose explode re-emits them with
    the base rate attached; no second scan, no join, no window."""
    s = _scored(spark, sf_dir)
    hist = s.groupBy(F.floor(F.col("score") * 10).cast("bigint").alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
    )
    folded = hist.agg(
        F.collect_list(F.struct("bucket", "n", "n_pos")).alias("bs"),
        (F.sum("n_pos") * 1.0 / F.sum("n")).alias("base_rate"),
    )
    b = folded.select(F.explode("bs").alias("b"), "base_rate")
    rate = F.col("b.n_pos") * 1.0 / F.col("b.n")
    return b.select(
        F.col("b.bucket").alias("bucket"),
        F.col("b.n").alias("n"),
        F.col("b.n_pos").alias("n_pos"),
        rate.alias("response_rate"),
        F.when(
            F.col("base_rate") > 0, F.round(rate / F.col("base_rate"), 4)
        ).alias("lift"),
    )


@register(
    "ml_confusion_threshold",
    oracle=f"""
WITH scored AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         CASE WHEN {_SCORE_SQL} >= 0.9 THEN 1 ELSE 0 END AS yhat
  FROM lineitem
)
SELECT CAST(SUM(y * yhat) AS BIGINT) AS tp,
       CAST(SUM((1 - y) * yhat) AS BIGINT) AS fp,
       CAST(SUM(y * (1 - yhat)) AS BIGINT) AS fn,
       CAST(SUM((1 - y) * (1 - yhat)) AS BIGINT) AS tn,
       CASE WHEN SUM(yhat) > 0
            THEN SUM(y * yhat) * 1.0 / SUM(yhat) END AS precision_,
       CASE WHEN SUM(y) > 0
            THEN SUM(y * yhat) * 1.0 / SUM(y) END AS recall_,
       CASE WHEN SUM(yhat) + SUM(y) > 0
            THEN 2.0 * SUM(y * yhat) / (SUM(yhat) + SUM(y)) END AS f1
FROM scored
""",
    tags=("analytics", "ml-eval"),
)
def ml_confusion_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + precision/recall/F1 at a fixed decision
    threshold (0.9) over the deterministic score — the classification
    scoreboard as ONE aggregate pass (each cell is a product-of-
    indicators sum; no join, no four filters). The threshold compare
    happens on bit-identical doubles in both engines. Ratios divide
    exact integers — emitted raw.

    Scale: single map + single reduce; this is the shape to prefer
    over four filtered counts at 100 TB (one pass, partial aggs)."""
    s = _scored(spark, sf_dir)
    yhat = (F.col("score") >= 0.9).cast("int")
    d = s.select("y", yhat.alias("yhat"))
    tp = F.sum(F.col("y") * F.col("yhat"))
    fp = F.sum((1 - F.col("y")) * F.col("yhat"))
    fn = F.sum(F.col("y") * (1 - F.col("yhat")))
    tn = F.sum((1 - F.col("y")) * (1 - F.col("yhat")))
    return d.agg(
        tp.cast("bigint").alias("tp"),
        fp.cast("bigint").alias("fp"),
        fn.cast("bigint").alias("fn"),
        tn.cast("bigint").alias("tn"),
        F.when(F.sum("yhat") > 0, tp * 1.0 / F.sum("yhat")).alias("precision_"),
        F.when(F.sum("y") > 0, tp * 1.0 / F.sum("y")).alias("recall_"),
        F.when(
            F.sum("yhat") + F.sum("y") > 0,
            2.0 * tp / (F.sum("yhat") + F.sum("y")),
        ).alias("f1"),
    )


@register(
    "ml_ndcg_at_k",
    oracle="""
WITH scored AS (
  SELECT event_type, event_id, user_id % 4 AS rel,
         CAST(ROUND(value * 100) AS BIGINT) % 997 AS score
  FROM events
),
ranked AS (
  SELECT event_type, rel,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY score DESC, event_id) AS pos,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY rel DESC, event_id) AS ideal_pos
  FROM scored
)
SELECT event_type,
       ROUND(SUM(CASE WHEN pos <= 10 THEN rel / log2(pos + 1.0) ELSE 0 END), 4)
         AS dcg10,
       ROUND(SUM(CASE WHEN ideal_pos <= 10 THEN rel / log2(ideal_pos + 1.0)
                ELSE 0 END), 4) AS idcg10,
       CASE WHEN SUM(CASE WHEN ideal_pos <= 10
                          THEN rel / log2(ideal_pos + 1.0) ELSE 0 END) > 0
            THEN ROUND(SUM(CASE WHEN pos <= 10
                               THEN rel / log2(pos + 1.0) ELSE 0 END)
                       / SUM(CASE WHEN ideal_pos <= 10
                                  THEN rel / log2(ideal_pos + 1.0)
                             ELSE 0 END), 4)
       END AS ndcg10
FROM ranked GROUP BY event_type
""",
    tags=("analytics", "ml-eval"),
)
def ml_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per query group (event_type stands in for the query):
    graded relevance = user_id %% 4, deterministic integer score, DCG
    against the ideal ordering — the ranking-quality metric for search
    and recommendation evals. Discounts are log2 of small integers
    (identical doubles); the ≤10-term sums are ROUNDED to 4 dp on both
    sides (registry convention for non-integral float aggregates —
    relying on matching add order across two window sorts is the same
    hazard class as the rel_cuped_adjustment divergence r5 ADVICE
    measured). The .xxxx5 round-tie trap does not apply: the terms are
    irrational log2 ratios, never exact decimals.

    Scale: both rankings partition by the query key — per-query sorts,
    never global."""
    e = _t(spark, sf_dir, "events")
    scored = e.select(
        "event_type",
        "event_id",
        (F.col("user_id") % 4).alias("rel"),
        (F.round(F.col("value") * 100).cast("bigint") % 997).alias("score"),
    )
    wq = Window.partitionBy("event_type")
    ranked = scored.select(
        "event_type",
        "rel",
        F.row_number().over(wq.orderBy(F.desc("score"), "event_id")).alias("pos"),
        F.row_number()
        .over(wq.orderBy(F.desc("rel"), "event_id"))
        .alias("ideal_pos"),
    )
    dcg = F.sum(
        F.when(F.col("pos") <= 10, F.col("rel") / F.log2(F.col("pos") + 1.0)).otherwise(
            0.0
        )
    )
    idcg = F.sum(
        F.when(
            F.col("ideal_pos") <= 10,
            F.col("rel") / F.log2(F.col("ideal_pos") + 1.0),
        ).otherwise(0.0)
    )
    return ranked.groupBy("event_type").agg(
        F.round(dcg, 4).alias("dcg10"),
        F.round(idcg, 4).alias("idcg10"),
        # A group whose ideal top-10 carries zero relevance has no
        # defined NDCG — NULL, not an ANSI DIVIDE_BY_ZERO job kill.
        F.when(idcg > 0, F.round(dcg / idcg, 4)).alias("ndcg10"),
    )


# ---------------------------------------------------------------------------
# Relational breadth: pivot/collect/ordinality/spine/leave-one-out
# ---------------------------------------------------------------------------


@register(
    "rel_pivot_multi_agg",
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END)
            AS BIGINT) AS f_qty,
       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
         AS f_n,
       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END)
            AS BIGINT) AS o_qty,
       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
         AS o_n
FROM lineitem GROUP BY l_returnflag
""",
    tags=("analytics", "agg"),
)
def rel_pivot_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate pivot: returnflag × linestatus with BOTH a sum
    and a count per pivot cell — ``.pivot(col, values).agg(a, b)``
    with explicit pivot values so no extra distinct-values job runs
    and the plan is a single hash aggregate (Catalyst rewrites the
    pivot into exactly the oracle's conditional aggregation).

    Scale: declaring pivot values turns an eager two-pass operator
    into one shuffle — required practice at 100 TB."""
    li = _t(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return p.select(
        "l_returnflag",
        F.col("F_qty").cast("bigint").alias("f_qty"),
        F.col("F_n").cast("bigint").alias("f_n"),
        F.col("O_qty").cast("bigint").alias("o_qty"),
        F.col("O_n").cast("bigint").alias("o_n"),
    )


@register(
    "rel_collect_sorted_string",
    oracle="""
SELECT l_orderkey,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       array_to_string(list(l_linenumber ORDER BY l_linenumber), ',')
         AS line_seq,
       array_to_string(list(l_partkey ORDER BY l_linenumber, l_partkey), ',')
         AS part_seq
FROM lineitem GROUP BY l_orderkey
""",
    tags=("analytics", "agg", "array"),
)
def rel_collect_sorted_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered collect-to-string per group: the line-number sequence
    and the partkey sequence IN LINE ORDER — the composition
    (collect under a sort key → serialize) behind every "order items
    as a list" denormalization. Spark has no ``list(x ORDER BY y)``,
    so the partkey sequence collects (linenumber, partkey) structs and
    sorts the struct array — lexicographic, so partkey itself is the
    tiebreak for duplicate line numbers (the fixture has them; the
    oracle orders by the same composite key).

    Scale: one groupBy(orderkey) shuffle; group payloads are bounded
    (7 lines/order)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("l_linenumber")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("line_seq"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("l_linenumber", "l_partkey"))
                ),
                lambda s: s["l_partkey"].cast("string"),
            ),
            ",",
        ).alias("part_seq"),
    )


@register(
    "rel_word_positions",
    oracle="""
WITH tok AS (
  SELECT UNNEST(string_split(text, ' ')) AS w,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
)
SELECT pos, w, CAST(COUNT(*) AS BIGINT) AS n
FROM tok WHERE pos <= 3 GROUP BY pos, w
""",
    tags=("analytics", "text", "array"),
)
def rel_word_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional token frequencies (posexplode / UNNEST WITH
    ORDINALITY parity): how often each word opens a document at
    positions 1-3 — the cheap template/boilerplate detector (one word
    dominating position 1 = a generated corpus).

    Scale: posexplode is map-side; the filter to the first 3 positions
    prunes before the single count shuffle."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.posexplode(F.split("text", " ")).alias("pos0", "w"))
        .select((F.col("pos0") + 1).alias("pos"), "w")
        .filter(F.col("pos") <= 3)
        .groupBy("pos", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@register(
    "rel_reorder_gaps",
    oracle="""
WITH seq AS (
  SELECT o_custkey,
         epoch_us(o_orderdate) // 86400000000 AS day,
         LAG(epoch_us(o_orderdate) // 86400000000)
           OVER (PARTITION BY o_custkey
                 ORDER BY epoch_us(o_orderdate), o_orderkey) AS prev_day
  FROM orders
)
SELECT o_custkey AS custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(prev_day) AS BIGINT) AS n_gaps,
       SUM(day - prev_day) * 1.0 / COUNT(prev_day) AS avg_gap_days,
       CAST(MAX(day - prev_day) AS BIGINT) AS max_gap_days
FROM seq GROUP BY o_custkey
""",
    tags=("analytics", "window"),
)
def rel_reorder_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reorder-cadence profile: days between a customer's consecutive
    orders (LAG over the per-customer sequence), average and maximum
    gap — the replenishment-cycle input to churn models. Gaps are
    integer epoch-day diffs; the mean divides exact integers (raw).

    Scale: window and aggregate share the custkey partitioning — one
    shuffle total."""
    from ..functions.timeutil import epoch_us

    o = _t(spark, sf_dir, "orders")
    day = F.floor(epoch_us("o_orderdate") / 86_400_000_000)
    w = Window.partitionBy("o_custkey").orderBy(epoch_us("o_orderdate"), "o_orderkey")
    seq = o.select(
        "o_custkey", day.alias("day"), F.lag(day).over(w).alias("prev_day")
    )
    gap = F.col("day") - F.col("prev_day")
    return seq.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.count("prev_day").cast("bigint").alias("n_gaps"),
        (F.sum(gap) * 1.0 / F.count("prev_day")).alias("avg_gap_days"),
        F.max(gap).cast("bigint").alias("max_gap_days"),
    )


@register(
    "rel_date_spine_fill",
    oracle="""
WITH bounds AS (
  SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
         CAST(MAX(o_orderdate) AS DATE) AS hi
  FROM orders
),
spine AS (
  SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM bounds
),
daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n,
         CAST(SUM(ROUND(o_totalprice * 100)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
)
SELECT strftime(CAST(s.d AS DATE), '%Y-%m-%d') AS day,
       CAST(COALESCE(dy.n, 0) AS BIGINT) AS n_orders,
       CAST(COALESCE(dy.cents, 0) AS BIGINT) AS revenue_cents
FROM spine s LEFT JOIN daily dy ON CAST(s.d AS DATE) = dy.d
""",
    tags=("analytics", "timeseries"),
)
def rel_date_spine_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar date spine with zero-fill: generate every day between
    the data's own min and max order date, left-join the daily
    aggregate, fill gaps with zeros — the densification step every
    time-series chart needs (missing days must plot as 0, not
    disappear).

    Scale: the spine is sequence+explode of a 2-row bound aggregate
    (days are cheap — 36 500 rows per century); the daily aggregate is
    the only fact-table pass, and the spine side of the join is
    broadcast."""
    o = _t(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("d")
    )
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_cents("o_totalprice")).cast("bigint").alias("cents"),
    )
    return (
        F.broadcast(spine)
        .join(daily, "d", "left")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_orders"),
            F.coalesce("cents", F.lit(0)).cast("bigint").alias("revenue_cents"),
        )
    )


@register(
    "rel_weighted_avg_price",
    oracle="""
SELECT p.p_brand,
       CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
       SUM(ROUND(l.l_extendedprice * 100) * CAST(l.l_quantity AS BIGINT))
         / SUM(CAST(l.l_quantity AS BIGINT)) / 100.0 AS wavg_price,
       SUM(ROUND(l.l_extendedprice * 100)) / COUNT(*) / 100.0
         AS plain_avg_price
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
""",
    tags=("analytics", "agg"),
)
def rel_weighted_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price per brand next to the naive
    row average — the Simpson's-paradox guard for pricing dashboards.
    Numerators are exact integers (cents × integral quantity), so
    both averages are emitted raw.

    Scale: one join (part side broadcastable) + one aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    qty = F.col("l_quantity").cast("bigint")
    cents = _cents("l_extendedprice")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(qty).cast("bigint").alias("total_qty"),
            (F.sum(cents * qty) / F.sum(qty) / 100.0).alias("wavg_price"),
            (F.sum(cents) / F.count(F.lit(1)) / 100.0).alias("plain_avg_price"),
        )
    )


@register(
    "rel_geo_harmonic_means",
    oracle="""
WITH q AS (
  SELECT l_returnflag,
         CASE WHEN l_quantity > 0 THEN CAST(l_quantity AS BIGINT) END AS x
  FROM lineitem
)
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
       CASE WHEN COUNT(x) > 0 THEN
         ROUND(exp(list_reduce(list_prepend(0.0,
                     list(ln(x) ORDER BY ln(x), x) FILTER (x IS NOT NULL)),
                   (a, b) -> a + b) / COUNT(x)), 4)
       END AS geo_mean,
       CASE WHEN COUNT(x) > 0 THEN
         ROUND(COUNT(x) / list_reduce(list_prepend(0.0,
                 list(1.0 / x ORDER BY 1.0 / x, x) FILTER (x IS NOT NULL)),
               (a, b) -> a + b), 4)
       END AS harmonic_mean
FROM q GROUP BY l_returnflag
""",
    tags=("analytics", "statistics"),
)
def rel_geo_harmonic_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric and harmonic means of quantity per return flag — the
    other two Pythagorean means (rate averaging, growth averaging)
    missing from most engines' built-ins. Both fold VALUE-SORTED lists
    (registry convention: non-integral addends must sum in identical
    order on both engines — plain AVG(ln x) partial-agg order is not
    reproducible).

    Scale: the sorted fold collects per-GROUP lists — fine for bounded
    group counts; at 100 TB switch to two-level compensated sums (the
    docstringed trade-off; the fold is the oracle-parity audit path)."""
    from ..functions.timeutil import ordered_fold_sum

    li = _t(spark, sf_dir, "lineitem")
    # ln and 1/x are undefined at x <= 0 and on nulls: both means run
    # over the POSITIVE observations only (collect_list drops the NULL
    # the CASE leaves behind; the oracle's FILTER mirrors it — DuckDB
    # list() keeps nulls, Spark collect_list does not). n stays the
    # raw group count; an all-invalid group yields NULL means, never
    # an ANSI DIVIDE_BY_ZERO.
    q = li.select(
        "l_returnflag",
        F.when(F.col("l_quantity") > 0, F.col("l_quantity").cast("bigint")).alias(
            "x"
        ),
    )
    ln_sum = ordered_fold_sum(F.collect_list(F.log(F.col("x").cast("double"))))
    inv_sum = ordered_fold_sum(F.collect_list(1.0 / F.col("x")))
    n = F.count(F.lit(1))
    nv = F.count("x")
    return q.groupBy("l_returnflag").agg(
        n.cast("bigint").alias("n"),
        F.when(nv > 0, F.round(F.exp(ln_sum / nv), 4)).alias("geo_mean"),
        F.when(nv > 0, F.round(nv / inv_sum, 4)).alias("harmonic_mean"),
    )


@register(
    "rel_self_excluding_avg",
    oracle="""
WITH g AS (
  SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice * 100) AS cents,
         SUM(ROUND(l_extendedprice * 100)) OVER (PARTITION BY l_orderkey)
           AS s,
         COUNT(*) OVER (PARTITION BY l_orderkey) AS n
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       CASE WHEN n > 1 THEN (s - cents) / (n - 1) / 100.0 END AS loo_avg_price,
       CASE WHEN n > 1 THEN (cents - (s - cents) / (n - 1.0)) / 100.0 END
         AS delta_vs_peers
FROM g
""",
    tags=("analytics", "window"),
)
def rel_self_excluding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out group average via the (Σ−x)/(n−1) window
    identity: each line's price against the average of its SIBLING
    lines — the peer-comparison feature that a naive self-join would
    compute with a shuffle per row. Exact integer cents throughout;
    single-line orders yield NULL (no peers), not a division blowup.

    Scale: one unordered window partitioned by orderkey — no join, no
    second shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey")
    g = li.select(
        "l_orderkey",
        "l_linenumber",
        _cents("l_extendedprice").alias("cents"),
        F.sum(_cents("l_extendedprice")).over(w).alias("s"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    many = F.col("n") > 1
    loo = (F.col("s") - F.col("cents")) / (F.col("n") - 1)
    return g.select(
        "l_orderkey",
        "l_linenumber",
        F.when(many, loo / 100.0).alias("loo_avg_price"),
        F.when(
            many, (F.col("cents") - (F.col("s") - F.col("cents")) / (F.col("n") - 1.0)) / 100.0
        ).alias("delta_vs_peers"),
    )


# ---------------------------------------------------------------------------
# Graph analytics over the order bipartite graph
# ---------------------------------------------------------------------------


@register(
    "graph_degree_histogram",
    oracle="""
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
deg AS (SELECT c, COUNT(*) AS degree FROM edges GROUP BY c)
SELECT CAST(degree AS BIGINT) AS degree,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM deg GROUP BY degree
""",
    tags=("analytics", "graph"),
)
def graph_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the customer–supplier bipartite graph
    (distinct trading pairs → per-customer degree → histogram) — the
    first diagnostic of any graph workload: is the network skewed
    enough to need salted joins / hub handling?

    Scale: DISTINCT on the edge pair is the one big shuffle (hash on a
    well-distributed composite); both degree aggregations reuse the
    partitioning."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    deg = edges.groupBy("c").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy(F.col("degree").cast("bigint").alias("degree")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )


@register(
    "graph_jaccard_pairs",
    oracle="""
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
deg AS (SELECT s, COUNT(*) AS d FROM edges GROUP BY s),
common AS (
  SELECT a.s AS s1, b.s AS s2, COUNT(*) AS common
  FROM edges a JOIN edges b ON a.c = b.c AND a.s < b.s
  GROUP BY a.s, b.s
)
SELECT c.s1, c.s2, CAST(c.common AS BIGINT) AS n_common,
       c.common * 1.0 / (d1.d + d2.d - c.common) AS jaccard
FROM common c
JOIN deg d1 ON c.s1 = d1.s
JOIN deg d2 ON c.s2 = d2.s
""",
    tags=("analytics", "graph"),
)
def graph_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-overlap (Jaccard) link prediction between suppliers:
    co-customer counts via the classic self-join-on-the-shared-node
    blocking, normalized by degree union — pairs that never share a
    customer are never materialized (no all-pairs).

    Scale: the pair join is blocked BY CUSTOMER — quadratic only in
    each customer's supplier list (bounded by order width), the same
    candidate-blocking shape as the dedup operators; degrees join on
    the supplier key (broadcastable aggregate)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    a = edges.alias("a")
    b = edges.alias("b")
    common = (
        a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    d1 = deg.select(F.col("s").alias("s1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("s").alias("s2"), F.col("d").alias("d2"))
    return (
        common.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .select(
            "s1",
            "s2",
            F.col("common").cast("bigint").alias("n_common"),
            (
                F.col("common") * 1.0 / (F.col("d1") + F.col("d2") - F.col("common"))
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding statistics
# ---------------------------------------------------------------------------


@register(
    "emb_norm_quantiles",
    oracle="""
WITH n AS (
  SELECT label,
         sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b))
           AS norm
  FROM embeddings
)
SELECT CAST(label AS BIGINT) AS label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       ROUND(quantile_cont(norm, 0.25), 4) AS q25,
       ROUND(quantile_cont(norm, 0.5), 4) AS q50,
       ROUND(quantile_cont(norm, 0.75), 4) AS q75
FROM n GROUP BY label
""",
    tags=("analytics", "similarity"),
)
def emb_norm_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm quartiles per label — the first drift check on an
    embedding table (a norm distribution that shifts between labels
    or snapshots means the encoder changed). Norms are index-order
    array folds (exact-identical doubles on both engines); quartiles
    are exact linear-interpolated percentiles over those identical
    values.

    Scale: map-only norm + one grouped exact percentile; at 100 TB
    swap percentile for approx_percentile (docstringed trade-off)."""
    e = _t(spark, sf_dir, "embeddings")
    from ..functions.vectors import as_double

    emb = as_double("embedding")
    norm = F.sqrt(
        F.aggregate(
            F.transform(emb, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    n = e.select(F.col("label").cast("bigint").alias("label"), norm.alias("norm"))
    return n.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.round(F.expr("percentile(norm, 0.25)"), 4).alias("q25"),
        F.round(F.expr("percentile(norm, 0.5)"), 4).alias("q50"),
        F.round(F.expr("percentile(norm, 0.75)"), 4).alias("q75"),
    )


@register(
    "emb_simhash_bits",
    oracle="""
SELECT vec_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(generate_series(1, 32),
           i -> CASE WHEN embedding[i] > 0
                     THEN (CAST(1 AS BIGINT) << (i - 1))
                     ELSE CAST(0 AS BIGINT) END)),
         (a, b) -> a + b) AS sig_lo,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(generate_series(33, 64),
           i -> CASE WHEN embedding[i] > 0
                     THEN (CAST(1 AS BIGINT) << (i - 33))
                     ELSE CAST(0 AS BIGINT) END)),
         (a, b) -> a + b) AS sig_hi,
       CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos
FROM embeddings
""",
    tags=("analytics", "similarity"),
)
def emb_simhash_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit signature of each embedding (two 32-bit halves packed
    into bigints + positive-dimension count) — the hyperplane-LSH
    sketch: Hamming distance between signatures approximates angular
    distance, and the packed ints bucket-join for near-neighbor
    blocking. Bit tests (x > 0) and integer shifts are exact on both
    engines — no float drift possible.

    Scale: map-only; an 8-byte signature per vector replaces a
    256-byte float array in every downstream shuffle."""
    e = _t(spark, sf_dir, "embeddings")
    half = (
        "aggregate(transform(sequence({lo}, {hi}), "
        "i -> IF(element_at(embedding, i) > 0, shiftleft(CAST(1 AS BIGINT), "
        "i - {lo}), CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    return e.select(
        "vec_id",
        F.expr(half.format(lo=1, hi=32)).alias("sig_lo"),
        F.expr(half.format(lo=33, hi=64)).alias("sig_hi"),
        F.size(F.filter("embedding", lambda x: x > 0))
        .cast("bigint")
        .alias("n_pos"),
    )


@register(
    "doc_shingle_uniqueness",
    oracle="""
WITH g AS (
  SELECT doc_id,
         list_transform(generate_series(1, length(text) - 4),
                        i -> substr(text, i, 5)) AS grams
  FROM documents WHERE length(text) >= 5
)
SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_shingles,
       CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
       ROUND(len(list_distinct(grams)) * 1.0 / len(grams), 4) AS uniqueness
FROM g
""",
    tags=("analytics", "text"),
)
def doc_shingle_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-5-gram uniqueness per document (distinct shingles /
    total shingles) — the repetition detector at the sub-word level
    that catches copy-paste spam word-level TTR misses. Shingling is
    a JVM-side higher-order transform over a position sequence; the
    ratio divides exact integer counts.

    Scale: map-only — the shingle arrays never leave their row (the
    distinct happens inside the array), so nothing is exploded into
    the shuffle."""
    d = _t(spark, sf_dir, "documents").filter(F.length("text") >= 5)
    # the length >= 5 filter guards sequence(1, n): start > stop would
    # generate a DESCENDING sequence and probe out of bounds
    grams = F.expr(
        "transform(sequence(1, length(text) - 4), i -> substring(text, i, 5))"
    )
    return d.select(
        "doc_id",
        F.size(grams).cast("bigint").alias("n_shingles"),
        F.size(F.array_distinct(grams)).cast("bigint").alias("n_distinct"),
        F.round(F.size(F.array_distinct(grams)) * 1.0 / F.size(grams), 4).alias(
            "uniqueness"
        ),
    )


@register(
    "ml_brier_calibration",
    oracle="""
WITH scored AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         (l_partkey * 31 + l_suppkey * 7 + l_linenumber) % 1000 AS k
  FROM lineitem
)
SELECT CAST(k // 100 AS BIGINT) AS prob_bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       SUM(k) * 1.0 / COUNT(*) / 1000.0 AS avg_pred,
       SUM(y) * 1.0 / COUNT(*) AS obs_rate,
       SUM((k - 1000 * y) * (k - 1000 * y)) * 1.0 / COUNT(*) / 1000000.0
         AS brier
FROM scored GROUP BY 1
""",
    tags=("analytics", "ml-eval"),
)
def ml_brier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration-reliability table + per-bin Brier score over the
    deterministic integer score k∈[0,1000): predicted-vs-observed rate
    per decile bin, and the Brier term computed as Σ(k−1000y)²/10⁶·n —
    ENTIRELY integer arithmetic until the final divisions, so every
    float column is emitted raw (the squared-error sum is exact in any
    partial-agg order).

    Scale: single aggregate pass over 10 groups."""
    li = _t(spark, sf_dir, "lineitem")
    s = li.select(
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
        (
            (F.col("l_partkey") * 31 + F.col("l_suppkey") * 7 + F.col("l_linenumber"))
            % 1000
        ).alias("k"),
    )
    sq = (F.col("k") - 1000 * F.col("y")) * (F.col("k") - 1000 * F.col("y"))
    n = F.count(F.lit(1))
    return s.groupBy(
        F.floor(F.col("k") / 100).cast("bigint").alias("prob_bin")
    ).agg(
        n.cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
        (F.sum("k") * 1.0 / n / 1000.0).alias("avg_pred"),
        (F.sum("y") * 1.0 / n).alias("obs_rate"),
        (F.sum(sq) * 1.0 / n / 1_000_000.0).alias("brier"),
    )


@register(
    "ml_precision_at_k",
    oracle="""
WITH scored AS (
  SELECT event_type, event_id,
         CASE WHEN user_id % 4 >= 2 THEN 1 ELSE 0 END AS relevant,
         CAST(ROUND(value * 100) AS BIGINT) % 997 AS score
  FROM events
),
ranked AS (
  SELECT event_type, relevant,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY score DESC, event_id) AS pos
  FROM scored
)
SELECT event_type,
       CAST(SUM(CASE WHEN pos <= 10 THEN relevant ELSE 0 END) AS BIGINT)
         AS hits_at_10,
       SUM(CASE WHEN pos <= 10 THEN relevant ELSE 0 END) / 10.0
         AS precision_at_10,
       CASE WHEN SUM(relevant) > 0
            THEN SUM(CASE WHEN pos <= 10 THEN relevant ELSE 0 END) * 1.0
                 / SUM(relevant) END AS recall_at_10
FROM ranked GROUP BY event_type
""",
    tags=("analytics", "ml-eval"),
)
def ml_precision_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision@10 / Recall@10 per query group with binary relevance
    (graded rel ≥ 2) and the same deterministic ranking as NDCG — the
    retrieval-eval pair for the ANN/similarity operators. Pure integer
    counts; raw divisions.

    Scale: per-group ranking window, one aggregate."""
    e = _t(spark, sf_dir, "events")
    scored = e.select(
        "event_type",
        "event_id",
        (F.col("user_id") % 4 >= 2).cast("int").alias("relevant"),
        (F.round(F.col("value") * 100).cast("bigint") % 997).alias("score"),
    )
    ranked = scored.select(
        "event_type",
        "relevant",
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(F.desc("score"), "event_id")
        )
        .alias("pos"),
    )
    hits = F.sum(F.when(F.col("pos") <= 10, F.col("relevant")).otherwise(0))
    return ranked.groupBy("event_type").agg(
        hits.cast("bigint").alias("hits_at_10"),
        (hits / 10.0).alias("precision_at_10"),
        F.when(
            F.sum("relevant") > 0, hits * 1.0 / F.sum("relevant")
        ).alias("recall_at_10"),
    )


@register(
    "rel_json_props_stats",
    oracle="""
WITH p AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(k) AS BIGINT) AS n_with_k,
       CAST(MIN(k) AS BIGINT) AS min_k, CAST(MAX(k) AS BIGINT) AS max_k,
       SUM(k) * 1.0 / COUNT(k) AS avg_k
FROM p GROUP BY event_type
""",
    tags=("analytics", "json"),
)
def rel_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction + profiling of a semi-structured JSON property
    column: pull ``$.k`` as a bigint, count presence, min/max/mean —
    the schema-on-read path for event properties. The mean divides
    exact integer sums (raw).

    Scale: get_json_object is a JVM-side expression (no UDF); one
    aggregate shuffle."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    p = e.select("event_type", k.alias("k"))
    return p.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count("k").cast("bigint").alias("n_with_k"),
        F.min("k").cast("bigint").alias("min_k"),
        F.max("k").cast("bigint").alias("max_k"),
        (F.sum("k") * 1.0 / F.count("k")).alias("avg_k"),
    )


# ---------------------------------------------------------------------------
# Cohort / lifecycle analytics
# ---------------------------------------------------------------------------


@register(
    "rel_cohort_ltv",
    oracle="""
WITH m AS (
  SELECT o_custkey,
         CAST(EXTRACT(year FROM o_orderdate) * 12
              + EXTRACT(month FROM o_orderdate) AS BIGINT) AS month_idx,
         CAST(SUM(ROUND(o_totalprice * 100)) AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2
),
cohort AS (SELECT o_custkey, MIN(month_idx) AS cohort_month FROM m GROUP BY 1),
cell AS (
  SELECT c.cohort_month, m.month_idx - c.cohort_month AS age_months,
         SUM(m.cents) AS cents, COUNT(DISTINCT m.o_custkey) AS active
  FROM m JOIN cohort c USING (o_custkey)
  GROUP BY 1, 2
),
sized AS (SELECT cohort_month, COUNT(*) AS cohort_size FROM cohort GROUP BY 1)
SELECT cl.cohort_month, CAST(cl.age_months AS BIGINT) AS age_months,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       CAST(cl.active AS BIGINT) AS active_customers,
       CAST(cl.cents AS BIGINT) AS revenue_cents,
       SUM(cl.cents) OVER (PARTITION BY cl.cohort_month
                           ORDER BY cl.age_months
                           ROWS UNBOUNDED PRECEDING)
         * 1.0 / s.cohort_size / 100.0 AS cum_ltv
FROM cell cl JOIN sized s USING (cohort_month)
""",
    tags=("analytics", "window"),
)
def rel_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle: customers grouped by first-order month,
    revenue laid out by months-since-acquisition, cumulative LTV per
    cohort member — THE subscription/commerce lifetime-value readout.
    Month index is integer year*12+month (no calendar arithmetic
    crosses engines); the running LTV sums exact integer cents over an
    integer-ordered window, divided once per row.

    Scale: per-(customer, month) aggregate → cohort min → cell
    aggregate, all shuffling on custkey/cohort keys; the LTV window
    runs over the cohort×age matrix (dimension-bounded)."""
    o = _t(spark, sf_dir, "orders")
    month_idx = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint")
    m = o.groupBy("o_custkey", month_idx.alias("month_idx")).agg(
        F.sum(_cents("o_totalprice")).cast("bigint").alias("cents")
    )
    cohort = m.groupBy("o_custkey").agg(F.min("month_idx").alias("cohort_month"))
    cell = (
        m.join(cohort, "o_custkey")
        .groupBy(
            "cohort_month",
            (F.col("month_idx") - F.col("cohort_month")).alias("age_months"),
        )
        .agg(
            F.sum("cents").alias("cents"),
            F.countDistinct("o_custkey").alias("active"),
        )
    )
    sized = cohort.groupBy("cohort_month").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cell.join(F.broadcast(sized), "cohort_month")
        .select(
            "cohort_month",
            F.col("age_months").cast("bigint").alias("age_months"),
            F.col("cohort_size").cast("bigint").alias("cohort_size"),
            F.col("active").cast("bigint").alias("active_customers"),
            F.col("cents").cast("bigint").alias("revenue_cents"),
            (
                F.sum("cents").over(w) * 1.0 / F.col("cohort_size") / 100.0
            ).alias("cum_ltv"),
        )
    )


@register(
    "events_cumulative_users",
    oracle="""
WITH first_seen AS (
  SELECT user_id,
         MIN(CAST(epoch_us(ts) // 86400000000 AS BIGINT)) AS first_day
  FROM events GROUP BY user_id
),
newbies AS (SELECT first_day AS day, COUNT(*) AS new_users
            FROM first_seen GROUP BY 1)
SELECT day, CAST(new_users AS BIGINT) AS new_users,
       CAST(SUM(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cumulative_users
FROM newbies
""",
    tags=("analytics", "events", "window"),
)
def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day WITHOUT a running COUNT
    DISTINCT: reduce each user to their first-seen day (one shuffle on
    user_id), count arrivals per day, running-sum the arrivals — the
    standard rewrite that turns an O(days × users) windowed distinct
    into two linear aggregations. Exact integers end-to-end.

    Scale: this is the ONLY shape that survives 100 TB — a windowed
    `approx_count_distinct` per day re-scans every prior day's users;
    first-touch attribution scans each fact row once."""
    from ..functions.timeutil import epoch_us

    e = _t(spark, sf_dir, "events")
    day = F.floor(epoch_us("ts") / 86_400_000_000).cast("bigint")
    first_seen = e.groupBy("user_id").agg(F.min(day).alias("first_day"))
    newbies = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return newbies.select(
        "day",
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
    )


@register(
    "rel_new_vs_returning",
    oracle="""
WITH firsts AS (
  SELECT o_custkey, MIN(epoch_us(o_orderdate)) AS first_us FROM orders
  GROUP BY 1
)
SELECT CAST(EXTRACT(year FROM o.o_orderdate) * 12
            + EXTRACT(month FROM o.o_orderdate) AS BIGINT) AS month_idx,
       CAST(SUM(CASE WHEN epoch_us(o.o_orderdate) = f.first_us
                     THEN 1 ELSE 0 END) AS BIGINT) AS new_orders,
       CAST(SUM(CASE WHEN epoch_us(o.o_orderdate) = f.first_us
                     THEN 0 ELSE 1 END) AS BIGINT) AS returning_orders,
       CAST(SUM(CASE WHEN epoch_us(o.o_orderdate) = f.first_us
                     THEN ROUND(o.o_totalprice * 100) ELSE 0 END) AS BIGINT)
         AS new_cents,
       CAST(SUM(CASE WHEN epoch_us(o.o_orderdate) = f.first_us
                     THEN 0 ELSE ROUND(o.o_totalprice * 100) END) AS BIGINT)
         AS returning_cents
FROM orders o JOIN firsts f USING (o_custkey)
GROUP BY 1
""",
    tags=("analytics",),
)
def rel_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning revenue split per month: an order is "new" iff
    it carries its customer's first-ever order timestamp — the
    acquisition-vs-retention mix every growth dashboard leads with.
    Exact integer cents and epoch comparisons only.

    Scale: the firsts aggregate and the classifying join share the
    custkey shuffle; the monthly rollup is the only other exchange."""
    from ..functions.timeutil import epoch_us

    o = _t(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.min(epoch_us("o_orderdate")).alias("first_us")
    )
    j = o.join(firsts, "o_custkey")
    is_new = epoch_us("o_orderdate") == F.col("first_us")
    month_idx = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint")
    return j.groupBy(month_idx.alias("month_idx")).agg(
        F.sum(is_new.cast("int")).cast("bigint").alias("new_orders"),
        F.sum((~is_new).cast("int")).cast("bigint").alias("returning_orders"),
        F.sum(F.when(is_new, _cents("o_totalprice")).otherwise(0))
        .cast("bigint")
        .alias("new_cents"),
        F.sum(F.when(~is_new, _cents("o_totalprice")).otherwise(0))
        .cast("bigint")
        .alias("returning_cents"),
    )


@register(
    "doc_js_divergence",
    oracle="""
WITH tok AS (
  SELECT CASE WHEN source = 'src0' THEN 'a' ELSE 'b' END AS side,
         UNNEST(string_split(text, ' ')) AS w
  FROM documents
),
freq AS (
  SELECT w, SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS cb
  FROM tok GROUP BY w
),
tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
         COUNT(*) AS v
  FROM freq
),
p AS (
  SELECT (ca + 1.0) / (na + v) AS pa, (cb + 1.0) / (nb + v) AS pb
  FROM freq, tot
)
SELECT CAST(MIN(t.v) AS BIGINT) AS vocab_size,
       ROUND(SUM(0.5 * pa * ln(pa / ((pa + pb) / 2))
                 + 0.5 * pb * ln(pb / ((pa + pb) / 2))) / ln(2), 4) + 0.0
         AS js_divergence_bits
FROM p, tot t
""",
    tags=("analytics", "text", "statistics"),
)
def doc_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (bits) between the word distributions
    of source src0 and the rest of the corpus, add-1 smoothed over the
    shared vocabulary — the symmetric, bounded distribution-shift
    score for domain drift between crawl snapshots or data sources.
    Identical sources score −0.0 after rounding → ``+ 0.0``.

    Scale: the same one-vocabulary-pass shape as doc_dsir_importance —
    conditional counts carry both distributions through ONE shuffle on
    the word; the divergence is a single scalar aggregate over the
    vocab frame."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        F.when(F.col("source") == "src0", "a").otherwise("b").alias("side"),
        F.explode(F.split("text", " ")).alias("w"),
    )
    freq = tok.groupBy("w").agg(
        F.sum(F.when(F.col("side") == "a", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("side") == "b", 1).otherwise(0)).alias("cb"),
    )
    tot = freq.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
        F.count(F.lit(1)).alias("v"),
    )
    p = freq.crossJoin(F.broadcast(tot)).select(
        ((F.col("ca") + 1.0) / (F.col("na") + F.col("v"))).alias("pa"),
        ((F.col("cb") + 1.0) / (F.col("nb") + F.col("v"))).alias("pb"),
        "v",
    )
    m = (F.col("pa") + F.col("pb")) / 2
    term = 0.5 * F.col("pa") * F.log(F.col("pa") / m) + 0.5 * F.col("pb") * F.log(
        F.col("pb") / m
    )
    return p.agg(
        F.min("v").cast("bigint").alias("vocab_size"),
        (F.round(F.sum(term) / F.log(F.lit(2.0)), 4) + F.lit(0.0)).alias(
            "js_divergence_bits"
        ),
    )


@register(
    "ts_naive_forecast_error",
    oracle="""
WITH seq AS (
  SELECT event_type, ROUND(value * 100) AS cents,
         LAG(ROUND(value * 100)) OVER (PARTITION BY event_type
                                       ORDER BY epoch_us(ts), event_id)
           AS prev_cents
  FROM events
),
s AS (SELECT * FROM seq WHERE prev_cents IS NOT NULL)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       SUM(ABS(cents - prev_cents)) / COUNT(*) / 100.0 AS mae,
       SUM(ABS(cents - prev_cents)) * 1.0 / SUM(ABS(cents)) AS wape,
       SUM((cents - prev_cents) * (cents - prev_cents))
         / COUNT(*) / 10000.0 AS mse
FROM s GROUP BY event_type
""",
    tags=("analytics", "timeseries", "ml-eval"),
)
def ts_naive_forecast_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive-persistence forecast baseline scored in one pass: MAE,
    WAPE, and MSE of predicting each value by its predecessor — the
    floor every real forecaster must beat (and the denominator of
    MASE). All three errors are exact-integer-cent sums with one final
    division each (raw doubles).

    Scale: LAG window and aggregate share the event_type partitioning."""
    from ..functions.timeutil import epoch_us

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).alias("cents"),
        epoch_us("ts").alias("us"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    s = e.withColumn("prev_cents", F.lag("cents").over(w)).filter(
        F.col("prev_cents").isNotNull()
    )
    err = F.col("cents") - F.col("prev_cents")
    n = F.count(F.lit(1))
    return s.groupBy("event_type").agg(
        n.cast("bigint").alias("n"),
        (F.sum(F.abs(err)) / n / 100.0).alias("mae"),
        (F.sum(F.abs(err)) * 1.0 / F.sum(F.abs("cents"))).alias("wape"),
        (F.sum(err * err) / n / 10000.0).alias("mse"),
    )


@register(
    "events_hourly_heatmap",
    oracle="""
WITH c AS (
  SELECT dayofweek(ts) + 1 AS weekday, EXTRACT(hour FROM ts) AS hour,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
t AS (SELECT SUM(n) AS total FROM c)
SELECT weekday, CAST(hour AS BIGINT) AS hour, CAST(n AS BIGINT) AS n_events,
       ROUND(n * 10000.0 / t.total, 4) AS pct_bp
FROM c, t
""",
    tags=("analytics", "events"),
)
def events_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × hour activity heatmap with basis-point shares — the
    traffic-shape matrix behind capacity planning and on-call
    staffing. Hour extraction happens on the naive wall-clock value in
    both engines (NTZ semantics); the weekday convention shift is
    encoded in the oracle.

    Scale: one count aggregate to a ≤168-cell frame; the share joins a
    1-row broadcast total."""
    e = _t(spark, sf_dir, "events")
    c = e.groupBy(
        F.dayofweek("ts").alias("weekday"),
        F.hour("ts").cast("bigint").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    return c.crossJoin(F.broadcast(t)).select(
        "weekday",
        "hour",
        F.col("n").cast("bigint").alias("n_events"),
        F.round(F.col("n") * 10000.0 / F.col("total"), 4).alias("pct_bp"),
    )


@register(
    "rel_order_linecount_dist",
    oracle="""
WITH per_order AS (
  SELECT l_orderkey, COUNT(*) AS n_lines FROM lineitem GROUP BY 1
),
d AS (SELECT n_lines, COUNT(*) AS n_orders FROM per_order GROUP BY 1)
SELECT CAST(n_lines AS BIGINT) AS n_lines,
       CAST(n_orders AS BIGINT) AS n_orders,
       ROUND(n_orders * 100.0 / SUM(n_orders) OVER (), 4) AS pct_orders,
       ROUND(SUM(n_orders) OVER (ORDER BY n_lines ROWS UNBOUNDED PRECEDING)
             * 100.0 / SUM(n_orders) OVER (), 4) AS cum_pct
FROM d
""",
    tags=("analytics", "window"),
)
def rel_order_linecount_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-width distribution: how many orders have k line items,
    with percentage and cumulative percentage — the fan-out histogram
    that sizes join amplification (it bounds the per-key work of every
    orderkey join in the engine). Exact integer counts; shares divide
    identical integers.

    Scale: two aggregates (fact → per-order → histogram); the windows
    run over the ≤max-width histogram frame."""
    li = _t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_lines"))
    d = per_order.groupBy(F.col("n_lines").cast("bigint").alias("n_lines")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    wall = Window.partitionBy()
    wcum = Window.orderBy("n_lines").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return d.select(
        "n_lines",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.round(F.col("n_orders") * 100.0 / F.sum("n_orders").over(wall), 4).alias(
            "pct_orders"
        ),
        F.round(
            F.sum("n_orders").over(wcum) * 100.0 / F.sum("n_orders").over(wall), 4
        ).alias("cum_pct"),
    )


@register(
    "rel_grouping_id",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""",
    tags=("analytics", "agg"),
)
def rel_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with the grouping_id bitmask surfaced — the
    column that lets a consumer tell a real NULL group from a rollup
    subtotal row (gid 0 = detail, 1 = per-flag subtotal, 3 = grand
    total; Spark and DuckDB share the bitmask convention).

    Scale: Catalyst plans grouping sets as one Expand + one hash
    aggregate — a single shuffle regardless of how many sets."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("total_qty"),
    )


@register(
    "emb_dim_variance_topk",
    oracle="""
WITH d AS (
  SELECT generate_subscripts(embedding, 1) AS dim,
         CAST(UNNEST(embedding) AS DOUBLE) AS x
  FROM embeddings
),
v AS (
  SELECT dim, COUNT(*) AS n,
         list_reduce(list_prepend(0.0, list(x ORDER BY x, x)),
                     (a, b) -> a + b) AS s,
         list_reduce(list_prepend(0.0, list(x * x ORDER BY x * x, x)),
                     (a, b) -> a + b) AS ss
  FROM d GROUP BY dim
),
r AS (
  SELECT dim,
         CASE WHEN n > 1 THEN (ss - s * s / n) / (n - 1) END AS variance,
         ROW_NUMBER() OVER (
           ORDER BY CASE WHEN n > 1 THEN (ss - s * s / n) / (n - 1) END DESC,
                    dim) AS rk
  FROM v
)
SELECT CAST(dim AS BIGINT) AS dim, variance, CAST(rk AS BIGINT) AS rk
FROM r WHERE rk <= 5
""",
    tags=("analytics", "similarity", "statistics"),
)
def emb_dim_variance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The five highest-variance embedding dimensions — the feature-
    selection readout before PCA/matryoshka truncation (dead dims
    carry no variance; a few hot dims dominating signals a training
    bug). Σx and Σx² fold VALUE-SORTED lists (non-integral floats:
    plain SUM partial order is not reproducible across engines), the
    variance then derives from identical doubles and is emitted raw.

    Scale: posexplode → one shuffle on the 64-value dim key; the
    top-5 window runs over the 64-row variance frame. At 100 TB the
    sorted fold per dim becomes the bottleneck — switch to Welford
    partials and round instead (docstringed trade-off; this is the
    oracle-parity audit path)."""
    e = _t(spark, sf_dir, "embeddings")
    from ..functions.timeutil import ordered_fold_sum

    d = e.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim0", "x")
    ).select((F.col("dim0") + 1).alias("dim"), "x")
    v = d.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        ordered_fold_sum(F.collect_list("x")).alias("s"),
        ordered_fold_sum(F.collect_list(F.col("x") * F.col("x"))).alias("ss"),
    )
    var = F.when(
        F.col("n") > 1,
        (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1),
    )
    r = v.select(
        F.col("dim").cast("bigint").alias("dim"),
        var.alias("variance"),
        F.row_number().over(Window.orderBy(var.desc(), "dim")).cast("bigint").alias("rk"),
    )
    return r.filter(F.col("rk") <= 5)


# ---------------------------------------------------------------------------
# Experimentation & ops-analytics (round-7 window seed)
# ---------------------------------------------------------------------------


@register(
    "rel_cuped_adjustment",
    oracle="""
WITH cutoff AS (
  SELECT MIN(epoch_us(ts) // 86400000000) + 15 AS cut_day FROM events
),
per_user AS (
  SELECT user_id, CAST(user_id % 2 AS BIGINT) AS variant,
         CAST(SUM(CASE WHEN epoch_us(ts) // 86400000000 < c.cut_day
                       THEN ROUND(value * 100) ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN epoch_us(ts) // 86400000000 >= c.cut_day
                       THEN ROUND(value * 100) ELSE 0 END) AS BIGINT) AS y
  FROM events, cutoff c GROUP BY 1, 2
),
pooled AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM per_user
),
theta AS (
  SELECT CASE WHEN n * sxx - sx * sx <> 0
              THEN (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx) END AS th,
         sx * 1.0 / n AS mean_x
  FROM pooled
),
per_variant AS (
  SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(x) AS BIGINT) AS sxv, CAST(SUM(y) AS BIGINT) AS syv
  FROM per_user GROUP BY variant
)
SELECT variant, n_users,
       syv * 1.0 / n_users / 100.0 AS mean_y,
       (syv * 1.0 / n_users - t.th * (sxv * 1.0 / n_users - t.mean_x)) / 100.0
         AS mean_y_cuped,
       t.th AS theta
FROM per_variant, theta t
""",
    tags=("analytics", "experiment", "statistics"),
)
def rel_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout: per-user pre-period
    value (first 15 days) as the covariate X, post-period value as the
    metric Y, pooled θ = cov(X,Y)/var(X) from integer sufficient
    statistics, adjusted mean Yᵢ − θ(Xᵢ − X̄) per variant — the
    standard trick that cuts A/B confidence intervals 30-50 % without
    touching assignment. All sums are exact integer cents (products
    < 2⁵³); θ and the means are identical scalar expressions over those
    exact integer sufficient statistics on both sides, so even the
    adjusted mean is bit-stable — no order-dependent double summation
    anywhere (the naive SUM(y − θ(x − x̄)) diverges across engines by
    partial-agg order; r5 ADVICE measured a 2-ulp gap at sf0.01). The
    pre-period cutoff is derived from the data (min event day + 15),
    not hardcoded, so any fixture date range works.

    Scale: one groupBy(user_id) pass builds the per-user frame; the
    cutoff and θ are 1-row broadcasts; no second fact scan."""
    from ..functions.timeutil import epoch_us

    e = _t(spark, sf_dir, "events")
    day = F.floor(epoch_us("ts") / 86_400_000_000)
    cents = F.round(F.col("value") * 100)
    cutoff = e.agg((F.min(day) + F.lit(15)).alias("cut_day"))
    cut = F.col("cut_day")
    per_user = (
        e.crossJoin(F.broadcast(cutoff))
        .groupBy("user_id", (F.col("user_id") % 2).cast("bigint").alias("variant"))
        .agg(
            F.sum(F.when(day < cut, cents).otherwise(0)).cast("bigint").alias("x"),
            F.sum(F.when(day >= cut, cents).otherwise(0)).cast("bigint").alias("y"),
        )
    )
    pooled = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    theta = pooled.select(
        F.when(
            F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") != 0,
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            * 1.0
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
        ).alias("th"),
        (F.col("sx") * 1.0 / F.col("n")).alias("mean_x"),
    )
    per_variant = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("x").cast("bigint").alias("sxv"),
        F.sum("y").cast("bigint").alias("syv"),
    )
    mean_y = F.col("syv") * 1.0 / F.col("n_users")
    mean_x_v = F.col("sxv") * 1.0 / F.col("n_users")
    return per_variant.crossJoin(F.broadcast(theta)).select(
        "variant",
        "n_users",
        (mean_y / 100.0).alias("mean_y"),
        ((mean_y - F.col("th") * (mean_x_v - F.col("mean_x"))) / 100.0).alias(
            "mean_y_cuped"
        ),
        F.col("th").alias("theta"),
    )


@register(
    "rel_srm_check",
    oracle="""
WITH assign AS (
  SELECT user_id % 2 AS variant, COUNT(DISTINCT user_id) AS users
  FROM events GROUP BY 1
),
tot AS (SELECT SUM(users) AS n FROM assign)
SELECT CAST(SUM(CASE WHEN variant = 0 THEN users END) AS BIGINT) AS users_a,
       CAST(SUM(CASE WHEN variant = 1 THEN users END) AS BIGINT) AS users_b,
       SUM((users - t.n / 2.0) * (users - t.n / 2.0) / (t.n / 2.0))
         AS chi2_stat
FROM assign, tot t GROUP BY t.n
""",
    tags=("analytics", "experiment", "statistics"),
)
def rel_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch audit for a 50/50 split: distinct users
    per variant and the 1-df chi-square statistic against the expected
    half-half assignment — the first thing to check before reading ANY
    experiment result (SRM means the assignment is broken and every
    downstream p-value is garbage). n/2 is at worst x.5 (binary-exact),
    so the statistic derives from exact operands and ships raw; the
    consumer compares against their own critical value.

    Scale: one distinct-count aggregate; everything else is a 2-row
    frame."""
    e = _t(spark, sf_dir, "events")
    assign = e.groupBy((F.col("user_id") % 2).alias("variant")).agg(
        F.countDistinct("user_id").alias("users")
    )
    tot = assign.agg(F.sum("users").alias("n"))
    ex = F.col("n") / 2.0
    return (
        assign.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.sum(F.when(F.col("variant") == 0, F.col("users")))
            .cast("bigint")
            .alias("users_a"),
            F.sum(F.when(F.col("variant") == 1, F.col("users")))
            .cast("bigint")
            .alias("users_b"),
            F.sum((F.col("users") - ex) * (F.col("users") - ex) / ex).alias(
                "chi2_stat"
            ),
        )
        .drop("n")
    )


@register(
    "rel_experiment_mde",
    oracle="""
WITH s AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(ROUND(value * 100)) AS BIGINT) AS sc,
         CAST(SUM(ROUND(value * 100) * ROUND(value * 100)) AS BIGINT) AS scc
  FROM events GROUP BY event_type
),
v AS (
  SELECT event_type, n, sc,
         CASE WHEN n > 1
              THEN ((scc * 1.0 / n) - (sc * 1.0 / n) * (sc * 1.0 / n))
                   * n / (n - 1) / 10000.0 END AS variance
  FROM s
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       sc * 1.0 / n / 100.0 AS mean_value,
       variance,
       2.8 * sqrt(2.0 * variance / n) AS mde_abs,
       CASE WHEN sc <> 0
            THEN 2.8 * sqrt(2.0 * variance / n) / (sc * 1.0 / n / 100.0)
       END AS mde_rel
FROM v
""",
    tags=("analytics", "experiment", "statistics"),
)
def rel_experiment_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect for an equal-split experiment on each
    metric stream at the CURRENT sample size: MDE ≈ (z₀.₉₇₅+z₀.₈)·
    √(2σ²/n) with the 2.8 rule-of-thumb constant — the power-analysis
    number that says whether an experiment is even worth running.
    Variance comes from exact integer-cent sufficient statistics in
    the MEAN-BASED form (E[x²] − E[x]²)·n/(n−1): every operand stays
    below 2⁵³ so each step is one correctly-rounded IEEE op on
    identical inputs. The textbook scc − sc²/n form is NOT cross-
    engine stable once sc² crosses 2⁵³ (≈ sf0.1 here): DuckDB
    evaluates `sc * 1.0 * sc / n` through a different op sequence
    than Spark/Python and the results differ by 2 ulps — caught by
    the byte-strict sf0.1 sweep in round 6. sqrt is IEEE-correctly-
    rounded, so every output ships raw.

    Scale: single aggregate pass (sufficient statistics only — no
    per-user materialization needed for a variance)."""
    e = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100)
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).cast("bigint").alias("sc"),
        F.sum(cents * cents).cast("bigint").alias("scc"),
    )
    n = F.col("n")
    m_c = F.col("sc") * 1.0 / n
    var = F.when(
        n > 1, ((F.col("scc") * 1.0 / n) - m_c * m_c) * n / (n - 1) / 10000.0
    )
    mean = F.col("sc") * 1.0 / n / 100.0
    mde = 2.8 * F.sqrt(2.0 * var / n)
    return s.select(
        "event_type",
        n.cast("bigint").alias("n"),
        mean.alias("mean_value"),
        var.alias("variance"),
        mde.alias("mde_abs"),
        F.when(F.col("sc") != 0, mde / mean).alias("mde_rel"),
    )


@register(
    "rel_bootstrap_ci",
    oracle="""
WITH reps AS (SELECT UNNEST(generate_series(1, 100)) AS b),
draws AS (
  SELECT r.b, ROUND(o.o_totalprice * 100) AS cents
  FROM orders o, reps r
  WHERE substr(md5(CAST(o.o_orderkey AS VARCHAR) || ':' ||
               CAST(r.b AS VARCHAR)), 1, 1) <= '7'
),
means AS (
  SELECT b, SUM(cents) / COUNT(*) / 100.0 AS m FROM draws GROUP BY b
),
ranked AS (
  SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS rk FROM means
),
full_mean AS (
  SELECT SUM(ROUND(o_totalprice * 100)) / COUNT(*) / 100.0 AS mean_full
  FROM orders
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_replicates,
       MAX(f.mean_full) AS mean_full,
       MAX(CASE WHEN rk = 3 THEN m END) AS ci_lo,
       MAX(CASE WHEN rk = 98 THEN m END) AS ci_hi
FROM ranked, full_mean f
""",
    tags=("analytics", "experiment", "statistics"),
)
def rel_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic subsampling-bootstrap CI of the mean order value:
    100 half-sample replicates whose membership is an md5 bit of
    (orderkey, replicate) — reproducible across runs AND engines, no
    RNG state anywhere — then the 3rd/98th replicate means as the
    percentile interval, SELECTED (row_number), never interpolated.
    This is the m-out-of-n bootstrap with m = n/2: interval widths
    overstate the full-sample SE by ≈√2, which is the documented,
    conservative trade for engine-portable determinism. Replicate
    means divide exact integer-cent sums.

    Scale: the explode is a map-side ×100 row multiplier feeding ONE
    (replicate) aggregation — the Poisson/half-sample bootstrap shape
    that replaces resampling-with-replacement at 100 TB (no per-row
    RNG, no shuffle of the raw table; replicate count bounds state)."""
    o = _t(spark, sf_dir, "orders")
    # Spread before the ×100 explode (r17): the explode+md5 membership
    # test is map-side work on the scan partitions — 15M md5s ran on
    # one core for a 1-partition local fixture (measured 8.2 s at
    # sf0.1; ~1 s spread). No-op at real scale; the full-mean branch
    # keeps the raw narrow scan.
    draws = (
        spread(o.select("o_orderkey", "o_totalprice")).select(
            F.explode(F.sequence(F.lit(1), F.lit(100))).alias("b"),
            F.col("o_orderkey"),
            _cents("o_totalprice").alias("cents"),
        )
        .filter(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("o_orderkey").cast("string"),
                        F.lit(":"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                1,
            )
            <= "7"
        )
    )
    means = draws.groupBy("b").agg(
        (F.sum("cents") / F.count(F.lit(1)) / 100.0).alias("m")
    )
    ranked = means.select(
        "m", F.row_number().over(Window.orderBy("m", "b")).alias("rk")
    )
    full_mean = o.agg(
        (F.sum(_cents("o_totalprice")) / F.count(F.lit(1)) / 100.0).alias(
            "mean_full"
        )
    )
    return ranked.crossJoin(F.broadcast(full_mean)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_replicates"),
        F.max("mean_full").alias("mean_full"),
        F.max(F.when(F.col("rk") == 3, F.col("m"))).alias("ci_lo"),
        F.max(F.when(F.col("rk") == 98, F.col("m"))).alias("ci_hi"),
    )


@register(
    "rel_skew_report",
    oracle="""
WITH keys AS (
  SELECT 'l_orderkey' AS col_name, l_orderkey AS key FROM lineitem
  UNION ALL
  SELECT 'l_partkey', l_partkey FROM lineitem
  UNION ALL
  SELECT 'l_suppkey', l_suppkey FROM lineitem
),
per_key AS (
  SELECT col_name, key, COUNT(*) AS c FROM keys GROUP BY 1, 2
)
SELECT col_name,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MAX(c) AS BIGINT) AS max_key_rows,
       ROUND(MAX(c) * 1.0 / SUM(c), 4) AS top_key_share,
       ROUND(quantile_cont(c, 0.5), 4) AS p50_key_rows,
       ROUND(quantile_cont(c, 0.99), 4) AS p99_key_rows
FROM per_key GROUP BY col_name
""",
    tags=("analytics", "statistics"),
)
def rel_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report for every candidate key of the fact table:
    rows, distinct keys, the heaviest key's row count and share, and
    the p50/p99 per-key sizes — the diagnostic that decides between a
    plain shuffle join, AQE skew splitting, and salting BEFORE the job
    runs (the engine's own salted-join and AQE paths consume exactly
    this). stack() unpivots the three keys map-side so the whole audit
    is one grouped count plus a per-column rollup.

    Scale: the per-key count shuffles each key column once; the rollup
    output is 3 rows. At 100 TB this is the cheap pre-flight scan."""
    li = _t(spark, sf_dir, "lineitem")
    keys = li.select(
        F.expr(
            "stack(3, 'l_orderkey', l_orderkey, 'l_partkey', l_partkey, "
            "'l_suppkey', l_suppkey) AS (col_name, key)"
        )
    )
    per_key = keys.groupBy("col_name", "key").agg(F.count(F.lit(1)).alias("c"))
    return per_key.groupBy("col_name").agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("c").cast("bigint").alias("max_key_rows"),
        F.round(F.max("c") * 1.0 / F.sum("c"), 4).alias("top_key_share"),
        F.round(F.expr("percentile(c, 0.5)"), 4).alias("p50_key_rows"),
        F.round(F.expr("percentile(c, 0.99)"), 4).alias("p99_key_rows"),
    )


@register(
    "rel_join_explosion_estimate",
    oracle="""
WITH co AS (
  SELECT o_orderkey % 16 AS bucket, o_orderkey AS key, COUNT(*) AS c
  FROM orders GROUP BY 1, 2
),
cl AS (
  SELECT l_orderkey % 16 AS bucket, l_orderkey AS key, COUNT(*) AS c
  FROM lineitem GROUP BY 1, 2
),
pred AS (
  SELECT co.bucket, SUM(co.c * cl.c) AS predicted
  FROM co JOIN cl ON co.key = cl.key GROUP BY 1
),
act AS (
  SELECT o.o_orderkey % 16 AS bucket, COUNT(*) AS actual
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY 1
)
SELECT CAST(p.bucket AS BIGINT) AS bucket,
       CAST(p.predicted AS BIGINT) AS predicted_rows,
       CAST(a.actual AS BIGINT) AS actual_rows
FROM pred p JOIN act a USING (bucket)
""",
    tags=("analytics", "statistics"),
)
def rel_join_explosion_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality prediction from per-key histograms: the output
    size of orders ⋈ lineitem per key bucket is Σ|O_k|·|L_k| over the
    bucket's keys — computed from the two SMALL per-key count frames,
    then verified in-query against the actual join count (the two
    columns must be equal row-for-row). This is the estimator a
    planner runs on sampled histograms before committing to a join
    strategy; here it is exact.

    Scale: the histogram join shuffles per-key COUNTS, not rows — at
    100 TB predicting the explosion costs two aggregates while running
    the bad join costs the cluster."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    co = o.groupBy(
        (F.col("o_orderkey") % 16).alias("bucket"),
        F.col("o_orderkey").alias("key"),
    ).agg(F.count(F.lit(1)).alias("c"))
    cl = li.groupBy(
        (F.col("l_orderkey") % 16).alias("bucket_l"),
        F.col("l_orderkey").alias("key"),
    ).agg(F.count(F.lit(1)).alias("c"))
    pred = (
        co.join(cl.withColumnRenamed("c", "c_l"), "key")
        .groupBy("bucket")
        .agg(F.sum(F.col("c") * F.col("c_l")).alias("predicted"))
    )
    act = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy((F.col("o_orderkey") % 16).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("actual"))
    )
    return pred.join(act, "bucket").select(
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("predicted").cast("bigint").alias("predicted_rows"),
        F.col("actual").cast("bigint").alias("actual_rows"),
    )


# ---------------------------------------------------------------------------
# SQL-surface completion + proportion statistics (round-7 window seed)
# ---------------------------------------------------------------------------


@register(
    "rel_offset_fetch_pagination",
    oracle="""
SELECT o_orderkey,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20 OFFSET 40
""",
    tags=("analytics", "sql-surface"),
)
def rel_offset_fetch_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset-stable LIMIT/OFFSET pagination (page 3 of the price-
    ranked orders, 20 per page) via ``DataFrame.offset`` — the API
    page servers actually call; deterministic only because the sort
    carries a unique tiebreak, which the docstring makes a contract.

    Scale: Catalyst plans sort+offset+limit as a global
    TakeOrderedAndProject of the first offset+limit rows (60 here) —
    constant memory per partition; deep pagination should switch to
    keyset WHERE (key > last_seen) predicates, the documented
    trade-off."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select(
            "o_orderkey",
            _cents("o_totalprice").cast("bigint").alias("cents"),
        )
        .offset(40)
        .limit(20)
    )


@register(
    "rel_union_by_name_missing",
    oracle="""
SELECT * FROM (
  SELECT 'current' AS src, o_orderkey, o_orderpriority,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderstatus = 'O'
) UNION ALL BY NAME (
  SELECT 'archive' AS src, o_orderkey,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderstatus = 'F'
)
""",
    tags=("analytics", "sql-surface"),
)
def rel_union_by_name_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolving union: combine a current feed and an archive
    feed whose column sets differ — ``unionByName(allowMissingColumns
    =True)`` aligns by NAME and null-fills the archive's missing
    priority column (positional UNION would silently misalign). The
    everyday operator for merging snapshots across schema versions.

    Scale: map-only — two scans concatenated, no shuffle."""
    o = _t(spark, sf_dir, "orders")
    current = o.filter(F.col("o_orderstatus") == "O").select(
        F.lit("current").alias("src"),
        "o_orderkey",
        "o_orderpriority",
        _cents("o_totalprice").cast("bigint").alias("cents"),
    )
    archive = o.filter(F.col("o_orderstatus") == "F").select(
        F.lit("archive").alias("src"),
        "o_orderkey",
        _cents("o_totalprice").cast("bigint").alias("cents"),
    )
    return current.unionByName(archive, allowMissingColumns=True)


@register(
    "rel_null_ordering_rank",
    oracle="""
WITH p AS (
  SELECT event_type, event_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type, event_id, k,
       CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY k DESC NULLS LAST, event_id)
            AS BIGINT) AS rk
FROM p
QUALIFY rk <= 5
""",
    tags=("analytics", "sql-surface", "window"),
)
def rel_null_ordering_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULL-ordering in ranking: top-5 events by an optional
    JSON property with ``desc_nulls_last`` — engines DISAGREE on the
    default (Spark sorts nulls first ascending, DuckDB last), so any
    ranking over a nullable key that doesn't pin null placement is a
    portability bug. Pinned here on both sides.

    Scale: per-group window; WindowGroupLimit prunes to 5 rows per
    group before the shuffle completes."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    p = e.select("event_type", "event_id", k.alias("k"))
    w = Window.partitionBy("event_type").orderBy(
        F.col("k").desc_nulls_last(), F.asc("event_id")
    )
    return (
        p.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 5)
    )


@register(
    "rel_proportions_ztest",
    oracle="""
WITH conv AS (
  SELECT user_id % 2 AS variant, user_id,
         MAX(CASE WHEN event_type = 'purchase' AND value >= 150
                  THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT variant, COUNT(*) AS n, SUM(converted) AS x FROM conv GROUP BY 1
),
w AS (
  SELECT MAX(CASE WHEN variant = 0 THEN n END) AS n1,
         MAX(CASE WHEN variant = 0 THEN x END) AS x1,
         MAX(CASE WHEN variant = 1 THEN n END) AS n2,
         MAX(CASE WHEN variant = 1 THEN x END) AS x2
  FROM s
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(x1 AS BIGINT) AS x1,
       CAST(n2 AS BIGINT) AS n2, CAST(x2 AS BIGINT) AS x2,
       x1 * 1.0 / n1 AS p1, x2 * 1.0 / n2 AS p2,
       (x1 * 1.0 / n1 - x2 * 1.0 / n2)
         / NULLIF(sqrt(((x1 + x2) * 1.0 / (n1 + n2))
                       * (1 - (x1 + x2) * 1.0 / (n1 + n2))
                       * (1.0 / n1 + 1.0 / n2)), 0) AS z_stat
FROM w
""",
    tags=("analytics", "experiment", "statistics"),
)
def rel_proportions_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion pooled z-test on conversion (did the user ever
    make a high-value purchase?) between the two assignment arms — the
    binary-metric counterpart of rel_ab_ttest, and with it the
    complete basic A/B toolkit (CUPED, SRM, MDE, t, z). Counts are
    exact; p̂, pooling and z are identical arithmetic on them, emitted
    raw; a degenerate pool (p̂ ∈ {0,1}, possible at tiny samples)
    yields NULL on both sides instead of a division error.

    Scale: per-user conversion is one groupBy(user_id) pass; the test
    reads a 2-row frame."""
    e = _t(spark, sf_dir, "events")
    conv = e.groupBy(
        (F.col("user_id") % 2).alias("variant"), "user_id"
    ).agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") >= 150),
                1,
            ).otherwise(0)
        ).alias("converted")
    )
    s = conv.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("x")
    )
    pick = lambda v, c: F.max(F.when(F.col("variant") == v, F.col(c)))  # noqa: E731
    w = s.agg(
        pick(0, "n").alias("n1"),
        pick(0, "x").alias("x1"),
        pick(1, "n").alias("n2"),
        pick(1, "x").alias("x2"),
    )
    p1 = F.col("x1") * 1.0 / F.col("n1")
    p2 = F.col("x2") * 1.0 / F.col("n2")
    pp = (F.col("x1") + F.col("x2")) * 1.0 / (F.col("n1") + F.col("n2"))
    return w.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("x1").cast("bigint").alias("x1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.col("x2").cast("bigint").alias("x2"),
        p1.alias("p1"),
        p2.alias("p2"),
        F.try_divide(
            p1 - p2,
            F.nullif(
                F.sqrt(pp * (1 - pp) * (1.0 / F.col("n1") + 1.0 / F.col("n2"))),
                F.lit(0.0),
            ),
        ).alias("z_stat"),
    )


@register(
    "events_error_rate_wilson",
    oracle="""
WITH d AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         COUNT(*) AS n,
         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS x
  FROM events GROUP BY 1
)
SELECT day, CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS n_errors,
       x * 1.0 / n AS error_rate,
       ((x * 1.0 / n) + 1.9208 / n
        - 1.96 * sqrt((x * 1.0 / n) * (1 - x * 1.0 / n) / n
                      + 0.9604 / (n * n)))
         / (1 + 3.8416 / n) AS wilson_lo,
       ((x * 1.0 / n) + 1.9208 / n
        + 1.96 * sqrt((x * 1.0 / n) * (1 - x * 1.0 / n) / n
                      + 0.9604 / (n * n)))
         / (1 + 3.8416 / n) AS wilson_hi
FROM d
""",
    tags=("analytics", "statistics", "timeseries"),
)
def events_error_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily error rate with a Wilson-score 95 % interval — the
    proportion CI that behaves at small n and rates near 0/1 where the
    naive normal interval fails (error monitoring lives exactly
    there). z=1.96 constants are pre-folded (z²/2=1.9208, z²=3.8416,
    z²/4=0.9604); every term is identical arithmetic on exact integer
    counts, emitted raw.

    Scale: one daily count aggregate; the interval is per-row scalar
    math."""
    from ..functions.timeutil import epoch_us

    e = _t(spark, sf_dir, "events")
    d = e.groupBy(
        F.floor(epoch_us("ts") / 86_400_000_000).cast("bigint").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("x"),
    )
    p = F.col("x") * 1.0 / F.col("n")
    n = F.col("n")
    half = 1.96 * F.sqrt(p * (1 - p) / n + 0.9604 / (n * n))
    denom = 1 + 3.8416 / n
    return d.select(
        "day",
        n.cast("bigint").alias("n"),
        F.col("x").cast("bigint").alias("n_errors"),
        p.alias("error_rate"),
        ((p + 1.9208 / n - half) / denom).alias("wilson_lo"),
        ((p + 1.9208 / n + half) / denom).alias("wilson_hi"),
    )


@register(
    "ts_week_over_week",
    oracle="""
WITH w AS (
  SELECT CAST(epoch_us(ts) // 86400000000 // 7 AS BIGINT) AS week,
         CAST(SUM(ROUND(value * 100)) AS BIGINT) AS cents,
         COUNT(*) AS n_events
  FROM events GROUP BY 1
)
SELECT week, cents, CAST(n_events AS BIGINT) AS n_events,
       LAG(cents) OVER (ORDER BY week) AS prev_cents,
       ROUND((cents - LAG(cents) OVER (ORDER BY week)) * 1.0
             / LAG(cents) OVER (ORDER BY week), 4) + 0.0 AS wow_growth
FROM w
""",
    tags=("analytics", "timeseries", "window"),
)
def ts_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week value growth on integer epoch-week buckets (no
    ISO-week calendar semantics cross the engines) — the operational
    twin of rel_yoy_growth at the cadence ops teams actually watch.
    Flat weeks round to ±0 → ``+ 0.0``.

    Scale: one weekly aggregate; the LAG window orders the tiny weekly
    frame."""
    from ..functions.timeutil import epoch_us

    e = _t(spark, sf_dir, "events")
    w = e.groupBy(
        F.floor(F.floor(epoch_us("ts") / 86_400_000_000) / 7)
        .cast("bigint")
        .alias("week")
    ).agg(
        F.sum(F.round(F.col("value") * 100)).cast("bigint").alias("cents"),
        F.count(F.lit(1)).alias("n_events"),
    )
    win = Window.orderBy("week")
    prev = F.lag("cents").over(win)
    return w.select(
        "week",
        "cents",
        F.col("n_events").cast("bigint").alias("n_events"),
        prev.alias("prev_cents"),
        (
            F.round((F.col("cents") - prev) * 1.0 / prev, 4) + F.lit(0.0)
        ).alias("wow_growth"),
    )
