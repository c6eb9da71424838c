"""Aggregation operators: hash aggregate, distinct agg, rollup, approx.

All built-in Catalyst operators — partial (map-side) aggregation, AQE
partition coalescing and codegen come for free. Float aggregates are
wrapped in round(x, 4) on both the Spark and oracle side for
hash-stable comparison (SURVEY.md §2.5 rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table, trunc_ntz

# TPC-H Q1 cutoff adapted to the synthetic data's 1995..2001 shipdate range.
Q1_CUTOFF = "1998-09-02"


def agg_hash_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filtered multi-aggregate hash groupBy on lineitem.

    The flagship query — exercises scan → pushed filter → project →
    partial agg → shuffle on (returnflag, linestatus) → final agg.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit(Q1_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(charge), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate (expands to a two-phase plan under Catalyst)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.count("*").alias("n_orders"),
    )


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets rollup over (returnflag, linestatus)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.count("*").alias("n_items"),
    )


def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate count-distinct (rows-only check:
    approximation differs across engines by design)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.count("*").alias("n_items"),
    )


def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: sample stddev/variance, correlation and
    covariance — single hash aggregate, partial moments combine
    map-side like any algebraic agg. Normalized statistics (corr) and
    ~1e4-magnitude moments round stably to 4 dp across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_extendedprice", "l_quantity"), 4).alias("corr_pq"),
        F.round(F.covar_samp("l_extendedprice", "l_discount"), 4).alias("cov_pd"),
        F.count("*").alias("n"),
    )


def agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles via the GK/KLL-style sketch
    (percentile_approx, accuracy=1000) — the mergeable-sketch path a
    100 TB percentile needs (exact percentile sorts every group).
    Rows-only for the driver (sketch internals differ across engines);
    pytest pins the rank-error bound against the exact percentile."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("p50_approx"),
        F.percentile_approx("l_extendedprice", 0.95, 1000).alias("p95_approx"),
        F.count("*").alias("n_items"),
    )


def agg_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches (Apache DataSketches HLL via
    hll_sketch_agg/hll_union_agg): per-group sketches estimated, plus
    the cross-group UNION re-estimated — the incremental pattern a
    100 TB pipeline needs (sketch each day/partition once, union
    later; never re-scan history for a new rollup). Rows-only for the
    driver (sketch internals are engine-specific); pytest pins the
    estimates against exact counts."""
    li = load_table(spark, sf_dir, "lineitem")
    sk = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey").alias("sk"),
        F.count("*").alias("n_items"),
    )
    per_group = sk.select(
        "l_returnflag",
        F.hll_sketch_estimate("sk").alias("distinct_est"),
        "n_items",
    )
    total = sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("distinct_est"),
        F.sum("n_items").alias("n_items"),
    ).select(F.lit("__union__").alias("l_returnflag"), "distinct_est", "n_items")
    return per_group.unionByName(total)


def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group percentiles (nearest-rank p50/p90/p99) — the
    ground-truth twin of ``agg_percentile_approx``: where the GK sketch
    trades accuracy for memory, this pays one sort-shuffle per group
    for the true order statistic. The hash-exact oracle row documents
    the semantics the approx variant's error bound is measured against.

    Scale shape: ONE window pass (row_number + count over the group
    key) and one conditional aggregate — the group's rows sort inside
    their partition after a single exchange; nothing is collected, and
    nearest-rank needs no interpolation arithmetic to disagree on.
    Groups here are the 3-value returnflag; for high-cardinality keys
    the same plan holds with bounded per-group sort buffers."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("l_extendedprice").asc()
    )
    d = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("l_returnflag")).alias("n"),
    )

    def at(p: float):
        # nearest-rank: the value at ceil(p·n); ties on price are
        # harmless (equal values at equal ranks)
        return F.max(
            F.when(
                F.col("rn")
                == F.ceil(F.col("n") * F.lit(p)).cast("long"),
                F.col("l_extendedprice"),
            )
        )

    return d.groupBy("l_returnflag").agg(
        F.max("n").alias("n_items"),
        F.round(at(0.5), 4).alias("p50"),
        F.round(at(0.9), 4).alias("p90"),
        F.round(at(0.99), 4).alias("p99"),
    )


# Linear Counting (Whang et al.): m-bit occupancy bitmap, estimate
# -m·ln(unseen/m). Needs m ≳ n (its documented limit vs HLL) — m=2^20
# covers the 100× smoke's key range.
LC_M = 1 << 20


def agg_linear_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count sketching with an EXACT oracle: per-group Linear
    Counting over md5 buckets — the portable-hash counterpart of
    ``agg_approx_distinct`` (whose HLL internals are engine-specific
    and therefore rows-only). The report carries the exact distinct,
    the LC estimate, and the signed error — the calibration row a
    sketch consumer reads before trusting the estimate family.

    Scale shape: occupancy = one distinct-aggregate over (group,
    bucket) — 2^20 buckets cap the key domain, so the agg state is
    bounded per group regardless of corpus size, and bitmaps from
    different partitions/days MERGE by union (the sketch property).
    The ln is floor-quantized at 1e-6 (the tfidf idiom) so both
    engines iterate on the identical double."""
    li = load_table(spark, sf_dir, "lineitem")
    # two-level dedup instead of count_distinct (round 13): the expand
    # form shipped 2x the corpus through the distinct-agg; deduping
    # (flag, partkey) FIRST shuffles only the distinct pairs and runs
    # the md5 on ~1/10th the rows (bucket is a function of partkey, so
    # hashing after the dedup is value-identical). Guide §2.3 —
    # aggregate before you shuffle, shuffle fewer bytes. NULL partkeys
    # hash to a NULL bucket (concat propagates NULL), which the
    # count_distinct form skipped — mirrored by counting only non-NULL
    # buckets, so an all-NULL group still emits its row with 0s.
    pairs = li.select("l_returnflag", "l_partkey").distinct()
    b = pairs.select(
        "l_returnflag",
        F.expr(
            "cast(conv(substring(md5(concat('lc:', cast(l_partkey as string)))"
            ", 1, 8), 16, 10) as bigint)"
            f" % {LC_M}"
        ).alias("bucket"),
    )
    g1 = b.groupBy("l_returnflag", "bucket").agg(F.count("*").alias("nk"))
    per_group = g1.groupBy("l_returnflag").agg(
        F.count("bucket").alias("occupied"),
        F.coalesce(
            F.sum(F.when(F.col("bucket").isNotNull(), F.col("nk"))),
            F.lit(0),
        ).cast("bigint").alias("exact_distinct"),
    )
    est = F.expr(
        f"round(-{LC_M}.0D * (floor(ln((cast({LC_M} as double) - occupied)"
        f" / {LC_M}.0D) * 1000000.0D) / 1000000.0D), 4)"
    )
    return per_group.select(
        "l_returnflag",
        "exact_distinct",
        F.col("occupied").alias("n_buckets_set"),
        est.alias("lc_estimate"),
        F.round(est - F.col("exact_distinct"), 4).alias("err"),
    )


# Count-Min Sketch over word 3-grams: D portable md5 hash rows × W
# buckets. Deterministic given the hash family, so — unlike the HLL/GK
# sketches above — the DuckDB oracle replays the whole sketch exactly.
CMS_D = 4
CMS_W = 1024
CMS_TOPK = 20


def _cms_pos(j: int, key_sql: str) -> str:
    """SQL for CMS hash-row j's bucket of a string key."""
    return (
        f"cast(conv(substring(md5(concat('cms{j}:', {key_sql})), 1, 8),"
        f" 16, 10) as bigint) % {CMS_W}"
    )


def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a Count-Min Sketch (Cormode-Muthukrishnan) over
    the corpus' word 3-grams: the true top-20 grams with their exact
    count, the CMS estimate, and the overestimate — the error the
    sketch's collision structure actually produced.

    Why this matters at 100 TB: the D×W cell grid (4×1024 longs here)
    is a CONSTANT-size, MERGEABLE summary — each partition sketches its
    grams map-side, cells add up across partitions/days, and a frequency
    query never rescans history. The estimate is biased high only
    (min over rows of colliding sums), which the report makes visible.

    Plan: one gram explode + exact count agg (the ground truth the
    report audits against), cells = ≤D·W-row agg over it, top-k via
    TakeOrderedAndProject, then a broadcast (j, pos) equi-join of the
    tiny cell grid onto the top-k probes and a min-collapse."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(F.split("text", " ").alias("toks"))
    # degenerate docs (NULL/empty text) contribute zero grams — the
    # same contract as similarity.shingles_from_tokens; the unguarded
    # form manufactures a '' gram per degenerate doc, which is pure
    # collision mass with no content
    grams = t.select(
        F.explode(
            F.expr(
                "CASE WHEN toks IS NULL OR size(toks) = 0"
                " OR (size(toks) = 1 AND element_at(toks, 1) = '')"
                " THEN array()"
                " ELSE transform(sequence(1, greatest(size(toks) - 2, 1)),"
                " i -> concat_ws(' ', slice(toks, i, 3))) END"
            )
        ).alias("g")
    )
    counts = grams.groupBy("g").agg(F.count("*").alias("exact_cnt"))
    probes_all = counts.select(
        "g",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.expr(_cms_pos(j, "g")).alias("pos"),
                    )
                    for j in range(CMS_D)
                ]
            )
        ).alias("jp"),
    ).select("g", "exact_cnt", F.col("jp.j").alias("j"), F.col("jp.pos").alias("pos"))
    cells = probes_all.groupBy("j", "pos").agg(
        F.sum("exact_cnt").alias("cell")
    )
    top = counts.orderBy(
        F.col("exact_cnt").desc(), F.col("g").asc()
    ).limit(CMS_TOPK)
    top_probes = top.select(
        "g",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.expr(_cms_pos(j, "g")).alias("pos"),
                    )
                    for j in range(CMS_D)
                ]
            )
        ).alias("jp"),
    ).select("g", "exact_cnt", F.col("jp.j").alias("j"), F.col("jp.pos").alias("pos"))
    from pyspark.sql.functions import broadcast

    return (
        top_probes.join(broadcast(cells), ["j", "pos"])
        .groupBy("g", "exact_cnt")
        .agg(F.min("cell").alias("cms_est"))
        .select(
            F.col("g").alias("gram"),
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overest"),
        )
    )


def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mode (most frequent value) of l_quantity per
    (l_returnflag, l_linestatus) with a deterministic tiebreak
    (smallest value wins) — the categorical summary statistic the
    built-in aggregates skip (Spark's ``mode()`` breaks ties
    arbitrarily, which can never hash-match an oracle).

    Shape: one (group, value) count aggregate — map-side combined, the
    histogram is |groups|·|distinct values| rows (tiny for bounded-
    cardinality columns) — then a row_number window over the HISTOGRAM
    and a filter; the corpus is scanned once, the window never sees
    per-row data. Exactness: l_quantity has ≤2 decimals → compare as
    exact cents; the tiebreak (count DESC, value ASC) totally orders
    every candidate."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    hist = (
        li.select(
            "l_returnflag",
            "l_linestatus",
            F.round(F.col("l_quantity") * 100)
            .cast("long")
            .alias("q100"),
        )
        .groupBy("l_returnflag", "l_linestatus", "q100")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    w = Window.partitionBy("l_returnflag", "l_linestatus").orderBy(
        F.col("n").desc(), F.col("q100").asc()
    )
    return (
        hist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            "l_linestatus",
            F.round(F.col("q100").cast("double") / 100.0, 2).alias(
                "mode_qty"
            ),
            F.col("n").alias("n_occurrences"),
        )
    )


def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of order value per priority class — the
    concentration statistic a revenue/data-balance review reads (0 =
    uniform spend, →1 = one whale): G = (2·Σ i·xᵢ)/(n·Σx) − (n+1)/n
    over the ascending-sorted values.

    Exactness: values are exact cents; the rank widens to
    DECIMAL(38,0) BEFORE the multiply (matching the oracle's
    HUGEINT-then-multiply order), so the per-term i·xᵢ product and
    both sums are exact at any group size — Σ i·xᵢ reaches n²·x̄ and a
    post-hoc cast would wrap int64 around 100M rows/group; two float
    divisions at the end. Shape: ONE group exchange (rank + count + sums share it)
    — the group-bounded exact-order-statistic trade documented at
    agg_percentile_exact (the sketch path covers unbounded groups)."""
    o = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy(
        F.asc("o_totalprice"), F.asc("o_orderkey")
    )
    ranked = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("v100"),
        F.row_number().over(w).alias("i"),
    )
    agg = ranked.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("v100").cast("decimal(38,0)")).alias("sv"),
        F.sum(
            F.col("i").cast("decimal(38,0)") * F.col("v100")
        ).alias("siv"),
    )
    return agg.select(
        "o_orderpriority",
        "n",
        F.round(F.col("sv").cast("double") / 100.0, 2).alias(
            "total_value"
        ),
        F.round(
            F.lit(2.0)
            * F.col("siv").cast("double")
            / (F.col("n").cast("double") * F.col("sv").cast("double"))
            - (F.col("n") + 1).cast("double") / F.col("n"),
            6,
        ).alias("gini"),
    )


def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of order value per priority class —
    the decomposable entropy-based concentration statistic next to
    :func:`agg_gini_concentration` (Theil is additive across
    subgroups, which is why data-balance reviews report both):
    T = (Σ xᵢ·ln xᵢ)/S − ln(S/n) over positive values.

    Exactness: values are exact cents; each ln(xᵢ) is floor-quantized
    at 1e-6 AND SCALED TO BIGINT, the xᵢ·ln_q(xᵢ) product widens one
    factor to DECIMAL(38,0) BEFORE the multiply (the round-11 overflow
    rule — the product reaches ~1e15 per term and the sum S·ln(max)),
    so the accumulator is exact in any order; ln(S/n) quantizes the
    IEEE-exact double division. Shape: ONE group exchange, map-side
    combined — no window, no join (Theil needs no rank, which is the
    scale advantage over Gini's per-group sort)."""
    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v100"),
    ).filter(F.col("v100") > 0)
    lnq = (
        "cast(floor(ln(cast(v100 as double)) * 1000000.0D) as bigint)"
    )
    agg = d.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("v100").cast("decimal(38,0)")).alias("sv"),
        F.sum(F.col("v100").cast("decimal(38,0)") * F.expr(lnq)).alias(
            "sxlnx"
        ),
    )
    return agg.select(
        "o_orderpriority",
        "n",
        F.round(F.col("sv").cast("double") / 100.0, 2).alias(
            "total_value"
        ),
        F.round(
            F.col("sxlnx").cast("double")
            / 1e6
            / F.col("sv").cast("double")
            - F.expr(
                "floor(ln(cast(sv as double) / cast(n as double))"
                " * 1000000.0D) / 1000000.0D"
            ),
            6,
        ).alias("theil_t"),
    )


def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman index of order-value share per priority —
    the third leg of the concentration family (Gini ranks, Theil is
    entropy, HHI is the sum of squared shares the antitrust/market
    literature uses; 1/n = uniform, 1 = one whale):
    HHI = Σ (xᵢ/S)² = (Σ xᵢ²) / S².

    Exactness: values are exact cents; xᵢ² widens one factor to
    DECIMAL(38,0) BEFORE the multiply (the round-11 overflow rule —
    v100² reaches ~2.5e15 per term), both sums exact in any order; two
    float operations at the end. Shape: ONE group exchange, map-side
    combined — like Theil, no rank and no window, the cheapest of the
    three at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v100"),
    )
    agg = d.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("v100").cast("decimal(38,0)")).alias("sv"),
        F.sum(F.col("v100").cast("decimal(38,0)") * F.col("v100")).alias(
            "sv2"
        ),
    )
    return agg.select(
        "o_orderpriority",
        "n",
        F.round(F.col("sv").cast("double") / 100.0, 2).alias(
            "total_value"
        ),
        F.round(
            F.col("sv2").cast("double")
            / (F.col("sv").cast("double") * F.col("sv").cast("double")),
            8,
        ).alias("hhi"),
    )


def agg_revenue_mom_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue: per calendar month, order count,
    exact revenue, the previous month's revenue, absolute delta and
    percent change — the first page of every BI deck, here as the
    period-over-period window staple (LAG over a date-grain aggregate).

    Exactness: revenue sums are exact cents (BIGINT); deltas are
    integer subtraction; the single division happens on exact
    integers. The LAG runs over the ≤months-row aggregate — the window
    after the shuffle touches dozens of rows regardless of corpus
    size. month is a midnight TIMESTAMP (the retention_cohorts dtype
    convention — DATE arrives driver-side with a different pandas
    kind)."""
    o = load_table(spark, sf_dir, "orders")
    monthly = (
        o.select(
            trunc_ntz("month", "o_orderdate").alias("month"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("v100"),
        )
        .groupBy("month")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("v100").cast("bigint").alias("rev100"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy("month")
    prev = F.lag("rev100").over(w)
    return monthly.select(
        "month",
        "n_orders",
        F.round(F.col("rev100").cast("double") / 100.0, 2).alias(
            "revenue"
        ),
        F.round(prev.cast("double") / 100.0, 2).alias("prev_revenue"),
        F.round(
            (F.col("rev100") - prev).cast("double") / 100.0, 2
        ).alias("mom_delta"),
        F.round(
            (F.col("rev100") - prev).cast("double") / prev, 6
        ).alias("mom_pct"),
    )


def agg_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto (80/20) revenue-concentration curve: customers bucketed
    into revenue deciles, each decile's customer count, revenue, share
    and the cumulative share from the TOP — the "top 10% of customers
    carry X% of revenue" table next to the Gini/Theil/HHI scalars.

    Scale + determinism: decile membership comes from NEAREST-RANK
    thresholds over the per-customer revenue HISTOGRAM (the
    events_rfm_segmentation discipline — no global ntile sort;
    thresholds are a broadcast 1-row artifact, assignment is map-side,
    ties share a decile by construction). The histogram keys on
    DOLLAR-grain revenue, not exact cents (ADVICE r11): exact-cent
    values rarely collide, so a cent-keyed histogram has ~one row per
    customer and its cumulative window degenerates to a single-task
    global sort at scale — the dollar quantization bounds the key
    space by the VALUE DOMAIN instead (decile boundaries are
    insensitive to sub-dollar precision). Revenue SUMS stay exact
    cents; the cumulative share window runs over the ≤10-row decile
    table."""
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("bigint")
        .alias("rev100")
    ).withColumn("revq", F.expr("rev100 div 100"))
    hist = cust.groupBy("revq").agg(F.count("*").alias("c"))
    from pyspark.sql import Window

    wt = Window.orderBy("revq").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy(F.lit(1))
    cum = hist.select(
        F.col("revq").alias("v"),
        F.sum("c").over(wt).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    pick = lambda q: F.min(  # noqa: E731 — nearest-rank pick
        F.when(
            F.col("cum")
            >= F.expr(f"cast(ceil({q} * n / 10.0) as bigint)"),
            F.col("v"),
        )
    )
    thr = cum.agg(*[pick(q).alias(f"t{q}") for q in range(1, 10)])
    decile = (
        F.lit(1)
        + sum(
            (F.col("revq") > F.col(f"t{q}")).cast("int")
            for q in range(1, 10)
        )
    ).cast("int")
    scored = cust.crossJoin(F.broadcast(thr)).select(
        decile.alias("decile"), "rev100"
    )
    per_decile = scored.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum("rev100").cast("bigint").alias("rev100"),
    )
    wtop = Window.orderBy(F.col("decile").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall2 = Window.partitionBy(F.lit(1))
    return per_decile.select(
        "decile",
        "n_customers",
        F.round(F.col("rev100").cast("double") / 100.0, 2).alias(
            "revenue"
        ),
        F.round(
            F.col("rev100")
            / F.sum("rev100").over(wall2).cast("double"),
            6,
        ).alias("revenue_share"),
        F.round(
            F.sum("rev100").over(wtop)
            / F.sum("rev100").over(wall2).cast("double"),
            6,
        ).alias("cum_share_from_top"),
    )


def agg_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-volume and revenue seasonality by ISO weekday (1 = Monday
    … 7 = Sunday): counts, exact revenue, and each weekday's share of
    both — the calendar-profile row behind staffing/capacity plans and
    the sanity check that a date-parsing change didn't shift the week.

    Cross-engine note: weekday NUMBERING is a classic parity trap
    (Spark's dayofweek() is 1=Sunday; DuckDB's dayofweek() is
    0=Sunday). Both sides use the ISO convention explicitly — Spark
    ``weekday() + 1``, DuckDB ``isodow()`` — so the key is identical
    by construction. One ≤7-key aggregate, exact cents, two
    divisions."""
    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        (F.weekday("o_orderdate") + F.lit(1)).cast("int").alias("iso_weekday"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v100"),
    )
    agg = d.groupBy("iso_weekday").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("v100").cast("bigint").alias("rev100"),
    )
    # share denominators as SCALAR SUBQUERIES (round 14): the previous
    # partitionBy(lit(1)) window parked the grouped table on one task
    # via an Exchange SinglePartition; each subquery computes its total
    # with a partial-aggregated global agg, so no single-partition
    # shuffle remains and the total reaches the main pass as a plan
    # literal. Any reuse of the groupBy exchange happens at runtime
    # (MergeScalarSubqueries or the AQE stage cache); the committed
    # plan shows no ReusedExchange. Same exact bigint sums, same
    # division.
    tot_orders = agg.agg(F.sum("n_orders").alias("t"))
    tot_rev = agg.agg(F.sum("rev100").alias("t"))
    return agg.select(
        "iso_weekday",
        "n_orders",
        F.round(F.col("rev100").cast("double") / 100.0, 2).alias("revenue"),
        F.round(
            F.col("n_orders") / tot_orders.scalar().cast("double"),
            6,
        ).alias("order_share"),
        F.round(
            F.col("rev100") / tot_rev.scalar().cast("double"),
            6,
        ).alias("revenue_share"),
    )


DECAY_HALF_LIFE_DAYS = 90


def agg_decay_weighted_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recency-decayed revenue per order priority: each order's
    revenue weighted by 0.5^(age/half-life) at 90-day grain — the
    time-decay weighting recommendation/LTV pipelines apply so last
    quarter's dollar counts more than last decade's.

    Exactness discipline: the decay uses the INTEGER bucket
    age div 90, so the weight is a pure power of two — exactly
    representable and bit-identical in every engine (a fractional
    exponent would hang parity on pow()'s last ulp). The weight is
    scaled to 1e6 integer units and multiplied into exact cents, so
    every SUM is BIGINT; the single double division happens at output.
    One scan, one small groupBy — map-side combinable. The anchor
    (global max order date) is a 1-row aggregate broadcast back onto
    the stream — NOT a partitionBy(lit(1)) window, which would shuffle
    every order onto one task to compute a scalar (the round-13 plan
    audit caught exactly that here)."""
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("anchor"))
    staged = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("rev100"),
        F.col("o_orderdate").alias("d"),
    ).crossJoin(F.broadcast(anchor))
    staged = staged.withColumn(
        "hl",
        F.expr(
            f"datediff(anchor, d) div {DECAY_HALF_LIFE_DAYS}"
        ),
    ).withColumn(
        # 1e6 div 2^hl: exact integer halving per half-life bucket
        "w6",
        F.expr("1000000L div cast(pow(2.0D, cast(hl as double)) as bigint)"),
    )
    return (
        staged.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("rev100").cast("bigint").alias("rev100"),
            F.sum(F.expr("w6 * rev100")).cast("bigint").alias("dec8"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            F.round(F.col("rev100").cast("double") / 100.0, 2).alias(
                "revenue"
            ),
            # 1e-6 weight units × cents = 1e-8 dollars
            F.round(F.col("dec8").cast("double") / 1e8, 4).alias(
                "decayed_revenue"
            ),
            F.round(
                F.col("dec8").cast("double")
                / (F.col("rev100") * F.lit(1000000.0)),
                6,
            ).alias("retention_factor"),
        )
    )


def agg_order_lines_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size histogram: orders bucketed by their lineitem count,
    with order share and exact revenue per bucket — the order-shape
    profile capacity planning and fraud screens both read.

    Shape: one (l_orderkey) aggregate (the fact table's natural key —
    map-side combinable), then a ≤|max lines| histogram; shares from
    scalar-subquery totals over the tiny histogram. Revenue is the
    exact extended-price cents sum carried through both aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count("*").cast("int").alias("n_lines"),
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
        ).cast("bigint").alias("rev100"),
    )
    hist = per_order.groupBy("n_lines").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("rev100").cast("bigint").alias("rev100"),
    )
    # share denominators as scalar subqueries (round 14, the
    # agg_weekday_seasonality idiom): no SinglePartition exchange; the
    # totals' aggs reuse the histogram's exchange only at runtime
    # (MergeScalarSubqueries or the AQE stage cache; the static plan
    # shows no ReusedExchange)
    tot_orders = hist.agg(F.sum("n_orders").alias("t"))
    tot_rev = hist.agg(F.sum("rev100").alias("t"))
    return hist.select(
        "n_lines",
        "n_orders",
        F.round(
            F.col("n_orders").cast("double") / tot_orders.scalar(),
            6,
        ).alias("order_share"),
        F.round(F.col("rev100").cast("double") / 100.0, 2).alias(
            "revenue"
        ),
        F.round(
            F.col("rev100").cast("double") / tot_rev.scalar(),
            6,
        ).alias("revenue_share"),
    )


def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct-user counts per event type via mergeable 64-bit
    bucket bitmaps — the roaring-bitmap recipe in pure relational
    form: user u sets bit (u mod 63) of bucket (u div 63) — 63, not 64, keeps every shift off the sign bit, which DuckDB rejects and Java wraps, buckets
    OR across partitions/days (bit_or is associative-commutative and
    map-side combinable), popcounts sum. Unlike COUNT(DISTINCT) this
    state is REUSABLE: persisted per-day bitmap buckets union into
    any date range without rescanning history — exactness where the
    HLL sketch (agg_hll_sketch_union) trades it away, at bitmap cost
    bounded by the id-space/63, not the row count.

    Shape: one (type, bucket) hash agg — shuffle carries ≤
    |types|·(max_id/63) bitmap rows regardless of event count — then
    a ≤|types| popcount-sum. Everything integer; oracle =
    COUNT(DISTINCT), which must agree exactly."""
    ev = load_table(spark, sf_dir, "events")
    buckets = (
        ev.select(
            "event_type",
            (F.col("user_id") / 63).cast("long").alias("bucket"),
            F.expr(
                "shiftleft(cast(1 as bigint),"
                " cast(user_id % 63 as int))"
            ).alias("bit"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.expr("bit_or(bit)").alias("bm"))
    )
    return (
        buckets.groupBy("event_type")
        .agg(
            F.sum(F.bit_count("bm")).cast("bigint").alias("n_distinct_users"),
            F.count("*").cast("bigint").alias("n_buckets"),
        )
    )


_BITMAP_DISTINCT_ORACLE = """
    WITH buckets AS (
        SELECT event_type,
               CAST(user_id // 63 AS BIGINT) AS bucket,
               BIT_OR(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INTEGER))
                   AS bm
        FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(SUM(bit_count(bm)) AS BIGINT) AS n_distinct_users,
           CAST(COUNT(*) AS BIGINT) AS n_buckets
    FROM buckets GROUP BY event_type
"""


def agg_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority revenue trend: ordinary-least-squares slope /
    intercept / r² of daily order revenue over time — the "is this
    segment growing?" line every ops review draws, as closed-form
    sufficient statistics instead of an ML fit.

    Shape: the corpus collapses to (priority, day) grain FIRST (the
    bounded-series discipline from time_seasonal_decompose — the OLS
    runs over a ~2.5k-row daily series per priority, not the order
    stream), then ONE hash agg accumulates the five sufficient sums
    n, Σx, Σy, Σxy, Σx², Σy² with x = epoch-day and y = exact cents.
    Exactness: Σxy and Σy² widen one factor to DECIMAL(38,0) BEFORE
    the multiply (the round-11 overflow rule — daily cents reach 1e13
    at the 100 TB point and xy ~ 1e17 per term), so every accumulator
    is exact in any merge order; slope/intercept/r² are a handful of
    IEEE double ops on those exact integers at the very end, identical
    expression shape on both engines, rounded at 6."""
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.select(
            "o_orderpriority",
            F.datediff(
                F.col("o_orderdate"), F.to_date(F.lit("1970-01-01"))
            ).alias("x"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("v100"),
        )
        .groupBy("o_orderpriority", "x")
        .agg(F.sum(F.col("v100").cast("decimal(38,0)")).alias("y"))
    )
    agg = daily.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("x")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    # all-double epilogue over exact integer sums: identical op order
    # on both engines → identical doubles
    return agg.select(
        "o_orderpriority",
        "n_days",
        F.round(
            F.expr(
                "(cast(n_days as double) * cast(sxy as double)"
                " - cast(sx as double) * cast(sy as double))"
                " / (cast(n_days as double) * cast(sxx as double)"
                "    - cast(sx as double) * cast(sx as double)) / 100.0D"
            ),
            6,
        ).alias("slope_per_day"),
        F.round(
            F.expr(
                "(cast(sy as double) - "
                " (cast(n_days as double) * cast(sxy as double)"
                "  - cast(sx as double) * cast(sy as double))"
                " / (cast(n_days as double) * cast(sxx as double)"
                "    - cast(sx as double) * cast(sx as double))"
                " * cast(sx as double)) / cast(n_days as double) / 100.0D"
            ),
            2,
        ).alias("intercept"),
        F.round(
            F.expr(
                "pow(cast(n_days as double) * cast(sxy as double)"
                "    - cast(sx as double) * cast(sy as double), 2.0D)"
                " / ((cast(n_days as double) * cast(sxx as double)"
                "     - cast(sx as double) * cast(sx as double))"
                "    * (cast(n_days as double) * cast(syy as double)"
                "       - cast(sy as double) * cast(sy as double)))"
            ),
            6,
        ).alias("r2"),
    )


_OLS_TREND_ORACLE = """
    WITH daily AS (
        SELECT o_orderpriority,
               date_diff('day', DATE '1970-01-01', o_orderdate) AS x,
               SUM(CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                        AS HUGEINT)) AS y
        FROM orders GROUP BY 1, 2
    ),
    agg AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               SUM(CAST(x AS HUGEINT)) AS sx,
               SUM(y) AS sy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(y * x) AS sxy,
               SUM(y * y) AS syy
        FROM daily GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n_days,
           ROUND((CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 100.0,
                 6) AS slope_per_day,
           ROUND((CAST(sy AS DOUBLE)
                  - (CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * CAST(sx AS DOUBLE)) / CAST(n_days AS DOUBLE)
                 / 100.0,
                 2) AS intercept,
           ROUND(POW(CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE), 2.0)
                 / ((CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS r2
    FROM agg
"""


def agg_pearson_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix between lineitem's three business
    numerics (quantity, extended price, discount) in long form — the
    feature-redundancy screen a training-data review runs before
    fitting anything on tabular columns.

    Shape: ONE full-scan hash agg accumulates all nine sufficient
    sums in a single pass (no per-pair rescans — the three pairs
    share one 1-row aggregate), then three 1-row selects union into
    the long (col_x, col_y, n, r) table driver-side-free. Exactness:
    quantity is a small int, price is exact cents, discount is exact
    hundredths; every cross/square sum widens one factor to
    DECIMAL(38,0) BEFORE the multiply (price² ~ 1e18 per term — an
    int64 SUM would wrap within one partition at sf1), so the
    statistics are exact in any merge order; r is the standard
    closed form in doubles at the end, rounded at 6."""
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("p"),
        F.round(F.col("l_discount") * 100).cast("long").alias("c"),
    )
    dec = lambda col: F.col(col).cast("decimal(38,0)")  # noqa: E731
    agg = d.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(dec("q")).alias("sq"),
        F.sum(dec("p")).alias("sp"),
        F.sum(dec("c")).alias("sc"),
        F.sum(dec("q") * F.col("q")).alias("sqq"),
        F.sum(dec("p") * F.col("p")).alias("spp"),
        F.sum(dec("c") * F.col("c")).alias("scc"),
        F.sum(dec("q") * F.col("p")).alias("sqp"),
        F.sum(dec("q") * F.col("c")).alias("sqc"),
        F.sum(dec("p") * F.col("c")).alias("spc"),
    )

    def _r(sa, sb, sab, saa, sbb):
        return (
            f"round((cast(n as double) * cast({sab} as double)"
            f" - cast({sa} as double) * cast({sb} as double))"
            f" / sqrt(cast(n as double) * cast({saa} as double)"
            f"        - cast({sa} as double) * cast({sa} as double))"
            f" / sqrt(cast(n as double) * cast({sbb} as double)"
            f"        - cast({sb} as double) * cast({sb} as double)), 6)"
        )

    pairs = [
        ("quantity", "extendedprice", "sq", "sp", "sqp", "sqq", "spp"),
        ("quantity", "discount", "sq", "sc", "sqc", "sqq", "scc"),
        ("extendedprice", "discount", "sp", "sc", "spc", "spp", "scc"),
    ]
    # one exploded array of structs, NOT a union of per-pair selects:
    # a union duplicates the aggregate subtree and column pruning then
    # splits it into three full corpus scans — explode keeps the single
    # 1-row aggregate (and the single scan) in the executed plan
    structs = ", ".join(
        f"named_struct('col_x', '{cx}', 'col_y', '{cy}',"
        f" 'n', n, 'r', {_r(sa, sb, sab, saa, sbb)})"
        for cx, cy, sa, sb, sab, saa, sbb in pairs
    )
    return agg.select(
        F.explode(F.expr(f"array({structs})")).alias("x")
    ).select("x.col_x", "x.col_y", "x.n", "x.r")


def _pearson_oracle() -> str:
    def r(sa, sb, sab, saa, sbb):
        return (
            f"ROUND((CAST(n AS DOUBLE) * CAST({sab} AS DOUBLE)"
            f" - CAST({sa} AS DOUBLE) * CAST({sb} AS DOUBLE))"
            f" / SQRT(CAST(n AS DOUBLE) * CAST({saa} AS DOUBLE)"
            f"        - CAST({sa} AS DOUBLE) * CAST({sa} AS DOUBLE))"
            f" / SQRT(CAST(n AS DOUBLE) * CAST({sbb} AS DOUBLE)"
            f"        - CAST({sb} AS DOUBLE) * CAST({sb} AS DOUBLE)), 6)"
        )

    return f"""
        WITH d AS (
            SELECT CAST(l_quantity AS BIGINT) AS q,
                   CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS p,
                   CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS c
            FROM lineitem
        ),
        agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(q AS HUGEINT)) AS sq,
                   SUM(CAST(p AS HUGEINT)) AS sp,
                   SUM(CAST(c AS HUGEINT)) AS sc,
                   SUM(CAST(q AS HUGEINT) * q) AS sqq,
                   SUM(CAST(p AS HUGEINT) * p) AS spp,
                   SUM(CAST(c AS HUGEINT) * c) AS scc,
                   SUM(CAST(q AS HUGEINT) * p) AS sqp,
                   SUM(CAST(q AS HUGEINT) * c) AS sqc,
                   SUM(CAST(p AS HUGEINT) * c) AS spc
            FROM d
        )
        SELECT 'quantity' AS col_x, 'extendedprice' AS col_y, n,
               {r('sq', 'sp', 'sqp', 'sqq', 'spp')} AS r FROM agg
        UNION ALL
        SELECT 'quantity', 'discount', n,
               {r('sq', 'sc', 'sqc', 'sqq', 'scc')} FROM agg
        UNION ALL
        SELECT 'extendedprice', 'discount', n,
               {r('sp', 'sc', 'spc', 'spp', 'scc')} FROM agg
    """


def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis of order quantity per return flag
    — the two shape moments a distribution-health check reads next to
    agg_stats' mean/stddev, from raw power sums instead of a
    multi-pass centered computation.

    Shape: ONE hash agg accumulates Σq, Σq², Σq³, Σq⁴ map-side
    (quantity ≤ 50 so q⁴ ≤ 6.25e6; the sums widen to DECIMAL(38,0)
    so even 1e12 rows per flag at the 100 TB point cannot wrap), then
    the central-moment epilogue m₂/m₃/m₄ and the skew/kurtosis ratios
    run in doubles over those exact integers — same expression text
    both engines, rounded at 6. No window, no second pass."""
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("q")
    )
    dq = F.col("q").cast("decimal(38,0)")
    agg = d.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(dq).alias("s1"),
        F.sum(dq * F.col("q")).alias("s2"),
        F.sum(dq * F.col("q") * F.col("q")).alias("s3"),
        F.sum(dq * F.col("q") * F.col("q") * F.col("q")).alias("s4"),
    )
    epi = (
        "cast(s1 as double) / cast(n as double)"
    )
    m2 = (
        f"(cast(s2 as double) / cast(n as double) - pow({epi}, 2.0D))"
    )
    m3 = (
        f"(cast(s3 as double) / cast(n as double)"
        f" - 3.0D * ({epi}) * cast(s2 as double) / cast(n as double)"
        f" + 2.0D * pow({epi}, 3.0D))"
    )
    m4 = (
        f"(cast(s4 as double) / cast(n as double)"
        f" - 4.0D * ({epi}) * cast(s3 as double) / cast(n as double)"
        f" + 6.0D * pow({epi}, 2.0D) * cast(s2 as double)"
        f"   / cast(n as double)"
        f" - 3.0D * pow({epi}, 4.0D))"
    )
    return agg.select(
        "l_returnflag",
        "n",
        F.round(F.expr(epi), 6).alias("mean_qty"),
        F.round(F.expr(f"{m3} / pow({m2}, 1.5D)"), 6).alias("skewness"),
        F.round(F.expr(f"{m4} / pow({m2}, 2.0D) - 3.0D"), 6).alias(
            "excess_kurtosis"
        ),
    ).orderBy("l_returnflag")


def _skew_kurtosis_oracle() -> str:
    epi = "CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)"
    m2 = f"(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - POW({epi}, 2.0))"
    m3 = (
        f"(CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"
        f" - 3.0 * ({epi}) * CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
        f" + 2.0 * POW({epi}, 3.0))"
    )
    m4 = (
        f"(CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)"
        f" - 4.0 * ({epi}) * CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"
        f" + 6.0 * POW({epi}, 2.0) * CAST(s2 AS DOUBLE)"
        f"   / CAST(n AS DOUBLE)"
        f" - 3.0 * POW({epi}, 4.0))"
    )
    return f"""
        WITH d AS (
            SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q
            FROM lineitem
        ),
        agg AS (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(q AS HUGEINT)) AS s1,
                   SUM(CAST(q AS HUGEINT) * q) AS s2,
                   SUM(CAST(q AS HUGEINT) * q * q) AS s3,
                   SUM(CAST(q AS HUGEINT) * q * q * q) AS s4
            FROM d GROUP BY l_returnflag
        )
        SELECT l_returnflag, n,
               ROUND({epi}, 6) AS mean_qty,
               ROUND({m3} / POW({m2}, 1.5), 6) AS skewness,
               ROUND({m4} / POW({m2}, 2.0) - 3.0, 6) AS excess_kurtosis
        FROM agg
        ORDER BY l_returnflag
    """


QUERIES = {
    "agg_bitmap_distinct": agg_bitmap_distinct,
    "agg_ols_trend": agg_ols_trend,
    "agg_pearson_corr": agg_pearson_corr,
    "agg_skew_kurtosis": agg_skew_kurtosis,
    "agg_decay_weighted_revenue": agg_decay_weighted_revenue,
    "agg_order_lines_hist": agg_order_lines_hist,
    "agg_stats": agg_stats,
    "agg_weekday_seasonality": agg_weekday_seasonality,
    "agg_pareto_share": agg_pareto_share,
    "agg_revenue_mom_change": agg_revenue_mom_change,
    "agg_mode_per_group": agg_mode_per_group,
    "agg_gini_concentration": agg_gini_concentration,
    "agg_theil_index": agg_theil_index,
    "agg_hhi_concentration": agg_hhi_concentration,
    "agg_hash_groupby": agg_hash_groupby,
    "agg_distinct": agg_distinct,
    "agg_rollup": agg_rollup,
    "agg_approx_distinct": agg_approx_distinct,
    "agg_percentile_approx": agg_percentile_approx,
    "agg_hll_sketch_union": agg_hll_sketch_union,
    "agg_cms_heavy_hitters": agg_cms_heavy_hitters,
    "agg_percentile_exact": agg_percentile_exact,
    "agg_linear_count_distinct": agg_linear_count_distinct,
}


def _duck_cms_pos(key_sql: str) -> str:
    """DuckDB CMS bucket with j bound from the joined range(0,D)."""
    return (
        f"('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || ':' "
        f"|| {key_sql}), 1, 8))::BIGINT % {CMS_W}"
    )


ORACLES = {
    "agg_bitmap_distinct": _BITMAP_DISTINCT_ORACLE,
    "agg_ols_trend": _OLS_TREND_ORACLE,
    "agg_pearson_corr": _pearson_oracle(),
    "agg_skew_kurtosis": _skew_kurtosis_oracle(),
    "agg_order_lines_hist": """
        WITH per_order AS (
            SELECT l_orderkey,
                   CAST(COUNT(*) AS INTEGER) AS n_lines,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0)
                        AS BIGINT)) AS BIGINT) AS rev100
            FROM lineitem GROUP BY l_orderkey
        )
        SELECT n_lines,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(CAST(COUNT(*) AS DOUBLE)
                     / SUM(COUNT(*)) OVER (), 6) AS order_share,
               ROUND(CAST(SUM(rev100) AS DOUBLE) / 100.0, 2) AS revenue,
               ROUND(CAST(SUM(rev100) AS DOUBLE)
                     / SUM(SUM(rev100)) OVER (), 6) AS revenue_share
        FROM per_order
        GROUP BY n_lines
    """,
    "agg_decay_weighted_revenue": f"""
        WITH staged AS (
            SELECT o_orderpriority,
                   CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS rev100,
                   1000000 // CAST(pow(2.0,
                       CAST(date_diff('day', o_orderdate,
                            MAX(o_orderdate) OVER ())
                            // {DECAY_HALF_LIFE_DAYS} AS DOUBLE))
                       AS BIGINT) AS w6
            FROM orders
        ),
        agg AS (
            SELECT o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(rev100) AS BIGINT) AS rev100,
                   CAST(SUM(w6 * rev100) AS BIGINT) AS dec8
            FROM staged GROUP BY o_orderpriority
        )
        SELECT o_orderpriority, n_orders,
               ROUND(CAST(rev100 AS DOUBLE) / 100.0, 2) AS revenue,
               ROUND(CAST(dec8 AS DOUBLE) / 1e8, 4) AS decayed_revenue,
               ROUND(CAST(dec8 AS DOUBLE) / (rev100 * 1000000.0), 6)
                   AS retention_factor
        FROM agg
    """,
    "agg_weekday_seasonality": """
        WITH d AS (
            SELECT CAST(isodow(o_orderdate) AS INTEGER) AS iso_weekday,
                   CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v100
            FROM orders
        ),
        agg AS (
            SELECT iso_weekday,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(v100) AS BIGINT) AS rev100
            FROM d GROUP BY iso_weekday
        )
        SELECT iso_weekday, n_orders,
               ROUND(CAST(rev100 AS DOUBLE) / 100.0, 2) AS revenue,
               ROUND(n_orders / CAST(SUM(n_orders) OVER () AS DOUBLE), 6)
                   AS order_share,
               ROUND(rev100 / CAST(SUM(rev100) OVER () AS DOUBLE), 6)
                   AS revenue_share
        FROM agg
    """,
    "agg_pareto_share": """
        WITH cust AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                        AS BIGINT) AS rev100
            FROM orders GROUP BY o_custkey
        ),
        cum AS (
            SELECT v, SUM(c) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum,
                   SUM(c) OVER () AS n
            FROM (SELECT rev100 // 100 AS v, COUNT(*) AS c FROM cust
                  GROUP BY rev100 // 100)
        ),
        thr AS (
            SELECT """ + ", ".join(
                f"MIN(CASE WHEN cum >= CAST(CEIL({q} * n / 10.0)"
                f" AS BIGINT) THEN v END) AS t{q}"
                for q in range(1, 10)
            ) + """
            FROM cum
        ),
        scored AS (
            SELECT CAST(1 + """ + " + ".join(
                f"(CASE WHEN rev100 // 100 > t{q} THEN 1 ELSE 0 END)"
                for q in range(1, 10)
            ) + """ AS INTEGER) AS decile, rev100
            FROM cust CROSS JOIN thr
        ),
        per_decile AS (
            SELECT decile,
                   CAST(COUNT(*) AS BIGINT) AS n_customers,
                   CAST(SUM(rev100) AS BIGINT) AS rev100
            FROM scored GROUP BY decile
        )
        SELECT decile, n_customers,
               ROUND(CAST(rev100 AS DOUBLE) / 100.0, 2) AS revenue,
               ROUND(rev100 / CAST(SUM(rev100) OVER () AS DOUBLE), 6)
                   AS revenue_share,
               ROUND(SUM(rev100) OVER (ORDER BY decile DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)
                     / CAST(SUM(rev100) OVER () AS DOUBLE), 6)
                   AS cum_share_from_top
        FROM per_decile
    """,
    "agg_revenue_mom_change": """
        WITH monthly AS (
            SELECT date_trunc('month', o_orderdate) AS month,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                        AS BIGINT) AS rev100
            FROM orders GROUP BY 1
        )
        SELECT CAST(month AS TIMESTAMP) AS month, n_orders,
               ROUND(CAST(rev100 AS DOUBLE) / 100.0, 2) AS revenue,
               ROUND(CAST(LAG(rev100) OVER (ORDER BY month) AS DOUBLE)
                     / 100.0, 2) AS prev_revenue,
               ROUND(CAST(rev100 - LAG(rev100) OVER (ORDER BY month)
                          AS DOUBLE) / 100.0, 2) AS mom_delta,
               ROUND(CAST(rev100 - LAG(rev100) OVER (ORDER BY month)
                          AS DOUBLE)
                     / LAG(rev100) OVER (ORDER BY month), 6) AS mom_pct
        FROM monthly
    """,
    "agg_hhi_concentration": """
        WITH d AS (
            SELECT o_orderpriority,
                   CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v100
            FROM orders
        ),
        agg AS (
            SELECT o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(v100 AS HUGEINT)) AS sv,
                   SUM(CAST(v100 AS HUGEINT) * v100) AS sv2
            FROM d GROUP BY o_orderpriority
        )
        SELECT o_orderpriority, n,
               ROUND(CAST(sv AS DOUBLE) / 100.0, 2) AS total_value,
               ROUND(CAST(sv2 AS DOUBLE)
                     / (CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)), 8)
                   AS hhi
        FROM agg
    """,
    "agg_theil_index": """
        WITH d AS (
            SELECT o_orderpriority,
                   CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v100
            FROM orders
        ),
        agg AS (
            SELECT o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(v100 AS HUGEINT)) AS sv,
                   SUM(CAST(v100 AS HUGEINT)
                       * CAST(FLOOR(LN(CAST(v100 AS DOUBLE)) * 1000000.0)
                              AS BIGINT)) AS sxlnx
            FROM d WHERE v100 > 0
            GROUP BY o_orderpriority
        )
        SELECT o_orderpriority, n,
               ROUND(CAST(sv AS DOUBLE) / 100.0, 2) AS total_value,
               ROUND(CAST(sxlnx AS DOUBLE) / 1e6 / CAST(sv AS DOUBLE)
                     - FLOOR(LN(CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
                             * 1000000.0) / 1000000.0,
                     6) AS theil_t
        FROM agg
    """,
    "agg_gini_concentration": """
        WITH ranked AS (
            SELECT o_orderpriority,
                   CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v100,
                   ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                       ORDER BY o_totalprice ASC, o_orderkey ASC) AS i
            FROM orders
        ),
        agg AS (
            SELECT o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(CAST(v100 AS HUGEINT)) AS sv,
                   SUM(CAST(i AS HUGEINT) * v100) AS siv
            FROM ranked GROUP BY o_orderpriority
        )
        SELECT o_orderpriority, n,
               ROUND(CAST(sv AS DOUBLE) / 100.0, 2) AS total_value,
               ROUND(2.0 * CAST(siv AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(sv AS DOUBLE))
                     - CAST(n + 1 AS DOUBLE) / n, 6) AS gini
        FROM agg
    """,
    "agg_mode_per_group": """
        WITH hist AS (
            SELECT l_returnflag, l_linestatus,
                   CAST(ROUND(l_quantity * 100, 0) AS BIGINT) AS q100,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus, q100
        )
        SELECT l_returnflag, l_linestatus,
               ROUND(CAST(q100 AS DOUBLE) / 100.0, 2) AS mode_qty,
               n AS n_occurrences
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY l_returnflag, l_linestatus
                       ORDER BY n DESC, q100 ASC) AS rn
            FROM hist
        ) WHERE rn = 1
    """,
    "agg_linear_count_distinct": f"""
        WITH b AS (
            SELECT l_returnflag,
                   ('0x' || substr(md5('lc:' || CAST(l_partkey AS VARCHAR)),
                                   1, 8))::BIGINT % {LC_M} AS bucket,
                   l_partkey
            FROM lineitem
        ),
        g AS (
            SELECT l_returnflag,
                   COUNT(DISTINCT bucket) AS occupied,
                   COUNT(DISTINCT l_partkey) AS exact_distinct
            FROM b GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               exact_distinct,
               n_buckets_set,
               lc_estimate,
               ROUND(lc_estimate - exact_distinct, 4) AS err
        FROM (
            SELECT l_returnflag, exact_distinct,
                   occupied AS n_buckets_set,
                   ROUND(-{LC_M}.0::DOUBLE
                         * (FLOOR(LN((CAST({LC_M} AS DOUBLE) - occupied)
                                     / {LC_M}.0::DOUBLE)
                                  * 1000000.0::DOUBLE) / 1000000.0::DOUBLE),
                         4) AS lc_estimate
            FROM g
        )
    """,
    "agg_percentile_exact": """
        WITH d AS (
            SELECT l_returnflag, l_extendedprice,
                   ROW_NUMBER() OVER (
                       PARTITION BY l_returnflag
                       ORDER BY l_extendedprice ASC) AS rn,
                   COUNT(*) OVER (PARTITION BY l_returnflag) AS n
            FROM lineitem
        )
        SELECT l_returnflag,
               MAX(n) AS n_items,
               ROUND(MAX(CASE WHEN rn = CAST(CEIL(n * 0.5::DOUBLE) AS BIGINT)
                              THEN l_extendedprice END), 4) AS p50,
               ROUND(MAX(CASE WHEN rn = CAST(CEIL(n * 0.9::DOUBLE) AS BIGINT)
                              THEN l_extendedprice END), 4) AS p90,
               ROUND(MAX(CASE WHEN rn = CAST(CEIL(n * 0.99::DOUBLE) AS BIGINT)
                              THEN l_extendedprice END), 4) AS p99
        FROM d GROUP BY l_returnflag
    """,
    "agg_cms_heavy_hitters": f"""
        WITH t AS (
            SELECT string_split(text, ' ') AS toks FROM documents
        ),
        grams AS (
            -- degenerate docs yield zero grams (see the Spark twin)
            SELECT unnest(CASE WHEN toks IS NULL OR len(toks) = 0
                                    OR toks = [''] THEN []
                               ELSE [array_to_string(toks[i:i + 2], ' ')
                                     for i in generate_series(1, greatest(len(toks) - 2, 1))]
                          END) AS g
            FROM t
        ),
        counts AS (
            SELECT g, COUNT(*) AS exact_cnt FROM grams GROUP BY g
        ),
        cells AS (
            SELECT j, {_duck_cms_pos('g')} AS pos,
                   CAST(SUM(exact_cnt) AS BIGINT) AS cell
            FROM counts, range(0, {CMS_D}) r(j)
            GROUP BY 1, 2
        ),
        top AS (
            SELECT g, exact_cnt FROM counts
            ORDER BY exact_cnt DESC, g ASC LIMIT {CMS_TOPK}
        ),
        probes AS (
            SELECT g, exact_cnt, j, {_duck_cms_pos('g')} AS pos
            FROM top, range(0, {CMS_D}) r(j)
        )
        SELECT g AS gram, exact_cnt,
               MIN(cell) AS cms_est,
               MIN(cell) - exact_cnt AS overest
        FROM probes JOIN cells USING (j, pos)
        GROUP BY g, exact_cnt
    """,
    "agg_stats": """
        SELECT l_returnflag,
               ROUND(STDDEV_SAMP(l_extendedprice), 4) AS sd_price,
               ROUND(VAR_SAMP(l_quantity), 4) AS var_qty,
               ROUND(CORR(l_extendedprice, l_quantity), 4) AS corr_pq,
               ROUND(COVAR_SAMP(l_extendedprice, l_discount), 4) AS cov_pd,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "agg_hash_groupby": f"""
        SELECT l_returnflag,
               l_linestatus,
               ROUND(SUM(l_quantity), 4)      AS sum_qty,
               ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
               ROUND(AVG(l_quantity), 4)      AS avg_qty,
               ROUND(AVG(l_extendedprice), 4) AS avg_price,
               ROUND(AVG(l_discount), 4)      AS avg_disc,
               COUNT(*)                       AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF} 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "agg_distinct": """
        SELECT o_orderstatus,
               COUNT(DISTINCT o_custkey) AS n_cust,
               COUNT(*)                  AS n_orders
        FROM orders
        GROUP BY o_orderstatus
    """,
    "agg_rollup": """
        SELECT l_returnflag,
               l_linestatus,
               ROUND(SUM(l_quantity), 4) AS sum_qty,
               COUNT(*)                  AS n_items
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        -- vacuous on non-empty data (every group aggregates >= 1
        -- row); pins Spark's Expand-based ROLLUP, which emits NO
        -- grand-total row on empty input where the SQL standard
        -- (and DuckDB) emit one
        HAVING COUNT(*) > 0
    """,
}
