"""Event-stream product analytics: ordered funnels and retention
cohorts over the ``events`` table.

The reference replicates event streams but cannot analyze them
(SURVEY.md §2.4); these are the two query shapes every event pipeline
grows next, and both are deliberately single-shuffle designs:

- ``funnel_stages``: ordered view → click → purchase conversion. Each
  stage timestamp is a conditional MIN window over the SAME user_id
  partition, so the three chained Window nodes and the final per-user
  collapse all share ONE hash-partitioning on user_id — Catalyst
  inserts a single Exchange (plan-pinned in tests/test_plans.py). The
  ordering constraint (a click only counts AFTER the first view) is
  what makes this a funnel rather than three independent mins.
- ``retention_cohorts``: users bucketed by first-activity date, counted
  by (cohort, week-offset) activity. One user_id shuffle to anchor the
  cohort + one small shuffle over (cohort, offset) pairs whose
  cardinality is days × weeks, independent of user count.

At 100 TB user_id is high-cardinality and roughly uniform (device/user
ids), so the single user-keyed exchange scales linearly; there is no
per-user driver loop and no skewed 5-value partition key anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table, trunc_ntz


def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered-funnel summary: first view, first click after
    that view, first purchase after that click, and the furthest stage
    reached. Events before the prior stage's timestamp do NOT count —
    the funnel is ordered, not a bag of mins."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    t_view = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    staged = e.withColumn("t_view", t_view)
    t_click = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t_click", t_click)
    t_purchase = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t_purchase", t_purchase)
    return (
        staged.groupBy("user_id")
        .agg(
            F.max("t_view").alias("t_view"),
            F.max("t_click").alias("t_click"),
            F.max("t_purchase").alias("t_purchase"),
        )
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            F.when(F.col("t_purchase").isNotNull(), "purchase")
            .when(F.col("t_click").isNotNull(), "click")
            .when(F.col("t_view").isNotNull(), "view")
            .otherwise("none")
            .alias("stage"),
        )
    )


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: users cohorted by first-activity
    date, active-user counts per (cohort_date, week offset). Offsets
    are whole weeks since the user's own first event (datediff/7 — no
    ISO-week boundary artifacts)."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id")
    anchored = e.withColumn("first_ts", F.min("ts").over(w))
    # cohort_date is a midnight TIMESTAMP, not a DATE: Spark DATE arrives
    # driver-side as python date objects while DuckDB DATE arrives as
    # datetime64 — same values, different dtype kind, which the driver's
    # schema/hash compare rightly flags. Midnight timestamps agree.
    return (
        anchored.select(
            trunc_ntz("day", "first_ts").alias("cohort_date"),
            (
                F.datediff(F.to_date("ts"), F.to_date("first_ts"))
                / F.lit(7)
            ).cast("int").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_date", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active_users"))
    )


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The report a funnel analysis actually ships: per-stage user
    counts with conversion from the funnel top and from the previous
    stage. Pure composition over :func:`funnel_stages` — one extra tiny
    aggregate (≤4 rows) and a window over those rows; the heavy lifting
    stays the funnel's single user_id exchange. Stage order is encoded
    explicitly (none < view < click < purchase) because conversion is
    cumulative-from-the-top, not alphabetical."""
    staged = funnel_stages(spark, sf_dir).select(
        "user_id",
        F.when(F.col("stage") == "purchase", 3)
        .when(F.col("stage") == "click", 2)
        .when(F.col("stage") == "view", 1)
        .otherwise(0)
        .alias("depth"),
    )
    counts = staged.groupBy("depth").agg(F.count("*").alias("n_users"))
    # users at depth d reached every stage <= d: cumulative sum from the
    # deepest stage down gives per-stage reach
    w = (
        Window.orderBy(F.col("depth").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # the funnel-top denominator (ALL users, incl. depth 0) is derived
    # lazily inside the plan: a full-window sum over the <=4-row counts
    # table — the oracle's (SELECT COUNT(*) FROM per_user) — instead of
    # an eager driver-side .count() that would execute the whole funnel
    # once at build time and bake a stale literal into the plan.
    w_all = Window.partitionBy(F.lit(1))
    reach = counts.withColumn("n_reached", F.sum("n_users").over(w)).withColumn(
        "total_users", F.sum("n_users").over(w_all)
    )
    # the previous (shallower) stage's reach sits at depth-1 → ASC lag;
    # for the shallowest emitted stage the lag is the depth-0 row when
    # it exists, else its own reach (then everyone reached it and the
    # ratio is a true 1.0)
    prev = F.lag("n_reached").over(Window.orderBy(F.col("depth").asc()))
    return (
        reach.filter(F.col("depth") > 0)
        .select(
            F.col("depth").cast("int").alias("depth"),
            F.when(F.col("depth") == 1, "view")
            .when(F.col("depth") == 2, "click")
            .otherwise("purchase")
            .alias("stage"),
            "n_reached",
            F.round(
                F.col("n_reached").cast("double") / F.col("total_users"), 4
            ).alias("pct_of_users"),
            F.round(
                F.col("n_reached").cast("double")
                / F.coalesce(prev, F.col("n_reached")),
                4,
            ).alias("pct_of_prev"),
        )
    )


def event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining: the 20 most common 3-step event-type paths
    across all users' ordered histories. Trigrams come from two LEAD
    windows over each user's (ts, event_id)-ordered stream — the same
    single user_id exchange as the funnel — then a tiny (≤ |types|³ ≈
    125 keys) count aggregate and a TakeOrderedAndProject top-k. The
    n-gram-over-sequences shape behind next-event prediction features
    and UX path analysis."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    staged = e.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"),
    ).filter(F.col("step3").isNotNull())
    return (
        staged.groupBy(
            F.col("event_type").alias("step1"), "step2", "step3"
        )
        .agg(F.count("*").alias("n_paths"))
        .orderBy(
            F.col("n_paths").desc(), "step1", "step2", "step3"
        )
        .limit(20)
    )


def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell-time distribution per funnel transition: for every user
    who progressed view→click (and click→purchase), the seconds
    between the ordered stage timestamps — reported as count, exact
    nearest-rank P50/P90, and mean per transition. The question a
    funnel dashboard answers right after "how many convert": how LONG
    conversion takes, which sets abandonment timeouts and attribution
    windows.

    Exactness: dwell is an integer (epoch-microsecond difference,
    floor-divided to whole seconds — both engines' µs arithmetic is
    exact); the percentile is nearest-rank over the (transition,
    dwell_s) HISTOGRAM — rank = ceil(p·n) reached by cumulative count
    in dwell order — so both engines pick the identical element; the
    mean is one BIGINT-sum division.

    Shape: the funnel's single user_id exchange → a (transition,
    dwell_s) histogram agg (map-side combined; cardinality ≤ distinct
    dwell seconds, tiny next to users) → windows over the HISTOGRAM,
    never over per-user rows — the same scale discipline as
    eval_pr_curve/eval_roc_auc."""
    staged = funnel_stages(spark, sf_dir)
    dwell = staged.select(
        F.lit("view_to_click").alias("transition"),
        F.expr(
            "(unix_micros(t_click) - unix_micros(t_view))"
            " div 1000000"
        ).alias("dwell_s"),
    ).unionByName(
        staged.select(
            F.lit("click_to_purchase").alias("transition"),
            F.expr(
                "(unix_micros(t_purchase) - unix_micros(t_click))"
                " div 1000000"
            ).alias("dwell_s"),
        )
    ).filter(F.col("dwell_s").isNotNull())
    hist = dwell.groupBy("transition", "dwell_s").agg(
        F.count("*").alias("n")
    )
    # ROWS frame pinned explicitly (the oracle writes ROWS BETWEEN):
    # dwell_s is unique per transition here, but the default RANGE
    # frame would silently diverge if this idiom is copied elsewhere
    wt = (
        Window.partitionBy("transition")
        .orderBy("dwell_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("transition")
    cum = hist.select(
        "transition",
        "dwell_s",
        "n",
        F.sum("n").over(wt).alias("cum_n"),
        F.sum("n").over(wall).alias("tot_n"),
        F.sum(F.col("dwell_s") * F.col("n")).over(wall).alias("sum_s"),
    )
    pick = lambda p: F.min(  # noqa: E731 — nearest-rank selector
        F.when(
            F.col("cum_n") >= F.expr(f"cast(ceil({p} * tot_n) as bigint)"),
            F.col("dwell_s"),
        )
    )
    return cum.groupBy("transition").agg(
        F.max("tot_n").cast("bigint").alias("n_users"),
        pick(0.5).cast("bigint").alias("p50_s"),
        pick(0.9).cast("bigint").alias("p90_s"),
        F.round(
            F.max("sum_s").cast("double") / F.max("tot_n"), 4
        ).alias("mean_s"),
    )


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix between event types: for
    every ordered (from, to) adjacency in a user's stream, the count
    and row-normalized probability — the model behind next-event
    prediction baselines and the sanity check that a tracking change
    didn't break flow ordering (a vanishing view→click mass is an
    instrumentation bug before it is a product insight).

    Shape: ONE lead window over the same user_id exchange the funnel
    family shares, then a ≤\\|types\\|² count aggregate; the
    row-normalizing totals come from a window over that ≤25-row
    HISTOGRAM, never per-event rows. Probability = exact counts, one
    float division, round 6."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    adj = (
        e.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type", 1).over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
    )
    hist = adj.groupBy("from_type", "to_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    wrow = Window.partitionBy("from_type")
    return hist.select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wrow), 6
        ).alias("p"),
    )


TOP_PATHS_K = 3
TOP_PATHS_LIMIT = 20


def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top entry paths: each user's FIRST 3 event types in time order,
    joined 'a>b>c', counted across users and ranked — the Sankey/flow
    primitive a product-analytics dashboard opens with (which journeys
    dominate, where the first fork is).

    Exactness: the per-user order key (ts, event_id) is unique, the
    path is a deterministic string, counts are integers, and the
    top-20 carries a (count DESC, path ASC) tiebreak. Shape: ONE
    user_id aggregate building the sorted prefix map-side
    (sort_array(collect_list(struct)) — work ∝ user's events, bounded
    per user), one path-keyed count agg (map-side combined), and a
    global top-k that compiles to TakeOrderedAndProject."""
    ev = load_table(spark, sf_dir, "events")
    paths = (
        ev.select("user_id", F.struct("ts", "event_id", "event_type").alias("e"))
        .groupBy("user_id")
        .agg(
            F.expr(
                f"array_join(transform(slice(sort_array(collect_list(e)),"
                f" 1, {TOP_PATHS_K}), x -> x.event_type), '>')"
            ).alias("path"),
            F.count("*").cast("bigint").alias("n_events"),
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .orderBy(F.col("n_users").desc(), F.col("path").asc())
        .limit(TOP_PATHS_LIMIT)
    )


def events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every user scored 1–5 on Recency (last event
    time), Frequency (event count) and Monetary (total value), then
    the segment grid reported with user counts and monetary share —
    the classic marketing/engagement quintile cut.

    Scale + determinism design: quintile scores are NOT a global
    ntile (a single-partition sort over every user); each dimension's
    four thresholds come from a NEAREST-RANK pick over that
    dimension's value HISTOGRAM (cumulative counts in value order —
    the funnel_time_to_convert discipline), land as a broadcast 1-row
    artifact, and score assignment is a map-side comparison. Ties
    share a score by construction (same value ⇒ same side of every
    threshold), so the output is engine-exact with no tiebreak
    convention at all.

    The recency and monetary histograms key on QUANTIZED grains —
    epoch-HOUR recency and whole-DOLLAR totals (ADVICE r11): raw
    epoch-micros / exact cents are ~unique per user, so their
    histograms degenerate to one row per user and the cumulative
    window becomes a single-task global sort at scale; hour/dollar
    grains bound the key space by the VALUE DOMAIN (hours in the
    retention window, dollars in the price range), and quintile
    boundaries are insensitive to sub-hour/sub-dollar precision.
    Frequency (an event count) collides naturally and stays raw.
    Monetary SUMS stay exact cents."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.expr("max(unix_micros(ts)) div 3600000000").alias("rec"),
        F.count("*").cast("bigint").alias("freq"),
        F.sum(F.round(F.col("value") * 100).try_cast("long"))
        .cast("bigint")
        .alias("mon100"),
    ).withColumn("mond", F.expr("mon100 div 100"))

    def thresholds(dim: str) -> DataFrame:
        hist = users.groupBy(dim).agg(F.count("*").alias("c"))
        wt = (
            Window.orderBy(dim)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wall = Window.partitionBy(F.lit(1))
        cum = hist.select(
            F.col(dim).alias("v"),
            F.sum("c").over(wt).alias("cum"),
            F.sum("c").over(wall).alias("n"),
        )
        pick = lambda q: F.min(  # noqa: E731 — nearest-rank pick
            F.when(
                F.col("cum")
                >= F.expr(f"cast(ceil({q} * n / 5.0) as bigint)"),
                F.col("v"),
            )
        )
        return cum.agg(
            *[pick(q).alias(f"{dim}_t{q}") for q in (1, 2, 3, 4)]
        )

    def score(dim: str):
        return (
            F.lit(1)
            + sum(
                (F.col(dim) > F.col(f"{dim}_t{q}")).cast("int")
                for q in (1, 2, 3, 4)
            )
        ).cast("int")

    scored = (
        users.crossJoin(F.broadcast(thresholds("rec")))
        .crossJoin(F.broadcast(thresholds("freq")))
        .crossJoin(F.broadcast(thresholds("mond")))
        .select(
            score("rec").alias("r_score"),
            score("freq").alias("f_score"),
            score("mond").alias("m_score"),
            "mon100",
        )
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.round(F.sum("mon100").cast("double") / 100.0, 2).alias(
            "monetary_total"
        ),
    )


def _rfm_oracle() -> str:
    def thr(dim: str) -> str:
        picks = ", ".join(
            f"MIN(CASE WHEN cum >= CAST(CEIL({q} * n / 5.0) AS BIGINT)"
            f" THEN v END) AS {dim}_t{q}"
            for q in (1, 2, 3, 4)
        )
        return f"""{dim}_thr AS (
            SELECT {picks}
            FROM (SELECT v, SUM(c) OVER (ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
                         SUM(c) OVER () AS n
                  FROM (SELECT {dim} AS v, COUNT(*) AS c
                        FROM users GROUP BY {dim}))
        )"""

    def sc(dim: str) -> str:
        return "1 + " + " + ".join(
            f"(CASE WHEN {dim} > {dim}_t{q} THEN 1 ELSE 0 END)"
            for q in (1, 2, 3, 4)
        )

    return f"""
        WITH users AS (
            SELECT user_id,
                   MAX(epoch_us(ts)) // 3600000000 AS rec,
                   CAST(COUNT(*) AS BIGINT) AS freq,
                   CAST(SUM(TRY_CAST(ROUND(value * 100, 0) AS BIGINT))
                        AS BIGINT) AS mon100,
                   CAST(SUM(TRY_CAST(ROUND(value * 100, 0) AS BIGINT))
                        AS BIGINT) // 100 AS mond
            FROM events GROUP BY user_id
        ),
        {thr("rec")},
        {thr("freq")},
        {thr("mond")},
        scored AS (
            SELECT CAST({sc("rec")} AS INTEGER) AS r_score,
                   CAST({sc("freq")} AS INTEGER) AS f_score,
                   CAST({sc("mond")} AS INTEGER) AS m_score,
                   mon100
            FROM users
            CROSS JOIN rec_thr CROSS JOIN freq_thr CROSS JOIN mond_thr
        )
        SELECT r_score, f_score, m_score,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               ROUND(CAST(SUM(mon100) AS DOUBLE) / 100.0, 2)
                   AS monetary_total
        FROM scored
        GROUP BY r_score, f_score, m_score
    """


# inter-arrival bucket edges in seconds (upper-exclusive CASE ladder —
# exact integer compares, no log arithmetic to disagree on)
INTER_ARRIVAL_EDGES = (1, 10, 60, 600, 3600)
INTER_ARRIVAL_LABELS = (
    "lt_1s", "1_10s", "10_60s", "1_10m", "10_60m", "ge_1h",
)


def events_inter_arrival_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time distribution per event type: every per-user
    gap between consecutive events bucketed into human timescales with
    counts and shares — the observability row behind session-timeout
    choices and bot/burst detection (a mass in lt_1s that isn't there
    organically is replay traffic).

    Exactness: gaps are whole microseconds (epoch_us difference —
    exact in both engines) bucketed by an integer CASE ladder; counts
    are integers, shares one division. Shape: the funnel family's ONE
    user_id window exchange (lag), then a ≤(types×buckets)-key
    aggregate + a broadcast per-type total join."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap_us = F.expr("unix_micros(ts)") - F.lag(
        F.expr("unix_micros(ts)")
    ).over(w)
    ladder = F.when(gap_us < 1 * 1_000_000, INTER_ARRIVAL_LABELS[0])
    for i, e in enumerate(INTER_ARRIVAL_EDGES[1:], start=1):
        ladder = ladder.when(
            gap_us < e * 1_000_000, INTER_ARRIVAL_LABELS[i]
        )
    ladder = ladder.otherwise(INTER_ARRIVAL_LABELS[-1])
    gaps = ev.select(
        "event_type", ladder.alias("bucket"), gap_us.alias("g")
    ).filter(F.col("g").isNotNull())
    counts = gaps.groupBy("event_type", "bucket").agg(
        F.count("*").cast("bigint").alias("n_gaps")
    )
    totals = counts.groupBy("event_type").agg(
        F.sum("n_gaps").alias("n_total")
    )
    from pyspark.sql.functions import broadcast as _bc

    return counts.join(_bc(totals), "event_type").select(
        "event_type",
        "bucket",
        "n_gaps",
        F.round(F.col("n_gaps") / F.col("n_total"), 6).alias("share"),
    )


def _inter_arrival_oracle() -> str:
    edges = INTER_ARRIVAL_EDGES
    labels = INTER_ARRIVAL_LABELS
    ladder = f"CASE WHEN g < {edges[0] * 1_000_000} THEN '{labels[0]}'"
    for i, e in enumerate(edges[1:], start=1):
        ladder += f" WHEN g < {e * 1_000_000} THEN '{labels[i]}'"
    ladder += f" ELSE '{labels[-1]}' END"
    return f"""
        WITH gaps AS (
            SELECT event_type,
                   epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                       PARTITION BY user_id
                       ORDER BY ts ASC, event_id ASC) AS g
            FROM events
        ),
        counts AS (
            SELECT event_type, {ladder} AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_gaps
            FROM gaps WHERE g IS NOT NULL
            GROUP BY event_type, bucket
        )
        SELECT event_type, bucket, n_gaps,
               ROUND(n_gaps / CAST(SUM(n_gaps) OVER (
                   PARTITION BY event_type) AS DOUBLE), 6) AS share
        FROM counts
    """


def events_engagement_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU and the DAU/MAU stickiness ratio per active
    day — the engagement dashboard's first row. WAU/MAU are true
    trailing distinct-user windows (7 / 30 days INCLUDING the day),
    not averages of daily counts.

    Scale + exactness: activity collapses to DISTINCT (user, day)
    first; each activity row then fans out to the ≤30 observation
    days it keeps the user "active" for (a BOUNDED explode — the
    standard way to compute rolling distinct counts without a
    window-distinct operator, which Spark lacks and which would hold
    per-day user sets in state anyway). One distinct-agg per
    observation day, reported only for days that actually have
    activity (semi-join against the day list). Integer counts, one
    division."""
    ev = load_table(spark, sf_dir, "events")
    activity = ev.select(
        "user_id", trunc_ntz("day", "ts").alias("day")
    ).distinct()
    days = activity.select("day").distinct()
    fan = activity.select(
        "user_id",
        F.explode(F.expr("sequence(0, 29)")).alias("i"),
        F.expr("timestampadd(DAY, i, day)").alias("obs_day"),
    )
    # two-level aggregation instead of three count_distincts (round
    # 13): the expand form shipped 3x the fanned rows through the
    # distinct-agg; deduping (obs_day, user) with min(i) first makes
    # the three window counts plain conditional sums (min(i)=0 ⟺ some
    # i=0 row etc. — the windows are nested by construction). Guide
    # §2.3 aggregate-before-shuffle. NULL users group but never count
    # (count_distinct's NULL-skip, mirrored); the day semi-join moves
    # AFTER aggregation — it drops whole obs_day groups either way,
    # and post-agg it probes ≤|days| rows instead of the fanned table.
    g1 = fan.groupBy("obs_day", "user_id").agg(F.min("i").alias("mi"))
    live = F.col("user_id").isNotNull()
    counts = g1.groupBy("obs_day").agg(
        F.sum(
            F.when(live & (F.col("mi") == 0), 1).otherwise(0)
        ).cast("bigint").alias("dau"),
        F.sum(
            F.when(live & (F.col("mi") < 7), 1).otherwise(0)
        ).cast("bigint").alias("wau"),
        F.sum(F.when(live, 1).otherwise(0)).cast("bigint").alias("mau"),
    ).join(
        days.select(F.col("day").alias("obs_day")), "obs_day", "left_semi"
    )
    return counts.select(
        F.col("obs_day").alias("day"),
        "dau",
        "wau",
        "mau",
        F.round(F.col("dau") / F.col("mau"), 4).alias("stickiness"),
    )


def _dau_mau_oracle() -> str:
    return """
        WITH activity AS (
            SELECT DISTINCT user_id, date_trunc('day', ts) AS day
            FROM events
        ),
        days AS (SELECT DISTINCT day FROM activity),
        fan AS (
            SELECT a.user_id, a.day, i,
                   a.day + INTERVAL (i) DAY AS obs_day
            FROM activity a, UNNEST(range(0, 30)) AS u(i)
        ),
        kept AS (
            SELECT fan.* FROM fan
            JOIN days ON days.day = fan.obs_day
        )
        SELECT CAST(obs_day AS TIMESTAMP) AS day,
               CAST(COUNT(DISTINCT CASE WHEN i = 0 THEN user_id END)
                    AS BIGINT) AS dau,
               CAST(COUNT(DISTINCT CASE WHEN i < 7 THEN user_id END)
                    AS BIGINT) AS wau,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau,
               ROUND(COUNT(DISTINCT CASE WHEN i = 0 THEN user_id END)
                     / CAST(COUNT(DISTINCT user_id) AS DOUBLE), 4)
                   AS stickiness
        FROM kept GROUP BY obs_day
    """


def events_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap by (ISO weekday, hour of day): event and
    distinct-user counts plus each cell's share of all events — the
    ≤168-row grid behind every 'when are our users active' dashboard
    and the capacity-planning load profile.

    Shape: one scan, one (dow, hour) groupBy (≤168 keys, map-side
    combinable), shares from a full-window sum over the tiny grid —
    never a second scan for the denominator. Exact integers until the
    final share division."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.select(
        F.expr("extract(dayofweek_iso from ts)").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
        "user_id",
    )
    grid = cells.groupBy("dow", "hour").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
    )
    # share denominator as a scalar subquery (round 14): replaces the
    # partitionBy(lit(1)) window — no SinglePartition exchange; the
    # total's agg reuses the grid exchange only at runtime
    # (MergeScalarSubqueries or the AQE stage cache; the static plan
    # shows no ReusedExchange)
    tot = grid.agg(F.sum("n_events").alias("t"))
    return grid.select(
        "dow",
        "hour",
        "n_events",
        "n_users",
        F.round(
            F.col("n_events").cast("double") / tot.scalar(),
            6,
        ).alias("share"),
    )


def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning split: per activity day, distinct active
    users, how many were seen for the FIRST time that day, how many
    returned, and the new-user share — the growth-vs-retention
    decomposition every DAU chart gets cut by.

    Shape: one user_id aggregate anchors each user's first day (the
    retention_cohorts anchor), one (day) distinct-count over activity,
    and a ≤|days| join — never a self-join of the event stream. Exact
    integers until the share division. Midnight TIMESTAMP day keys
    (the retention_cohorts dtype note)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first_day = ev.groupBy("user_id").agg(
        trunc_ntz("day", F.min("ts")).alias("day")
    )
    new_per_day = first_day.groupBy("day").agg(
        F.count("*").cast("bigint").alias("n_new")
    )
    active = (
        ev.select(trunc_ntz("day", "ts").alias("day"), "user_id")
        .groupBy("day")
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_active"))
    )
    return (
        active.join(new_per_day, "day", "left")
        .select(
            "day",
            "n_active",
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
            (
                F.col("n_active")
                - F.coalesce("n_new", F.lit(0))
            ).cast("bigint").alias("n_returning"),
            F.round(
                F.coalesce("n_new", F.lit(0)).cast("double")
                / F.col("n_active"),
                6,
            ).alias("new_share"),
        )
    )


def dq_freshness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness audit per event type: last-seen timestamp, whole
    hours behind the stream head, and the last-24h/last-7d event
    counts — the staleness table an ingest on-call reads before
    anything else (a silent dead producer shows up here first).

    Exactness: the lag is integer epoch-micros arithmetic
    ((head − last) div 3600000000 — never float date math), and the
    recency counts are integer micros comparisons against the head.
    Shape: one scan, one ≤|types| aggregate; the head is a full-window
    max over the tiny grouped table, not a second scan."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.expr("max(unix_micros(ts))").alias("last_us"),
    )
    # the stream head is a 1-row reduction of the per-type table —
    # broadcast back for the recency-window counts (no second pass to
    # find the head itself; the one recount pass is the recency scan)
    head = per_type.agg(F.max("last_us").alias("head_us"))
    # the head reaches both consumers as a SCALAR SUBQUERY (round 14):
    # the broadcast crossJoin (a BroadcastNestedLoopJoin) and the
    # full-window max (an Exchange SinglePartition) are both gone; the
    # head's agg reuses the per-type exchange only at runtime
    # (MergeScalarSubqueries or the AQE stage cache; the static plan
    # shows no ReusedExchange), and the head value arrives in the recency comparisons as a plan literal.
    # Same integer micros arithmetic, same NULL propagation on an
    # empty stream (max over zero rows is NULL either way).
    rec = (
        ev.select("event_type", F.expr("unix_micros(ts)").alias("us"))
        .groupBy("event_type")
        .agg(
            F.sum(
                (F.col("us") > head.scalar() - F.lit(86400000000))
                .cast("bigint")
            ).cast("bigint").alias("n_last_24h"),
            F.sum(
                (F.col("us") > head.scalar() - F.lit(604800000000))
                .cast("bigint")
            ).cast("bigint").alias("n_last_7d"),
        )
    )
    return (
        per_type.withColumn("head_us", head.scalar())
        .join(rec, "event_type")
        .select(
            "event_type",
            "n_events",
            F.expr("timestamp_micros(last_us)").alias("last_ts"),
            F.expr("(head_us - last_us) div 3600000000L")
            .cast("bigint")
            .alias("hours_behind_head"),
            "n_last_24h",
            "n_last_7d",
        )
    )


def retention_revenue_cohorts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The retention triangle with MONEY on it: users cohorted by
    first-activity day, and per (cohort, week offset) the active-user
    count, exact revenue, cumulative revenue, and revenue per cohort
    user — LTV-by-cohort, the table a growth team actually budgets
    from (``retention_cohorts`` counts heads; this follows the
    dollars).

    Shape: one user_id window anchors the cohort (shared with the
    event row it annotates), one (cohort, offset) aggregate whose key
    count is days × weeks (independent of user count), cohort sizes
    from a per-user aggregate, and the cumulative column runs over
    the tiny triangle. Cents stay exact BIGINTs until output."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "value"
    )
    w = Window.partitionBy("user_id")
    anchored = ev.withColumn("first_ts", F.min("ts").over(w))
    cells = (
        anchored.select(
            trunc_ntz("day", "first_ts").alias("cohort_date"),
            (
                F.datediff(F.to_date("ts"), F.to_date("first_ts"))
                / F.lit(7)
            ).cast("int").alias("week_offset"),
            "user_id",
            F.round(F.col("value") * 100).try_cast("long").alias("v100"),
        )
        .groupBy("cohort_date", "week_offset")
        .agg(
            F.count_distinct("user_id")
            .cast("bigint")
            .alias("n_active_users"),
            F.sum("v100").cast("bigint").alias("rev100"),
        )
    )
    sizes = (
        anchored.groupBy("user_id")
        .agg(trunc_ntz("day", F.min("first_ts")).alias("cohort_date"))
        .groupBy("cohort_date")
        .agg(F.count("*").cast("bigint").alias("cohort_size"))
    )
    wcum = (
        Window.partitionBy("cohort_date")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cells.join(sizes, "cohort_date")
        .select(
            "cohort_date",
            "week_offset",
            "cohort_size",
            "n_active_users",
            F.round(F.col("rev100").cast("double") / 100.0, 2).alias(
                "revenue"
            ),
            F.round(
                F.sum("rev100").over(wcum).cast("double") / 100.0, 2
            ).alias("cum_revenue"),
            # exact-integer per-user cents, then one output division
            F.round(
                F.expr(
                    "cast(sum(rev100) over (partition by cohort_date"
                    " order by week_offset rows between unbounded"
                    " preceding and current row) div cohort_size"
                    " as double)"
                )
                / 100.0,
                2,
            ).alias("cum_revenue_per_user"),
        )
    )


STREAK_TOP_K = 20


def events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (gaps-and-
    islands on the daily grain), top-STREAK_TOP_K — the engagement
    streak leaderboard every habit-loop product tracks.

    Shape: distinct (user, day) first (collapses the event stream to
    ≤ users×days rows), then the classic island key day_number −
    row_number inside ONE user_id window exchange, a per-island count,
    a per-user max (longest streak, earliest start on ties via
    min_by), and a TakeOrdered top-k. All integer arithmetic."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    days = (
        ev.select(
            "user_id",
            F.datediff(
                F.to_date("ts"), F.to_date(F.lit("1970-01-01"))
            ).alias("day_n"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day_n")
    islands = days.withColumn(
        "grp", F.col("day_n") - F.row_number().over(w)
    )
    per_island = islands.groupBy("user_id", "grp").agg(
        F.count("*").cast("int").alias("streak_days"),
        F.min("day_n").alias("start_day_n"),
    )
    best = per_island.groupBy("user_id").agg(
        F.max("streak_days").alias("longest_streak"),
        # earliest start among the longest (max on (len, -start) ==
        # min start at max len; struct order gives the tie-break)
        F.min_by(
            "start_day_n", F.struct(-F.col("streak_days"), "start_day_n")
        ).alias("start_day_n"),
        F.count("*").cast("bigint").alias("n_streaks"),
    )
    return (
        best.select(
            "user_id",
            F.col("longest_streak").cast("int").alias("longest_streak"),
            F.expr(
                "timestamp(date_add(to_date('1970-01-01'), start_day_n))"
            ).alias("streak_start"),
            "n_streaks",
        )
        .orderBy(
            F.col("longest_streak").desc(), F.col("user_id").asc()
        )
        .limit(STREAK_TOP_K)
    )


def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions over the whole stream — the capacity
    number (how many sessions were open AT ONCE at the worst moment),
    computed as a sweep-line over session boundaries with the
    DISTRIBUTED two-level prefix sum instead of one global sort:

    1. sessions (min/max ts per (user, session_seq) over the engine's
       sessionizer) emit (+1 at start, −1 at end) deltas — 2 rows per
       SESSION, already far smaller than the event stream;
    2. deltas key by hour bucket; per-bucket totals are a tiny
       aggregate, and each bucket's BASE offset is a running sum over
       the ≤|hours| bucket table;
    3. the within-bucket running sum shares one bucket-keyed exchange,
       and concurrency = base + within — the classic distributed
       prefix-sum, no single-partition sort of all boundaries.

    Tie semantics at identical microseconds: ends sort before starts
    (half-open sessions — a session ending exactly when another starts
    never counts as overlap); deterministic (us, delta, user, seq)
    order. Returns ONE row: sessions, peak, first time the peak is
    reached."""
    from pyspark.sql import Window

    from .advanced import SESSION_GAP_SECONDS, sessionize_with_ts

    ev = load_table(spark, sf_dir, "events")
    sess = (
        sessionize_with_ts(ev, gap_seconds=SESSION_GAP_SECONDS)
        .groupBy("user_id", "session_seq")
        .agg(
            F.expr("min(unix_micros(ts))").alias("start_us"),
            F.expr("max(unix_micros(ts))").alias("end_us"),
        )
    )
    # one sess evaluation fans out to both boundary rows via explode
    # (a self-union re-ran the whole sessionize lineage per branch —
    # round 13: this plan scanned events FIVE times); the bucket
    # repartition is shared by the per-bucket totals and the sweep via
    # ReuseExchange, so the window pass runs once
    deltas = sess.select(
        "user_id",
        "session_seq",
        F.explode(
            F.array(
                F.struct(
                    F.col("start_us").alias("us"), F.lit(1).alias("delta")
                ),
                F.struct(
                    F.col("end_us").alias("us"), F.lit(-1).alias("delta")
                ),
            )
        ).alias("d"),
    ).select(
        F.col("d.us").alias("us"),
        F.col("d.delta").alias("delta"),
        "user_id",
        "session_seq",
        F.expr("d.us div 3600000000L").alias("bucket"),
    ).repartition("bucket")
    btot = deltas.groupBy("bucket").agg(
        F.sum("delta").cast("bigint").alias("btotal")
    )
    wprev = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    base = btot.select(
        "bucket",
        F.coalesce(F.sum("btotal").over(wprev), F.lit(0)).alias("base"),
    )
    wrun = (
        Window.partitionBy("bucket")
        .orderBy(
            F.col("us").asc(),
            F.col("delta").asc(),
            F.col("user_id").asc(),
            F.col("session_seq").asc(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = deltas.join(base, "bucket").select(
        "us",
        "delta",
        (F.col("base") + F.sum("delta").over(wrun)).alias("concurrent"),
    )
    # ONE epilogue aggregate: n_sessions = the +1 boundaries; the peak
    # and its first timestamp via max(struct(concurrent, -us)) — max
    # concurrency, min us among its ties — replacing the whole-table
    # max window + filter + crossJoin epilogue (3 ops → 1 agg)
    return swept.agg(
        F.coalesce(
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)), F.lit(0)
        ).cast("bigint").alias("n_sessions"),
        F.max(
            F.struct(
                F.col("concurrent").alias("c"), (-F.col("us")).alias("nus")
            )
        ).alias("m"),
    ).select(
        "n_sessions",
        F.col("m.c").cast("bigint").alias("peak_concurrent"),
        F.expr("timestamp_micros(-m.nus)").alias("peak_at"),
    )


ENTROPY_LNQ = "floor(ln({x}) * 1000000.0D) / 1000000.0D"
ENTROPY_LNQ_SQL = "FLOOR(LN({x}) * 1000000.0) / 1000000.0"
# integer-valued quantized ln: exact BIGINT, safe to SUM across
# partial aggregates (double sums are merge-order-dependent)
ENTROPY_LNQI = "cast(floor(ln({x}) * 1000000.0D) as bigint)"
ENTROPY_LNQI_SQL = "CAST(FLOOR(LN({x}) * 1000000.0) AS BIGINT)"


def events_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy (nats) of the event-type mix — the
    behavioral-diversity feature churn/segmentation models consume
    next to RFM: H=0 is a single-note user, H=ln(5) a uniform one.

    H = ln(n) − (Σ c·ln c)/n over the user's per-type counts. The
    quantized ln (floor(ln·1e6), the tfidf idiom) is kept as an exact
    BIGINT so the Σ c·lnq(c) aggregate is INTEGER — double sums are
    merge-order-dependent across partial aggregates, integers are
    not — and H = (n·lnq(n) − Σ c·lnq(c)) / n / 1e6 does its only
    float division at output. Shape: two hash aggregates — (user,
    type) then user — both map-side combinable; the shuffle carries
    one row per (user, type) pair (≤ |users|·|types|), nothing per
    event. At 100 TB this is the canonical two-level partial-agg
    plan; no window, no sort, no join."""
    ev = load_table(spark, sf_dir, "events")
    lnq_c = F.expr(ENTROPY_LNQI.format(x="cast(c as double)"))
    lnq_n = F.expr(ENTROPY_LNQI.format(x="cast(n as double)"))
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("c")
    )
    return (
        per_type.groupBy("user_id")
        .agg(
            F.sum("c").alias("n"),
            F.count("*").cast("int").alias("n_types"),
            F.sum(F.col("c") * lnq_c).alias("_clnc"),
        )
        .select(
            "user_id",
            "n",
            "n_types",
            F.round(
                (F.col("n") * lnq_n - F.col("_clnc")).cast("double")
                / F.col("n").cast("double")
                / F.lit(1000000.0),
                6,
            ).alias("entropy_nats"),
        )
    )


def _type_entropy_oracle() -> str:
    lnq_c = ENTROPY_LNQI_SQL.format(x="CAST(c AS DOUBLE)")
    lnq_n = ENTROPY_LNQI_SQL.format(x="CAST(n AS DOUBLE)")
    return f"""
        WITH per_type AS (
            SELECT user_id, event_type, COUNT(*) AS c
            FROM events GROUP BY 1, 2
        ),
        g AS (
            SELECT user_id, SUM(c) AS n,
                   CAST(COUNT(*) AS INTEGER) AS n_types,
                   SUM(c * ({lnq_c})) AS clnc
            FROM per_type GROUP BY user_id
        )
        SELECT user_id, CAST(n AS BIGINT) AS n, n_types,
               ROUND(CAST(n * ({lnq_n}) - clnc AS DOUBLE)
                     / CAST(n AS DOUBLE) / 1000000.0, 6)
                   AS entropy_nats
        FROM g
    """


def events_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between event-type pairs at user
    granularity — which behaviors travel together (PMI > 0) vs repel
    (PMI < 0). The association-mining primitive behind "users who do
    X also do Y" features.

    p(x) = share of users emitting type x; p(x,y) = share emitting
    both; PMI = ln(p_xy/(p_x·p_y)), quantized at 1e-6. Shape: distinct
    (user, type) — one hash agg whose output is ≤ |users|·|types| —
    then a self-join ON user_id. The join explodes only per-user type
    combinations (≤ types² per user, types is a small enum), so the
    pair stage is O(users·types²) — never O(users²). Final agg is
    ≤ types² rows. Deterministic, no sampling; unordered pairs kept
    once (x < y)."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    n_users = ut.agg(F.count_distinct("user_id").alias("nu"))
    per_type = ut.groupBy("event_type").agg(F.count("*").alias("nx"))
    a = ut.alias("a")
    b = ut.alias("b")
    pairs = (
        a.join(b, on="user_id")
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_x"),
            F.col("b.event_type").alias("type_y"),
        )
        .agg(F.count("*").alias("nxy"))
    )
    px = per_type.select(
        F.col("event_type").alias("type_x"), F.col("nx").alias("nx_x")
    )
    py = per_type.select(
        F.col("event_type").alias("type_y"), F.col("nx").alias("nx_y")
    )
    ratio = (
        F.col("nxy").cast("double")
        * F.col("nu").cast("double")
        / (F.col("nx_x").cast("double") * F.col("nx_y").cast("double"))
    )
    return (
        pairs.crossJoin(F.broadcast(n_users))
        .join(F.broadcast(px), "type_x")
        .join(F.broadcast(py), "type_y")
        .withColumn("r", ratio)
        .select(
            "type_x",
            "type_y",
            "nxy",
            F.round(F.expr(ENTROPY_LNQ.format(x="r")), 6).alias(
                "pmi_nats"
            ),
        )
    )


def _cooccurrence_pmi_oracle() -> str:
    lnq = ENTROPY_LNQ_SQL.format(x="r")
    return f"""
        WITH ut AS (
            SELECT DISTINCT user_id, event_type FROM events
        ),
        n_users AS (SELECT COUNT(DISTINCT user_id) AS nu FROM ut),
        per_type AS (
            SELECT event_type, COUNT(*) AS nx FROM ut GROUP BY 1
        ),
        pairs AS (
            SELECT a.event_type AS type_x, b.event_type AS type_y,
                   COUNT(*) AS nxy
            FROM ut a JOIN ut b USING (user_id)
            WHERE a.event_type < b.event_type
            GROUP BY 1, 2
        ),
        staged AS (
            SELECT type_x, type_y, nxy,
                   CAST(nxy AS DOUBLE) * CAST(nu AS DOUBLE)
                   / (CAST(px.nx AS DOUBLE) * CAST(py.nx AS DOUBLE)) AS r
            FROM pairs, n_users
            JOIN per_type px ON px.event_type = pairs.type_x
            JOIN per_type py ON py.event_type = pairs.type_y
        )
        SELECT type_x, type_y, nxy, ROUND({lnq}, 6) AS pmi_nats
        FROM staged
    """


TIME_TO_NTH_N = 5


def events_time_to_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activation latency per user: seconds from the first event to
    the Nth (N = 5) — the time-to-habit metric growth teams track
    (median time-to-5th-action is the classic aha-moment proxy).
    Users who never reach N events report NULL.

    Shape: ONE user-keyed window exchange assigns event ranks, then a
    per-user conditional aggregate picks the 1st and Nth timestamps —
    no self-join, no collect_list of the event stream. Determinism:
    ties at identical timestamps break by event_id. Exact integer
    microsecond arithmetic until the final division to seconds."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    ranked = ev.select(
        "user_id",
        F.expr("unix_micros(ts)").alias("us"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= TIME_TO_NTH_N)
    per_user = ranked.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_ranked"),
        F.min(F.when(F.col("rn") == 1, F.col("us"))).alias("first_us"),
        F.min(
            F.when(F.col("rn") == TIME_TO_NTH_N, F.col("us"))
        ).alias("nth_us"),
    )
    return per_user.select(
        "user_id",
        F.expr("timestamp_micros(first_us)").alias("first_event_at"),
        (F.col("n_ranked") >= TIME_TO_NTH_N).alias("reached_n"),
        F.round(
            (F.col("nth_us") - F.col("first_us")).cast("double") / 1e6, 3
        ).alias("secs_to_nth"),
    )


def _time_to_nth_oracle() -> str:
    return f"""
        WITH ranked AS (
            SELECT user_id, epoch_us(ts) AS us,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY ts ASC, event_id ASC) AS rn
            FROM events
            QUALIFY rn <= {TIME_TO_NTH_N}
        ),
        per_user AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_ranked,
                   MIN(CASE WHEN rn = 1 THEN us END) AS first_us,
                   MIN(CASE WHEN rn = {TIME_TO_NTH_N} THEN us END)
                       AS nth_us
            FROM ranked GROUP BY user_id
        )
        SELECT user_id,
               make_timestamp(first_us) AS first_event_at,
               n_ranked >= {TIME_TO_NTH_N} AS reached_n,
               ROUND(CAST(nth_us - first_us AS DOUBLE) / 1e6, 3)
                   AS secs_to_nth
        FROM per_user
    """


QUERIES = {
    "events_time_to_nth": events_time_to_nth,
    "events_type_entropy": events_type_entropy,
    "events_cooccurrence_pmi": events_cooccurrence_pmi,
    "events_hourly_heatmap": events_hourly_heatmap,
    "events_new_vs_returning": events_new_vs_returning,
    "dq_freshness_report": dq_freshness_report,
    "retention_revenue_cohorts": retention_revenue_cohorts,
    "events_activity_streaks": events_activity_streaks,
    "events_peak_concurrency": events_peak_concurrency,
    "funnel_stages": funnel_stages,
    "events_engagement_dau_mau": events_engagement_dau_mau,
    "events_inter_arrival_dist": events_inter_arrival_dist,
    "events_rfm_segmentation": events_rfm_segmentation,
    "events_top_paths": events_top_paths,
    "events_markov_transitions": events_markov_transitions,
    "funnel_conversion": funnel_conversion,
    "funnel_time_to_convert": funnel_time_to_convert,
    "retention_cohorts": retention_cohorts,
    "event_trigrams": event_trigrams,
}

def _streaks_oracle() -> str:
    return f"""
        WITH days AS (
            SELECT DISTINCT user_id,
                   date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                       AS day_n
            FROM events
        ),
        islands AS (
            SELECT user_id, day_n,
                   day_n - ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY day_n) AS grp
            FROM days
        ),
        per_island AS (
            SELECT user_id, grp,
                   CAST(COUNT(*) AS INTEGER) AS streak_days,
                   MIN(day_n) AS start_day_n
            FROM islands GROUP BY user_id, grp
        ),
        best AS (
            SELECT user_id,
                   streak_days AS longest_streak,
                   start_day_n,
                   CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT)
                       AS n_streaks
            FROM per_island
            QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                ORDER BY streak_days DESC, start_day_n ASC) = 1
        )
        SELECT user_id,
               CAST(longest_streak AS INTEGER) AS longest_streak,
               CAST(DATE '1970-01-01' + to_days(CAST(start_day_n
                    AS INTEGER)) AS TIMESTAMP) AS streak_start,
               n_streaks
        FROM best
        ORDER BY longest_streak DESC, user_id ASC
        LIMIT {STREAK_TOP_K}
    """


def _peak_concurrency_oracle() -> str:
    from .advanced import SESSION_GAP_SECONDS

    return f"""
        WITH flagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN LAG(ts) OVER w IS NULL
                        OR epoch(ts) - epoch(LAG(ts) OVER w)
                           > {float(SESSION_GAP_SECONDS)}
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY ts ASC, event_id ASC)
        ),
        sessioned AS (
            SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id
                       ORDER BY ts ASC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS session_seq
            FROM flagged
        ),
        sess AS MATERIALIZED (
            SELECT user_id, session_seq,
                   MIN(epoch_us(ts)) AS start_us,
                   MAX(epoch_us(ts)) AS end_us
            FROM sessioned GROUP BY user_id, session_seq
        ),
        deltas AS (
            SELECT start_us AS us, 1 AS delta, user_id, session_seq
            FROM sess
            UNION ALL
            SELECT end_us AS us, -1 AS delta, user_id, session_seq
            FROM sess
        ),
        swept AS (
            SELECT us,
                   SUM(delta) OVER (ORDER BY us ASC, delta ASC,
                       user_id ASC, session_seq ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS concurrent
            FROM deltas
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sess) AS n_sessions,
               CAST(MAX(concurrent) AS BIGINT) AS peak_concurrent,
               make_timestamp(MIN(CASE WHEN concurrent =
                   (SELECT MAX(concurrent) FROM swept) THEN us END))
                   AS peak_at
        FROM swept
    """


ORACLES = {
    "events_time_to_nth": _time_to_nth_oracle(),
    "events_type_entropy": _type_entropy_oracle(),
    "events_cooccurrence_pmi": _cooccurrence_pmi_oracle(),
    "events_activity_streaks": _streaks_oracle(),
    "events_peak_concurrency": _peak_concurrency_oracle(),
    "retention_revenue_cohorts": """
        WITH anchored AS (
            SELECT user_id, ts,
                   TRY_CAST(ROUND(value * 100, 0) AS BIGINT) AS v100,
                   MIN(ts) OVER (PARTITION BY user_id) AS first_ts
            FROM events
        ),
        cells AS (
            SELECT date_trunc('day', first_ts) AS cohort_date,
                   CAST(date_diff('day', CAST(first_ts AS DATE),
                        CAST(ts AS DATE)) // 7 AS INTEGER)
                       AS week_offset,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT)
                       AS n_active_users,
                   CAST(SUM(v100) AS BIGINT) AS rev100
            FROM anchored
            GROUP BY 1, 2
        ),
        sizes AS (
            SELECT cohort_date,
                   CAST(COUNT(*) AS BIGINT) AS cohort_size
            FROM (SELECT user_id,
                         date_trunc('day', MIN(first_ts)) AS cohort_date
                  FROM anchored GROUP BY user_id)
            GROUP BY cohort_date
        )
        SELECT CAST(c.cohort_date AS TIMESTAMP) AS cohort_date,
               c.week_offset, s.cohort_size, c.n_active_users,
               ROUND(CAST(c.rev100 AS DOUBLE) / 100.0, 2) AS revenue,
               ROUND(CAST(SUM(c.rev100) OVER w AS DOUBLE) / 100.0, 2)
                   AS cum_revenue,
               ROUND(CAST(SUM(c.rev100) OVER w // s.cohort_size
                     AS DOUBLE) / 100.0, 2) AS cum_revenue_per_user
        FROM cells c JOIN sizes s USING (cohort_date)
        WINDOW w AS (PARTITION BY c.cohort_date ORDER BY c.week_offset
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    "events_new_vs_returning": """
        WITH first_day AS (
            SELECT user_id,
                   date_trunc('day', MIN(ts)) AS day
            FROM events GROUP BY user_id
        ),
        new_per_day AS (
            SELECT day, CAST(COUNT(*) AS BIGINT) AS n_new
            FROM first_day GROUP BY day
        ),
        active AS (
            SELECT date_trunc('day', ts) AS day,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
            FROM events GROUP BY 1
        )
        SELECT CAST(a.day AS TIMESTAMP) AS day,
               a.n_active,
               CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new,
               CAST(a.n_active - COALESCE(n.n_new, 0) AS BIGINT)
                   AS n_returning,
               ROUND(CAST(COALESCE(n.n_new, 0) AS DOUBLE)
                     / a.n_active, 6) AS new_share
        FROM active a LEFT JOIN new_per_day n USING (day)
    """,
    "dq_freshness_report": """
        WITH per_type AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   MAX(epoch_us(ts)) AS last_us
            FROM events GROUP BY event_type
        ),
        head AS (SELECT MAX(last_us) AS head_us FROM per_type),
        rec AS (
            SELECT event_type,
                   CAST(SUM(CASE WHEN epoch_us(ts)
                            > head_us - 86400000000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_last_24h,
                   CAST(SUM(CASE WHEN epoch_us(ts)
                            > head_us - 604800000000 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_last_7d
            FROM events CROSS JOIN head
            GROUP BY event_type
        )
        SELECT p.event_type, p.n_events,
               make_timestamp(p.last_us) AS last_ts,
               CAST((h.head_us - p.last_us) // 3600000000 AS BIGINT)
                   AS hours_behind_head,
               r.n_last_24h, r.n_last_7d
        FROM per_type p CROSS JOIN head h
        JOIN rec r USING (event_type)
    """,
    "events_hourly_heatmap": """
        SELECT CAST(isodow(ts) AS INTEGER) AS dow,
               CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               ROUND(CAST(COUNT(*) AS DOUBLE)
                     / SUM(COUNT(*)) OVER (), 6) AS share
        FROM events
        GROUP BY 1, 2
    """,
    "events_rfm_segmentation": _rfm_oracle(),
    "events_engagement_dau_mau": _dau_mau_oracle(),
    "events_inter_arrival_dist": _inter_arrival_oracle(),
    "events_top_paths": f"""
        WITH p AS (
            SELECT user_id,
                   array_to_string(
                       list_slice(
                           array_agg(event_type ORDER BY ts, event_id),
                           1, {TOP_PATHS_K}),
                       '>') AS path
            FROM events
            GROUP BY user_id
        )
        SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM p GROUP BY path
        ORDER BY n_users DESC, path ASC
        LIMIT {TOP_PATHS_LIMIT}
    """,
    "funnel_stages": """
        WITH v AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'view' THEN ts END)
                       OVER (PARTITION BY user_id) AS t_view,
                   event_type, ts
            FROM events
        ),
        c AS (
            SELECT user_id, t_view,
                   MIN(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
                       OVER (PARTITION BY user_id) AS t_click,
                   event_type, ts
            FROM v
        ),
        p AS (
            SELECT user_id, t_view, t_click,
                   MIN(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
                       OVER (PARTITION BY user_id) AS t_purchase
            FROM c
        )
        SELECT user_id,
               MAX(t_view) AS t_view,
               MAX(t_click) AS t_click,
               MAX(t_purchase) AS t_purchase,
               CASE WHEN MAX(t_purchase) IS NOT NULL THEN 'purchase'
                    WHEN MAX(t_click) IS NOT NULL THEN 'click'
                    WHEN MAX(t_view) IS NOT NULL THEN 'view'
                    ELSE 'none' END AS stage
        FROM p
        GROUP BY user_id
    """,
    "funnel_conversion": """
        WITH v AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'view' THEN ts END)
                       OVER (PARTITION BY user_id) AS t_view,
                   event_type, ts
            FROM events
        ),
        c AS (
            SELECT user_id, t_view,
                   MIN(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
                       OVER (PARTITION BY user_id) AS t_click,
                   event_type, ts
            FROM v
        ),
        p AS (
            SELECT user_id, t_view, t_click,
                   MIN(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
                       OVER (PARTITION BY user_id) AS t_purchase
            FROM c
        ),
        per_user AS (
            SELECT user_id,
                   CASE WHEN MAX(t_purchase) IS NOT NULL THEN 3
                        WHEN MAX(t_click) IS NOT NULL THEN 2
                        WHEN MAX(t_view) IS NOT NULL THEN 1
                        ELSE 0 END AS depth
            FROM p GROUP BY user_id
        ),
        counts AS (
            SELECT depth, COUNT(*) AS n_users FROM per_user GROUP BY depth
        ),
        cum AS (
            SELECT depth,
                   SUM(n_users) OVER (
                       ORDER BY depth DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS n_reached
            FROM counts
        ),
        reach AS (
            SELECT depth, n_reached,
                   LAG(n_reached) OVER (ORDER BY depth ASC) AS prev_reached
            FROM cum
        )
        SELECT CAST(depth AS INT) AS depth,
               CASE WHEN depth = 1 THEN 'view'
                    WHEN depth = 2 THEN 'click'
                    ELSE 'purchase' END AS stage,
               CAST(n_reached AS BIGINT) AS n_reached,
               ROUND(CAST(n_reached AS DOUBLE)
                     / (SELECT COUNT(*) FROM per_user), 4) AS pct_of_users,
               ROUND(CAST(n_reached AS DOUBLE)
                     / COALESCE(prev_reached, n_reached), 4) AS pct_of_prev
        FROM reach
        WHERE depth > 0
    """,
    "retention_cohorts": """
        WITH anchored AS (
            SELECT user_id, ts,
                   MIN(ts) OVER (PARTITION BY user_id) AS first_ts
            FROM events
        )
        SELECT CAST(CAST(first_ts AS DATE) AS TIMESTAMP) AS cohort_date,
               -- FLOOR before the cast: DuckDB casts double→int with
               -- round-to-nearest, Spark truncates; offsets are >= 0 so
               -- floor == truncate
               CAST(FLOOR(DATEDIFF('day', CAST(first_ts AS DATE),
                                   CAST(ts AS DATE)) / 7.0) AS INT) AS week_offset,
               COUNT(DISTINCT user_id) AS n_active_users
        FROM anchored
        GROUP BY 1, 2
    """,
    "event_trigrams": """
        WITH staged AS (
            SELECT event_type AS step1,
                   LEAD(event_type, 1) OVER w AS step2,
                   LEAD(event_type, 2) OVER w AS step3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        )
        SELECT step1, step2, step3, COUNT(*) AS n_paths
        FROM staged
        WHERE step3 IS NOT NULL
        GROUP BY step1, step2, step3
        ORDER BY n_paths DESC, step1 ASC, step2 ASC, step3 ASC
        LIMIT 20
    """,
    "events_markov_transitions": """
        WITH adj AS (
            SELECT from_type, to_type FROM (
                SELECT event_type AS from_type,
                       LEAD(event_type, 1) OVER (
                           PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC) AS to_type
                FROM events
            ) WHERE to_type IS NOT NULL
        ),
        hist AS (
            SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM adj GROUP BY from_type, to_type
        )
        SELECT from_type, to_type, n,
               ROUND(CAST(n AS DOUBLE)
                     / SUM(n) OVER (PARTITION BY from_type), 6) AS p
        FROM hist
    """,
    "funnel_time_to_convert": """
        WITH v AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'view' THEN ts END)
                       OVER (PARTITION BY user_id) AS t_view,
                   event_type, ts
            FROM events
        ),
        c AS (
            SELECT user_id, t_view,
                   MIN(CASE WHEN event_type = 'click' AND ts > t_view
                            THEN ts END)
                       OVER (PARTITION BY user_id) AS t_click,
                   event_type, ts
            FROM v
        ),
        p AS (
            SELECT user_id, t_view, t_click,
                   MIN(CASE WHEN event_type = 'purchase' AND ts > t_click
                            THEN ts END)
                       OVER (PARTITION BY user_id) AS t_purchase
            FROM c
        ),
        per_user AS (
            SELECT user_id,
                   MAX(t_view) AS t_view,
                   MAX(t_click) AS t_click,
                   MAX(t_purchase) AS t_purchase
            FROM p GROUP BY user_id
        ),
        dwell AS (
            SELECT transition, dwell_s FROM (
                SELECT 'view_to_click' AS transition,
                       (epoch_us(t_click) - epoch_us(t_view)) // 1000000
                           AS dwell_s
                FROM per_user
                UNION ALL
                SELECT 'click_to_purchase',
                       (epoch_us(t_purchase) - epoch_us(t_click))
                           // 1000000
                FROM per_user
            ) WHERE dwell_s IS NOT NULL
        ),
        hist AS (
            SELECT transition, dwell_s, COUNT(*) AS n
            FROM dwell GROUP BY transition, dwell_s
        ),
        cum AS (
            SELECT transition, dwell_s, n,
                   SUM(n) OVER (PARTITION BY transition ORDER BY dwell_s
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum_n,
                   SUM(n) OVER (PARTITION BY transition) AS tot_n,
                   SUM(dwell_s * n) OVER (PARTITION BY transition)
                       AS sum_s
            FROM hist
        )
        SELECT transition,
               CAST(MAX(tot_n) AS BIGINT) AS n_users,
               CAST(MIN(CASE WHEN cum_n >=
                                  CAST(CEIL(0.5 * tot_n) AS BIGINT)
                             THEN dwell_s END) AS BIGINT) AS p50_s,
               CAST(MIN(CASE WHEN cum_n >=
                                  CAST(CEIL(0.9 * tot_n) AS BIGINT)
                             THEN dwell_s END) AS BIGINT) AS p90_s,
               ROUND(CAST(MAX(sum_s) AS DOUBLE) / MAX(tot_n), 4)
                   AS mean_s
        FROM cum GROUP BY transition
    """,
}
