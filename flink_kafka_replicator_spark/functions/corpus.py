"""Corpus-preparation operators for large-scale training pipelines:
chunking, TF-IDF, blocklist filtering, per-language vocabulary, and
benchmark decontamination. No reference counterpart (SURVEY §2.6
extensions); every op is JVM-side column expressions + joins/aggs so
the row path stays in whole-stage codegen at 100 TB.

Float-parity notes (shared with the rest of the repo): divisions and
logs are floor-quantized (FLOOR(x*10^k)/10^k) instead of ROUND —
ROUND's tie-break differs between Spark and DuckDB on division
results, and the engines' ln() may differ in the last ulp, so scores
quantize BEFORE any cross-engine comparison or ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import fan_out_small_scan, load_table
from . import text

CHUNK_TOKENS = 50
CHUNK_STRIDE = 40

# Decontamination n-gram width. Real pipelines use 8-13 word grams;
# the synthetic corpus is near-random word soup where 5+-grams never
# collide across docs, so 4 keeps the operator's output non-trivial
# at test scale (the shape is identical at any width).
CONTAM_NGRAM = 4

# Source blocklist: the dim-table side of a filter every production
# corpus applies (licensing/opt-out/abuse lists).
BLOCKED_SOURCES = ("crawl-3", "forum")


def doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into overlapping token-window chunks
    (CHUNK_TOKENS wide, CHUNK_STRIDE apart) — the 1→N fan-out every
    context-window-bounded trainer needs. Pure map-side: tokens are
    materialized once per row (separate select, so the explode lambda
    does not re-split per output chunk), then Generate + project; no
    shuffle, no Python."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", text.tokens("text").alias("toks"))
    # degenerate docs (NULL/empty text) fan out to ZERO chunks — the
    # explode over an empty start array drops the row in both engines
    return (
        toks.select(
            "doc_id",
            "lang",
            F.size("toks").alias("doc_tokens"),
            F.explode(
                F.expr(
                    "CASE WHEN toks IS NULL OR size(toks) = 0"
                    " OR (size(toks) = 1 AND element_at(toks, 1) = '')"
                    " THEN array()"
                    f" ELSE sequence(0, greatest(size(toks) - 1, 0),"
                    f" {CHUNK_STRIDE}) END"
                )
            ).alias("chunk_start"),
            F.col("toks"),
        )
        .select(
            "doc_id",
            "lang",
            "doc_tokens",
            (F.col("chunk_start") / CHUNK_STRIDE).cast("int").alias("chunk_id"),
            F.concat_ws(
                " ", F.expr(f"slice(toks, chunk_start + 1, {CHUNK_TOKENS})")
            ).alias("chunk_text"),
            F.expr(
                f"size(slice(toks, chunk_start + 1, {CHUNK_TOKENS}))"
            ).alias("chunk_tokens"),
        )
    )


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (stopwords removed).

    Shape: explode tokens → per-(doc, term) counts (partial agg before
    the shuffle) → document-frequency agg per term → join → score →
    per-doc top-k via row_number (compiles with WindowGroupLimit, so
    each map task emits ≤ k rows per doc before the shuffle).

    The df table is vocabulary-sized — orders of magnitude smaller than
    the corpus — so Catalyst/AQE broadcasts it in the score join. The
    corpus-size N is derived LAZILY inside the plan: a 1-row count
    aggregate broadcast-cross-joined onto the vocabulary-sized score
    table (never the corpus) — no driver-side action at query build,
    and the plan can never bake in a stale scalar.
    Scores floor-quantize at 6 decimals before ordering so both
    engines rank identical numbers (ln may differ in the last ulp)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(text.tokens("text")).alias("term")
    ).filter(~F.col("term").isin(*text.STOPWORDS) & (F.col("term") != ""))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs_df = load_table(spark, sf_dir, "documents").agg(
        F.count("*").alias("n_docs")
    )
    df_ = toks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("doc_freq")
    )
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs_df))
        .select(
            "doc_id",
            "term",
            F.expr(
                "floor(tf * floor(ln(cast(n_docs as double) / doc_freq) * 1000000.0D)"
                " / 1000000.0D * 10000.0D) / 10000.0D"
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf", F.col("rn").cast("int").alias("rank"))
    )


def filter_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus filtering against a blocklist dim: anti-join on source
    (broadcast — the blocklist is always tiny relative to the corpus)
    plus a pattern rule. Returns per-(lang, source) survivor stats so
    the result is aggregate-stable."""
    d = load_table(spark, sf_dir, "documents")
    blocked = spark.sql(
        "SELECT * FROM VALUES {} AS t(source)".format(
            ", ".join(f"('{s}')" for s in BLOCKED_SOURCES)
        )
    )
    return (
        d.join(F.broadcast(blocked), "source", "left_anti")
        .filter(~F.col("text").rlike("FORBIDDEN_MARKER"))
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary head: top-5 non-stopword terms by
    (count DESC, term ASC). explode → two-level agg (partial map-side)
    → WindowGroupLimit top-k. Pure integer counts: no float parity
    concerns."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select("lang", F.explode(text.tokens("text")).alias("term"))
        .filter(~F.col("term").isin(*text.STOPWORDS) & (F.col("term") != ""))
        .groupBy("lang", "term")
        .agg(F.count("*").alias("n"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("term").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "term", "n", F.col("rn").cast("int").alias("rank"))
    )


def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: which training docs share a CONTAM_NGRAM-word
    n-gram with the eval set (docs with doc_id % 100 == 0 stand in for
    the benchmark)?

    Shape: distinct n-grams of the (small) eval side join the exploded
    n-grams of the corpus side on the gram string — the eval-gram table
    is benchmark-sized, so it broadcasts; the corpus side is scanned
    once, map-side filtered by the broadcast hash. Output: per training
    doc, how many distinct eval grams it contains."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", text.tokens("text").alias("toks"), (F.col("doc_id") % 100).alias("m")
    )
    # degenerate docs produce no grams — an eval doc with NULL/empty
    # text would otherwise contribute a '' gram that "contaminates"
    # every degenerate training doc
    grams = toks.select(
        "doc_id",
        "m",
        F.explode(
            F.expr(
                "CASE WHEN toks IS NULL OR size(toks) = 0"
                " OR (size(toks) = 1 AND element_at(toks, 1) = '')"
                " THEN array()"
                f" ELSE array_distinct(transform("
                f" sequence(0, greatest(size(toks) - {CONTAM_NGRAM}, 0)),"
                f" i -> concat_ws(' ', slice(toks, i + 1, {CONTAM_NGRAM})))) END"
            )
        ).alias("gram"),
    )
    eval_grams = (
        grams.filter(F.col("m") == 0).select("gram").distinct()
    )
    train = grams.filter(F.col("m") != 0)
    return (
        train.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_contaminated_grams"))
    )


QUALITY_MIN = 0.22
MIN_TOKENS = 25


def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship composition a training-data pipeline actually runs:
    normalize → exact-dedup on the normalized hash → quality filter →
    content-hash shard assignment → per-shard stats, as ONE declarative
    plan.

    Scale shape: normalize+hash are map-side projections fused into the
    dedup aggregate's partial phase; min_by carries (doc_id, normalized
    text) through the dedup so there is NO join back to the corpus; the
    quality filter runs on the already-deduped survivors; total = two
    shuffles (dedup hash, shard stats) for the whole pipeline.

    Per-doc quality floor-quantizes to 4 decimals and aggregates as an
    exact integer SUM (sum_quality_e4) — cross-engine AVG-of-division
    rounding can differ in the last ulp, integer sums cannot."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", " "),
            r"\s+",
            " ",
        )
    )
    staged = d.select("doc_id", norm.alias("norm")).withColumn(
        "h", F.md5("norm")
    )
    dedup = staged.groupBy("h").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("norm", "doc_id").alias("norm"),
    )
    scored = dedup.select(
        "h",
        "doc_id",
        text.token_count(F.col("norm")).alias("n_tokens"),
        F.floor(text.quality_score(F.col("norm")) * 10000).alias("q_e4"),
    )
    kept = scored.filter(
        (F.col("q_e4") >= int(QUALITY_MIN * 10000))
        & (F.col("n_tokens") >= MIN_TOKENS)
    )
    return (
        kept.select(
            F.expr("conv(substring(h, 1, 4), 16, 10)").cast("bigint").alias("hx"),
            "n_tokens",
            "q_e4",
        )
        .select((F.col("hx") % 16).alias("shard"), "n_tokens", "q_e4")
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("q_e4").alias("sum_quality_e4"),
        )
    )


# PII patterns, lowercase-ASCII common subset of Java regex and RE2 so
# the Spark plan and the DuckDB oracle match byte-for-byte. Production
# pattern packs are locale-specific; the operator shape (count → chained
# redact → verify hash) is the scale-relevant part.
PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE = r"\b555-[0-9]{4}\b"
PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over the corpus: count then scrub
    emails / phone numbers / IP addresses, emit the redacted hash so
    downstream dedup runs on clean text.

    The synthetic corpus carries no PII, so the fixture deterministically
    injects it from doc_id (same pattern as fn_csv_parse/fn_xml_parse:
    synthesize → operate → verify); the operator under test is the
    regexp_count + chained regexp_replace pipeline — all JVM built-ins,
    map-side only, no shuffle: at 100 TB this runs at scan speed."""
    d = load_table(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(" host 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7")),
        ).otherwise(F.lit("")),
    )
    staged = d.select("doc_id", injected.alias("t"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), PII_EMAIL, "<EMAIL>"),
            PII_PHONE,
            "<PHONE>",
        ),
        PII_IP,
        "<IP>",
    )
    return staged.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(PII_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(PII_PHONE)).cast("int").alias("n_phones"),
        F.regexp_count(F.col("t"), F.lit(PII_IP)).cast("int").alias("n_ips"),
        F.length(redacted).cast("int").alias("clean_len"),
        F.md5(redacted).alias("clean_hash"),
    )


def corpus_mix_equalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing: downsample every language to the size of the
    smallest one — the domain/language-rebalance step of training-data
    prep (the general target-share case is the same plan with a
    per-group quota join instead of a global min).

    Deterministic: docs are md5-ranked within their language (the
    portable order sample_per_group_hash established) and the quota is
    the min per-lang count. Plan: one lang-keyed window shuffle + a
    two-row-stage agg broadcast — the quota is a scalar, never a
    driver-side collect.

    Scale note: exact per-group ranking sorts each language inside one
    window partition — fine while groups fit a task, but a 20 TB
    language does not. The 100 TB form replaces rank <= quota with the
    hash-threshold test md5(doc_id) < quota/group_count (constant-time,
    shuffle-free, ~exact at large counts); the exact-rank form here is
    what makes the result oracle-checkable."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    quota = d.groupBy("lang").agg(F.count("*").alias("n")).agg(
        F.min("n").alias("min_n")
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    ranked = d.select("doc_id", "lang").withColumn(
        "rn", F.row_number().over(w)
    )
    return (
        ranked.crossJoin(F.broadcast(quota))
        .filter(F.col("rn") <= F.col("min_n"))
        .select("doc_id", "lang", F.col("rn").cast("int").alias("rank_in_lang"))
    )


# 13 hex chars = 52 bits: the largest md5 prefix whose integer value is
# EXACTLY representable as an IEEE double (2^52), so the hash-fraction
# division below is exact in both engines and the keep/drop comparison
# can never straddle a rounding difference.
_MIX_HASH_HEX = 13
_MIX_HASH_DEN = float(16 ** _MIX_HASH_HEX)


def corpus_mix_equalize_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing, the 100 TB form: downsample every language to
    ~the smallest one's size via a HASH-THRESHOLD test instead of the
    exact per-group rank window corpus_mix_equalize uses.

    A doc is kept iff frac(md5(doc_id)) < min_n/n_lang — the same
    smallest-hash-first order the exact variant ranks by, applied as a
    constant-time per-row predicate. Plan: one k-row count aggregate
    (map-side partials; at scale these are catalog statistics) broadcast
    back, then a map-side filter — no window, no per-group sort, no task
    ever holds a language. A 20 TB language costs the same as a 20 MB
    one: this is the scale-safe replacement for the exact-rank
    variant's single-task-per-language bottleneck.

    Per-lang counts land within O(sqrt(n)) of the quota rather than
    exactly on it — the trade every hash sampler makes. Deterministic
    and content-stable (a doc never flips as the corpus grows), and
    oracle-EXACT despite the approximation: md5 is bit-identical across
    engines and the 52-bit fraction (see _MIX_HASH_HEX) divides exactly,
    so DuckDB replays the identical keep set."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_lang"))
    quota = counts.agg(F.min("n_lang").alias("min_n"))
    frac = counts.crossJoin(F.broadcast(quota)).select(
        "lang",
        (F.col("min_n").cast("double") / F.col("n_lang")).alias("keep_frac"),
    )
    hfrac = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, _MIX_HASH_HEX),
            16,
            10,
        ).cast("double")
        / F.lit(_MIX_HASH_DEN)
    )
    return (
        d.select("doc_id", "lang", hfrac.alias("hfrac"))
        .join(F.broadcast(frac), "lang")
        .filter(F.col("hfrac") < F.col("keep_frac"))
        .select("doc_id", "lang")
    )


# temperature-sampling exponent: p_lang ∝ n_lang^MIX_ALPHA (mT5's 0.3).
# α=1 keeps the natural mixture, α=0 degenerates to full equalization.
MIX_ALPHA = 0.3


def corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture resampling (the mT5/XLM-R scheme):
    target language probabilities p_l ∝ n_l^α flatten the natural
    distribution without fully equalizing it. Filter-only sampling can
    only DOWN-sample, so the budget is chosen to saturate the most
    protected language: keep_frac_l = (n_min/n_l)^(1-α) — the smallest
    language keeps 100%, big languages shrink with exponent 1-α, and
    α sweeps continuously from natural mixture (1) to the equalizer (0),
    whose hash-threshold plan this shares (same window-free shape:
    k-row count aggregate broadcast back + map-side md5-fraction
    predicate; no task ever holds a language).

    Cross-engine note: keep_frac comes from pow(), which may differ
    between JVM and C libm in the last ulp — a doc flips only if its
    52-bit hash fraction lands within ~1e-16 of the threshold
    (probability ≈ n_docs·1e-16, negligible; the oracle parity run is
    the empirical check)."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_lang"))
    quota = counts.agg(F.min("n_lang").alias("min_n"))
    frac = counts.crossJoin(F.broadcast(quota)).select(
        "lang",
        F.pow(
            F.col("min_n").cast("double") / F.col("n_lang"), 1.0 - MIX_ALPHA
        ).alias("keep_frac"),
    )
    hfrac = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, _MIX_HASH_HEX),
            16,
            10,
        ).cast("double")
        / F.lit(_MIX_HASH_DEN)
    )
    return (
        d.select("doc_id", "lang", hfrac.alias("hfrac"))
        .join(F.broadcast(frac), "lang")
        .filter(F.col("hfrac") < F.col("keep_frac"))
        .select("doc_id", "lang")
    )


PACK_BUDGET_TOKENS = 512


def pack_token_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-and-chunk): lay the corpus out as one
    deterministic token stream per language and cut it into
    PACK_BUDGET_TOKENS training sequences — each doc gets the pack id
    where it STARTS and its token offset inside that pack. This is the
    exact bookkeeping a fixed-context trainer needs to pack short docs
    without padding waste.

    One window shuffle (lang-keyed running sum over the md5 order);
    integer arithmetic end-to-end, so cross-engine parity is exact. At
    100 TB the same plan runs per shard instead of per lang — that
    variant is pack_token_sequences_sharded."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    return pack_assign(toks, budget=PACK_BUDGET_TOKENS)


def pack_token_sequences_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, the 100 TB form: the identical concat-and-chunk
    bookkeeping as pack_token_sequences, but the token stream is laid
    out per (lang, shard) — shard being the same content-stable
    md5(text) bucket corpus_shard_assign / sinks.with_shard write by —
    instead of per language.

    Why this is the scale shape: a lang-keyed window caps parallelism at
    n_langs and puts a whole language in ONE task (r4's known
    bottleneck); keying by (lang, shard) multiplies parallelism by the
    shard count and bounds every window partition at corpus/shards,
    which the shard count is chosen to keep task-sized. Pack ids are
    local to their (lang, shard) stream — exactly what a trainer
    consuming per-shard output files expects, and the pack-boundary
    invariants inside every shard are the same as the single-stream
    form (property-pinned in tests/test_round5_invariants.py).

    Still one window shuffle, integer arithmetic end-to-end,
    oracle-exact."""
    from ..sinks import with_shard

    d = load_table(spark, sf_dir, "documents")
    toks = with_shard(d).select(
        "doc_id",
        "lang",
        F.col("shard").cast("int").alias("shard"),
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    return pack_assign(toks, budget=PACK_BUDGET_TOKENS, keys=("lang", "shard"))


def pack_assign(
    toks: DataFrame,
    budget: int = PACK_BUDGET_TOKENS,
    keys: tuple[str, ...] = ("lang",),
) -> DataFrame:
    """Core packing bookkeeping over any (doc_id, *keys, n_tokens) frame —
    split out of pack_token_sequences so property tests can drive it
    with synthetic token counts (docs longer than the budget, zero-token
    docs, single-doc groups). ``keys`` is the stream-partitioning key:
    ("lang",) for the per-language layout, ("lang", "shard") for the
    scale-safe per-shard layout — the bookkeeping is identical, only
    the window key changes."""
    from pyspark.sql import Window

    key_cols = list(keys)
    staged0 = toks.select(
        "doc_id", *key_cols, "n_tokens",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col("h").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = staged0.select(
        "doc_id",
        *key_cols,
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("cum_before"),
    )
    return staged.select(
        "doc_id",
        *key_cols,
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.expr(f"cum_before div {budget}").alias("pack_id"),
        (F.col("cum_before") % budget)
        .cast("int")
        .alias("pack_offset"),
    )


VOCAB_TOPK = 64


def vocab_coverage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary construction over word BIGRAMS: the top-64
    bigrams by corpus frequency, each with its rank, count, corpus
    share, and the CUMULATIVE coverage fraction — the curve a tokenizer
    team reads to pick a vocab size (where does coverage flatten?).

    Shape: one bigram explode + count agg (vocab-sized result), then
    rank + running-sum windows over the TINY aggregate only — the
    corpus-sized data never meets a window. Integer counts divided by
    the one total at the end keep both engines bit-identical."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    t = d.select(F.split("text", " ").alias("toks"))
    grams = t.select(
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(toks) - 1, 1)),"
                " i -> concat_ws(' ', slice(toks, i, 2)))"
            )
        ).alias("g")
    )
    counts = grams.groupBy("g").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    w = Window.orderBy(F.col("cnt").desc(), F.col("g").asc())
    ranked = (
        counts.withColumn("rank", F.row_number().over(w))
        .withColumn(
            "cum_cnt",
            F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .filter(F.col("rank") <= VOCAB_TOPK)
    )
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            "rank",
            F.col("g").alias("gram"),
            "cnt",
            F.round(F.col("cnt") / F.col("total"), 6).alias("share"),
            F.round(F.col("cum_cnt") / F.col("total"), 6).alias(
                "cum_coverage"
            ),
        )
    )


NOVELTY_NGRAM = 3


def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    3-grams whose FIRST corpus occurrence (min doc_id owner) is the doc
    itself — the memorization-risk / contribution signal dedup teams
    rank marginal documents by (a doc that introduces nothing new is a
    soft duplicate even when no single rung flags it).

    Shape: distinct (doc_id, gram) pairs → gram-keyed min(doc_id) agg
    (the first-occurrence table, the persisted artifact at scale) →
    join back on gram → per-doc ratio. Two shuffles, both on keys with
    bounded per-key cardinality; no windows over corpus-sized data."""
    d = fan_out_small_scan(load_table(spark, sf_dir, "documents"))
    t = d.select("doc_id", F.split("text", " ").alias("toks"))
    # degenerate docs have zero grams → no novelty row (nothing to rank)
    grams = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN toks IS NULL OR size(toks) = 0"
                " OR (size(toks) = 1 AND element_at(toks, 1) = '')"
                " THEN array()"
                f" ELSE array_distinct(transform("
                f" sequence(1, greatest(size(toks) - {NOVELTY_NGRAM - 1}, 1)),"
                f" i -> concat_ws(' ', slice(toks, i, {NOVELTY_NGRAM})))) END"
            )
        ).alias("g"),
    )
    first = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_grams"), 6).alias(
                "novelty"
            ),
        )
    )


def corpus_weighted_median_len(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-WEIGHTED median document length per source: the length L
    such that half the source's TOKENS (not documents) live in docs of
    length ≤ L — the statistic that actually predicts sequence-packing
    waste and truncation rates (a doc-count median is dominated by the
    many short docs that carry few of the tokens).

    Exactness: nearest-rank over cumulative token weight — the
    smallest length whose running token total reaches ceil(W/2) —
    picked from the (source, len) HISTOGRAM by cumulative sum, the
    same scale discipline as funnel_time_to_convert (windows over the
    histogram, never per-doc rows). Output also carries the doc-count
    median for the contrast the docstring claims."""
    d = load_table(spark, sf_dir, "documents")
    # degenerate docs (NULL/empty text) count as length 0, not as a
    # NULL-length bucket: NULL lengths sort FIRST in Spark windows and
    # LAST in DuckDB, silently shifting every nearest-rank pick
    lens = d.select(
        "source",
        F.when(F.col("text").isNull() | (F.col("text") == ""), F.lit(0))
        .otherwise(F.size(F.split("text", " ")))
        .cast("bigint")
        .alias("len"),
    )
    hist = lens.groupBy("source", "len").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("len").cast("bigint").alias("w"),
    )
    # explicit ROWS frame to match the oracle's ROWS BETWEEN frame by
    # construction (len is unique per source in the histogram, but the
    # default RANGE frame would include peers if it were not)
    wt = (
        Window.partitionBy("source")
        .orderBy("len")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("source")
    cum = hist.select(
        "source",
        "len",
        F.sum("n_docs").over(wt).alias("cum_docs"),
        F.sum("w").over(wt).alias("cum_w"),
        F.sum("n_docs").over(wall).alias("tot_docs"),
        F.sum("w").over(wall).alias("tot_w"),
    )
    pick = lambda cumc, totc: F.min(  # noqa: E731 — nearest-rank pick
        F.when(
            F.col(cumc)
            >= F.expr(f"cast(ceil(0.5 * {totc}) as bigint)"),
            F.col("len"),
        )
    )
    return cum.groupBy("source").agg(
        F.max("tot_docs").alias("n_docs"),
        F.max("tot_w").alias("total_tokens"),
        pick("cum_docs", "tot_docs").cast("bigint").alias("median_len"),
        pick("cum_w", "tot_w")
        .cast("bigint")
        .alias("token_weighted_median_len"),
    )


# per-language upsampling factors for the rebalanced training mix —
# the config a real pipeline passes in; fractional parts are realized
# by a deterministic md5 coin per (doc, weight) so replays are exact
UPSAMPLE_WEIGHTS: dict[str, float] = {
    "en": 1.0,
    "de": 2.5,
    "fr": 3.0,
    "es": 2.25,
    "zh": 1.5,
}


def corpus_mix_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted UPSAMPLING of the training mix: each doc
    is repeated floor(w) times plus one more with probability frac(w),
    realized as an md5-hash threshold on the doc id — the complement
    of the hash-threshold DOWNsampling in corpus_mix_equalize_hash,
    and the standard way low-resource languages reach their target
    share without a shuffle (DoReMi/mT5-style mixes upsample tails).

    Exactness + scale: n_copies is a per-row integer expression
    (floor + one 32-bit md5 compare against the fraction scaled to
    2^31), the repetition is explode(sequence(1, n_copies)) — map-side
    only, zero exchanges, output rows ∝ Σ weights; a replay produces
    byte-identical copies (copy_idx is part of the output, so
    downstream shuffles can't collapse the duplicates)."""
    d = load_table(spark, sf_dir, "documents")
    whens = None
    for lang, wgt in UPSAMPLE_WEIGHTS.items():
        base = int(wgt)
        frac_scaled = int(round((wgt - base) * (1 << 31)))
        expr = F.lit(base) + F.when(
            F.expr(
                "conv(substr(md5(concat('up:', cast(doc_id as string)"
                f", ':', '{lang}')), 1, 8), 16, 10) % 2147483648L"
                f" < {frac_scaled}L"
            ),
            1,
        ).otherwise(0)
        whens = (
            F.when(F.col("lang") == lang, expr)
            if whens is None
            else whens.when(F.col("lang") == lang, expr)
        )
    n_copies = whens.otherwise(F.lit(1)).cast("int")
    return (
        d.select("doc_id", "lang", n_copies.alias("n_copies"))
        .select(
            "doc_id",
            "lang",
            F.explode(F.expr("sequence(1, n_copies)")).alias("copy_idx"),
        )
    )


def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary: the least-squares slope
    of ln(frequency) on ln(rank) over the rank-frequency table (natural
    text sits near −1; a synthetic or template-heavy corpus deviates
    loudly — one of the cheapest whole-corpus health numbers).

    Exactness: ln(rank) and ln(freq) floor-quantize to 1e-6 BIGINTs
    (the tfidf idiom), so Σx, Σy, Σxy, Σx², Σy² are exact integer sums
    in DECIMAL(38,0) (xy products reach ~4e14 per term — int64 would
    overflow on a large vocab) and the closed-form slope/intercept/r²
    are three float divisions at the end. Shape: one token explode →
    vocab agg, then a rank window over the VOCAB histogram (the
    vocabulary-sized model-artifact scale caveat shared with
    doc_unigram_logprob) → a 1-row aggregate."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    xy = vocab.select(
        F.expr(
            "cast(floor(ln(cast(row_number() over (order by n desc,"
            " tok asc) as double)) * 1000000.0D) as bigint)"
        ).alias("x"),
        F.expr(
            "cast(floor(ln(cast(n as double)) * 1000000.0D) as bigint)"
        ).alias("y"),
    )
    agg = xy.agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias(
            "sxy"
        ),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias(
            "sxx"
        ),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias(
            "syy"
        ),
    )
    num = "(cast(n_terms as double) * cast(sxy as double)" \
          " - cast(sx as double) * cast(sy as double))"
    denx = "(cast(n_terms as double) * cast(sxx as double)" \
           " - cast(sx as double) * cast(sx as double))"
    deny = "(cast(n_terms as double) * cast(syy as double)" \
           " - cast(sy as double) * cast(sy as double))"
    return agg.select(
        "n_terms",
        F.round(F.expr(f"{num} / {denx}"), 6).alias("zipf_slope"),
        F.round(
            F.expr(f"{num} * {num} / ({denx} * {deny})"), 6
        ).alias("r2"),
    )


def corpus_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report per language: how many
    PACK_BUDGET_TOKENS sequences the concat-and-chunk layout needs,
    its tail padding, and the efficiency — next to the NAIVE
    one-doc-per-sequence baseline (each doc padded to its own
    ceil(n/budget) sequences), whose padding is what packing exists to
    eliminate. The number a training-infra review asks for before
    adopting sequence packing.

    Exactness: pure integer arithmetic (token counts, ceil-division)
    until the two efficiency divisions. Shape: one map-side token
    count + one per-lang aggregate — cheaper than the packing job it
    describes; nothing corpus-sized leaves the scan."""
    d = load_table(spark, sf_dir, "documents")
    b = PACK_BUDGET_TOKENS
    toks = d.select(
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n"),
    )
    agg = toks.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n").cast("bigint").alias("total_tokens"),
        F.sum(F.expr(f"(n + {b - 1}L) div {b}")).cast("bigint").alias(
            "naive_seqs"
        ),
    )
    return agg.select(
        "lang",
        "n_docs",
        "total_tokens",
        F.expr(f"(total_tokens + {b - 1}L) div {b}").cast("bigint")
        .alias("packed_seqs"),
        F.expr(
            f"((total_tokens + {b - 1}L) div {b}) * {b}L - total_tokens"
        ).cast("bigint").alias("packed_padding"),
        "naive_seqs",
        (F.col("naive_seqs") * b - F.col("total_tokens"))
        .cast("bigint")
        .alias("naive_padding"),
        F.round(
            F.col("total_tokens").cast("double")
            / (F.expr(f"(total_tokens + {b - 1}L) div {b}") * b),
            6,
        ).alias("packed_efficiency"),
        F.round(
            F.col("total_tokens").cast("double")
            / (F.col("naive_seqs") * b),
            6,
        ).alias("naive_efficiency"),
    )


def text_readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability per document from three deterministic
    integer counts — words (whitespace tokens), sentences (terminal
    punctuation, floor 1) and a syllable PROXY (vowel-group runs, the
    standard cheap stand-in) — plus the per-language summary a corpus
    review reads (readability is a quality signal: gibberish and
    boilerplate both land far off the natural-language band).

    score = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)

    Exactness: all three counts are integers both engines derive from
    the same regexes ([aeiou]+ runs over the lowercased text; [.!?]
    occurrences); the score is two IEEE divisions + fixed-order
    arithmetic on them, rounded at 4. Shape: map-side per-doc counts,
    ONE lang aggregate — scan-bound at any scale."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n_words"),
        F.greatest(
            F.regexp_count("text", F.lit("[.!?]")), F.lit(1)
        )
        .cast("bigint")
        .alias("n_sentences"),
        F.greatest(
            F.regexp_count(F.lower("text"), F.lit("[aeiou]+")), F.lit(1)
        )
        .cast("bigint")
        .alias("n_syllables"),
    )
    flesch = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words") / F.col("n_sentences"))
        - F.lit(84.6) * (F.col("n_syllables") / F.col("n_words")),
        4,
    )
    scored = per_doc.withColumn("flesch", flesch)
    return scored.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.sum("n_sentences").cast("bigint").alias("n_sentences"),
        F.sum("n_syllables").cast("bigint").alias("n_syllables"),
        # mean over the 1e-4-lattice per-doc scores as an exact BIGINT
        # sum of lattice units before ONE division: a double AVG is
        # merge-order-dependent in its last ulp, which can flip the
        # round-at-4 digit on duplicate-heavy corpora (the class the
        # round-13 skew audit caught in doc_unigram_logprob). min/max
        # are exact selections and stay as-is.
        F.round(
            F.sum(F.expr("cast(round(flesch * 10000.0D) as bigint)"))
            / F.count("*")
            / F.lit(10000.0),
            4,
        ).alias("mean_flesch"),
        F.round(F.min("flesch"), 4).alias("min_flesch"),
        F.round(F.max("flesch"), 4).alias("max_flesch"),
    )

_READABILITY_ORACLE = """
    WITH per_doc AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(GREATEST(len(regexp_extract_all(text, '[.!?]')), 1)
                    AS BIGINT) AS n_sentences,
               CAST(GREATEST(
                   len(regexp_extract_all(LOWER(text), '[aeiou]+')), 1)
                    AS BIGINT) AS n_syllables
        FROM documents
    ),
    scored AS (
        SELECT lang, n_words, n_sentences, n_syllables,
               ROUND(206.835
                     - 1.015 * (n_words / CAST(n_sentences AS DOUBLE))
                     - 84.6 * (n_syllables / CAST(n_words AS DOUBLE)),
                     4) AS flesch
        FROM per_doc
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_sentences) AS BIGINT) AS n_sentences,
           CAST(SUM(n_syllables) AS BIGINT) AS n_syllables,
           ROUND(CAST(SUM(CAST(ROUND(flesch * 10000.0) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 10000.0, 4) AS mean_flesch,
           ROUND(MIN(flesch), 4) AS min_flesch,
           ROUND(MAX(flesch), 4) AS max_flesch
    FROM scored GROUP BY lang
"""


def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate pressure per corpus source: document count,
    distinct content hashes, duplicate count and rate — the per-slice
    view of ``dedup_exact_docs`` an operator reads to decide WHICH
    feed is polluting the mix (a global dup rate hides a single bad
    crawler). One scan, one (source) aggregate over md5 hashes —
    map-side combinable, no joins."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("source", F.md5(F.col("text")).alias("h"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count_distinct("h").cast("bigint").alias("n_unique"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            (F.col("n_docs") - F.col("n_unique")).alias("n_duplicates"),
            F.round(
                (F.col("n_docs") - F.col("n_unique")).cast("double")
                / F.col("n_docs"),
                6,
            ).alias("dup_rate"),
        )
    )


def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth (Heaps'-law curve): the corpus split into 10
    deterministic buckets (doc_id % 10, a stable proxy for ingest
    order), reporting per bucket the new-word count, cumulative
    vocabulary size, and cumulative token count — the curve a corpus
    review reads to judge whether more data still buys new vocabulary
    or only repeats it.

    Shape: ONE token explode; each word's FIRST bucket is a min
    aggregate (never 10 repeated vocab scans); the cumulative columns
    are windows over the ≤10-row bucket table."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        (F.col("doc_id") % 10).cast("int").alias("bucket"),
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"),
    ).filter(F.col("w") != "")
    first_b = words.groupBy("w").agg(F.min("bucket").alias("bucket"))
    new_words = first_b.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_new_words")
    )
    toks = words.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_tokens")
    )
    wcum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # drive from the token buckets: a bucket that adds NO new words is
    # the interesting data point (saturation), not a dropped row
    return (
        toks.join(new_words, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_new_words", F.lit(0))
            .cast("bigint")
            .alias("n_new_words"),
            "n_tokens",
        )
        .select(
            "bucket",
            "n_new_words",
            "n_tokens",
            F.sum("n_new_words").over(wcum).cast("bigint").alias(
                "vocab_size"
            ),
            F.sum("n_tokens").over(wcum).cast("bigint").alias(
                "cum_tokens"
            ),
        )
    )


def corpus_mix_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How far the language mix sits from uniform: share entropy, KL
    divergence to the uniform target, and the dominant share — the
    one-row scorecard a mixing policy (equalize/temperature/upsample)
    is judged against before and after.

    Exactness: shares are single divisions over exact counts; each
    p·ln(p) term floor-quantizes its ln at 1e-6 (the tfidf idiom) and
    the ≤|langs| terms fold in sorted-lang order (the served-BM25
    idiom), so the float sum is order-fixed cross-engine.
    KL(p‖uniform) = ln(k) + Σ p·ln(p) — one extra quantized ln."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n")
    )
    # share denominator as a scalar subquery (round 14): replaces the
    # partitionBy(lit(1)) window — no SinglePartition exchange; the
    # total's agg reuses the lang-count exchange only at runtime
    # (MergeScalarSubqueries or the AQE stage cache; the static plan
    # shows no ReusedExchange)
    tot = counts.agg(F.sum("n").alias("t"))
    shares = counts.select(
        "lang",
        "n",
        (F.col("n") / tot.scalar()).alias("p"),
    )
    terms = shares.select(
        "lang",
        "p",
        F.expr(
            "p * (floor(ln(p) * 1000000.0D) / 1000000.0D)"
        ).alias("t"),
    )
    # empty corpus → NULL entropy/KL (0 languages has no mix to score;
    # an unguarded fold gives -0.0 here while DuckDB's list() of no
    # rows is NULL, and DuckDB's ln(0) is an error, not NULL)
    return terms.agg(
        F.count("*").cast("bigint").alias("n_langs"),
        F.round(F.max("p"), 6).alias("max_share"),
        F.when(
            F.count("*") > 0,
            F.round(
                -F.expr(
                    "aggregate(array_sort(collect_list(struct(lang, t)))"
                    ", 0.0D, (acc, x) -> acc + x.t)"
                ),
                6,
            ),
        ).alias("entropy"),
        F.when(
            F.count("*") > 0,
            F.round(
                F.expr(
                    "floor(ln(cast(count(*) as double)) * 1000000.0D)"
                    " / 1000000.0D"
                    " + aggregate(array_sort(collect_list(struct(lang, t)))"
                    ", 0.0D, (acc, x) -> acc + x.t)"
                ),
                6,
            ),
        ).alias("kl_to_uniform"),
    )


def corpus_source_lang_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The source × language composition matrix: doc and token counts
    per cell, each cell's share within its source, and its share of
    the whole corpus — the cross-dimensional view the per-dimension
    mixing reports (lang_breakdown, corpus_mix_*) can't show (a
    balanced language mix can still hide a source that is 100% one
    language).

    Shape: one scan, one (source, lang) aggregate (≤|sources|·|langs|
    keys, map-side combinable); both share denominators come from
    windows over the tiny grouped table. Exact integers until the two
    share divisions."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("source", "lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias(
            "n_tokens"
        ),
    )
    wsrc = Window.partitionBy("source")
    # corpus-wide denominator as a scalar subquery (round 14): the
    # per-source share keeps its KEYED window (source-partitioned —
    # scales), but the whole-corpus total no longer parks the grouped
    # table on one task; its agg reuses the cell exchange
    tot = cells.agg(F.sum("n_docs").alias("t"))
    return cells.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(wsrc),
            6,
        ).alias("share_in_source"),
        F.round(
            F.col("n_docs").cast("double") / tot.scalar(),
            6,
        ).alias("share_of_corpus"),
    )


# JS-divergence vocabulary bound: the pairwise stage runs over the
# global top-V terms only, so its cost is langs² · V regardless of
# corpus size (the vocab_coverage_topk discipline).
JS_TOP_V = 200


def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language lexical-richness profile: vocabulary size, hapax
    legomena (terms that occur exactly once), hapax ratio, and
    type-token ratio — the classic corpus-linguistics health row (a
    template-generated or heavily duplicated corpus shows an abnormal
    hapax ratio long before a dedup pass proves it).

    Shape: (lang, term) hash agg (partial map-side combine), then a
    vocab-sized per-lang rollup — the shuffle carries vocabulary
    rows, never the corpus. All integer counts; the two ratios divide
    once at output, rounded at 6."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(text.tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    tc = toks.groupBy("lang", "term").agg(
        F.count("*").cast("bigint").alias("c")
    )
    return (
        tc.groupBy("lang")
        .agg(
            F.sum("c").cast("bigint").alias("total_tokens"),
            F.count("*").cast("bigint").alias("vocab_size"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hapax"),
        )
        .select(
            "lang",
            "total_tokens",
            "vocab_size",
            "n_hapax",
            F.round(
                F.col("n_hapax").cast("double")
                / F.col("vocab_size").cast("double"),
                6,
            ).alias("hapax_ratio"),
            F.round(
                F.col("vocab_size").cast("double")
                / F.col("total_tokens").cast("double"),
                6,
            ).alias("type_token_ratio"),
        )
    )


def lang_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between per-language unigram
    distributions over the global top-V vocabulary — the
    distribution-distance matrix a corpus-mixing review reads (two
    languages/sources with near-zero JS are near-duplicates at the
    distribution level; JS is symmetric and bounded by ln 2, unlike
    raw KL).

    Shape: (lang, term) counts restrict to the broadcast top-V term
    list, densify against the langs × V grid (so a term absent from
    one language still contributes its KL mass — an inner join would
    silently drop exactly the terms that carry the divergence), then
    ONE term-keyed self-join bounded at langs²·V rows. Exactness:
    distributions renormalize within the top-V slice; each per-term
    contribution quantizes to a 1e-9-grid BIGINT BEFORE the pair sum
    (the merge-order house rule), one division at output, rounded at
    6."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(text.tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    tc = toks.groupBy("lang", "term").agg(
        F.count("*").cast("bigint").alias("c")
    )
    topv = (
        tc.groupBy("term")
        .agg(F.sum("c").alias("g"))
        .orderBy(F.col("g").desc(), F.col("term").asc())
        .limit(JS_TOP_V)
        .select("term")
    )
    langs = tc.select("lang").distinct()
    grid = langs.crossJoin(F.broadcast(topv))
    dense = grid.join(tc, ["lang", "term"], "left").select(
        "lang", "term", F.coalesce("c", F.lit(0)).alias("c")
    )
    totals = dense.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    dn = dense.join(F.broadcast(totals), "lang")
    a = dn.select(
        F.col("lang").alias("lang_a"),
        "term",
        F.col("c").alias("ca"),
        F.col("n").alias("na"),
    )
    b = dn.select(
        F.col("lang").alias("lang_b"),
        "term",
        F.col("c").alias("cb"),
        F.col("n").alias("nb"),
    )
    # per-term JS contribution, quantized to BIGINT before the sum:
    # p = ca/na, q = cb/nb, m = (p+q)/2; zero counts contribute 0. The
    # opposite-side n > 0 guards keep 0/0 (a language with zero top-V
    # mass) out of the m denominator: without them Spark's NaN→cast-0
    # and DuckDB's NULL→SUM-skip only coincidentally agree (ADVICE r12)
    contrib = (
        "cast(floor(("
        " (case when ca > 0 and nb > 0 then (cast(ca as double)/cast(na as double))"
        "   * ln(2.0D * (cast(ca as double)/cast(na as double))"
        "        / (cast(ca as double)/cast(na as double)"
        "           + cast(cb as double)/cast(nb as double)))"
        "   else 0.0D end)"
        " + (case when cb > 0 and na > 0 then (cast(cb as double)/cast(nb as double))"
        "   * ln(2.0D * (cast(cb as double)/cast(nb as double))"
        "        / (cast(ca as double)/cast(na as double)"
        "           + cast(cb as double)/cast(nb as double)))"
        "   else 0.0D end)"
        ") * 1000000000.0D) as bigint)"
    )
    pairs = (
        a.join(b, "term")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .select(
            "lang_a",
            "lang_b",
            F.expr(contrib).alias("t"),
            F.when((F.col("ca") > 0) & (F.col("cb") > 0), 1)
            .otherwise(0)
            .alias("shared"),
        )
    )
    return pairs.groupBy("lang_a", "lang_b").agg(
        F.round(
            F.lit(0.5) * F.sum("t").cast("double") / 1e9, 6
        ).alias("js_nats"),
        F.sum("shared").cast("bigint").alias("shared_terms"),
    )


_HAPAX_ORACLE = """
    WITH tc AS (
        SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT lang, UNNEST(string_split(text, ' ')) AS term
              FROM documents)
        WHERE term != ''
        GROUP BY lang, term
    )
    SELECT lang,
           CAST(SUM(c) AS BIGINT) AS total_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
           ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_ratio,
           ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
               AS type_token_ratio
    FROM tc GROUP BY lang
"""


def _js_divergence_oracle() -> str:
    return f"""
        WITH tc AS (
            SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT lang, UNNEST(string_split(text, ' ')) AS term
                  FROM documents)
            WHERE term != ''
            GROUP BY lang, term
        ),
        topv AS (
            SELECT term FROM (
                SELECT term, SUM(c) AS g FROM tc GROUP BY term
            )
            ORDER BY g DESC, term ASC LIMIT {JS_TOP_V}
        ),
        grid AS (
            SELECT l.lang, t.term
            FROM (SELECT DISTINCT lang FROM tc) l CROSS JOIN topv t
        ),
        dense AS (
            SELECT g.lang, g.term, COALESCE(tc.c, 0) AS c
            FROM grid g LEFT JOIN tc
                ON g.lang = tc.lang AND g.term = tc.term
        ),
        dn AS (
            SELECT d.lang, d.term, d.c, tot.n
            FROM dense d JOIN (
                SELECT lang, CAST(SUM(c) AS BIGINT) AS n
                FROM dense GROUP BY lang
            ) tot ON d.lang = tot.lang
        ),
        pairs AS (
            SELECT a.lang AS lang_a, b.lang AS lang_b,
                   CAST(FLOOR((
                     (CASE WHEN a.c > 0 AND b.n > 0 THEN
                        (CAST(a.c AS DOUBLE)/CAST(a.n AS DOUBLE))
                        * LN(2.0 * (CAST(a.c AS DOUBLE)/CAST(a.n AS DOUBLE))
                             / (CAST(a.c AS DOUBLE)/CAST(a.n AS DOUBLE)
                                + CAST(b.c AS DOUBLE)/CAST(b.n AS DOUBLE)))
                        ELSE 0.0 END)
                     + (CASE WHEN b.c > 0 AND a.n > 0 THEN
                        (CAST(b.c AS DOUBLE)/CAST(b.n AS DOUBLE))
                        * LN(2.0 * (CAST(b.c AS DOUBLE)/CAST(b.n AS DOUBLE))
                             / (CAST(a.c AS DOUBLE)/CAST(a.n AS DOUBLE)
                                + CAST(b.c AS DOUBLE)/CAST(b.n AS DOUBLE)))
                        ELSE 0.0 END)
                   ) * 1000000000.0) AS BIGINT) AS t,
                   CASE WHEN a.c > 0 AND b.c > 0 THEN 1 ELSE 0 END
                       AS shared
            FROM dn a JOIN dn b
                ON a.term = b.term AND a.lang < b.lang
        )
        SELECT lang_a, lang_b,
               ROUND(0.5 * CAST(SUM(t) AS DOUBLE) / 1e9, 6) AS js_nats,
               CAST(SUM(shared) AS BIGINT) AS shared_terms
        FROM pairs GROUP BY lang_a, lang_b
    """


QUERIES = {
    "text_hapax_ratio": text_hapax_ratio,
    "lang_js_divergence": lang_js_divergence,
    "dedup_rate_by_source": dedup_rate_by_source,
    "corpus_source_lang_matrix": corpus_source_lang_matrix,
    "vocab_growth_curve": vocab_growth_curve,
    "corpus_mix_divergence": corpus_mix_divergence,
    "text_readability_score": text_readability_score,
    "corpus_weighted_median_len": corpus_weighted_median_len,
    "corpus_mix_upsample": corpus_mix_upsample,
    "text_zipf_fit": text_zipf_fit,
    "corpus_pack_efficiency": corpus_pack_efficiency,
    "doc_chunk": doc_chunk,
    "tfidf_top_terms": tfidf_top_terms,
    "filter_blocklist": filter_blocklist,
    "top_terms_per_lang": top_terms_per_lang,
    "contamination_ngram": contamination_ngram,
    "pipeline_end_to_end": pipeline_end_to_end,
    "doc_pii_scrub": doc_pii_scrub,
    "corpus_mix_equalize": corpus_mix_equalize,
    "corpus_mix_equalize_hash": corpus_mix_equalize_hash,
    "corpus_mix_temperature": corpus_mix_temperature,
    "pack_token_sequences": pack_token_sequences,
    "pack_token_sequences_sharded": pack_token_sequences_sharded,
    "vocab_coverage_topk": vocab_coverage_topk,
    "doc_ngram_novelty": doc_ngram_novelty,
}

_STOP = ", ".join(f"'{w}'" for w in text.STOPWORDS)
_BLOCKED = ", ".join(f"'{s}'" for s in BLOCKED_SOURCES)

_UPSAMPLE_CASE = " ".join(
    f"WHEN lang = '{lang}' THEN {int(w)} + CASE WHEN"
    f" ('0x' || substr(md5('up:' || CAST(doc_id AS VARCHAR) || ':{lang}'),"
    f" 1, 8))::BIGINT % 2147483648"
    f" < {int(round((w - int(w)) * (1 << 31)))} THEN 1 ELSE 0 END"
    for lang, w in UPSAMPLE_WEIGHTS.items()
)

ORACLES = {
    "text_hapax_ratio": _HAPAX_ORACLE,
    "lang_js_divergence": _js_divergence_oracle(),
    "corpus_source_lang_matrix": """
        WITH cells AS (
            SELECT source, lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                       AS n_tokens
            FROM documents GROUP BY source, lang
        )
        SELECT source, lang, n_docs, n_tokens,
               ROUND(CAST(n_docs AS DOUBLE)
                     / SUM(n_docs) OVER (PARTITION BY source), 6)
                   AS share_in_source,
               ROUND(CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (), 6)
                   AS share_of_corpus
        FROM cells
    """,
    "dedup_rate_by_source": """
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
               CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT)
                   AS n_duplicates,
               ROUND(CAST(COUNT(*) - COUNT(DISTINCT md5(text))
                     AS DOUBLE) / COUNT(*), 6) AS dup_rate
        FROM documents
        GROUP BY source
    """,
    "vocab_growth_curve": """
        WITH words AS (
            SELECT CAST(doc_id % 10 AS INTEGER) AS bucket,
                   UNNEST(string_split(LOWER(text), ' ')) AS w
            FROM documents
        ),
        clean AS (SELECT bucket, w FROM words WHERE w <> ''),
        firstb AS (
            SELECT w, MIN(bucket) AS bucket FROM clean GROUP BY w
        ),
        newb AS (
            SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_new_words
            FROM firstb GROUP BY bucket
        ),
        toks AS (
            SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens
            FROM clean GROUP BY bucket
        )
        SELECT t.bucket,
               CAST(COALESCE(n.n_new_words, 0) AS BIGINT) AS n_new_words,
               t.n_tokens,
               CAST(SUM(COALESCE(n.n_new_words, 0)) OVER (
                    ORDER BY t.bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS vocab_size,
               CAST(SUM(t.n_tokens) OVER (ORDER BY t.bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_tokens
        FROM toks t LEFT JOIN newb n USING (bucket)
    """,
    "corpus_mix_divergence": """
        WITH shares AS (
            SELECT lang,
                   COUNT(*) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS p
            FROM documents GROUP BY lang
        ),
        terms AS (
            SELECT lang, p,
                   p * (floor(ln(p) * 1000000.0) / 1000000.0) AS t
            FROM shares
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_langs,
               ROUND(MAX(p), 6) AS max_share,
               -- COUNT(*) > 0 arms: DuckDB's ln(0) is an ERROR (not
               -- NULL), and list() of no rows is NULL - pin NULL
               -- entropy/KL on an empty corpus (see the Spark twin)
               CASE WHEN COUNT(*) > 0 THEN
                   ROUND(-list_reduce(list(t ORDER BY lang),
                                      (acc, x) -> acc + x), 6)
               END AS entropy,
               CASE WHEN COUNT(*) > 0 THEN
                   ROUND(floor(ln(CAST(COUNT(*) AS DOUBLE)) * 1000000.0)
                         / 1000000.0
                         + list_reduce(list(t ORDER BY lang),
                                       (acc, x) -> acc + x), 6)
               END AS kl_to_uniform
        FROM terms
    """,
    "text_readability_score": _READABILITY_ORACLE,
    "corpus_weighted_median_len": """
        WITH lens AS (
            SELECT source,
                   CAST(CASE WHEN text IS NULL OR text = '' THEN 0
                             ELSE len(string_split(text, ' '))
                        END AS BIGINT) AS len
            FROM documents
        ),
        hist AS (
            SELECT source, len,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len) AS BIGINT) AS w
            FROM lens GROUP BY source, len
        ),
        cum AS (
            SELECT source, len,
                   SUM(n_docs) OVER (PARTITION BY source ORDER BY len
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_docs,
                   SUM(w) OVER (PARTITION BY source ORDER BY len
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_w,
                   SUM(n_docs) OVER (PARTITION BY source) AS tot_docs,
                   SUM(w) OVER (PARTITION BY source) AS tot_w
            FROM hist
        )
        SELECT source,
               CAST(MAX(tot_docs) AS BIGINT) AS n_docs,
               CAST(MAX(tot_w) AS BIGINT) AS total_tokens,
               CAST(MIN(CASE WHEN cum_docs >=
                                  CAST(CEIL(0.5 * tot_docs) AS BIGINT)
                             THEN len END) AS BIGINT) AS median_len,
               CAST(MIN(CASE WHEN cum_w >=
                                  CAST(CEIL(0.5 * tot_w) AS BIGINT)
                             THEN len END) AS BIGINT)
                   AS token_weighted_median_len
        FROM cum GROUP BY source
    """,
    "text_zipf_fit": """
        WITH vocab AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
            FROM (SELECT UNNEST(string_split(text, ' ')) AS tok
                  FROM documents)
            GROUP BY tok
        ),
        xy AS (
            SELECT CAST(FLOOR(LN(CAST(ROW_NUMBER() OVER (
                           ORDER BY n DESC, tok ASC) AS DOUBLE))
                        * 1000000.0) AS BIGINT) AS x,
                   CAST(FLOOR(LN(CAST(n AS DOUBLE)) * 1000000.0)
                        AS BIGINT) AS y
            FROM vocab
        ),
        agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
                   SUM(CAST(x AS HUGEINT)) AS sx,
                   SUM(CAST(y AS HUGEINT)) AS sy,
                   SUM(CAST(x AS HUGEINT) * y) AS sxy,
                   SUM(CAST(x AS HUGEINT) * x) AS sxx,
                   SUM(CAST(y AS HUGEINT) * y) AS syy
            FROM xy
        )
        SELECT n_terms,
               ROUND((CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
                   AS zipf_slope,
               ROUND((CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     * (CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / ((CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n_terms AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                     6) AS r2
        FROM agg
    """,
    "corpus_pack_efficiency": f"""
        WITH toks AS (
            SELECT lang,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n
            FROM documents
        ),
        agg AS (
            SELECT lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n) AS BIGINT) AS total_tokens,
                   CAST(SUM((n + {PACK_BUDGET_TOKENS - 1})
                            // {PACK_BUDGET_TOKENS}) AS BIGINT)
                       AS naive_seqs
            FROM toks GROUP BY lang
        )
        SELECT lang, n_docs, total_tokens,
               CAST((total_tokens + {PACK_BUDGET_TOKENS - 1})
                    // {PACK_BUDGET_TOKENS} AS BIGINT) AS packed_seqs,
               CAST(((total_tokens + {PACK_BUDGET_TOKENS - 1})
                     // {PACK_BUDGET_TOKENS}) * {PACK_BUDGET_TOKENS}
                    - total_tokens AS BIGINT) AS packed_padding,
               naive_seqs,
               CAST(naive_seqs * {PACK_BUDGET_TOKENS} - total_tokens
                    AS BIGINT) AS naive_padding,
               ROUND(CAST(total_tokens AS DOUBLE)
                     / (((total_tokens + {PACK_BUDGET_TOKENS - 1})
                         // {PACK_BUDGET_TOKENS})
                        * {PACK_BUDGET_TOKENS}), 6)
                   AS packed_efficiency,
               ROUND(CAST(total_tokens AS DOUBLE)
                     / (naive_seqs * {PACK_BUDGET_TOKENS}), 6)
                   AS naive_efficiency
        FROM agg
    """,
    "corpus_mix_upsample": f"""
        WITH c AS (
            SELECT doc_id, lang,
                   CAST(CASE {_UPSAMPLE_CASE} ELSE 1 END AS INTEGER)
                       AS n_copies
            FROM documents
        )
        SELECT doc_id, lang, CAST(copy_idx AS INTEGER) AS copy_idx
        FROM c, UNNEST(generate_series(1, n_copies)) AS t(copy_idx)
    """,
    "vocab_coverage_topk": f"""
        WITH t AS (
            SELECT string_split(text, ' ') AS toks FROM documents
        ),
        grams AS (
            SELECT unnest([array_to_string(toks[i:i + 1], ' ')
                           for i in generate_series(1, greatest(len(toks) - 1, 1))])
                       AS g
            FROM t
        ),
        counts AS (
            SELECT g, COUNT(*) AS cnt FROM grams GROUP BY g
        ),
        ranked AS (
            SELECT g, cnt,
                   ROW_NUMBER() OVER (ORDER BY cnt DESC, g ASC) AS rank,
                   SUM(cnt) OVER (ORDER BY cnt DESC, g ASC
                                  ROWS UNBOUNDED PRECEDING) AS cum_cnt
            FROM counts
        )
        SELECT CAST(rank AS INTEGER) AS rank, g AS gram, cnt,
               ROUND(CAST(cnt AS DOUBLE)
                     / (SELECT SUM(cnt) FROM counts), 6) AS share,
               ROUND(CAST(cum_cnt AS DOUBLE)
                     / (SELECT SUM(cnt) FROM counts), 6) AS cum_coverage
        FROM ranked WHERE rank <= {VOCAB_TOPK}
    """,
    "doc_ngram_novelty": f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ),
        grams AS (
            -- degenerate docs yield zero grams (see the Spark twin)
            SELECT doc_id,
                   unnest(CASE WHEN toks IS NULL OR len(toks) = 0
                                    OR toks = [''] THEN []
                          ELSE list_distinct(
                       [array_to_string(toks[i:i + {NOVELTY_NGRAM - 1}], ' ')
                        for i in generate_series(
                            1, greatest(len(toks) - {NOVELTY_NGRAM - 1}, 1))])
                          END) AS g
            FROM t
        ),
        first AS (
            SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g
        )
        SELECT doc_id,
               COUNT(*) AS n_grams,
               CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               ROUND(CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                          AS DOUBLE) / COUNT(*), 6) AS novelty
        FROM grams JOIN first USING (g)
        GROUP BY doc_id
    """,
    "pipeline_end_to_end": f"""
        WITH norm AS (
            SELECT doc_id,
                   TRIM(regexp_replace(
                       regexp_replace(LOWER(text), '[^a-z0-9\\s]', ' ', 'g'),
                       '\\s+', ' ', 'g')) AS n
            FROM documents
        ), dedup AS (
            SELECT md5(n) AS h, MIN(doc_id) AS doc_id, MIN_BY(n, doc_id) AS n
            FROM norm GROUP BY 1
        ), scored AS (
            SELECT h, doc_id, len(string_split(n, ' ')) AS n_tokens,
                   CAST(FLOOR((0.5 * (CAST(len(list_filter(string_split(n, ' '),
                                x -> list_contains([{_STOP}], x))) AS DOUBLE)
                               / len(string_split(n, ' ')))
                        + 0.5 * (CAST(len(list_distinct(string_split(n, ' '))) AS DOUBLE)
                                 / len(string_split(n, ' ')))) * 10000) AS BIGINT) AS q_e4
            FROM dedup
        ), kept AS (
            SELECT * FROM scored
            WHERE q_e4 >= {int(QUALITY_MIN * 10000)} AND n_tokens >= {MIN_TOKENS}
        )
        SELECT ('0x' || substr(h, 1, 4))::BIGINT % 16 AS shard,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(SUM(q_e4) AS BIGINT) AS sum_quality_e4
        FROM kept
        GROUP BY 1
    """,
    "doc_chunk": f"""
        WITH t AS (
            SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
        ), starts AS (
            -- degenerate docs chunk to nothing (see the Spark twin)
            SELECT doc_id, lang, toks,
                   unnest(CASE WHEN toks IS NULL OR len(toks) = 0
                                    OR toks = [''] THEN []
                               ELSE generate_series(1, greatest(len(toks), 1),
                                                    {CHUNK_STRIDE})
                          END) AS s
            FROM t
        )
        SELECT doc_id, lang,
               len(toks) AS doc_tokens,
               CAST((s - 1) // {CHUNK_STRIDE} AS INT) AS chunk_id,
               array_to_string(toks[s:s + {CHUNK_TOKENS} - 1], ' ') AS chunk_text,
               len(toks[s:s + {CHUNK_TOKENS} - 1]) AS chunk_tokens
        FROM starts
    """,
    "tfidf_top_terms": f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        ), clean AS (
            SELECT doc_id, term FROM toks
            WHERE term NOT IN ({_STOP}) AND term <> ''
        ), tf AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM clean GROUP BY 1, 2
        ), df AS (
            SELECT term, COUNT(DISTINCT doc_id) AS doc_freq FROM clean GROUP BY 1
        ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   FLOOR(tf.tf * FLOOR(LN(CAST(n.n_docs AS DOUBLE) / df.doc_freq)
                                       * 1000000.0) / 1000000.0 * 10000.0) / 10000.0
                       AS tfidf
            FROM tf JOIN df USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, tfidf, CAST(rn AS INT) AS rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                         ORDER BY tfidf DESC, term ASC) AS rn
            FROM scored)
        WHERE rn <= 3
    """,
    "filter_blocklist": f"""
        -- NULL-source docs survive the blocklist (anti-join semantics:
        -- an unknown source is not a blocked source) - a bare NOT IN
        -- would NULL out and drop them where Spark's left_anti keeps
        -- them. NULL text stays dropped by the marker rule on both
        -- engines (NOT regexp_matches(NULL) is NULL).
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        WHERE (source IS NULL OR source NOT IN ({_BLOCKED}))
          AND NOT regexp_matches(text, 'FORBIDDEN_MARKER')
        GROUP BY lang, source
    """,
    "top_terms_per_lang": f"""
        WITH toks AS (
            SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents
        ), counts AS (
            SELECT lang, term, COUNT(*) AS n FROM toks
            WHERE term NOT IN ({_STOP}) AND term <> ''
            GROUP BY 1, 2
        )
        SELECT lang, term, n, CAST(rn AS INT) AS rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                         ORDER BY n DESC, term ASC) AS rn
            FROM counts)
        WHERE rn <= 5
    """,
    "doc_pii_scrub": f"""
        WITH staged AS (
            SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@mail.example.com'
                        || CASE WHEN doc_id % 3 = 0
                                THEN ' call 555-'
                                     || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                                ELSE '' END
                        || CASE WHEN doc_id % 5 = 0
                                THEN ' host 10.0.'
                                     || CAST(doc_id % 256 AS VARCHAR) || '.7'
                                ELSE '' END AS t
            FROM documents
        ), red AS (
            SELECT doc_id, t,
                   regexp_replace(regexp_replace(regexp_replace(t,
                       '{PII_EMAIL}', '<EMAIL>', 'g'),
                       '{PII_PHONE}', '<PHONE>', 'g'),
                       '{PII_IP}', '<IP>', 'g') AS r
            FROM staged
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '{PII_EMAIL}')) AS INT) AS n_emails,
               CAST(len(regexp_extract_all(t, '{PII_PHONE}')) AS INT) AS n_phones,
               CAST(len(regexp_extract_all(t, '{PII_IP}')) AS INT) AS n_ips,
               CAST(LENGTH(r) AS INT) AS clean_len,
               md5(r) AS clean_hash
        FROM red
    """,
    "corpus_mix_equalize": """
        WITH q AS (
            SELECT MIN(n) AS min_n
            FROM (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1)
        ), ranked AS (
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
                   ) AS rn
            FROM documents
        )
        SELECT doc_id, lang, CAST(rn AS INT) AS rank_in_lang
        FROM ranked, q
        WHERE rn <= min_n
    """,
    "corpus_mix_equalize_hash": f"""
        WITH counts AS (
            SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY 1
        ), q AS (
            SELECT MIN(n_lang) AS min_n FROM counts
        ), frac AS (
            SELECT lang, CAST(min_n AS DOUBLE) / n_lang AS keep_frac
            FROM counts, q
        )
        SELECT d.doc_id, d.lang
        FROM documents d JOIN frac USING (lang)
        WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, {_MIX_HASH_HEX}))::BIGINT
              / {_MIX_HASH_DEN!r} < keep_frac
    """,
    "corpus_mix_temperature": f"""
        WITH counts AS (
            SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY 1
        ), q AS (
            SELECT MIN(n_lang) AS min_n FROM counts
        ), frac AS (
            SELECT lang,
                   POWER(CAST(min_n AS DOUBLE) / n_lang, 1.0 - {MIX_ALPHA})
                       AS keep_frac
            FROM counts, q
        )
        SELECT d.doc_id, d.lang
        FROM documents d JOIN frac USING (lang)
        WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, {_MIX_HASH_HEX}))::BIGINT
              / {_MIX_HASH_DEN!r} < keep_frac
    """,
    "pack_token_sequences": f"""
        WITH toks AS (
            SELECT doc_id, lang,
                   len(string_split(text, ' ')) AS n_tokens,
                   md5(CAST(doc_id AS VARCHAR)) AS h
            FROM documents
        ), staged AS (
            SELECT doc_id, lang, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY lang ORDER BY h ASC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS cum_before
            FROM toks
        )
        SELECT doc_id, lang,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(cum_before // {PACK_BUDGET_TOKENS} AS BIGINT) AS pack_id,
               CAST(cum_before % {PACK_BUDGET_TOKENS} AS INT) AS pack_offset
        FROM staged
    """,
    "pack_token_sequences_sharded": f"""
        WITH toks AS (
            SELECT doc_id, lang,
                   CAST(('0x' || substr(md5(text), 1, 4))::BIGINT % 16 AS INT) AS shard,
                   len(string_split(text, ' ')) AS n_tokens,
                   md5(CAST(doc_id AS VARCHAR)) AS h
            FROM documents
        ), staged AS (
            SELECT doc_id, lang, shard, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY lang, shard ORDER BY h ASC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS cum_before
            FROM toks
        )
        SELECT doc_id, lang, shard,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(cum_before // {PACK_BUDGET_TOKENS} AS BIGINT) AS pack_id,
               CAST(cum_before % {PACK_BUDGET_TOKENS} AS INT) AS pack_offset
        FROM staged
    """,
    "contamination_ngram": f"""
        WITH t AS (
            SELECT doc_id, doc_id % 100 AS m, string_split(text, ' ') AS toks
            FROM documents
        ), grams AS (
            -- degenerate docs yield zero grams (see the Spark twin)
            SELECT doc_id, m,
                   unnest(CASE WHEN toks IS NULL OR len(toks) = 0
                                    OR toks = [''] THEN []
                          ELSE list_distinct([array_to_string(toks[i:i + {CONTAM_NGRAM} - 1], ' ')
                          for i in generate_series(1, greatest(len(toks) - {CONTAM_NGRAM} + 1, 1))])
                          END) AS gram
            FROM t
        ), ev AS (
            SELECT DISTINCT gram FROM grams WHERE m = 0
        )
        SELECT g.doc_id, COUNT(DISTINCT g.gram) AS n_contaminated_grams
        FROM grams g JOIN ev USING (gram)
        WHERE g.m <> 0
        GROUP BY g.doc_id
    """,
}
