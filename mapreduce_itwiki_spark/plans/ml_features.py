"""Feature-engineering / model-fitting / evaluation queries (north-star
⊕, SURVEY.md §2): the operators that turn a curated corpus into model
inputs, fit models on it, and judge the results — hashed bag-of-words
features, leakage-free target encoding, ECDF normalization, per-entity
OLS fits + residual metrics, a distributed logistic-regression training
step, naive-Bayes language ID (train → apply → confusion), χ² feature
selection, ROC-AUC and PR-curve evaluation, Welch's-t A/B analysis,
Kaplan-Meier churn survival, skyline (Pareto-frontier) selection,
market-basket rules, seasonal anomaly scoring, Bellman-Ford shortest
paths, the AllPairs prefix-filtered similarity join,
deletion-neighborhood fuzzy matching, BM25 retrieval scoring,
histogram-based GBDT split finding, an ALS half-step, and
deterministic contrastive negative sampling. The reference has no analogue for
any of these (SURVEY.md §2 "Categories with NO implementation"); they
complete the LLM-era pipeline story the same way
plans/training_data.py does for curation.

Proof-by-parity: for the operators whose Spark plan is a scalable
DECOMPOSITION (sharded prefix counts for ranks/ECDF/at-risk sets,
prefix or deletion blocking for similarity/fuzzy joins, sort-based
skyline), the oracle deliberately states the quadratic/global-window
DEFINITION — the value-hash match is then a completeness proof of the
algorithm, not just an arithmetic check.

Determinism discipline (same as the PCA/k-means family): every
floating-point reduction is rounded in-query at a precision that
absorbs summation-order drift, every scalar expression is written with
the SAME association order on both engines (IEEE ops are correctly
rounded, so identical operands + identical expression tree = identical
bits), and the logistic link uses the RATIONAL sigmoid surrogate
z ↦ 0.5 + 0.5·z/(1+|z|) (Elliott activation) instead of 1/(1+e^{-z})
— |z|, +, /, * are all correctly-rounded IEEE ops, while exp() is
libm-dependent and may differ between JVMs and DuckDB in the last ulp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import vectors as V
from ..functions.par import fanout
from ..operators import dedup
from ..sources.parquet import load_table
from .catalog import register

HASH_DIMS = 16  #: feature-hashing output dimensionality
LOGREG_LR = 0.5  #: gradient-descent learning rate (power of two: exact scaling)
LOGREG_D = 4  #: leading embedding dims used as logreg features
PRICE_SHARD = 100.0  #: skyline price-shard width (production: quantile bounds)


# --------------------------------------------------------------------------
@register(
    "feature_hash_vectorize",
    oracle=f"""
    SELECT doc_id,
           ('0x' || substr(md5(tok), 1, 15))::BIGINT % {HASH_DIMS} AS dim,
           CAST(sum(CASE WHEN ('0x' || substr(md5(tok), 16, 1))::BIGINT % 2 = 0
                         THEN 1 ELSE -1 END) AS BIGINT) AS feat
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY doc_id, dim
    """,
)
def feature_hash_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HASHING TRICK (Weinberger et al. 2009): vectorize bag-of-words
    into a fixed ``HASH_DIMS``-dimensional signed-count vector with no
    vocabulary pass — dim = hash(token) mod D, sign = ±1 from a second
    hash bit (the sign makes collisions cancel in expectation, the
    property that lets D stay tiny). This is how a 100 TB corpus becomes
    classifier features in ONE explode → map-side hash → (doc, dim)
    partial+final agg: no vocabulary build, no dictionary broadcast, no
    second scan. md5-derived hashing keeps the "random" projection a
    pure function of the data — engine-identical, so even this
    randomized method hash-matches its oracle exactly."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    sign_bit = F.conv(F.substring(F.md5(F.col("tok")), 16, 1), 16, 10).cast("long")
    sign = F.when(sign_bit % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    return (
        tok.select("doc_id", (h % HASH_DIMS).alias("dim"), sign.alias("s"))
        .groupBy("doc_id", "dim")
        .agg(F.sum("s").cast("long").alias("feat"))
    )


# --------------------------------------------------------------------------
@register(
    "target_encode_loo",
    oracle="""
    WITH g AS (SELECT event_type, round(sum(value), 6) AS s, count(*) AS n
               FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type,
           round((g.s - e.value) / nullif(g.n - 1, 0), 6) + 0.0 AS loo_mean
    FROM events e JOIN g ON g.event_type = e.event_type
    """,
)
def target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out TARGET ENCODING — the leakage-free categorical
    encoder of tabular feature engineering: each row's category is
    replaced by the mean target of all OTHER rows in that category,
    loo = (Σ_group − own) / (n_group − 1). Scale shape: the naïve form
    is a window over event_type — low-cardinality, the same
    single-task-per-group scale-killer the shard prefix sums eliminate
    in plans/training_data.py — so this computes the tiny per-category
    (sum, count) frame instead and BROADCASTS it back: the corpus-sized
    stage is one partial+final agg plus a map-side join, bounded tasks
    at any scale. The group sum is rounded once (6 dp absorbs
    summation-order drift) and the subtraction/division then run on
    identical operands in both engines."""
    events = load_table(spark, sf_dir, "events")
    g = events.groupBy("event_type").agg(
        F.round(F.sum("value"), 6).alias("s"), F.count(F.lit(1)).alias("n")
    )
    return events.join(F.broadcast(g), "event_type").select(
        "event_id",
        "event_type",
        (
            F.round(
                (F.col("s") - F.col("value"))
                / F.nullif(F.col("n") - 1, F.lit(0)),
                6,
            )
            + 0.0
        ).alias("loo_mean"),
    )



def _ols_positions(events: DataFrame) -> DataFrame:
    """(user_id, value, x) with x = the user's 1-based event sequence
    position under the deterministic (ts, event_id) order."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "user_id", "value", F.row_number().over(w).cast("long").alias("x")
    )


def _ols_fit(events: DataFrame) -> DataFrame:
    """Per-user OLS sufficient statistics (n, sx, sxx, sy, sxy), float
    sums rounded once at 6 dp; groups of one dropped (zero variance)."""
    return (
        _ols_positions(events)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.round(F.sum("value"), 6).alias("sy"),
            F.round(F.sum(F.col("x") * F.col("value")), 6).alias("sxy"),
        )
        .filter(F.col("n") >= 2)
    )


def _ols_slope_raw():
    """The closed-form slope off the sufficient-statistics columns —
    sums forced to DOUBLE before multiplying so neither engine widens
    to int128; identical association order on both engines."""
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    return (nd * F.col("sxy") - sxd * F.col("sy")) / (
        nd * F.col("sxx").cast("double") - sxd * sxd
    )


# --------------------------------------------------------------------------
@register(
    "ols_trend_per_user",
    oracle="""
    WITH x AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x
      FROM events),
    a AS (
      SELECT user_id, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx,
             round(sum(value), 6) AS sy, round(sum(x * value), 6) AS sxy
      FROM x GROUP BY user_id HAVING count(*) >= 2),
    s AS (
      SELECT user_id, n, sx, sy,
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope_raw
      FROM a)
    SELECT user_id, CAST(n AS BIGINT) AS n,
           round(slope_raw, 6) + 0.0 AS slope,
           round((sy - slope_raw * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
             + 0.0 AS intercept
    FROM s
    """,
)
def ols_trend_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ORDINARY LEAST SQUARES trend — fit value ~ slope·x + b
    for every user, x = the user's event sequence position (a window
    rank on high-cardinality user_id: bounded tasks). The fit is the
    closed form from five sufficient statistics (n, Σx, Σx², Σy, Σxy) —
    ONE partial+final agg per user, the same "model = a small aggregate"
    shape as k-means/PCA, so fitting millions of per-entity trend models
    over 100 TB of events is a single shuffle on user_id. x-moments are
    exact integers; the two float sums are rounded once (6 dp) and the
    closed form then runs on identical operands with identical
    association order in both engines (sums forced to DOUBLE before
    multiplying so neither engine widens to int128). Built-in
    regr_slope/regr_intercept would stream Welford-style updates whose
    rounding is engine-private — the explicit sufficient statistics are
    what make the fit replayable."""
    a = _ols_fit(load_table(spark, sf_dir, "events"))
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    slope_raw = _ols_slope_raw()
    return a.select(
        "user_id",
        F.col("n").cast("long").alias("n"),
        (F.round(slope_raw, 6) + 0.0).alias("slope"),
        (F.round((F.col("sy") - slope_raw * sxd) / nd, 6) + 0.0).alias("intercept"),
    )


# --------------------------------------------------------------------------
@register(
    "logreg_gd_steps",
    oracle=f"""
    WITH e AS (SELECT CAST(label % 2 AS DOUBLE) AS y, embedding::DOUBLE[] AS x
               FROM embeddings),
    idx AS (SELECT CAST(unnest(range(1, {LOGREG_D} + 1)) AS INTEGER) AS j),
    g1 AS (SELECT j, round(avg((0.5 - y) * x[j]), 9) AS g1
           FROM e, idx GROUP BY j),
    w1 AS (SELECT j, -{LOGREG_LR} * g1 AS w1 FROM g1),
    w1r AS (SELECT max(CASE WHEN j = 1 THEN w1 END) AS a1,
                   max(CASE WHEN j = 2 THEN w1 END) AS a2,
                   max(CASE WHEN j = 3 THEN w1 END) AS a3,
                   max(CASE WHEN j = 4 THEN w1 END) AS a4
            FROM w1),
    s AS (SELECT y, x,
                 (SELECT a1 FROM w1r) * x[1] + (SELECT a2 FROM w1r) * x[2]
                 + (SELECT a3 FROM w1r) * x[3] + (SELECT a4 FROM w1r) * x[4] AS z
          FROM e),
    err AS (SELECT x, (0.5 + 0.5 * (z / (1 + abs(z)))) - y AS err FROM s),
    g2 AS (SELECT j, round(avg(err * x[j]), 9) AS g2 FROM err, idx GROUP BY j)
    SELECT g2.j, round(w1.w1, 9) + 0.0 AS w1,
           round(w1.w1 - {LOGREG_LR} * g2.g2, 9) + 0.0 AS w2
    FROM g2 JOIN w1 ON w1.j = g2.j
    """,
)
def logreg_gd_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed LOGISTIC-REGRESSION training: two full-batch
    gradient-descent steps on the embedding table (features = leading
    {LOGREG_D} dims, label = label mod 2) — the data-parallel training
    step every large-scale classifier quality filter (fastText-style
    spam/quality models over a 100 TB corpus) runs: gradient = ONE
    partial+final avg per dimension (shuffle carries d partial sums,
    never rows), weights = a d-row frame BROADCAST back for the next
    pass's scoring map. Unrolled two steps with 9-dp-rounded gradients,
    the same replayable-iteration discipline as kmeans_two_rounds and
    the PCA power iteration. The link is the rational sigmoid
    0.5 + 0.5·z/(1+|z|) — correctly-rounded IEEE arithmetic only (libm
    exp() would differ between engines in the last ulp), and σ(0)=0.5
    exactly, so step 1's gradient is the clean linear form (0.5−y)·x.
    Step size 0.5 is a power of two: scaling a rounded gradient stays
    exact. Output: per dimension j, the weights after each step."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        (F.col("label") % 2).cast("double").alias("y"),
        V.as_double(F.slice(F.col("embedding"), 1, LOGREG_D)).alias("x"),
    )
    ex = base.select("y", F.posexplode("x").alias("j0", "xj"))
    g1 = ex.groupBy((F.col("j0") + 1).alias("j")).agg(
        F.round(F.avg((F.lit(0.5) - F.col("y")) * F.col("xj")), 9).alias("g1")
    )
    w1 = g1.select("j", (F.lit(-LOGREG_LR) * F.col("g1")).alias("w1"))
    w1row = w1.agg(
        *[
            F.max(F.when(F.col("j") == d, F.col("w1"))).alias(f"a{d}")
            for d in range(1, LOGREG_D + 1)
        ]
    )
    xi = lambda d: F.element_at(F.col("x"), d)  # noqa: E731
    z = F.col("a1") * xi(1) + F.col("a2") * xi(2) + F.col("a3") * xi(3) + F.col(
        "a4"
    ) * xi(4)
    s = base.crossJoin(F.broadcast(w1row)).select(
        "x",
        (
            (F.lit(0.5) + F.lit(0.5) * (z / (F.lit(1) + F.abs(z)))) - F.col("y")
        ).alias("err"),
    )
    e2 = s.select("err", F.posexplode("x").alias("j0", "xj"))
    g2 = e2.groupBy((F.col("j0") + 1).alias("j")).agg(
        F.round(F.avg(F.col("err") * F.col("xj")), 9).alias("g2")
    )
    return g2.join(F.broadcast(w1), "j").select(
        "j",
        (F.round(F.col("w1"), 9) + 0.0).alias("w1"),
        (F.round(F.col("w1") - F.lit(LOGREG_LR) * F.col("g2"), 9) + 0.0).alias("w2"),
    )


# --------------------------------------------------------------------------
@register(
    "skyline_pareto_parts",
    oracle="""
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
    """,
)
def skyline_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE (Pareto-frontier) query — keep every part no other part
    dominates (cheaper-or-equal AND bigger-or-equal, strict somewhere):
    minimize p_retailprice, maximize p_size, the multi-objective
    shortlist operator (Börzsönyi et al., ICDE 2001). The oracle states
    the O(n²) NOT-EXISTS definition; the Spark plan is the O(n log n)
    sort-based form, decomposed for scale exactly like the
    training-data shard prefix sums: dominance(p) reduces to two
    running maxima — max size over STRICTLY cheaper prices (price-group
    frame + within-shard window + broadcast per-shard exclusive-max
    offsets, so no global single-task window) and max size AT the same
    price (the price-group aggregate itself). A part survives iff
    neither exceeds its size. Every corpus-sized stage is an agg or a
    map-side broadcast join; the only ordered windows run over the
    price-group frame sharded by fixed price bands (production would
    pick shard bounds from a quantile sketch)."""
    part = load_table(spark, sf_dir, "part")
    g = (
        part.groupBy("p_retailprice")
        .agg(F.max("p_size").alias("gmax"))
        .withColumn(
            "shard", F.floor(F.col("p_retailprice") / PRICE_SHARD).cast("long")
        )
    )
    w_in = (
        Window.partitionBy("shard")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g2 = g.withColumn("prev_in", F.max("gmax").over(w_in))
    tot = g.groupBy("shard").agg(F.max("gmax").alias("smax"))
    w_off = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    off = tot.select("shard", F.max("smax").over(w_off).alias("prev_shard"))
    g3 = g2.join(F.broadcast(off), "shard").select(
        "p_retailprice",
        "gmax",
        F.greatest("prev_in", "prev_shard").alias("run_lt"),  # null iff cheapest
    )
    joined = part.join(g3, "p_retailprice")
    dominated = (
        F.col("run_lt").isNotNull() & (F.col("run_lt") >= F.col("p_size"))
    ) | (F.col("gmax") > F.col("p_size"))
    return joined.filter(~dominated).select("p_partkey", "p_retailprice", "p_size")


MIN_PAIR_SUPPORT = 2  #: association-rule absolute support floor


# --------------------------------------------------------------------------
@register(
    "market_basket_rules",
    oracle=f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM items),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= {MIN_PAIR_SUPPORT}),
    item AS (SELECT l_partkey, count(*) AS n_i FROM items GROUP BY 1)
    SELECT pa, pb, n_ab,
           round(n_ab * 1.0 / (SELECT n_orders FROM n), 6) + 0.0 AS support,
           round(n_ab * 1.0 / ia.n_i, 6) + 0.0 AS confidence,
           round(n_ab * 1.0 * (SELECT n_orders FROM n)
                 / (ia.n_i * 1.0 * ib.n_i), 6) + 0.0 AS lift
    FROM pairs JOIN item ia ON ia.l_partkey = pa
               JOIN item ib ON ib.l_partkey = pb
    """,
)
def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET-BASKET association rules (Agrawal & Srikant's a-priori
    setting) — parts bought together in the same order, with
    support / confidence / lift, the co-occurrence mining that also
    powers "related documents" and co-citation analysis over a corpus.
    Pair generation is a self-join keyed on the basket id — shuffle
    ∝ Σ basket², bounded because TPC-H baskets hold ≤ 7 lines (at
    web scale the a-priori property prefilters items below min-support
    BEFORE pairing, the same frequency-cap discipline as the stop-
    shingle cap in ngram_jaccard). Metrics are exact-integer ratios
    (counts < 2⁵³ are exact in doubles, one correctly-rounded division
    each) — engine-identical, rounded for display only."""
    # basket-local pair expansion instead of a lineitem self-join: one
    # shuffle builds the per-order item arrays (TPC-H baskets hold ≤ 7
    # lines, so the map-side fan-out is ≤ 21 pairs per basket); the
    # self-join form re-shuffled the distinct-items frame twice and
    # measured ~25% slower warm at sf0.1 (2.2-2.4 s → 1.6-2.0 s).
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("items")
    )
    pairs_col = F.flatten(
        F.transform(
            F.col("items"),
            lambda x, i: F.transform(
                F.slice(F.col("items"), i + 2, F.size(F.col("items"))),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pairs_col).alias("p"))
        .select("p.pa", "p.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= MIN_PAIR_SUPPORT)
    )
    item = (
        baskets.select(F.explode("items").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_i"))
    )
    n = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    ia = item.select(F.col("l_partkey").alias("pa"), F.col("n_i").alias("n_a"))
    ib = item.select(F.col("l_partkey").alias("pb"), F.col("n_i").alias("n_b"))
    return (
        pairs.join(ia, "pa")
        .join(ib, "pb")
        .crossJoin(F.broadcast(n))
        .select(
            "pa",
            "pb",
            "n_ab",
            (F.round(F.col("n_ab") * 1.0 / F.col("n_orders"), 6) + 0.0).alias(
                "support"
            ),
            (F.round(F.col("n_ab") * 1.0 / F.col("n_a"), 6) + 0.0).alias(
                "confidence"
            ),
            (
                F.round(
                    F.col("n_ab") * 1.0 * F.col("n_orders")
                    / (F.col("n_a") * 1.0 * F.col("n_b")),
                    6,
                )
                + 0.0
            ).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
@register(
    "seasonal_hour_anomaly",
    oracle="""
    WITH g AS (
      SELECT date_part('hour', ts) AS hod,
             round(avg(value), 6) AS mu,
             round(stddev_pop(value), 6) AS sd
      FROM events GROUP BY 1)
    SELECT e.event_id, CAST(g.hod AS INTEGER) AS hod,
           round((e.value - g.mu) / nullif(g.sd, 0), 6) + 0.0 AS z,
           abs(round((e.value - g.mu) / nullif(g.sd, 0), 6)) > 3.0 AS is_anomaly
    FROM events e JOIN g ON g.hod = date_part('hour', e.ts)
    """,
)
def seasonal_hour_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline ANOMALY DETECTION — the monitoring query of an
    event pipeline: per hour-of-day baseline (μ, σ) over the corpus,
    each event scored by its residual z = (value − μ)/σ, flagged
    beyond 3σ. The 24-row baseline is a partial+final agg BROADCAST
    back (never a window over low-cardinality hod), so scoring is a
    map-side join at any scale — the same tiny-model-broadcast shape
    as target_encode_loo. μ and σ are rounded once (6 dp absorbs
    engine summation-order drift in the moment sums) and the z
    arithmetic then runs on identical operands; the 3σ verdict tests
    the ROUNDED z on both engines so the flag can never straddle an
    ulp."""
    events = load_table(spark, sf_dir, "events")
    hod = F.hour(F.col("ts"))
    g = (
        events.groupBy(hod.alias("hod"))
        .agg(
            F.round(F.avg("value"), 6).alias("mu"),
            F.round(F.stddev_pop("value"), 6).alias("sd"),
        )
    )
    z = F.round(
        (F.col("value") - F.col("mu")) / F.nullif(F.col("sd"), F.lit(0.0)), 6
    )
    return (
        events.select("event_id", "value", hod.alias("hod"))
        .join(F.broadcast(g), "hod")
        .select(
            "event_id",
            F.col("hod").cast("int").alias("hod"),
            (z + 0.0).alias("z"),
            (F.abs(z) > 3.0).alias("is_anomaly"),
        )
    )


# shared naive-Bayes oracle CTEs — the exact twin of _nb_predictions:
# Laplace-smoothed per-language token log-likelihoods (7 dp — the model
# grid), all-class scoring (sum rounded AT the model grid so the
# decimal-exact sum sits ON the rounding grid; see operators/pca.py on
# grid alignment), per-doc argmax with language tie-break
_NB_RANKED_CTES = """
    toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
             FROM documents),
    c AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY 1, 2),
    tot AS (SELECT lang, count(*) AS tot FROM toks GROUP BY 1),
    v AS (SELECT count(DISTINCT tok) AS v FROM toks),
    model AS (SELECT c.lang, c.tok,
                     round(ln((c.c + 1.0) / (tot.tot + (SELECT v FROM v))), 7)
                       AS logp
              FROM c JOIN tot ON tot.lang = c.lang),
    dflt AS (SELECT lang AS cand_lang,
                    round(ln(1.0 / (tot + (SELECT v FROM v))), 7) AS logp0
             FROM tot),
    cand AS (SELECT t.doc_id, d.cand_lang, coalesce(m.logp, d.logp0) AS lp
             FROM toks t
             CROSS JOIN dflt d
             LEFT JOIN model m ON m.lang = d.cand_lang AND m.tok = t.tok),
    scores AS (SELECT doc_id, cand_lang, round(sum(lp), 7) AS score
               FROM cand GROUP BY 1, 2),
    ranked AS (SELECT doc_id, cand_lang, score,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, cand_lang) AS rn
               FROM scores)
"""


def _nb_predictions(docs: DataFrame) -> DataFrame:
    """Train the multinomial NB model on the corpus and score every
    document against every candidate language; return the argmax frame
    (doc_id, lang, pred_lang, score). See naive_bayes_langid for the
    determinism and scale story."""
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    # ONE corpus-sized exchange, keyed tok. Everything token-shaped —
    # the per-doc bag-of-words compaction, the (tok, lang) model
    # counts, the vocabulary size, the per-token class-entry list, and
    # the match join below — chains on this single partitioning:
    # HashPartitioning(tok) satisfies every downstream clustering whose
    # keys include tok, so Catalyst inserts no further corpus-sized
    # exchange (the r4 shape paid three: the (doc,lang,tok) compaction,
    # the ×|classes| fanned model join, and implicitly re-shuffling the
    # fanned rows — ~400 M exchanged rows on the zipfian sf5 corpus,
    # 50.7 s; this shape exchanges the 75 M raw token rows once).
    # Compaction note: Σ cnt·logp ≡ Σ logp over occurrences — the
    # decimal-exact sum is the same number, so the 7 dp grid snap and
    # the oracle are untouched. On zipfian text the compaction only
    # buys the type/token ratio (~1.5×), which is exactly why it can't
    # be the main lever — the exchange count is.
    # Bare repartition(tok): AQE-coalescible, starts at the session's
    # initialPartitionNum — the duplicate_spans single-phase-aggregate
    # sizing rationale (plans/training_data.py, session.py) applied to
    # the token stream.
    tokp = toks.repartition(F.col("tok"))
    tokc = tokp.groupBy("tok", "doc_id", "lang").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # The model-side reduction (tok, lang) → count is SLIM (|vocab| ×
    # |classes| rows); checkpoint it so tot / v / model / dflt read
    # those rows instead of each re-running the corpus scan + explode +
    # 75 M-row aggregation (Spark has no cross-branch common-subplan
    # elimination — the ivf_centroids "train once" idiom). The corpus
    # is then tokenized exactly twice — once into this reduction, once
    # into the match join below — and both sit on the SAME tok
    # exchange, which ReusedExchange materializes once.
    c = (
        tokc.groupBy("tok", "lang")
        .agg(F.sum("cnt").alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = c.groupBy("lang").agg(F.sum("c").alias("tot"))
    v = c.select("tok").distinct().agg(F.count(F.lit(1)).alias("v"))
    model = (
        c.join(F.broadcast(tot), "lang")
        .crossJoin(F.broadcast(v))
        .select(
            F.col("lang").alias("cand_lang"),
            "tok",
            F.round(
                F.log((F.col("c") + 1.0) / (F.col("tot") + F.col("v"))), 7
            ).alias("logp"),
        )
    )
    dflt = tot.crossJoin(F.broadcast(v)).select(
        F.col("lang").alias("cand_lang"),
        F.round(F.log(F.lit(1.0) / (F.col("tot") + F.col("v"))), 7).alias("logp0"),
    )
    # Score WITHOUT the ×|classes| row fan-out. The r4 shape fanned
    # tokc out 8× (crossJoin dflt) and pushed the fanned rows through a
    # (cand_lang, tok)-keyed shuffle join against the model — on a
    # zipfian corpus (types/doc ~200 vs the dense corpus's ≤31, so the
    # bag-of-words compaction no longer absorbs it) that exchanged
    # ~400 M rows at sf5 and cost 50.7 s of the 342 s battery. Instead:
    # (a) collapse the model to ONE row per token carrying its
    #     (class, logp) entries — |vocab| rows;
    # (b) join tokc once on tok (the only corpus-sized exchange) and
    #     explode the entries STRAIGHT INTO the (doc_id, cand_lang)
    #     partial aggregation — the fan-out lives inside the map task
    #     and is combined to |docs|×|classes| before the shuffle;
    # (c) classes missing a token contribute logp0 via the exact
    #     identity Σ_unmatched cnt·logp0 = logp0 · (T_doc − matched_cnt)
    #     where T_doc = size(split(text)) is computed map-side from the
    #     document itself (no extra shuffle).
    # Decimal-grid contract untouched: the score is still
    # round(Σ cnt·lp, 7) over the identical 7 dp-grid terms — only the
    # (already arbitrary) partial-agg summation order changes, and the
    # accumulated double error on a ~1e4-magnitude sum (~1e-11) stays
    # far below the 0.5e-7 rounding slack.
    mt = model.groupBy("tok").agg(
        F.collect_list(F.struct("cand_lang", "logp")).alias("ents")
    )
    matched = (
        tokc.select("doc_id", "tok", "cnt")
        .join(mt, "tok")
        .select("doc_id", "cnt", F.explode("ents").alias("e"))
        .groupBy("doc_id", F.col("e.cand_lang").alias("cand_lang"))
        .agg(
            F.sum(F.col("cnt") * F.col("e.logp")).alias("msum"),
            F.sum("cnt").alias("mcnt"),
        )
    )
    t_doc = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("t_all")
    )
    scores = (
        t_doc.crossJoin(F.broadcast(dflt))
        .join(matched, ["doc_id", "cand_lang"], "left")
        .select(
            "doc_id",
            "cand_lang",
            F.round(
                F.coalesce(F.col("msum"), F.lit(0.0))
                + F.col("logp0")
                * (F.col("t_all") - F.coalesce(F.col("mcnt"), F.lit(0))),
                7,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "cand_lang")
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", F.col("cand_lang").alias("pred_lang"), "score")
    )


# --------------------------------------------------------------------------
@register(
    "naive_bayes_langid",
    oracle=f"""
    WITH {_NB_RANKED_CTES}
    SELECT r.doc_id, r.cand_lang AS pred_lang, r.score + 0.0 AS score,
           r.cand_lang = d.lang AS correct
    FROM ranked r JOIN documents d ON d.doc_id = r.doc_id
    WHERE rn = 1
    """,
)
def naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial NAIVE BAYES language classifier, trained AND applied
    in one DAG — the fastText-style corpus classifier (language ID,
    quality, topic) every large curation pipeline runs: per-language
    Laplace-smoothed token log-likelihoods fitted on the corpus itself,
    every document scored against ALL candidate languages, argmax
    prediction checked against the true label. Scale shape (the r5
    single-exchange rewrite — see _nb_predictions): the model is two
    grouped counts (∝ vocabulary, not corpus — broadcastable in
    production), collapsed to ONE row per token carrying its
    (class, logp) entry list; the corpus token stream joins it ONCE on
    tok (the only corpus-sized exchange) and the entries explode
    straight into the map-side-combined (doc, class) partial
    aggregation, so the ×|classes| fan-out never reaches a shuffle;
    classes missing a token contribute their default log-prob via the
    exact identity logp0 · (T_doc − matched_count), computed map-side
    from the document itself. Determinism: the log-likelihoods are
    single ln() calls on exact integer ratios rounded at 7 dp (engines'
    ln agree to the last ulp — far inside the rounding), per-doc sums
    of those identical values are rounded at 7 dp — the model grid's
    OWN precision, so the decimal-exact sum sits ON the rounding grid
    and both engines snap to it (coarser rounding would create
    half-way coin flips; see the grid-alignment note in
    operators/pca.py) — and the argmax
    orders by the ROUNDED score with a language tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    return _nb_predictions(docs).select(
        "doc_id",
        "pred_lang",
        (F.col("score") + 0.0).alias("score"),
        (F.col("pred_lang") == F.col("lang")).alias("correct"),
    )


# --------------------------------------------------------------------------
@register(
    "naive_bayes_confusion",
    oracle=f"""
    WITH {_NB_RANKED_CTES}
    SELECT d.lang AS true_lang, r.cand_lang AS pred_lang,
           CAST(count(*) AS BIGINT) AS n
    FROM ranked r JOIN documents d ON d.doc_id = r.doc_id
    WHERE rn = 1
    GROUP BY 1, 2
    """,
)
def naive_bayes_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONFUSION MATRIX of the naive-Bayes classifier — the evaluation
    rollup that closes the train → apply → evaluate loop: per
    (true language, predicted language) cell counts over the whole
    corpus. One partial+final agg on top of the prediction frame
    (`_nb_predictions`); at 100 TB the matrix is |classes|² rows no
    matter the corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        _nb_predictions(docs)
        .groupBy(
            F.col("lang").alias("true_lang"), F.col("pred_lang").alias("pred_lang")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


BF_ROUNDS = 3  #: Bellman-Ford relaxation rounds (≤ k-hop exact distances)
BF_WMOD = 8  #: edge weights are 1 + md5(edge) mod this


def _bf_weight_sql(a: str, b: str) -> str:
    return f"1 + ('0x' || substr(md5({a} || ' ' || {b}), 1, 15))::BIGINT % {BF_WMOD}"


# --------------------------------------------------------------------------
@register(
    "weighted_shortest_path",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, tok, pos FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents)),
    edges AS (
      SELECT DISTINCT w1, w2, {_bf_weight_sql('w1', 'w2')} AS wt FROM (
        SELECT t.tok AS w1,
               lead(t.tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM toks t)
      WHERE w2 IS NOT NULL AND w1 <> w2),
    d0 AS (SELECT DISTINCT tok AS node, 0 AS dist FROM toks WHERE pos = 1),
    d1 AS (SELECT node, min(dist) AS dist FROM (
             SELECT node, dist FROM d0
             UNION ALL
             SELECT e.w2, d0.dist + e.wt FROM d0 JOIN edges e ON e.w1 = d0.node)
           GROUP BY node),
    d2 AS (SELECT node, min(dist) AS dist FROM (
             SELECT node, dist FROM d1
             UNION ALL
             SELECT e.w2, d1.dist + e.wt FROM d1 JOIN edges e ON e.w1 = d1.node)
           GROUP BY node),
    d3 AS (SELECT node, min(dist) AS dist FROM (
             SELECT node, dist FROM d2
             UNION ALL
             SELECT e.w2, d2.dist + e.wt FROM d2 JOIN edges e ON e.w1 = d2.node)
           GROUP BY node)
    SELECT node, CAST(dist AS BIGINT) AS dist FROM d3
    """,
)
def weighted_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED single-source-set shortest paths — {BF_ROUNDS} synchronous
    Bellman-Ford relaxation rounds over the token-adjacency graph
    (nodes = tokens, an edge per adjacent-token bigram, deterministic
    md5 weights so both engines share the topology): exact minimum path
    cost from any document-initial token within ≤ {BF_ROUNDS} hops. The
    weighted complement to bfs_hop_distance — Bellman-Ford is the
    data-parallel shortest-path algorithm (Pregel's canonical example):
    each round is relax-all-edges = one equi-join keyed on the
    high-cardinality node id + one partial+final MIN agg, so a round
    over billions of edges is one bounded shuffle; the frontier frame
    stays (node, dist)-narrow. Rounds are unrolled into ONE DAG (no
    driver actions, no collects) and the oracle replays them as chained
    CTEs; integer weights make every distance exact. At true 100 TB
    graph scale the loop adds a convergence check + checkpoint cadence
    (the connected-components pattern, operators/graph.py)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos0")
    wt = (
        1
        + F.conv(
            F.substring(
                F.md5(F.concat_ws(" ", F.col("w1"), F.col("w2"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % BF_WMOD
    )
    edges = (
        toks.withColumn("w2", F.lead("tok").over(w))
        .filter(F.col("w2").isNotNull() & (F.col("tok") != F.col("w2")))
        .select(F.col("tok").alias("w1"), "w2")
        .distinct()
        .select("w1", "w2", wt.alias("wt"))
    )
    dist = (
        toks.filter(F.col("pos0") == 0)
        .select(F.col("tok").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
    )
    for _ in range(BF_ROUNDS):
        relaxed = dist.join(edges, dist.node == edges.w1).select(
            F.col("w2").alias("node"), (F.col("dist") + F.col("wt")).alias("dist")
        )
        dist = (
            dist.select("node", "dist")
            .unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
    return dist.select("node", F.col("dist").cast("long").alias("dist"))


AUC_SCORE_SHARD = 16  #: score-range width per rank shard



def sharded_prefix_sums(g, key, shard_expr, cols):
    """Exclusive global prefix sums WITHOUT a global window — the named
    form of the shard decomposition used across the rank/ECDF/survival
    operators (and, for doc-level data, plans/training_data.py:
    `_sharded_cum_tokens`): append ``<col>_before`` = Σ of ``col`` over
    all rows with strictly smaller ``key``, via a bounded running sum
    within fixed-width shards plus broadcast cumulative shard offsets.
    Shards are monotone in ``key`` (``shard_expr`` must be a
    non-decreasing function of it), so concatenating shards in shard
    order reproduces the global order; every window task holds at most
    one shard's group rows."""
    g = g.withColumn("shard", shard_expr)
    w_in = (
        Window.partitionBy("shard")
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = g
    for c in cols:
        out = out.withColumn(
            f"{c}_in", F.coalesce(F.sum(c).over(w_in), F.lit(0))
        )
    tot = g.groupBy("shard").agg(*[F.sum(c).alias(f"{c}_t") for c in cols])
    w_off = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    off = tot.select(
        "shard",
        *[
            F.coalesce(F.sum(f"{c}_t").over(w_off), F.lit(0)).alias(f"{c}_o")
            for c in cols
        ],
    )
    out = out.join(F.broadcast(off), "shard")
    for c in cols:
        out = out.withColumn(f"{c}_before", F.col(f"{c}_o") + F.col(f"{c}_in"))
        out = out.drop(f"{c}_in", f"{c}_o")
    return out


def _trigram_en_score():
    """The char_trigram_langid English score as a single long column —
    shared by the AUC and PR-curve evaluations (twin of the SQL built
    from training_data._trigram_count_sql)."""
    from .training_data import TRIGRAM_PROFILES

    def count(tri):
        return (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit(tri), F.lit("")))
        ) / 3

    cols = [count(t) for t in TRIGRAM_PROFILES["en"]]
    score = cols[0]
    for c in cols[1:]:
        score = score + c
    return score.cast("long")


# --------------------------------------------------------------------------
def _auc_oracle() -> str:
    from .training_data import TRIGRAM_PROFILES, _trigram_count_sql

    score = " + ".join(_trigram_count_sql(t) for t in TRIGRAM_PROFILES["en"])
    return f"""
    WITH s AS (SELECT doc_id, CAST({score} AS BIGINT) AS score,
                      lang = 'en' AS pos
               FROM documents),
    r AS (SELECT score, pos, rank() OVER (ORDER BY score) AS rlo,
                 count(*) OVER (PARTITION BY score) AS nties
          FROM s),
    agg AS (SELECT sum(CASE WHEN pos THEN 2 * rlo + nties - 1 ELSE 0 END) AS s2,
                   sum(CASE WHEN pos THEN 1 ELSE 0 END) AS npos,
                   count(*) AS n
            FROM r)
    SELECT CAST(npos AS BIGINT) AS n_pos, CAST(n - npos AS BIGINT) AS n_neg,
           round((s2 - npos * (npos + 1)) * 1.0
                 / (2 * npos * (n - npos)), 6) + 0.0 AS auc
    FROM agg
    """


@register("classifier_auc_eval", oracle=_auc_oracle())
def classifier_auc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ROC-AUC — the model-evaluation operator every
    classifier-based curation filter needs at corpus scale: AUC of the
    char-trigram English score against the true language label, via the
    rank-statistic identity AUC = (Σ midranks⁺ − n⁺(n⁺+1)/2)/(n⁺n⁻)
    (Mann-Whitney U). The oracle states it with a global rank window;
    the Spark plan computes the SAME midranks without any global
    single-task window: group by score (ties collapse), two-pass shard
    prefix counts over the score-group frame (cumulative count below
    each score = within-shard running sum + broadcast per-shard offsets
    — the `_sharded_cum_tokens` pattern from plans/training_data.py),
    then one integer aggregate. Everything is exact integer arithmetic
    up to the single final division, so the AUC hash-matches at full
    precision. At 100 TB: one partial+final agg on score, windows only
    over the tiny score-group frame, one broadcast — evaluation cost ≈
    one scan."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        _trigram_en_score().alias("score"),
        (F.col("lang") == "en").cast("int").alias("pos"),
    )
    sg = s.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("npos")
    )
    ranked = sharded_prefix_sums(
        sg, "score", F.floor(F.col("score") / AUC_SCORE_SHARD), ["n"]
    ).select("n", "npos", F.col("n_before").alias("cum_lt"))
    agg = ranked.agg(
        F.sum(
            F.col("npos") * (2 * F.col("cum_lt") + F.col("n") + 1)
        ).alias("s2"),
        F.sum("npos").alias("npos"),
        F.sum("n").alias("n"),
    )
    return agg.select(
        F.col("npos").cast("long").alias("n_pos"),
        (F.col("n") - F.col("npos")).cast("long").alias("n_neg"),
        (
            F.round(
                (F.col("s2") - F.col("npos") * (F.col("npos") + 1))
                * 1.0
                / (2 * F.col("npos") * (F.col("n") - F.col("npos"))),
                6,
            )
            + 0.0
        ).alias("auc"),
    )


# --------------------------------------------------------------------------
def _pr_oracle() -> str:
    from .training_data import TRIGRAM_PROFILES, _trigram_count_sql

    score = " + ".join(_trigram_count_sql(t) for t in TRIGRAM_PROFILES["en"])
    return f"""
    WITH s AS (SELECT CAST({score} AS BIGINT) AS score,
                      CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
               FROM documents),
    g AS (SELECT score, count(*) AS n, sum(pos) AS npos FROM s GROUP BY score),
    c AS (SELECT score, n, npos,
                 sum(n) OVER (ORDER BY score DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS n_ge,
                 sum(npos) OVER (ORDER BY score DESC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS tp
          FROM g),
    t AS (SELECT sum(npos) AS npos_tot FROM g)
    SELECT score, CAST(tp AS BIGINT) AS tp, CAST(n_ge - tp AS BIGINT) AS fp,
           round(tp * 1.0 / n_ge, 6) + 0.0 AS precision,
           round(tp * 1.0 / (SELECT npos_tot FROM t), 6) + 0.0 AS recall
    FROM c
    """


@register("classifier_pr_curve", oracle=_pr_oracle())
def classifier_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PRECISION-RECALL curve of the char-trigram English scorer —
    one (precision, recall) operating point per distinct score
    threshold (predict positive iff score ≥ θ), the companion to
    classifier_auc_eval for choosing a curation filter's cutoff. The
    oracle uses a global descending cumulative window; the Spark plan
    computes the same inclusive-from-above counts as total − exclusive-
    from-below via the sharded prefix sums over the score-group frame
    (no global single-task window, broadcast offsets + 1-row totals).
    Exact integer counts up to two final divisions per row."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        _trigram_en_score().alias("score"),
        (F.col("lang") == "en").cast("int").alias("pos"),
    )
    sg = s.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("npos")
    )
    totals = sg.agg(F.sum("n").alias("n_tot"), F.sum("npos").alias("npos_tot"))
    ranked = (
        sharded_prefix_sums(
            sg, "score", F.floor(F.col("score") / AUC_SCORE_SHARD), ["n", "npos"]
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "score",
            (F.col("n_tot") - F.col("n_before")).alias("n_ge"),
            (F.col("npos_tot") - F.col("npos_before")).alias("tp"),
            "npos_tot",
        )
    )
    return ranked.select(
        "score",
        F.col("tp").cast("long").alias("tp"),
        (F.col("n_ge") - F.col("tp")).cast("long").alias("fp"),
        (F.round(F.col("tp") * 1.0 / F.col("n_ge"), 6) + 0.0).alias("precision"),
        (F.round(F.col("tp") * 1.0 / F.col("npos_tot"), 6) + 0.0).alias("recall"),
    )


ALLPAIRS_TAU_NUM = 4  #: Jaccard threshold τ = 4/5 as an exact rational
ALLPAIRS_TAU_DEN = 5
ALLPAIRS_MAX_DF = 100  #: stop-shingle ceiling on the PREFIX INDEX — the
#: same scale guard as dedup.NGRAM_MAX_DF: prefix entries whose global
#: document frequency exceeds this generate no candidates, so the
#: candidate cost is Σ_capped prefix-bucket² ≤ docs·max_df instead of
#: unbounded on boilerplate-dense corpora (the r4 sf5 soak's 31-word
#: vocab put EVERY shingle at DF≈2400 and the unguarded operator could
#: not complete — VERDICT r4 #1). Recall is lost exactly for pairs whose
#: every common prefix shingle is near-universal; such pairs share only
#: boilerplate in their rarest shingles. The cap is part of the operator
#: semantics and the oracle replays it.

#: shared AllPairs oracle front-end (shingles → global DF → rarest-
#: first rank) — single-sourced so allpairs_prefix_jaccard and
#: allpairs_coverage_report provably grade the same candidate
#: semantics (the SQL twin of :func:`_allpairs_prefix_rows`)
_AP_BASE_CTES = """t AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
               i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2),
                                    ' '))) AS s
      FROM documents),
    tok AS (SELECT doc_id, unnest(s) AS g, len(s) AS n FROM t),
    dfreq AS (SELECT g, count(*) AS df FROM tok GROUP BY 1),
    ranked AS (
      SELECT tok.doc_id, tok.g, tok.n, dfreq.df,
             row_number() OVER (PARTITION BY tok.doc_id
                                ORDER BY dfreq.df, tok.g) AS r
      FROM tok JOIN dfreq USING (g))"""

#: exact-integer prefix-membership bound ⌈τn⌉ via (NUM·n+NUM) div DEN
_AP_PREF_COND = (
    f"r <= n - ({ALLPAIRS_TAU_NUM} * n + {ALLPAIRS_TAU_NUM})"
    f" // {ALLPAIRS_TAU_DEN} + 1"
)


# --------------------------------------------------------------------------
@register(
    "allpairs_prefix_jaccard",
    # replays the operator's semantics EXACTLY — rarest-first prefix
    # selection (row_number over (df, g)), the ALLPAIRS_MAX_DF stop-
    # shingle cap on the index, prefix-prefix candidates, then full-set
    # verification with the exact rational τ. On every testdata SF the
    # cap never binds (max shingle DF is 25 at sf0.1 vs cap 100), so
    # this oracle's output is IDENTICAL to the brute-force O(n²)
    # definition there — the completeness proof is preserved by
    # test_allpairs_equals_bruteforce_python, which compares against
    # the definition with no prefix scheme in the loop at all; the
    # cap's own semantics are pinned by
    # test_allpairs_df_cap_drops_boilerplate_candidates.
    oracle=f"""
    WITH {_AP_BASE_CTES},
    pref AS (
      SELECT doc_id, g, n, r FROM ranked
      WHERE {_AP_PREF_COND}
        AND df <= {ALLPAIRS_MAX_DF}),
    cands AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
              FROM pref a JOIN pref b
                ON a.g = b.g AND a.doc_id < b.doc_id
              WHERE {ALLPAIRS_TAU_DEN} * least(a.n, b.n)
                      >= {ALLPAIRS_TAU_NUM} * greatest(a.n, b.n)
                AND least(a.n - a.r, b.n - b.r) + 1
                      >= ({ALLPAIRS_TAU_NUM} * (a.n + b.n)
                          + {ALLPAIRS_TAU_NUM + ALLPAIRS_TAU_DEN} - 1)
                         // {ALLPAIRS_TAU_NUM + ALLPAIRS_TAU_DEN}),
    p AS (SELECT c.da, c.db,
                 len(list_intersect(ta.s, tb.s)) AS i,
                 len(ta.s) AS na, len(tb.s) AS nb
          FROM cands c
          JOIN t ta ON ta.doc_id = c.da
          JOIN t tb ON tb.doc_id = c.db)
    SELECT da, db, round(i * 1.0 / (na + nb - i), 6) + 0.0 AS jacc
    FROM p WHERE {ALLPAIRS_TAU_DEN} * i >= {ALLPAIRS_TAU_NUM} * (na + nb - i)
    """,
)
def allpairs_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AllPairs/ppjoin PREFIX FILTERING (Bayardo et al. 2007, Xiao et
    al. 2008) — the third exact set-similarity-join algorithm in the
    catalog (vs the inverted-index + DF-cap of dedup_ngram_jaccard and
    the banded LSH of dedup_minhash_lsh): order each document's shingle
    set by GLOBAL document frequency (rarest first), index only the
    first n − ⌈τn⌉ + 1 shingles (the prefix), and generate candidates
    from prefix-prefix collisions — provably complete for Jaccard ≥ τ,
    because two sets meeting τ must overlap inside both prefixes. The
    oracle is the quadratic definition, so the hash-match IS the
    completeness proof. Determinism: prefix length via exact integer
    ⌈τn⌉ = (4n+4) div 5 (a float 0.8·n would ceil across its own
    representation error), threshold via the cross-multiplied rational
    5·|∩| ≥ 4·|∪|, and the frequency order ties on the shingle string.
    Scale: candidate cost ∝ Σ prefix-bucket² — the rarest-first order
    makes prefix buckets the SMALLEST ones (the whole point of the
    algorithm) — AND the index is DF-capped at ALLPAIRS_MAX_DF (the
    dedup.NGRAM_MAX_DF stop-shingle guard), because on boilerplate-
    dense corpora even the rarest prefix shingles are near-universal
    and the unguarded join is structurally quadratic (the r4 sf5 soak
    aborted it at >1 h; capped it completes). Per-doc prefix selection
    is a bounded sort inside a (doc)-keyed agg; verification joins only
    candidate pairs against full distinct shingle sets."""
    # the sf0.1 documents parquet is ONE split: without the fanout the
    # CPU-bound shingle construction runs on a single core through the
    # whole pipeline (7.8 s → 3.8 s warm at sf0.1, TUNING.md). The
    # prefix self-join's double subtree execution was ALSO measured
    # against a lazy localCheckpoint — recomputing the (cheap, parallel)
    # subtree beats materializing it (3.8 s vs 7.8 s), unlike
    # knn_graph_lsh where the doubled subtree holds the band+matmul.
    docs = fanout(load_table(spark, sf_dir, "documents"), "doc_id")
    return allpairs_pipeline(docs)


def _allpairs_prefix_rows(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared AllPairs front-end: (shingle rows ``ex`` (doc_id, g),
    PRE-cap prefix rows (doc_id, n, p, df, g)) — prefix membership is
    decided on the full rarest-first (df, g) order with the exact
    integer ⌈τn⌉, BEFORE any DF cap, so a capped shingle never shifts
    which other shingles count as "prefix". Split out so the join
    (:func:`allpairs_pipeline`) and the cap-coverage report
    (:func:`allpairs_coverage_report`) provably share one candidate
    semantics."""
    # codegen shingle rows (dedup.shingle_rows rationale: the HOF array
    # path evaluates interpreted per element — ~90 s/pass at sf5)
    ex = dedup.shingle_rows(docs, distinct=True)
    ex = ex.withColumnRenamed("s", "g")
    dfreq = ex.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    n_pref = (
        F.col("n")
        - F.floor(
            (ALLPAIRS_TAU_NUM * F.col("n") + ALLPAIRS_TAU_NUM)
            / ALLPAIRS_TAU_DEN
        )
        + 1
    ).cast("int")
    prefix = (
        ex.join(dfreq, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.array_sort(F.collect_list(F.struct("df", "g"))).alias("ordered"),
        )
        .select(
            "doc_id",
            "n",
            F.posexplode(F.slice(F.col("ordered"), F.lit(1), n_pref)).alias(
                "p0", "e"
            ),
        )
        .select(
            "doc_id",
            "n",
            (F.col("p0") + 1).alias("p"),  # 1-based rank in the (df, g) order
            F.col("e.df").alias("df"),
            F.col("e.g").alias("g"),
        )
    )
    return ex, prefix


def allpairs_pipeline(
    docs: DataFrame, max_df: int | None = ALLPAIRS_MAX_DF
) -> DataFrame:
    """The AllPairs prefix-filter join over any (doc_id, text) frame —
    separated from the catalog entry so the adversarial boundary-case
    tests (exact-τ corpora, one-token docs, duplicates) can run it on
    constructed inputs. See allpairs_prefix_jaccard for the story.

    ``max_df`` (default ``ALLPAIRS_MAX_DF``) drops prefix-INDEX entries
    whose global document frequency exceeds it — the scale guard that
    bounds the self-join at Σ_capped bucket² ≤ docs·max_df on corpora
    where even the rarest-first prefix ordering lands on near-universal
    shingles (boilerplate-dense text). Verification is unchanged: full
    distinct shingle sets, exact rational τ. ``max_df=None`` restores
    the unguarded textbook algorithm (kept for the completeness-proof
    tests against the brute-force definition)."""
    ex, prefix = _allpairs_prefix_rows(docs)
    if max_df is not None:
        # the DF cap: prefix membership is decided FIRST (on the full
        # rarest-first order), then near-universal entries are removed
        # from the index — so a capped shingle never shifts which other
        # shingles count as "prefix"
        prefix = prefix.filter(F.col("df") <= max_df)
    prefix = prefix.drop("df")
    # ppjoin candidate filters (Xiao et al. 2008) — pure PRUNES, both
    # exact for J ≥ τ (and replayed by the oracle, since under a
    # binding DF cap they are part of the candidate semantics):
    # * length: J ≤ min(na,nb)/max(na,nb), so J ≥ τ needs
    #   DEN·min ≥ NUM·max;
    # * position: J ≥ τ ⇒ |A∩B| ≥ α = ⌈τ/(1+τ)·(na+nb)⌉, and the
    #   EARLIEST common token g* sits at pa ≤ na−|A∩B|+1 in A (resp. B)
    #   — so g*'s collision row satisfies 1+min(na−pa, nb−pb) ≥ α, and
    #   any row failing that bound can be dropped without losing the
    #   pair. α via exact integer ⌈NUM·s/(NUM+DEN)⌉.
    s_ = F.col("a.n") + F.col("b.n")
    alpha = F.floor(
        (ALLPAIRS_TAU_NUM * s_ + (ALLPAIRS_TAU_NUM + ALLPAIRS_TAU_DEN) - 1)
        / (ALLPAIRS_TAU_NUM + ALLPAIRS_TAU_DEN)
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "g")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(
            ALLPAIRS_TAU_DEN * F.least(F.col("a.n"), F.col("b.n"))
            >= ALLPAIRS_TAU_NUM * F.greatest(F.col("a.n"), F.col("b.n"))
        )
        .filter(
            F.least(
                F.col("a.n") - F.col("a.p"), F.col("b.n") - F.col("b.p")
            )
            + 1
            >= alpha
        )
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            # carry the set sizes THROUGH the candidate list
            # (optimization r11, guide §2.3/§2.4): n is functionally
            # dependent on doc_id, so the distinct's cardinality is
            # unchanged and the verification below no longer joins a
            # per-doc sizes aggregate back in — which removes one full
            # execution of the shingle subtree (Spark has no
            # cross-branch common-subplan elimination) plus two joins.
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .distinct()
    )
    # Row-based verification (the dedup.pair_jaccard inclusion-
    # exclusion shape, but with ONLY shuffle joins — AllPairs makes no
    # sparsity promise about its candidate set, so nothing here may
    # assume the pair list is broadcastable): |A∩B| is a count over the
    # (db, g) equi-join, set sizes ride the candidate rows, and the
    # exact-rational τ test runs on the integer counts. Candidates
    # with zero intersection vanish from the count join — they cannot
    # pass τ > 0 anyway.
    a_rows = ex.select(F.col("doc_id").alias("da"), F.col("g"))
    b_rows = ex.select(F.col("doc_id").alias("db"), F.col("g"))
    inter = (
        cand.join(a_rows, "da")
        .join(b_rows, ["db", "g"])
        .groupBy("da", "db")
        .agg(
            F.count(F.lit(1)).alias("i"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )
    verified = inter.filter(
        ALLPAIRS_TAU_DEN * F.col("i")
        >= ALLPAIRS_TAU_NUM * (F.col("na") + F.col("nb") - F.col("i"))
    )
    return verified.select(
        "da",
        "db",
        (
            F.round(
                F.col("i") * 1.0 / (F.col("na") + F.col("nb") - F.col("i")), 6
            )
            + 0.0
        ).alias("jacc"),
    )


@register(
    "allpairs_coverage_report",
    # same t/tok/dfreq/ranked front-end as allpairs_prefix_jaccard
    # (single-sourced _AP_BASE_CTES), graded PRE-cap so the report
    # measures exactly what the df <= ALLPAIRS_MAX_DF filter excludes
    oracle=f"""
    WITH {_AP_BASE_CTES},
    pref AS (SELECT doc_id, df FROM ranked WHERE {_AP_PREF_COND}),
    estats AS (
      SELECT count(*) AS n_prefix_entries,
             CAST(sum(CASE WHEN df > {ALLPAIRS_MAX_DF} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_capped_entries
      FROM pref),
    perdoc AS (
      SELECT doc_id,
             max(CASE WHEN df <= {ALLPAIRS_MAX_DF} THEN 1 ELSE 0 END) AS any_kept
      FROM pref GROUP BY doc_id),
    dstats AS (SELECT count(*) AS n_docs,
                      CAST(sum(any_kept) AS BIGINT) AS n_docs_covered
               FROM perdoc)
    SELECT n_prefix_entries, n_capped_entries,
           round(n_capped_entries * 1.0 / n_prefix_entries, 6) AS capped_fraction,
           n_docs, n_docs_covered,
           round(n_docs_covered * 1.0 / n_docs, 6) AS doc_coverage
    FROM estats, dstats
    """,
)
def allpairs_coverage_report_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the ALLPAIRS_MAX_DF stop-shingle cap DROPS from the prefix
    index — the "no silent caps" monitoring twin of dedup_recall_report
    for the AllPairs join (VERDICT r5 #2). One-row report: prefix-index
    entries pre-cap, entries the cap excludes, and — the recall-shaped
    number — how many documents keep at least one indexed prefix entry
    (a doc whose ENTIRE prefix is capped can never appear in any
    candidate pair). A curation run watches capped_fraction /
    doc_coverage at the target corpus before trusting the capped join's
    recall; TUNING.md records it at sf5/sf20."""
    return allpairs_coverage_report(load_table(spark, sf_dir, "documents"))


def allpairs_coverage_report(
    docs: DataFrame, max_df: int = ALLPAIRS_MAX_DF
) -> DataFrame:
    """See :func:`allpairs_coverage_report_query`. Shape: the shared
    prefix front-end (one DF join + per-doc bounded sort), then a
    TWO-LEVEL aggregation cascade — per-doc (entry count, capped count,
    any-kept flag), then the single-row rollup — so the prefix subtree
    is consumed exactly ONCE. The original shape aggregated ``prefix``
    twice (entry stats + per-doc coverage as independent subtrees), and
    Spark has no cross-branch common-subplan elimination: the whole
    shingle → DF-join → per-doc-sort front-end executed twice, 36.6 s
    at sf5z for a monitoring query (round 7; the per-doc groupBy rides
    the front-end's existing doc_id partitioning, so the cascade adds
    no exchange). No pairwise work; safe as a recurring monitoring
    query at full scale."""
    _, prefix = _allpairs_prefix_rows(docs)
    kept = F.when(F.col("df") <= max_df, 1).otherwise(0)
    perdoc = prefix.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_e"),
        F.sum(1 - kept).alias("n_c"),
        F.max(kept).alias("any_kept"),
    )
    return perdoc.agg(
        F.sum("n_e").alias("n_prefix_entries"),
        F.sum("n_c").alias("n_capped_entries"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("any_kept").alias("n_docs_covered"),
    ).select(
        "n_prefix_entries",
        "n_capped_entries",
        F.round(F.col("n_capped_entries") / F.col("n_prefix_entries"), 6).alias(
            "capped_fraction"
        ),
        "n_docs",
        "n_docs_covered",
        F.round(F.col("n_docs_covered") / F.col("n_docs"), 6).alias(
            "doc_coverage"
        ),
    )


CHI2_TOPK = 5  #: most-discriminative tokens kept per language


# --------------------------------------------------------------------------
@register(
    "chi2_feature_selection",
    oracle=f"""
    WITH dt AS (SELECT DISTINCT doc_id, lang, tok FROM (
                  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
                  FROM documents)),
    n AS (SELECT count(*) AS n_docs FROM documents),
    cl AS (SELECT lang, count(DISTINCT doc_id) AS n_l FROM dt GROUP BY 1),
    tf AS (SELECT tok, count(DISTINCT doc_id) AS n_t FROM dt GROUP BY 1),
    a AS (SELECT lang, tok, count(*) AS a FROM dt GROUP BY 1, 2),
    cells AS (
      SELECT a.lang, a.tok, a.a,
             tf.n_t - a.a AS b,
             cl.n_l - a.a AS c,
             (SELECT n_docs FROM n) - tf.n_t - cl.n_l + a.a AS d,
             (SELECT n_docs FROM n) AS nn
      FROM a JOIN cl ON cl.lang = a.lang JOIN tf ON tf.tok = a.tok),
    chi AS (
      SELECT lang, tok,
             round(nn * 1.0 * (a * d - b * c) * (a * d - b * c)
                   / ((a + b) * 1.0 * (c + d) * (a + c) * (b + d)), 6) + 0.0
               AS chi2
      FROM cells
      WHERE (a + b) * (c + d) * (a + c) * (b + d) > 0)
    SELECT lang, tok, chi2 FROM (
      SELECT lang, tok, chi2,
             row_number() OVER (PARTITION BY lang
                                ORDER BY chi2 DESC, tok) AS rn
      FROM chi)
    WHERE rn <= {CHI2_TOPK}
    """,
)
def chi2_feature_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² FEATURE SELECTION — the most language-discriminative tokens
    per class (the classic text-classification feature ranker, and the
    vocabulary-pruning step before training a corpus classifier): per
    (token, language), the chi-squared statistic of the 2×2 document
    contingency table (has-token × is-language), top-{CHI2_TOPK} per
    language. Everything is exact integer counting (three grouped
    distinct-counts off ONE exploded (doc, lang, token) frame) until a
    single cross-multiplied ratio per cell — a*d−b*c stays in int64 and
    the division runs on identical operands, so χ² hash-matches despite
    being 'statistics'. Degenerate margins (a token in every document)
    are dropped on both engines. The ranking window runs over the
    (lang × vocab) AGGREGATE frame — bounded by vocabulary, never by
    corpus — with a (χ² desc, token) tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).distinct()
    n = docs.agg(F.count(F.lit(1)).alias("nn"))
    cl = dt.groupBy("lang").agg(F.countDistinct("doc_id").alias("n_l"))
    tf = dt.groupBy("tok").agg(F.countDistinct("doc_id").alias("n_t"))
    a = dt.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("a"))
    cells = (
        a.join(F.broadcast(cl), "lang")
        .join(tf, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "tok",
            "a",
            (F.col("n_t") - F.col("a")).alias("b"),
            (F.col("n_l") - F.col("a")).alias("c"),
            (F.col("nn") - F.col("n_t") - F.col("n_l") + F.col("a")).alias("d"),
            "nn",
        )
    )
    margin = (
        (F.col("a") + F.col("b"))
        * (F.col("c") + F.col("d"))
        * (F.col("a") + F.col("c"))
        * (F.col("b") + F.col("d"))
    )
    det = F.col("a") * F.col("d") - F.col("b") * F.col("c")
    chi2 = (
        F.round(
            F.col("nn") * 1.0 * det * det
            / (
                (F.col("a") + F.col("b"))
                * 1.0
                * (F.col("c") + F.col("d"))
                * (F.col("a") + F.col("c"))
                * (F.col("b") + F.col("d"))
            ),
            6,
        )
        + 0.0
    )
    chi = cells.filter(margin > 0).select("lang", "tok", chi2.alias("chi2"))
    w = Window.partitionBy("lang").orderBy(F.col("chi2").desc(), "tok")
    return (
        chi.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= CHI2_TOPK)
        .select("lang", "tok", "chi2")
    )


# --------------------------------------------------------------------------
@register(
    "ols_residual_metrics",
    oracle="""
    WITH x AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x
      FROM events),
    a AS (
      SELECT user_id, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx,
             round(sum(value), 6) AS sy, round(sum(x * value), 6) AS sxy
      FROM x GROUP BY user_id HAVING count(*) >= 2),
    m AS (
      SELECT user_id, n, sx, sy,
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope_raw
      FROM a),
    mb AS (
      SELECT user_id, slope_raw,
             (sy - slope_raw * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS b0
      FROM m),
    r AS (
      SELECT x.user_id, x.value,
             x.value - (mb.slope_raw * x.x + mb.b0) AS res
      FROM x JOIN mb ON mb.user_id = x.user_id),
    g AS (
      SELECT user_id, count(*) AS n,
             round(sum(res * res), 6) AS ssr,
             round(avg(abs(res)), 6) AS mae,
             round(sum(value * value), 6) AS syy,
             round(sum(value), 6) AS sy
      FROM r GROUP BY user_id)
    SELECT user_id,
           round(sqrt(ssr / n), 6) + 0.0 AS rmse,
           mae + 0.0 AS mae,
           round(1 - ssr / (syy - sy * sy / n), 6) + 0.0 AS r2
    FROM g
    """,
)
def ols_residual_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGRESSION EVALUATION — per-user RMSE / MAE / R² of the OLS trend
    fit (the goodness-of-fit rollup that turns a million fitted models
    into a quality report, the regression twin of classifier_auc_eval).
    Two passes, both shuffling only on high-cardinality user_id: the
    sufficient-statistics fit (shared helper `_ols_fit`), then the
    model joined back to the positions frame for residuals. The model
    columns (slope, intercept) are identical doubles on both engines
    (closed form over once-rounded sums), so every residual is
    bit-identical; the three residual reductions are rounded once and
    the final metrics computed from rounded operands."""
    events = load_table(spark, sf_dir, "events")
    fit = _ols_fit(events)
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    mb = fit.select(
        "user_id",
        _ols_slope_raw().alias("slope_raw"),
        ((F.col("sy") - _ols_slope_raw() * sxd) / nd).alias("b0"),
    )
    x = _ols_positions(events)
    r = x.join(mb, "user_id").select(
        "user_id",
        "value",
        (
            F.col("value") - (F.col("slope_raw") * F.col("x") + F.col("b0"))
        ).alias("res"),
    )
    g = r.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("res") * F.col("res")), 6).alias("ssr"),
        F.round(F.avg(F.abs(F.col("res"))), 6).alias("mae"),
        F.round(F.sum(F.col("value") * F.col("value")), 6).alias("syy"),
        F.round(F.sum("value"), 6).alias("sy"),
    )
    return g.select(
        "user_id",
        (F.round(F.sqrt(F.col("ssr") / F.col("n")), 6) + 0.0).alias("rmse"),
        (F.col("mae") + 0.0).alias("mae"),
        (
            F.round(
                1 - F.col("ssr") / (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")),
                6,
            )
            + 0.0
        ).alias("r2"),
    )


# --------------------------------------------------------------------------
@register(
    "fuzzy_name_match_dist1",
    # the oracle is the quadratic DEFINITION (restricted to equal
    # lengths — the deletion-neighborhood block is complete for
    # substitution distance; cross-length indels would need
    # variant-to-full matching, irrelevant on fixed-width names)
    oracle="""
    SELECT a.c_custkey AS ka, b.c_custkey AS kb
    FROM customer a JOIN customer b
      ON a.c_custkey < b.c_custkey
    WHERE length(a.c_name) = length(b.c_name)
      AND levenshtein(a.c_name, b.c_name) = 1
    """,
)
def fuzzy_name_match_dist1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY MATCHING / entity resolution — all customer-name pairs at
    substitution edit distance exactly 1, via DELETION-NEIGHBORHOOD
    BLOCKING (the FastSS idea): each name emits one variant per
    position with that character deleted; two equal-length names
    differing in exactly one position MUST share the variant at that
    position, so the candidate set is an equi-join on (position,
    variant) — never a quadratic name comparison — and candidates are
    verified with the exact JVM levenshtein. The oracle is the O(n²)
    definition, so the hash-match proves the blocking's completeness
    (same proof-by-parity pattern as allpairs_prefix_jaccard). Scale:
    variant generation is a map-side ×len fan-out; the join keys on
    high-cardinality variants; verification touches candidates only —
    the standard shape for record linkage over billions of rows (in
    production the variant index is bucketed and distance-k uses
    k-deletion neighborhoods)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    v = cust.select(
        "c_custkey",
        "c_name",
        F.posexplode(F.sequence(F.lit(1), F.length("c_name"))).alias("p0", "i"),
    ).select(
        "c_custkey",
        "c_name",
        "i",
        F.concat(
            F.substring(F.col("c_name"), F.lit(1), F.col("i") - 1),
            F.substring(F.col("c_name"), F.col("i") + 1, F.length("c_name")),
        ).alias("v"),
    )
    a, b = v.alias("a"), v.alias("b")
    cand = (
        a.join(b, ["i", "v"])
        .filter(F.col("a.c_custkey") < F.col("b.c_custkey"))
        .select(
            F.col("a.c_custkey").alias("ka"),
            F.col("b.c_custkey").alias("kb"),
            F.col("a.c_name").alias("na"),
            F.col("b.c_name").alias("nb"),
        )
        .distinct()
    )
    return cand.filter(F.levenshtein("na", "nb") == 1).select("ka", "kb")


ECDF_VALUE_SHARD = 64.0  #: value-range width per ECDF rank shard


# --------------------------------------------------------------------------
@register(
    "value_quantile_rank",
    oracle="""
    SELECT event_id,
           round(cume_dist() OVER (ORDER BY value), 6) + 0.0 AS q
    FROM events
    """,
)
def value_quantile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECDF / QUANTILE-RANK normalization — map every value to its
    empirical cumulative fraction q = |{v' ≤ v}| / n, the rank-based
    feature transform (the first half of rank-gauss, and the
    scale-free normalization that survives heavy tails where z-scores
    don't). The oracle states it as the global cume_dist window — a
    single-task sort at scale; the Spark plan computes the identical
    counts with NO global window: group by value (ties collapse),
    sharded prefix counts over the value-group frame (within-shard
    running sum + broadcast per-shard offsets — third user of the
    `_sharded_cum_tokens` decomposition), broadcast total, one exact
    integer division per row, joined back to events on the value key.
    Deterministic because cume_dist is a pure count ratio — no
    midpoint/interpolation arithmetic."""
    events = load_table(spark, sf_dir, "events")
    vg = events.groupBy("value").agg(F.count(F.lit(1)).alias("n"))
    n_tot = events.agg(F.count(F.lit(1)).alias("n_tot"))
    ranked = (
        sharded_prefix_sums(
            vg, "value", F.floor(F.col("value") / ECDF_VALUE_SHARD), ["n"]
        )
        .crossJoin(F.broadcast(n_tot))
        .select(
            "value",
            (
                F.round(
                    (F.col("n_before") + F.col("n")) * 1.0 / F.col("n_tot"), 6
                )
                + 0.0
            ).alias("q"),
        )
    )
    return events.select("event_id", "value").join(ranked, "value").select(
        "event_id", "q"
    )


# --------------------------------------------------------------------------
@register(
    "ab_test_welch",
    oracle="""
    WITH armed AS (
      SELECT event_type, value,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2
               AS arm
      FROM events),
    g AS (
      SELECT event_type, arm, count(*) AS n,
             round(sum(value), 6) AS s,
             round(sum(value * value), 6) AS ss
      FROM armed GROUP BY 1, 2),
    p AS (
      SELECT event_type,
             max(CASE WHEN arm = 0 THEN n END) AS na,
             max(CASE WHEN arm = 0 THEN s END) AS sa,
             max(CASE WHEN arm = 0 THEN ss END) AS ssa,
             max(CASE WHEN arm = 1 THEN n END) AS nb,
             max(CASE WHEN arm = 1 THEN s END) AS sb,
             max(CASE WHEN arm = 1 THEN ss END) AS ssb
      FROM g GROUP BY 1)
    SELECT event_type, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
           round(sa / na - sb / nb, 6) + 0.0 AS mean_diff,
           round((sa / na - sb / nb)
                 / sqrt(nullif((ssa - sa * sa / na) / nullif(na - 1, 0) / na
                        + (ssb - sb * sb / nb) / nullif(nb - 1, 0) / nb, 0)),
                 6) + 0.0 AS t
    FROM p
    """,
)
def ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B EXPERIMENT ANALYSIS — Welch's t statistic per event_type for
    a deterministic md5-coin user-level assignment (assignment at the
    USER grain, the correct randomization unit; the same md5-coin idiom
    as sample_stratified_hash, so the experiment is replayable). The
    whole analysis is ONE partial+final agg to |types|×2 moment rows,
    pivoted and folded into the closed form t = Δmean /
    √(s²ₐ/nₐ + s²ᵦ/nᵦ) — at 100 TB the statistics of an experiment on
    billions of events cost one scan. Moment sums are rounded once and
    every downstream op runs on identical operands with identical
    association order (divisions sequenced left-to-right on both
    engines)."""
    events = load_table(spark, sf_dir, "events")
    arm = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 2
    )
    g = (
        events.select("event_type", "value", arm.alias("arm"))
        .groupBy("event_type", "arm")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("s"),
            F.round(F.sum(F.col("value") * F.col("value")), 6).alias("ss"),
        )
    )
    def side(col, a):
        return F.max(F.when(F.col("arm") == a, F.col(col)))
    p = g.groupBy("event_type").agg(
        side("n", 0).alias("na"), side("s", 0).alias("sa"), side("ss", 0).alias("ssa"),
        side("n", 1).alias("nb"), side("s", 1).alias("sb"), side("ss", 1).alias("ssb"),
    )
    mean_diff = F.col("sa") / F.col("na") - F.col("sb") / F.col("nb")
    var_term = (
        (F.col("ssa") - F.col("sa") * F.col("sa") / F.col("na"))
        / F.nullif(F.col("na") - 1, F.lit(0))
        / F.col("na")
        + (F.col("ssb") - F.col("sb") * F.col("sb") / F.col("nb"))
        / F.nullif(F.col("nb") - 1, F.lit(0))
        / F.col("nb")
    )
    return p.select(
        "event_type",
        F.col("na").cast("long").alias("na"),
        F.col("nb").cast("long").alias("nb"),
        (F.round(mean_diff, 6) + 0.0).alias("mean_diff"),
        (
            F.round(mean_diff / F.sqrt(F.nullif(var_term, F.lit(0.0))), 6) + 0.0
        ).alias("t"),
    )


KM_DAY0 = "2024-01-01"  #: observation-window start for the churn clock
KM_DAY_SHARD = 16  #: days per prefix-count shard


# --------------------------------------------------------------------------
@register(
    "kaplan_meier_churn",
    oracle=f"""
    WITH last AS (
      SELECT user_id,
             date_diff('day', DATE '{KM_DAY0}', CAST(max(ts) AS DATE)) AS day
      FROM events GROUP BY 1),
    t AS (SELECT count(*) AS n_users FROM last),
    d AS (SELECT day, count(*) AS churned FROM last GROUP BY 1),
    c AS (SELECT day, churned,
                 (SELECT n_users FROM t)
                   - coalesce(sum(churned) OVER (ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS at_risk
          FROM d),
    lg AS (SELECT day, churned, at_risk,
                  round(ln(1 - churned * 1.0 / at_risk), 7) AS term
           FROM c WHERE churned < at_risk)
    SELECT CAST(day AS BIGINT) AS day, CAST(at_risk AS BIGINT) AS at_risk,
           CAST(churned AS BIGINT) AS churned,
           round(sum(term) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 7) + 0.0
             AS log_surv
    FROM lg
    """,
)
def kaplan_meier_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER survival of user lifetime (churn = a user's last
    observed event day): per day, the at-risk count, churn count, and
    the log survival estimate Σ ln(1 − dᵢ/nᵢ) — the retention curve
    estimator of product analytics, in its log form so the arithmetic
    stays engine-exact (exp() is libm-private; the per-day terms are
    single ln() calls on exact rationals rounded at 7 dp, and the
    cumulative sum is rounded AT the 7-dp term grid — the naive-Bayes
    grid-alignment lesson). The oracle uses plain global windows over
    the day frame; the Spark plan gets at-risk counts from total −
    sharded exclusive prefix sums and the running log-survival from the
    same shard decomposition — the day frame is tiny here, but the
    shape is the one that survives a per-minute grid over years. Days
    where everyone remaining churns (S → 0, ln −∞) are excluded on
    both engines."""
    events = load_table(spark, sf_dir, "events")
    last = events.groupBy("user_id").agg(
        F.datediff(F.to_date(F.max("ts")), F.to_date(F.lit(KM_DAY0))).alias("day")
    )
    t = last.agg(F.count(F.lit(1)).alias("n_users"))
    d = last.groupBy("day").agg(F.count(F.lit(1)).alias("churned"))
    shard = F.floor(F.col("day") / KM_DAY_SHARD)
    c = (
        sharded_prefix_sums(d, "day", shard, ["churned"])
        .crossJoin(F.broadcast(t))
        .select(
            "day",
            "churned",
            (F.col("n_users") - F.col("churned_before")).alias("at_risk"),
        )
    )
    lg = c.filter(F.col("churned") < F.col("at_risk")).withColumn(
        "term",
        F.round(F.log(1 - F.col("churned") * 1.0 / F.col("at_risk")), 7),
    )
    return sharded_prefix_sums(lg, "day", shard, ["term"]).select(
        F.col("day").cast("long").alias("day"),
        F.col("at_risk").cast("long").alias("at_risk"),
        F.col("churned").cast("long").alias("churned"),
        (F.round(F.col("term_before") + F.col("term"), 7) + 0.0).alias(
            "log_surv"
        ),
    )


BOOT_B = 32  #: bootstrap replicates
BOOT_M = 1_000_000_000  #: uniform-hash modulus
#: Poisson(1) CDF thresholds on h ∈ [0, BOOT_M): floor(P(X ≤ k)·1e9).
#: Integer comparisons — no float thresholds to straddle an ulp.
BOOT_T = (367879441, 735758882, 919698602, 981011843, 996340153)


def _boot_w_sql(h: str) -> str:
    t = BOOT_T
    return (
        f"CASE WHEN {h} < {t[0]} THEN 0 WHEN {h} < {t[1]} THEN 1 "
        f"WHEN {h} < {t[2]} THEN 2 WHEN {h} < {t[3]} THEN 3 "
        f"WHEN {h} < {t[4]} THEN 4 ELSE 5 END"
    )


# --------------------------------------------------------------------------
@register(
    "bootstrap_mean_ci",
    oracle=f"""
    WITH rep AS (
      SELECT b, value,
             ('0x' || substr(md5(CAST(event_id AS VARCHAR) || '|'
                                 || CAST(b AS VARCHAR)), 1, 15))::BIGINT
               % {BOOT_M} AS h
      FROM events, (SELECT unnest(range(0, {BOOT_B})) AS b)),
    w AS (SELECT b, value, {_boot_w_sql('h')} AS w FROM rep),
    g AS (SELECT b, round(sum(w * value), 6) AS swx, sum(w) AS sw
          FROM w GROUP BY b),
    m AS (SELECT b, round(swx / sw, 6) AS mean_b FROM g),
    s AS (SELECT round(avg(mean_b), 6) AS bm,
                 round(stddev_samp(mean_b), 6) AS se
          FROM m)
    SELECT CAST({BOOT_B} AS BIGINT) AS n_replicates,
           bm + 0.0 AS boot_mean, se + 0.0 AS se,
           round(bm - 1.96 * se, 6) + 0.0 AS ci_lo,
           round(bm + 1.96 * se, 6) + 0.0 AS ci_hi
    FROM s
    """,
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON BOOTSTRAP confidence interval for the mean of
    events.value — the bootstrap that actually works at 100 TB
    (Chamandy et al., Google 2012): classical resampling needs n draws
    per replicate from one machine's view of the data, but Poisson(1)
    replicate weights are i.i.d. PER ROW, so all {BOOT_B} replicates
    stream through ONE scan as a ×B map-side fan-out + a B-row agg —
    no shuffle of the data, no global sampling state. Weights are
    deterministic: u = md5(event_id, b), mapped through Poisson(1) CDF
    thresholds stored as INTEGERS (floor(P·1e9)), so the 'randomness'
    replays identically in any engine and the CI hash-matches. Per
    replicate: weighted mean of once-rounded sums; summary: mean ± 1.96
    standard errors across replicates."""
    events = load_table(spark, sf_dir, "events")
    rep = events.select(
        "event_id",
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
    )
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("event_id").cast("string"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % BOOT_M
    )
    t = BOOT_T
    w = (
        F.when(h < t[0], 0)
        .when(h < t[1], 1)
        .when(h < t[2], 2)
        .when(h < t[3], 3)
        .when(h < t[4], 4)
        .otherwise(5)
    )
    g = (
        rep.select("b", "value", w.alias("w"))
        .groupBy("b")
        .agg(
            F.round(F.sum(F.col("w") * F.col("value")), 6).alias("swx"),
            F.sum("w").alias("sw"),
        )
    )
    m = g.select(F.round(F.col("swx") / F.col("sw"), 6).alias("mean_b"))
    s = m.agg(
        F.round(F.avg("mean_b"), 6).alias("bm"),
        F.round(F.stddev_samp("mean_b"), 6).alias("se"),
    )
    return s.select(
        F.lit(BOOT_B).cast("long").alias("n_replicates"),
        (F.col("bm") + 0.0).alias("boot_mean"),
        (F.col("se") + 0.0).alias("se"),
        (F.round(F.col("bm") - 1.96 * F.col("se"), 6) + 0.0).alias("ci_lo"),
        (F.round(F.col("bm") + 1.96 * F.col("se"), 6) + 0.0).alias("ci_hi"),
    )


BM25_TERMS = ("join", "hash", "scan", "vector")  #: retrieval query terms
BM25_K1 = 1.2  #: term-frequency saturation
BM25_B = 0.75  #: length-normalization strength (exact binary fraction)
BM25_TOPK = 20  #: result size


# --------------------------------------------------------------------------
@register(
    "bm25_topk",
    oracle=f"""
    WITH dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl
                FROM documents),
    stats AS (SELECT count(*) AS n, round(avg(dl), 6) AS avgdl FROM dl),
    tf AS (SELECT doc_id, tok, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents)
           WHERE tok IN ('join', 'hash', 'scan', 'vector')
           GROUP BY doc_id, tok),
    idf AS (SELECT tok,
                   round(ln(1 + (n - df + 0.5) / (df + 0.5)), 7) AS idf
            FROM (SELECT tok, count(*) AS df FROM tf GROUP BY tok), stats),
    terms AS (SELECT tf.doc_id,
                     round(idf.idf * (tf.tf * ({BM25_K1} + 1))
                           / (tf.tf + {BM25_K1}
                              * ((1 - {BM25_B})
                                 + {BM25_B} * (dl.dl / stats.avgdl))),
                           7) AS term
              FROM tf
              JOIN idf ON idf.tok = tf.tok
              JOIN dl ON dl.doc_id = tf.doc_id, stats)
    SELECT doc_id, round(sum(term), 7) + 0.0 AS score
    FROM terms GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT {BM25_TOPK}
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (Robertson-Spärck Jones) — the ranking
    function behind full-text candidate retrieval in RAG and
    decontamination pipelines, here as ONE declarative plan: document
    lengths come from ``size(split(...))`` with no explode, term
    frequencies from one explode filtered to the query's terms BEFORE
    the shuffle (the filter cuts the exploded stream to |Q| terms per
    doc, so the (doc, term) agg shuffles a few rows per document, never
    the corpus's token stream), document frequencies + avgdl are
    |Q|-row / 1-row frames broadcast back, and the top-k is
    TakeOrderedAndProject — no global sort. The reference has no
    retrieval scoring at all (SURVEY.md §2). Determinism: idf's ln()
    is a single libm call on exact-rational operands rounded at 7 dp;
    each score term is rounded at 7 dp and the ≤|Q|-term sum is rounded
    AT that same 7-dp grid (a sum of grid multiples is itself on the
    grid, so re-rounding recovers the exact decimal in both engines;
    rounding coarser would let a half-point straddle an ulp)."""
    docs = load_table(spark, sf_dir, "documents")
    dl = docs.select("doc_id", F.size(F.split(F.col("text"), " ")).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg("dl"), 6).alias("avgdl")
    )
    tf = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        .filter(F.col("tok").isin(*BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats.select("n")))
        .select(
            "tok",
            F.round(
                F.log(1 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)),
                7,
            ).alias("idf"),
        )
    )
    terms = (
        tf.join(F.broadcast(idf), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .select(
            "doc_id",
            F.round(
                F.col("idf")
                * (F.col("tf") * (BM25_K1 + 1))
                / (
                    F.col("tf")
                    + BM25_K1
                    * ((1 - BM25_B) + BM25_B * (F.col("dl") / F.col("avgdl")))
                ),
                7,
            ).alias("term"),
        )
    )
    return (
        terms.groupBy("doc_id")
        .agg((F.round(F.sum("term"), 7) + 0.0).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(BM25_TOPK)
    )


# --------------------------------------------------------------------------
@register(
    "tree_split_histogram",
    oracle="""
    WITH pts AS (
      SELECT f.feature, f.bin,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem l, LATERAL (VALUES
        ('quantity', CAST(round(l.l_quantity, 0) AS BIGINT)),
        ('discount', CAST(round(l.l_discount * 100, 0) AS BIGINT)),
        ('tax',      CAST(round(l.l_tax * 100, 0) AS BIGINT))
      ) AS f(feature, bin)),
    h AS (SELECT feature, bin, count(*) AS n, sum(y) AS pos
          FROM pts GROUP BY feature, bin),
    c AS (SELECT feature, bin,
                 sum(n) OVER w AS nl, sum(pos) OVER w AS posl,
                 sum(n) OVER t AS nt, sum(pos) OVER t AS post
          FROM h
          WINDOW w AS (PARTITION BY feature ORDER BY bin),
                 t AS (PARTITION BY feature)),
    gain AS (
      SELECT feature, bin,
             round(
               (1 - (post / CAST(nt AS DOUBLE)) * (post / CAST(nt AS DOUBLE))
                  - ((nt - post) / CAST(nt AS DOUBLE))
                    * ((nt - post) / CAST(nt AS DOUBLE)))
               - (nl / CAST(nt AS DOUBLE))
                 * (1 - (posl / CAST(nl AS DOUBLE)) * (posl / CAST(nl AS DOUBLE))
                      - ((nl - posl) / CAST(nl AS DOUBLE))
                        * ((nl - posl) / CAST(nl AS DOUBLE)))
               - ((nt - nl) / CAST(nt AS DOUBLE))
                 * (1 - ((post - posl) / CAST(nt - nl AS DOUBLE))
                        * ((post - posl) / CAST(nt - nl AS DOUBLE))
                      - ((nt - nl - (post - posl)) / CAST(nt - nl AS DOUBLE))
                        * ((nt - nl - (post - posl)) / CAST(nt - nl AS DOUBLE))),
               9) AS gain
      FROM c WHERE nl < nt)
    SELECT feature, bin AS split_bin, gain + 0.0 AS gain
    FROM (SELECT feature, bin, gain,
                 row_number() OVER (PARTITION BY feature
                                    ORDER BY gain DESC, bin) AS rk
          FROM gain)
    WHERE rk = 1
    """,
)
def tree_split_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HISTOGRAM-BASED decision-tree split finding — the core primitive
    of distributed GBDT training (XGBoost's approx mode, LightGBM):
    predict l_returnflag='R' from quantity/discount/tax. Instead of
    sorting each feature globally (the single-machine algorithm), every
    feature's values are BINNED and the corpus-sized stage is one
    unpivot → (feature, bin) partial+final count/sum agg — the
    histogram. Everything after runs on the tiny histogram frame
    (≤ ~70 rows here, ≤ bins×features always): cumulative left-child
    counts via a window ORDERED BY bin (exact BIGINT arithmetic — no
    float drift in the scan), Gini impurity decrease per candidate
    threshold, argmax per feature. At 100 TB the histogram agg is the
    only shuffle and its cardinality is bins×features, independent of
    row count — this is why every production tree trainer works this
    way. Gini gain is computed from exact integers in one identically
    associated expression on both engines, rounded once at 9 dp; the
    per-feature argmax tiebreaks on the lower bin."""
    li = load_table(spark, sf_dir, "lineitem")
    y = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    pts = li.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("quantity").alias("feature"),
                    F.round(F.col("l_quantity"), 0).cast("long").alias("bin"),
                ),
                F.struct(
                    F.lit("discount").alias("feature"),
                    F.round(F.col("l_discount") * 100, 0).cast("long").alias("bin"),
                ),
                F.struct(
                    F.lit("tax").alias("feature"),
                    F.round(F.col("l_tax") * 100, 0).cast("long").alias("bin"),
                ),
            )
        ).alias("f"),
        y.alias("y"),
    ).select("f.feature", "f.bin", "y")
    h = pts.groupBy("feature", "bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    w = Window.partitionBy("feature").orderBy("bin")
    t = Window.partitionBy("feature")
    c = h.select(
        "feature",
        "bin",
        F.sum("n").over(w).alias("nl"),
        F.sum("pos").over(w).alias("posl"),
        F.sum("n").over(t).alias("nt"),
        F.sum("pos").over(t).alias("post"),
    ).filter(F.col("nl") < F.col("nt"))

    def _gini(pos, n):
        p = pos / n.cast("double")
        q = (n - pos) / n.cast("double")
        return 1 - p * p - q * q

    nr = F.col("nt") - F.col("nl")
    posr = F.col("post") - F.col("posl")
    gain = F.round(
        _gini(F.col("post"), F.col("nt"))
        - (F.col("nl") / F.col("nt").cast("double"))
        * _gini(F.col("posl"), F.col("nl"))
        - (nr / F.col("nt").cast("double")) * _gini(posr, nr),
        9,
    )
    rk = F.row_number().over(
        Window.partitionBy("feature").orderBy(F.col("gain").desc(), "split_bin")
    )
    return (
        c.select("feature", F.col("bin").alias("split_bin"), gain.alias("gain"))
        .withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select("feature", "split_bin", (F.col("gain") + 0.0).alias("gain"))
    )


ALS_LAMBDA = 0.25  #: ridge regularizer (exact binary fraction)
ALS_MOD = 1000  #: item-factor init grid: md5 % 1000 / 1000


def _als_y_sql(comp: int) -> str:
    return (
        f"(('0x' || substr(md5(event_type || '|{comp}'), 1, 15))::BIGINT"
        f" % {ALS_MOD}) / {ALS_MOD}.0"
    )


# --------------------------------------------------------------------------
@register(
    "als_half_step",
    oracle=f"""
    WITH r AS (SELECT user_id, event_type, round(sum(value), 6) AS r
               FROM events GROUP BY user_id, event_type),
    yf AS (SELECT DISTINCT event_type,
                  {_als_y_sql(1)} AS y1, {_als_y_sql(2)} AS y2
           FROM events),
    g AS (SELECT r.user_id,
                 round(sum(y1 * y1), 9) AS a11,
                 round(sum(y1 * y2), 9) AS a12,
                 round(sum(y2 * y2), 9) AS a22,
                 round(sum(y1 * r), 6) AS b1,
                 round(sum(y2 * r), 6) AS b2
          FROM r JOIN yf ON yf.event_type = r.event_type
          GROUP BY r.user_id),
    s AS (SELECT user_id, a12, b1, b2,
                 a11 + {ALS_LAMBDA} AS d11, a22 + {ALS_LAMBDA} AS d22
          FROM g)
    SELECT user_id,
           round((d22 * b1 - a12 * b2) / (d11 * d22 - a12 * a12), 6)
             + 0.0 AS x1,
           round((d11 * b2 - a12 * b1) / (d11 * d22 - a12 * a12), 6)
             + 0.0 AS x2
    FROM s
    """,
)
def als_half_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One ALS HALF-STEP (Hu-Koren-Volinsky collaborative filtering):
    hold rank-2 item factors fixed, solve every user's ridge normal
    equations x_u = (YᵀY + λI)⁻¹ Yᵀr_u in closed form. This is the
    distributed shape of alternating least squares: implicit ratings
    are one partial+final agg over the event stream (the ONLY
    corpus-sized shuffle), item factors are a tiny deterministic frame
    (md5-grid init — replayable in any engine) broadcast into the join,
    and the per-user solve is pure column algebra over five aggregated
    sums (a11,a12,a22,b1,b2) — no Python, no per-user solver task, no
    driver loop. Rank 2 keeps the 2×2 inverse closed-form and
    hash-exact; production rank k ships the same k(k+1)/2 aggregated
    sums into a grouped-Arrow Cholesky (`grouped_arrow_agg` is the
    template), same shuffle shape. Each aggregate is rounded once
    (9 dp for the exact-grid Gram terms, 6 dp for rating-weighted
    sums); the solve then runs identically associated on identical
    operands in both engines."""
    events = load_table(spark, sf_dir, "events")
    r = events.groupBy("user_id", "event_type").agg(
        F.round(F.sum("value"), 6).alias("r")
    )

    def y(comp: int):
        h = F.conv(
            F.substring(F.md5(F.concat(F.col("event_type"), F.lit(f"|{comp}"))), 1, 15),
            16,
            10,
        ).cast("long")
        return (h % ALS_MOD) / float(ALS_MOD)

    yf = events.select("event_type").distinct().select(
        "event_type", y(1).alias("y1"), y(2).alias("y2")
    )
    g = (
        r.join(F.broadcast(yf), "event_type")
        .groupBy("user_id")
        .agg(
            F.round(F.sum(F.col("y1") * F.col("y1")), 9).alias("a11"),
            F.round(F.sum(F.col("y1") * F.col("y2")), 9).alias("a12"),
            F.round(F.sum(F.col("y2") * F.col("y2")), 9).alias("a22"),
            F.round(F.sum(F.col("y1") * F.col("r")), 6).alias("b1"),
            F.round(F.sum(F.col("y2") * F.col("r")), 6).alias("b2"),
        )
    )
    d11 = F.col("a11") + ALS_LAMBDA
    d22 = F.col("a22") + ALS_LAMBDA
    det = d11 * d22 - F.col("a12") * F.col("a12")
    return g.select(
        "user_id",
        (F.round((d22 * F.col("b1") - F.col("a12") * F.col("b2")) / det, 6) + 0.0).alias("x1"),
        (F.round((d11 * F.col("b2") - F.col("a12") * F.col("b1")) / det, 6) + 0.0).alias("x2"),
    )


NEG_K = 4  #: negatives sampled per anchor document


# --------------------------------------------------------------------------
@register(
    "contrastive_negatives",
    oracle=f"""
    WITH n AS (SELECT count(*) AS n_docs FROM documents),
    cand AS (SELECT d.doc_id, j,
                    ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '|'
                                        || CAST(j AS VARCHAR)), 1, 15))::BIGINT
                      % n.n_docs AS neg_id,
                    d.lang AS anchor_lang
             FROM documents d, (SELECT unnest(range(0, {NEG_K})) AS j), n)
    SELECT c.doc_id, CAST(c.j AS BIGINT) AS j, c.neg_id, c.anchor_lang,
           dn.lang AS neg_lang,
           CAST(c.anchor_lang <> dn.lang AS BOOLEAN) AS cross_lingual
    FROM cand c JOIN documents dn ON dn.doc_id = c.neg_id
    WHERE c.neg_id <> c.doc_id
    """,
)
def contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic NEGATIVE SAMPLING for contrastive embedding
    training (the in-batch-negatives / DPR data-prep step): each anchor
    document draws {NEG_K} pseudo-random partners as
    md5(doc_id, j) mod N over the dense id space, self-pairs dropped.
    The 'randomness' is a pure function of the data, so the sample
    replays identically in any engine AND on any cluster size — the
    property that makes a 100 TB training run reproducible across
    retries and engine versions, which no rand()-based sampler gives.
    Scale shape: the ×K fan-out is map-side (explode of a K-literal
    range), the corpus size N arrives as a broadcast 1-row frame, and
    fetching each negative's metadata is ONE shuffled hash join on the
    dense id — both sides corpus-sized, so no broadcast; AQE handles
    the (uniform by construction) key distribution. Output labels each
    pair cross-lingual or not — the mix a curriculum builder actually
    tunes."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|", F.col("doc_id").cast("string"), F.col("j").cast("string")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    cand = (
        docs.select(
            "doc_id",
            F.col("lang").alias("anchor_lang"),
            F.explode(F.sequence(F.lit(0), F.lit(NEG_K - 1))).alias("j"),
        )
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.col("j").cast("long").alias("j"),
            (h % F.col("n_docs")).alias("neg_id"),
            "anchor_lang",
        )
        .filter(F.col("neg_id") != F.col("doc_id"))
    )
    neg = docs.select(
        F.col("doc_id").alias("neg_id"), F.col("lang").alias("neg_lang")
    )
    return cand.join(neg, "neg_id").select(
        "doc_id",
        "j",
        "neg_id",
        "anchor_lang",
        "neg_lang",
        (F.col("anchor_lang") != F.col("neg_lang")).alias("cross_lingual"),
    )
