"""Training-data curation pipeline queries (north-star ⊕, SURVEY.md §2):
the operations that turn a raw corpus into a pretraining dataset —
deterministic sampling, token budgeting, context-window packing,
dedup application, PII scrubbing — each exactly oracle-checked.

Determinism discipline: every sampling/selection decision is a pure
function of the data (md5-hash coin flips, doc_id-ordered cumulative
sums), never an RNG — so results are reproducible across engines,
partitionings, and reruns, which is how a 100 TB curation run stays
auditable and resumable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.par import fanout
from ..operators import dedup
from ..functions.inline import values_df
from ..sources.parquet import load_table
from .catalog import register

SAMPLE_PCT = 10  #: deterministic hash-sample rate (percent)
TOKEN_BUDGET = 20_000  #: per-language token budget for head selection
PACK_WINDOW = 4_096  #: context-window size (tokens) for packing
SHARD_SPAN = 64  #: docs per prefix-sum shard (production would use ~1e6)


def _sharded_cum_tokens(docs: DataFrame) -> DataFrame:
    """Distributed prefix sum of whitespace-token counts in global
    (lang, doc_id) order — WITHOUT a per-language window over the raw
    corpus (the single-task-per-language scale-killer flagged in round 2).

    Two-pass shard decomposition, the textbook distributed scan:

    1. shard = floor(doc_id / SHARD_SPAN) — monotone in doc_id, so
       concatenating shards in shard order reproduces the global order.
       Pass 1 runs the running sum inside each (lang, shard): every
       window task owns ≤ SHARD_SPAN rows, regardless of corpus size.
    2. Per-shard totals (one row per (lang, shard) — cardinality
       ∝ corpus/SHARD_SPAN, i.e. ~1e5 rows per language at 100 TB with a
       production span of ~1e6) get an exclusive running offset via a
       window ordered by shard. That window partitions by lang, but over
       the AGGREGATED totals frame: its biggest task holds shard-count
       rows, never document rows.  The offsets frame is then broadcast
       back and added — global cum_tokens, bounded tasks, same answer.

    Columns out: doc_id, lang, n_tokens, cum_tokens.
    """
    toks = F.size(F.split(F.col("text"), " "))
    base = docs.select(
        "doc_id",
        "lang",
        toks.alias("n_tokens"),
        F.floor(F.col("doc_id") / SHARD_SPAN).cast("long").alias("shard"),
    )
    w_shard = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = base.withColumn("cum_in_shard", F.sum("n_tokens").over(w_shard))
    totals = base.groupBy("lang", "shard").agg(
        F.sum("n_tokens").alias("shard_total")
    )
    w_off = (
        Window.partitionBy("lang")
        .orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = totals.select(
        "lang",
        "shard",
        (F.sum("shard_total").over(w_off) - F.col("shard_total")).alias(
            "shard_offset"
        ),
    )
    return within.join(F.broadcast(offsets), ["lang", "shard"]).select(
        "doc_id",
        "lang",
        "n_tokens",
        (F.col("cum_in_shard") + F.col("shard_offset")).alias("cum_tokens"),
    )


# --------------------------------------------------------------------------
@register(
    "sample_stratified_hash",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
          < {SAMPLE_PCT}
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample via an md5 coin flip on the key — the
    reproducible alternative to df.sample() (whose output depends on
    partitioning and seed plumbing). At 100 TB this is a pure map-side
    filter: no shuffle, no state, same rows on every rerun and engine —
    the property that makes ablation subsets auditable."""
    docs = load_table(spark, sf_dir, "documents")
    coin = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100
    )
    return docs.filter(coin < SAMPLE_PCT).select("doc_id", "lang")


# --------------------------------------------------------------------------
@register(
    "token_budget_head",
    oracle=f"""
    SELECT doc_id, lang, cum_tokens FROM (
      SELECT doc_id, lang,
             CAST(sum(len(string_split(text, ' ')))
                  OVER (PARTITION BY lang ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens
      FROM documents)
    WHERE cum_tokens <= {TOKEN_BUDGET}
    """,
)
def token_budget_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token budgeting: take documents (in deterministic
    doc_id order) until the language's token budget is spent — the
    data-mixture knob of a pretraining run. lang is low-cardinality and
    skewed, so the running sum is computed by the two-pass shard prefix
    sum (`_sharded_cum_tokens`): no task ever owns a whole language —
    the bare-lang window this replaced would put ALL of English on one
    task at 100 TB. Same answer as the oracle's global window."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        _sharded_cum_tokens(docs)
        .select("doc_id", "lang", F.col("cum_tokens").cast("long").alias("cum_tokens"))
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET)
    )


# --------------------------------------------------------------------------
@register(
    "pack_documents_greedy",
    oracle=f"""
    SELECT doc_id, lang,
           CAST((cum_tokens - n_tokens) // {PACK_WINDOW} AS BIGINT) AS bin_id
    FROM (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens,
             sum(len(string_split(text, ' ')))
               OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM documents)
    """,
)
def pack_documents_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing (concat-then-chunk, the standard LLM
    pretraining layout): documents are concatenated per language in
    doc_id order and a doc's bin is the context window its FIRST token
    lands in — bin_id = (cumulative tokens before the doc) div window.
    Pure window arithmetic, no UDF; downstream writers group by
    (lang, bin_id) to emit one training sequence per bin.

    The cumulative sum comes from the two-pass shard prefix sum
    (`_sharded_cum_tokens`) — bounded tasks at any corpus size, unlike
    the bare-lang window it replaced."""
    docs = load_table(spark, sf_dir, "documents")
    cum = _sharded_cum_tokens(docs)
    return cum.select(
        "doc_id",
        "lang",
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / PACK_WINDOW)
        .cast("long")
        .alias("bin_id"),
    )


# --------------------------------------------------------------------------
@register(
    "dedup_apply_keep",
    oracle="""
    SELECT doc_id,
           doc_id = min(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS keep
    FROM documents
    """,
)
def dedup_apply_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLYING exact dedup: one keep/drop verdict per document (keep the
    lowest doc_id of each content-fingerprint group). The window form
    avoids a self-join back to the dedup table — one shuffle on the
    fingerprint, verdicts for every row in a single pass."""
    from ..functions.text import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(fingerprint(F.col("text")))
    return docs.select(
        "doc_id", (F.col("doc_id") == F.min("doc_id").over(w)).alias("keep")
    )


# --------------------------------------------------------------------------
@register(
    "pii_scrub_customer",
    oracle="""
    SELECT c_custkey,
           trim(regexp_replace(c_name, '[0-9]+', '<ID>', 'g')) AS scrubbed,
           CAST(len(regexp_extract_all(c_name, '[0-9]+')) AS INTEGER) AS n_hits
    FROM customer
    """,
)
def pii_scrub_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrubbing: replace identifier-like digit runs with a
    placeholder and count the redactions — the shape of email/SSN/phone
    scrubbing in a corpus cleanroom (same regexp_replace machinery,
    patterns swapped per deployment). JVM regex, zero Python."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.trim(F.regexp_replace(F.col("c_name"), "[0-9]+", "<ID>")).alias("scrubbed"),
        F.size(F.regexp_extract_all(F.col("c_name"), F.lit("[0-9]+"), 0)).alias("n_hits"),
    )


#: per-language character-trigram marker profiles for the n-gram
#: language-ID heuristic (fixed literals so both engines share them)
TRIGRAM_PROFILES: dict[str, list[str]] = {
    "de": ["sch", "ein", "ich", "und", "der", "gen", "ung", "cht"],
    "en": ["the", "ing", "ion", "and", "ent", "for", "ati", "ter"],
    "fr": ["les", "ent", "que", "ion", "eur", "ait", "ans", "our"],
}


def _trigram_count_sql(tri: str) -> str:
    return f"(strlen(text) - strlen(replace(text, '{tri}', ''))) // 3"


# --------------------------------------------------------------------------
@register(
    "char_trigram_langid",
    oracle=f"""
    SELECT doc_id,
           CAST({' + '.join(_trigram_count_sql(t) for t in TRIGRAM_PROFILES['de'])} AS BIGINT) AS score_de,
           CAST({' + '.join(_trigram_count_sql(t) for t in TRIGRAM_PROFILES['en'])} AS BIGINT) AS score_en,
           CAST({' + '.join(_trigram_count_sql(t) for t in TRIGRAM_PROFILES['fr'])} AS BIGINT) AS score_fr
    FROM documents
    """,
)
def char_trigram_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-n-gram language-ID scores: count marker trigrams per
    candidate language via replace-and-measure — pure JVM string ops,
    zero Python, one pass. (Argmax + thresholding is a trivial CASE on
    top; the scores are the operator.) The replace-count identity
    (len(text) − len(replace(text, tri)))/3 counts non-overlapping
    occurrences identically in any engine."""
    docs = load_table(spark, sf_dir, "documents")

    def count(tri: str):
        return (
            F.length("text") - F.length(F.replace(F.col("text"), F.lit(tri), F.lit("")))
        ) / 3

    def score(lang: str):
        cols = [count(t) for t in TRIGRAM_PROFILES[lang]]
        acc = cols[0]
        for c in cols[1:]:
            acc = acc + c
        return acc.cast("long").alias(f"score_{lang}")

    return docs.select("doc_id", score("de"), score("en"), score("fr"))


# --------------------------------------------------------------------------
@register(
    "curate_corpus",
    oracle=f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang, text,
             doc_id = min(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS keep
      FROM documents)
    WHERE keep
      AND strlen(text) >= 200
      AND ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 50
    """,
)
def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation CAPSTONE — compose the pipeline's stages into one
    declarative selection: exact-dedup keep verdict × minimum-length
    quality floor × deterministic 50% hash sample. Catalyst fuses all
    three into a single scan + one fingerprint window; at 100 TB this
    whole corpus cut is two stages."""
    from ..functions.text import fingerprint

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(fingerprint(F.col("text")))
    keep = F.col("doc_id") == F.min("doc_id").over(w)
    coin = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % 100
    )
    return (
        docs.withColumn("keep", keep)
        .filter(F.col("keep") & (F.length("text") >= 200) & (coin < 50))
        .select("doc_id", "lang")
    )


# --------------------------------------------------------------------------
@register(
    "bigram_logprob_scoring",
    oracle="""
    WITH toks AS (
      SELECT doc_id, tok, pos
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                   generate_subscripts(string_split(text, ' '), 1) AS pos
            FROM documents)),
    bigrams AS (
      SELECT doc_id, tok AS w1,
             lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM toks),
    bg AS (SELECT doc_id, w1, w2 FROM bigrams WHERE w2 IS NOT NULL),
    c12 AS (SELECT w1, w2, count(*) AS n12 FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, count(*) AS n1 FROM bg GROUP BY 1)
    SELECT bg.doc_id, round(avg(ln(c12.n12 * 1.0 / c1.n1)), 4) AS avg_logprob,
           count(*) AS n_bigrams
    FROM bg JOIN c12 ON bg.w1 = c12.w1 AND bg.w2 = c12.w2
            JOIN c1 ON bg.w1 = c1.w1
    GROUP BY bg.doc_id
    """,
)
def bigram_logprob_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality scoring: a bigram language model is
    FITTED ON THE CORPUS ITSELF (MLE counts) and every document scored
    by its mean bigram log-probability — the self-supervised fluency
    filter of a pretraining pipeline (low scorers are gibberish or
    boilerplate outliers). Two-pass analytics: bigram extraction via a
    lead window, model = two grouped counts, scoring = joins back to the
    bigram stream. All shuffles key on w1 — Catalyst reuses the
    partitioning across the model build and the scoring join."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "w1")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        toks.withColumn("w2", F.lead("w1").over(w))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", "w1", "w2")
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    scored = bg.join(c12, ["w1", "w2"]).join(c1, "w1")
    return scored.groupBy("doc_id").agg(
        F.round(F.avg(F.log(F.col("n12") / F.col("n1"))), 4).alias("avg_logprob"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )


# --------------------------------------------------------------------------
@register(
    "top_tokens_per_lang",
    oracle="""
    SELECT lang, tok, n FROM (
      SELECT lang, tok, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rn
      FROM (SELECT lang, tok, count(*) AS n
            FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            GROUP BY lang, tok))
    WHERE rn <= 5
    """,
)
def top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 tokens per language (vocabulary head): explode → two-key
    count → ranked window with a deterministic (count desc, token) tie
    break — the per-group top-k idiom at corpus scale (WindowGroupLimit
    pushes the rank filter below the exchange)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("lang", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("tok"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "tok", "n")
    )


# --------------------------------------------------------------------------
@register(
    "tfidf_top_terms",
    oracle="""
    WITH tf AS (
      SELECT doc_id, tok, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY 1, 2),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             round(tf.tf * ln((SELECT n_docs FROM n) * 1.0 / df.df), 6) AS tfidf
      FROM tf JOIN df ON tf.tok = df.tok)
    SELECT doc_id, tok, tfidf FROM (
      SELECT doc_id, tok, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, tok) AS rn
      FROM scored)
    WHERE rn = 1
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with the most-distinctive term per document — the classic
    keyword/topic signal of a corpus pipeline. Term frequencies and
    document frequencies are two grouped counts off one exploded stream
    (shared shuffle key: tok), the score is a broadcast-joinable model,
    and the per-doc argmax is a rank-1 window."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "tok", "tfidf")
    )


# --------------------------------------------------------------------------
@register(
    "balanced_sample_per_lang",
    oracle="""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    WHERE rn <= 20
    """,
)
def balanced_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: exactly 20 documents per language,
    chosen by ranking on an md5 shuffle key — deterministic
    pseudo-random order, so the 'random' sample is reproducible across
    engines and reruns (df.sample can guarantee neither exact counts
    nor cross-engine identity)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang")
    )


# --------------------------------------------------------------------------
@register(
    "normalize_text_pipeline",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                   ' +', ' ', 'g'))) AS norm_fp,
           CAST(strlen(trim(regexp_replace(regexp_replace(lower(text),
                                                          '[^a-z0-9 ]', ' ', 'g'),
                                           ' +', ' ', 'g'))) AS BIGINT) AS norm_len
    FROM documents
    """,
)
def normalize_text_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical text-cleaning chain (lowercase → strip
    non-alphanumerics → collapse whitespace → trim), fingerprinted — the
    normalization that runs BEFORE dedup so near-identical formatting
    variants collapse. Pure JVM regex, one pass, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_fp"),
        F.length(norm).cast("long").alias("norm_len"),
    )


# --------------------------------------------------------------------------
@register(
    "decontaminate_against_eval",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 7, 1) + 1),
               i -> array_to_string(list_slice(t, i, i + 7), ' ')))) AS g
      FROM toks),
    eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id < 10),
    hits AS (
      SELECT DISTINCT tr.doc_id
      FROM grams tr JOIN eval_grams e ON tr.g = e.g
      WHERE tr.doc_id >= 10)
    SELECT d.doc_id, d.doc_id IN (SELECT doc_id FROM hits) AS contaminated
    FROM documents d WHERE d.doc_id >= 10
    """,
)
def decontaminate_against_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION — the must-run filter of any serious
    pretraining pipeline: flag training documents sharing any 8-gram
    with the held-out eval set (here: doc_id < 10 stands in for the
    benchmark). The eval n-gram set is tiny by construction, so it
    BROADCASTS and the training side never shuffles — at 100 TB this is
    a map-side semi-join per shard. Verbatim 8-gram overlap is the
    standard published criterion (GPT-3 appendix style)."""
    docs = load_table(spark, sf_dir, "documents")
    # codegen shingle rows (dedup.shingle_rows rationale); per-doc
    # duplicate grams are harmless here — eval side is distinct'd and
    # the train side is a semi-join probe
    grams = dedup.shingle_rows(docs, k=8).withColumnRenamed("s", "g")
    eval_grams = grams.filter(F.col("doc_id") < 10).select("g").distinct()
    train = docs.filter(F.col("doc_id") >= 10)
    hits = (
        grams.filter(F.col("doc_id") >= 10)
        .join(F.broadcast(eval_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return train.join(hits.withColumn("hit", F.lit(True)), "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("hit"), F.lit(False)).alias("contaminated")
    )


# --------------------------------------------------------------------------
@register(
    "window_range_frame",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 2)
             AS hour_sum
    FROM events
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: trailing 1-hour per-user value sum — the
    value-based frame (all rows within the interval, ties included)
    vs. the ROWS frames elsewhere in the catalog. Integer-microsecond
    ordering keeps the frame boundaries engine-exact."""
    events = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return events.select(
        "event_id", "user_id", F.round(F.sum("value").over(w), 2).alias("hour_sum")
    )


# --------------------------------------------------------------------------
@register(
    "map_key_counts",
    oracle="""
    SELECT k, count(*) AS n
    FROM (SELECT unnest(json_keys(props)) AS k FROM events)
    GROUP BY k
    """,
)
def map_key_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured MAP access: parse the JSON props column into a
    typed map, explode its keys, count — the schema-discovery scan you
    run before promoting JSON blobs to real columns."""
    events = load_table(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,string>")
    return (
        events.select(F.explode(F.map_keys(m)).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
@register(
    "full_outer_nation_counts",
    oracle="""
    SELECT coalesce(c.c_nationkey, s.s_nationkey) AS nationkey,
           c.n_cust, s.n_supp
    FROM (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY 1) c
    FULL OUTER JOIN
         (SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY 1) s
      ON c.c_nationkey = s.s_nationkey
    """,
)
def full_outer_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two aggregates — null-padded rows on whichever
    side lacks the nation (at sf0.001 several nations have customers but
    no suppliers, so both null shapes are exercised)."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    joined = cust.join(supp, cust.c_nationkey == supp.s_nationkey, "full_outer")
    return joined.select(
        F.coalesce(F.col("c_nationkey"), F.col("s_nationkey")).alias("nationkey"),
        "n_cust",
        "n_supp",
    )


# --------------------------------------------------------------------------
@register(
    "repetition_quality",
    # docs with a single token produce no bigrams: LEFT JOIN + coalesce 0
    # on both engines so they still get a row
    oracle="""
    WITH toks AS (
      SELECT doc_id, tok, pos FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents)),
    n AS (SELECT doc_id, count(*) AS n_tokens,
                 count(DISTINCT tok) AS n_distinct
          FROM toks GROUP BY 1),
    ttop AS (SELECT doc_id, max(c) AS top_tok FROM (
               SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2)
             GROUP BY 1),
    bg AS (SELECT doc_id, tok AS w1,
                  lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
           FROM toks),
    btop AS (SELECT doc_id, max(c) AS top_bigram FROM (
               SELECT doc_id, w1, w2, count(*) AS c FROM bg
               WHERE w2 IS NOT NULL GROUP BY 1, 2, 3)
             GROUP BY 1)
    SELECT n.doc_id,
           round(1.0 - n.n_distinct * 1.0 / n.n_tokens, 6) AS dup_token_frac,
           round(ttop.top_tok * 1.0 / n.n_tokens, 6) AS top_token_frac,
           round(coalesce(btop.top_bigram * 2.0 / n.n_tokens, 0.0), 6)
             AS top_bigram_frac
    FROM n JOIN ttop ON n.doc_id = ttop.doc_id
           LEFT JOIN btop ON n.doc_id = btop.doc_id
    """,
)
def repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1, the
    standard pretraining quality gates the reference has no analogue
    for): per document, the duplicate-token fraction
    (1 − distinct/total), the fraction of tokens taken by the most
    frequent token, and the fraction covered by the most frequent
    bigram. High scorers are boilerplate/spam and get dropped upstream
    of training. Shape: one posexplode stream feeds all three signals —
    two grouped counts plus a lead-window bigram pass, every shuffle
    keyed on high-cardinality doc_id, so tasks stay bounded at any
    corpus size (unlike a per-language window). Ratios are exact-rounded
    double divisions of integer counts — engine-identical, so even this
    floating-point query hash-matches its oracle."""
    docs = load_table(spark, sf_dir, "documents")
    # One (tok, next-tok) row per position via a shifted-slice zip —
    # the bigram needs NO sort/window (the r4 shape paid a doc_id
    # exchange + per-doc sort just to lead() the next token), and ONE
    # doc_id-keyed exchange feeds all three signals: every downstream
    # grouping's keys include doc_id, so HashPartitioning(doc_id)
    # satisfies them all and the token stream is generated and
    # exchanged exactly once (4 corpus-sized exchanges → 1; the
    # duplicate_spans/naive-Bayes shared-exchange idiom).
    toks_arr = F.split(F.col("text"), " ")
    z = F.arrays_zip(
        toks_arr,
        F.slice(toks_arr, 2, F.greatest(F.size(toks_arr) - 1, F.lit(0))),
    )
    ex = (
        docs.select("doc_id", F.explode(z).alias("z"))
        .select(
            "doc_id",
            F.col("z").getField("0").alias("tok"),
            F.col("z").getField("1").alias("w2"),
        )
        .repartition(F.col("doc_id"))
    )
    # One aggregation CASCADE, finest grouping first — every level's
    # keys include doc_id, so the single exchange above satisfies all
    # three, and each level reduces the previous one's output instead
    # of three independent consumers re-aggregating the full stream
    # (null w2 = the doc's last token: its (tok, null) group counts
    # toward token totals but is masked out of the bigram max):
    #   (doc, tok, w2) counts  → bigram max + token counts
    #   (doc, tok)   counts    → top token, distinct count, n_tokens
    #   (doc)                  → the three report columns
    b3 = ex.groupBy("doc_id", "tok", "w2").agg(F.count(F.lit(1)).alias("c3"))
    b2 = b3.groupBy("doc_id", "tok").agg(
        F.sum("c3").alias("c2"),
        F.max(F.when(F.col("w2").isNotNull(), F.col("c3"))).alias("mb"),
    )
    n = b2.groupBy("doc_id").agg(
        F.sum("c2").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c2").alias("top_tok"),
        F.max("mb").alias("top_bigram"),
    )
    return (
        n.select(
            "doc_id",
            F.round(F.lit(1.0) - F.col("n_distinct") * 1.0 / F.col("n_tokens"), 6)
            .alias("dup_token_frac"),
            F.round(F.col("top_tok") * 1.0 / F.col("n_tokens"), 6)
            .alias("top_token_frac"),
            F.round(
                F.coalesce(F.col("top_bigram") * 2.0 / F.col("n_tokens"), F.lit(0.0)),
                6,
            ).alias("top_bigram_frac"),
        )
    )


MIX_TEMPERATURE = 0.7  #: temperature for domain-mix resampling weights


# --------------------------------------------------------------------------
@register(
    "domain_mix_weights",
    oracle=f"""
    WITH g AS (
      SELECT lang, source, count(*) AS n_docs,
             sum(len(string_split(text, ' '))) AS n_tokens
      FROM documents GROUP BY 1, 2),
    t AS (SELECT sum(n_tokens) AS tot FROM g),
    p AS (SELECT lang, source, n_docs, n_tokens,
                 pow(n_tokens * 1.0 / (SELECT tot FROM t), {MIX_TEMPERATURE})
                   AS pw
          FROM g),
    z AS (SELECT sum(pw) AS zn FROM p)
    SELECT lang, source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(pw / (SELECT zn FROM z), 6) AS mix_weight
    FROM p
    """,
)
def domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixing (the multinomial-sampling recipe
    of XLM-R / mT5): per (lang, source) stratum, resampling weight
    ∝ token_share^T with T = 0.7 — upweights tail domains, downweights
    the head, the knob that sets a pretraining data mixture. Shape: one
    grouped count off the corpus scan, then all normalization happens on
    the tiny strata frame via two 1-row aggregates folded in as
    broadcast cross joins — no global window, no driver round-trip, and
    the corpus-sized stage is a single partial+final agg."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"),
    )
    tot = g.agg(F.sum("n_tokens").alias("tot"))
    p = g.crossJoin(F.broadcast(tot)).withColumn(
        "pw", F.pow(F.col("n_tokens") * 1.0 / F.col("tot"), F.lit(MIX_TEMPERATURE))
    )
    z = p.agg(F.sum("pw").alias("zn"))
    return (
        p.crossJoin(F.broadcast(z))
        .select(
            "lang",
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(F.col("pw") / F.col("zn"), 6).alias("mix_weight"),
        )
    )


WEIGHTED_SAMPLE_K = 100  #: sample size for the weighted priority sample


# --------------------------------------------------------------------------
@register(
    "weighted_sample_topk",
    oracle=f"""
    SELECT doc_id, n_chars FROM documents
    ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               * 1.0 / n_chars,
             doc_id
    LIMIT {WEIGHTED_SAMPLE_K}
    """,
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted priority sampling (Duffield-Lund-Thorup
    shape): each doc gets priority u/w where u is its md5 coin
    (a 60-bit integer, the same idiom as sample_stratified_hash) and
    w = n_chars; the k smallest priorities form a sample whose inclusion
    odds scale with document size — longer docs are proportionally more
    likely in, yet the selection is a pure function of the data
    (rerunnable, engine-independent, no RNG state). Numerically exact
    across engines: one int→double conversion and one division, both
    correctly rounded IEEE ops — no transcendentals, so the ordering is
    bit-identical and the top-k hash-matches. Spark shape: map-side
    priority + TakeOrderedAndProject — per-partition heaps of k, a
    single k-row merge at the driver, no global sort, no window."""
    docs = load_table(spark, sf_dir, "documents")
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    pri = u * F.lit(1.0) / F.col("n_chars")
    return (
        docs.select("doc_id", "n_chars", pri.alias("pri"))
        .orderBy("pri", "doc_id")
        .limit(WEIGHTED_SAMPLE_K)
        .select("doc_id", "n_chars")
    )


CHUNK_WINDOW = 64  #: tokens per chunk
CHUNK_STRIDE = 48  #: tokens between chunk starts (overlap = WINDOW - STRIDE)


# --------------------------------------------------------------------------
@register(
    "chunk_documents_overlap",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents),
    c AS (
      SELECT doc_id, n,
             unnest(range(0, 1 + CASE WHEN n <= {CHUNK_WINDOW} THEN 0
                    ELSE (n - {CHUNK_WINDOW} + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE}
                    END)) AS chunk_id,
             toks
      FROM t)
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(least(n - chunk_id * {CHUNK_STRIDE}, {CHUNK_WINDOW}) AS BIGINT)
             AS chunk_len,
           md5(array_to_string(
             toks[chunk_id * {CHUNK_STRIDE} + 1 :
                  chunk_id * {CHUNK_STRIDE} + {CHUNK_WINDOW}], ' ')) AS chunk_fp
    FROM c
    """,
)
def chunk_documents_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping document chunking — the context-window splitter every
    RAG index and long-document pretraining pipeline runs: windows of
    64 tokens starting every 48 tokens (16-token overlap), so no
    boundary sentence is lost to a hard cut. 1 → N fan-out as pure
    column algebra: chunk count from token count, `posexplode` of a
    `sequence`, `slice` for the window — no UDF, fully codegen'd, and
    the shuffle-free map-side shape means 100 TB chunks at scan speed.
    Chunk text is fingerprinted (md5) rather than carried, keeping the
    output narrow; chunk_len exposes the ragged tail."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    n_extra = F.when(n <= CHUNK_WINDOW, F.lit(0)).otherwise(
        F.floor((n - CHUNK_WINDOW + CHUNK_STRIDE - 1) / CHUNK_STRIDE)
    )
    base = docs.select(
        "doc_id", toks.alias("toks"), n.alias("n"),
        F.explode(F.sequence(F.lit(0), n_extra)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * CHUNK_STRIDE
    return base.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.least(F.col("n") - start, F.lit(CHUNK_WINDOW)).cast("long").alias("chunk_len"),
        F.md5(F.concat_ws(" ", F.slice(F.col("toks"), start + 1, CHUNK_WINDOW))).alias(
            "chunk_fp"
        ),
    )


CDC_DIVISOR = 16  #: boundary when the 2-token rolling hash % this == 0


def cdc_chunks(docs: DataFrame) -> DataFrame:
    """CONTENT-DEFINED chunking: a chunk boundary opens before token i
    whenever the md5 hash of the (token_{i−1}, token_i) bigram ≡ 0
    (mod CDC_DIVISOR) — boundaries depend only on LOCAL content, so an
    insertion early in a document shifts every fixed-window chunk but
    leaves all CDC chunks after the next boundary byte-identical (the
    rsync/LBFS trick, and why storage dedup and sub-document corpus
    dedup chunk this way; pinned by the shift-stability property test).
    Expected chunk length = CDC_DIVISOR tokens.

    Shape: posexplode → map-side boundary bit (one md5 per token) →
    per-document running sum (window bounded by document length — never
    a corpus-wide partition) → (doc_id, chunk_id) hash agg assembling
    the chunk fingerprint. Columns: doc_id, chunk_id, n_tokens,
    chunk_fp."""
    toks = F.split(F.col("text"), " ")
    base = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id", "toks", F.posexplode("toks").alias("pos0", "tok")
    )
    prev = F.element_at(F.col("toks"), F.col("pos0"))  # 1-based ⇒ previous token
    bigram_hash = (
        F.conv(
            F.substring(F.md5(F.concat_ws(" ", prev, F.col("tok"))), 1, 15), 16, 10
        ).cast("long")
        % CDC_DIVISOR
    )
    b = F.when(F.col("pos0") == 0, F.lit(0)).otherwise(
        F.when(bigram_hash == 0, F.lit(1)).otherwise(F.lit(0))
    )
    w = Window.partitionBy("doc_id").orderBy("pos0").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    chunked = base.select(
        "doc_id", "pos0", "tok", F.sum(b).over(w).alias("chunk_id")
    )
    return chunked.groupBy("doc_id", "chunk_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos0", "tok"))),
                    lambda s: s.getField("tok"),
                ),
            )
        ).alias("chunk_fp"),
    )


# --------------------------------------------------------------------------
@register(
    "chunk_documents_cdc",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    pos AS (SELECT doc_id, toks,
                   unnest(range(1, len(toks) + 1)) AS pos
            FROM t),
    flagged AS (
      SELECT doc_id, pos, toks[pos] AS tok,
             CASE WHEN pos = 1 THEN 0
                  WHEN ('0x' || substr(md5(toks[pos - 1] || ' ' || toks[pos]), 1, 15))::BIGINT
                       % {CDC_DIVISOR} = 0 THEN 1
                  ELSE 0 END AS b
      FROM pos),
    chunked AS (
      SELECT doc_id, pos, tok,
             sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id
      FROM flagged)
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_fp
    FROM chunked GROUP BY doc_id, chunk_id
    """,
)
def chunk_documents_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking over the corpus — the dedup-STABLE
    twin of chunk_documents_overlap: fixed windows shift under a
    single-token insertion, CDC boundaries re-synchronize at the next
    content-determined cut, so duplicated passages fingerprint
    identically wherever they sit (the input sub-document dedup wants).
    See cdc_chunks for shape and the shift-stability property test."""
    return cdc_chunks(load_table(spark, sf_dir, "documents"))


INCR_SPLIT = 250  #: doc_id boundary between "existing corpus" and "new batch"


# --------------------------------------------------------------------------
@register(
    "dedup_incremental_batch",
    oracle=f"""
    WITH fp AS (SELECT doc_id,
                       md5(array_to_string(
                         list_sort(list_distinct(string_split(text, ' '))), ' '))
                         AS f
                FROM documents),
    old AS (SELECT DISTINCT f FROM fp WHERE doc_id < {INCR_SPLIT}),
    new AS (SELECT doc_id, f FROM fp WHERE doc_id >= {INCR_SPLIT})
    SELECT new.doc_id,
           EXISTS (SELECT 1 FROM old WHERE old.f = new.f) AS dup_of_corpus,
           new.doc_id > min(new.doc_id)
             OVER (PARTITION BY new.f) AS dup_within_batch
    FROM new
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the production shape: a new crawl batch
    (doc_id ≥ split) is deduped against the EXISTING corpus (doc_id <
    split) without re-deduping the corpus itself. Two verdicts per new
    doc: duplicate-of-corpus (left-semi membership probe against the
    corpus fingerprint set — at 100 TB that set lives as a bucketed
    table or bloom filter, and only the NEW batch is scanned hot) and
    duplicate-within-batch (fingerprint window on the batch alone,
    keep-first). Asymmetry is the point: corpus rows are never
    re-emitted, so daily ingest cost is ∝ batch, not ∝ corpus.

    The key is a bag-of-words fingerprint (md5 of the sorted distinct
    token set): exact content hashing is vacuously unique on this
    corpus (the planted duplicates are NEAR-dups), while same-vocabulary
    matching catches reshuffled/boilerplate variants — 221 real
    cross-split collisions at sf0.01, so both verdict columns exercise
    both truth values."""
    bow = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(F.col("text"), " "))))
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", bow.alias("f")
    )
    old = docs.filter(F.col("doc_id") < INCR_SPLIT).select("f").distinct()
    new = docs.filter(F.col("doc_id") >= INCR_SPLIT)
    probed = new.join(
        old.withColumn("in_corpus", F.lit(True)), "f", "left"
    )
    w = Window.partitionBy("f")
    return probed.select(
        "doc_id",
        F.coalesce(F.col("in_corpus"), F.lit(False)).alias("dup_of_corpus"),
        (F.col("doc_id") > F.min("doc_id").over(w)).alias("dup_within_batch"),
    )


# --------------------------------------------------------------------------
@register(
    "quality_blend_zscore",
    oracle="""
    WITH sig AS (
      SELECT doc_id, len(string_split(text, ' ')) * 1.0 AS n_tok,
             len(list_distinct(string_split(text, ' '))) * 1.0
               / len(string_split(text, ' ')) AS distinct_ratio
      FROM documents),
    m AS (SELECT avg(n_tok) AS mu_t, stddev_pop(n_tok) AS sd_t,
                 avg(distinct_ratio) AS mu_d, stddev_pop(distinct_ratio) AS sd_d
          FROM sig)
    SELECT doc_id,
           round(((n_tok - (SELECT mu_t FROM m)) / (SELECT sd_t FROM m)
                  + (distinct_ratio - (SELECT mu_d FROM m))
                    / (SELECT sd_d FROM m)) / 2, 6) AS quality_z
    FROM sig
    """,
)
def quality_blend_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal quality blending — the way separate heuristics
    (length, lexical diversity, …) become ONE ranking score: each
    signal is z-normalized against corpus statistics and averaged.
    Scale shape: the stats are a 1-row aggregate folded back as a
    broadcast cross join (same pattern as domain_mix_weights) — no
    global window, the corpus-sized stage is one scan + one partial+
    final agg, and scoring is a map. Rounded at 6 decimals on both
    engines (sums of doubles are order-dependent; the z-scores
    divide two near-identical aggregates, so 6 dp absorbs ulp drift)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    sig = docs.select(
        "doc_id",
        (F.size(toks) * F.lit(1.0)).alias("n_tok"),
        (F.size(F.array_distinct(toks)) * F.lit(1.0) / F.size(toks)).alias(
            "distinct_ratio"
        ),
    )
    m = sig.agg(
        F.avg("n_tok").alias("mu_t"),
        F.stddev_pop("n_tok").alias("sd_t"),
        F.avg("distinct_ratio").alias("mu_d"),
        F.stddev_pop("distinct_ratio").alias("sd_d"),
    )
    return sig.crossJoin(F.broadcast(m)).select(
        "doc_id",
        F.round(
            (
                (F.col("n_tok") - F.col("mu_t")) / F.col("sd_t")
                + (F.col("distinct_ratio") - F.col("mu_d")) / F.col("sd_d")
            )
            / 2,
            6,
        ).alias("quality_z"),
    )


BLOCK_TOKENS = 16  #: tokens per block for sub-document dedup


# --------------------------------------------------------------------------
@register(
    "block_dedup_fraction",
    oracle=f"""
    WITH b AS (
      SELECT doc_id,
             md5(array_to_string(
               toks[i * {BLOCK_TOKENS} + 1 : (i + 1) * {BLOCK_TOKENS}], ' '))
               AS fp
      FROM (SELECT doc_id, string_split(text, ' ') AS toks,
                   len(string_split(text, ' ')) AS n
            FROM documents),
           UNNEST(range(0, (n + {BLOCK_TOKENS} - 1) // {BLOCK_TOKENS}))
             AS t(i)),
    df AS (SELECT fp, count(DISTINCT doc_id) AS ndocs FROM b GROUP BY fp)
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(count(CASE WHEN df.ndocs > 1 THEN 1 END) AS BIGINT)
             AS n_shared,
           round(count(CASE WHEN df.ndocs > 1 THEN 1 END) * 1.0 / count(*), 6)
             AS shared_frac
    FROM b JOIN df ON b.fp = df.fp
    GROUP BY b.doc_id
    """,
)
def block_dedup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUB-document dedup (the RefinedWeb/CCNet line-level idea, on
    16-token blocks): fingerprint every block, count how many documents
    each fingerprint appears in, and report per document the fraction
    of its blocks shared with ANY other document — the signal that
    catches boilerplate headers/footers and templated passages that
    whole-document dedup (exact or MinHash) never sees, because the
    surrounding text differs. Shape: one explode → two grouped counts
    joined back on the fingerprint — every shuffle keys on
    high-cardinality block fingerprints, so it scales like exact dedup,
    not like pairwise comparison. The block frame feeds BOTH the join
    probe and the document-frequency aggregate; as a stateless catalog
    query it recomputes that frame (deliberate — no cache leaks past
    the call), while a production run materializes it once via
    persist/checkpoint, the cached_scan_reuse pattern. The keep/drop
    policy downstream is a threshold on shared_frac."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_blocks = F.floor((F.size(toks) + BLOCK_TOKENS - 1) / BLOCK_TOKENS).cast("int")
    b = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(0), n_blocks - 1)).alias("i"),
    ).select(
        "doc_id",
        F.md5(
            F.concat_ws(
                " ", F.slice(F.col("toks"), F.col("i") * BLOCK_TOKENS + 1, BLOCK_TOKENS)
            )
        ).alias("fp"),
    )
    # only "shared by >1 distinct doc" is consumed: min<max is exact
    # and avoids countDistinct's (fp, doc_id) map-side hash table
    df_ = b.groupBy("fp").agg(
        (F.min("doc_id") < F.max("doc_id")).alias("shared")
    )
    joined = b.join(df_, "fp")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.count(F.when(F.col("shared"), 1)).alias("n_shared"),
        F.round(
            F.count(F.when(F.col("shared"), 1)) * 1.0 / F.count(F.lit(1)), 6
        ).alias("shared_frac"),
    )


# --------------------------------------------------------------------------
@register(
    "remove_duplicate_blocks",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, i,
             array_to_string(
               toks[i * {BLOCK_TOKENS} + 1 : (i + 1) * {BLOCK_TOKENS}], ' ')
               AS block
      FROM (SELECT doc_id, string_split(text, ' ') AS toks,
                   len(string_split(text, ' ')) AS n
            FROM documents),
           UNNEST(range(0, (n + {BLOCK_TOKENS} - 1) // {BLOCK_TOKENS}))
             AS t(i)),
    df AS (SELECT md5(block) AS fp, count(DISTINCT doc_id) AS ndocs
           FROM b GROUP BY md5(block)),
    kept AS (SELECT b.doc_id, b.i, b.block
             FROM b JOIN df ON md5(b.block) = df.fp WHERE df.ndocs = 1),
    reb AS (SELECT doc_id, string_agg(block, ' ' ORDER BY i) AS t,
                   CAST(count(*) AS BIGINT) AS n_kept
            FROM kept GROUP BY doc_id)
    SELECT d.doc_id, COALESCE(reb.t, '') AS cleaned_text,
           CAST(COALESCE(reb.n_kept, 0) AS BIGINT) AS n_kept
    FROM documents d LEFT JOIN reb ON d.doc_id = reb.doc_id
    """,
)
def remove_duplicate_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRANSFORM `block_dedup_fraction` only reports: rewrite every
    document with its corpus-duplicated 16-token blocks REMOVED (the
    CCNet/RefinedWeb boilerplate-stripping step — headers, footers,
    templated passages vanish; unique prose survives in original
    order). A block survives iff its fingerprint appears in exactly one
    document. Shape: the same explode → document-frequency aggregate →
    fingerprint join as the report, plus one reassembly agg keyed on
    doc_id (collect blocks with their positions, sort, concat) and a
    final left join so fully-boilerplate documents come back as empty
    strings rather than disappearing — every shuffle keys on block
    fingerprints or doc_id, both high-cardinality, so the transform
    scales like exact dedup at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_blocks = F.floor((F.size(toks) + BLOCK_TOKENS - 1) / BLOCK_TOKENS).cast("int")
    b = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(F.sequence(F.lit(0), n_blocks - 1)).alias("i"),
    ).select(
        "doc_id",
        "i",
        F.concat_ws(
            " ", F.slice(F.col("toks"), F.col("i") * BLOCK_TOKENS + 1, BLOCK_TOKENS)
        ).alias("block"),
    )
    # "exactly one distinct doc" ⟺ min==max (see the countDistinct
    # map-side note at duplicate_spans)
    df_ = b.groupBy(F.md5(F.col("block")).alias("fp")).agg(
        (F.min("doc_id") == F.max("doc_id")).alias("unique_doc")
    )
    kept = (
        b.join(df_, F.md5(F.col("block")) == F.col("fp"))
        .filter(F.col("unique_doc"))
        .select("doc_id", "i", "block")
    )
    reb = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "block"))),
                lambda x: x["block"],
            ),
        ).alias("t"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return docs.select("doc_id").join(reb, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("t"), F.lit("")).alias("cleaned_text"),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
    )


#: fixed BPE merge table (applied IN ORDER — order is part of the vocab).
#: Symbols never contain '|' or ' ', so word boundaries (space chars,
#: which become the unmergeable symbol '| |') are respected for free.
BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("o", "r"), ("s", "t"),
)


# --------------------------------------------------------------------------
def _bpe_oracle() -> str:
    # chr(1) pre-escape: a literal '|' in text would corrupt the |sym|
    # encoding (odd pipe counts); map it to an out-of-band byte first,
    # identically on both engines. (?s) makes '.' match line terminators
    # the SAME way in Java regex and RE2 — without it Spark skips \r
    # while DuckDB wraps it, a latent one-token-per-CR divergence.
    expr = "regexp_replace(replace(text, '|', chr(1)), '(?s)(.)', '|\\1|', 'g')"
    for a, b in BPE_MERGES:
        expr = f"replace({expr}, '|{a}||{b}|', '|{a}{b}|')"
    return f"""
    SELECT doc_id,
           CAST((strlen(enc) - strlen(replace(enc, '|', ''))) // 2
                - (strlen(text) - strlen(replace(text, ' ', ''))) AS BIGINT)
             AS n_bpe_tokens
    FROM (SELECT doc_id, text, {expr} AS enc FROM documents)
    """


@register("bpe_encode_tokens", oracle=_bpe_oracle())
def bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BPE encoding (fixed merge table) as pure column algebra —
    not the whitespace/regex approximation: every character is wrapped
    as a '|c|' symbol, then each merge (A,B) → AB is one string
    replace of '|A||B|' with '|AB|'. Sequential non-overlapping
    left-to-right replacement IS the greedy-left BPE merge rule, and
    both engines implement replace() identically, so the token count
    is exact — the oracle replays the same merge cascade. Space
    characters become the unmergeable '| |' symbol, giving word
    boundaries for free; the final count subtracts them. Per-doc BPE
    token counts are the budgeting currency of a pretraining run
    (token_budget_head's whitespace counter is the cheap proxy; this
    is the faithful one). All JVM codegen string ops, zero Python,
    one map-side pass at any corpus size. Input hygiene: literal '|'
    is pre-mapped to chr(1) so it cannot forge symbol boundaries (the
    count treats it as one ordinary character; chr(1) itself in input
    is the single precondition), and the wrap regex runs DOTALL so
    line terminators count identically under Java regex and RE2."""
    docs = load_table(spark, sf_dir, "documents")
    # same chr(1) pipe escape + DOTALL as the oracle (see _bpe_oracle)
    pre = F.replace(F.col("text"), F.lit("|"), F.lit("\x01"))
    enc = F.regexp_replace(pre, "(?s)(.)", "|$1|")
    for a, b in BPE_MERGES:
        enc = F.replace(enc, F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|"))
    n_pipe_syms = (
        F.length(enc) - F.length(F.replace(enc, F.lit("|"), F.lit("")))
    ) / 2
    n_spaces = F.length(F.col("text")) - F.length(
        F.replace(F.col("text"), F.lit(" "), F.lit(""))
    )
    return docs.select(
        "doc_id", (n_pipe_syms - n_spaces).cast("long").alias("n_bpe_tokens")
    )


MIX_BOOST = 12.0  #: stratum rate = min(1, weight * MIX_BOOST) — saturates
#: head strata (rate 1.0) while tail strata stay fractional, so the
#: acceptance test exercises both branches
_TWO60 = 1 << 60


# --------------------------------------------------------------------------
@register(
    "resample_apply_mix",
    oracle=f"""
    WITH g AS (
      SELECT lang, source, sum(len(string_split(text, ' '))) AS n_tokens
      FROM documents GROUP BY 1, 2),
    t AS (SELECT sum(n_tokens) AS tot FROM g),
    p AS (SELECT lang, source,
                 pow(n_tokens * 1.0 / (SELECT tot FROM t), {MIX_TEMPERATURE})
                   AS pw
          FROM g),
    z AS (SELECT sum(pw) AS zn FROM p),
    r AS (SELECT lang, source,
                 CAST(floor(least(1.0, pw / (SELECT zn FROM z) * {MIX_BOOST})
                            * {_TWO60}) AS BIGINT) AS threshold
          FROM p)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN r ON d.lang = r.lang AND d.source = r.source
    WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
          < r.threshold
    """,
)
def resample_apply_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTING the data mixture — the apply step domain_mix_weights
    computes the knob for (as dedup_apply_keep is to dedup_exact): each
    (lang, source) stratum gets acceptance rate min(1, weight·boost),
    and a document survives iff its md5 coin clears the stratum's
    threshold. The threshold is materialized as an INTEGER
    (floor(rate·2^60)) so the accept test is pure integer comparison —
    deterministic, auditable, rerunnable; the float work (pow/sum) only
    ever touches the ~|strata| tiny frame, broadcast back onto the
    corpus scan. Head strata saturate at rate 1, tail strata thin —
    the actual mechanics of temperature resampling at 100 TB: one scan,
    one broadcast join, zero shuffles of corpus rows."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("lang", "source").agg(
        F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens")
    )
    tot = g.agg(F.sum("n_tokens").alias("tot"))
    p = g.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        F.pow(F.col("n_tokens") * 1.0 / F.col("tot"), F.lit(MIX_TEMPERATURE)).alias(
            "pw"
        ),
    )
    z = p.agg(F.sum("pw").alias("zn"))
    r = p.crossJoin(F.broadcast(z)).select(
        "lang",
        "source",
        F.floor(
            F.least(F.lit(1.0), F.col("pw") / F.col("zn") * MIX_BOOST) * F.lit(_TWO60)
        )
        .cast("long")
        .alias("threshold"),
    )
    coin = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
    )
    return (
        docs.join(F.broadcast(r), ["lang", "source"])
        .filter(coin < F.col("threshold"))
        .select("doc_id", "lang", "source")
    )


BPE_TRAIN_ROUNDS = 6  #: merges to learn (production: ~50k, on a sample)


BPE_SAMPLE_MOD = 4  #: 1-in-4 md5 doc coin for sampled training


def _bpe_train_oracle(
    rounds: int = BPE_TRAIN_ROUNDS,
    emit: str = "merges",
    sample_mod: int | None = None,
) -> str:
    """Unrolled replay of the BPE trainer: per round, extract adjacent
    symbol pairs from the pipe encoding (list_zip of the two shifted
    symbol slices), pick argmax (count DESC, pair ASC), apply it as one
    replace, repeat. A linear CTE chain — no recursion needed because
    the round count is a fixed hyperparameter. ``emit='merges'`` yields
    the learned merge table; ``emit='tokens'`` carries (doc_id, text)
    through every encoding step and yields the per-doc token count
    under the learned vocabulary (the train→apply capstone).
    ``sample_mod=k`` trains on the deterministic 1-in-k md5 doc coin
    (the `sample_stratified_hash` idiom) and — with ``emit='tokens'`` —
    applies the learned merges to the FULL corpus via a separate apply
    chain, replaying `bpe_train_sampled` exactly."""
    src = "documents"
    if sample_mod is not None:
        src = (
            "(SELECT doc_id, text FROM documents WHERE "
            "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT "
            f"% {sample_mod} = 0)"
        )
    parts = [f"""enc0 AS (
      SELECT doc_id, text,
             regexp_replace(replace(text, '|', chr(1)), '(?s)(.)', '|\\1|', 'g')
               AS enc
      FROM {src})"""]
    for r in range(1, rounds + 1):
        prev = f"enc{r - 1}"
        parts.append(f"""cand{r} AS (
      SELECT z[1] AS a, z[2] AS b
      FROM (SELECT unnest(list_zip(syms[1:len(syms)-1], syms[2:len(syms)])) AS z
            FROM (SELECT string_split(trim(enc, '|'), '||') AS syms FROM {prev}))
      WHERE NOT contains(z[1], ' ') AND NOT contains(z[2], ' ')
        AND NOT contains(z[1], chr(1)) AND NOT contains(z[2], chr(1)))""")
        parts.append(f"""win{r} AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS c
      FROM cand{r} GROUP BY a, b ORDER BY c DESC, a, b LIMIT 1)""")
        parts.append(f"""enc{r} AS (
      SELECT e.doc_id, e.text,
             replace(e.enc, '|' || w.a || '||' || w.b || '|',
                     '|' || w.a || w.b || '|') AS enc
      FROM {prev} e CROSS JOIN win{r} w)""")
    if emit == "tokens" and sample_mod is not None:
        # separate train→apply split: the enc chain above learned the
        # merge table on the sample; the apply chain re-encodes EVERY
        # document under win1..winN in rank order
        parts.append("""apply0 AS (
      SELECT doc_id, text,
             regexp_replace(replace(text, '|', chr(1)), '(?s)(.)', '|\\1|', 'g')
               AS enc
      FROM documents)""")
        for r in range(1, rounds + 1):
            parts.append(f"""apply{r} AS (
      SELECT e.doc_id, e.text,
             replace(e.enc, '|' || w.a || '||' || w.b || '|',
                     '|' || w.a || w.b || '|') AS enc
      FROM apply{r - 1} e CROSS JOIN win{r} w)""")
        sel = f"""SELECT doc_id,
           CAST((strlen(enc) - strlen(replace(enc, '|', ''))) // 2
                - (strlen(text) - strlen(replace(text, ' ', ''))) AS BIGINT)
             AS n_tokens_learned
    FROM apply{rounds}"""
    elif emit == "tokens":
        sel = f"""SELECT doc_id,
           CAST((strlen(enc) - strlen(replace(enc, '|', ''))) // 2
                - (strlen(text) - strlen(replace(text, ' ', ''))) AS BIGINT)
             AS n_tokens_learned
    FROM enc{rounds}"""
    else:
        sel = "\nUNION ALL\n".join(
            f"SELECT CAST({r} AS INTEGER) AS rank, a AS left_sym, b AS right_sym,"
            f" c AS pair_count FROM win{r}"
            for r in range(1, rounds + 1)
        )
    return "WITH " + ",\n".join(parts) + "\n" + sel


def train_bpe(docs: DataFrame, rounds: int) -> list[tuple[str, str, int]]:
    """The distributed BPE training loop over a (doc_id, text) frame —
    see `bpe_train_merges` for semantics and scale notes. Returns the
    learned merge list [(left, right, pair_count), ...] in rank order."""
    merges: list[tuple[str, str, int]] = []
    for _ in range(rounds):
        # re-derive the encoding from text with the merges learned so
        # far: keeps the per-round plan small (≤rounds replaces) and
        # needs no caching between rounds
        pre = F.replace(F.col("text"), F.lit("|"), F.lit("\x01"))
        enc = F.regexp_replace(pre, "(?s)(.)", "|$1|")
        for a, b, _c in merges:
            enc = F.replace(enc, F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|"))
        syms = F.split(
            F.expr("substring(enc, 2, greatest(length(enc) - 2, 0))"), r"\|\|"
        )
        sized = docs.select(enc.alias("enc")).select(syms.alias("syms"))
        n = F.greatest(F.size("syms") - 1, F.lit(0))
        pairs = F.arrays_zip(
            F.slice("syms", 1, n).alias("a"), F.slice("syms", 2, n).alias("b")
        )
        win = (
            sized.select(F.explode(pairs).alias("p"))
            .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .filter(
                ~F.col("a").contains(" ")
                & ~F.col("b").contains(" ")
                & ~F.col("a").contains("\x01")
                & ~F.col("b").contains("\x01")
            )
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.desc("c"), "a", "b")
            .limit(1)
            .collect()
        )
        if not win:  # degenerate corpus (no mergeable pair anywhere)
            break
        row = win[0]
        merges.append((row["a"], row["b"], row["c"]))
    return merges


# --------------------------------------------------------------------------
@register("bpe_train_merges", oracle=_bpe_train_oracle())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING — the other half of `bpe_encode_tokens`
    (which applies a fixed merge table, this LEARNS one): per round,
    count every adjacent symbol pair across the corpus, take the global
    argmax (count DESC, then lexicographic — fully deterministic), add
    it to the merge table, re-encode, repeat. Word-boundary discipline:
    pairs touching the space symbol (or the chr(1) pipe escape) are
    never candidates, so merges cannot cross words — the standard
    pretokenization rule. Output is the learned vocabulary head:
    (rank, left_sym, right_sym, pair_count).

    Scale shape: each round is one corpus map pass (replace cascade +
    split + shifted-slice zip, all codegen) into a partially-aggregated
    pair count; the only driver traffic is the 1-row argmax per round —
    the same inherently-iterative collect a k-means centroid update
    makes (`kmeans_two_rounds`). The explode fans out to ~len(text)
    pair rows per doc, but map-side combine collapses them to the
    distinct-pair count per task before the (tiny) shuffle. At 100 TB
    you train the tokenizer on a hash-sampled subset
    (`sample_stratified_hash`) and broadcast the merge table back —
    exactly how production BPE vocabularies are built. The oracle
    replays all rounds as an unrolled CTE chain, so even the training
    trajectory (not just the final table) is hash-checked."""
    docs = fanout(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    merges = train_bpe(docs, BPE_TRAIN_ROUNDS)
    return values_df(  # JVM inline table, not a Python-RDD scan (r10)
        spark,
        [(i + 1, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "rank int, left_sym string, right_sym string, pair_count long",
    )


# --------------------------------------------------------------------------
@register("bpe_train_encode", oracle=_bpe_train_oracle(emit="tokens"))
def bpe_train_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer CAPSTONE — train then apply in one job: learn the
    merge table from the corpus (`train_bpe`), then re-encode every
    document under the LEARNED vocabulary and emit its faithful token
    count. This is the full production loop (fit the tokenizer on the
    data it will tokenize) rather than `bpe_encode_tokens`' fixed
    table; at 100 TB the training loop runs on a hash-sampled subset
    and the learned table — a few thousand string literals — compiles
    into the same broadcast-free codegen replace cascade applied here.
    The oracle replays training AND application round-for-round, so
    the end-to-end trajectory is hash-checked, not just the counts."""
    docs = fanout(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    merges = train_bpe(docs, BPE_TRAIN_ROUNDS)
    pre = F.replace(F.col("text"), F.lit("|"), F.lit("\x01"))
    enc = F.regexp_replace(pre, "(?s)(.)", "|$1|")
    for a, b, _c in merges:
        enc = F.replace(enc, F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|"))
    n_pipe_syms = (
        F.length(enc) - F.length(F.replace(enc, F.lit("|"), F.lit("")))
    ) / 2
    n_spaces = F.length(F.col("text")) - F.length(
        F.replace(F.col("text"), F.lit(" "), F.lit(""))
    )
    return docs.select(
        "doc_id", (n_pipe_syms - n_spaces).cast("long").alias("n_tokens_learned")
    )


# --------------------------------------------------------------------------
@register(
    "bpe_train_sampled",
    oracle=_bpe_train_oracle(emit="tokens", sample_mod=BPE_SAMPLE_MOD),
)
def bpe_train_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-DEFAULT BPE path — train on a sample, apply to the
    corpus: the merge table is learned from the deterministic 1-in-
    {BPE_SAMPLE_MOD} md5 doc coin (the `sample_stratified_hash` idiom,
    replayable in any engine), then every document is re-encoded under
    the learned vocabulary in ONE full-corpus pass. This is how
    production vocabularies are actually built — nobody re-encodes
    100 TB once per merge; `bpe_train_merges` (the exact full-corpus loop)
    stays as the oracle-grade twin for when the corpus IS small enough
    to iterate on.

    When to use which: exact (`bpe_train_merges` /`bpe_train_encode`)
    when the training corpus fits a few-minute scan budget × rounds —
    each merge round is a full corpus pass; sampled (this) whenever
    rounds × corpus scans is the bottleneck — the driver-coordinated
    loop then touches only the sample, and the full corpus is scanned
    exactly once, by the codegen replace cascade. The oracle replays
    the SAME sample (train CTEs on the coin subset, apply chain over
    all documents), so the sampled path is hash-checked end-to-end,
    not just smoke-tested."""
    docs = fanout(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    coin = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % BPE_SAMPLE_MOD
    )
    merges = train_bpe(docs.filter(coin == 0), BPE_TRAIN_ROUNDS)
    pre = F.replace(F.col("text"), F.lit("|"), F.lit("\x01"))
    enc = F.regexp_replace(pre, "(?s)(.)", "|$1|")
    for a, b, _c in merges:
        enc = F.replace(enc, F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|"))
    n_pipe_syms = (
        F.length(enc) - F.length(F.replace(enc, F.lit("|"), F.lit("")))
    ) / 2
    n_spaces = F.length(F.col("text")) - F.length(
        F.replace(F.col("text"), F.lit(" "), F.lit(""))
    )
    return docs.select(
        "doc_id", (n_pipe_syms - n_spaces).cast("long").alias("n_tokens_learned")
    )


NSHARDS = 8  #: output shards (production: O(100k) so tasks stay bounded)


# --------------------------------------------------------------------------
@register(
    "shuffle_shard_order",
    oracle=f"""
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY coin, doc_id)
                AS BIGINT) AS pos
    FROM (SELECT doc_id,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % {NSHARDS} AS shard,
                 md5(CAST(doc_id AS VARCHAR)) AS coin
          FROM documents)
    """,
)
def shuffle_shard_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The writer step of a curation run: a deterministic GLOBAL
    shuffle of the corpus into training shards. Shard = md5(doc_id) mod
    NSHARDS; within-shard order = md5 hex (doc_id tie-break) — a
    pseudorandom permutation that is a pure function of the keys, so
    every rerun and every engine writes byte-identical shards (the
    reproducibility property data-loader seeds can't give you). No
    global row_number: position is assigned per shard, and with
    production NSHARDS ~ corpus/shard_size each window task owns one
    shard's worth of rows — bounded regardless of corpus size. This is
    also exactly the layout a sharded data loader wants: shard files
    consumed round-robin, order within each pre-randomized."""
    docs = load_table(spark, sf_dir, "documents")
    coin = F.md5(F.col("doc_id").cast("string"))
    shard = (
        F.conv(F.substring(coin, 1, 15), 16, 10).cast("long") % NSHARDS
    )
    w = Window.partitionBy("shard").orderBy("coin", "doc_id")
    return (
        docs.select("doc_id", shard.alias("shard"), coin.alias("coin"))
        .select(
            "doc_id",
            "shard",
            F.row_number().over(w).cast("long").alias("pos"),
        )
    )


SPAN_K = 8  #: gram length (tokens) for exact-substring span detection


# --------------------------------------------------------------------------
@register(
    "duplicate_span_extents",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                      len(string_split(text, ' ')) AS n FROM documents),
    g AS (SELECT doc_id, pos,
                 md5(array_to_string(toks[pos : pos + {SPAN_K} - 1], ' ')) AS fp
          FROM t, UNNEST(range(1, greatest(n - {SPAN_K} + 1, 0) + 1)) AS u(pos)),
    dup AS (SELECT fp FROM g GROUP BY fp HAVING count(DISTINCT doc_id) >= 2),
    d AS (SELECT g.doc_id, g.pos FROM g JOIN dup ON g.fp = dup.fp),
    isl AS (SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                     AS grp
            FROM d),
    spans AS (SELECT doc_id, min(pos) AS start_pos,
                     max(pos) + {SPAN_K} - 1 AS end_pos
              FROM isl GROUP BY doc_id, grp)
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_pos)
                AS BIGINT) AS span_id,
           CAST(start_pos AS BIGINT) AS start_pos,
           CAST(end_pos AS BIGINT) AS end_pos,
           CAST(end_pos - start_pos + 1 AS BIGINT) AS n_tokens
    FROM spans
    """,
)
def duplicate_span_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup spans (the Lee et al. 2021 "Deduplicating
    Training Data Makes Language Models Better" operator, re-expressed
    for Spark): for every document, the maximal token spans whose every
    8-gram (SPAN_K) also appears verbatim in at least one OTHER document —
    the spans a dedup pass would cut, at ARBITRARY alignment (unlike the
    16-token block family, which only sees block-aligned duplication;
    a copied sentence straddling a block boundary is invisible there and
    found here). The reference suffix-array construction is inherently
    single-machine; the distributed equivalent is k-gram fingerprints +
    island merge, identical output for spans >= k tokens:

    1. one k-gram fingerprint per token position (map-side explode,
       the O3-style fan-out),
    2. document frequency per fingerprint — partial+final agg keyed on
       the fingerprint (high-cardinality, bounded tasks),
    3. positions whose gram is cross-document duplicated, via a
       left-semi join against the dup fingerprint set,
    4. gap-and-islands merge (pos − row_number per doc) — windows
       partition on doc_id, so the biggest task owns one document,
       never a language or the corpus.

    Output: (doc_id, span_id, start_pos, end_pos, n_tokens), 1-based
    inclusive token positions."""
    return duplicate_spans(load_table(spark, sf_dir, "documents"), SPAN_K)


def _gram_rows(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, fp): xxhash64 fingerprint of every k-gram, 1-based
    pos — the hot inner loop of the span-dedup family, kept entirely in
    whole-stage codegen.

    The fingerprint hashes k SHIFTED-SLICE token columns directly
    (``xxhash64(t0..t{k-1})`` over an arrays_zip/posexplode stream, the
    same zip trick as dedup.shingle_rows): an sf5 profile showed the
    previous ``xxhash64(slice(toks, pos, k))`` spending most of the
    pass allocating a k-element array per gram before hashing it —
    pruned-away in a bare count() (5 s) but ~70 s/pass with the hash
    live. Multi-arg xxhash64 chains per-field seeds, so its equality
    classes are the same "all k tokens equal" relation (collisions
    ~2^-64, structural shifts impossible); the fingerprint is INTERNAL
    — the oracle replays equality classes via md5 of the joined string
    and only the span output is compared. Docs shorter than k are
    filtered first (Spark's sequence(1, 0) pitfall also goes away with
    the position filter)."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    shifted = [
        F.slice(toks, j + 1, F.greatest(n - j, F.lit(0))).alias(f"t{j}")
        for j in range(k)
    ]
    zipped = docs.filter(n >= k).select(
        F.col("doc_id"), n.alias("n"), *shifted
    ).select(
        F.col("doc_id"),
        F.col("n"),
        F.posexplode(F.arrays_zip(*[f"t{j}" for j in range(k)])).alias("pos0", "z"),
    )
    return zipped.filter(F.col("pos0") <= F.col("n") - k).select(
        F.col("doc_id"),
        (F.col("pos0") + 1).alias("pos"),
        F.xxhash64(*[F.col(f"z.t{j}") for j in range(k)]).alias("fp"),
    )


def duplicate_spans(docs: DataFrame, k: int) -> DataFrame:
    """Core of duplicate_span_extents over any (doc_id, text) frame —
    see the catalog query's docstring for semantics and scale shape."""
    # ONE fp-keyed exchange for the whole gram stream: both consumers —
    # the document-frequency aggregate and the semi-join probe — need
    # clustering on fp, so an explicit repartition(fp) makes the agg
    # exchange-free (HashPartitioning(fp) satisfies its distribution)
    # and the semi join zip both sides without further movement, while
    # ReusedExchange materializes the gram generation once instead of
    # twice (the r4 shape exchanged the ~300 M-row sf20 stream twice
    # and generated it twice — the naive-Bayes tok-exchange idiom).
    # No explicit partition count: a bare repartition(col) is
    # AQE-coalescible (REPARTITION_BY_COL), so it starts at the
    # session's initialPartitionNum (8× parallelism — see session.py:
    # the downstream aggregate is SINGLE-PHASE, its per-task hash state
    # is rows/partitions keys, and the bare 32-partition default OOMed
    # on the sf20 gram stream) and coalesces down to a handful of
    # tasks on toy inputs instead of paying 256-way scheduling.
    g = _gram_rows(docs, k).repartition(F.col("fp"))
    # "fp appears in ≥2 DISTINCT docs" ⟺ min(doc_id) < max(doc_id):
    # exact, and min/max partial-aggregate to two longs per (fp,
    # partition) — countDistinct's expanded (fp, doc_id) partial agg
    # built a per-task hash table ∝ the gram stream (hundreds of MB at
    # sf20), the map-side memory cliff the sf20 soak exposed.
    dup = (
        g.groupBy("fp")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .filter(F.col("lo") < F.col("hi"))
        .select("fp")
    )
    d = g.join(dup, "fp", "left_semi")
    w_isl = Window.partitionBy("doc_id").orderBy("pos")
    isl = d.select(
        "doc_id", "pos", (F.col("pos") - F.row_number().over(w_isl)).alias("grp")
    )
    spans = isl.groupBy("doc_id", "grp").agg(
        F.min("pos").alias("start_pos"),
        (F.max("pos") + k - 1).alias("end_pos"),
    )
    w_span = Window.partitionBy("doc_id").orderBy("start_pos")
    return spans.select(
        "doc_id",
        F.row_number().over(w_span).cast("long").alias("span_id"),
        F.col("start_pos").cast("long").alias("start_pos"),
        F.col("end_pos").cast("long").alias("end_pos"),
        (F.col("end_pos") - F.col("start_pos") + 1).cast("long").alias("n_tokens"),
    )


MIN_SOURCE_CHARS = 290.0  #: source-level mean-length floor
MAX_SOURCE_DUP = 0.2  #: source-level exact-dup ceiling


# --------------------------------------------------------------------------
@register(
    "source_reputation_filter",
    oracle=f"""
    WITH per_source AS (
      SELECT source,
             count(*) AS n_docs,
             avg(n_chars) AS avg_chars,
             1.0 - count(DISTINCT md5(lower(trim(text)))) * 1.0 / count(*)
               AS dup_frac
      FROM documents GROUP BY source)
    SELECT d.doc_id, d.source,
           round(p.avg_chars, 4) AS src_avg_chars,
           round(p.dup_frac, 6) AS src_dup_frac,
           (p.avg_chars >= {MIN_SOURCE_CHARS}
            AND p.dup_frac <= {MAX_SOURCE_DUP}) AS src_ok
    FROM documents d JOIN per_source p ON d.source = p.source
    """,
)
def source_reputation_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOURCE-level curation (the C4/RefinedWeb URL-and-domain filtering
    idea, with `source` standing in for the registered domain): a
    source's reputation is an aggregate over ALL its documents — mean
    document length and within-source exact-duplicate rate — and every
    document inherits its source's pass/fail verdict. This catches what
    per-document filters can't: a spam domain whose individual pages
    each look fine but which mass-produces near-identical boilerplate.

    Scale shape: one grouped rollup keyed on source (partial+final agg;
    the dup rate is countDistinct over fingerprints, same machinery as
    exact dedup), then the verdict joins the SMALL per-source frame
    back to the corpus — size-gated broadcast (domains number ~1e7-1e8
    at web scale: far under the corpus, not always under the broadcast
    threshold). Determinism: avg_chars is an exact integer sum over an
    exact count, dup_frac a ratio of exact counts — both
    engine-identical before rounding, so the verdict booleans never sit
    on a float boundary."""
    from ..functions.text import fingerprint
    from .relational import broadcast_if_small

    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("n_chars").alias("avg_chars"),
        (
            F.lit(1.0)
            - F.countDistinct(fingerprint(F.col("text"))) * 1.0 / F.count(F.lit(1))
        ).alias("dup_frac"),
    )
    return docs.join(broadcast_if_small(per_source), "source").select(
        "doc_id",
        "source",
        F.round("avg_chars", 4).alias("src_avg_chars"),
        F.round("dup_frac", 6).alias("src_dup_frac"),
        (
            (F.col("avg_chars") >= MIN_SOURCE_CHARS)
            & (F.col("dup_frac") <= MAX_SOURCE_DUP)
        ).alias("src_ok"),
    )


SEM_DECON_TAU = 0.3  #: max-eval-cosine threshold for semantic contamination
SEM_EVAL_IDS = 20  #: vec_id < this = the held-out eval embedding set


# --------------------------------------------------------------------------
@register(
    "decontaminate_semantic",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    ev AS (SELECT v FROM e WHERE vec_id < {SEM_EVAL_IDS}),
    tr AS (SELECT vec_id, v FROM e WHERE vec_id >= {SEM_EVAL_IDS}),
    m AS (SELECT tr.vec_id,
                 max(round(list_dot_product(tr.v, ev.v)
                     / (sqrt(list_dot_product(tr.v, tr.v))
                        * sqrt(list_dot_product(ev.v, ev.v))), 6))
                   AS max_eval_cosine
          FROM tr, ev GROUP BY tr.vec_id)
    SELECT vec_id, max_eval_cosine,
           max_eval_cosine >= {SEM_DECON_TAU} AS contaminated
    FROM m
    """,
)
def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space complement of the
    verbatim 8-gram filter (`decontaminate_against_eval`): a training
    item is contaminated if its embedding lies within cosine >= τ of ANY
    held-out eval item, which catches paraphrased/reformatted benchmark
    leakage that exact n-gram overlap misses (the standard second pass
    in modern pretraining hygiene). Eval sets are small by construction,
    so the eval embeddings BROADCAST and the scan over training vectors
    never shuffles: cost ∝ n_train x n_eval map-side flops, then one
    per-vector max-aggregate — at 100 TB this is embarrassingly
    parallel, and a giant eval suite would swap in the banded-LSH
    candidate path (`operators/similarity.py`) before the exact rescore.
    Cosines are rounded to 6 dp on both engines BEFORE the max/threshold
    (the catalog's float discipline), so the verdict never sits on an
    ulp boundary."""
    from ..functions import vectors

    e = load_table(spark, sf_dir, "embeddings")
    ev = (
        e.filter(F.col("vec_id") < SEM_EVAL_IDS)
        .select(vectors.as_double(F.col("embedding")).alias("ev"))
    )
    tr = e.filter(F.col("vec_id") >= SEM_EVAL_IDS).select(
        "vec_id", vectors.as_double(F.col("embedding")).alias("v")
    )
    scored = tr.crossJoin(F.broadcast(ev)).select(
        "vec_id",
        F.round(vectors.cosine(F.col("v"), F.col("ev")), 6).alias("c"),
    )
    return scored.groupBy("vec_id").agg(
        F.max("c").alias("max_eval_cosine")
    ).select(
        "vec_id",
        "max_eval_cosine",
        (F.col("max_eval_cosine") >= SEM_DECON_TAU).alias("contaminated"),
    )


# --------------------------------------------------------------------------
@register(
    "length_bucket_padding",
    oracle="""
    WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
    b AS (SELECT doc_id, n,
                 CAST(pow(2, ceil(log2(n))) AS BIGINT) AS bucket
          FROM t)
    SELECT bucket, count(*) AS n_docs,
           CAST(sum(n) AS BIGINT) AS sum_tokens,
           CAST(bucket * count(*) - sum(n) AS BIGINT) AS pad_tokens,
           round((bucket * count(*) - sum(n)) * 1.0 / (bucket * count(*)), 6)
             AS pad_frac
    FROM b GROUP BY bucket
    """,
)
def length_bucket_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching report — the training-efficiency twin of
    packing: if sequences are batched per power-of-two length bucket
    (the dynamic-padding strategy when concat-packing is off, e.g. for
    finetuning), how many pad tokens does each bucket burn? bucket =
    2^ceil(log2(n_tokens)); waste = bucket*count - sum(tokens). Feeds
    the decision between bucketed padding and `pack_documents_greedy`.
    Map-side bucket arithmetic + one tiny agg; all-integer except the
    final rounded fraction (log2 of an integer is exact at powers of
    two and strictly between integers elsewhere, so ceil is
    engine-deterministic)."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(F.split(F.col("text"), " "))
    b = docs.select(
        n.alias("n"),
        F.pow(F.lit(2), F.ceil(F.log2(n))).cast("long").alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").cast("long").alias("sum_tokens"),
        (F.col("bucket") * F.count(F.lit(1)) - F.sum("n"))
        .cast("long")
        .alias("pad_tokens"),
        F.round(
            (F.col("bucket") * F.count(F.lit(1)) - F.sum("n"))
            * 1.0
            / (F.col("bucket") * F.count(F.lit(1))),
            6,
        ).alias("pad_frac"),
    )


# --------------------------------------------------------------------------
@register(
    "remove_duplicate_spans",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                      len(string_split(text, ' ')) AS n FROM documents),
    g AS (SELECT doc_id, pos,
                 md5(array_to_string(toks[pos : pos + {SPAN_K} - 1], ' ')) AS fp
          FROM t, UNNEST(range(1, greatest(n - {SPAN_K} + 1, 0) + 1)) AS u(pos)),
    own AS (SELECT fp, min(doc_id) AS owner, count(DISTINCT doc_id) AS nd
            FROM g GROUP BY fp),
    cut AS (SELECT DISTINCT g.doc_id, g.pos + off.i AS tokpos
            FROM g JOIN own ON g.fp = own.fp,
                 UNNEST(range(0, {SPAN_K})) AS off(i)
            WHERE own.nd >= 2 AND g.doc_id <> own.owner),
    toks AS (SELECT doc_id, pos, toks[pos] AS tok
             FROM t, UNNEST(range(1, n + 1)) AS u(pos)),
    kept AS (SELECT tk.doc_id, tk.pos, tk.tok
             FROM toks tk LEFT JOIN cut
               ON tk.doc_id = cut.doc_id AND tk.pos = cut.tokpos
             WHERE cut.doc_id IS NULL),
    reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned,
                   CAST(count(*) AS BIGINT) AS n_kept
            FROM kept GROUP BY doc_id)
    SELECT t.doc_id, COALESCE(reb.cleaned, '') AS cleaned_text,
           CAST(t.n - COALESCE(reb.n_kept, 0) AS BIGINT) AS n_removed
    FROM t LEFT JOIN reb ON t.doc_id = reb.doc_id
    """,
)
def remove_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRANSFORM twin of `duplicate_span_extents` — what Lee et al.
    2021 actually DO to the corpus: cut every cross-document duplicated
    span, keeping the copy in the lowest-doc_id document that contains
    each duplicated k-gram (gram-local keep-first, so exactly one
    occurrence of every duplicated passage survives corpus-wide; unlike
    `remove_duplicate_blocks`, cuts land at ARBITRARY alignment and
    partial-block copies are caught). A token is removed iff some
    duplicated k-gram covering it is owned by an earlier document.

    Shape: the same gram fan-out and fingerprint aggregate as the
    reporter (fingerprint ownership = min(doc_id), a partial+final agg
    on the high-cardinality fingerprint), gram hits explode to their k
    covered token positions (map-side), and removal is a left-anti join
    of the token stream against the distinct cut-position set — both
    sides keyed on (doc_id, pos), bounded tasks at any corpus size.
    Reassembly is the collect-sort-concat agg of the block remover."""
    return remove_spans(load_table(spark, sf_dir, "documents"), SPAN_K)


def remove_spans(docs: DataFrame, k: int) -> DataFrame:
    """Core of remove_duplicate_spans over any (doc_id, text) frame —
    see the catalog query's docstring for semantics and scale shape."""
    toks_col = F.split(F.col("text"), " ")
    n = F.size(toks_col)
    base = docs.select("doc_id", toks_col.alias("toks"), n.alias("n"))
    # xxhash64-of-shifted-columns fingerprint, same rationale and
    # codegen shape as duplicate_spans (see _gram_rows)
    g = _gram_rows(docs, k)
    # min<max ⟺ ≥2 distinct docs — see the duplicate_spans note on
    # countDistinct's map-side hash-table cliff
    own = g.groupBy("fp").agg(
        F.min("doc_id").alias("owner"), F.max("doc_id").alias("hi")
    )
    cut = (
        g.join(own, "fp")
        .filter((F.col("owner") < F.col("hi")) & (F.col("doc_id") != F.col("owner")))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + k - 1)
            ).alias("tokpos"),
        )
        .distinct()
    )
    tok_stream = base.select(
        "doc_id", F.posexplode("toks").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    kept = tok_stream.join(
        cut,
        (tok_stream.doc_id == cut.doc_id) & (tok_stream.pos == cut.tokpos),
        "left_anti",
    )
    reb = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("cleaned"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return base.select("doc_id", "n").join(reb, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cleaned"), F.lit("")).alias("cleaned_text"),
        (F.col("n") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    )


PIPE_MIN_TOKENS = 30  #: per-doc quality floor for the capstone pipeline


# --------------------------------------------------------------------------
@register(
    "curate_and_pack_pipeline",
    oracle=f"""
    WITH rep AS (
      SELECT source, avg(n_chars) AS avg_chars,
             1.0 - count(DISTINCT md5(lower(trim(text)))) * 1.0 / count(*)
               AS dup_frac
      FROM documents GROUP BY source),
    keep AS (
      SELECT d.doc_id, d.lang, d.text,
             d.doc_id = min(d.doc_id)
               OVER (PARTITION BY md5(lower(trim(d.text)))) AS first_copy,
             r.avg_chars >= {MIN_SOURCE_CHARS} AND r.dup_frac <= {MAX_SOURCE_DUP}
               AS src_ok
      FROM documents d JOIN rep r ON d.source = r.source),
    surv AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
      FROM keep
      WHERE first_copy AND src_ok
        AND len(string_split(text, ' ')) >= {PIPE_MIN_TOKENS}),
    packed AS (
      SELECT doc_id, lang, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS cum
      FROM surv)
    SELECT doc_id, lang,
           CAST((cum - n_tokens) // {PACK_WINDOW} AS BIGINT) AS bin_id
    FROM packed
    """,
)
def curate_and_pack_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE curation pipeline as ONE declarative DAG — the
    capstone's capstone: source-reputation gate (domain-level rollup
    broadcast back) × exact-dedup keep-first (fingerprint window) ×
    minimum-length quality floor, then the survivors packed into
    context-window bins by the two-pass shard prefix sum. One Spark
    job: Catalyst fuses the reputation aggregate (partial+final,
    broadcast back), the fingerprint window, the filters, and the
    sharded cumsum — no intermediate materialization, no driver
    round-trip. This is the shape a real 100 TB curation run has: every
    stage keyed on high-cardinality columns (fingerprint, source,
    doc_id) or bounded shards, so tasks stay bounded end to end while
    whole-corpus decisions (source reputation, global dedup, global
    packing order) remain exact. The oracle replays packing with a
    bare-lang window — fine for DuckDB, the scale-killer the shard
    decomposition exists to avoid in Spark."""
    from ..functions.text import fingerprint
    from .relational import broadcast_if_small

    docs = load_table(spark, sf_dir, "documents")
    rep = docs.groupBy("source").agg(
        F.avg("n_chars").alias("avg_chars"),
        (
            F.lit(1.0)
            - F.countDistinct(fingerprint(F.col("text"))) * 1.0 / F.count(F.lit(1))
        ).alias("dup_frac"),
    )
    w_fp = Window.partitionBy(fingerprint(F.col("text")))
    keep = docs.join(broadcast_if_small(rep), "source").select(
        "doc_id",
        "lang",
        "text",
        (F.col("doc_id") == F.min("doc_id").over(w_fp)).alias("first_copy"),
        (
            (F.col("avg_chars") >= MIN_SOURCE_CHARS)
            & (F.col("dup_frac") <= MAX_SOURCE_DUP)
        ).alias("src_ok"),
    )
    surv = keep.filter(
        F.col("first_copy")
        & F.col("src_ok")
        & (F.size(F.split(F.col("text"), " ")) >= PIPE_MIN_TOKENS)
    ).select("doc_id", "lang", "text")
    cum = _sharded_cum_tokens(surv)
    return cum.select(
        "doc_id",
        "lang",
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / PACK_WINDOW)
        .cast("long")
        .alias("bin_id"),
    )


# --------------------------------------------------------------------------
@register(
    "ewma_user_value",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id,
             list(CAST(round(value * 100) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS frame
      FROM events),
    t AS (
      SELECT event_id, user_id, len(frame) AS m,
             unnest(frame) AS c, generate_subscripts(frame, 1) AS i
      FROM e)
    SELECT event_id, user_id,
           sum(c * CAST(power(2, i + 7 - m) AS BIGINT)) / 25600.0 AS ewma8
    FROM t GROUP BY event_id, user_id
    """,
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving value per user — the trailing
    engagement/quality feature of a feature-engineering pipeline —
    truncated at 8 events so it is EXACT: with α = ½ every weight is a
    power of two, so working in integer cents shifted by the lag
    (cents·2^(7−lag)) makes the accumulation a LONG sum — bitwise
    engine-identical regardless of addition order, unlike a float EWMA
    recursion (the weighted sum only becomes a double at the final
    ÷2^8·100 and 4-dp round). Shape: one bounded window (8-row frame,
    partitioned by high-cardinality user) feeding Arrow-free JVM
    higher-order functions — zip_with indexes the frame, aggregate
    folds it — zero Python, zero extra shuffle; the oracle explodes the
    same frames relationally and must agree to the last bit."""
    events = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(-7, Window.currentRow)
    )
    frame = F.collect_list(cents).over(w)
    base = events.select("event_id", "user_id", frame.alias("frame"))
    m = F.size("frame")
    terms = F.zip_with(
        F.col("frame"),
        F.sequence(F.lit(1), m),
        lambda c, i: c * F.pow(F.lit(2.0), i + 7 - m).cast("long"),
    )
    total = F.aggregate(terms, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return base.select(
        "event_id", "user_id", (total / 25600.0).alias("ewma8")
    )


PMI_MIN_COUNT = 5  #: bigram support floor for collocation mining
PMI_TOP_K = 50


# --------------------------------------------------------------------------
@register(
    "pmi_collocations",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, tok, pos FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents)),
    bg AS (
      SELECT tok AS w1, lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM toks),
    p AS (SELECT w1, w2, count(*) AS c12 FROM bg WHERE w2 IS NOT NULL
          GROUP BY 1, 2),
    lc AS (SELECT w1, sum(c12) AS c1 FROM p GROUP BY 1),
    rc AS (SELECT w2, sum(c12) AS c2 FROM p GROUP BY 1),
    n AS (SELECT sum(c12) AS n FROM p)
    SELECT p.w1, p.w2, p.c12,
           round(ln(p.c12 * (SELECT n FROM n) * 1.0 / (lc.c1 * rc.c2)), 4) AS pmi
    FROM p JOIN lc ON p.w1 = lc.w1 JOIN rc ON p.w2 = rc.w2
    WHERE p.c12 >= {PMI_MIN_COUNT}
    ORDER BY pmi DESC, p.w1, p.w2 LIMIT {PMI_TOP_K}
    """,
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocation mining — the classic
    phrase-discovery operator (word2vec-era phrase merging, tokenizer
    vocab seeding): score adjacent token pairs by how much more often
    they co-occur than independence predicts, keep the top-k above a
    support floor. All marginals (left counts, right counts, grand
    total) derive from the ONE bigram-count frame — no second corpus
    scan — with the total folded back as a broadcast cross join and the
    marginals as broadcast-joinable aggregates. PMI's ln is computed
    once per surviving pair from exact integer counts and rounded at
    4 dp (the deterministic-transcendental discipline of
    bigram_logprob_scoring); the support floor keeps the frequency-1
    noise PMI is notorious for out of the result. Deterministic top-k:
    (pmi, w1, w2) full tiebreak → TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        toks.withColumn("w2", F.lead("tok").over(w))
        .filter(F.col("w2").isNotNull())
        .select(F.col("tok").alias("w1"), "w2")
    )
    p = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    lc = p.groupBy("w1").agg(F.sum("c12").alias("c1"))
    rc = p.groupBy(F.col("w2").alias("rw2")).agg(F.sum("c12").alias("c2"))
    n = p.agg(F.sum("c12").alias("n"))
    return (
        p.filter(F.col("c12") >= PMI_MIN_COUNT)
        .join(lc, "w1")
        .join(rc, F.col("w2") == F.col("rw2"))
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                F.log(F.col("c12") * F.col("n") * 1.0 / (F.col("c1") * F.col("c2"))),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(PMI_TOP_K)
    )


# --------------------------------------------------------------------------
@register(
    "token_entropy_quality",
    oracle="""
    WITH tf AS (
      SELECT doc_id, tok, count(*) AS c
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      GROUP BY 1, 2),
    n AS (SELECT doc_id, sum(c) AS n FROM tf GROUP BY 1)
    SELECT tf.doc_id,
           round(-sum((tf.c * 1.0 / n.n) * ln(tf.c * 1.0 / n.n)), 4)
             AS token_entropy,
           CAST(count(*) AS BIGINT) AS vocab
    FROM tf JOIN n ON tf.doc_id = n.doc_id
    GROUP BY tf.doc_id
    """,
)
def token_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-entropy quality signal: Shannon entropy of each
    document's token distribution — low entropy = repetitive/templated
    text (the information-theoretic cousin of the Gopher repetition
    fractions), and entropy-per-token is the standard compressibility
    proxy when no model is at hand. One exploded term-frequency frame
    feeds both the per-doc total and the entropy sum; every shuffle
    keys on high-cardinality doc_id. p·ln p terms are computed from
    exact integer counts and the sum rounds at 4 dp."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = tf.groupBy(F.col("doc_id").alias("n_doc_id")).agg(F.sum("c").alias("n"))
    pr = F.col("c") * 1.0 / F.col("n")
    return (
        tf.join(n, tf.doc_id == F.col("n_doc_id"))
        .groupBy(tf.doc_id)
        .agg(
            F.round(-F.sum(pr * F.log(pr)), 4).alias("token_entropy"),
            F.count(F.lit(1)).alias("vocab"),
        )
    )


# --------------------------------------------------------------------------
@register(
    "corpus_drift_kl",
    oracle=f"""
    WITH toks AS (
      SELECT lang, CASE WHEN doc_id < {INCR_SPLIT} THEN 1 ELSE 0 END AS is_old,
             unnest(string_split(text, ' ')) AS tok
      FROM documents),
    c AS (SELECT lang, tok,
                 sum(is_old) AS c_old, sum(1 - is_old) AS c_new
          FROM toks GROUP BY 1, 2),
    t AS (SELECT lang, sum(c_old) AS tot_old, sum(c_new) AS tot_new,
                 count(*) AS vocab
          FROM c GROUP BY 1),
    p AS (SELECT c.lang,
                 (c.c_old + 1.0) / (t.tot_old + t.vocab) AS p_old,
                 (c.c_new + 1.0) / (t.tot_new + t.vocab) AS p_new,
                 t.tot_old, t.tot_new, t.vocab
          FROM c JOIN t ON c.lang = t.lang)
    SELECT lang,
           CAST(max(tot_old) AS BIGINT) AS n_old,
           CAST(max(tot_new) AS BIGINT) AS n_new,
           CAST(max(vocab) AS BIGINT) AS vocab,
           round(sum(p_old * ln(p_old / p_new)), 6) AS kl_old_new,
           round(sum(p_new * ln(p_new / p_old)), 6) AS kl_new_old
    FROM p GROUP BY lang
    """,
)
def corpus_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus DRIFT monitoring — the distribution-shift check a
    continuous-crawl pipeline runs before mixing a new batch into the
    training corpus: per language, the add-1-smoothed KL divergence
    (both directions) between the existing corpus's (doc_id < split)
    and the new batch's (doc_id ≥ split) token distributions over
    their union vocabulary. A spiking KL flags a crawler regression,
    a domain shift, or a spam flood BEFORE it reaches the mixture.

    Scale shape: ONE exploded pass with conditional partial counts —
    the (lang, tok) shuffle keys on high-cardinality vocabulary, so
    tasks stay bounded at any corpus size; the per-lang totals frame
    is tiny and broadcast back; the final reduce aggregates vocab-
    sized rows per language with map-side partials. ln() terms drift
    ~1 ulp per engine; summed over the vocabulary that is ≪ the 6-dp
    output rounding."""
    docs = load_table(spark, sf_dir, "documents")
    is_old = F.when(F.col("doc_id") < INCR_SPLIT, 1).otherwise(0)
    toks = docs.select(
        "lang", is_old.alias("is_old"),
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    )
    c = toks.groupBy("lang", "tok").agg(
        F.sum("is_old").alias("c_old"),
        F.sum(F.lit(1) - F.col("is_old")).alias("c_new"),
    )
    t = c.groupBy(F.col("lang").alias("t_lang")).agg(
        F.sum("c_old").alias("tot_old"),
        F.sum("c_new").alias("tot_new"),
        F.count(F.lit(1)).alias("vocab"),
    )
    p_old = (F.col("c_old") + 1.0) / (F.col("tot_old") + F.col("vocab"))
    p_new = (F.col("c_new") + 1.0) / (F.col("tot_new") + F.col("vocab"))
    return (
        c.join(F.broadcast(t), c.lang == F.col("t_lang"))
        .groupBy("lang")
        .agg(
            F.max("tot_old").cast("long").alias("n_old"),
            F.max("tot_new").cast("long").alias("n_new"),
            F.max("vocab").cast("long").alias("vocab"),
            F.round(F.sum(p_old * F.log(p_old / p_new)), 6).alias("kl_old_new"),
            F.round(F.sum(p_new * F.log(p_new / p_old)), 6).alias("kl_new_old"),
        )
    )


# --------------------------------------------------------------------------
@register(
    "ngram_diversity_report",
    oracle="""
    WITH t AS (SELECT lang, string_split(text, ' ') AS toks FROM documents),
    u AS (SELECT lang, unnest(toks) AS g FROM t),
    b AS (SELECT lang,
                 array_to_string(list_slice(toks, i, i + 1), ' ') AS g
          FROM t, UNNEST(range(1, greatest(len(toks) - 1, 0) + 1)) AS r(i)),
    tr AS (SELECT lang,
                  array_to_string(list_slice(toks, i, i + 2), ' ') AS g
           FROM t, UNNEST(range(1, greatest(len(toks) - 2, 0) + 1)) AS r(i)),
    s1 AS (SELECT lang, count(*) AS n, count(DISTINCT g) AS d FROM u GROUP BY 1),
    s2 AS (SELECT lang, count(*) AS n, count(DISTINCT g) AS d FROM b GROUP BY 1),
    s3 AS (SELECT lang, count(*) AS n, count(DISTINCT g) AS d FROM tr GROUP BY 1)
    SELECT s1.lang,
           round(s1.d * 1.0 / s1.n, 6) AS distinct_1,
           round(s2.d * 1.0 / s2.n, 6) AS distinct_2,
           round(s3.d * 1.0 / s3.n, 6) AS distinct_3
    FROM s1 JOIN s2 ON s1.lang = s2.lang JOIN s3 ON s1.lang = s3.lang
    """,
)
def ngram_diversity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram DIVERSITY report (distinct-1/2/3 ratios per language) —
    the diversity-collapse check run on synthetic or heavily-deduped
    corpora: a falling distinct-n curve flags mode collapse in
    generated data or a boilerplate flood long before eval loss does
    (the distinct-n metric of Li et al. 2016, corpus-level).

    Scale shape: one tokenized scan feeds three explode → two-key
    count-distinct aggregates; every shuffle keys on (lang, gram) —
    vocabulary-cardinality, bounded tasks; the three per-lang
    summaries are broadcast-joined. Exact ratios of integer counts,
    rounded identically on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    base = docs.select("lang", toks.alias("toks"))

    def grams(n: int) -> DataFrame:
        if n == 1:
            g = base.select("lang", F.explode("toks").alias("g"))
        else:
            # guard the short-doc edge explicitly: Spark's sequence(1, 0)
            # yields a DESCENDING [1, 0] (not empty like DuckDB's range),
            # so docs with < n tokens must map to an empty index array
            idx = F.explode(
                F.when(
                    F.size("toks") >= n,
                    F.sequence(F.lit(1), F.size("toks") - (n - 1)),
                ).otherwise(F.array().cast("array<int>"))
            )
            g = base.select("lang", "toks", idx.alias("i")).select(
                "lang",
                F.concat_ws(" ", F.slice(F.col("toks"), F.col("i"), n)).alias("g"),
            )
        return g.groupBy("lang").agg(
            F.count(F.lit(1)).alias(f"n{n}"),
            F.countDistinct("g").alias(f"d{n}"),
        )

    s1, s2, s3 = grams(1), grams(2), grams(3)
    return (
        s1.join(s2, "lang")
        .join(s3, "lang")
        .select(
            "lang",
            F.round(F.col("d1") * 1.0 / F.col("n1"), 6).alias("distinct_1"),
            F.round(F.col("d2") * 1.0 / F.col("n2"), 6).alias("distinct_2"),
            F.round(F.col("d3") * 1.0 / F.col("n3"), 6).alias("distinct_3"),
        )
    )


MAD_SCALE = 1.4826  #: normal-consistency constant for MAD → σ̂
MAD_CUTOFF = 3.5  #: |robust z| threshold (Iglewicz–Hoaglin convention)


# --------------------------------------------------------------------------
@register(
    "robust_value_outliers_mad",
    oracle=f"""
    WITH sig AS (
      SELECT event_id, value * 1.0 AS v FROM events),
    med AS (SELECT quantile_cont(v, 0.5) AS m FROM sig),
    mad AS (SELECT quantile_cont(abs(sig.v - (SELECT m FROM med)), 0.5) AS mad
            FROM sig)
    SELECT event_id,
           round((v - (SELECT m FROM med))
                 / ({MAD_SCALE} * (SELECT mad FROM mad)), 6) + 0.0
             AS robust_z,
           abs(round((v - (SELECT m FROM med))
                     / ({MAD_SCALE} * (SELECT mad FROM mad)), 6))
             > {MAD_CUTOFF} AS is_outlier
    FROM sig
    """,
)
def robust_value_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST outlier flags (median/MAD, Iglewicz–Hoaglin): robust
    z = (x − median) / (1.4826·MAD), |z| > 3.5 ⇒ outlier — the
    heavy-tail-resistant twin of quality_blend_zscore, applied to the
    skewed events.value metric (the doc-length signal is near-uniform
    on this corpus — z ∈ ±1.35 — so the verdict there would be
    vacuous; value flags ~4% at sf0.01, both truth values real).
    Mean/σ stats are dragged by the very outliers they should catch
    (one fat spam value shifts μ corpus-wide); median/MAD's breakdown
    point is 50%, which is why curation cutoffs use it.

    Shape: two sequential tiny aggregates (median, then MAD of
    residuals — MAD is not algebraic, so two passes is the exact
    form; the 100 TB substitute is approx_percentile, same
    approximate-first row as percentile_stats in TUNING.md), each
    folded back as a broadcast cross join; flagging is a map. The
    outlier verdict compares the ROUNDED z on both engines, so the
    boolean can't straddle an ulp."""
    events = load_table(spark, sf_dir, "events")
    sig = events.select("event_id", (F.col("value") * F.lit(1.0)).alias("v"))
    med = sig.agg(F.percentile(F.col("v"), F.lit(0.5)).alias("m"))
    mad = (
        sig.crossJoin(F.broadcast(med))
        .agg(
            F.percentile(F.abs(F.col("v") - F.col("m")), F.lit(0.5)).alias("mad"),
            F.first("m").alias("m"),
        )
    )
    z = F.round(
        (F.col("v") - F.col("m")) / (MAD_SCALE * F.col("mad")), 6
    ) + 0.0
    return (
        sig.crossJoin(F.broadcast(mad))
        .select(
            "event_id",
            z.alias("robust_z"),
            (F.abs(z) > MAD_CUTOFF).alias("is_outlier"),
        )
    )


GOPHER_MIN_WORDS = 40  #: word-count floor (Gopher uses 50 on web text)
GOPHER_MAX_WORDS = 100_000  #: word-count ceiling
GOPHER_WLEN_LO = 3.5  #: mean-word-length band (Gopher: [3, 10])
GOPHER_WLEN_HI = 5.0
GOPHER_MIN_STOP = 2  #: distinct-occurrence stopword floor (Gopher: 2)


# --------------------------------------------------------------------------
@register(
    "gopher_quality_rules",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             length(text) AS n_chars_m,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('the', 'a', 'of', 'to', 'and', 'in', 'is', 'on')))
               AS n_stop
      FROM documents)
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           round((n_chars_m - (n_words - 1)) * 1.0 / n_words, 6) + 0.0
             AS mean_wlen,
           CAST(n_stop AS BIGINT) AS n_stop,
           (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
             AS r_word_count,
           ((n_chars_m - (n_words - 1)) * 1.0 / n_words >= {GOPHER_WLEN_LO}
            AND (n_chars_m - (n_words - 1)) * 1.0 / n_words <= {GOPHER_WLEN_HI})
             AS r_mean_wlen,
           (n_stop >= {GOPHER_MIN_STOP}) AS r_stopwords,
           (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
            AND (n_chars_m - (n_words - 1)) * 1.0 / n_words >= {GOPHER_WLEN_LO}
            AND (n_chars_m - (n_words - 1)) * 1.0 / n_words <= {GOPHER_WLEN_HI}
            AND n_stop >= {GOPHER_MIN_STOP}) AS gopher_pass
    FROM m
    """,
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GOPHER quality-rule battery (Rae et al. 2021 §A1.1, the
    repetition rules live in `repetition_quality`): word-count band,
    mean-word-length band, minimum stopword occurrences — the canonical
    pretraining document filter, thresholds tuned to be non-vacuous on
    the synthetic corpus (each rule passes some docs and fails others).
    Everything is ONE map-side projection: the word count is
    `size(split(...))`; the mean word length uses the single-space
    invariant of the corpus — Σ token_len = chars − (words − 1) — so it
    is pure integer codegen arithmetic with NO second pass, no explode,
    no higher-order aggregate lambda; the stopword count is the one HOF
    filter (array-local, no shuffle). Band comparisons run on the exact
    unrounded quotient in both engines (identical operands → identical
    boolean), the reported mean is rounded once for the hash."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_words = F.size(toks)
    sum_len = F.length(F.col("text")) - (n_words - 1)
    mean_wlen = sum_len * 1.0 / n_words
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "of", "to", "and", "in", "is", "on"))
    )
    r_wc = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    r_wl = (mean_wlen >= GOPHER_WLEN_LO) & (mean_wlen <= GOPHER_WLEN_HI)
    r_st = n_stop >= GOPHER_MIN_STOP
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        (F.round(mean_wlen, 6) + 0.0).alias("mean_wlen"),
        n_stop.cast("long").alias("n_stop"),
        r_wc.alias("r_word_count"),
        r_wl.alias("r_mean_wlen"),
        r_st.alias("r_stopwords"),
        (r_wc & r_wl & r_st).alias("gopher_pass"),
    )


# --------------------------------------------------------------------------
@register(
    "tokenizer_fertility_by_lang",
    oracle="""
    WITH m AS (
      SELECT lang,
             len(string_split(text, ' ')) AS ws,
             len(regexp_extract_all(text,
                 '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS bpe
      FROM documents)
    SELECT lang,
           CAST(sum(ws) AS BIGINT) AS ws_tokens,
           CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
           round(sum(bpe) * 1.0 / sum(ws), 6) + 0.0 AS fertility
    FROM m GROUP BY lang
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language — BPE-ish tokens emitted per
    whitespace word, the standard metric for how well a tokenizer fits
    each language (fertility ≫ 1 on a language means its documents eat
    disproportionate sequence length; multilingual data budgets are set
    in tokens, so curation needs this per-lang exchange rate). One
    map-side projection of two token counts (both codegen regex/split,
    no explode) into a lang-keyed partial+final agg — integer sums, one
    rounded division. The corpus-sized stage shuffles |langs| rows per
    task, nothing else."""
    from ..functions import text as TXT

    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return (
        docs.select(
            "lang",
            TXT.ws_token_count(t).alias("ws"),
            TXT.bpe_token_count(t).alias("bpe"),
        )
        .groupBy("lang")
        .agg(
            F.sum("ws").cast("long").alias("ws_tokens"),
            F.sum("bpe").cast("long").alias("bpe_tokens"),
            (F.round(F.sum("bpe") * 1.0 / F.sum("ws"), 6) + 0.0).alias("fertility"),
        )
    )
