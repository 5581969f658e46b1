"""Reference-surface queries — one per SQL-expressible operator row of
SURVEY.md §2 (O1–O13), each with its DuckDB oracle.

The reference computes exactly one query (incoming distinct-source link
counts, ``/root/reference/src/mr/CountReference.java``); the flagship
``wiki_incoming_refs`` re-targets that full pipeline shape at the
``documents`` table (docs ≈ pages, whitespace tokens ≈ link targets),
and the remaining entries isolate each operator on the TPC-H-ish tables
so the oracle exercises them independently.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet import load_table
from .catalog import register


# --------------------------------------------------------------------------
# Flagship: the whole reference pipeline shape (O3→O6→O8→O10→O11, chained
# two-stage aggregation O13) on the documents corpus.
@register(
    "wiki_incoming_refs",
    oracle="""
    SELECT token AS page_to, count(DISTINCT doc_id) AS n_refs
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE trim(token) <> ''
    GROUP BY token
    ORDER BY page_to
    """,
)
def wiki_incoming_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """docs-as-pages analog of CountReference: for every token, the number
    of DISTINCT documents containing it (repeats within a doc count once,
    = Reducer1+Reducer2 semantics, CountReference.java:269-276,298-305)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        docs.select(
            F.col("doc_id").alias("page_from"),
            F.explode(F.split(F.col("text"), " ")).alias("page_to"),
        )
        .filter(F.trim(F.col("page_to")) != "")
        .dropDuplicates(["page_to", "page_from"])  # O8
    )
    return (
        pairs.groupBy("page_to")
        .agg(F.count(F.lit(1)).alias("n_refs"))  # O10
        .orderBy("page_to")  # O11
    )


# --------------------------------------------------------------------------
# O1 — scan with filter + projection pushdown (parquet path).
@register(
    "scan_filter_project",
    oracle="""
    SELECT l_orderkey, l_partkey, l_extendedprice
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1997-01-01' AND l_discount > 0.05
    """,
)
def scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar scan; `.explain` shows PushedFilters + 5-column ReadSchema
    (the reference prunes manually at parse time, CountReference.java:228-232).
    Cutoff 1997-01-01 sits mid-range of the testdata's shipdates
    (min 1995-01-02), so the parity check compares non-empty results."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") < "1997-01-01") & (F.col("l_discount") > 0.05)
    ).select("l_orderkey", "l_partkey", "l_extendedprice")


# --------------------------------------------------------------------------
# O3 — regex extract-all + flatMap (explode).
@register(
    "regex_extract_explode",
    oracle="""
    SELECT doc_id, unnest(regexp_extract_all(text, '[a-z]{5,}')) AS word
    FROM documents
    """,
)
def regex_extract_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every ≥5-letter word per doc (CountReference.java:247-249's
    extract-all-matches loop as explode(regexp_extract_all))."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id"),
        F.explode(F.regexp_extract_all(F.col("text"), F.lit("[a-z]{5,}"), 0)).alias("word"),
    )


# --------------------------------------------------------------------------
# O4 — keep text before the first delimiter (pipe-target split).
@register(
    "pipe_split",
    oracle="""
    SELECT p_partkey, split_part(p_name, ' ', 1) AS head
    FROM part
    """,
)
def pipe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """substring_index = CountReference.java:251-253's split-before-first-pipe."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey"), F.substring_index(F.col("p_name"), " ", 1).alias("head")
    )


# --------------------------------------------------------------------------
# O5 — substring-blacklist predicate.
@register(
    "substring_blacklist_filter",
    oracle="""
    SELECT p_partkey, p_name
    FROM part
    WHERE NOT (p_name LIKE '%green%' OR p_name LIKE '%blue%' OR p_name LIKE '%red%')
    """,
)
def substring_blacklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """contains()-based exclusion, the shape of the namespace filter
    (CountReference.java:254-256; substring, not prefix)."""
    part = load_table(spark, sf_dir, "part")
    keep = (
        ~F.col("p_name").contains("green")
        & ~F.col("p_name").contains("blue")
        & ~F.col("p_name").contains("red")
    )
    return part.filter(keep).select("p_partkey", "p_name")


# --------------------------------------------------------------------------
# O6 — character strip + trim normalization.
@register(
    "strip_normalize",
    oracle="""
    SELECT c_custkey, trim(regexp_replace(c_name, '[0-9#,]', '', 'g')) AS clean_name
    FROM customer
    """,
)
def strip_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_replace-all + trim (CountReference.java:260-261 strips [ ] ,).
    NB the oracle needs DuckDB's 'g' flag to match Spark's replace-all."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        F.col("c_custkey"),
        F.trim(F.regexp_replace(F.col("c_name"), "[0-9#,]", "")).alias("clean_name"),
    )


# --------------------------------------------------------------------------
# O8 — distinct pair dedup (the semantic heart of Job 1).
@register(
    "distinct_pairs",
    oracle="SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem",
)
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates == the full-key grouping comparator trick
    (CountReference.java:308-320) as a partial+final hash aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_suppkey").dropDuplicates(["l_orderkey", "l_suppkey"])


# --------------------------------------------------------------------------
# O10 — group-by count.
@register(
    "group_count",
    oracle="SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus",
)
def group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reducer2's sum-of-ones (CountReference.java:298-305) — with the
    map-side partial agg the reference lacked (no combiner registered)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))


# --------------------------------------------------------------------------
# O11 — total-order sort.
@register(
    "total_sort",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer
    ORDER BY c_acctbal DESC, c_custkey
    """,
)
def total_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioned total sort at any parallelism — the reference
    gets total order only by running a single reducer (SURVEY.md §2 O11)."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select("c_custkey", "c_name", "c_acctbal").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )


# --------------------------------------------------------------------------
# O12 — CSV sink with header, round-tripped.
@register(
    "csv_sink_roundtrip",
    oracle="SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY o_orderpriority",
)
def csv_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a header-bearing CSV (CountReference.java:292-304,365-377's
    artifact) and read it back with an explicit schema — proves the sink
    without inference. coalesce(1) is export-only; see sinks.py."""
    from ..sources.sinks import write_csv_with_header

    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
    out = os.path.join(tempfile.gettempdir(), "itwiki_spark_csv_sink")
    write_csv_with_header(agg, out, single_file=True)
    return spark.read.schema("o_orderpriority string, n long").option("header", True).csv(out)


# --------------------------------------------------------------------------
# O13 — the chained two-stage aggregation (dedup → count), Job1→Job2 in
# one DAG.
@register(
    "two_stage_agg",
    oracle="""
    SELECT l_suppkey, count(*) AS n_orders
    FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
    GROUP BY l_suppkey
    """,
)
def two_stage_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (order, supplier) pairs, then orders per supplier — the
    reference's signature shape (CountReference.java:339-356) with the FS
    round-trip between jobs eliminated (O9)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_suppkey")
        .dropDuplicates(["l_orderkey", "l_suppkey"])
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# --------------------------------------------------------------------------
# M5 — the flagship shape again, via the salt-spread two-phase aggregation
# (skew hygiene for hot keys; same answer by construction).
@register(
    "wiki_incoming_refs_salted",
    oracle="""
    SELECT token AS page_to, count(DISTINCT doc_id) AS n_refs
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE trim(token) <> ''
    GROUP BY token
    """,
)
def wiki_incoming_refs_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient twin of wiki_incoming_refs: distinct-count per token
    through operators/skew.py's two-phase salt — hot tokens (popular
    pages in the reference's domain) spread across 16 shuffle buckets
    before the merge. Identical results, bounded per-reducer load."""
    from ..operators.skew import salted_distinct_count

    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        F.col("doc_id").alias("page_from"),
        F.explode(F.split(F.col("text"), " ")).alias("page_to"),
    ).filter(F.trim(F.col("page_to")) != "")
    return salted_distinct_count(pairs, "page_to", "page_from", out="n_refs")


# --------------------------------------------------------------------------
# The UDF/UDAF/UDTF surface (SURVEY.md §2): the reference's Mapper1 IS a
# UDTF (1 page row → N link rows, CountReference.java:246-266). This
# entry renders that shape as a Python UDTF for API parity; production
# uses the codegen'd explode in wiki_incoming_refs (UDTFs are
# row-at-a-time Python — the deliberate slow path, pinned here only for
# surface completeness).
@register(
    "udtf_token_explode",
    oracle="""
    SELECT token, count(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE trim(token) <> ''
    GROUP BY token
    """,
)
def udtf_token_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (LATERAL table function) twin of Mapper1: tokenize +
    empty-drop per document, then distinct-source counts — same answer
    as the flagship pipeline, via the user-defined-table-function API."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token: string", useArrow=True)
    class TokenizeUdtf:
        def eval(self, text: str):
            for t in (text or "").split(" "):
                if t.strip():
                    yield (t,)

    spark.udtf.register("tokenize_udtf", TokenizeUdtf)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents_udtf_src")
    return spark.sql(
        """
        SELECT token, count(DISTINCT doc_id) AS n_docs
        FROM documents_udtf_src, LATERAL tokenize_udtf(text)
        GROUP BY token
        """
    )


# --------------------------------------------------------------------------
# The flagship through the PURE SQL API — SURVEY.md §3's claim made
# checkable on the reference query itself: SQL and DataFrame declarations
# reach the same Catalyst plan, so both must hash-match the same oracle.
@register(
    "wiki_incoming_refs_sql",
    oracle="""
    SELECT page_to, count(*) AS n_refs FROM (
      SELECT DISTINCT token AS page_to, doc_id
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      WHERE trim(token) <> '')
    GROUP BY page_to ORDER BY page_to
    """,
)
def wiki_incoming_refs_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference pipeline (explode → filter → distinct → count →
    sort, O3–O13) written as ONE SQL statement — the declarative twin of
    plans/reference.py:wiki_incoming_refs, sharing its oracle."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents_sql")
    return spark.sql(
        """
        SELECT page_to, count(*) AS n_refs FROM (
          SELECT DISTINCT token AS page_to, doc_id
          FROM (SELECT doc_id, explode(split(text, ' ')) AS token FROM documents_sql)
          WHERE trim(token) <> '')
        GROUP BY page_to ORDER BY page_to
        """
    )


# --------------------------------------------------------------------------
# Native JVM XPath over constructed page XML — the expression-level XML
# surface next to the record-delimiter source (sources/xml_pages.py).
@register(
    "xpath_extract",
    oracle="""
    SELECT doc_id, 'doc ' || CAST(doc_id AS VARCHAR) AS title,
           CAST(strlen(text) AS BIGINT) AS body_len
    FROM documents
    """,
)
def xpath_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a <page> XML string per document and re-extract its fields
    with real XPath (JVM ``xpath_string`` — javax.xml under codegen).
    The oracle derives the same values from the source columns, so the
    check proves XPath faithfully recovers what was embedded — the
    roundtrip pattern of csv/jsonl/wiki_xml, at expression level."""
    docs = load_table(spark, sf_dir, "documents")
    # XML-escape the embedded text (& first): the corpus is ASCII word
    # soup today, but a regenerated fixture containing & < > would
    # otherwise yield malformed XML and a silent oracle divergence; the
    # parser unescapes on extraction, so lengths still match the oracle
    esc = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
            F.lit("<"),
            F.lit("&lt;"),
        ),
        F.lit(">"),
        F.lit("&gt;"),
    )
    xml = F.concat(
        F.lit("<page><title>doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><text>"),
        esc,
        F.lit("</text></page>"),
    )
    return docs.select(
        "doc_id",
        F.xpath_string(xml, F.lit("/page/title")).alias("title"),
        F.length(F.xpath_string(xml, F.lit("/page/text"))).cast("long").alias("body_len"),
    )


# --------------------------------------------------------------------------
@register(
    "from_xml_extract",
    oracle="""
    SELECT doc_id, 'doc ' || CAST(doc_id AS VARCHAR) AS title,
           CAST(strlen(text) AS BIGINT) AS body_len
    FROM documents
    """,
)
def from_xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The O2 parse through Spark 4's BUILT-IN XML support: ``from_xml``
    parses each <page> string into a typed STRUCT entirely JVM-side —
    the schema-first alternative to the XPath expression above, and the
    same parse sources/xml_pages.py runs on REAL dumps (there each
    ``</page>``-delimited record is re-wrapped into one well-formed
    <page> document first). Same roundtrip proof shape: the oracle
    derives the embedded values from the source columns."""
    docs = load_table(spark, sf_dir, "documents")
    # XML-escape the embedded text (& first): the corpus is ASCII word
    # soup today, but a regenerated fixture containing & < > would
    # otherwise yield malformed XML and a silent oracle divergence; the
    # parser unescapes on extraction, so lengths still match the oracle
    esc = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
            F.lit("<"),
            F.lit("&lt;"),
        ),
        F.lit(">"),
        F.lit("&gt;"),
    )
    xml = F.concat(
        F.lit("<page><title>doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><text>"),
        esc,
        F.lit("</text></page>"),
    )
    parsed = F.from_xml(xml, "STRUCT<title: STRING, text: STRING>")
    return docs.select(
        "doc_id",
        parsed.getField("title").alias("title"),
        F.length(parsed.getField("text")).cast("long").alias("body_len"),
    )


# --------------------------------------------------------------------------
# O1+O2 through the driver contract: round-trip the documents corpus as a
# MediaWiki-style dump and run the token pipeline on the parsed result.
@register(
    "wiki_xml_roundtrip",
    oracle="""
    SELECT token AS page_to, count(DISTINCT doc_id) AS n_refs
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE trim(token) <> ''
    GROUP BY token
    """,
)
def wiki_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source + parse (O1+O2), oracle-checked: serialize documents as
    <page> blocks (distributed text write — no driver loop), scan them
    back through the record-delimiter reader + from_xml parse, and count
    distinct source pages per token. Equals the flagship oracle because
    the round trip is lossless (word-soup text needs no entity escaping;
    titles are 'doc <id>')."""
    import hashlib

    from ..operators.linkgraph import distinct_pairs
    from ..sources.xml_pages import read_pages

    docs = load_table(spark, sf_dir, "documents")
    block = F.concat(
        F.lit("<page><title>doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><ns>0</ns><revision><text>"),
        F.col("text"),
        F.lit("</text></revision></page>"),
    )
    out = os.path.join(
        tempfile.gettempdir(),
        f"itwiki_xml_roundtrip_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    docs.select(block.alias("value")).write.mode("overwrite").text(out)

    pages = read_pages(spark, f"{out}/*.txt")
    pairs = distinct_pairs(
        pages.select(
            F.col("title").alias("page_from"),
            F.explode(F.split(F.col("text"), " ")).alias("page_to"),
        ).filter(F.trim(F.col("page_to")) != "")
    )
    return pairs.groupBy("page_to").agg(F.count(F.lit(1)).alias("n_refs"))


# --------------------------------------------------------------------------
@register(
    "degree_distribution_log2",
    # in-degree histogram of the link graph on log2 buckets — the
    # structural summary every graph pipeline prints before choosing a
    # partitioning (skew lives in the top buckets)
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT token AS page_to, doc_id AS page_from
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents)
      WHERE trim(token) <> ''),
    deg AS (SELECT page_to, count(*) AS d FROM pairs GROUP BY page_to)
    SELECT CAST(floor(log2(d)) AS BIGINT) AS log2_bucket,
           count(*) AS n_targets,
           CAST(min(d) AS BIGINT) AS min_deg,
           CAST(max(d) AS BIGINT) AS max_deg,
           CAST(sum(d) AS BIGINT) AS edges_in_bucket
    FROM deg GROUP BY 1
    """,
)
def degree_distribution_log2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree distribution of the wiki link graph on log2 buckets
    (r10 — the linkgraph family's structural summary): the O8+O10
    pipeline's per-target counts rolled into a power-of-two histogram.
    This is the number a 100 TB graph job reads FIRST: the top bucket's
    max_deg is the skew the salted twin exists for, and
    edges_in_bucket says how much of the shuffle the hot targets own.
    log2 on integer counts is exact on both engines (no summation
    drift — every column is a count). Plan: the distinct-pairs
    partial+final dedup, a per-target count, then a 30-ish-row
    histogram agg. Columns: (log2_bucket, n_targets, min_deg, max_deg,
    edges_in_bucket)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        docs.select(
            F.col("doc_id").alias("page_from"),
            F.explode(F.split(F.col("text"), " ")).alias("page_to"),
        )
        .filter(F.trim(F.col("page_to")) != "")
        .dropDuplicates(["page_to", "page_from"])
    )
    deg = pairs.groupBy("page_to").agg(F.count(F.lit(1)).alias("d"))
    return deg.groupBy(
        F.floor(F.log2("d")).cast("long").alias("log2_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_targets"),
        F.min("d").cast("long").alias("min_deg"),
        F.max("d").cast("long").alias("max_deg"),
        F.sum("d").cast("long").alias("edges_in_bucket"),
    )
