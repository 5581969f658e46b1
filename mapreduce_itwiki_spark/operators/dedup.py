"""Deduplication operators (north-star ⊕, SURVEY.md §2): exact,
MinHash+LSH, SimHash, and exact n-gram-Jaccard — over the ``documents``
table, generalizing the reference's pair-dedup O8
(``/root/reference/src/mr/CountReference.java:269-276,308-320``).

Oracle-portability design: every hash is md5-derived (byte-identical in
any engine), so even the *approximate* operators have exact DuckDB
oracles — the oracle replays the same signatures/bands, and the verify
step recomputes the same exact similarity, so outputs match set-for-set.

Scale design (100 TB):
* Signatures are computed with array higher-order functions inside the
  scan stage — md5 per shingle ONCE into an array, then per-seed
  ``array_min`` — zero shuffles until the band join.
* Candidate generation is a shuffle join on (band_id, band_key), i.e.
  cost ∝ docs × bands, never docs², and hot buckets are AQE-skew-split.
* Verification joins token sets only for candidate pairs.
* SimHash banding is pigeonhole-COMPLETE: 4 bands over a 32-bit
  signature guarantee every pair at Hamming distance ≤ 3 shares ≥ 1
  exact band, so blocked output ≡ brute-force output (the oracle brute
  forces; equality is provable, not sampled).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.par import fanout
from . import index_store

SHINGLE_K = 3  #: tokens per shingle for near-dup ops
NUM_HASHES = 16  #: minhash signature length
BAND_ROWS = 2  #: minhash rows per band → 8 bands; P(cand|j)=1-(1-j^2)^8
MINHASH_P = 2_147_483_647  #: Mersenne prime for the universal-hash family
SIMHASH_BITS = 32  #: one bit per md5 hex digit
SIMHASH_BANDS = 4  #: 8 bits/band; complete for Hamming ≤ SIMHASH_BANDS-1


def _tokens(text: Column) -> Column:
    return F.split(text, " ")


def shingles(text: Column, k: int = SHINGLE_K) -> Column:
    """Distinct k-token shingles of a document, as an array column."""
    toks = _tokens(text)
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    )


def shingle_rows(docs: DataFrame, k: int = SHINGLE_K, distinct: bool = False) -> DataFrame:
    """(doc_id, s) k-token shingle ROWS — the hot-path twin of
    ``shingles()`` that stays inside whole-stage codegen.

    The sf5 soak profile (TUNING.md round 4) measured the array path —
    ``transform(starts, λ slice+concat_ws)`` + ``array_distinct`` — at
    ~90 s per corpus pass for 75 M shingles: higher-order-function
    lambdas evaluate INTERPRETED per element, so the per-shingle cost
    is an expression-tree walk, not generated code. This builder emits
    the same shingles through codegen'd expressions only: k aliased
    shifted slices of the token array, ``arrays_zip`` (one array build
    per doc, struct fields named by the input columns), ``posexplode``,
    a position filter replicating ``greatest(n-k+1, 1)`` (short docs
    yield their single partial shingle via concat_ws's null-skipping,
    exactly like the array path), and one ``concat_ws`` per row.

    ``distinct=True`` adds the per-doc set semantics of ``shingles()``
    as a group-by — when the input was just fanned out by doc_id the
    hash partitioning already satisfies the (doc_id, s) clustering, so
    the distinct is partition-local (no second exchange)."""
    toks = _tokens(F.col("text"))
    n = F.size(toks)
    shifted = [F.slice(toks, j + 1, F.greatest(n - j, F.lit(0))).alias(f"t{j}") for j in range(k)]
    zipped = docs.select(F.col("doc_id"), n.alias("n"), *shifted).select(
        F.col("doc_id"),
        F.col("n"),
        F.posexplode(F.arrays_zip(*[f"t{j}" for j in range(k)])).alias("pos", "z"),
    )
    rows = zipped.filter(
        F.col("pos") < F.greatest(F.col("n") - (k - 1), F.lit(1))
    ).select(
        F.col("doc_id"),
        F.concat_ws(" ", *[F.col(f"z.t{j}") for j in range(k)]).alias("s"),
    )
    if distinct:
        rows = rows.groupBy("doc_id", "s").agg(F.lit(1).alias("_one")).drop("_one")
    return rows


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup via content fingerprint: one row per distinct text with
    the representative (min doc_id) and the multiplicity. The classic
    hash-groupBy — Catalyst plans it partial+final, so at 100 TB the
    shuffle carries one row per distinct fingerprint per partition."""
    from ..functions.text import fingerprint

    return (
        docs.select(F.col("doc_id"), fingerprint(F.col("text")).alias("text_fp"))
        .groupBy("text_fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_signatures(
    docs: DataFrame, num_hashes: int = NUM_HASHES, rows: DataFrame | None = None
) -> DataFrame:
    """(doc_id, sig_0..sig_{n-1}): minhash over shingles via ONE md5 per
    shingle + a universal-hash family g_i = (h1 + i·h2') mod P, where
    h1/h2 are the two 60-bit halves of md5(shingle) and h2' = h2 mod P.
    16× less hashing than per-seed md5, same LSH guarantees — this is
    the per-byte cost that dominates a 100 TB dedup pass. All integer
    arithmetic (hex→int, %, min) is byte-reproducible in the DuckDB
    oracle.

    Explode-then-aggregate rather than array higher-order functions: HOF
    lambdas evaluate INTERPRETED per element, while md5/conv/min over
    exploded rows stay inside whole-stage codegen. min() partial-
    aggregates map-side, and rows for a doc are co-partitioned by the
    fan-out, so the groupBy exchange carries one row per (doc,
    partition).

    ``rows``: optionally consume a prebuilt (doc_id, s) shingle-rows
    frame (minhash_near_dups shares one materialized frame between the
    signature and verify stages). Duplicate shingle rows are fine —
    min over a multiset equals min over its set — so the standalone
    path skips the per-doc distinct entirely: one codegen map pass
    from the scan into a map-side-partial min aggregation."""
    if rows is None:
        base = fanout(docs.select(F.col("doc_id"), F.col("text")), "doc_id")
        rows = shingle_rows(base, distinct=False)
    sh_rows = rows.select(F.col("doc_id"), F.md5(F.col("s")).alias("m"))
    h1 = F.conv(F.substring(F.col("m"), 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(F.col("m"), 17, 15), 16, 10).cast("long") % MINHASH_P
    hashed = sh_rows.select(
        F.col("doc_id"),
        *[((h1 + F.lit(i) * h2) % MINHASH_P).alias(f"g_{i}") for i in range(num_hashes)],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"g_{i}").alias(f"sig_{i}") for i in range(num_hashes)]
    )


def _minhash_bands(sigs: DataFrame, carry_sigs: bool = False) -> DataFrame:
    """Explode signatures into (doc_id, band_id, band_key) rows.

    With ``carry_sigs`` the full 16-component signature rides along as
    16 long columns (~128 B/row extra) so the band self-join can filter
    candidate pairs on signature agreement WITHOUT re-deriving the
    signature subplan — the md5-per-shingle pipeline stays
    executed-once, and the agreement predicate is plain codegen'd
    column equality, evaluated map-side in the join stage before any
    pair row is shuffled to the distinct."""
    n_bands = NUM_HASHES // BAND_ROWS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "|", *[F.col(f"sig_{b * BAND_ROWS + r}") for r in range(BAND_ROWS)]
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    carried = [f"sig_{i}" for i in range(NUM_HASHES)] if carry_sigs else []
    return sigs.select(
        F.col("doc_id"), *[F.col(c) for c in carried], F.explode(bands).alias("band")
    ).select("doc_id", *carried, "band.band_id", "band.band_key")


def minhash_coverage_report(
    docs: DataFrame, max_bucket: int | None = None
) -> DataFrame:
    """What the MINHASH_MAX_BUCKET cap DROPS — the "no silent caps"
    monitoring twin of dedup_recall_report (VERDICT r5 #2): band
    buckets hotter than the cap generate no candidates, so their rows
    are excluded from all pairwise work. One-row report: how many band
    rows exist, how many the cap excludes, and — the number a curation
    run actually watches — how many DOCUMENTS retain at least one
    surviving band row (a doc whose every band bucket is capped can
    never be found as a near-dup). Columns: (n_band_rows,
    n_dropped_rows, dropped_fraction, n_docs, n_docs_covered,
    doc_coverage).

    Shape (round 7 — ONE consumption of the signature front-end): the
    per-bucket size rides each band row as a window count over the
    bucket keys, then a per-doc aggregate (row count, dropped count,
    any-surviving flag) cascades into the single-row rollup. The
    original shape aggregated the band rows TWICE (bucket stats + a
    join back for the doc-coverage check); Spark has no cross-branch
    common-subplan elimination, so the md5-per-shingle signature
    pipeline — the dominant cost — executed twice. n_docs stays a
    separate count over the documents table (column-pruned scan):
    the oracle defines coverage against ALL docs, not docs-with-band-
    rows, and the 1-row cross joins are broadcast nested loops, never
    cartesian (plan-gated in tests/test_plan_quality.py). Safe as a
    recurring 100 TB monitoring query."""
    from pyspark.sql import Window

    if max_bucket is None:
        max_bucket = MINHASH_MAX_BUCKET
    bands = _minhash_bands(minhash_signatures(docs))
    w = Window.partitionBy("band_id", "band_key")
    bands_sz = bands.withColumn("bsz", F.count(F.lit(1)).over(w))
    perdoc = bands_sz.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_r"),
        F.sum(F.when(F.col("bsz") > max_bucket, 1).otherwise(0)).alias("n_d"),
        F.max(F.when(F.col("bsz") <= max_bucket, 1).otherwise(0)).alias("cov"),
    )
    stats = perdoc.agg(
        F.sum("n_r").alias("n_band_rows"),
        F.sum("n_d").alias("n_dropped_rows"),
        F.sum("cov").alias("n_docs_covered"),
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        stats.crossJoin(n_docs)
        .select(
            "n_band_rows",
            "n_dropped_rows",
            F.round(F.col("n_dropped_rows") / F.col("n_band_rows"), 6).alias(
                "dropped_fraction"
            ),
            "n_docs",
            "n_docs_covered",
            F.round(F.col("n_docs_covered") / F.col("n_docs"), 6).alias(
                "doc_coverage"
            ),
        )
    )


MINHASH_MAX_BUCKET = 2048  #: band-bucket ceiling: buckets above this
#: generate no candidates. The sf5 soak (TUNING.md round 4) showed why:
#: candidate cost is Σ bucket², and a band key shared by thousands of
#: docs (boilerplate/templates in real corpora; a dense shingle space
#: in the synthetic one) carries almost no pair-level signal while
#: quadratically dominating the join. With b=8 bands, losing ONE capped
#: band lowers recall at j=0.5 only from 1-(1-j²)^8≈0.90 to
#: (1-(1-j²)^7)≈0.87 — a pair of real near-dups almost surely shares an
#: uncapped band. The oracle replays the cap, so parity is exact.


MINHASH_MIN_AGREE = 6  #: signature-agreement prefilter: a candidate
#: pair must match on ≥ this many of the NUM_HASHES signature
#: components (E[matches] = 16·j, so 6/16 ≈ estimated j ≥ 0.375 for a
#: 0.5 verify threshold). The sf5 soak profile (TUNING.md round 4)
#: showed the exact-Jaccard verify join — shingle ARRAYS shuffled for
#: every candidate — dominating wall time when band buckets collide
#: heavily (dense shingle space / boilerplate); the signature the
#: pipeline ALREADY computed is a free unbiased Jaccard estimate, so
#: filtering on it map-side (before the candidate distinct) prunes the
#: junk candidates at ~1/50 the per-row cost of the verify join.
#: Recall cost at the j=0.5 boundary: P(Binom(16, 0.5) ≥ 6) ≈ 0.90,
#: on par with the banding's own 1-(1-j²)^8 ≈ 0.90, vanishing for the
#: higher-j pairs dedup actually targets (j=0.7 → 0.994; j=0.9 →
#: 1-3e-8). The oracle replays the same prefilter, so parity is exact,
#: and dedup_recall_report measures the end-to-end recall honestly.


def minhash_candidate_pairs(
    docs: DataFrame,
    max_bucket: int = MINHASH_MAX_BUCKET,
    min_agree: int = MINHASH_MIN_AGREE,
    rows: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 (bounded) band bucket, with
    estimated similarity (signature agreement) ≥ min_agree/NUM_HASHES.

    Plain band self-join over DF-capped buckets. Both join sides are
    the SAME subplan, so the join's two hash exchanges canonicalize
    identically and exchange reuse (AQE shuffle-stage reuse at runtime;
    a plan gate pins the ``ReusedExchange``) makes the signature
    pipeline — the md5-per-shingle cost that dominates a 100 TB pass —
    run exactly once. The bucket-size window partitions by the join key
    itself, so the filter rides the same exchange. Hot-but-under-cap
    buckets flow through a shuffle join that AQE skew-splits, unlike a
    bucket-expansion (``collect_list`` + double explode) where a hot
    bucket is one giant un-splittable array row in an
    ObjectHashAggregate — an executor-OOM risk. An earlier variant
    inserted an explicit ``repartition(n, band_id, band_key)`` before
    the join to force reuse through a single exchange; measured at
    sf0.1 that was >2× SLOWER (2.5 s vs 1.1 s min-of-3, with
    pathological 19 s cold runs) — the fixed-width repartition fights
    AQE's partition sizing and adds an exchange the join then
    re-consumes, so the hint was removed (TUNING.md)."""
    from pyspark.sql import Window

    carry = min_agree > 0
    w = Window.partitionBy("band_id", "band_key")
    bands = (
        _minhash_bands(minhash_signatures(docs, rows=rows), carry_sigs=carry)
        .withColumn("bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("bsz") <= max_bucket)
        .drop("bsz")
    )
    a, b = bands.alias("a"), bands.alias("b")
    joined = a.join(b, ["band_id", "band_key"]).filter(
        F.col("a.doc_id") < F.col("b.doc_id")
    )
    if carry:
        agree = sum(
            (F.col(f"a.sig_{i}") == F.col(f"b.sig_{i}")).cast("int")
            for i in range(NUM_HASHES)
        )
        joined = joined.filter(agree >= F.lit(min_agree))
    return joined.select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    ).distinct()


def pair_jaccard(
    docs: DataFrame,
    pairs: DataFrame,
    rows: DataFrame | None = None,
    keep_zeros: bool = True,
) -> DataFrame:
    """Exact shingle-set Jaccard for given (doc_a, doc_b) pairs, via
    shingle ROWS: |A∩B| is a count over a row-level equi-join, |A∪B| =
    |A|+|B|−|A∩B| — the inclusion-exclusion shape the DuckDB oracle
    itself uses. No shingle ARRAY is ever built, shuffled, or
    intersected: an sf5 profile (TUNING.md round 4) measured the array
    formulation (per-pair array_intersect/array_union over ~300-element
    string arrays, arrays shuffled to the join) at ~166 s vs ~15 s for
    this row shape, and the row shape keeps every operator — explode,
    md5-free string equality join, count — inside whole-stage codegen.

    Broadcast discipline (unchanged from the array formulation): ONLY
    the slim (doc_a, doc_b) candidate list is ever broadcast — LSH
    candidates are sparse by design, so expanding the a-side is a
    map-side hash join over the shingle rows; the b-side match then
    shuffles ONCE on (doc_b, s) as a shuffled-hash join (explicit
    hint — sort-merge would pay a corpus-wide sort). The plan gate in
    tests/test_plan_quality.py asserts no BroadcastExchange ever
    carries shingle data.

    Only candidate DOCS participate: the slim doc-id list derived from
    ``pairs`` broadcast-semi-filters the shingle rows before the
    distinct and all three verify consumers — LSH candidates are a
    vanishing fraction of a real corpus, so the verify stage's input
    shrinks from "every shingle in the corpus" to "shingles of docs
    that are actually in some candidate pair".

    ``rows``: optionally consume a prebuilt (doc_id, s) frame, dups
    allowed (minhash_near_dups shares one exchange-materialized frame
    with the signature stage; the per-doc distinct happens here, after
    the candidate filter). Every input pair yields an output row —
    zero-overlap candidates score jaccard 0.0 via the left join, like
    the array formulation's empty intersect did — unless
    ``keep_zeros=False`` (callers that threshold at > 0 anyway), which
    drops that final join and one consumption of the pairs subtree."""
    if rows is None:
        rows = shingle_rows(docs.select(F.col("doc_id"), F.col("text"))).repartition(
            F.col("doc_id")
        )
    cand_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    from pyspark.sql import Window

    rows_c = (
        rows.join(F.broadcast(cand_docs), "doc_id")
        .groupBy("doc_id", "s")
        .agg(F.lit(1).alias("_one"))
        .drop("_one")
    )
    # Set sizes ride along as a partition-local window (doc_id is the
    # partitioning key of the incoming exchange, so no new shuffle and
    # no corpus-cardinality sizes frame to join — each intersection row
    # already knows |A| and |B|, and the final group-by folds them out
    # with first()).
    rows_n = rows_c.withColumn(
        "n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    a_rows = rows_n.select(
        F.col("doc_id").alias("doc_a"), F.col("s"), F.col("n_sh").alias("n_a")
    ).join(F.broadcast(pairs), "doc_a")
    b_rows = rows_n.select(
        F.col("doc_id").alias("doc_b"), F.col("s"), F.col("n_sh").alias("n_b")
    )
    scored = (
        a_rows.hint("shuffle_hash")
        .join(b_rows.hint("shuffle_hash"), ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_inter"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    if not keep_zeros:
        return scored
    return (
        pairs.join(scored, ["doc_a", "doc_b"], "left")
        .select("doc_a", "doc_b", F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("jaccard"))
    )


def minhash_near_dups(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """MinHash-LSH near-duplicate pairs: LSH candidates, verified with
    exact shingle Jaccard ≥ threshold. Recall at j=0.5 is
    1-(1-0.25)^8 ≈ 0.90 with the default banding (tune NUM_HASHES /
    BAND_ROWS per corpus; the driver data's planted near-dups sit at
    j ≥ 0.5 against a < 0.1 background).

    One corpus pass: the shingle rows are computed map-side from the
    scan and land in ONE hash exchange on doc_id; the signature stage
    and all verify consumers sit above that exchange, so ReusedExchange
    materializes the shingling exactly once — plain shuffle files, no
    localCheckpoint (whose lazy variant still pays an eager toRdd
    planning pass per call, TUNING.md round 3)."""
    rows = shingle_rows(docs.select(F.col("doc_id"), F.col("text"))).repartition(
        F.col("doc_id")
    )
    # The SLIM candidate list is consumed three times by the verify
    # (expand-a, intersection probe, candidate-doc filter); checkpoint
    # it — a few bytes per candidate pair — so the band join runs once.
    cands = minhash_candidate_pairs(docs, rows=rows).localCheckpoint(eager=False)
    return pair_jaccard(docs, cands, rows=rows, keep_zeros=False).filter(
        F.col("jaccard") >= threshold
    )


NGRAM_MAX_DF = 100  #: stop-shingle ceiling: shingles in > this many docs
#: generate no candidates (boilerplate/near-universal shingles are what
#: blow the Σ bucket² of an inverted index; a pair sharing ONLY such
#: shingles has low Jaccard anyway unless both docs are tiny)


def ngram_jaccard_dups(
    docs: DataFrame, threshold: float = 0.5, max_df: int = NGRAM_MAX_DF
) -> DataFrame:
    """N-gram-Jaccard near-dup pairs with EXACT scores: inverted-index
    candidate generation over document-frequency-capped shingles, then
    full-set Jaccard verification for candidates only (pair_jaccard).

    The DF cap is the standard stop-shingle trick — candidate cost is
    Σ_uncapped bucket² ≤ docs·max_df instead of unbounded on
    near-universal shingles. Scores are computed on the FULL shingle
    sets, so the cap affects recall only for pairs whose every common
    shingle is near-universal. The cap is computed with an
    s-partitioned count window, which leaves the rows hash-partitioned
    on the self-join key — the candidate join adds no further
    exchange."""
    from pyspark.sql import Window

    part = shingle_rows(docs.select(F.col("doc_id"), F.col("text"))).repartition(
        F.col("doc_id")
    )
    # Distinct rows feed the DF-cap window AND both sides of the
    # inverted-index self-join; checkpoint so the distinct agg (and the
    # shingling under it) runs once rather than per consumer.
    sh = (
        part.groupBy("doc_id", "s")
        .agg(F.lit(1).alias("_one"))
        .drop("_one")
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("s")
    capped = (
        sh.withColumn("df", F.count(F.lit(1)).over(w))
        .filter(F.col("df") <= max_df)
        .drop("df")
    )
    a, b = capped.alias("a"), capped.alias("b")
    cands = (
        a.join(b, "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .localCheckpoint(eager=False)  # slim; the inverted-index join runs once
    )
    return pair_jaccard(docs, cands, rows=sh, keep_zeros=False).filter(
        F.col("jaccard") >= threshold
    )


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 32-bit SimHash as a '0'/'1' string, one bit per
    md5 hex-digit position — bit_p = sign of Σ_tokens (digit_p ≥ '8' ? +1 : -1)
    (frequency-weighted, duplicates count). Portable to any engine with
    md5 + substr, hence exactly oracle-checkable."""
    # Same explode-not-HOF design as minhash_signatures: md5 once per
    # token row, 32 codegen'd ±1 columns, map-side-partial sum per doc.
    tok_rows = fanout(docs.select(F.col("doc_id"), F.col("text")), "doc_id").select(
        F.col("doc_id"), F.explode(_tokens(F.col("text"))).alias("t")
    )
    tok_rows = tok_rows.select(F.col("doc_id"), F.md5(F.col("t")).alias("m"))
    scored = tok_rows.select(
        F.col("doc_id"),
        *[
            F.when(F.substring(F.col("m"), p, 1) >= "8", F.lit(1))
            .otherwise(F.lit(-1))
            .alias(f"b_{p}")
            for p in range(1, SIMHASH_BITS + 1)
        ],
    )
    agg = scored.groupBy("doc_id").agg(
        *[F.sum(f"b_{p}").alias(f"s_{p}") for p in range(1, SIMHASH_BITS + 1)]
    )
    return agg.select(
        F.col("doc_id"),
        F.concat(
            *[
                F.when(F.col(f"s_{p}") >= 0, F.lit("1")).otherwise(F.lit("0"))
                for p in range(1, SIMHASH_BITS + 1)
            ]
        ).alias("simhash"),
    )


def _hamming(a: Column, b: Column) -> Column:
    terms = [
        F.when(F.substring(a, p, 1) != F.substring(b, p, 1), 1).otherwise(0)
        for p in range(1, SIMHASH_BITS + 1)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def simhash_dup_pairs(docs: DataFrame, max_hamming: int = SIMHASH_BANDS - 1) -> DataFrame:
    """SimHash near-dup pairs with Hamming ≤ 3 via 4-band blocking.

    COMPLETE, not approximate: ≤3 differing bits across 4 disjoint 8-bit
    bands leave ≥1 band identical (pigeonhole), so the band join finds
    every qualifying pair and the Hamming filter makes the result exactly
    the brute-force set — at band-join cost instead of docs²."""
    sigs = simhash_signatures(docs)
    band_w = SIMHASH_BITS // SIMHASH_BANDS
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.substring("simhash", b * band_w + 1, band_w).alias("band_key"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_id", "band.band_key")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            _hamming(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        # filter BEFORE distinct: low-entropy corpora make band buckets
        # collide heavily (~4 dup rows per surviving pair is nothing; 400k
        # non-qualifying rows through the distinct exchange is the cost)
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


MINHASH_INDEX_PARTS = 32  #: pkey hash fan per band in the persisted
#: index — 8 bands × 32 = 256 partition directories. Band keys
#: themselves are signature-valued (cardinality ~ corpus size), far too
#: many for one directory each; hashing them into a bounded fan keeps
#: directory listings tame at 100 TB while a SMALL probe batch still
#: prunes: a batch touching B distinct band buckets reads at most
#: min(B, 256) directories. The fan value also rides in the index rows
#: (``pkey``) so readers never have to recompute it.


def _minhash_pkey(band_id: Column, band_key: Column) -> Column:
    """Partition key of one band row in the persisted minhash index:
    ``band_id || '_' || (first 60 md5 bits of band_key) mod PARTS``.
    md5-derived so the fan is uniform regardless of signature skew, and
    both the writer and the probe compute it from the same expression."""
    h = F.conv(F.substring(F.md5(band_key), 1, 15), 16, 10).cast("long")
    return F.concat_ws("_", band_id, h % MINHASH_INDEX_PARTS)


def minhash_index_write(docs: DataFrame, path: str) -> None:
    """Persist the corpus's MinHash band rows as an on-disk NEAR-DUP
    index, partitioned by :func:`_minhash_pkey` — the TEXT twin of
    similarity.ann_index_write, and the missing half of the
    incremental-dedup story (dedup_incremental_batch covers EXACT
    fingerprints; this covers near-dups): signatures + banding for the
    existing corpus are computed ONCE, and every future ingest batch is
    near-dup-checked against the corpus WITHOUT re-scanning or
    re-hashing a single corpus document.

    Row layout: (doc_id, sig_0..sig_15, band_id, band_key, bsz, pkey)
    where ``bsz`` is the band-bucket size frozen at build time — the
    MINHASH_MAX_BUCKET hot-bucket ceiling becomes a plain pushed
    predicate at read time (``bsz <= cap``) instead of a corpus-wide
    window per probe. Completion is the ``minhash`` manifest
    (:mod:`.index_store`), committed after the rows."""
    from pyspark.sql import Window

    index_store.retract(path)
    bands = _minhash_bands(minhash_signatures(docs), carry_sigs=True)
    w = Window.partitionBy("band_id", "band_key")
    rows = bands.withColumn("bsz", F.count(F.lit(1)).over(w))
    # cluster by the partition column BEFORE the partitioned write
    # (guide §6: rebalance-before-write): without it every write task
    # opens a file in every pkey directory it sees — measured ~8k
    # small files and a 5.9 s commit at sf0.1; clustered, the write is
    # one file per pkey (256 total) and 2.6 s. At 100 TB the same move
    # is what keeps files near target size; MINHASH_INDEX_PARTS is the
    # parallelism/fan dial. Salted by doc_id (r11, guide §2.5) so a
    # hot pkey — every shard of a degenerate band bucket hashes to the
    # SAME pkey — cannot serialize its directory's write to one task.
    from ..functions.par import salted_by_partition

    keyed = rows.withColumn(
        "pkey", _minhash_pkey(F.col("band_id"), F.col("band_key"))
    )
    salted_by_partition(
        keyed, "pkey", "doc_id", n_dirs=(NUM_HASHES // BAND_ROWS) * MINHASH_INDEX_PARTS
    ).write.mode("overwrite").partitionBy("pkey").parquet(path)
    index_store.commit(path, "minhash", ["write"])


def neardup_candidates_against_index(
    spark,
    index_path: str,
    new_docs: DataFrame,
    max_bucket: int = MINHASH_MAX_BUCKET,
    min_agree: int = MINHASH_MIN_AGREE,
) -> DataFrame:
    """Near-dup CANDIDATE pairs of a new ingest batch against the
    PERSISTED corpus index: (corpus_doc_id, new_doc_id) for every
    corpus doc sharing ≥ 1 under-cap band bucket with a batch doc and
    agreeing on ≥ ``min_agree`` of the 16 signature components (the
    same two-stage screen as minhash_candidate_pairs, split across the
    index boundary).

    Scale shape — the whole point of the index: the batch's band rows
    are computed from the batch alone (small), their distinct pkeys are
    collected driver-side (≤ 8·MINHASH_INDEX_PARTS values) and spliced
    into the index read as a literal IN-list ⇒ static partition
    pruning; the hot-bucket cap is the pushed ``bsz <= cap`` predicate;
    and the batch side is BROADCAST into the pruned scan when it is
    actually small — the gate below, not an unconditional hint — so the
    corpus rows that survive pruning flow through ONE map-side hash
    join: zero shuffles of corpus data, cost ∝ batch, never ∝ corpus.
    A batch too big to broadcast falls back to the shuffle join AQE
    plans (the explicit-hint override would ship the whole batch to
    every executor — the broadcast_if_small rationale,
    plans/relational.py). Exactly-once batch hashing: the batch band
    rows are localCheckpointed (lazily) so the probe collect and the
    join consume one materialization; the size gate is row-count-based
    because a checkpointed frame's Catalyst size estimate is the
    unknown-size default."""
    index_store.load(index_path, "minhash")
    nb = (
        _minhash_bands(minhash_signatures(new_docs), carry_sigs=True)
        .localCheckpoint(eager=False)
    )
    pkeys = sorted(
        r.pkey
        for r in nb.select(
            _minhash_pkey(F.col("band_id"), F.col("band_key")).alias("pkey")
        )
        .distinct()
        .collect()
    ) or ["__none__"]
    idx = (
        spark.read.parquet(index_path)
        .filter(F.col("pkey").isin(pkeys))  # static partition pruning
        .filter(F.col("bsz") <= max_bucket)  # pushed hot-bucket ceiling
    )
    thr_str = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try:  # "-1" disables; byteStringAsBytes rejects negatives
        thr = int(thr_str)
    except ValueError:
        thr = spark._jvm.org.apache.spark.util.Utils.byteStringAsBytes(thr_str)
    batch_side = nb.alias("q")
    # ~200 B/band row: doc_id + 16 sig longs + band key strings
    if thr > 0 and nb.count() * 200 <= thr:
        batch_side = F.broadcast(batch_side)
    joined = idx.alias("c").join(batch_side, ["band_id", "band_key"])
    agree = sum(
        (F.col(f"c.sig_{i}") == F.col(f"q.sig_{i}")).cast("int")
        for i in range(NUM_HASHES)
    )
    return (
        joined.filter(F.col("c.doc_id") != F.col("q.doc_id"))
        .filter(agree >= F.lit(min_agree))
        .select(
            F.col("c.doc_id").alias("doc_a"), F.col("q.doc_id").alias("doc_b")
        )
        .distinct()
    )


def neardup_against_index(
    spark,
    index_path: str,
    docs: DataFrame,
    new_docs: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """VERIFIED incremental near-dups: candidates from the persisted
    index (:func:`neardup_candidates_against_index`), then exact
    shingle-Jaccard verification ≥ ``threshold`` — pair_jaccard reads
    text only for docs that appear in some candidate pair (its built-in
    semi-filter), so the verify stage too costs ∝ candidates, not
    ∝ corpus. Columns: (doc_a = corpus doc, doc_b = new doc, jaccard).

    ``docs`` must cover both sides' text (corpus ∪ batch) — at 100 TB
    that is the same lake the index was built from, read through a
    candidate-doc semi-join, not scanned."""
    cands = neardup_candidates_against_index(
        spark, index_path, new_docs
    ).localCheckpoint(eager=False)
    return pair_jaccard(docs, cands, keep_zeros=False).filter(
        F.col("jaccard") >= threshold
    )
