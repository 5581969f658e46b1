"""Golden test for the wiki-link pipeline (SURVEY.md §7 M2): the Spark
XML source + link-graph operators must reproduce an independent
simulation of the reference's exact semantics on a quirk-covering
fixture. This is the one path with no DuckDB oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_itwiki_spark.operators import linkgraph
from mapreduce_itwiki_spark.sources import xml_pages

import wiki_fixture


@pytest.fixture(scope="module")
def xml_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("wiki") / "pages.xml"
    p.write_text(wiki_fixture.to_xml(), encoding="utf-8")
    return str(p)


@pytest.fixture(scope="module")
def pages(spark, xml_path):
    return xml_pages.read_pages(spark, xml_path)


def test_xml_source_reads_all_pages(pages):
    rows = {r.title: r.text for r in pages.collect()}
    assert sorted(rows) == sorted(t for t, _ in wiki_fixture.PAGES)
    # entity decode survived the round trip
    assert "[[A&B]]" in rows["Delta"]
    # ns/id/revision metadata never materialize — only (title, text)
    assert pages.columns == ["title", "text"]


def test_link_pairs_match_simulation(spark, pages):
    expected_pairs, _ = wiki_fixture.simulate()
    got = sorted(
        (r.page_to, r.page_from)
        for r in linkgraph.distinct_pairs(linkgraph.extract_link_pairs(pages)).collect()
    )
    assert got == expected_pairs


def test_incoming_counts_match_simulation(spark, pages):
    _, expected_counts = wiki_fixture.simulate()
    result = linkgraph.incoming_reference_counts(pages).collect()
    got = {r.page_title: r["count"] for r in result}
    assert got == expected_counts
    # total order by title (binary collation, SURVEY.md §2 O11)
    titles = [r.page_title for r in result]
    assert titles == sorted(titles)


def test_quirk_semantics(spark, pages):
    """Spot-check the quirk surface explicitly so a regression names the
    broken rule, not just 'dicts differ'."""
    _, counts = wiki_fixture.simulate()
    # nested [[File:... [[Gamma]] ...]] swallowed the inner link: Beta's
    # Gamma mention doesn't count, Epsilon's nested Alpha doesn't count
    pairs, _ = wiki_fixture.simulate()
    assert ("Gamma", "Beta") not in pairs
    # newline-broken link never matches
    assert all(not t.startswith("Al\n") for t, _ in pairs)
    # aggressive substring 's:' rule kills 'Links: and such'
    assert not any("Links" in t for t, _ in pairs)
    # comma stripped from target
    assert ("Rome Italy", "Gamma") in pairs
    # repeats collapse: Delta references Beta exactly once... and the
    # trimmed '[[ Beta ]]' variant folds into the same target
    assert counts["Beta"] >= 2  # Alpha and Delta
    got = {
        r.page_title: r["count"]
        for r in linkgraph.incoming_reference_counts(pages).collect()
    }
    assert got == counts


def test_csv_sink_artifact(spark, pages, tmp_path):
    """O12: single-file CSV with a header row, like
    result/incomingReferencesCount.csv (CountReference.java:365-377)."""
    from mapreduce_itwiki_spark.sources.sinks import write_csv_with_header

    out = str(tmp_path / "incoming_csv")
    write_csv_with_header(
        linkgraph.incoming_reference_counts(pages), out, single_file=True
    )
    back = spark.read.option("header", True).csv(out)
    assert back.columns == ["page_title", "count"]
    _, counts = wiki_fixture.simulate()
    assert back.count() == len(counts)


def test_rdd_twin_matches_dataframe_pipeline(spark, pages):
    """The RDD MapReduce rendering (operators/linkgraph_rdd.py) and the
    Catalyst pipeline must agree exactly on the quirk fixture."""
    from mapreduce_itwiki_spark.operators.linkgraph_rdd import (
        incoming_reference_counts_rdd,
    )
    from mapreduce_itwiki_spark.operators.linkgraph import incoming_reference_counts

    df_rows = {
        r.page_title: r["count"] for r in incoming_reference_counts(pages).collect()
    }
    rdd_rows = {
        r.page_title: r["count"]
        for r in incoming_reference_counts_rdd(pages.sparkSession, pages).collect()
    }
    assert df_rows == rdd_rows


def test_salted_distinct_count_equals_plain(spark, pages):
    """Salting is exactness-preserving (operators/skew.py)."""
    from mapreduce_itwiki_spark.operators import linkgraph
    from mapreduce_itwiki_spark.operators.skew import salted_distinct_count

    links = linkgraph.extract_link_pairs(pages)
    plain = {
        r.page_title: r["count"]
        for r in linkgraph.incoming_reference_counts(pages).collect()
    }
    salted = {
        r.page_to: r.n
        for r in salted_distinct_count(
            links, "page_to", "page_from", n_salts=4, out="n"
        ).collect()
    }
    assert plain == salted


def test_xml_source_across_input_splits(spark, tmp_path):
    """Split-boundary correctness (the reference's XmlInputFormat exists
    for exactly this, CountReference.java:128-133): a larger dump forced
    into many Hadoop input splits must yield the same counts as the
    1-split read. Record-delimiter carryover handles pages straddling
    split boundaries."""
    from mapreduce_itwiki_spark.operators import linkgraph
    from mapreduce_itwiki_spark.sources import xml_pages

    # ~3.5 MB dump: the fixture pages repeated with unique titles
    blocks = []
    for rep in range(400):
        for i, (title, text) in enumerate(wiki_fixture.PAGES):
            blocks.append(
                f"  <page>\n    <title>{title} v{rep}</title>\n    <ns>0</ns>\n"
                f"    <id>{rep * 10 + i}</id>\n    <revision>\n"
                f"      <text>{text.replace('&', '&amp;')}</text>\n"
                "    </revision>\n  </page>"
            )
    doc = "<mediawiki>\n" + "\n".join(blocks) + "\n</mediawiki>\n"
    p = tmp_path / "big.xml"
    p.write_text(doc, encoding="utf-8")

    blocks_rdd = spark.sparkContext.newAPIHadoopFile(
        str(p),
        "org.apache.hadoop.mapreduce.lib.input.TextInputFormat",
        "org.apache.hadoop.io.LongWritable",
        "org.apache.hadoop.io.Text",
        conf={
            "textinputformat.record.delimiter": "</page>",
            "mapreduce.input.fileinputformat.split.maxsize": str(128 * 1024),
        },
    )
    assert blocks_rdd.getNumPartitions() > 3  # the scan really fans out

    with xml_pages.scoped_max_split_bytes(spark, 64 * 1024):
        # native lineSep path under small splits (including splits smaller
        # than a record: carryover must reassemble pages at boundaries)
        pages = xml_pages.read_pages(spark, str(p))
        counts = {
            r.page_title: r["count"]
            for r in linkgraph.incoming_reference_counts(pages).collect()
        }
        n_pages_native = pages.count()
    # the scope restored the session conf
    assert (
        spark.conf.get("spark.sql.files.maxPartitionBytes")
        != str(64 * 1024)
    )

    assert n_pages_native == 400 * len(wiki_fixture.PAGES)
    _, per_rep = wiki_fixture.simulate()
    # every target in the simulation appears per-rep ('Beta' → 'Beta'? no:
    # titles got ' vN' suffixes, so page_from changes but page_to targets
    # are rep-independent → each target's count multiplies by 400
    for target, c in per_rep.items():
        assert counts[target] == c * 400, (target, counts.get(target), c)


REFERENCE_SAMPLE = "/root/reference/result/i/itwiki-latest-pages-articles1-10pages.xml"


@pytest.mark.skipif(
    not __import__("os").path.exists(REFERENCE_SAMPLE),
    reason="reference sample dump not present",
)
def test_golden_counts_on_reference_sample(spark):
    """Pinned golden numbers on the reference's own committed 10-page
    sample (CountReference.java:246-266,269-276,298-305 semantics):
    1,483 raw link tuples → 1,261 distinct (to, from) pairs → 1,206
    distinct targets, with 'Medioevo' referenced by 4 distinct pages.
    These were independently reproduced from the reference's artifacts
    (SURVEY.md §0); this test freezes them against regression."""
    from mapreduce_itwiki_spark.operators import linkgraph

    pages = xml_pages.read_pages(spark, REFERENCE_SAMPLE)
    raw = linkgraph.extract_link_pairs(pages)
    assert raw.count() == 1483
    pairs = linkgraph.distinct_pairs(raw)
    assert pairs.count() == 1261
    counts = linkgraph.incoming_reference_counts(pages)
    assert counts.count() == 1206
    medioevo = {r.page_title: r["count"] for r in counts.collect()}["Medioevo"]
    assert medioevo == 4
    # the literal-MapReduce RDD twin reproduces the same goldens
    from mapreduce_itwiki_spark.operators.linkgraph_rdd import (
        incoming_reference_counts_rdd,
    )

    rdd_counts = incoming_reference_counts_rdd(spark, pages)
    assert rdd_counts.count() == 1206


def test_malformed_page_blocks_are_dropped(spark, tmp_path):
    """Corrupt page blocks (broken XML, missing title/text) drop cleanly
    instead of failing the scan — dirty dumps are the norm at 100 TB."""
    doc = (
        "<mediawiki>\n"
        "  <page><title>Good</title><revision><text>[[Target]]</text></revision></page>\n"
        "  <page><title>Broken</title><revision><text>unclosed\n"  # no </text>
        "  <page><title></title><revision><text>[[X]]</text></revision></page>\n"
        "  <page><revision><text>no title at all</text></revision></page>\n"
        "  <notapage>stray</notapage>\n"
        "</mediawiki>\n"
    )
    p = tmp_path / "dirty.xml"
    p.write_text(doc, encoding="utf-8")
    pages = xml_pages.read_pages(spark, str(p))
    rows = pages.collect()
    assert [r.title for r in rows] == ["Good"]


def test_text_outside_the_export_schema(spark, tmp_path):
    """Rule: ``text`` is the character content of ``page/revision/text``
    or ``page/text``, nothing else. So (a) child elements inside
    ``<text>`` stay as raw markup instead of being flattened to their
    characters, and (b) a ``<text>`` nested deeper than ``page/`` or
    ``page/revision/`` is not found, and its page is dropped. The
    MediaWiki export schema puts character-only ``<text>`` under
    ``<revision>``, so neither shape occurs in a real dump."""
    doc = (
        "<mediawiki>\n"
        "  <page><title>Child</title><revision><text>a<b>inner</b>c</text></revision></page>\n"
        "  <page><title>Deep</title><revision><x><text>deep</text></x></revision></page>\n"
        "  <page><title>Direct</title><text>[[Target]]</text></page>\n"
        "</mediawiki>\n"
    )
    p = tmp_path / "nesting.xml"
    p.write_text(doc, encoding="utf-8")
    rows = sorted(
        (r.title, r.text) for r in xml_pages.read_pages(spark, str(p)).collect()
    )
    assert rows == [("Child", "a<b>inner</b>c"), ("Direct", "[[Target]]")]


def test_xml_start_tag_straddling_split_boundary_not_dropped(spark, tmp_path):
    """The inherited Mahout XmlInputFormat edge (SURVEY §4, VERDICT r7
    #8): a reader that searches forward for '<page>' from its split
    start can DROP a page whose start tag itself straddles the split
    boundary. The Spark path keys records on the '</page>' END
    delimiter with carryover, so where the START tag falls is
    irrelevant — proven here by sweeping the split boundary through
    every byte of one '<page>' literal (…before, inside all 6 bytes,
    after…) and pinning both page count AND per-title link counts to
    the 1-split read each time."""
    from mapreduce_itwiki_spark.operators import linkgraph
    from mapreduce_itwiki_spark.sources import xml_pages

    blocks = []
    for rep in range(6):
        for i, (title, text) in enumerate(wiki_fixture.PAGES):
            blocks.append(
                f"  <page>\n    <title>{title} v{rep}</title>\n    <ns>0</ns>\n"
                f"    <id>{rep * 10 + i}</id>\n    <revision>\n"
                f"      <text>{text.replace('&', '&amp;')}</text>\n"
                "    </revision>\n  </page>"
            )
    doc = "<mediawiki>\n" + "\n".join(blocks) + "\n</mediawiki>\n"
    p = tmp_path / "straddle.xml"
    p.write_text(doc, encoding="utf-8")
    n_pages = 6 * len(wiki_fixture.PAGES)

    # single-split golden
    pages = xml_pages.read_pages(spark, str(p))
    assert pages.count() == n_pages
    want = {
        r.page_title: r["count"]
        for r in linkgraph.incoming_reference_counts(pages).collect()
    }

    # a '<page>' start tag in the middle of the file
    raw = doc.encode("utf-8")
    off = raw.index(b"<page>", len(raw) // 2)
    assert 0 < off < len(raw)
    # boundary at off+d: d=0 puts the whole tag after the cut; d=1..5
    # cut INSIDE the literal; d=6 puts it wholly before
    for d in range(0, 7):
        split = off + d
        with xml_pages.scoped_max_split_bytes(spark, split):
            got_pages = xml_pages.read_pages(spark, str(p))
            assert got_pages.count() == n_pages, (d, split)
            got = {
                r.page_title: r["count"]
                for r in linkgraph.incoming_reference_counts(
                    got_pages
                ).collect()
            }
            assert got == want, (d, split)
