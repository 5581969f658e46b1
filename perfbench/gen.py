"""Seeded input generators for the benchmark.

Each generator is a pure function of ``(seed, size)`` written with numpy
and pyarrow, so inputs exist before the engine starts and the engine only
ever sees files. Shapes follow the repository's unseeded generators:

* :func:`wiki_dump` — ``tools/gen_wiki_dump.py``: one ``<page>`` record
  per article, 20–50 links per page, targets drawn as ``u**4 * n_pages``
  (a power law whose head, ``Pagina 0``, is the hot key), and every link
  quirk the reference mapper handles (pipes, ``File:``/``Categoria:``
  namespaces, a nested ``File:`` link that swallows an inner link).
* :func:`documents` — ``tools/gen_scale_data.py --vocab=zipf``: zipf
  words, 10–100 per document as in the sf0.1 test data (TESTDATA.md), about
  6 % planted near-duplicates.
* :func:`embeddings` — ``tools/gen_scale_data.py``: 64-d float vectors
  around ten class centres, here in tight groups so that nearest
  neighbours are well defined.
* :func:`tpch_tables` — the TPC-H-shaped tables the q5 join reads, with
  the sf0.1 test data's column names and types, and its row counts per scale.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FILLER = np.array(
    (
        "storia del la il di e per con una nel che sono stato citta regione "
        "comune provincia secolo guerra re papa arte musica film libro"
    ).split()
)
ZIPF_VOCAB = 50_000
WIKI_FILES = 8
DOC_MAX_WORDS = 100
DIM, GROUP = 64, 16  #: embedding width; vectors per tight group
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["HOUSEHOLD", "AUTOMOBILE", "FURNITURE", "BUILDING", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
LANGS = np.array(["en", "en", "en", "en", "zh", "de", "fr", "es"])


def _rng(seed: int, stream: int, *more: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream, *more])


def _link(kind: int, t: str) -> str:
    if kind == 0:
        return f"[[File:Foto {t}.jpg]]"
    if kind == 1:
        return f"[[Categoria:{t}]]"
    if kind == 2:
        return f"[[{t}|un, link]]"
    if kind == 3:
        return f"[[File:X {t} [[{t}]] fine]]"
    return f"[[{t}]]"


def wiki_dump(out_dir: str, seed: int, n_pages: int) -> None:
    """Write ``WIKI_FILES`` text files of ``<page>`` records into ``out_dir``."""
    rng = _rng(seed, 1)
    n_links = rng.integers(20, 51, n_pages)
    total = int(n_links.sum())
    targets = np.floor(rng.random(total) ** 4 * n_pages).astype(np.int64)
    kinds = rng.integers(0, 10, total)
    words = FILLER[rng.integers(0, len(FILLER), (total, 2))]
    prose = FILLER[rng.integers(0, len(FILLER), (n_pages, 150))]
    ends = np.cumsum(n_links)
    per_file = math.ceil(n_pages / WIKI_FILES)
    os.makedirs(out_dir, exist_ok=True)
    for f in range(WIKI_FILES):
        lo, hi = f * per_file, min(n_pages, (f + 1) * per_file)
        blocks = []
        for pid in range(lo, hi):
            a, b = int(ends[pid] - n_links[pid]), int(ends[pid])
            body = " ".join(
                f"{words[i, 0]} {_link(int(kinds[i]), f'Pagina {targets[i]}')} {words[i, 1]}"
                for i in range(a, b)
            )
            blocks.append(
                f"  <page>\n    <title>Pagina {pid}</title>\n    <ns>0</ns>\n"
                f"    <id>{pid + 1}</id>\n    <revision>\n      <text>{body} "
                f"{' '.join(prose[pid])}</text>\n    </revision>\n  </page>"
            )
        with open(os.path.join(out_dir, f"part-{f:05d}.txt"), "w") as fh:
            fh.write("\n".join(blocks) + "\n")


def _zipf_words(rng: np.random.Generator, n: int) -> list[str]:
    ranks = np.clip(np.floor(np.exp(rng.random(n) * math.log(ZIPF_VOCAB))), 1, ZIPF_VOCAB)
    return [f"w{int(r)}" for r in ranks]


def documents(path: str, seed: int, n_docs: int) -> None:
    """``documents`` table: (doc_id, text, lang, source, n_chars), with
    10 to ``DOC_MAX_WORDS`` words per document."""
    texts = []
    for doc_id in range(n_docs):
        content = doc_id
        planted = doc_id % 17 == 13 and doc_id >= 100
        if planted:
            content = max(doc_id - int(_rng(seed, 31, doc_id).integers(0, 997)) - 1, 0)
        rng = _rng(seed, 33, content)
        text = " ".join(_zipf_words(rng, int(rng.integers(10, DOC_MAX_WORDS + 1))))
        if planted:
            text += " " + " ".join(_zipf_words(_rng(seed, 34, doc_id), 3))
        texts.append(text)
    rng = _rng(seed, 37)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n_docs)]),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, path)


def embeddings(path: str, seed: int, n_vecs: int) -> None:
    """``embeddings`` table: (vec_id, embedding array<float>, label).

    Vectors sit in tight groups of about ``GROUP`` around points spread
    like the scale generator's vectors (ten class centres plus uniform
    noise). Without the groups every class is one blob whose exact top-10
    is a near-tie among hundreds of vectors, and recall@10 says nothing
    about the index; with them each vector has a true neighbourhood."""
    rng = _rng(seed, 39)
    n_groups = max(1, n_vecs // GROUP)
    group_label = rng.integers(0, 10, n_groups).astype(np.int32)
    centres = rng.integers(0, 400, (10, DIM)) / 1000.0 - 0.2
    points = centres[group_label] + rng.integers(0, 100, (n_groups, DIM)) / 1000.0 - 0.05
    groups = rng.integers(0, n_groups, n_vecs)
    labels = group_label[groups]
    noise = rng.integers(0, 100, (n_vecs, DIM)) / 20_000.0 - 0.0025
    vecs = (points[groups] + noise).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(labels),
        }
    )
    pq.write_table(table, path)


def tpch_tables(out_dir: str, seed: int, sf: float) -> None:
    """region, nation, customer, supplier, orders, lineitem at scale ``sf``
    (sf0.1: 15 k customers, 1 k suppliers, 150 k orders, ~600 k lines)."""
    rng = _rng(seed, 50)
    n_cust, n_supp, n_orders = int(150_000 * sf), int(10_000 * sf), int(1_500_000 * sf)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    os.makedirs(out_dir, exist_ok=True)
    write("region", {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    write(
        "nation",
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        },
    )
    write(
        "customer",
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(np.round(rng.random(n_cust) * 11_000 - 1_000, 2), f64),
            "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n_cust)]),
        },
    )
    write(
        "supplier",
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(np.round(rng.random(n_supp) * 11_000 - 1_000, 2), f64),
        },
    )
    day_us = 86_400_000_000
    base_us = 788_918_400_000_000  # 1995-01-01T00:00:00Z
    # a hot customer takes ~1 % of orders, as in the scale generator
    cust = np.where(rng.random(n_orders) < 0.01, 42, rng.integers(0, n_cust, n_orders))
    write(
        "orders",
        {
            "o_orderkey": pa.array(np.arange(n_orders), i64),
            "o_custkey": pa.array(cust, i64),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
            "o_totalprice": pa.array(np.round(rng.random(n_orders) * 400_000 + 1_000, 2), f64),
            "o_orderdate": pa.array(
                base_us + rng.integers(0, 2405, n_orders) * day_us, pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n_orders)]),
        },
    )
    n_lines = rng.integers(1, 8, n_orders)
    n = int(n_lines.sum())
    okey = np.repeat(np.arange(n_orders), n_lines)
    lnum = np.arange(n) - np.repeat(np.cumsum(n_lines) - n_lines, n_lines) + 1
    qty = rng.integers(1, 51, n).astype(np.float64)
    write(
        "lineitem",
        {
            "l_orderkey": pa.array(okey, i64),
            "l_partkey": pa.array(rng.integers(0, int(200_000 * sf), n), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), i64),
            "l_linenumber": pa.array(lnum, i32),
            "l_quantity": pa.array(qty, f64),
            "l_extendedprice": pa.array(np.round(qty * (900 + rng.integers(0, 1000, n) / 10), 2), f64),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, f64),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(
                base_us + day_us + rng.integers(0, 2500, n) * day_us, pa.timestamp("us")
            ),
        },
    )
