"""Reference answers computed outside the engine.

Nothing here imports the engine: each function re-derives the expected
output from the generated inputs with the standard library, numpy or
DuckDB, so the engine and the reference can only agree if both are right.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import math
import os
import re
from collections import Counter, defaultdict

import numpy as np

# The reference mapper's rules, as tests/wiki_fixture.py states them:
# non-greedy [[...]] not crossing newlines, text before the first pipe,
# namespace blacklist as a substring test, strip [ ] , then trim.
_LINK = re.compile(r"\[\[(.*?)\]\]")
_STRIP = re.compile(r"[\[\],]")
_BLACKLIST = ("File:", "Categoria:", "Category:", "Aiuto:", "s:", "Image:", "Immagine:")
_PAGE = re.compile(r"<title>(.*?)</title>.*?<text>(.*?)</text>", re.S)


def row_hash(title: str, count: int) -> int:
    return int(hashlib.md5(f"{title}\x00{count}".encode()).hexdigest()[:16], 16)


def wiki_fingerprint(dump_dir: str) -> dict:
    """Fingerprint of the expected ``page_title,count`` output of a dump."""
    counts: Counter[str] = Counter()
    for path in sorted(glob.glob(os.path.join(dump_dir, "*.txt"))):
        with open(path) as fh:
            data = fh.read()
        for title, text in _PAGE.findall(data):
            targets = set()
            for m in _LINK.finditer(text):
                link = m.group(0).split("|", 1)[0]
                if any(ns in link for ns in _BLACKLIST):
                    continue
                target = _STRIP.sub("", link).strip()
                if target:
                    targets.add(target)
            src = title.strip()
            counts.update(targets if src else ())
    hot = max(counts.items(), key=lambda kv: (kv[1], kv[0]))
    return {
        "rows": len(counts),
        "count_sum": sum(counts.values()),
        "hash": sum(row_hash(t, c) for t, c in counts.items()) % (1 << 64),
        "hot_title": hot[0],
        "hot_count": hot[1],
    }


def csv_fingerprint(out_dir: str) -> dict:
    """Fingerprint of a written CSV directory, plus whether its rows are
    in title order across the part files and their byte size."""
    rows = count_sum = h = 0
    hot = ("", -1)
    prev = None
    ordered = True
    n_bytes = 0
    for path in sorted(glob.glob(os.path.join(out_dir, "part-*.csv"))):
        n_bytes += os.path.getsize(path)
        with open(path, newline="") as fh:
            reader = csv.reader(fh)
            if next(reader, None) not in (None, ["page_title", "count"]):
                ordered = False
            for title, count in reader:
                c = int(count)
                rows += 1
                count_sum += c
                h += row_hash(title, c)
                if (c, title) > (hot[1], hot[0]):
                    hot = (title, c)
                if prev is not None and title <= prev:
                    ordered = False
                prev = title
    return {
        "rows": rows,
        "count_sum": count_sum,
        "hash": h % (1 << 64),
        "hot_title": hot[0],
        "hot_count": hot[1],
        "ordered": ordered,
        "bytes": n_bytes,
    }


def shingle_sets(texts: dict[int, str], k: int = 3) -> dict[int, frozenset[str]]:
    """Distinct k-token shingles per document; a document shorter than k
    tokens has one shingle, its whole text."""
    out = {}
    for doc_id, text in texts.items():
        toks = text.split(" ")
        n = max(len(toks) - (k - 1), 1)
        out[doc_id] = frozenset(" ".join(toks[i : i + k]) for i in range(n))
    return out


def exact_near_dups(
    sets: dict[int, frozenset[str]], threshold: float = 0.5
) -> dict[tuple[int, int], float]:
    """Every pair with exact shingle Jaccard >= ``threshold``, found with
    the prefix filter (a pair reaching the threshold shares a shingle
    among each side's ``|A| - ceil(t|A|) + 1`` rarest shingles), then
    verified on the full sets. Keys are (a, b) with a < b; values are
    the Jaccard rounded to 6 places, as the engine reports it."""
    df = Counter(s for ss in sets.values() for s in ss)
    postings: dict[str, list[int]] = defaultdict(list)
    for doc_id, ss in sets.items():
        ranked = sorted(ss, key=lambda s: (df[s], s))
        for s in ranked[: len(ranked) - math.ceil(threshold * len(ranked)) + 1]:
            postings[s].append(doc_id)
    cands = set()
    for ids in postings.values():
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                cands.add((a, b) if a < b else (b, a))
    out = {}
    for a, b in cands:
        inter = len(sets[a] & sets[b])
        j = inter / (len(sets[a]) + len(sets[b]) - inter)
        if j >= threshold:
            out[(a, b)] = round(j, 6)
    return out


def keep_verdicts(doc_ids: list[int], pairs) -> dict[int, bool]:
    """Keep a document iff it is the smallest id of its near-dup cluster
    (connected component of ``pairs``); documents in no pair keep."""
    parent = {d: d for d in doc_ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) == d for d in doc_ids}


def exact_topk(vecs: np.ndarray, query_ids: list[int], k: int = 10) -> dict[int, list[int]]:
    """Exact cosine top-``k`` of each query over all other vectors, ties
    broken by id."""
    x = vecs.astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    out = {}
    for q in query_ids:
        cos = np.round(x @ x[q], 6)
        cos[q] = -np.inf
        order = np.lexsort((np.arange(len(cos)), -cos))
        out[q] = [int(i) for i in order[:k]]
    return out


def cosine(vecs: np.ndarray, a: int, b: int) -> float:
    x, y = vecs[a].astype(np.float64), vecs[b].astype(np.float64)
    return float(x @ y / (np.linalg.norm(x) * np.linalg.norm(y)))


def duckdb_rows(sql: str, tables: dict[str, str]) -> tuple[list[str], list[tuple]]:
    """Run ``sql`` in DuckDB over parquet files; returns (columns, rows)."""
    import duckdb

    con = duckdb.connect()
    try:
        for name, path in tables.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return cols, cur.fetchall()
    finally:
        con.close()


def same_rows(cols_a, rows_a, cols_b, rows_b, rel_tol: float = 1e-9) -> bool:
    """Order-insensitive equality of two row sets, columns matched by
    name; floats equal within ``rel_tol`` (sums of doubles in a different
    order may differ in the last bits)."""
    if sorted(cols_a) != sorted(cols_b) or len(rows_a) != len(rows_b):
        return False
    names = sorted(cols_a)
    ia = [list(cols_a).index(c) for c in names]
    ib = [list(cols_b).index(c) for c in names]

    def norm(rows, idx):
        return sorted(tuple(r[i] for i in idx) for r in rows)

    for ra, rb in zip(norm(rows_a, ia), norm(rows_b, ib)):
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if not math.isclose(float(x), float(y), rel_tol=rel_tol, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True
