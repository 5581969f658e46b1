"""The benchmark's three workloads.

A workload prepares seeded inputs and their reference answers (cached by
seed and size), then exposes one *pass*: a fixed list of operations, each
one call into the engine, each checked against the reference. The
traced run also asks a workload for its layer breakdown.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
from collections.abc import Callable
from dataclasses import dataclass

import pyarrow.dataset as pads
import pyarrow.parquet as pq

import gen
import reference as ref

#: sizes of the generated inputs
WIKI_PAGES = 16_000
CATALOG_SF, CATALOG_DOCS = 0.1, 5_000
LIFE_VECS, LIFE_QUERIES = 4_000, 50
#: times each wiki pipeline prefix is drained in the traced run
LAYER_ROUNDS = 3

#: the catalog entries the overhead workload runs, in pass order
CATALOG_ENTRIES = ("wiki_incoming_refs", "q5_local_supplier_volume", "neardup_apply_keep")

#: near-dup probes are LSH-approximate; they must find this share of the
#: exact pairs (and report nothing else)
MIN_DUP_RECALL = 0.9
#: IVF-PQ probe floor on recall@10 against the exact top-10
MIN_ANN_RECALL = 0.1


@dataclass
class Op:
    name: str
    call: Callable[[], object]
    check: Callable[[object], bool]


@dataclass
class Inputs:
    path: str
    input_bytes: int
    gen_s: float
    ref: dict


def _drain(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _tree_bytes(root: str, since: float = 0.0) -> tuple[int, int]:
    """(files, bytes) of the data files under ``root`` modified at or
    after ``since``; checksum and marker files (``.``/``_`` prefixed)
    are not counted."""
    n = size = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            if f.startswith((".", "_")) or os.path.getmtime(p) < since:
                continue
            n += 1
            size += os.path.getsize(p)
    return n, size


def _cached(cache_dir: str, key: str, build: Callable[[str], dict]) -> Inputs:
    """Generate inputs and references into ``cache_dir/key`` once; later
    runs with the same seed and size reuse them. Files named
    ``reference*`` hold references, not inputs."""
    path = os.path.join(cache_dir, key)
    meta = os.path.join(path, "reference.json")
    t0 = time.perf_counter()
    if not os.path.exists(meta):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        refs = build(tmp)
        with open(os.path.join(tmp, "reference.json"), "w") as fh:
            json.dump(refs, fh)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
        _prune(cache_dir, keep=6)
    with open(meta) as fh:
        refs = json.load(fh)
    size = sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("reference")
    )
    return Inputs(path, size, time.perf_counter() - t0, refs)


def _prune(cache_dir: str, keep: int) -> None:
    entries = sorted(
        (p for p in glob.glob(os.path.join(cache_dir, "*")) if ".tmp" not in p),
        key=os.path.getmtime,
    )
    for p in entries[:-keep]:
        shutil.rmtree(p, ignore_errors=True)


def _check_keep(rows, n_docs: int, dropped: list[int]) -> bool:
    """One verdict per document; every dropped document is a non-minimum
    of an exact near-dup cluster; enough of those are dropped."""
    verdict = {r["doc_id"]: r["keep"] for r in rows}
    if len(verdict) != len(rows) or set(verdict) != set(range(n_docs)):
        return False
    got = {d for d, k in verdict.items() if not k}
    return got <= set(dropped) and len(got) >= MIN_DUP_RECALL * len(dropped)


class Workload:
    name = ""

    def prepare(self, cache_dir: str, seed: int) -> Inputs:
        raise NotImplementedError

    def start(self, spark, inputs: Inputs, work_dir: str) -> None:
        """Bind the session and inputs; called again after a restart."""
        self.spark, self.inputs, self.work = spark, inputs, work_dir

    def ops(self, pass_no: int) -> list[Op]:
        raise NotImplementedError

    def stored_bytes(self) -> int:
        """Bytes the last pass left on disk as its product."""
        return 0

    def layers(self) -> dict[str, float]:
        """Per-layer counts and times for the traced run."""
        return {}


class WikiLinkcount(Workload):
    """The namesake pipeline: XML dump → incoming-link counts → CSV."""

    name = "wiki_linkcount"

    def prepare(self, cache_dir, seed):
        def build(d):
            gen.wiki_dump(os.path.join(d, "dump"), seed, WIKI_PAGES)
            return ref.wiki_fingerprint(os.path.join(d, "dump"))

        return _cached(cache_dir, f"wiki-s{seed}-p{WIKI_PAGES}", build)

    def _glob(self):
        return os.path.join(self.inputs.path, "dump", "*.txt")

    def _linkcount(self, out: str) -> str:
        from mapreduce_itwiki_spark.operators.linkgraph import incoming_reference_counts
        from mapreduce_itwiki_spark.sources.sinks import write_csv_with_header
        from mapreduce_itwiki_spark.sources.xml_pages import read_pages

        shutil.rmtree(out, ignore_errors=True)
        write_csv_with_header(incoming_reference_counts(read_pages(self.spark, self._glob())), out)
        return out

    def _check(self, out: str) -> bool:
        got = ref.csv_fingerprint(out)
        self.csv_bytes = got["bytes"]
        ok = got.pop("ordered") and all(got[k] == v for k, v in self.inputs.ref.items())
        shutil.rmtree(out, ignore_errors=True)
        return ok

    def ops(self, pass_no):
        out = os.path.join(self.work, f"csv{pass_no}")
        return [Op("linkcount", lambda: self._linkcount(out), self._check)]

    def stored_bytes(self):
        return self.csv_bytes

    def layers(self):
        from mapreduce_itwiki_spark.operators.linkgraph import (
            distinct_pairs,
            extract_link_pairs,
            incoming_reference_counts,
        )
        from mapreduce_itwiki_spark.sources.xml_pages import read_pages

        spark, path = self.spark, self._glob()
        csv_dir = os.path.join(self.work, "csv_layers")

        def pages():
            return read_pages(spark, path)

        # each layer's time is its pipeline prefix's median over
        # LAYER_ROUNDS minus the previous prefix's; the scan prefix is
        # read_pages' own record-delimited text read
        prefixes = [
            ("xml_pages.scan_s", lambda: _drain(spark.read.option("lineSep", "</page>").text(path))),
            ("xml_pages.parse_s", lambda: _drain(pages())),
            ("wiki.extract_s", lambda: _drain(extract_link_pairs(pages()))),
            ("linkgraph.distinct_s", lambda: _drain(distinct_pairs(extract_link_pairs(pages())))),
            ("linkgraph.count_sort_s", lambda: _drain(incoming_reference_counts(pages()))),
            ("sinks.csv_write_s", lambda: self._linkcount(csv_dir)),
        ]
        samples: dict[str, list[float]] = {name: [] for name, _ in prefixes}
        for _ in range(LAYER_ROUNDS):
            for name, fn in prefixes:
                t0 = time.perf_counter()
                fn()
                samples[name].append(time.perf_counter() - t0)
        out, prev = {}, 0.0
        for name, times in samples.items():
            t = statistics.median(times)
            out[name], prev = t - prev, t
        csv = ref.csv_fingerprint(csv_dir)
        shutil.rmtree(csv_dir, ignore_errors=True)
        raw = extract_link_pairs(pages()).count()
        distinct = distinct_pairs(extract_link_pairs(pages())).count()
        out.update(
            {
                "xml_pages.pages": pages().count(),
                "wiki.raw_links": raw,
                "linkgraph.distinct_pairs": distinct,
                "linkgraph.targets": csv["rows"],
                "linkgraph.hot_key_refs": csv["hot_count"],
                "linkgraph.pair_yield": distinct / raw,
                "sinks.csv_bytes": csv["bytes"],
            }
        )
        return out


class CatalogOverhead(Workload):
    """Catalog entries bound by job count and driver gaps, not data."""

    name = "catalog_overhead"

    def prepare(self, cache_dir, seed):
        def build(d):
            from mapreduce_itwiki_spark.plans import catalog

            gen.tpch_tables(d, seed, CATALOG_SF)
            docs = os.path.join(d, "documents.parquet")
            gen.documents(docs, seed, CATALOG_DOCS)
            tables = {
                os.path.basename(p)[: -len(".parquet")]: p
                for p in glob.glob(os.path.join(d, "*.parquet"))
            }
            oracles = catalog.oracles()
            refs = {name: ref.duckdb_rows(oracles[name], tables) for name in CATALOG_ENTRIES[:2]}
            # neardup_apply_keep's DuckDB oracle replays MinHash banding
            # and takes minutes; an exact shingle-Jaccard pass checks it
            table = pq.read_table(docs, columns=["doc_id", "text"]).to_pydict()
            pairs = ref.exact_near_dups(ref.shingle_sets(dict(zip(table["doc_id"], table["text"]))))
            keep = ref.keep_verdicts(table["doc_id"], pairs)
            refs["dropped"] = sorted(d for d, k in keep.items() if not k)
            return refs

        return _cached(cache_dir, f"catalog-s{seed}-sf{CATALOG_SF}", build)

    def start(self, spark, inputs, work_dir):
        from mapreduce_itwiki_spark.plans import catalog

        super().start(spark, inputs, work_dir)
        self.queries = catalog.queries()

    def _query(self, name: str):
        df = self.queries[name](self.spark, self.inputs.path)
        return df.columns, df.collect()

    def _check(self, name: str, result) -> bool:
        cols, rows = result
        if name == "neardup_apply_keep":
            return _check_keep(rows, CATALOG_DOCS, self.inputs.ref["dropped"])
        return ref.same_rows(cols, [tuple(x) for x in rows], *self.inputs.ref[name])

    def ops(self, pass_no):
        return [
            Op(name, lambda name=name: self._query(name), lambda res, name=name: self._check(name, res))
            for name in CATALOG_ENTRIES
        ]

    def layers(self):
        from mapreduce_itwiki_spark.operators import dedup
        from mapreduce_itwiki_spark.sources.parquet import load_table

        docs = load_table(self.spark, self.inputs.path, "documents")
        cands = dedup.minhash_candidate_pairs(docs).count()
        verified = dedup.minhash_near_dups(docs).count()
        return {
            "dedup.candidates": cands,
            "dedup.verified_pairs": verified,
            "dedup.verify_yield": verified / cands if cands else 0.0,
        }


class IndexLifecycle(Workload):
    """Writes beside reads on a persisted IVF-PQ index."""

    name = "index_lifecycle"

    def prepare(self, cache_dir, seed):
        def build(d):
            import numpy as np

            emb = os.path.join(d, "embeddings.parquet")
            gen.embeddings(emb, seed, LIFE_VECS)
            col = pq.read_table(emb, columns=["embedding"]).column(0)
            vecs = np.asarray(col.to_pylist(), dtype=np.float32)
            np.save(os.path.join(d, "reference_vectors.npy"), vecs)
            queries = list(range(0, LIFE_VECS, LIFE_VECS // LIFE_QUERIES))
            topk = ref.exact_topk(vecs, queries)
            return {"queries": queries, "topk": {str(q): ids for q, ids in topk.items()}}

        import numpy as np

        inputs = _cached(cache_dir, f"life-s{seed}-v{LIFE_VECS}-q{LIFE_QUERIES}", build)
        self.vecs = np.load(os.path.join(inputs.path, "reference_vectors.npy"))
        return inputs

    def start(self, spark, inputs, work_dir):
        super().start(spark, inputs, work_dir)
        self.recalls: list[float] = []
        self.writes: dict[str, tuple[int, int]] = {}

    def _write_op(self, name: str, call, expect_rows: int) -> Op:
        def run():
            t0 = time.time()
            call()
            self.writes[name] = _tree_bytes(self.ivfpq, since=t0 - 1)
            return self.ivfpq

        def check(_):
            codes = pads.dataset(os.path.join(self.ivfpq, "codes"), format="parquet", partitioning="hive")
            return codes.count_rows() == expect_rows

        return Op(name, run, check)

    def _check_topk(self, rows) -> bool:
        """Every query answered with at most 10 distinct neighbours whose
        cosines are exact, and recall@10 against the exact top-10 above
        the floor."""
        expected = self.inputs.ref["topk"]
        got: dict[int, set[int]] = {}
        for r in rows:
            if abs(r["cosine"] - ref.cosine(self.vecs, r["qid"], r["vec_id"])) > 1e-5:
                return False
            got.setdefault(r["qid"], set()).add(r["vec_id"])
        if sorted(got) != sorted(int(q) for q in expected) or len(rows) > 10 * len(got):
            return False
        hits = sum(len(got[int(q)] & set(ids)) for q, ids in expected.items())
        self.recalls.append(hits / (10 * len(expected)))
        return self.recalls[-1] >= MIN_ANN_RECALL

    def ops(self, pass_no):
        from pyspark.sql import functions as F

        from mapreduce_itwiki_spark.operators import similarity

        spark, split = self.spark, 3 * LIFE_VECS // 4
        self.ivfpq = ivfpq = os.path.join(self.work, f"life{pass_no}", "ivfpq")

        # every verb reads its input anew, as an independent caller would
        def emb():
            return spark.read.parquet(os.path.join(self.inputs.path, "embeddings.parquet"))

        def queries():
            return spark.createDataFrame([(q,) for q in self.inputs.ref["queries"]], "qid long")

        return [
            self._write_op(
                "ivfpq_index_write",
                lambda: similarity.ivfpq_index_write(emb().filter(F.col("vec_id") < split), ivfpq),
                split,
            ),
            self._write_op(
                "ivfpq_index_append",
                lambda: similarity.ivfpq_index_append(spark, ivfpq, emb().filter(F.col("vec_id") >= split)),
                LIFE_VECS,
            ),
            Op(
                "ivfpq_index_batch_topk",
                lambda: similarity.ivfpq_index_batch_topk(spark, ivfpq, emb(), queries()).collect(),
                self._check_topk,
            ),
            self._write_op(
                "ivfpq_index_retrain",
                lambda: similarity.ivfpq_index_retrain(spark, ivfpq, emb()),
                LIFE_VECS,
            ),
        ]

    def stored_bytes(self):
        return _tree_bytes(self.ivfpq)[1]

    def layers(self):
        out = {"ivfpq.recall_at_10": self.recalls[-1]}
        for verb, (files, size) in self.writes.items():
            out[f"{verb}.files_written"] = files
            out[f"{verb}.bytes_written"] = size
        return out


WORKLOADS = {w.name: w for w in (WikiLinkcount, CatalogOverhead, IndexLifecycle)}
