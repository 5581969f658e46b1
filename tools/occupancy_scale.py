"""Occupancy-geometry scale evidence (VERDICT r8 #1/#4/#6): measure, at
the soak scale factors, (a) the spill trail + the occupancy-aware
band-bits choice vs the uniform count formula, (b) the PROBE_CAP
capped-fraction drop the retuned geometry buys on the ingest path —
via the new SAMPLED probe-coverage mode, with a full-mode A/B at sf5z
for the sampling-speedup claim — and (c) the semdedup cross-shard pair
loss at nlist = auto_nlist(n) vs the module default.

Usage: python tools/occupancy_scale.py SF_DIR OUT_JSON [steps]
  steps ⊆ {trail,probe,semdedup} (default: all)
  e.g. python tools/occupancy_scale.py /root/repo/.scale/sf20z \
      BENCH_occupancy_sf20z.json trail,probe
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from mapreduce_itwiki_spark.operators import index_store  # noqa: E402
from mapreduce_itwiki_spark.operators import similarity as S  # noqa: E402
from mapreduce_itwiki_spark.session import get_spark  # noqa: E402

SAMPLE_MOD_TRAIL = 8  #: 1-in-8 md5 row sample for the sublinear trail
SAMPLE_MOD_QUERIES = 16  #: 1-in-16 md5 query sample for probe coverage


def main() -> None:
    sf_dir, out_json = sys.argv[1], sys.argv[2]
    steps = set((sys.argv[3] if len(sys.argv) > 3 else "trail,probe,semdedup").split(","))
    spark = get_spark()
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = emb.count()
    s = 3 * (n - 1) // 4  # the ingest split every incremental entry uses
    res: dict = {"sf_dir": sf_dir, "n": n, "split": s}

    if "trail" in steps:
        t0 = time.time()
        trail = {
            int(r.band_bits): float(r.spill_fraction)
            for r in S.occupancy_spill_trail(emb).collect()
        }
        t_full = time.time() - t0
        t0 = time.time()
        trail_s = {
            int(r.band_bits): float(r.spill_fraction)
            for r in S.occupancy_spill_trail(
                emb, sample_mod=SAMPLE_MOD_TRAIL
            ).collect()
        }
        t_samp = time.time() - t0
        chosen = S.choose_band_bits_occupancy(emb)
        uniform = S.auto_band_bits(n)
        res["trail"] = {
            "full": trail,
            "sampled_mod8": trail_s,
            "sec_full": round(t_full, 2),
            "sec_sampled": round(t_samp, 2),
            "chosen_bits": chosen,
            "uniform_bits": uniform,
            "spill_at_chosen": trail[chosen],
            "spill_at_uniform": trail.get(
                uniform, trail[min(S.OCCUPANCY_GRID, key=lambda w: abs(w - uniform))]
            ),
            "target": S.OCCUPANCY_TARGET_SPILL,
        }
        print("TRAIL", json.dumps(res["trail"]))

    if "probe" in steps:
        corpus = emb.filter(F.col("vec_id") < s)
        batch = emb.filter(F.col("vec_id") >= s)
        chosen = res.get("trail", {}).get("chosen_bits") or S.choose_band_bits_occupancy(emb)
        uniform = S.auto_band_bits(n)
        res["probe"] = {}
        for tag, bits in (("uniform", uniform), ("occupancy", chosen)):
            path = os.path.join(sf_dir, f".occidx_bb{bits}")
            if not index_store.complete(path, "lsh"):
                shutil.rmtree(path, ignore_errors=True)
                t0 = time.time()
                S.ann_index_write(corpus, path, band_bits=bits)
                build_s = round(time.time() - t0, 2)
            else:
                build_s = None
            t0 = time.time()
            rep = S.probe_coverage_report(
                spark,
                path,
                batch,
                probe_cap=S.PROBE_CAP,
                corpus_max_id=s - 1,
                query_sample_mod=SAMPLE_MOD_QUERIES,
            )
            agg = rep.agg(
                F.count(F.lit(1)).alias("nq"),
                F.round(F.avg("capped_fraction"), 4).alias("mean_capped"),
                F.round(
                    F.avg(F.when(F.col("capped_fraction") > 0, 1).otherwise(0)), 4
                ).alias("frac_queries_capped"),
            ).collect()[0]
            sec_sampled = round(time.time() - t0, 2)
            row = {
                "band_bits": bits,
                "build_sec": build_s,
                "n_queries_sampled": agg.nq,
                "mean_capped_fraction": float(agg.mean_capped),
                "frac_queries_capped": float(agg.frac_queries_capped),
                "probe_cap": S.PROBE_CAP,
                "sec_sampled_mod16": sec_sampled,
            }
            res["probe"][tag] = row
            print("PROBE", tag, json.dumps(row))
        # full-mode A/B at the uniform geometry for the sampling claim
        if "fullprobe" in steps or n <= 150_000:
            path = os.path.join(sf_dir, f".occidx_bb{uniform}")
            t0 = time.time()
            repf = S.probe_coverage_report(
                spark, path, batch, probe_cap=S.PROBE_CAP, corpus_max_id=s - 1
            )
            aggf = repf.agg(
                F.count(F.lit(1)).alias("nq"),
                F.round(F.avg("capped_fraction"), 4).alias("mean_capped"),
            ).collect()[0]
            res["probe"]["uniform_fullmode"] = {
                "n_queries": aggf.nq,
                "mean_capped_fraction": float(aggf.mean_capped),
                "sec_full": round(time.time() - t0, 2),
            }
            print("PROBE full", json.dumps(res["probe"]["uniform_fullmode"]))

    if "semdedup" in steps:
        res["semdedup"] = {}
        for tag, nl in (("default", S.IVF_NLIST), ("auto", S.auto_nlist(n))):
            t0 = time.time()
            keep = S.semdedup_keep(emb, nlist=nl)
            agg = keep.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("n_dropped"),
            ).collect()[0]
            sec = round(time.time() - t0, 2)
            # shard stats: how much of the corpus sits past shard 0 —
            # the cross-shard pair-loss exposure
            cents = S.ivf_centroids(emb, nl, sample_mod=S.TRAIN_SAMPLE_MOD)
            sizes = (
                S.ivf_assign(emb, cents)
                .groupBy("cid")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            sh = sizes.agg(
                F.max("c").alias("max_cell"),
                F.sum(
                    F.greatest(F.col("c") - S.MAX_BUCKET, F.lit(0))
                ).alias("spill_rows"),
            ).collect()[0]
            row = {
                "nlist": nl,
                "n_dropped": int(agg.n_dropped),
                "sec": sec,
                "max_cell": int(sh.max_cell),
                "cross_shard_exposed_rows": int(sh.spill_rows),
            }
            res["semdedup"][tag] = row
            print("SEMDEDUP", tag, json.dumps(row))

    if "recall" in steps:
        # recall@10 single- vs multi-probe for 16 md5-sampled corpus
        # vectors against the occupancy-geometry corpus index — the
        # clustered-corpus recall question asked at the retuned width
        chosen = res.get("trail", {}).get("chosen_bits") or S.choose_band_bits_occupancy(emb)
        path = os.path.join(sf_dir, f".occidx_bb{chosen}")
        corpus = emb.filter(F.col("vec_id") < s)
        if not index_store.complete(path, "lsh"):
            shutil.rmtree(path, ignore_errors=True)
            S.ann_index_write(corpus, path, band_bits=chosen)
        qids = [
            r.vec_id
            for r in corpus.filter(S.sample_coin(F.col("vec_id"), 4096))
            .select("vec_id").limit(16).collect()
        ]
        rows = []
        t0 = time.time()
        for qid in qids:
            exact = {
                r.vec_id
                for r in S.cosine_topk(corpus, query_vec_id=qid, k=10).collect()
            }
            single = {
                r.vec_id
                for r in S.ann_index_topk(
                    spark, path, corpus, query_vec_id=qid, k=10
                ).collect()
            }
            multi = {
                r.vec_id
                for r in S.ann_index_multiprobe_topk(
                    spark, path, corpus, query_vec_id=qid, k=10, radius=1
                ).collect()
            }
            rows.append(
                (qid, len(single & exact) / 10.0, len(multi & exact) / 10.0)
            )
        res["recall"] = {
            "band_bits": chosen,
            "n_queries": len(rows),
            "mean_recall_single": round(sum(r[1] for r in rows) / len(rows), 4),
            "mean_recall_multiprobe": round(
                sum(r[2] for r in rows) / len(rows), 4
            ),
            "sec": round(time.time() - t0, 2),
            "per_query": rows,
        }
        print("RECALL", json.dumps(res["recall"]))

    with open(out_json, "w") as fh:
        json.dump(res, fh, indent=1)
    print("WROTE", out_json)
    spark.stop()


if __name__ == "__main__":
    main()
