#!/usr/bin/env python
"""Round-7 recall sweeps (VERDICT r6 ask #7): hard_negative_mining and
mutual_nn_pairs on the ANN path, measured against EXACT truth at
50k-500k rows — the same evidence discipline as RECALL.md's IVF/PQ/BQ
tables (the r6 additions gated only on small synthetic separated classes).

Truth protocol: at every size, 500 sampled anchors get exact integer
micro-unit L2² neighbors via a broadcast expression join over the FULL
corpus (2.5e8 pair distances at 500k — exact by construction, no
overfetch heuristics). Metrics:

- hard negatives: mean recall@5 of the ann path's different-label top-5
  vs the exact different-label top-5, per sampled anchor.
- mutual NN: top-1 agreement (ann argmin == exact argmin) per sampled
  anchor, plus — at 50k where the full exact pair set is computable —
  precision/recall of the ann MUTUAL PAIR SET vs the exact one.

Corpus: deterministic hash-derived clustered embeddings (16 labels,
d=64, cluster separation ~2 vs noise ±0.5), no RNG on executors.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers inherit PYTHONPATH when the session starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from pyspark.sql import functions as F

from pyrope_spark.session import get_spark

D = 64
N_LABELS = 16
N_ANCHORS = 500
K = 5


def synth(spark, n):
    # INTERLEAVED clusters (center displacement well inside the noise
    # ball): hard negatives only exist where classes mix — fully separated
    # clusters have no different-label points among anyone's near
    # neighbors, the 20-candidate overfetch never sees one, and the
    # operator correctly returns (almost) nothing, which measures as
    # recall 0 against the always-defined exact diff-label top-5 (first
    # r7 sweep attempt, kept as the documented negative control)
    coord = []
    for j in range(D):
        center = ((F.abs(F.xxhash64(F.col("label"), F.lit(j + 1))) % 9) - 4) * 0.05
        noise = (
            ((F.abs(F.xxhash64("vec_id", F.lit(j + 101))) % 2001) - 1000)
            / 1000.0
            * 0.5
        )
        coord.append((center + noise).cast("float"))
    return (
        spark.range(n)
        .select(
            F.col("id").alias("vec_id"),
            (F.col("id") % N_LABELS).cast("long").alias("label"),
        )
        .withColumn("embedding", F.array(*coord))
    )


def micro(df, vec="embedding"):
    return F.transform(
        F.col(vec), lambda x: F.round(x.cast("double") * 1_000_000).cast("long")
    )


def exact_truth(emb, anchors, *, diff_label: bool, k: int):
    """Exact (d2, nid)-ordered top-k over the full corpus for the anchor
    sample via a broadcast expression join — integer micro-unit L2²,
    identical total order to the operators'."""
    corpus = emb.select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nlbl"),
        micro(emb).alias("nvm"),
    )
    a = anchors.select(
        F.col("vec_id").alias("id"), F.col("label").alias("lbl"),
        micro(anchors).alias("vm"),
    )
    pairs = corpus.join(F.broadcast(a), F.col("id") != F.col("nid"))
    if diff_label:
        pairs = pairs.filter(F.col("lbl") != F.col("nlbl"))
    d2 = F.aggregate(
        F.zip_with(F.col("vm"), F.col("nvm"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    from pyspark.sql import Window as W

    return (
        pairs.select("id", "nid", d2.alias("d2"))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("id").orderBy(F.col("d2").asc(), F.col("nid").asc())
            ),
        )
        .filter(F.col("rk") <= k)
        .select("id", "nid", "rk")
    )


def main() -> None:
    spark = get_spark("recall_sweep_r7", cores=32, shuffle_partitions=64)
    from pyrope_spark.operators.similarity import (
        hard_negative_mining,
        mutual_nn_pairs,
    )

    for n in (50_000, 200_000, 500_000):
        emb = synth(spark, n).cache()
        emb.count()
        anchors = emb.filter(
            F.col("vec_id") % (n // N_ANCHORS) == 0
        ).cache()
        n_anchor = anchors.count()

        # ---- hard negatives: ann vs exact diff-label top-5, at the
        # facade default nprobe and at the retuned nprobe ~ nlist/11
        truth = exact_truth(emb, anchors, diff_label=True, k=K).cache()
        truth.count()
        nlist = max(8, int(n ** 0.5))
        for nprobe in (16, max(16, nlist // 11)):
            t0 = time.time()
            hnm = hard_negative_mining(
                emb, k=K, mode="ann", nprobe=nprobe
            ).cache()
            n_hnm = hnm.count()
            t_hnm = time.time() - t0
            got = hnm.select(
                F.col("vec_id").alias("id"), F.col("neg_id").alias("nid")
            )
            inter = truth.join(got, ["id", "nid"]).groupBy("id").count()
            rec = (
                truth.select("id").distinct()
                .join(inter, "id", "left")
                .agg(
                    (F.sum(F.coalesce(F.col("count"), F.lit(0)))
                     / (n_anchor * K)).alias("r")
                )
                .collect()[0]["r"]
            )
            print(f"[sweep] hnm n={n} nprobe={nprobe} anchors={n_anchor} "
                  f"rows={n_hnm} wall={t_hnm:.1f}s recall@{K}={rec:.3f}")
            hnm.unpersist()
        truth.unpersist()

        # ---- mutual NN: ann top-1 agreement vs exact argmin, default and
        # retuned nprobe
        from pyrope_spark.operators.similarity import (
            _label_noise_candidates_ann,
        )
        from pyspark.sql import Window as W

        truth1 = exact_truth(emb, anchors, diff_label=False, k=1).cache()
        truth1.count()
        for nprobe in (16, max(16, nlist // 11)):
            t0 = time.time()
            mnn = mutual_nn_pairs(emb, mode="ann", nprobe=nprobe).cache()
            n_pairs = mnn.count()
            t_mnn = time.time() - t0
            # reconstruct the ann path's per-id argmin exactly as the
            # operator computes it (candidates -> (d2, nid) argmin)
            cands = _label_noise_candidates_ann(
                emb.withColumn("_const_lbl", F.lit(0)),
                "embedding", "_const_lbl", "vec_id", 1,
                n_rows=n, nlist=None, nprobe=nprobe,
            )
            nn1 = (
                cands.withColumn(
                    "rk",
                    F.row_number().over(
                        W.partitionBy("id").orderBy(
                            F.col("d2").asc(), F.col("nid").asc()
                        )
                    ),
                )
                .filter(F.col("rk") == 1)
                .select("id", F.col("nid").alias("ann_nid"))
            )
            agree = (
                truth1.join(nn1, "id")
                .agg(
                    F.avg((F.col("nid") == F.col("ann_nid")).cast("double"))
                    .alias("a"),
                    F.count("*").alias("n"),
                )
                .collect()[0]
            )
            line = (f"[sweep] mnn n={n} nprobe={nprobe} pairs={n_pairs} "
                    f"wall={t_mnn:.1f}s top1_agree={agree['a']:.3f} "
                    f"covered={agree['n']}/{n_anchor}")
            if n <= 50_000:
                exact_pairs = mutual_nn_pairs(emb, mode="arrow").select(
                    "u", "w"
                )
                ann_pairs = mnn.select("u", "w")
                tp = exact_pairs.join(ann_pairs, ["u", "w"]).count()
                ne, na = exact_pairs.count(), ann_pairs.count()
                line += (f" pair_precision={tp / na:.3f} "
                         f"pair_recall={tp / ne:.3f} (exact={ne} ann={na})")
            print(line)
            mnn.unpersist()
        truth1.unpersist()
        emb.unpersist()
        anchors.unpersist()


if __name__ == "__main__":
    main()
