#!/usr/bin/env python
"""Flat-vs-arrow centroid-assignment crossover probe (r13).

Measures every assignment kernel (``_kmeans_assign``,
``_coarse_assign_expr``, ``kmeans_assign_arrow``,
``coarse_assign_arrow``) on the SAME pre-trained centroids at
a ladder of k values, on sf0.1 and (when present) the scale_probe.py
derivation dir — the evidence behind similarity._ARROW_K_CROSSOVER and
the ``_use_arrow`` dispatch: below the crossover the literal-expression argmax
wins (no Python worker round-trip), above it the O(k x dim) literal
tree costs more in plan/codegen than the Arrow batch transfer, and at
k ~ n it stops being a slowdown and becomes a plan-size blow-up.

Probe discipline (PERFORMANCE.md): rounds are INTERLEAVED across all
(k, engine) cells, per-cell result is the min over the warm rounds
(cold round 0 discarded), and the host-throughput calibration anchor
runs before and after. Expression engines are capped at k <= 512 (the
literal plan's compose+codegen alone dominates beyond that — which is
the finding, not an artifact).

    python scripts/kmeans_assign_probe.py
    SPARK_GRAFT_PROBE_REUSE=1 python scripts/kmeans_assign_probe.py  # + big dir
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from sftp_data_ingestion_spark.ext import similarity as sim  # noqa: E402
from sftp_data_ingestion_spark.queries.q_similarity import (  # noqa: E402
    _planted_corpus,
)
from sftp_data_ingestion_spark.session import get_spark  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = int(os.environ.get("SPARK_GRAFT_PROBE_COPIES", "10"))
BIG = f"/tmp/spark_graft_sf{COPIES}x"
KS = [int(x) for x in os.environ.get(
    "SPARK_GRAFT_ASSIGN_KS", "32,128,512,2048"
).split(",")]
ROUNDS = int(os.environ.get("SPARK_GRAFT_ASSIGN_ROUNDS", "4"))
EXPR_K_CAP = int(os.environ.get("SPARK_GRAFT_ASSIGN_EXPR_CAP", "512"))


def _engines(corpus, cents):
    k = len(cents)
    g = max(1, math.isqrt(k))
    cells = {
        "flat_arrow": lambda: sim.kmeans_assign_arrow(corpus, cents),
        "coarse_arrow": lambda: sim.coarse_assign_arrow(
            corpus, cents, n_groups=g, nprobe=2
        ),
    }
    if k <= EXPR_K_CAP:
        cells["flat_expr"] = lambda: sim._kmeans_assign(
            corpus, cents, "embedding", "vec_id", 6
        ).select("id", "cluster_id", "score")
        cells["coarse_expr"] = lambda: sim._coarse_assign_expr(
            corpus, cents, "embedding", "vec_id", 6, g, 2
        )
    return cells


def probe(spark, sf_dir):
    corpus = _planted_corpus(spark, sf_dir).localCheckpoint()
    n = corpus.count()
    # one centroid set per k, shared by every engine (train under
    # arrow at every k by dropping the crossover to 0: the training
    # kernel is not what this probe measures)
    crossover = sim._ARROW_K_CROSSOVER
    sim._ARROW_K_CROSSOVER = 0
    try:
        trained = {
            k: sim.kmeans_train(corpus, k=k, n_iters=1) for k in KS
        }
    finally:
        sim._ARROW_K_CROSSOVER = crossover
    cells = {
        (k, name): fn
        for k in KS
        for name, fn in _engines(corpus, trained[k]).items()
    }
    best: dict[tuple[int, str], float] = {}
    for rnd in range(ROUNDS):
        for key, fn in cells.items():
            t0 = time.time()
            fn().write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            if rnd > 0:  # round 0 = JIT/broadcast warmup, discarded
                best[key] = min(best.get(key, float("inf")), dt)
    out: dict[str, dict] = {"n": n}
    for k in KS:
        out[str(k)] = {
            name: round(best[(k, name)], 3)
            for name in _engines(corpus, trained[k])
        }
    return out


def main():
    spark = get_spark(app_name="kmeans-assign-probe")
    out = {"calib_pre_s": bench._calibrate(spark), "small": probe(spark, SRC)}
    if os.path.isdir(BIG):
        out["big"] = probe(spark, BIG)
    out["calib_post_s"] = bench._calibrate(spark)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
