#!/usr/bin/env python
"""Decompose d_minhash_lsh_near_dup's wall into its stages (r13
VERDICT #1 measure-first):

  a) minhash_signatures noop (explode + 64 min aggs)
  b) + banding (_banded: repartition + posexplode band hashes)
  c) + candidate self-join + distinct (lsh_candidate_pairs, lazy)
  d) candidate localCheckpoint(eager) alone (the pipeline's eager
     materialization action)
  e) verify stage alone, from pre-checkpointed candidates (semi-join
     prefilter + re-shingle + array_intersect)
  f) the full query as benched (verify_candidates' lazy candidate cut)

Each point is min-of-N warm runs in one JVM, interleaved rounds so
host drift lands evenly. Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from sftp_data_ingestion_spark.ext import dedup as dd
from sftp_data_ingestion_spark.queries.registry import table
from sftp_data_ingestion_spark.session import get_spark

RUNS = int(os.environ.get("SPARK_GRAFT_PROBE_RUNS", "3"))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="minhash-decompose")
    calib = bench._calibrate(spark)
    d = table(spark, sf_dir, "documents")

    def sigs():
        return dd.minhash_signatures(d)

    def banded():
        return dd._banded(sigs(), "doc_id", 64, 16)

    def cands():
        return dd.lsh_candidate_pairs_from_banded(banded())

    stages = {
        "a_signatures": lambda: noop(sigs()),
        "b_banded": lambda: noop(banded()),
        "c_candidates_lazy": lambda: noop(cands()),
        "d_cand_checkpoint": lambda: cands().localCheckpoint(eager=True),
        "f_full": lambda: noop(dd.minhash_near_dup_pairs(d, threshold=0.5)),
    }

    # verify-only: checkpoint once outside the timer, then time the
    # semi-join + verify read repeatedly
    from pyspark.sql import functions as F

    ck = cands().localCheckpoint(eager=True)
    ids = (
        ck.select(F.col("id_a").alias("doc_id"))
        .unionAll(ck.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    pre = d.join(ids, "doc_id", "left_semi")
    stages["e_verify_from_ckpt"] = lambda: noop(
        dd.jaccard_verify(ck, pre, threshold=0.5)
    )

    out = {"calib_s": calib, "runs": RUNS}
    best: dict[str, float] = {k: float("inf") for k in stages}
    for k, fn in stages.items():  # warm pass (codegen/AQE compile)
        spark.sparkContext.setJobDescription(f"warm {k}")
        fn()
    for _ in range(RUNS):  # interleaved timed rounds
        for k, fn in stages.items():
            spark.sparkContext.setJobDescription(k)
            t0 = time.time()
            fn()
            best[k] = min(best[k], time.time() - t0)
    out.update({k: round(v, 3) for k, v in best.items()})
    out["calib_post_s"] = bench._calibrate(spark)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
