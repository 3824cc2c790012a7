"""query_mix: registry queries and ``curate``, one closed-loop client.

One pass runs every op in ``OPS`` once, always in that order: in the
first pass of a fresh JVM the earliest ops pay most of the JIT warm-up,
so an order drawn from the seed would make per-op figures depend on the
seed rather than on the program.  The seed varies the data.  A registry
query is timed in two parts: composition
(``queries.QUERIES[name](spark, dir)``, which includes any eager
work the query does while it is built) and the action, which writes the
result to parquet.
``curate`` is ``cli.cmd_curate`` on the planted-duplicate corpus, output
written to parquet as the CLI does.

After the timed passes, the check reads what the first pass wrote: each
query's result is compared with its DuckDB oracle by ``EXCEPT ALL`` both
ways, and the curate counts are checked against the planted copies.
(Writing the results, rather than a noop sink and a second, checked
pass, keeps a run within its time budget.)

The traced run adds, per pass and outside the op timings, the curate
decomposition: the quality gate, the near-dup clustering, and the LSH
candidate pairs against the Jaccard-verified pairs.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import time

from gen import write_documents, write_fixture_tables

SF = 0.02
CURATE_DOCS = 1200
EXACT_SHARE = 0.05
NEAR_SHARE = 0.10
MIN_QUALITY = 0.6
JACCARD = 0.5
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

QUERIES = (
    "u1_upsert_newer_wins", "w1_latest_event_per_user",
    "j_revenue_by_nation", "d_exact_dedup_survivors",
    "z4_sparse_tfidf_topk", "v_cosine_topk_bruteforce",
)
CURATE = "cli.curate"
OPS = QUERIES + (CURATE,)


def _bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(root) for n in names)


class QueryMix:
    n_checks = len(OPS)

    def __init__(self, seed: int, work: str, cache: str):
        self.seed = seed
        self.work = work
        self.cache = os.path.join(cache, f"tables-{seed}-{SF}-{CURATE_DOCS}")
        self.tables = os.path.join(work, "run", "tables")
        self.corpus = os.path.join(work, "run", "corpus.parquet")
        self.planted: dict = {}

    # -- set-up -----------------------------------------------------------
    def prepare_inputs(self, spark) -> None:
        """Seeded tables and corpus: built once per seed into the cache."""
        done = os.path.join(self.cache, "_done")
        write = not os.path.exists(done)
        if write:
            shutil.rmtree(self.cache, ignore_errors=True)
            write_fixture_tables(os.path.join(self.cache, "tables"),
                                 self.seed, SF)
        self.planted = write_documents(
            os.path.join(self.cache, "corpus.parquet"), self.seed,
            CURATE_DOCS, EXACT_SHARE, NEAR_SHARE, write=write)
        open(done, "w").close()

    def reset_dirs(self) -> None:
        root = os.path.join(self.work, "run")
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(os.path.join(self.cache, "tables"), self.tables)
        shutil.copy(os.path.join(self.cache, "corpus.parquet"), self.corpus)

    # -- one op -----------------------------------------------------------
    def sink(self, name: str) -> str:
        return os.path.join(self.work, "run", "out", name)

    def run_op(self, spark, tracer, name: str):
        """Run one op, writing its result to ``self.sink(name)``.
        Returns curate's result dict, or the query's column names."""
        from sftp_data_ingestion_spark import cli
        from sftp_data_ingestion_spark.queries import QUERIES as REGISTRY

        if name == CURATE:
            args = argparse.Namespace(
                documents=self.corpus, output=self.sink(name),
                id_col="doc_id", text_col="text", min_quality=MIN_QUALITY,
                jaccard=JACCARD)
            with tracer.span(CURATE, counters=True, cpu=True):
                return cli.cmd_curate(spark, args)
        with tracer.span(f"q.{name}", counters=True, cpu=True):
            with tracer.span(f"q.{name}.compose"):
                df = REGISTRY[name](spark, self.tables)
            with tracer.span(f"q.{name}.exec"):
                df.write.mode("overwrite").parquet(self.sink(name))
        return df.columns

    # -- measurement ------------------------------------------------------
    def measure(self, spark, tracer, seconds: float) -> dict:
        passes = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < seconds:
            tracer.begin_cycle(len(passes))
            ops, errors = {}, []
            for name in OPS:
                try:
                    res = self.run_op(spark, tracer, name)
                except Exception as exc:  # counted as a failed op
                    errors.append(f"{name}: {exc!r}"[:300])
                    res = None
                span = next(s for s in reversed(tracer.spans)
                            if s.name in (CURATE, f"q.{name}"))
                ops[name] = (span.seconds, span.cpu_seconds, res)
                if tracer.enabled and name == CURATE:
                    self._decompose(spark, tracer)
            passes.append({"ops": ops, "errors": errors,
                           "pass_s": sum(v[0] for v in ops.values()),
                           "pass_cpu_s": sum(v[1] for v in ops.values()),
                           "written": _bytes(self.sink(CURATE))})
        tracer.end_cycles()
        self.passes = passes
        first = passes[0]
        curate_s, curate_cpu_s, res = first["ops"][CURATE]
        docs = res["docs_in"] if res else 0
        return {
            "cycles": len(passes),
            "cycle_s": first["pass_s"],
            "cycle_cpu_s": first["pass_cpu_s"],
            "result_cpu_s": statistics.median(
                v[1] for v in first["ops"].values()),
            "items_per_cpu_s": docs / curate_cpu_s,
            "op_latency_p50_s": statistics.median(
                v[0] for v in first["ops"].values()),
            "docs_per_s": docs / curate_s,
            "write_amp": first["written"] / os.path.getsize(self.corpus),
            "op_s": {name: v[0] for name, v in first["ops"].items()},
            "op_cpu_s": {name: v[1] for name, v in first["ops"].items()},
            "later_cycles_s": [p["pass_s"] for p in passes[1:]],
            "ops": len(OPS) * len(passes),
            "op_errors": [e for p in passes for e in p["errors"]],
            "failed_ops": sum(len(p["errors"]) for p in passes),
        }

    # -- correctness ------------------------------------------------------
    def check(self, spark) -> list[str]:
        """Checks the results the first pass wrote (an op that failed
        is already counted); returns the failed checks."""
        failures = []
        for name, (_, _, res) in self.passes[0]["ops"].items():
            if res is None:
                continue
            if name == CURATE:
                failures += self._check_curate(spark, res, self.sink(name))
            else:
                failures += self._check_query(name, res, self.sink(name))
        return failures

    def _check_query(self, name: str, cols: list[str], sink: str) -> list[str]:
        import duckdb

        from sftp_data_ingestion_spark.queries import ORACLES

        oracle = ORACLES.get(name)
        if oracle is None:
            return [f"{name}: no oracle"]
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.tables}/{t}.parquet')")
            ocols = [d[0] for d in
                     con.execute(f"SELECT * FROM ({oracle}) LIMIT 0")
                     .description]
            if sorted(ocols) != sorted(cols):
                return [f"{name}: columns {sorted(cols)} != oracle "
                        f"{sorted(ocols)}"]
            sel = ", ".join(f'"{c}"' for c in sorted(cols))
            got = f"SELECT {sel} FROM read_parquet('{sink}/*.parquet')"
            want = f"SELECT {sel} FROM ({oracle})"
            n_got, n_want, extra, missing = con.execute(
                f"SELECT (SELECT count(*) FROM ({got})), "
                f"(SELECT count(*) FROM ({want})), "
                f"(SELECT count(*) FROM ({got} EXCEPT ALL {want})), "
                f"(SELECT count(*) FROM ({want} EXCEPT ALL {got}))"
            ).fetchone()
        finally:
            con.close()
        if n_got != n_want or extra or missing:
            return [f"{name}: {n_got} rows vs oracle {n_want}; {extra} "
                    f"unexpected, {missing} missing"]
        return []

    def _check_curate(self, spark, res: dict, out: str) -> list[str]:
        failures = []
        dropped = res["dropped_low_quality"] + res["dropped_near_dup"]
        if res["docs_in"] != dropped + res["docs_out"]:
            failures.append(f"curate: docs_in {res['docs_in']} != dropped "
                            f"{dropped} + out {res['docs_out']}")
        kept = {r[0] for r in
                spark.read.parquet(out).select("doc_id").collect()}
        leaked = sorted(kept & set(self.planted["exact_copies"]))
        if leaked:
            failures.append(f"curate: {len(leaked)} planted exact copies "
                            f"kept, e.g. {leaked[:3]}")
        return failures

    # -- traced numbers ---------------------------------------------------
    def instrument(self, tracer) -> list:
        return []

    def _decompose(self, spark, tracer) -> None:
        """Traced run only: the curate stages one by one."""
        from pyspark.sql import functions as F

        from sftp_data_ingestion_spark.ext import dedup as dd
        from sftp_data_ingestion_spark.ext import textstats as ts

        docs = spark.read.parquet(self.corpus)
        kept = docs.where(ts.quality_score(F.col("text")) >= MIN_QUALITY)
        with tracer.span("ext.textstats.gate", counters=True):
            kept.count()
        with tracer.span("ext.dedup.cluster", counters=True):
            dd.neardup_clusters(kept, threshold=JACCARD).write.format(
                "noop").mode("overwrite").save()
        with tracer.span("ext.dedup.pairs") as sp:
            signed = dd.minhash_signatures(kept)
            cands = dd.lsh_candidate_pairs(signed).localCheckpoint()
            sp.counters = {
                "candidates": cands.count(),
                "verified": dd.jaccard_verify(
                    cands, kept, threshold=JACCARD).count(),
            }

    def layers(self, tracer) -> dict:
        n = len(self.passes)
        out = {}
        for q in QUERIES:
            out[f"queries.{q}.compose_s"] = tracer.total(
                f"q.{q}.compose") / n
            out[f"queries.{q}.exec_s"] = tracer.total(f"q.{q}.exec") / n
            out[f"queries.{q}.task_s"] = tracer.total(f"q.{q}", "task_s") / n
            out[f"queries.{q}.shuffle_bytes"] = tracer.total(
                f"q.{q}", "shuffle_write_bytes") / n
        pairs = [s.counters for s in tracer.traced("ext.dedup.pairs")]
        cands = sum(p["candidates"] for p in pairs)
        verified = sum(p["verified"] for p in pairs)
        out.update({
            "curate.s": tracer.total(CURATE) / n,
            "ext.textstats.gate_s": tracer.total("ext.textstats.gate") / n,
            "ext.dedup.cluster_s": tracer.total("ext.dedup.cluster") / n,
            "ext.dedup.candidate_pairs": cands / n,
            "ext.dedup.verified_pairs": verified / n,
            "ext.dedup.verify_yield": verified / max(cands, 1),
        })
        return out
