"""pedidos_cron: the four cron stages, one closed-loop client.

Each tick lands a seeded batch in the "remote" directory (untimed), then
runs ``cli.cmd_ingest`` -> ``cmd_load`` -> ``cmd_upsert`` ->
``cmd_archive`` against a warehouse seeded with ``DW_ROWS`` keys.  The
next tick starts when the previous one has finished.

Timed per tick: each stage call.  ``freshness`` is ingest + load +
upsert (landing to DW swap done); ``tick`` adds archive.  Between the
stages the benchmark lists the warehouse (untimed) to count the bytes of
files each stage created.

Only the first tick counts in the end-to-end metrics: it runs in the
run's fresh JVM, as each cron invocation of the CLI does.

The traced run adds, per tick and outside the stage timings, the
stage-3 decomposition: ``clean_staging``, ``staging_to_delta`` and
``run_upsert_pipeline`` are each materialized to a noop sink in turn,
so clean, dedup and merge get self times and shuffle bytes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time

from gen import PedidosGen

DW_ROWS = 30_000
TICK_ROWS = 2_000
TICK_FILES = 80


def dw_fields(spark, cache: str) -> list[tuple[str, str]]:
    """The warehouse schema the program writes, read from the program
    once per checkout (the program does not change under a cache)."""
    path = os.path.join(cache, "dw_fields.json")
    if os.path.exists(path):
        with open(path) as f:
            return [tuple(x) for x in json.load(f)]
    from sftp_data_ingestion_spark.operators.clean import clean_staging
    from sftp_data_ingestion_spark.schemas import STG_PEDIDOS

    schema = clean_staging(spark.createDataFrame([], STG_PEDIDOS)).schema
    fields = [(f.name, f.dataType.simpleString()) for f in schema.fields]
    os.makedirs(cache, exist_ok=True)
    with open(path, "w") as f:
        json.dump(fields, f)
    return fields


DW_CHECK_COLS = ["chave_nfe", "data_ultima_ocr", "status_prazo"]


def dw_diff(spark, dw_path: str, expected_path: str) -> tuple[int, int]:
    """(rows in the warehouse not expected, expected rows missing) over
    the newer-wins columns, by ``exceptAll`` both ways."""
    exp = spark.read.parquet(expected_path).select(DW_CHECK_COLS)
    dw = spark.read.parquet(dw_path).select(DW_CHECK_COLS)
    return dw.exceptAll(exp).count(), exp.exceptAll(dw).count()


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


def _created(before: dict[str, int], after: dict[str, int],
             under: str | None = None) -> int:
    return sum(size for p, size in after.items()
               if p not in before and (under is None or p.startswith(under)))


class PedidosCron:
    def __init__(self, seed: int, work: str, cache: str):
        self.seed = seed
        self.work = work
        self.cache_root = cache
        self.cache = os.path.join(cache, f"pedidos-{seed}-{DW_ROWS}")
        self.gen = PedidosGen(seed, DW_ROWS, TICK_ROWS, TICK_FILES)

    # -- set-up -----------------------------------------------------------
    def prepare_inputs(self, spark) -> None:
        """Seeded warehouse: built once per seed into the cache."""
        dw = os.path.join(self.cache, "dw")
        done = os.path.join(self.cache, "_done")
        write = not os.path.exists(done)
        if write:
            shutil.rmtree(self.cache, ignore_errors=True)
        self.gen.write_dw(dw, dw_fields(spark, self.cache_root), write=write)
        if write:
            open(done, "w").close()

    def reset_dirs(self) -> None:
        """A fresh per-run warehouse from the cached seed."""
        root = os.path.join(self.work, "run")
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(os.path.join(root, "remote"))
        shutil.copytree(os.path.join(self.cache, "dw"),
                        os.path.join(root, "wh", "dw"))

    # -- measurement ------------------------------------------------------
    def measure(self, spark, tracer, seconds: float) -> dict:
        ticks = []
        t0 = time.perf_counter()
        while not ticks or time.perf_counter() - t0 < seconds:
            tracer.begin_cycle(len(ticks))
            ticks.append(self._tick(spark, tracer, len(ticks)))
        tracer.end_cycles()
        self.ticks = ticks
        return self._summary(ticks)

    def _tick(self, spark, tracer, tick: int) -> dict:
        from sftp_data_ingestion_spark import cli

        root = os.path.join(self.work, "run")
        remote = os.path.join(root, "remote")
        wh = os.path.join(root, "wh")
        shutil.rmtree(remote)
        facts = self.gen.write_tick(tick, remote)
        args = argparse.Namespace(
            source=remote, landing=os.path.join(root, "novos"),
            warehouse=wh, batch_id=f"tick-{tick}", buckets=None,
        )
        out = {"facts": facts, "stage_s": {}, "stage_cpu_s": {},
               "created": {}, "failed": 0, "results": {}}
        stages = [("ingest", cli.cmd_ingest), ("load", cli.cmd_load),
                  ("upsert", cli.cmd_upsert), ("archive", cli.cmd_archive)]
        before = _files(wh)
        for name, fn in stages:
            if tracer.enabled and name == "upsert":
                self._decompose(spark, tracer, wh)
            try:
                with tracer.span(f"cli.{name}", counters=True,
                                 cpu=True) as sp:
                    out["results"][name] = fn(spark, args)
            except Exception as exc:  # a failed stage is counted, not fatal
                out["failed"] += 1
                out["results"][name] = {"error": repr(exc)}
            out["stage_s"][name] = sp.seconds
            out["stage_cpu_s"][name] = sp.cpu_seconds
            after = _files(wh)
            out["created"][name] = {
                "all": _created(before, after),
                "dw": _created(before, after, os.path.join(wh, "dw") + os.sep),
                "hist": _created(before, after,
                                 os.path.join(wh, "hist") + os.sep),
            }
            before = after
        for kind in ("", "_cpu"):
            s = out[f"stage{kind}_s"]
            out[f"freshness{kind}_s"] = s["ingest"] + s["load"] + s["upsert"]
            out[f"tick{kind}_s"] = out[f"freshness{kind}_s"] + s["archive"]
        return out

    def _decompose(self, spark, tracer, wh: str) -> None:
        """Traced run only: materialize the stage-3 operators in turn."""
        from sftp_data_ingestion_spark.operators.clean import clean_staging
        from sftp_data_ingestion_spark.operators.pipeline import (
            run_upsert_pipeline,
            staging_to_delta,
        )

        staging = spark.read.parquet(os.path.join(wh, "bronze"))
        dw = spark.read.parquet(os.path.join(wh, "dw"))
        steps = [("op.clean", lambda: clean_staging(staging)),
                 ("op.delta", lambda: staging_to_delta(staging)),
                 ("op.upsert", lambda: run_upsert_pipeline(dw, staging))]
        for name, build in steps:
            with tracer.span(name, counters=True):
                build().write.format("noop").mode("overwrite").save()
        with tracer.span("op.useful_rows") as sp:
            new = run_upsert_pipeline(dw, staging)
            sp.counters = {"changed": new.exceptAll(dw).count(),
                           "rewritten": new.count()}

    def _summary(self, ticks: list[dict]) -> dict:
        first = ticks[0]
        rows = first["facts"]["rows_accepted"]
        return {
            "cycles": len(ticks),
            "cycle_s": first["tick_s"],
            "cycle_cpu_s": first["tick_cpu_s"],
            "result_cpu_s": first["freshness_cpu_s"],
            "items_per_cpu_s": rows / first["tick_cpu_s"],
            "freshness_s": first["freshness_s"],
            "rows_per_s": rows / first["tick_s"],
            "write_amp": sum(c["all"] for c in first["created"].values())
            / first["facts"]["bytes"],
            "stage_s": first["stage_s"],
            "stage_cpu_s": first["stage_cpu_s"],
            "later_cycles_s": [t["tick_s"] for t in ticks[1:]],
            "ops": 4 * len(ticks),
            "op_errors": [f"tick {i} {stage}: {r['error']}"[:300]
                          for i, t in enumerate(ticks)
                          for stage, r in t["results"].items()
                          if "error" in r],
            "failed_ops": sum(t["failed"] for t in ticks),
        }

    # -- correctness ------------------------------------------------------
    @property
    def n_checks(self) -> int:
        return 3 + sum(len(t["facts"]["rejected"]) for t in self.ticks)

    def check(self, spark) -> list[str]:
        """Returns the failed checks (empty when all hold)."""
        root = os.path.join(self.work, "run")
        wh = os.path.join(root, "wh")
        failures = []
        exp_dir = os.path.join(root, "expected")
        self.gen.write_expected(exp_dir)
        extra, missing = dw_diff(spark, os.path.join(wh, "dw"), exp_dir)
        if extra or missing:
            failures.append(f"dw: {extra} rows not expected, "
                            f"{missing} expected rows missing")
        accepted = sum(t["facts"]["rows_accepted"] for t in self.ticks)
        hist = spark.read.parquet(os.path.join(wh, "hist")).count()
        if hist != accepted:
            failures.append(f"hist: {hist} rows, accepted files held "
                            f"{accepted}")
        bronze = spark.read.parquet(os.path.join(wh, "bronze"))
        if bronze.limit(1).count():
            failures.append("bronze not empty after archive")
        erros = os.path.join(wh, "erros")
        routed = set(os.listdir(erros)) if os.path.isdir(erros) else set()
        for t in self.ticks:
            for name in t["facts"]["rejected"]:
                if name not in routed:
                    failures.append(f"rejected file {name} not in erros/")
        return failures

    # -- traced numbers ---------------------------------------------------
    def layers(self, tracer) -> dict:
        ticks = self.ticks
        n = len(ticks)

        def per_tick(x: float) -> float:
            return x / n

        def c(name: str, key: str) -> float:
            return tracer.total(name, key)

        useful = [s.counters for s in tracer.spans
                  if s.name == "op.useful_rows"]
        clean_s = tracer.total("op.clean")
        delta_s = tracer.total("op.delta")
        upsert_s = tracer.total("op.upsert")
        return {
            "io.sources.ingest_s": per_tick(tracer.total("cli.ingest")),
            "io.sources.files_fetched": per_tick(sum(
                t["results"]["ingest"].get("fetched", 0) for t in ticks)),
            "io.csv_robust.plan_s": per_tick(tracer.total("csv.plan_file")),
            "io.csv_robust.scan_groups": per_tick(
                tracer.calls["csv.read_csv_robust"]),
            "io.csv_robust.files_rejected": per_tick(
                tracer.calls["csv.rejected"]),
            "io.stage.load_s": per_tick(tracer.total("cli.load")),
            "io.stage.jobs": per_tick(c("cli.load", "jobs")),
            "io.stage.task_s": per_tick(c("cli.load", "task_s")),
            "operators.clean.self_s": per_tick(clean_s),
            "operators.clean.task_s": per_tick(c("op.clean", "task_s")),
            "operators.dedup.self_s": per_tick(delta_s - clean_s),
            "operators.dedup.shuffle_write_bytes": per_tick(
                c("op.delta", "shuffle_write_bytes")
                - c("op.clean", "shuffle_write_bytes")),
            "operators.merge.self_s": per_tick(upsert_s - delta_s),
            "operators.merge.shuffle_write_bytes": per_tick(
                c("op.upsert", "shuffle_write_bytes")
                - c("op.delta", "shuffle_write_bytes")),
            "operators.merge.useful_write_ratio": (
                sum(u["changed"] for u in useful)
                / max(sum(u["rewritten"] for u in useful), 1)),
            "io.sinks.swap_s": per_tick(tracer.total("sinks.swap")),
            "io.sinks.bytes_written": per_tick(sum(
                t["created"]["upsert"]["dw"] for t in ticks)),
            "operators.archive.move_s": per_tick(tracer.total("cli.archive")),
            "operators.archive.bytes_written": per_tick(sum(
                t["created"]["archive"]["hist"] for t in ticks)),
            "operators.archive.jobs": per_tick(c("cli.archive", "jobs")),
        }

    def instrument(self, tracer) -> list:
        """Traced run: spans inside the CLI stages."""
        from sftp_data_ingestion_spark.io import csv_robust, sinks

        def on_plan(plan):
            if not plan.valid:
                tracer.calls["csv.rejected"] += 1

        return [
            tracer.wrap(csv_robust, "plan_file", "csv.plan_file", on_plan),
            tracer.wrap(csv_robust, "read_csv_robust",
                        "csv.read_csv_robust"),
            tracer.wrap(sinks, "atomic_swap_parquet", "sinks.swap"),
        ]
