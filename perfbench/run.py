#!/usr/bin/env python3
"""Benchmark of the pipeline CLI and the query registry.

Run from the repository root:

    python3 perfbench/run.py --workload pedidos_cron --seed 1 --seconds 10 --trace 0

Workloads (each a closed loop with one client, in a fresh JVM running
``local[<cores>]``):

* ``pedidos_cron`` -- per tick, ingest -> load -> upsert -> archive of a
  seeded landing batch into a seeded warehouse (``pedidos.py``);
* ``query_mix`` -- per pass, six registry queries and ``curate`` over
  seeded tables and a planted-duplicate corpus (``query_mix.py``).

The end-to-end metrics come from the first cycle of the run, the one a
cron invocation of the CLI pays for: a fresh JVM, no warm-up.  Cycles
that start within ``--seconds`` of the first are run and reported in
the report line only.  (A run on a 4-core host has room for one cycle:
a cold tick or pass takes 30-50 s there, a JVM start about 8 s.)

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.  The line before it is a
report with every number the run measured.

End-to-end metrics (``--trace 0``).  Times are CPU seconds of the
process tree (this process, the JVM and its Python workers): on a
shared VM, the wall time of one cycle swings by a fifth with the
neighbours' CPU steal, its CPU time by a tenth of that.  The wall-clock
figures (``cycle_s``, ``freshness_s``, ``rows_per_s``,
``op_latency_p50_s``, ``docs_per_s``, ``setup_wall_s``, per-stage and
per-op times) and the JVM's peak RSS are in the report line.

* ``setup_s`` -- process start to inputs in place: interpreter, imports,
  JVM and session start, copying the seeded inputs into a fresh run
  directory.  Generating the seeded inputs is not counted: they are
  built once per seed and cached.
* ``cycle_cpu_s`` -- the cycle: a full tick, or a pass.
* ``result_cpu_s`` -- per tick, ingest start to warehouse swap done
  (freshness); per pass, the median query or curate call (composition
  plus action).
* ``items_per_cpu_s`` -- landed rows per CPU second of the tick, or curate
  input documents per CPU second of curate.
* ``write_amp`` -- bytes of files created under the warehouse per byte
  of CSV landed; for query_mix, bytes curate writes per byte of corpus
  read.

Correctness, after the measured cycles: pedidos_cron checks the
warehouse and the file routing; query_mix checks each result the first
pass wrote against its DuckDB oracle, and curate's counts.  Failed operations and failed checks are counted in
``failed`` (``error_rate`` = failed / attempted in the report).

``--trace 1`` traces every cycle and reports the per-layer metrics: self
times, call counts and Spark counters per layer, per cycle.  The tracing
overhead is ``trace.cycle_cpu_s`` of the traced run minus
``cycle_cpu_s`` of an untraced run with the same seed;
``trace.collect_s`` is the part spent reading Spark's status store.
Spans are written to ``.perfbench_work/spans.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pedidos import PedidosCron  # noqa: E402
from query_mix import QueryMix  # noqa: E402
from spans import CpuClock, Tracer  # noqa: E402

WORKLOADS = {"pedidos_cron": PedidosCron, "query_mix": QueryMix}
JVM_MEM_MB = 2048

E2E = {"setup_s": "s", "cycle_cpu_s": "s", "result_cpu_s": "s",
       "items_per_cpu_s": "1/s", "write_amp": "ratio"}


def per_layer_names() -> list[str]:
    """Every per-layer metric, in a fixed order (all workloads report
    all of them; a layer a workload never calls reads 0)."""
    from query_mix import QUERIES

    names = ["session.start_s", "jvm.peak_rss_mb", "spark.spill_bytes",
             "spark.peak_exec_mem_bytes", "trace.cycle_s",
             "trace.cycle_cpu_s", "trace.collect_s"]
    names += [
        "io.sources.ingest_s", "io.sources.files_fetched",
        "io.csv_robust.plan_s", "io.csv_robust.scan_groups",
        "io.csv_robust.files_rejected", "io.stage.load_s", "io.stage.jobs",
        "io.stage.task_s", "operators.clean.self_s",
        "operators.clean.task_s", "operators.dedup.self_s",
        "operators.dedup.shuffle_write_bytes", "operators.merge.self_s",
        "operators.merge.shuffle_write_bytes",
        "operators.merge.useful_write_ratio", "io.sinks.swap_s",
        "io.sinks.bytes_written", "operators.archive.move_s",
        "operators.archive.bytes_written", "operators.archive.jobs",
    ]
    for q in QUERIES:
        names += [f"queries.{q}.{m}"
                  for m in ("compose_s", "exec_s", "task_s", "shuffle_bytes")]
    names += ["curate.s", "ext.textstats.gate_s", "ext.dedup.cluster_s",
              "ext.dedup.candidate_pairs", "ext.dedup.verified_pairs",
              "ext.dedup.verify_yield"]
    return names


def host_env(root: str, work: str) -> None:
    """Fit the session to the host's cores and memory, and keep the
    run's files inside ``work`` (``work`` is empty on entry)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = next(int(line.split()[1]) // 1024 for line in f
                        if line.startswith("MemTotal:"))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = (
        f"{min(JVM_MEM_MB, total_mb // 3)}m")
    # Python UDF workers import the program too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    # temp files of this process, the JVM and the workers stay in the run
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_SUBMIT_OPTS"),
                    f"-Djava.io.tmpdir={tmp}") if p)


def start_session():
    from sftp_data_ingestion_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def jvm_peak_rss_mb(spark) -> float:
    with open(f"/proc/{jvm_pid(spark)}/status") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("VmHWM:"))
    return kb / 1024.0


def stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # the JVM must not outlive us
            proc.kill()
            proc.wait()


def run(args, root: str) -> tuple[dict, dict]:
    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host_env(root, work)
    sys.path.insert(0, root)
    wl = WORKLOADS[args.workload](
        args.seed, work, os.path.join(root, ".perfbench_cache"))

    t = time.perf_counter()
    spark = start_session()
    session_s = time.perf_counter() - t
    clock = CpuClock(jvm_pid(spark))
    t, c = time.perf_counter(), clock()
    wl.prepare_inputs(spark)
    gen_s, gen_cpu_s = time.perf_counter() - t, clock() - c
    wl.reset_dirs()
    setup_s = time.perf_counter() - T_START - gen_s
    setup_cpu_s = clock() - gen_cpu_s

    tracer = Tracer(spark, trace_run=bool(args.trace), cpu_clock=clock)
    undo = wl.instrument(tracer) if args.trace else []
    summary = wl.measure(spark, tracer, args.seconds)
    for u in undo:
        u()
    failures = wl.check(spark)
    peak_rss = jvm_peak_rss_mb(spark)
    if args.trace:
        layers = wl.layers(tracer)
        counted = [s for s in tracer.spans if s.traced and s.counters]
        n = summary["cycles"]
        layers.update({
            "session.start_s": session_s,
            "spark.spill_bytes": sum(
                s.counters.get("spill_bytes", 0) for s in counted) / n,
            "spark.peak_exec_mem_bytes": max(
                [s.counters.get("peak_exec_mem_bytes", 0) for s in counted]
                or [0]),
            "jvm.peak_rss_mb": peak_rss,
            "trace.cycle_s": summary["cycle_s"],
            "trace.cycle_cpu_s": summary["cycle_cpu_s"],
            "trace.collect_s": tracer.collect_s / n,
        })
        tracer.dump(os.path.join(work, "spans.json"))
    stop_jvm(spark)

    attempted = summary["ops"] + wl.n_checks
    failed = summary["failed_ops"] + len(failures)
    report = {
        "workload": args.workload, "seed": args.seed,
        "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "jvm_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "setup_wall_s": setup_s, "input_gen_s": gen_s,
        "peak_rss_mb": peak_rss, "error_rate": failed / attempted,
        "failures": failures[:20],
        **{k: v for k, v in summary.items() if k not in ("ops",)},
    }
    metrics = {"setup_s": setup_cpu_s,
               **{k: summary[k] for k in E2E if k in summary}}
    if args.trace:
        metrics = {n: layers.get(n, 0) for n in per_layer_names()}
        units = {n: _layer_unit(n) for n in metrics}
    else:
        units = E2E
    result = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }
    return report, result


def _layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("_ratio", "_yield")):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(
            os.path.join(root, "sftp_data_ingestion_spark", "cli.py")):
        print("perfbench: run from the repository root (the program "
              "package sftp_data_ingestion_spark/ is not here)",
              file=sys.stderr)
        return 2
    report, result = run(args, root)
    work = os.path.join(root, ".perfbench_work")
    for name in os.listdir(work):
        if name != "spans.json":
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    print(json.dumps(report, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
