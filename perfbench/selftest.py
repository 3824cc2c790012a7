#!/usr/bin/env python3
"""Self-tests of the benchmark's own code.  From the repository root:

    python3 perfbench/selftest.py

1. The generators are deterministic: the same seed gives byte-identical
   files, another seed gives different ones.
2. The pedidos_cron warehouse check catches a wrong warehouse: with one
   key holding an older occurrence than the newer-wins winner, the diff
   must be non-empty; the expected state itself must diff empty.

Exits non-zero when a test fails.
"""

from __future__ import annotations

import filecmp
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen import PedidosGen, write_documents, write_fixture_tables  # noqa: E402

# a stand-in warehouse schema, so the determinism test needs no Spark
FIELDS = [("chave_nfe", "string"), ("data_nfe", "date"),
          ("data_ultima_ocr", "timestamp"), ("data_ultima_ocr_raw", "string"),
          ("valor_nfe", "decimal(15,2)"), ("qtd_volumes", "int"),
          ("status_prazo", "string")]


def generate(out: str, seed: int) -> None:
    g = PedidosGen(seed, dw_rows=2000, tick_rows=300, tick_files=12)
    g.write_dw(os.path.join(out, "dw"), FIELDS)
    for tick in range(2):
        g.write_tick(tick, os.path.join(out, f"tick{tick}"))
    g.write_expected(os.path.join(out, "expected"))
    write_fixture_tables(os.path.join(out, "tables"), seed, 0.001)
    write_documents(os.path.join(out, "corpus.parquet"), seed, 300, 0.05, 0.1)


def tree(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, n), root)
                  for d, _, names in os.walk(root) for n in names)


def same_bytes(a: str, b: str) -> bool:
    files = tree(a)
    return files == tree(b) and all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
        for f in files)


def test_determinism(work: str) -> list[str]:
    a, b, c = (os.path.join(work, x) for x in "abc")
    generate(a, 7)
    generate(b, 7)
    generate(c, 8)
    failures = []
    if not same_bytes(a, b):
        failures.append("same seed gave different files")
    if same_bytes(a, c):
        failures.append("different seeds gave identical files")
    return failures


def test_wrong_dw_detected(work: str) -> list[str]:
    root = os.getcwd()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    sys.path.insert(0, root)
    from pedidos import dw_diff
    from run import start_session, stop_jvm

    g = PedidosGen(3, dw_rows=2000, tick_rows=400, tick_files=10)
    g.write_dw(os.path.join(work, "dw"), FIELDS, write=False)
    before = dict(g.expected)
    g.write_tick(0, os.path.join(work, "tick0"))
    won = next(k for k, v in g.expected.items()
               if k in before and v != before[k])
    wrong = dict(g.expected)
    wrong[won] = before[won]  # the older occurrence wins: a merge bug
    g.write_expected(os.path.join(work, "expected"))
    g.write_expected(os.path.join(work, "wrong"), wrong)
    spark = start_session()
    try:
        exp = os.path.join(work, "expected")
        failures = []
        if dw_diff(spark, exp, exp) != (0, 0):
            failures.append("expected state does not match itself")
        if dw_diff(spark, os.path.join(work, "wrong"), exp) != (1, 1):
            failures.append("warehouse with an older winner not detected")
        return failures
    finally:
        stop_jvm(spark)


def main() -> int:
    work = os.path.join(os.getcwd(), ".perfbench_work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    failed = False
    for test in (test_determinism, test_wrong_dw_detected):
        os.makedirs(work)
        failures = test(work)
        shutil.rmtree(work, ignore_errors=True)
        print(("FAIL " if failures else "PASS ") + test.__name__)
        for f in failures:
            print("    " + f)
        failed |= bool(failures)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
