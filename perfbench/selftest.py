"""Self-test of the benchmark's sink check: one corrupted row is counted.

    python3 perfbench/selftest.py

Drains a small seeded backlog into Derby, checks that the table matches
the reference, then corrupts one stored row in three ways (a changed
LSN, a changed name of the same length, a deleted row) and checks that
the run's check reports exactly one wrong row each time.  Exits 0 when
every expectation holds.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import cdc  # noqa: E402
import harness  # noqa: E402

_T = f"{cdc.DATABASE}.{cdc.TABLE}"
_ROW = f'(SELECT MIN("msg_id") FROM {_T} WHERE "is_deleted" = 0)'


def main() -> int:
    work = harness.prepare_work_dir("selftest")
    backlog = cdc.Backlog.generate(work, seed=7, n_messages=4000, n_files=2)
    spark, _ = harness.start_session("perfbench-selftest")
    results = []
    try:
        backlog.attach(spark)
        backlog.drain_once(spark, harness.Tracer("selftest", enabled=False))
        results.append(("clean table", backlog.wrong_rows(full=True), 0))
        cases = (
            ("lsn changed", f'UPDATE {_T} SET "_lsn" = "_lsn" + 1 WHERE "msg_id" = {_ROW}',
             f'UPDATE {_T} SET "_lsn" = "_lsn" - 1 WHERE "msg_id" = {_ROW}'),
            ("name changed, same length",
             f'UPDATE {_T} SET "name" = UPPER("name") WHERE "msg_id" = {_ROW}',
             f'UPDATE {_T} SET "name" = LOWER("name") WHERE "msg_id" = {_ROW}'),
        )
        for name, corrupt, repair in cases:
            backlog.derby.execute(corrupt)
            results.append((name, backlog.wrong_rows(full=True), 1))
            backlog.derby.execute(repair)
        backlog.derby.execute(f'DELETE FROM {_T} WHERE "msg_id" = {_ROW}')
        results.append(("row deleted (fingerprint path)", backlog.wrong_rows(full=False), 1))
    finally:
        harness.stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    ok = True
    for name, got, want in results:
        ok &= got == want
        print(f"{'PASS' if got == want else 'FAIL'} {name}: {got} wrong rows counted, expected {want}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
