#!/usr/bin/env python3
"""Certify the benchmark's reference fingerprints against the oracles.

    python3 perfbench/certify.py            # check every workload query
    python3 perfbench/certify.py --write    # and (re)write reference.json

For every query of every workload: run it once on the bundled tables,
take its fingerprint, compare its rows with the query's DuckDB oracle
(tests/helpers.py), and check the fingerprint against reference.json.
Exits 0 only if every oracle compare passes and every fingerprint
matches; with --write, the fingerprints of oracle-passing queries are
written instead of checked. This is the one-shot check behind the
references: it runs the oracles, which the timed runs call only when a
fingerprint differs.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

import correctness
from run import ROOT, RUNS_DIR, close_spark, open_spark
from workloads import DATA_DIR, SCALE, WORKLOADS


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--write", action="store_true", help="rewrite reference.json")
    args = ap.parse_args(argv)

    names = sorted({n for w in WORKLOADS.values() for n in w.queries})
    reference = correctness.load_reference(SCALE)
    os.makedirs(RUNS_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="certify-", dir=RUNS_DIR)
    spark = None
    fps, bad = {}, []
    try:
        from tugas_2_big_data_spark import queries as q

        spark, _ = open_spark(run_dir, "perfbench-certify")
        registry = q.queries()
        oracle = correctness.OracleCompare(spark, registry, DATA_DIR, ROOT)
        for name in names:
            t = time.perf_counter()
            try:
                df = registry[name](spark, DATA_DIR)
                fp = correctness.collect_fingerprint(correctness.fingerprint_frame(df))
            except Exception as e:  # report the query as failed and go on
                print(f"FAIL {name:45s} raised {type(e).__name__}: {str(e)[:300]}", flush=True)
                bad.append(name)
                continue
            oracle_ok = oracle.df_ok(name, df)
            ref_ok = reference.get(name) == fp
            fps[name] = fp
            verdict = "ok" if oracle_ok and (ref_ok or args.write) else "FAIL"
            if verdict != "ok":
                bad.append(name)
            print(f"{verdict:4s} {name:45s} oracle={'pass' if oracle_ok else 'FAIL'} "
                  f"reference={'match' if ref_ok else 'differs'} fp={fp} "
                  f"({time.perf_counter() - t:.1f}s)", flush=True)
    finally:
        if spark is not None:
            close_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.write and not bad:
        correctness.save_reference(SCALE, fps)
        print(f"wrote {len(fps)} fingerprints to {os.path.relpath(correctness.REFERENCE_PATH, ROOT)}")
    print(f"{len(names) - len(bad)}/{len(names)} queries certified at {SCALE}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
