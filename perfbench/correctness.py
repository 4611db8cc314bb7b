"""Result fingerprints and the correctness gate of the benchmark.

Every execution is materialised by collecting an order-insensitive
fingerprint of its result: the wrapping sum of xxhash64 over all
columns, plus the row count. `count()` alone cannot be the materialiser:
Catalyst would prune every computed column and time only the scan.

A fingerprint equal to the reference passes. A different one is not yet
a failure: a legitimate change of float summation order changes the hash
too. The gate then compares the query's rows with its DuckDB oracle,
outside the timed region, with the tolerant compare the repository's
tests use, and fails the execution only if that compare fails as well.
"""

from __future__ import annotations

import json
import os
import sys
from collections.abc import Callable

HERE = os.path.dirname(os.path.abspath(__file__))
REFERENCE_PATH = os.path.join(HERE, "reference.json")

Fingerprint = tuple[int, int]


def fingerprint_frame(df):
    """The one-row frame whose collect materialises every column of df."""
    from pyspark.sql import functions as F

    return df.select(
        F.sum(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h"),
        F.count(F.lit(1)).alias("n"),
    )


def collect_fingerprint(fp_df) -> Fingerprint:
    [(h, n)] = fp_df.collect()
    return (int(h) if h is not None else 0, int(n))


def load_reference(scale: str) -> dict[str, Fingerprint]:
    if not os.path.exists(REFERENCE_PATH):
        return {}
    with open(REFERENCE_PATH) as f:
        table = json.load(f).get(scale, {})
    return {name: (int(h), int(n)) for name, (h, n) in table.items()}


def save_reference(scale: str, fps: dict[str, Fingerprint]) -> None:
    """Replace the reference table of one scale with `fps`."""
    table = {}
    if os.path.exists(REFERENCE_PATH):
        with open(REFERENCE_PATH) as f:
            table = json.load(f)
    table[scale] = {k: list(fp) for k, fp in sorted(fps.items())}
    with open(REFERENCE_PATH, "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
        f.write("\n")


class Gate:
    """Checks fingerprints against the reference, falling back to an
    oracle compare on mismatch. The verdict of each (query, fingerprint)
    pair is cached, so a repeated mismatch costs one oracle run."""

    def __init__(self, reference: dict[str, Fingerprint],
                 oracle_ok: Callable[[str], bool]) -> None:
        self.reference = reference
        self.oracle_ok = oracle_ok
        self._verdicts: dict[tuple[str, Fingerprint], bool] = {}

    def check(self, name: str, fp: Fingerprint) -> tuple[bool, bool | None]:
        """(fingerprint matched, oracle verdict or None when not needed)."""
        if self.reference.get(name) == fp:
            return True, None
        key = (name, fp)
        if key not in self._verdicts:
            self._verdicts[key] = self.oracle_ok(name)
        return False, self._verdicts[key]


class OracleCompare:
    """Compares a query's rows with its DuckDB oracle on the same tables,
    using the tolerant compare in tests/helpers.py (row count, columns
    sorted by name, order-insensitive values, float rel_tol 1e-6)."""

    def __init__(self, spark, registry, data_dir: str, root: str) -> None:
        import importlib.util

        from tugas_2_big_data_spark import queries as q

        spec = importlib.util.spec_from_file_location(
            "perfbench_oracle_helpers", os.path.join(root, "tests", "helpers.py")
        )
        helpers = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(helpers)
        self._compare = helpers.compare
        self.con = helpers.duckdb_connection(data_dir)
        self.oracles = q.oracle_sql()
        self.spark, self.registry, self.data_dir = spark, registry, data_dir

    def df_ok(self, name: str, df) -> bool:
        sql = self.oracles.get(name)
        if sql is None:
            print(f"[perfbench] {name} has no oracle", file=sys.stderr)
            return False
        try:
            self._compare(df, self.con, sql, name)
        except AssertionError as e:
            print(f"[perfbench] oracle rejects {name}: {str(e)[:300]}", file=sys.stderr)
            return False
        except Exception as e:  # the compare re-executes the query; a failure there is a verdict
            print(f"[perfbench] oracle compare of {name} raised {type(e).__name__}: "
                  f"{str(e)[:300]}", file=sys.stderr)
            return False
        return True

    def rerun_ok(self, name: str) -> bool:
        """Runs the query again and compares that result."""
        try:
            df = self.registry[name](self.spark, self.data_dir)
        except Exception as e:  # a query that raises has failed the check
            print(f"[perfbench] re-running {name} raised {type(e).__name__}: "
                  f"{str(e)[:300]}", file=sys.stderr)
            return False
        return self.df_ok(name, df)
