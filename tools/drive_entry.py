"""Driver-sim: run __spark_entry__ the way the external driver does."""
import json
import math
import os
import sys
import tempfile

sys.path.insert(0, "/root/repo")

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as e

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
# the external driver compares at sf0.01; override to certify the same
# oracles at another tier (e.g. sf0.1 — 10x the driver's data)
SF_DIR = os.environ.get("SPARK_GRAFT_DRIVE_SF_DIR", "/root/testdata/sf0.01")
# per-query work dirs and the shipped package zip must not outlive the
# session; tugas2_ann_index is a deliberate cross-session artifact cache
# and is not checked
LEAK_PREFIXES = (
    "tugas2_stream_", "t2bd_fp_state_", "tugas_2_big_data_spark_pyfiles_"
)


def leak_candidates():
    return {
        n for n in os.listdir(tempfile.gettempdir())
        if n.startswith(LEAK_PREFIXES)
    }


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def rows_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((v is None, str(type(v)), v if v is not None else 0) for v in t),
    )


def close(a, b):
    if type(a) is tuple and type(b) is tuple:
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        try:
            return math.isclose(float(a), float(b), rel_tol=1e-6, abs_tol=1e-9)
        except (TypeError, ValueError):
            return a == b
    return a == b


def main():
    before = leak_candidates()
    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    df = e.entry(spark)
    n = df.count()
    assert n >= 0, "entry produced negative rows?!"
    print(f"entry OK: {n} rows, schema {len(df.schema)} cols")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = e.queries()
    oracles = e.oracle_sql()
    if len(sys.argv) > 1:  # substring filters for fast iteration
        pats = sys.argv[1:]
        qs = {n: f for n, f in qs.items() if any(p in n for p in pats)}
    failures = []
    for name, fn in qs.items():
        try:
            sdf = fn(spark, SF_DIR)
            s_rows = [tuple(r) for r in sdf.collect()]
            s_cols = list(sdf.columns)
        except Exception as ex:
            failures.append((name, f"spark error: {ex}"))
            print(f"FAIL {name}: spark error: {ex}")
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ok   {name}: {len(s_rows)} rows (rows-only, no oracle)")
            continue
        try:
            res = con.execute(sql)
            o_cols = [d[0] for d in res.description]
            o_rows = res.fetchall()
        except Exception as ex:
            failures.append((name, f"oracle error: {ex}"))
            print(f"FAIL {name}: oracle error: {ex}")
            continue
        if len(s_rows) != len(o_rows):
            failures.append((name, f"rowcount {len(s_rows)} vs {len(o_rows)}"))
            print(f"FAIL {name}: rowcount {len(s_rows)} vs {len(o_rows)}")
            continue
        if sorted(s_cols) != sorted(o_cols):
            failures.append((name, f"cols {sorted(s_cols)} vs {sorted(o_cols)}"))
            print(f"FAIL {name}: cols {sorted(s_cols)} vs {sorted(o_cols)}")
            continue
        sk = rows_key(s_cols, s_rows)
        ok_ = rows_key(o_cols, o_rows)
        bad = None
        for i, (a, b) in enumerate(zip(sk, ok_)):
            if not close(a, b):
                bad = (i, a, b)
                break
        if bad:
            failures.append((name, f"value mismatch at sorted row {bad[0]}"))
            print(f"FAIL {name}: row {bad[0]}\n  spark {bad[1]}\n  duck  {bad[2]}")
        else:
            print(f"ok   {name}: {len(s_rows)} rows match oracle")

    print(f"\n{len(qs) - len(failures)}/{len(qs)} queries pass")
    # full-parity artifact: SPARK_GRAFT_PARITY_OUT=FULLPARITY_r5.json
    # records every query's sf0.01 oracle verdict for the round, so the
    # whole registry carries a current-round certification even though
    # the external driver's sweep is capped at ~50 rows/round.
    out = os.environ.get("SPARK_GRAFT_PARITY_OUT")
    if out:
        bad = dict(failures)
        report = {
            "sf_dir": SF_DIR,
            "n_pass": len(qs) - len(failures),
            "n_total": len(qs),
            "results": {
                n: bad.get(n, "pass") for n in sorted(qs)
            },
        }
        with open(out, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        print(f"wrote {out}")
    spark.stop()
    leaked = sorted(leak_candidates() - before)
    print(f"leak check: {len(leaked)} new work dirs in {tempfile.gettempdir()}")
    for n in leaked:
        print(f"LEAK {n}")
    if failures or leaked:
        sys.exit(1)


if __name__ == "__main__":
    main()
