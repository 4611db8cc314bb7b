"""Stage attribution for `dedup_ngram_jaccard_prefix` (VERDICT r11 #2:
3.5 s at sf0.1 with an 8c-faster-than-32c inversion, untouched since
round 3 — profile where the PPJoin path spends its wall before
deciding whether anything structural is worth changing).

Stages, each forced with the bench's count+hash aggregate and timed
separately on the SAME pre-materialized inputs (so stage N does not
re-pay stage N-1):

  A. shingle/hash pass: hashed_shingle_sets + localCheckpoint — the
     one corpus-sized map relation;
  B. document-frequency table: explode + groupBy(shingle) count;
  C. prefix selection: freq join (shuffle_hash) + per-doc window
     rank + position-bound filter;
  D. candidate self-join: prefix ⋈ prefix on shingle with the length
     filter, distinct;
  E. exact verify: MERGE-hinted set rejoin + array_intersect Jaccard.

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python
tools/probe_ppjoin_stages.py  (writes PPJOIN_STAGES.json)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import Window  # noqa: E402

from tugas_2_big_data_spark.session import get_spark  # noqa: E402
from tugas_2_big_data_spark.operators import dedup  # noqa: E402
from tugas_2_big_data_spark.operators.dedup import (  # noqa: E402
    _prefix_pos_bound,
)
from tugas_2_big_data_spark.sources.catalog import load_table  # noqa: E402


def _force(df) -> int:
    [(n, _)] = df.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*[F.col(c) for c in df.columns])),
    ).collect()
    return n


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    threshold = 0.5
    spark = get_spark(app_name="probe_ppjoin_stages")
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    out: dict[str, dict] = {}

    def stage(name: str, mk):
        t0 = time.perf_counter()
        df = mk()
        n = _force(df)
        dt = round(time.perf_counter() - t0, 3)
        out[name] = {"t_s": dt, "rows": n}
        print(f"[stage] {name}: {dt}s, {n} rows", file=sys.stderr)
        return df

    # A — corpus shingle/hash pass, materialized
    sets = stage(
        "A_shingle_sets",
        lambda: dedup.hashed_shingle_sets(docs).localCheckpoint(),
    )

    sized = sets.select(
        F.col("doc_id"), F.size("shingles").alias("sz"), "shingles"
    )
    ex = stage(
        "A2_exploded",
        lambda: sized.select(
            "doc_id", "sz", F.explode("shingles").alias("shingle")
        ).localCheckpoint(),
    )

    # B — document-frequency table
    freq = stage(
        "B_freq",
        lambda: ex.groupBy("shingle").agg(
            F.count(F.lit(1)).alias("shingle_df")
        ).localCheckpoint(),
    )

    # C — prefix selection
    w = Window.partitionBy("doc_id").orderBy("shingle_df", "shingle")
    prefix = stage(
        "C_prefix",
        lambda: ex.join(freq.hint("shuffle_hash"), "shingle")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= _prefix_pos_bound(F.col("sz"), threshold))
        .select("doc_id", "sz", "shingle")
        .localCheckpoint(),
    )

    # D — candidate self-join
    a = prefix.select(
        F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"), "shingle"
    )
    b = prefix.select(
        F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"), "shingle"
    )
    cand = stage(
        "D_candidates",
        lambda: a.join(
            b,
            (a["shingle"] == b["shingle"])
            & (F.col("id_a") < F.col("id_b"))
            & (F.col("sz_a") / F.col("sz_b") >= F.lit(threshold))
            & (F.col("sz_b") / F.col("sz_a") >= F.lit(threshold)),
        )
        .select("id_a", "id_b")
        .distinct()
        .localCheckpoint(),
    )

    # E — exact verify
    stage(
        "E_verify",
        lambda: dedup.jaccard_verify_sets(sets, cand, threshold=threshold),
    )

    # full registered query for reference (fresh lineage)
    from tugas_2_big_data_spark import queries as q

    t0 = time.perf_counter()
    _force(q.queries()["dedup_ngram_jaccard_prefix"](spark, sf_dir))
    out["FULL_query"] = {"t_s": round(time.perf_counter() - t0, 3)}
    print(f"[stage] FULL_query: {out['FULL_query']['t_s']}s", file=sys.stderr)

    with open(os.path.join(REPO, "PPJOIN_STAGES.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
