"""The benchmark's workloads: named query lists from the registry.

Each workload is a closed loop over a fixed list of registry queries on
the bundled sf0.01 tables. The lists are small on purpose: a run must
fit its set-up (about 27 s: JVM start, a cold pass and a warm one) and
its timed passes in about a minute, because one check of
the benchmark runs it some fifty times. Every query here passes its
DuckDB oracle at sf0.01 (certify.py).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from summary import tail_percentile

HERE = os.path.dirname(os.path.abspath(__file__))

# The tables are a byte-for-byte copy of the deterministic sf0.01 tables
# of TESTDATA.md (TPC-H-like star schema plus events, documents and
# embeddings), kept in the benchmark so that a run reads nothing outside
# its checkout.
SCALE = "sf0.01"

# Timed passes every run makes at least, whatever --seconds says: batch_s
# is a median over passes.
MIN_PASSES = 3

# Untimed passes before the timed ones, the first of them cold. Passes keep
# getting faster for several passes after the cold one (the JIT compiles
# the long tail of driver code), and how fast depends on how busy the host
# is; the second warm-up pass keeps the steepest part of that slope untimed.
WARMUP_PASSES = 2


DATA_DIR = os.path.join(HERE, "data", SCALE)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    # Warm pass time on a 4-core host. It only turns --seconds into a
    # fixed number of timed passes: a run that stopped on the clock would
    # make more passes on a fast host.
    pass_s: float

    def passes(self, seconds: float) -> int:
        return max(MIN_PASSES, round(seconds / self.pass_s))

    def tail_pct(self, seconds: float) -> int:
        """Percentile reported as query_s.tail: the highest with at least
        ten executions beyond it; 100 (the slowest execution) when a run
        holds too few executions for any percentile above the median to
        have ten beyond it."""
        p = tail_percentile(self.passes(seconds) * len(self.queries))
        return p if p >= 50 else 100


WORKLOADS = {w.name: w for w in (
    Workload(
        "etl_batch",
        "The reference's three pipelines plus TPC-H, event and window "
        "queries: scan/aggregate/join work with per-query fixed costs "
        "(tune_session, Catalyst, a few jobs); build is a small share.",
        (
            "yf_agg_month",
            "fin_customer_ratios",
            "iqplus_summarize_stub",
            "tpch_q1",
            "tpch_q6",
            "evt_sessionize_30min",
            "win_lag_delta",
        ),
        pass_s=2.3,
    ),
    Workload(
        "build_loops",
        "Work done inside the registry call: a connected-components loop "
        "of driver jobs and Structured Streaming drains that write state "
        "and checkpoints; where lineage cuts, job barriers and streaming act.",
        (
            "dedup_embedding_components",
            "stream_tumbling_5min",
            "stream_dedup_keys",
        ),
        pass_s=3.7,
    ),
)}
