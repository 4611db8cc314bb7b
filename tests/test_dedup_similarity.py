"""Unit tests for dedup / similarity operators on inline frames.

The oracle-parity suite checks end results against DuckDB; these tests
pin the internal equivalences the parity suite can't see: the set-based
(map-only) formulations must produce byte-identical results to the
exploded/shuffled formulations they replaced, and the approximate
operators' structural guarantees (k per query, one-hop canonicals).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tugas_2_big_data_spark.operators import dedup, similarity

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (4, "completely different text with many other words here"),
    (5, "ab"),  # < 3 words -> no shingles
]


def _docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_set_based_minhash_equals_exploded(spark):
    df = _docs(spark)
    via_sets = dedup.minhash_signatures_from_sets(
        dedup.shingle_sets(df), k=4
    ).collect()
    via_explode = dedup.minhash_signatures(dedup.doc_shingles(df), k=4).collect()
    assert sorted(map(tuple, via_sets)) == sorted(map(tuple, via_explode))


def test_shingle_sets_drops_short_docs(spark):
    got = {r.doc_id for r in dedup.shingle_sets(_docs(spark)).collect()}
    assert got == {1, 2, 3, 4}


def test_jaccard_verify_sets_equals_jaccard_pairs(spark):
    df = _docs(spark)
    sets = dedup.shingle_sets(df)
    sh = dedup.doc_shingles(df)
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], ["id_a", "id_b"]
    )
    a = {
        tuple(r)
        for r in dedup.jaccard_verify_sets(sets, cand, threshold=0.0).collect()
    }
    b = {
        tuple(r)
        for r in dedup.jaccard_pairs(sh, threshold=0.0, candidates=cand).collect()
    }
    # the inverted-index path omits pairs with zero common shingles;
    # the set path keeps them (n_common=0). Compare on the overlap.
    assert {t for t in a if t[2] > 0} == b
    exact = next(t for t in a if t[:2] == (1, 3))
    assert exact[3] == 1.0  # identical docs -> jaccard 1


def test_prefix_filtered_jaccard_equals_naive(spark):
    """PPJoin-style prefix filtering is EXACT: same pairs/scores as the
    length-filtered inverted index at any threshold."""
    docs = spark.createDataFrame(
        DOCS + [(6, "the quick brown fox leaps over the lazy dog")],
        ["doc_id", "text"],
    )
    for t in (0.3, 0.5, 0.8):
        naive = {
            tuple(r)
            for r in dedup.jaccard_pairs(
                dedup.doc_shingles(docs), threshold=t
            ).collect()
        }
        prefix = {
            tuple(r)
            for r in dedup.jaccard_pairs_prefix(docs, threshold=t).collect()
        }
        assert prefix == naive, t


def _doc_from_words(ws):
    return " ".join(ws)


def test_prefix_filter_float_threshold_boundary(spark):
    """Adversarial t=0.55 regression: 0.55·100 = 55.000000000000007 in
    IEEE double, so a naive ceil(t·sz) computes a one-short prefix and
    silently drops a TRUE pair whose score is exactly 0.55 (which the
    verify float-accepts: 55/100 rounds to the same double as the 0.55
    literal). The engineered pair shares exactly 55 of A's 100
    shingles, and the 45 unshared ones are globally rarest — the
    buggy 45-element prefix was precisely the unshared set."""
    shared = [f"s{i:03d}" for i in range(57)]  # 55 shared shingles
    tail = [f"a{i:03d}" for i in range(45)]  # 45 unshared for A
    filler = [f"z{i:03d}" for i in range(50)]  # B-only filler
    a_doc = _doc_from_words(shared + tail)  # 100 shingles
    b_doc = _doc_from_words(shared + filler)
    docs = spark.createDataFrame([(1, a_doc), (2, b_doc)], ["doc_id", "text"])

    # containment: c(A in B) = 55/100 = 0.55 — must surface
    got = dedup.containment_pairs_prefix(docs, threshold=0.55).collect()
    assert [(r.id_a, r.id_b, r.n_common) for r in got] == [(1, 2, 55)]
    exhaustive = dedup.containment_pairs_from_sets(
        dedup.shingle_sets(docs), threshold=0.55
    ).collect()
    assert [(r.id_a, r.id_b, r.n_common) for r in exhaustive] == [(1, 2, 55)]

    # jaccard: B = exactly the shared 55 → j = 55/(100+55-55) = 0.55
    b_only = _doc_from_words(shared)
    docs2 = spark.createDataFrame(
        [(1, a_doc), (2, b_only)], ["doc_id", "text"]
    )
    jp = dedup.jaccard_pairs_prefix(docs2, threshold=0.55).collect()
    assert [(r.id_a, r.id_b, r.n_common) for r in jp] == [(1, 2, 55)]
    je = dedup.jaccard_pairs_from_sets(
        dedup.shingle_sets(docs2), threshold=0.55
    ).collect()
    assert [(r.id_a, r.id_b, r.n_common) for r in je] == [(1, 2, 55)]


def test_hashed_prefix_jaccard_equals_string_path(spark):
    """The 60-bit shingle-hash fast path changes the payload, never
    the pairs or counts (collisions ~n²/2^61): hashed and string
    formulations must emit identical rows."""
    docs = spark.createDataFrame(
        DOCS + [(6, "the quick brown fox leaps over the lazy dog")],
        ["doc_id", "text"],
    )
    hashed = {
        tuple(r)
        for r in dedup.jaccard_pairs_prefix(docs, threshold=0.5).collect()
    }
    strings = {
        tuple(r)
        for r in dedup.jaccard_pairs_prefix(
            docs, threshold=0.5, hashed=False
        ).collect()
    }
    assert hashed == strings and hashed


def test_prefix_filtered_containment_equals_exhaustive(spark):
    """One-sided prefix filtering for directed containment is EXACT:
    same (id_a, id_b, n_common, containment) rows as the exhaustive
    directed inverted index at any threshold."""
    docs = spark.createDataFrame(
        DOCS + [(6, "the quick brown fox leaps over the lazy dog and cat")],
        ["doc_id", "text"],
    )
    for t in (0.5, 0.8, 1.0):
        exhaustive = {
            tuple(r)
            for r in dedup.containment_pairs_from_sets(
                dedup.shingle_sets(docs), threshold=t
            ).collect()
        }
        prefix = {
            tuple(r)
            for r in dedup.containment_pairs_prefix(docs, threshold=t).collect()
        }
        assert prefix == exhaustive, t


def test_containment_catches_engulfed_doc_jaccard_misses(spark):
    """A short doc quoted inside a much longer one: containment 1.0,
    Jaccard far below threshold — the asymmetric case this operator
    exists for. The directed pair must appear only as short→long."""
    short = "alpha beta gamma delta epsilon"
    long_ = short + (
        " zeta eta theta iota kappa lambda mu nu xi omicron pi rho"
        " sigma tau upsilon phi chi psi omega one two three four five"
    )
    docs = spark.createDataFrame(
        [(1, short), (2, long_)], ["doc_id", "text"]
    )
    pairs = dedup.containment_pairs_prefix(docs, threshold=0.9).collect()
    assert [(r.id_a, r.id_b, r.containment) for r in pairs] == [(1, 2, 1.0)]
    jac = dedup.jaccard_pairs_from_sets(
        dedup.shingle_sets(docs), threshold=0.5
    ).collect()
    assert jac == []  # jaccard ≈ |A|/|B| ≪ 0.5 — misses the pair


def test_exact_dup_same_signature(spark):
    sig = {
        r.doc_id: (r.h0, r.h1)
        for r in dedup.minhash_signatures_from_sets(
            dedup.shingle_sets(_docs(spark)), k=2
        ).collect()
    }
    assert sig[1] == sig[3]
    assert sig[1] != sig[4]


def test_simhash_dups_match_and_differ(spark):
    sh = {r.doc_id: r.simhash for r in dedup.simhash16(_docs(spark)).collect()}
    assert sh[1] == sh[3]
    assert sh[1] != sh[4]
    assert all(0 <= v < 2**16 for v in sh.values())


def test_near_dup_canonical_one_hop(spark):
    corpus = spark.createDataFrame([(i,) for i in range(1, 6)], ["vec_id"])
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5)], ["id_a", "id_b"]
    )
    got = {
        r.vec_id: r.canonical_id
        for r in similarity.near_dup_canonical(corpus, pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}


def test_connected_components_multi_hop_chain(spark):
    """A 4-hop chain must collapse to ONE component (the one-hop
    canonical operator would leave 2: this is the difference the
    iterative closure exists for), plus an isolated vertex and a
    separate pair."""
    vertices = spark.createDataFrame([(i,) for i in range(1, 8)], ["vec_id"])
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (6, 7)], ["id_a", "id_b"]
    )
    got = {
        r.vec_id: r.component_id
        for r in similarity.connected_components(vertices, pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 6, 7: 6}


def test_connected_components_long_chain_converges_logarithmically(spark):
    """Pointer jumping (label-of-label) makes rounds O(log diameter):
    a 200-node chain converges well inside 12 rounds where plain
    1-hop min-label propagation needs 199 — the silent-truncation
    hazard round 8 closed (a component longer than max_iter used to
    come back WRONG with no error)."""
    docs = spark.range(0, 200).select(F.col("id").alias("vec_id"))
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "id_a long, id_b long"
    )
    out = similarity.connected_components(docs, pairs, max_iter=12)
    assert out.filter("component_id != 0").count() == 0


def test_connected_components_refuses_unconverged_result(spark):
    import pytest

    docs = spark.range(0, 50).select(F.col("id").alias("vec_id"))
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(49)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        similarity.connected_components(docs, pairs, max_iter=2)


def test_positional_filter_keeps_tight_boundary_pair(spark):
    """Round-12 positional filter (PPJoin) regression: a pair whose
    first common token sits as LATE as possible in the canonical
    order — every unshared token is globally rarer than the shared
    ones, so the shared block sorts last and the positional upper
    bound 1 + min(sz−pos) equals the TRUE overlap exactly — and whose
    jaccard lands exactly on the threshold must survive the prune and
    appear in the output. An off-by-one in the bound would drop it."""
    shared = [f"s{i:03d}" for i in range(22)]  # 20 shared shingles
    a_tail = [f"a{i:03d}" for i in range(10)]  # A-only, rare (df 1)
    b_tail = [f"b{i:03d}" for i in range(10)]  # B-only, rare (df 1)
    docs = spark.createDataFrame(
        [
            (1, " ".join(a_tail + shared)),
            (2, " ".join(b_tail + shared)),
        ],
        ["doc_id", "text"],
    )
    # |A| = |B| = 30 shingles, c = 20 shared -> j = 20/40 = 0.5 exactly
    got = dedup.jaccard_pairs_prefix(docs, threshold=0.5).collect()
    assert [(r.id_a, r.id_b, r.n_common) for r in got] == [(1, 2, 20)]
    # and it must still agree with the exhaustive formulation
    exh = dedup.jaccard_pairs_from_sets(
        dedup.shingle_sets(docs), threshold=0.5
    ).collect()
    assert [(r.id_a, r.id_b, r.n_common) for r in exh] == [(1, 2, 20)]


def test_cell_assigner_rank_prefix_property(spark):
    """Round-12 `rank_col` contract: the length-n prefix of the
    max-probes ranked assignment IS the nprobe=n assignment — same
    (id, cid) rows — for every n, because both use the same scored
    in-row sort with the same tie-break."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(30)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = similarity.train_ivf_centroids(
        emb, n_centroids=5, quantizer="seed", dim=8
    )
    assign = similarity._cell_assigner(cents)
    q = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )
    ranked = assign(q, "query", 4, rank_col="crn")
    for n in (1, 2, 4):
        plain = {
            (r.query_id, r.cid)
            for r in assign(q, "query", n).collect()
        }
        prefix = {
            (r.query_id, r.cid)
            for r in ranked.filter(F.col("crn") <= n).collect()
        }
        assert prefix == plain, n


def test_nprobe_curve_hits_equal_served_topk_hits(spark):
    """The operating curve ranks through the serving path: at every
    curve point, n_hits is the number of `ivf_topk_from_index` top-5
    rows (same artifact, same 5 queries) that are in the exact top-5,
    so the curve cannot drift from what serving returns."""
    from conftest import SF_UNIT
    # queries first: importing queries_training alone is circular
    from tugas_2_big_data_spark import queries  # noqa: F401
    from tugas_2_big_data_spark import queries_training as qt
    from tugas_2_big_data_spark.sources.catalog import load_table

    curve = {
        r.nprobe: r.n_hits
        for r in qt.ann_ivf_nprobe_curve(spark, SF_UNIT).collect()
    }
    assert sorted(curve) == list(qt._NPROBE_CURVE)
    emb = load_table(spark, "embeddings", SF_UNIT)
    q5 = emb.filter(F.col("vec_id") < 5)
    path = qt._ann_artifact_dir(SF_UNIT, "ivf")
    exact = similarity.cosine_topk(emb, q5, k=5).select("query_id", "nbr_id")
    for n in qt._NPROBE_CURVE:
        served = similarity.ivf_topk_from_index(spark, path, q5, nprobe=n, k=5)
        assert served.join(exact, ["query_id", "nbr_id"]).count() == curve[n], n


def test_ivf_topk_structure(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 3), n_centroids=4, nprobe=2, k=5, dim=8
    )
    rows = out.collect()
    per_query = {}
    for r in rows:
        assert r.query_id != r.nbr_id
        per_query.setdefault(r.query_id, []).append(r.rk)
    for q, rks in per_query.items():
        assert sorted(rks) == list(range(1, len(rks) + 1))
        assert len(rks) <= 5


def test_pq_topk_structure_and_recall_on_separated_clusters(spark):
    """PQ ADC top-k: k ranked rows per query, no self pairs; on two
    well-separated clusters every retrieved neighbor of a query comes
    from the query's own cluster (the quantization error is far below
    the inter-cluster gap)."""
    import numpy as np

    rng = np.random.default_rng(5)
    rows = []
    for i in range(40):
        center = 0.0 if i % 2 == 0 else 50.0
        rows.append(
            (i, [float(center + x) for x in rng.standard_normal(8)])
        )
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.pq_topk(
        emb, emb.filter(F.col("vec_id") < 4), m=2, ks=4, k=5, dim=8
    ).collect()
    per_query = {}
    for r in out:
        assert r.query_id != r.nbr_id
        assert r.adc_dist >= 0.0
        per_query.setdefault(r.query_id, []).append(r)
    assert set(per_query) == {0, 1, 2, 3}
    for qid, rs in per_query.items():
        assert sorted(r.rk for r in rs) == [1, 2, 3, 4, 5]
        for r in rs:
            assert r.nbr_id % 2 == qid % 2  # same-cluster retrieval
        # ranked by ADC distance
        by_rk = sorted(rs, key=lambda r: r.rk)
        dists = [r.adc_dist for r in by_rk]
        assert dists == sorted(dists)


def test_ivfpq_topk_structure(spark):
    """Composed IVF-PQ: ranked rows per query, no self pairs, at most
    k rows, ranks contiguous from 1 (cells can truncate below k)."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [
        (i, [float((i % 4) * 20 + x) for x in rng.standard_normal(8)])
        for i in range(48)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.ivfpq_topk(
        emb,
        emb.filter(F.col("vec_id") < 3),
        n_centroids=4,
        nprobe=2,
        m=2,
        ks=4,
        k=5,
        dim=8,
    ).collect()
    per_query = {}
    for r in out:
        assert r.query_id != r.nbr_id
        assert r.adc_dist >= 0.0
        per_query.setdefault(r.query_id, []).append(r.rk)
    assert set(per_query) == {0, 1, 2}
    for rks in per_query.values():
        assert sorted(rks) == list(range(1, len(rks) + 1))
        assert len(rks) <= 5


def test_pq_codebooks_shape(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(20)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    state = similarity.pq_codebooks(emb, m=2, ks=3, dim=8)
    [row] = state.collect()
    for s in range(2):
        cb = row[f"_cs{s}"]
        assert len(cb) == 3  # ks codewords
        assert all(len(c) == 4 for c in cb)  # dim/m values each
    # joint training must equal the per-subspace reference chains
    for s in range(2):
        sliced = emb.select(
            "vec_id", F.slice("embedding", s * 4 + 1, 4).alias("_sv")
        )
        _, ref, _ = similarity._kmeans_state(
            sliced, 3, 2, "vec_id", "_sv", 4
        )
        [ref_row] = ref.collect()
        assert row[f"_cs{s}"] == ref_row["_cs"], s


def test_ivf_more_probes_no_worse(spark):
    """Recall monotonicity: probing all cells == brute force."""
    import numpy as np

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(30)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") < 2)
    exact = {
        (r.query_id, r.nbr_id)
        for r in similarity.cosine_topk(emb, queries, k=3).collect()
    }
    allprobe = {
        (r.query_id, r.nbr_id)
        for r in similarity.ivf_topk(
            emb, queries, n_centroids=4, nprobe=4, k=3, dim=8
        ).collect()
    }
    assert allprobe == exact


def test_kmeans_assign_separated_clusters(spark):
    """Two well-separated blobs with k=2 must recover the blobs
    regardless of seeding (seeds 0 and 1 both start in blob A; one
    Lloyd round pulls a centroid across)."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in rng.standard_normal(4) + (0.0 if i % 2 else 50.0)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.kmeans_assign(emb, k=2, iters=3, dim=4)
    got = {r.vec_id: r.cluster for r in out.collect()}
    assert set(got) == set(range(40))
    blob_a = {got[i] for i in range(40) if i % 2 == 0}
    blob_b = {got[i] for i in range(40) if i % 2 == 1}
    assert len(blob_a) == 1 and len(blob_b) == 1 and blob_a != blob_b


def test_kmeans_assign_plan_no_window_no_generate(spark):
    """Pin the scale shape: assignment is map-only (broadcast one-row
    state, argmin expression), the mean update is a hash aggregate —
    never a per-id Window, never a posexplode Generate (a Generate
    below the argmin projection re-evaluates it per element; SCALE.md
    pitfall 1)."""
    import numpy as np

    rng = np.random.default_rng(13)
    rows = [(i, [float(x) for x in rng.standard_normal(4)]) for i in range(20)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.kmeans_assign(emb, k=2, iters=2, dim=4)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" not in plan
    assert "Generate" not in plan


def test_ivf_with_kmeans_centroids(spark):
    """ivf_topk(centroids=kmeans_centroids(...)) returns ranked
    neighbors per query, never self, ranks contiguous from 1."""
    import numpy as np

    rng = np.random.default_rng(17)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = similarity.kmeans_centroids(emb, k=4, iters=2, dim=8)
    out = similarity.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 3), nprobe=2, k=5, centroids=cents
    )
    per_query = {}
    for r in out.collect():
        assert r.query_id != r.nbr_id
        per_query.setdefault(r.query_id, []).append(r.rk)
    assert set(per_query) == {0, 1, 2}
    for rks in per_query.values():
        assert sorted(rks) == list(range(1, len(rks) + 1))


def test_incremental_new_docs_drops_seen_and_intra_batch(spark):
    from tugas_2_big_data_spark.operators.dedup import (
        fingerprint_groups,
        incremental_new_docs,
    )

    seen_docs = spark.createDataFrame(
        [(1, "already ingested"), (2, "old news")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [
            (10, "Already   INGESTED"),   # normalizes to a seen fp -> dropped
            (11, "brand new"),
            (12, "brand  NEW"),           # intra-batch dup of 11 -> dropped
            (13, "another fresh one"),
        ],
        ["doc_id", "text"],
    )
    seen = fingerprint_groups(seen_docs).select("fp")
    kept = sorted(r.doc_id for r in incremental_new_docs(batch, seen).collect())
    assert kept == [11, 13]


def test_semdedup_removes_planted_duplicates(spark):
    from pyspark.sql import functions as F
    from tugas_2_big_data_spark.operators.similarity import semdedup

    import numpy as np

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((40, 8))
    # self-check the fixture: no accidental near-dups among the base
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = unit @ unit.T
    np.fill_diagonal(cos, 0.0)
    assert cos.max() < 0.999
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    rows += [
        (i + 1000, [float(x) * 3.0 for x in vecs[i]]) for i in (0, 10, 20, 30)
    ]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    kept = semdedup(corpus, k=2, iters=1, threshold=0.999, dim=8)
    ids = {r.vec_id for r in kept.collect()}
    # every planted scaled copy (cosine 1.0 to its original; identical
    # after unit normalization, so guaranteed same cell) must lose to
    # the lower original id — and nothing else may be dropped
    assert ids == set(range(40))


def test_normalize_text_strips_and_collapses(spark):
    from tugas_2_big_data_spark.operators.text_analysis import normalize_text

    df = spark.createDataFrame(
        [
            (1, "plain text"),
            (2, "a <b>bold</b>\tmove\x07 here"),
            (3, "  spaced   out  "),
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in normalize_text(df).collect()}
    assert out[1].text_norm == "plain text" and not out[1].changed
    assert out[2].text_norm == "a bold move here" and out[2].changed
    assert out[3].text_norm == "spaced out" and out[3].changed
    assert out[4].text_norm == "" and not out[4].changed


def test_iterative_ops_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches the iterative operators from
    localCheckpoint (executor-pinned) to reliable checkpoint():
    identical results, and RDD checkpoint files actually land in the
    directory."""
    import os

    ckpt = str(tmp_path / "ckpt")
    vertices = spark.createDataFrame([(i,) for i in range(1, 8)], ["vec_id"])
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (6, 7)], ["id_a", "id_b"]
    )
    got = {
        r.vec_id: r.component_id
        for r in similarity.connected_components(
            vertices, pairs, checkpoint_dir=ckpt
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 6, 7: 6}
    # reliable checkpoint writes under <dir>/<uuid>/rdd-*
    found = [
        d for root, dirs, _ in os.walk(ckpt) for d in dirs if d.startswith("rdd-")
    ]
    assert found, "no reliable checkpoint files written"


def test_semdedup_checkpoint_dir_same_result(spark, tmp_path):
    import numpy as np

    rng = np.random.default_rng(23)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(30)]
    rows += [(100 + i, rows[i][1]) for i in range(5)]  # exact dups
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    base = {
        (r.vec_id, r.cluster)
        for r in similarity.semdedup(emb, k=2, iters=1, dim=8).collect()
    }
    ck = {
        (r.vec_id, r.cluster)
        for r in similarity.semdedup(
            emb, k=2, iters=1, dim=8, checkpoint_dir=str(tmp_path / "ck2")
        ).collect()
    }
    assert base == ck


def test_ivf_build_index_serves_identical_results(spark, tmp_path):
    """Full-index round trip: ivf_build_index persists centroids + the
    inverted file; ivf_topk_from_index must be row-identical to
    in-query training (parquet round-trips doubles exactly), and the
    serving call must never touch training OR the raw corpus.

    Exact tuple equality here is safe DESPITE the documented ulp-level
    training nondeterminism across partitionings (pq_codebooks
    docstring): both trainings run in the SAME session over the same
    physical partitioning, so every F.avg accumulates in the same
    order — bit-identical state. The nondeterminism caveat is about
    retraining under a DIFFERENT layout, which is exactly what the
    persisted artifact exists to avoid."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "ivf_idx")
    similarity.ivf_build_index(emb, path, n_centroids=4, dim=8)
    in_query = similarity.ivf_topk(
        emb, q, n_centroids=4, nprobe=2, k=5, dim=8
    ).collect()
    served = similarity.ivf_topk_from_index(
        spark, path, q, nprobe=2, k=5
    ).collect()
    assert sorted(map(tuple, served)) == sorted(map(tuple, in_query))
    # the serving call must not retrain or re-assign: poisoning both
    # the trainer and the assigner proves serving reaches neither
    orig_train = similarity.train_ivf_centroids
    try:
        def _boom(*a, **k):  # noqa: ANN002, ANN003
            raise AssertionError("serving path invoked index-build code")

        similarity.train_ivf_centroids = _boom
        again = similarity.ivf_topk_from_index(
            spark, path, q, nprobe=2, k=5
        ).collect()
    finally:
        similarity.train_ivf_centroids = orig_train
    assert sorted(map(tuple, again)) == sorted(map(tuple, in_query))
    # the explicit-quantizer parameter keeps working too
    via_param = similarity.ivf_topk(
        emb, q, nprobe=2, k=5,
        centroids=spark.read.parquet(path + "/centroids"),
    ).collect()
    assert sorted(map(tuple, via_param)) == sorted(map(tuple, in_query))


def test_pq_build_index_serves_identical_results(spark, tmp_path):
    """PQ full-index round trip: codebooks + codes table persisted;
    pq_topk_from_index (codes scan + broadcast LUTs, no encode pass)
    equals in-query training row-for-row."""
    import numpy as np

    rng = np.random.default_rng(5)
    rows = [
        (i, [float((0.0 if i % 2 == 0 else 50.0) + x) for x in rng.standard_normal(8)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") < 4)
    path = str(tmp_path / "pq_idx")
    similarity.pq_build_index(emb, path, m=2, ks=4, dim=8)
    in_query = similarity.pq_topk(emb, q, m=2, ks=4, k=5, dim=8).collect()
    served = similarity.pq_topk_from_index(spark, path, q, k=5).collect()
    assert sorted(map(tuple, served)) == sorted(map(tuple, in_query))


def test_ivfpq_build_index_serves_identical_results(spark, tmp_path):
    """IVF-PQ full-index round trip (coarse + codebooks + cell-assigned
    codes table): serving from the artifacts equals in-query training
    row-for-row."""
    import numpy as np

    rng = np.random.default_rng(9)
    rows = [
        (i, [float((i % 4) * 20 + x) for x in rng.standard_normal(8)])
        for i in range(48)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "ivfpq_idx")
    similarity.ivfpq_build_index(
        emb, path, n_centroids=4, m=2, ks=4, dim=8
    )
    in_query = similarity.ivfpq_topk(
        emb, q, n_centroids=4, nprobe=2, m=2, ks=4, k=5, dim=8
    ).collect()
    served = similarity.ivfpq_topk_from_index(
        spark, path, q, nprobe=2, k=5
    ).collect()
    assert sorted(map(tuple, served)) == sorted(map(tuple, in_query))


def test_repeated_spans_finds_and_merges_cross_doc_spans(spark):
    """Two docs share an 8+-token run; overlapping duplicated k-grams
    must merge into ONE maximal span per doc, and a doc-unique text
    must produce no spans."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, f"intro one two {shared} outro"),
            (2, f"{shared} completely different ending words here now"),
            (3, "unique text " * 10),
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.span_start, r.span_len)
        for r in dedup.repeated_spans(docs, k=8).collect()
    }
    # shared run = 10 tokens; doc 1 has 3 tokens before it, doc 2 none
    assert got == {1: (4, 10), 2: (1, 10)}


def test_repeated_spans_requires_distinct_docs(spark):
    """A span repeated only WITHIN one doc is not cross-document."""
    run = "a b c d e f g h"
    docs = spark.createDataFrame(
        [(1, f"{run} filler words {run}"), (2, "nothing shared here at all")],
        ["doc_id", "text"],
    )
    assert dedup.repeated_spans(docs, k=8).count() == 0


def test_excise_repeated_spans_cuts_all_occurrences(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, f"keep one {shared} keep two"),
            (2, f"{shared}"),
            (3, "untouched document stays put"),
            (4, "   "),  # whitespace-only doc must NOT be dropped
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r.clean_text
        for r in dedup.excise_repeated_spans(docs, k=8).collect()
    }
    assert got == {
        1: "keep one keep two",
        2: "",
        3: "untouched document stays put",
        4: "",
    }


def test_incremental_near_dup_bipartite(spark):
    """Batch docs match their seen near-originals; batch-vs-batch and
    seen-vs-seen pairs are out of scope; unrelated batch docs match
    nothing. Passing a persisted band state must equal the derived
    one."""
    seen = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "a completely different seen document with other words"),
        ],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (101, "the quick brown fox jumps over the lazy dog today"),
            (102, "nothing in common with anything stored before now"),
            (103, "the quick brown fox jumps over the lazy dog today"),
        ],
        ["doc_id", "text"],
    )
    seen_sets = dedup.shingle_sets(seen)
    batch_sets = dedup.shingle_sets(batch)
    got = {
        (r.new_id, r.seen_id)
        for r in dedup.incremental_near_dup(
            batch_sets, seen_sets, threshold=0.5
        ).collect()
    }
    # 101/103 are near-dups of seen doc 1; the 101-103 batch-internal
    # pair must NOT appear; 102 matches nothing
    assert got == {(101, 1), (103, 1)}
    bands = dedup.lsh_band_keys(
        dedup.minhash_signatures_from_sets(seen_sets, 8), 8, 4
    )
    via_state = {
        (r.new_id, r.seen_id)
        for r in dedup.incremental_near_dup(
            batch_sets, seen_sets, threshold=0.5, seen_bands=bands
        ).collect()
    }
    assert via_state == got


def test_repeated_spans_keep_first_exempts_lowest_doc(spark):
    """keep='first': the lowest-id doc holding each duplicated gram
    keeps its copy — only the higher-id occurrences are listed; and
    excision leaves doc 1 intact while cutting doc 2."""
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, f"intro one two {shared} outro"),
            (2, f"{shared} different ending words here now indeed"),
            (3, "unrelated text " * 8),
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.span_start, r.span_len)
        for r in dedup.repeated_spans(docs, k=8, keep="first").collect()
    }
    assert got == {2: (1, 10)}  # doc 1 (lowest id) keeps its copy
    cleaned = {
        r.doc_id: r.clean_text
        for r in dedup.excise_repeated_spans(docs, k=8, keep="first").collect()
    }
    assert cleaned[1] == f"intro one two {shared} outro"
    assert cleaned[2] == "different ending words here now indeed"


def test_incremental_embedding_near_dup_bipartite(spark):
    """Batch vectors match their rescaled seen originals (cosine 1.0 in
    the same sign bucket); orthogonal batch vectors match nothing;
    seen-vs-seen pairs are out of scope."""
    seen = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    batch = spark.createDataFrame(
        [
            (101, [2.0, 0.0, 0.0, 0.0]),   # rescaled copy of 1
            (102, [0.0, 0.0, 0.0, -1.0]),  # unrelated direction
        ],
        ["vec_id", "embedding"],
    )
    state = similarity.lsh_bucket_state(seen, n_planes=6, dim=4)
    got = {
        (r.new_id, r.seen_id, r.cosine)
        for r in similarity.incremental_embedding_near_dup(
            batch, state, threshold=0.999, n_planes=6, dim=4
        ).collect()
    }
    assert got == {(101, 1, 1.0)}


def test_benchmark_span_overlap_bipartite(spark):
    """Training spans verbatim in the benchmark are listed (merged to
    maximal spans); training-internal repeats and benchmark-internal
    text produce nothing; clean docs stay clean."""
    leak = "alpha beta gamma delta epsilon zeta eta theta iota"
    training = spark.createDataFrame(
        [
            (1, f"own words first {leak} own words after"),
            (2, "fully original training content with no overlap at all here"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(900, f"benchmark question setup {leak} benchmark answer")],
        ["doc_id", "text"],
    )
    got = {
        (r.doc_id, r.span_start, r.span_len)
        for r in dedup.benchmark_span_overlap(training, bench, k=8).collect()
    }
    # leak = 9 tokens at positions 4..12 of doc 1
    assert got == {(1, 4, 9)}


def test_merge_fingerprint_state_gates_second_batch(spark):
    """The exact-dedup ingest loop must EVOLVE: a copy of a batch-1
    accepted doc arriving in batch 2 is caught only by the merged
    state — the frozen state wrongly accepts it."""
    docs = spark.createDataFrame(
        [(1, "aaa bbb ccc"), (2, "ddd eee fff")], ["doc_id", "text"]
    )
    state0 = dedup.fingerprint_groups(docs).select("fp")
    b1 = spark.createDataFrame(
        [(10, "aaa bbb ccc"), (11, "fresh new text one")],
        ["doc_id", "text"],
    )
    acc1 = dedup.incremental_new_docs(b1, state0)
    assert {r.doc_id for r in acc1.collect()} == {11}
    state1 = dedup.merge_fingerprint_state(state0, acc1)
    b2 = spark.createDataFrame(
        [(20, "fresh new text one"), (21, "another fresh doc")],
        ["doc_id", "text"],
    )
    frozen = {r.doc_id for r in dedup.incremental_new_docs(b2, state0).collect()}
    evolved = {r.doc_id for r in dedup.incremental_new_docs(b2, state1).collect()}
    assert frozen == {20, 21}  # the stale gate misses the plant
    assert evolved == {21}


def test_merge_near_dup_state_gates_second_batch(spark):
    """The near-dup ingest loop must EVOLVE: a near-dup of a batch-1
    accepted doc is invisible to the frozen band/set state and caught
    by the merged one."""
    seen = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    seen_sets = dedup.shingle_sets(seen)
    seen_bands = dedup.lsh_band_keys(
        dedup.minhash_signatures_from_sets(seen_sets)
    )
    b1 = spark.createDataFrame(
        [(10, "zebra yak xylophone walrus vulture tiger snake rabbit")],
        ["doc_id", "text"],
    )
    b1_sets = dedup.shingle_sets(b1)
    m1 = dedup.incremental_near_dup(
        b1_sets, seen_sets, threshold=0.5, seen_bands=seen_bands
    )
    assert m1.count() == 0  # batch 1 is genuinely fresh -> accepted
    bands1, sets1 = dedup.merge_near_dup_state(seen_bands, seen_sets, b1_sets)
    b2 = spark.createDataFrame(
        [(20, "zebra yak xylophone walrus vulture tiger snake rabbit extra")],
        ["doc_id", "text"],
    )
    b2_sets = dedup.shingle_sets(b2)
    frozen = dedup.incremental_near_dup(
        b2_sets, seen_sets, threshold=0.5, seen_bands=seen_bands
    )
    evolved = dedup.incremental_near_dup(
        b2_sets, sets1, threshold=0.5, seen_bands=bands1
    )
    assert frozen.count() == 0  # the stale gate misses the plant
    assert {(r.new_id, r.seen_id) for r in evolved.collect()} == {(20, 10)}


def test_merge_bucket_state_gates_second_batch(spark):
    """The embedding ingest loop must EVOLVE: a rescaled copy of a
    batch-1 accepted vector is invisible to the frozen bucket state
    and caught by the merged one."""
    seen = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    state0 = similarity.lsh_bucket_state(seen, n_planes=6, dim=4)
    b1 = spark.createDataFrame(
        [(10, [0.0, 0.0, 1.0, 0.0])], ["vec_id", "embedding"]
    )
    m1 = similarity.incremental_embedding_near_dup(
        b1, state0, threshold=0.999, n_planes=6, dim=4
    )
    assert m1.count() == 0
    state1 = similarity.merge_bucket_state(state0, b1, n_planes=6, dim=4)
    b2 = spark.createDataFrame(
        [(20, [0.0, 0.0, 2.0, 0.0]), (21, [0.0, 0.0, 0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    frozen = similarity.incremental_embedding_near_dup(
        b2, state0, threshold=0.999, n_planes=6, dim=4
    )
    evolved = similarity.incremental_embedding_near_dup(
        b2, state1, threshold=0.999, n_planes=6, dim=4
    )
    assert frozen.count() == 0  # the stale gate misses the plant
    assert {(r.new_id, r.seen_id, r.cosine) for r in evolved.collect()} == {
        (20, 10, 1.0)
    }


def test_ivfpq_rerank_full_coverage_equals_exact_ivf(spark, tmp_path):
    """Structural identity of the rerank stage: with k*rerank large
    enough to cover EVERY candidate in the probed cells, the ADC
    ordering becomes irrelevant and exact-cosine reranking must return
    exactly what exact-cosine IVF serving returns over the same coarse
    quantizer (ivf_build_index and ivfpq_build_index train identical
    k-means centroids for the same (k, iters, corpus) in-session) —
    row-for-row, cosines included. ADC lossiness can only show up
    BELOW full coverage; the oracle-checked `ann_ivfpq_rerank_topk`
    pins that regime."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") < 3)
    p_ivf = str(tmp_path / "ivf")
    p_ivfpq = str(tmp_path / "ivfpq")
    similarity.ivf_build_index(emb, p_ivf, n_centroids=4, dim=8)
    similarity.ivfpq_build_index(
        emb, p_ivfpq, n_centroids=4, m=2, ks=4, dim=8
    )
    exact_ivf = similarity.ivf_topk_from_index(
        spark, p_ivf, q, nprobe=2, k=3
    ).collect()
    # rerank=40 -> k*rerank = 120 >= every probed-cell candidate
    reranked = similarity.ivfpq_rerank_topk_from_index(
        spark, p_ivfpq, q, emb, nprobe=2, k=3, rerank=40
    ).collect()
    assert sorted(map(tuple, reranked)) == sorted(map(tuple, exact_ivf))


def test_lsh_candidate_recall_contract(spark):
    """lsh_candidate_recall: per-threshold truth counts come from the
    exact Jaccard relation, hits only from banding candidates, recall
    is their ratio; thresholds with no truth pairs emit no row."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # dup of 1
            (3, "completely different text with many other words here"),
        ],
        ["doc_id", "text"],
    )
    sets = dedup.shingle_sets(docs)
    got = {
        r.threshold: (r.n_truth, r.n_hits, r.recall)
        for r in dedup.lsh_candidate_recall(
            sets, thresholds=(0.5, 0.9)
        ).collect()
    }
    # only the (1,2) exact-dup pair has jaccard >= 0.5; identical sets
    # band identically, so it is always a candidate
    assert got == {0.5: (1, 1, 1.0), 0.9: (1, 1, 1.0)}


# ---------------------------------------------------------------------------
# blocked Bloom prefilter
# ---------------------------------------------------------------------------


def _bloom_corpus(spark):
    seen_docs = spark.createDataFrame(
        [(i, f"seen document number {i} alpha beta") for i in range(20)],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        # 5 exact copies of seen docs + 10 fresh docs, all fp-unique
        [(100 + i, f"seen document number {i} alpha beta") for i in range(5)]
        + [(200 + i, f"fresh document {i} gamma delta") for i in range(10)],
        ["doc_id", "text"],
    )
    seen = dedup.fingerprint_groups(seen_docs).select("fp")
    return seen_docs, batch, seen


def test_bloom_route_matches_plain_gate(spark):
    """bloom_fresh ∪ verified_fresh must equal incremental_new_docs'
    accepted set — the bloom is a pure prefilter, never a semantics
    change (batch is fp-unique so keep-min is the identity)."""
    _, batch, seen = _bloom_corpus(spark)
    bloom = dedup.bloom_state(seen, n_blocks=8, g=3)
    routed = dedup.route_batch_bloom(batch, bloom, seen, n_blocks=8, g=3)
    accepted_bloom = {
        r.doc_id for r in routed.filter(F.col("route") != "dup").collect()
    }
    accepted_plain = {
        r.doc_id for r in dedup.incremental_new_docs(batch, seen).collect()
    }
    assert accepted_bloom == accepted_plain
    assert len(accepted_plain) == 10


def test_bloom_has_no_false_negatives_even_fully_loaded(spark):
    """With n_blocks=1 every key collides into one word — the bloom
    saturates and routes everything to the exact join, but a seen doc
    can NEVER route bloom_fresh (no false negatives by construction)."""
    _, batch, seen = _bloom_corpus(spark)
    bloom = dedup.bloom_state(seen, n_blocks=1, g=3)
    routed = dedup.route_batch_bloom(batch, bloom, seen, n_blocks=1, g=3)
    rows = {r.doc_id: r.route for r in routed.collect()}
    for i in range(5):
        assert rows[100 + i] == "dup"


def test_merge_bloom_state_equals_bloom_of_union(spark):
    """bit_or-merge of two blooms is exactly the bloom of the union of
    their key sets — the sketch is mergeable, so it rides the same
    append-only per-batch loop as the fingerprint state."""
    a = spark.createDataFrame([(f"k{i}",) for i in range(15)], ["fp"])
    b = spark.createDataFrame([(f"k{i}",) for i in range(10, 30)], ["fp"])
    merged = {
        (r.block_id, r.word)
        for r in dedup.merge_bloom_state(
            dedup.bloom_state(a, n_blocks=8, g=3),
            dedup.bloom_state(b, n_blocks=8, g=3),
        ).collect()
    }
    direct = {
        (r.block_id, r.word)
        for r in dedup.bloom_state(
            a.unionByName(b), n_blocks=8, g=3
        ).collect()
    }
    assert merged == direct


# ---------------------------------------------------------------------------
# scalar quantization (SQ8)
# ---------------------------------------------------------------------------


def _sq_vectors(spark):
    import math

    rows = [
        (i, [math.sin(0.7 * i + 0.3 * j) for j in range(8)])
        for i in range(30)
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_sq_codes_are_bytes_and_recon_in_bounds(spark):
    emb = _sq_vectors(spark)
    bounds = similarity.sq_bounds(emb, dim=8)
    codes = similarity.sq_encode(emb, bounds).collect()
    assert all(0 <= c <= 255 for r in codes for c in r.codes)
    b = bounds.collect()[0]
    # max element must clamp (floor hits 256 exactly at x == max)
    hit255 = any(255 in r.codes for r in codes)
    assert hit255
    assert all(b.mins[j] <= b.maxs[j] for j in range(8))


def test_sq_served_equals_inquery(spark, tmp_path):
    """Serving from the persisted bounds+codes artifact must be
    row-for-row identical to the in-query build — the decode and the
    score fold are the same expressions over the same state."""
    emb = _sq_vectors(spark)
    q = emb.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "sq_idx")
    similarity.sq_build_index(emb, path, dim=8)
    served = sorted(
        map(tuple, similarity.sq_topk_from_index(spark, path, q, k=4).collect())
    )
    inquery = sorted(map(tuple, similarity.sq_topk(emb, q, k=4, dim=8).collect()))
    assert served == inquery
    assert len(served) == 12


def test_ivfsq_served_equals_inquery(spark, tmp_path):
    """IVF-SQ serving from the persisted centroids+bounds+codes
    artifact must be row-for-row identical to the in-query build."""
    emb = _sq_vectors(spark)
    q = emb.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "ivfsq_idx")
    similarity.ivfsq_build_index(emb, path, n_centroids=4, dim=8)
    served = sorted(
        map(
            tuple,
            similarity.ivfsq_topk_from_index(
                spark, path, q, nprobe=2, k=4
            ).collect(),
        )
    )
    inquery = sorted(
        map(
            tuple,
            similarity.ivfsq_topk(
                emb, q, n_centroids=4, nprobe=2, k=4, dim=8
            ).collect(),
        )
    )
    assert served == inquery
    assert len(served) == 12


def test_ivf_append_to_index_equals_frozen_centroid_assignment(spark, tmp_path):
    """Incremental index maintenance: build on batch 1, append batch 2
    under the FROZEN centroids — serving must equal in-query IVF over
    the full corpus with the artifact's centroids injected (exactly
    what build-then-append produces), and the pre-append serve proves
    a frozen index misses batch 2 (evolution, not a no-op)."""
    import numpy as np

    rng = np.random.default_rng(17)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1)
    q = emb.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "ivf_incr")
    similarity.ivf_build_index(b1, path, n_centroids=4, dim=8)
    before = similarity.ivf_topk_from_index(spark, path, q, nprobe=2, k=5).collect()
    assert before and all(r.nbr_id % 2 == 0 for r in before)
    similarity.ivf_append_to_index(spark, path, b2)
    after = similarity.ivf_topk_from_index(spark, path, q, nprobe=2, k=5).collect()
    ref = similarity.ivf_topk(
        emb, q, nprobe=2, k=5,
        centroids=spark.read.parquet(path + "/centroids"),
    ).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, ref))
    assert any(r.nbr_id % 2 == 1 for r in after)
    # every appended vector landed in the inverted file exactly once
    inv = spark.read.parquet(path + "/invfile")
    assert inv.count() == 60
    assert inv.groupBy("nbr_id").count().filter("count > 1").count() == 0


def test_ivfpq_append_to_index_equals_frozen_state_encoding(spark, tmp_path):
    """IVF-PQ twin: append assigns + encodes batch 2 with the
    artifact's frozen coarse centroids AND codebooks; serving equals
    in-query IVF-PQ with both injected."""
    import numpy as np

    rng = np.random.default_rng(29)
    rows = [
        (i, [float((i % 4) * 20 + x) for x in rng.standard_normal(8)])
        for i in range(48)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1)
    q = emb.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "ivfpq_incr")
    similarity.ivfpq_build_index(b1, path, n_centroids=4, m=2, ks=4, dim=8)
    before = similarity.ivfpq_topk_from_index(spark, path, q, nprobe=2, k=5).collect()
    assert before and all(r.nbr_id % 2 == 0 for r in before)
    similarity.ivfpq_append_to_index(spark, path, b2, dim=8)
    after = similarity.ivfpq_topk_from_index(spark, path, q, nprobe=2, k=5).collect()
    ref = similarity.ivfpq_topk(
        emb, q, nprobe=2, m=2, ks=4, k=5, dim=8,
        coarse=spark.read.parquet(path + "/coarse"),
        codebooks=spark.read.parquet(path + "/codebooks"),
    ).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, ref))
    assert any(r.nbr_id % 2 == 1 for r in after)


def test_ivfsq_append_to_index_matches_full_build_on_duplicate_batch(spark, tmp_path):
    """IVF-SQ twin, checked via a constructed equivalence: batch 2
    duplicates batch 1's vectors under larger ids, so full-corpus
    training yields bit-identical centroids (same seeds — lowest ids —
    and duplicate-invariant means) and bit-identical min/max bounds;
    appended serving must therefore equal a from-scratch full build."""
    import numpy as np

    rng = np.random.default_rng(31)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(30)]
    dup = [(100 + i, v) for i, v in rows]
    emb = spark.createDataFrame(rows + dup, ["vec_id", "embedding"])
    b1 = emb.filter(F.col("vec_id") < 100)
    b2 = emb.filter(F.col("vec_id") >= 100)
    q = emb.filter(F.col("vec_id") < 3)
    inc = str(tmp_path / "ivfsq_incr")
    full = str(tmp_path / "ivfsq_full")
    similarity.ivfsq_build_index(b1, inc, n_centroids=4, dim=8)
    before = similarity.ivfsq_topk_from_index(spark, inc, q, nprobe=2, k=5).collect()
    assert before and all(r.nbr_id < 100 for r in before)
    similarity.ivfsq_append_to_index(spark, inc, b2)
    similarity.ivfsq_build_index(emb, full, n_centroids=4, dim=8)
    after = similarity.ivfsq_topk_from_index(spark, inc, q, nprobe=2, k=5).collect()
    ref = similarity.ivfsq_topk_from_index(spark, full, q, nprobe=2, k=5).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, ref))
    # each query's duplicate (vec_id + 100, cosine 1.0) now ranks first
    top1 = {r.query_id: r.nbr_id for r in after if r.rk == 1}
    assert top1 == {qid: qid + 100 for qid in (0, 1, 2)}


def test_embedding_covariance_matches_numpy(spark):
    """Upper-triangle covariance equals numpy's population covariance
    (rounded to the operator's 6 decimals) on a small corpus; output
    is exactly d(d+1)/2 cells."""
    import numpy as np

    from tugas_2_big_data_spark.operators import similarity

    rng = [
        [0.5, -1.0, 2.0, 0.0],
        [1.5, 0.5, -0.5, 1.0],
        [-0.5, 2.0, 0.5, -1.0],
        [0.0, 1.0, 1.0, 0.5],
        [2.0, -0.5, 0.0, 1.5],
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(rng)],
        "vec_id long, embedding array<float>",
    )
    out = {
        (r.i, r.j): r.cov
        for r in similarity.embedding_covariance(df).collect()
    }
    assert len(out) == 4 * 5 // 2
    # numpy sees the float32-truncated values the operator casts up
    m = np.array(rng, dtype=np.float32).astype(np.float64)
    c = np.cov(m, rowvar=False, bias=True)
    for (i, j), cov in out.items():
        assert i <= j
        assert abs(cov - round(float(c[i, j]), 6)) <= 1e-9, (i, j)


def test_rrf_fuse_three_legs_and_missing_ranks(spark):
    """RRF over three legs: scores are exact reciprocal sums over the
    legs where a doc appears; docs missing from a leg contribute 0 for
    it; ordering ties break on id."""
    from tugas_2_big_data_spark.operators import similarity

    leg = lambda rows: spark.createDataFrame(rows, "doc_id long, rank long")
    a = leg([(1, 1), (2, 2), (3, 3)])
    b = leg([(2, 1), (1, 2)])
    c = leg([(4, 1)])
    out = {
        r.doc_id: (r.rrf_score, r.rank_1, r.rank_2, r.rank_3)
        for r in similarity.rrf_fuse([a, b, c], k=10, c=60).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert abs(out[1][0] - (1 / 61 + 1 / 62)) < 1e-12
    assert abs(out[2][0] - (1 / 62 + 1 / 61)) < 1e-12
    assert abs(out[3][0] - 1 / 63) < 1e-12
    assert abs(out[4][0] - 1 / 61) < 1e-12
    assert out[3][1:] == (3, None, None)
    assert out[4][1:] == (None, None, 1)
    # 1 and 2 tie exactly -> id tiebreak puts 1 first
    ordered = [
        r.doc_id
        for r in similarity.rrf_fuse([a, b, c], k=2, c=60).collect()
    ]
    assert ordered == [1, 2]


def test_compact_index_relation_one_file_per_cell_and_identical_serving(
    spark, tmp_path
):
    """After two appends each cell dir holds multiple files; compaction
    leaves exactly one parquet file per cell and serving results are
    row-for-row identical."""
    import glob
    import os

    from tugas_2_big_data_spark.operators import similarity

    vecs = spark.createDataFrame(
        [
            (i, [float((i * 7 + j * 3) % 11) / 10 for j in range(8)], 0)
            for i in range(120)
        ],
        "vec_id long, embedding array<float>, label int",
    )
    b1 = vecs.filter(vecs.vec_id % 3 == 0)
    b2 = vecs.filter(vecs.vec_id % 3 == 1)
    b3 = vecs.filter(vecs.vec_id % 3 == 2)
    path = str(tmp_path / "idx")
    similarity.ivf_build_index(b1, path)
    similarity.ivf_append_to_index(spark, path, b2)
    similarity.ivf_append_to_index(spark, path, b3)
    q = vecs.filter(vecs.vec_id < 3)
    before = sorted(
        (r.query_id, r.nbr_id, r.cosine, r.rk)
        for r in similarity.ivf_topk_from_index(
            spark, path, q, nprobe=2, k=5
        ).collect()
    )
    cell_dirs = glob.glob(os.path.join(path, "invfile", "cid=*"))
    assert cell_dirs
    assert any(
        len(glob.glob(os.path.join(d, "*.parquet"))) > 1 for d in cell_dirs
    ), "appends should have produced multi-file cells"
    similarity.compact_index_relation(spark, path)
    for d in glob.glob(os.path.join(path, "invfile", "cid=*")):
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d
    after = sorted(
        (r.query_id, r.nbr_id, r.cosine, r.rk)
        for r in similarity.ivf_topk_from_index(
            spark, path, q, nprobe=2, k=5
        ).collect()
    )
    assert after == before


def test_ivf_append_ingest_key_is_replay_idempotent(spark, tmp_path):
    """ADVICE r6: a foreachBatch checkpoint replay re-delivering a
    batch must not double-write. With ingest_key the SAME batch
    appended twice lands exactly once (deterministic per-key file
    names overwrite themselves); serving equals the single-append
    result."""
    from tugas_2_big_data_spark.operators import similarity

    vecs = spark.createDataFrame(
        [
            (i, [float((i * 5 + j) % 13) / 12 for j in range(8)], 0)
            for i in range(80)
        ],
        "vec_id long, embedding array<float>, label int",
    )
    b1 = vecs.filter(vecs.vec_id % 2 == 0)
    b2 = vecs.filter(vecs.vec_id % 2 == 1)
    path = str(tmp_path / "idx")
    similarity.ivf_build_index(b1, path)
    similarity.ivf_append_to_index(spark, path, b2, ingest_key="b7")
    once = spark.read.parquet(path + "/invfile").count()
    # replay: identical batch, identical key
    similarity.ivf_append_to_index(spark, path, b2, ingest_key="b7")
    inv = spark.read.parquet(path + "/invfile")
    assert inv.count() == once == 80
    assert inv.groupBy("nbr_id").count().filter("count > 1").count() == 0
    # a DIFFERENT key is a genuine new append, not an overwrite
    similarity.ivf_append_to_index(
        spark, path, b2.limit(0), ingest_key="b8"
    )  # empty: no files, no error
    assert spark.read.parquet(path + "/invfile").count() == 80


def test_ivf_append_replay_sweeps_stale_key_files(spark, tmp_path):
    """ADVICE r7: same-name overwrite is not enough — if an earlier
    attempt left MORE files for the key in a cell (or touched a cell
    the replay skips), the leftovers duplicate rows. A replay must
    fully replace the key's prior footprint; files of OTHER keys —
    including a key the replayed one is a prefix of — must survive."""
    import glob
    import shutil

    from tugas_2_big_data_spark.operators import similarity

    vecs = spark.createDataFrame(
        [
            (i, [float((i * 5 + j) % 13) / 12 for j in range(8)], 0)
            for i in range(80)
        ],
        "vec_id long, embedding array<float>, label int",
    )
    b1 = vecs.filter(vecs.vec_id % 2 == 0)
    b2 = vecs.filter(vecs.vec_id % 2 == 1)
    path = str(tmp_path / "idx")
    similarity.ivf_build_index(b1, path)
    similarity.ivf_append_to_index(spark, path, b2, ingest_key="b1")
    # a different key that shares b1 as a prefix — must NOT be swept
    similarity.ivf_append_to_index(
        spark, path, vecs.filter(vecs.vec_id == 0), ingest_key="b10"
    )
    # simulate a crashed earlier attempt that wrote an extra file for
    # key b1 in some cell
    a_file = sorted(
        glob.glob(path + "/invfile/cid=*/ingest-b1.parquet")
    )[0]
    stale = a_file.replace("ingest-b1.parquet", "ingest-b1-3.parquet")
    shutil.copyfile(a_file, stale)
    assert spark.read.parquet(path + "/invfile").count() > 81
    similarity.ivf_append_to_index(spark, path, b2, ingest_key="b1")
    inv = spark.read.parquet(path + "/invfile")
    assert inv.count() == 81  # 40 + 40 appended + 1 under key b10
    assert inv.groupBy("nbr_id").count().filter("count > 2").count() == 0
    assert glob.glob(path + "/invfile/cid=*/ingest-b10*.parquet")


def test_compact_index_relation_crash_recovery_and_cid_guard(spark, tmp_path):
    """ADVICE r6: (a) a crash between the two swap renames leaves the
    data only in ._precompact — a re-run must restore it, not delete
    the sole copy; (b) a relation without the cid key refuses to
    compact instead of raising TypeError from repartition(*[])."""
    import os

    import pytest

    from tugas_2_big_data_spark.operators import similarity

    vecs = spark.createDataFrame(
        [
            (i, [float((i * 7 + j * 3) % 11) / 10 for j in range(8)], 0)
            for i in range(60)
        ],
        "vec_id long, embedding array<float>, label int",
    )
    path = str(tmp_path / "idx")
    similarity.ivf_build_index(vecs, path)
    rel = os.path.join(path, "invfile")
    n_before = spark.read.parquet(rel).count()
    # simulate the crash window: served path gone, data in ._precompact
    os.rename(rel, rel + "._precompact")
    similarity.compact_index_relation(spark, path)
    assert spark.read.parquet(rel).count() == n_before
    assert not os.path.exists(rel + "._precompact")
    # cid-less relation: explicit refusal
    flat = str(tmp_path / "flat")
    vecs.select("vec_id").write.parquet(flat + "/invfile")
    with pytest.raises(ValueError, match="cid"):
        similarity.compact_index_relation(spark, flat)


def test_kmeans_health_shares_and_cohesion(spark):
    """Health profile invariants: one row per non-empty cell, shares
    sum to 1, counts sum to the corpus, and cohesion beats the
    corpus-wide baseline (members are closer to their OWN centroid
    than the global mean vector is cohesive by construction of
    Lloyd assignment: each member picked this centroid as argmin)."""
    from conftest import SF_UNIT
    from tugas_2_big_data_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", SF_UNIT)
    h = similarity.kmeans_health(emb, k=4, iters=2)
    rows = h.collect()
    assert 1 <= len(rows) <= 4
    assert sum(r.n_vecs for r in rows) == emb.count()
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert -1.0 <= r.mean_cos <= 1.0
    # assignment is argmin over centroids: reassigning any member to a
    # different cell cannot improve cohesion, so every cell's mean
    # cosine to its own centroid must be positive on this corpus
    assert all(r.mean_cos > 0 for r in rows)


def test_contrastive_pairs_planted_geometry(spark):
    """Planted 2-D geometry: the positive must be the same-label
    vector closest in angle, the negative the closest OTHER-label
    vector, and the margin their cosine gap."""
    rows = [
        (0, [1.0, 0.0], "a"),
        (1, [0.9998, 0.02], "a"),   # best positive for 0
        (2, [0.7, 0.7], "a"),
        (3, [0.95, 0.3122], "b"),   # hardest negative for 0
        (4, [0.0, 1.0], "b"),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = {
        r.query_id: r
        for r in similarity.contrastive_pairs(
            df, df.filter(F.col("vec_id") == 0)
        ).collect()
    }
    r = out[0]
    assert r.pos_id == 1 and r.neg_id == 3
    assert r.pos_cos > r.neg_cos > 0
    assert abs(r.margin - (r.pos_cos - r.neg_cos)) < 1e-9
