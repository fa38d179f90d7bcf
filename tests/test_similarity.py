"""Similarity-search operator tests: brute-force exactness + LSH recall."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, IntegerType, LongType, StructField, StructType

from amazon_kinesis_data_analytics_flinktableapi_spark.operators import similarity as S
from amazon_kinesis_data_analytics_flinktableapi_spark.queries import REGISTRY
from tests.conftest import SF_SMOKE

DIM = 16
SCHEMA = StructType([StructField("vec_id", LongType()), StructField("embedding", ArrayType(FloatType()))])


def make_clustered_vectors(spark):
    """10 well-separated cluster centers, 20 points each: near-neighbours
    are *within* a cluster — the regime LSH is built for.  Shared with
    tests/test_quality_gates.py (the 8×16 recall gate runs on BOTH this
    close-pair fixture and the borderline sf0.001 corpus)."""
    rng = np.random.RandomState(42)
    centers = rng.randn(10, DIM) * 4
    rows = []
    for i in range(200):
        c = centers[i % 10]
        rows.append((i, [float(x) for x in c + rng.randn(DIM) * 0.3]))
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture(scope="module")
def vectors(spark):
    return make_clustered_vectors(spark)


def brute_py(rows: list[tuple[int, list[float]]], qid: int, k: int) -> list[int]:
    q = np.array(dict(rows)[qid])
    sims = []
    for cid, v in rows:
        if cid == qid:
            continue
        v = np.array(v)
        sims.append((float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v))), -cid, cid))
    sims.sort(reverse=True)
    return [cid for _, _, cid in sims[:k]]


def test_brute_topk_matches_numpy(vectors):
    rows = [(r.vec_id, r.embedding) for r in vectors.collect()]
    out = S.brute_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=5)
    got = [r.c_id for r in out.orderBy("rn").collect()]
    assert got == brute_py(rows, 0, 5)


def test_brute_topk_cosine_values(vectors):
    out = S.brute_topk(vectors, vectors.filter(F.col("vec_id") == 0), k=5).collect()
    rows = dict((r.vec_id, np.array(r.embedding)) for r in vectors.collect())
    for r in out:
        q, c = rows[0], rows[r.c_id]
        expect = float(q @ c / (np.linalg.norm(q) * np.linalg.norm(c)))
        assert math.isclose(r.cos_sim, expect, abs_tol=1e-5)


def test_lsh_topk_recall(vectors):
    queries = vectors.filter(F.col("vec_id") < 10)
    brute = S.brute_topk(vectors, queries, k=10)
    lsh = S.lsh_topk_det(vectors, queries, k=10, dim=DIM, n_planes=6, n_tables=8)
    bset = {(r.q_id, r.c_id) for r in brute.collect()}
    lset = {(r.q_id, r.c_id) for r in lsh.collect()}
    recall = len(bset & lset) / len(bset)
    assert recall >= 0.6, f"LSH recall@10 too low: {recall}"


def test_ivf_topk_recall(vectors):
    queries = vectors.filter(F.col("vec_id") < 10)
    brute = S.brute_topk(vectors, queries, k=10)
    ivf = S.ivf_topk_det(vectors, queries, k=10, n_centroids=10, nprobe=3)
    bset = {(r.q_id, r.c_id) for r in brute.collect()}
    iset = {(r.q_id, r.c_id) for r in ivf.collect()}
    recall = len(bset & iset) / len(bset)
    # clustered fixture: each query's true neighbours live in its own
    # cluster, and probing 3 of the 10 lists must reach it
    assert recall >= 0.8, f"IVF recall@10 too low: {recall}"


def test_ivf_topk_values_exact_within_probed(vectors):
    # scores it does return must be the exact cosine (verification is exact)
    out = S.ivf_topk_det(vectors, vectors.filter(F.col("vec_id") == 0), k=5, n_centroids=10, nprobe=3)
    rows = dict((r.vec_id, np.array(r.embedding)) for r in vectors.collect())
    for r in out.collect():
        q, c = rows[0], rows[r.c_id]
        expect = float(q @ c / (np.linalg.norm(q) * np.linalg.norm(c)))
        assert math.isclose(r.cos_sim, expect, abs_tol=1e-5)


def test_neardup_pairs_threshold(vectors):
    out = S.neardup_pairs(vectors, threshold=0.9, id_col="vec_id", vec_col="embedding")
    rows = dict((r.vec_id, np.array(r.embedding)) for r in vectors.collect())
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert len(got) > 0
    for a, b in got:
        va, vb = rows[a], rows[b]
        assert va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)) >= 0.9 - 1e-9
        assert a < b


def test_neardup_pairs_lsh_recall_and_precision(vectors):
    # the scale path: every pair it reports must be exact-verified (precision
    # 1.0 vs the brute baseline), recall pinned on the clustered fixture
    exact = {(r.id_a, r.id_b) for r in S.neardup_pairs(vectors, threshold=0.9).collect()}
    lsh_out = S.neardup_pairs_lsh(vectors, threshold=0.9, dim=DIM, n_planes=6, n_tables=8)
    lsh = {(r.id_a, r.id_b) for r in lsh_out.collect()}
    assert lsh <= exact, "LSH reported a pair the exact verifier should have rejected"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.7, f"LSH near-dup recall too low: {recall}"


def test_neardup_pairs_lsh_wide_shape_recall(vectors):
    """The embedding_neardup_wide driver shape (8 planes × 16 tables): on
    the clustered fixture intra-cluster angles are tiny, so even the
    deeper 8-bit sketches keep near-perfect recall — pins the bit-packing
    algebra at a second width (VERDICT r6 #5)."""
    exact = {(r.id_a, r.id_b) for r in S.neardup_pairs(vectors, threshold=0.9).collect()}
    lsh_out = S.neardup_pairs_lsh(vectors, threshold=0.9, dim=DIM, n_planes=8, n_tables=16)
    lsh = {(r.id_a, r.id_b) for r in lsh_out.collect()}
    assert lsh <= exact, "wide-shape LSH reported a pair exact verify should reject"
    assert len(lsh & exact) / len(exact) >= 0.9


def test_neardup_pairs_lsh_no_nested_loop(vectors):
    # the whole point of the bucketed path: candidate generation is an
    # equi-join on (table, sketch) — no cartesian/nested-loop join anywhere
    plan = S.neardup_pairs_lsh(vectors, threshold=0.9, dim=DIM)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_lsh_topk_det_recall_and_values(vectors):
    """The deterministic (oracle-checkable) LSH variant: candidate top-k
    values are exact cosines, recall vs brute force holds on clustered
    data, and repeated runs are bit-identical."""
    queries = vectors.filter(F.col("vec_id") < 10)
    brute = S.brute_topk(vectors, queries, k=10)
    det = S.lsh_topk_det(vectors, queries, k=10, dim=DIM, n_planes=6, n_tables=8)
    b = {(r.q_id, r.c_id) for r in brute.collect()}
    d1 = {(r.q_id, r.c_id, r.cos_sim, r.rn) for r in det.collect()}
    d2 = {(r.q_id, r.c_id, r.cos_sim, r.rn) for r in S.lsh_topk_det(
        vectors, queries, k=10, dim=DIM, n_planes=6, n_tables=8).collect()}
    assert d1 == d2, "deterministic variant must be run-to-run identical"
    hits = {(q, c) for q, c, _, _ in d1}
    assert len(hits & b) / len(b) >= 0.6
    # every reported cosine must be the exact value (verified, not sketched)
    rows = dict((r.vec_id, np.array(r.embedding)) for r in vectors.collect())
    for q, c, sim, _rn in list(d1)[:20]:
        expect = float(rows[q] @ rows[c] / (np.linalg.norm(rows[q]) * np.linalg.norm(rows[c])))
        assert math.isclose(sim, expect, abs_tol=1e-5)


def test_ivf_topk_det_deterministic_and_exact_within_probes(vectors):
    """The deterministic IVF variant: run-to-run identical, and reported
    neighbours are exact cosines drawn from the probed lists."""
    queries = vectors.filter(F.col("vec_id") == 0)
    a = [(r.q_id, r.c_id, r.cos_sim, r.rn) for r in S.ivf_topk_det(
        vectors, queries, k=5, n_centroids=10, nprobe=3).orderBy("rn").collect()]
    b = [(r.q_id, r.c_id, r.cos_sim, r.rn) for r in S.ivf_topk_det(
        vectors, queries, k=5, n_centroids=10, nprobe=3).orderBy("rn").collect()]
    assert a == b
    assert len(a) == 5
    rows = dict((r.vec_id, np.array(r.embedding)) for r in vectors.collect())
    for q, c, sim, _rn in a:
        expect = float(rows[q] @ rows[c] / (np.linalg.norm(rows[q]) * np.linalg.norm(rows[c])))
        assert math.isclose(sim, expect, abs_tol=1e-5)


def test_ivf_topk_det_recall(vectors):
    queries = vectors.filter(F.col("vec_id") < 10)
    brute = S.brute_topk(vectors, queries, k=10)
    det = S.ivf_topk_det(vectors, queries, k=10, n_centroids=10, nprobe=3)
    b = {(r.q_id, r.c_id) for r in brute.collect()}
    d = {(r.q_id, r.c_id) for r in det.collect()}
    recall = len(d & b) / len(b)
    # clustered fixture: each query's true neighbours live in its own
    # cluster, and probing 3 lists must reach it
    assert recall >= 0.8, f"IVF recall@10 too low: {recall}"


def test_semantic_dedup_invariants(spark):
    """After pruning, no two kept vectors in the same cluster are near-
    duplicates, and every dropped vector has a smaller-id kept-or-dropped
    near-duplicate justifying the drop; the result is deterministic."""
    from pyspark.sql import functions as F

    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.similarity import cosine, semantic_dedup
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import read_table
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    kept = semantic_dedup(emb, threshold=0.35, n_centroids=8)
    k = kept.cache()
    n_kept, n_all = k.count(), emb.count()
    assert 0 < n_kept <= n_all
    # no surviving intra-cluster pair at/above the threshold
    ka = k.join(emb, "vec_id").select(
        F.col("vec_id").alias("id_a"), F.col("cluster"), F.col("embedding").alias("ea")
    )
    kb = ka.select(
        F.col("id_a").alias("id_b"), F.col("cluster"), F.col("ea").alias("eb")
    )
    offenders = (
        ka.join(kb, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine("ea", "eb") >= 0.35)
    )
    assert offenders.count() == 0
    # deterministic: a second run returns the identical kept set
    again = semantic_dedup(emb, threshold=0.35, n_centroids=8)
    assert sorted(r.vec_id for r in k.collect()) == sorted(r.vec_id for r in again.collect())


def test_lsh_plane_count_bounded():
    """Sketches bit-pack one bit per plane into an int64 — 63+ planes
    would wrap the shift silently and alias distinct buckets."""
    import pytest

    with pytest.raises(ValueError, match="n_planes"):
        S.neardup_lsh_planes(n_planes=63)
    with pytest.raises(ValueError, match="n_planes"):
        S.neardup_lsh_planes(n_planes=0)
    with pytest.raises(ValueError, match="n_tables"):
        S.neardup_lsh_planes(n_tables=0)
    assert len(S.neardup_lsh_planes(n_planes=62, n_tables=1)[0]) == 62


def test_lsh_neardup_tolerates_null_embeddings(spark):
    """Review fix: a NULL embedding must yield a NULL sketch (the HOF
    form's semantics) instead of np.stack killing the whole task."""
    import pyspark.sql.functions as F

    base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(40)
    with_null = base.select(
        "vec_id",
        F.when(F.col("vec_id") % 17 == 0, F.lit(None)).otherwise(F.col("embedding")).alias("embedding"),
        "label",
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.similarity import neardup_pairs_lsh

    # must complete; NULL-embedding rows simply generate no candidates
    assert neardup_pairs_lsh(with_null, threshold=0.3).count() >= 0


# ---------------------------------------------------------------- auto-sizing


def test_auto_sizing_rules():
    """The documented growth rules, now computed (VERDICT r12 #6)."""
    # log2(n / 4096) clamped to [4, 24]
    assert S.auto_n_planes(0) == 4
    assert S.auto_n_planes(2_000) == 4           # fixture scale -> lo clamp
    assert S.auto_n_planes(4096 * 2**10) == 10
    assert S.auto_n_planes(10**9) == 18          # the docstring's example
    assert S.auto_n_planes(10**12) == 24         # hi clamp
    # sqrt(n) clamped to [16, 4096]
    assert S.auto_n_centroids(0) == 16
    assert S.auto_n_centroids(200) == 16         # lo clamp
    assert S.auto_n_centroids(1_000_000) == 1000
    assert S.auto_n_centroids(10**9) == 4096     # hi clamp
    # monotone non-decreasing in n (spot grid)
    for fn in (S.auto_n_planes, S.auto_n_centroids):
        vals = [fn(n) for n in (10, 10**3, 10**5, 10**7, 10**9, 10**11)]
        assert vals == sorted(vals), (fn.__name__, vals)


def test_auto_nprobe_rule_two_corpus_sizes():
    """VERDICT r13 #1: default nprobe scales with sqrt(lists), pinned at
    the two measured SCALING.md corpus sizes (sf0.1 -> 45 lists, derived
    sf1 -> 90) plus the clamps.  The probed FRACTION sqrt(l)/l decays
    only as 1/sqrt(l) instead of 1/l, which is what holds recall ~flat
    per decade at auto settings."""
    assert S.auto_nprobe(16) == 4          # lo clamp == fixture default
    assert S.auto_nprobe(45) == 7          # sf0.1 auto index
    assert S.auto_nprobe(90) == 10         # sf1 auto index
    assert S.auto_nprobe(4096) == 64       # hi auto-list cap
    assert S.auto_nprobe(1) == 1           # never probes more lists than exist
    assert S.auto_nprobe(3) == 3
    # monotone non-decreasing in lists
    vals = [S.auto_nprobe(n) for n in (1, 4, 16, 64, 256, 1024, 4096)]
    assert vals == sorted(vals)


def test_matrix_kernels_empty_batch_and_nulls():
    """ADVICE r13: an empty Arrow batch made the None-mask comprehension
    infer dtype float64, so `~mask` raised TypeError inside the task.
    Pin empty, all-NULL, and mixed batches on the shared kernels
    directly: a NULL row scores every dot/distance 0, so it takes the
    smallest ids (callers needing a NULL bucket mask the row)."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.clustering import (
        _codebook,
        _dot_topn_batch,
        _sq_argmin_batch,
    )

    cb = _codebook([(7, [1, 0]), (9, [0, 1])])
    empty = np.array([], dtype=object)
    assert list(_dot_topn_batch(empty, cb, 1)) == []
    assert list(_dot_topn_batch(empty, cb, 2)) == []
    assert _sq_argmin_batch(empty, _codebook([(0, [1, 0])]))[0].shape == (1, 0)
    allnull = np.array([None, None], dtype=object)
    assert [list(p) for p in _dot_topn_batch(allnull, cb, 1)] == [[7], [7]]
    assert [list(p) for p in _dot_topn_batch(allnull, cb, 2)] == [[7, 9], [7, 9]]
    pos, dist = _sq_argmin_batch(allnull, _codebook([(0, [1, 0]), (1, [0, 1])]))
    assert pos.tolist() == [[0, 0]] and dist.tolist() == [[0, 0]]
    mixed = np.array([None, np.array([2, 1]), np.array([1, 3])], dtype=object)
    assert [list(p) for p in _dot_topn_batch(mixed, cb, 1)] == [[7], [7], [9]]


def _make_clusters(spark, n, seed):
    """Clustered corpus of size n (n//20 clusters x 20 points)."""
    rng = np.random.RandomState(seed)
    centers = rng.randn(max(n // 20, 1), DIM) * 4
    rows = [
        (i, [float(x) for x in centers[i % len(centers)] + rng.randn(DIM) * 0.3])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, SCHEMA)


@pytest.mark.parametrize("n", [200, 800])
def test_lsh_topk_autosized_recall_two_corpus_sizes(spark, n):
    """Recall of the AUTO-SIZED path pinned at two corpus sizes
    (VERDICT r12 #6 'test pinning recall at two corpus sizes'): a naive
    caller passing no sizing params gets a working index at either
    scale.  n_tables raised where auto planes exceed the fixture default
    density (recall is a planes/tables trade — auto sizes planes for
    bucket COST; the caller still owns the recall dial)."""
    vectors = _make_clusters(spark, n, seed=7)
    queries = vectors.filter(F.col("vec_id") < 10)
    brute = {(r.q_id, r.c_id) for r in S.brute_topk(vectors, queries, k=10).collect()}
    lsh = {
        (r.q_id, r.c_id)
        for r in S.lsh_topk_det(vectors, queries, k=10, dim=DIM, n_tables=8).collect()
    }
    assert len(lsh & brute) / len(brute) >= 0.6, f"auto-sized recall floor at n={n}"


def test_ivf_topk_autosized_recall_two_corpus_sizes(spark):
    """Same pin for auto-sized IVF (n_centroids=None -> sqrt rule), now
    FULLY auto: nprobe also defaults (None -> auto_nprobe sqrt-of-lists,
    VERDICT r13 #1), so this pins the naive caller's end-to-end recall
    at two corpus sizes with zero tuning parameters."""
    for n in (200, 800):
        vectors = _make_clusters(spark, n, seed=11)
        queries = vectors.filter(F.col("vec_id") < 10)
        brute = {(r.q_id, r.c_id) for r in S.brute_topk(vectors, queries, k=10).collect()}
        ivf = {
            (r.q_id, r.c_id)
            for r in S.ivf_topk_det(vectors, queries, k=10).collect()
        }
        assert len(ivf & brute) / len(brute) >= 0.6, f"auto-sized IVF recall floor at n={n}"


def test_pq_adc_autosized_recall_two_corpus_sizes(spark):
    """PQ twin of the IVF pin above (VERDICT r14 #5): ADC top-k recall
    at the registry's default codebook sizing (n_subspaces=4, n_codes=8)
    pinned at two corpus sizes.  Unlike IVF — whose probe budget must
    grow with the list count — a PQ codebook's distortion tracks the
    DATA DISTRIBUTION, not the corpus size: quantization error per
    sub-vector depends on how well n_codes entries cover the subspace,
    and adding more vectors drawn from the same clusters changes
    nothing.  So the scale rule for PQ is 'hold codebook size, recall
    holds'; this pins it (floor at both sizes AND drift between the two
    sizes bounded) so a regression in codebook init or sub-slicing
    surfaces as a recall cliff here."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.clustering import pq_adc_topk

    recalls = {}
    for n in (200, 800):
        vectors = _make_clusters(spark, n, seed=13)
        queries = vectors.filter(F.col("vec_id") < 10)
        brute = {(r.q_id, r.c_id) for r in S.brute_topk(vectors, queries, k=10).collect()}
        adc = {
            (r.q_id, r.c_id)
            for r in pq_adc_topk(vectors, queries, k=10).collect()
        }
        recalls[n] = len(adc & brute) / len(brute)
        assert recalls[n] >= 0.5, f"default-codebook ADC recall floor at n={n}"
    assert abs(recalls[200] - recalls[800]) <= 0.15, (
        f"ADC recall drifted across the 4x corpus growth: {recalls}"
    )


def _rows(df) -> dict:
    return {r.vec_id: None if r.embedding is None else list(r.embedding) for r in df.collect()}


def test_ivf_topk_det_matches_reference(vectors):
    """Assignment and probing through the shared dot top-n kernel must
    reproduce the straight-line det-IVF definition exactly (integer dots,
    ties toward the smaller centroid id), cosine to the 6th decimal."""
    from tests.test_clustering import _cosine, ref_ivf_topk_det

    queries = vectors.filter(F.col("vec_id") < 5)
    got = S.ivf_topk_det(vectors, queries, k=10, n_centroids=12, nprobe=3).collect()
    vecs = _rows(vectors)
    assert {(r.q_id, r.c_id, r.rn) for r in got} == ref_ivf_topk_det(
        vecs, list(range(5)), k=10, n_centroids=12, nprobe=3
    )
    for r in got:
        assert r.cos_sim == pytest.approx(_cosine(vecs[r.q_id], vecs[r.c_id]), abs=1e-6)


def test_semantic_dedup_matches_reference(spark):
    from tests.test_clustering import ref_semantic_dedup

    vectors = _make_clusters(spark, 300, seed=23)
    got = {(r.vec_id, r.cluster) for r in S.semantic_dedup(vectors, n_centroids=12).collect()}
    assert got == ref_semantic_dedup(_rows(vectors), threshold=0.35, n_centroids=12) and got


def _vectors_with_null(spark, n=120, dim=8):
    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.randn(dim)]) for i in range(n)]
    rows.append((n, None))  # the hostile row
    schema = StructType(
        [StructField("vec_id", LongType()), StructField("embedding", ArrayType(FloatType()))]
    )
    return spark.createDataFrame(rows, schema)


def test_ivf_kernels_tolerate_null_embeddings(spark):
    """code-review r13 #1: np.stack over a batch containing None killed the
    task.  A NULL embedding must keep each caller's contract:
    ``ivf_topk_det`` puts it in the smallest-id list (it can never rank,
    its cosine is NULL) and ``semantic_dedup`` keeps it in the
    smallest-id cluster."""
    from tests.test_clustering import ref_semantic_dedup

    vecs = _vectors_with_null(spark)
    queries = vecs.filter(F.col("vec_id") < 3)
    out = S.ivf_topk_det(vecs, queries, k=5, n_centroids=12, nprobe=3).collect()
    assert out and all(r.c_id != 120 and r.q_id != 120 for r in out)
    kept = {(r.vec_id, r.cluster) for r in S.semantic_dedup(vecs, threshold=0.99, n_centroids=12).collect()}
    assert kept == ref_semantic_dedup(_rows(vecs), threshold=0.99, n_centroids=12)
    assert (120, 0) in kept


def test_ann_int8_topk_overlap_vs_exact_dot(spark):
    """Quantization-quality pin for the int8 search (r15): per-vector
    max-abs int8 codes must preserve the exact-double-dot top-10 almost
    entirely on the smoke corpus (measured 1.0 overlap on all 5 probe
    queries at add time; floor 0.8 leaves room for fixture regeneration).
    The SQL oracle proves both ENGINES agree; this proves the integer
    SURROGATE agrees with the float ranking it approximates."""
    import numpy as np
    import pyarrow.parquet as papq

    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import REGISTRY
    from tests.conftest import SF_SMOKE

    t = papq.read_table(f"{SF_SMOKE}/embeddings.parquet").to_pandas()
    vecs = {
        int(r.vec_id): np.asarray(list(r.embedding), dtype=np.float64)
        for r in t.itertuples()
        if r.embedding is not None and np.all(np.isfinite(list(r.embedding)))
    }
    rows = REGISTRY["ann_int8_topk"].fn(spark, SF_SMOKE).collect()
    got: dict[int, set[int]] = {}
    for r in rows:
        got.setdefault(r.q_id, set()).add(r.c_id)
    assert got, "int8 search returned nothing"
    for q, cand in got.items():
        scores = sorted(
            ((vecs[q] @ v, c) for c, v in vecs.items() if c != q),
            key=lambda s: (-s[0], s[1]),
        )
        exact = {c for _, c in scores[:10]}
        assert len(cand & exact) / len(exact) >= 0.8, f"int8 top-10 drifted for q={q}"


def test_hybrid_rrf_matches_straightline_fusion(spark):
    """Fuse the two arms' OWN outputs in plain Python and compare: the
    query's fused ranking, for EVERY query vector of the 5-query frame
    (r16 widening), must equal RRF over (bm25 top-20, that vector's
    cosine top-20) computed independently from the collected arm
    results."""
    lex_rows = sorted(
        REGISTRY["bm25_rank"].fn(spark, SF_SMOKE).collect(),
        key=lambda r: (-r.bm25_score, r.doc_id),
    )[:20]
    lex_rank = {r.doc_id: i + 1 for i, r in enumerate(lex_rows)}
    from pyspark.sql import functions as F

    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.scalar import (
        swallow_malformed_embeddings,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators import similarity as S
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import load

    (emb,) = load(spark, SF_SMOKE, "embeddings")
    emb = swallow_malformed_embeddings(emb)
    sem_rank: dict[int, dict[int, int]] = {q: {} for q in range(5)}
    for r in S.brute_topk(emb, emb.filter(F.col("vec_id") < 5), k=20).collect():
        sem_rank[r.q_id][r.c_id] = r.rn
    got_rows = REGISTRY["hybrid_search_rrf"].fn(spark, SF_SMOKE).collect()
    assert sorted({r.q_id for r in got_rows}) == list(range(5))
    for q in range(5):
        ids = set(lex_rank) | set(sem_rank[q])
        fused = {
            i: (1_000_000 // (60 + lex_rank[i]) if i in lex_rank else 0)
            + (1_000_000 // (60 + sem_rank[q][i]) if i in sem_rank[q] else 0)
            for i in ids
        }
        want = sorted(ids, key=lambda i: (-fused[i], i))[:10]
        got = [
            (r.doc_id, r.rrf_micro)
            for r in sorted(
                (r for r in got_rows if r.q_id == q), key=lambda r: r.fused_rank
            )
        ]
        assert [d for d, _ in got] == want, f"q_id={q}"
        assert all(s == fused[d] for d, s in got), f"q_id={q}"


def test_lsh_det_arrow_sketches_match_hof_including_null(spark):
    """The r17 cut on ``lsh_topk_det``: the per-plane interpreted
    ``quantized_sketch`` HOF forest is replaced by one Arrow matmul per
    batch (``quantized_sketches_all`` + posexplode).  The (id, t, sk)
    bucket placement must be bit-identical to the HOF form for every
    row INCLUDING a NULL vector, which the HOF form buckets at sketch 0
    per table (posexplode of a NULL array would instead drop the row —
    the coalesce in ``sketched`` preserves the old placement)."""
    from pyspark.sql import functions as F

    import amazon_kinesis_data_analytics_flinktableapi_spark.operators.similarity as S

    tables = S.neardup_lsh_planes(dim=8, n_planes=5, n_tables=3, seed=13)
    rows = [(i, [((i * 7 + j * 3) % 11 - 5) / 4.0 for j in range(8)]) for i in range(40)]
    rows.append((99, None))
    df = spark.createDataFrame(rows, "id long, embedding array<double>")
    base = df.select("id", S.quantized("embedding").alias("qv"))

    hof = base.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("t"), S.quantized_sketch("qv", p).alias("sk"))
                    for t, p in enumerate(tables)
                ]
            )
        ).alias("b"),
    ).select("id", "b.t", "b.sk")
    zeros = F.array(*[F.lit(0).cast("long") for _ in tables])
    arrow = base.select(
        "id",
        F.posexplode(F.coalesce(S.quantized_sketches_all("qv", tables), zeros)).alias("t", "sk"),
    )
    got = sorted(tuple(r) for r in arrow.collect())
    want = sorted(tuple(r) for r in hof.collect())
    assert got == want
    assert (99, 0, 0) in got  # the NULL row kept its HOF bucket placement
