"""Regression gates for the measured approximation quality (VERDICT r7 #8).

The engine MEASURES its approximate operators in-engine
(``ann_recall_report``, ``minhash_accuracy_report``), but until now the
pass bar lived only in the driver's oracle compare — which pins the
NUMBERS at one configuration, not the QUALITY.  A constant tweak that
degraded recall would re-hash cleanly and slip through as a "working"
query.  These tests put explicit floors/ceilings on the measured quality
at the attested configurations, so a degradation fails a named test
rather than (or before) a hash diff.

Thresholds come from measured values with slack for estimator variance,
never tuned to barely pass: ann IVF recall measures 800-900‰ here
(floor 700‰/800‰ mean); MinHash@64 σ = √(j(1-j)/64) ≈ 54‰ at j≈0.75
(ceiling 250‰ ≈ 4.6σ per pair, 80‰ mean); doubling perms to 128 halves
the variance (mean ceiling 60‰).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from amazon_kinesis_data_analytics_flinktableapi_spark.queries import REGISTRY
from tests.conftest import SF_ORACLE, SF_SMOKE


def test_ann_recall_report_gate(spark):
    """IVF top-10 recall vs the exact brute-force baseline, as the engine
    itself reports it (nprobe=4 of 16 centroids)."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import all_specs

    rows = all_specs()["ann_recall_report"].fn(spark, SF_ORACLE).collect()
    assert len(rows) == 5  # one per query vector
    recalls = [r["recall_permille"] for r in rows]
    assert min(recalls) >= 700, f"per-query IVF recall floor breached: {recalls}"
    assert sum(recalls) / len(recalls) >= 800, f"mean IVF recall degraded: {recalls}"


def test_minhash_accuracy_report_gate(spark):
    """MinHash@64 Jaccard estimate vs exact shingle Jaccard on the planted
    copy pairs, as the engine itself reports it."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import all_specs

    rows = all_specs()["minhash_accuracy_report"].fn(spark, SF_ORACLE).collect()
    assert rows, "no planted pairs measured"
    errs = [r["err_permille"] for r in rows]
    assert max(errs) <= 250, f"worst-pair MinHash error beyond ~4.6 sigma: {max(errs)}"
    assert sum(errs) / len(errs) <= 80, f"mean MinHash error degraded: {sum(errs)/len(errs)}"


def test_minhash_accuracy_gate_second_shape(spark):
    """The r7-attested second banding shape reads 128-perm signatures; the
    estimator variance must actually shrink with the extra perms (σ ∝
    1/√num_perm), not just produce different numbers."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators import dedup as D
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries.llm import (
        COPY_OFFSET,
        _docs_with_neardup_copies,
    )

    corpus = _docs_with_neardup_copies(spark, SF_ORACLE)
    sigs = D.minhash_signatures(corpus, "doc_id", "text", n=3, num_perm=128)
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sa"))
    b = sigs.select(
        (F.col("doc_id") - COPY_OFFSET).alias("id_a"),
        F.col("doc_id").alias("id_b"),
        F.col("sig").alias("sb"),
    )
    est = a.join(b, "id_a").select(
        "id_a",
        "id_b",
        (
            F.size(F.filter(F.zip_with("sa", "sb", lambda x, y: x == y), lambda t: t))
            * 1000
            / 128
        ).alias("est_pm"),
    )
    sets = D.shingle_sets(corpus, "doc_id", "text", n=3)
    xa = sets.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    xb = sets.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    rows = (
        est.join(xa, "id_a")
        .join(xb, "id_b")
        .select(
            F.abs(
                F.col("est_pm")
                - F.expr(
                    "size(array_intersect(sh_a, sh_b)) * 1000 / "
                    "(size(sh_a) + size(sh_b) - size(array_intersect(sh_a, sh_b)))"
                )
            ).alias("err_pm")
        )
        .collect()
    )
    errs = [r["err_pm"] for r in rows]
    assert max(errs) <= 200, f"128-perm worst-pair error: {max(errs)}"
    assert sum(errs) / len(errs) <= 60, f"128-perm mean error: {sum(errs)/len(errs)}"


def test_embedding_neardup_recall_gate_both_attested_shapes(spark):
    """Recall of the LSH-bucketed near-dup pairs against the exact cosine
    baseline ON THE DRIVER-ATTESTED DATA (sf0.001 embeddings, threshold
    0.35) at BOTH attested shapes — embedding_neardup's default
    (4 planes × 16 tables) and embedding_neardup_wide's (8 × 16).
    Precision is 1.0 by construction (exact verify on candidates), so
    recall is the only quality axis a constant tweak can silently move."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators import similarity as S
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import read_table

    emb = read_table(spark, SF_ORACLE, "embeddings")
    exact = {
        (r["id_a"], r["id_b"])
        for r in S.neardup_pairs(emb, threshold=0.35).collect()
    }
    assert exact, "fixture should contain near-dup pairs at t=0.35"
    # Floors are measured-with-slack on THIS corpus, whose pairs all sit in
    # the borderline 0.35-0.5 cosine band (none above 0.5) — the LSH worst
    # case, since wide angles split across hyperplanes.  Measured: 0.879 at
    # 4×16, 0.300 at 8×16 (8 planes halve each bucket's collision odds on
    # borderline pairs; the wide shape's production recall on genuinely
    # CLOSE near-dups is pinned ≥ high on the clustered fixture in
    # test_similarity.py).  The floors catch the catastrophic class — a
    # sketch/bit-pack/quantization bug sends recall to ~0, not to 0.8×.
    for n_planes, n_tables, floor in [(4, 16, 0.80), (8, 16, 0.20)]:
        got = {
            (r["id_a"], r["id_b"])
            for r in S.neardup_pairs_lsh(
                emb, threshold=0.35, n_planes=n_planes, n_tables=n_tables
            ).collect()
        }
        assert got <= exact, f"precision breach at {n_planes}x{n_tables}: {got - exact}"
        recall = len(got & exact) / len(exact)
        assert recall >= floor, (
            f"LSH near-dup recall at {n_planes} planes x {n_tables} tables "
            f"degraded: {recall:.3f} < {floor}"
        )


def test_approx_sketches_error_gate(spark):
    """VERDICT r8 #2 companion: beyond the driver row's boolean verdicts
    (approx_sketches_bounds — TRUE/FALSE inside 5σ-with-floor bounds),
    pin the MEASURED sketch error well inside those bounds so gradual
    degradation fails here before it ever flips a driver boolean."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import all_specs

    specs = all_specs()
    verdicts = specs["approx_sketches_bounds"].fn(spark, SF_ORACLE).collect()
    assert len(verdicts) == 5
    for r in verdicts:
        assert r["hll_in_bounds"] and r["q50_in_bounds"] and r["q95_in_bounds"] and r["q99_in_bounds"], (
            f"sketch estimate outside its proven bound: {r}"
        )
    # measured PORTABLE-HLL error (approx_sketches is the m=1024
    # literal-register-layout sketch since r11): linear-counting regime at
    # these cardinalities → measured ≤2.5% rel at 150/1500 distinct, ±1
    # absolute at 15 distinct (one register collision).  Gate: 4% relative
    # with a +2 absolute floor for tiny groups — looser than measured,
    # far tighter than a broken sketch (wrong rho, dropped registers,
    # double-counted sum) can pass.
    est = {r["event_type"]: r["approx_users"] for r in specs["approx_sketches"].fn(spark, SF_ORACLE).collect()}
    exact = {r["event_type"]: r["exact_users"] for r in verdicts}
    errs = {t: abs(est[t] - exact[t]) for t in exact}
    bad = {t: e for t, e in errs.items() if e > max(0.04 * exact[t], 2)}
    assert not bad, f"portable HLL error degraded: {bad} (exact={exact}, est={est})"


def test_embedding_neardup_wide_shape_clustered_gate(spark):
    """VERDICT r8 #8: the 0.20 floor on the borderline sf0.001 fixture
    only catches catastrophic 8×16 regressions.  On the clustered
    close-pair fixture intra-cluster angles are tiny, so the wide shape's
    recall is near-perfect — gate it at 0.90 so MID-SIZE degradations
    (a sketch off by one plane, a table under-probed) also fail a named
    quality test."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators import similarity as S
    from tests.test_similarity import DIM, make_clustered_vectors

    vectors = make_clustered_vectors(spark)
    exact = {(r["id_a"], r["id_b"]) for r in S.neardup_pairs(vectors, threshold=0.9).collect()}
    assert exact, "clustered fixture should contain close pairs at t=0.9"
    got = {
        (r["id_a"], r["id_b"])
        for r in S.neardup_pairs_lsh(
            vectors, threshold=0.9, dim=DIM, n_planes=8, n_tables=16
        ).collect()
    }
    assert got <= exact, f"precision breach on clustered fixture: {got - exact}"
    recall = len(got & exact) / len(exact)
    assert recall >= 0.90, f"8x16 close-pair recall degraded: {recall:.3f}"


def test_temperature_mixture_rates_follow_sqrt_target(spark):
    """temperature_mixture_sample (tau=2) must actually reshape the
    mixture: the rarest source keeps everything (rate 1000), keep rates
    are non-increasing in source share, and every rate matches the
    closed-form floor(sqrt-boost / max-boost * 1000) recomputed here
    from exact counts — so a broken normalization or an accidental
    pow() swap (not correctly rounded, engine-divergent) fails a named
    gate, not just the oracle hash."""
    import math

    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import REGISTRY
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import read_table
    from tests.conftest import SF_ORACLE

    docs = read_table(spark, SF_ORACLE, "documents")
    counts = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").count().withColumnRenamed("count", "n").collect()
        if r["source"] is not None
    }
    n = sum(counts.values())
    boost = {s: math.sqrt(c / n) / (c / n) for s, c in counts.items()}
    mb = max(boost.values())
    want = {s: int(math.floor(b / mb * 1000)) for s, b in boost.items()}

    out = REGISTRY["temperature_mixture_sample"].fn(spark, SF_ORACLE).collect()
    got = {}
    for r in out:
        got.setdefault(r["source"], r["rate_permille"])
        assert got[r["source"]] == r["rate_permille"]  # one rate per source
    assert got == {s: w for s, w in want.items() if w > 0}, (got, want)
    # the rarest source is never downsampled…
    rarest = min(counts, key=counts.get)
    assert want[rarest] == 1000
    # …and rates are non-increasing in share
    by_share = sorted(counts, key=counts.get)
    rates = [want[s] for s in by_share]
    assert rates == sorted(rates, reverse=True), rates


def test_temperature_mixture_excludes_null_sources(spark, tmp_path):
    """ADVICE r11 semantics, pinned on purpose-built data: NULL-source
    rows never reach the output AND never dilute the normalization — the
    rarest REAL source keeps rate 1000 even when the NULL group is
    rarer than every real source."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import REGISTRY

    rows = []
    # NULL group of size 1 (rarest overall), then a 2/8/32 real skew
    sources = [None] + ["rare"] * 2 + ["mid"] * 8 + ["hot"] * 32
    for i, s in enumerate(sources):
        rows.append({"doc_id": i, "text": f"doc {i}", "lang": "en", "source": s, "n_chars": 5})
    pdf = pd.DataFrame(rows)
    pq.write_table(pa.Table.from_pandas(pdf), tmp_path / "documents.parquet")

    out = REGISTRY["temperature_mixture_sample"].fn(spark, str(tmp_path)).collect()
    assert all(r["source"] is not None for r in out)
    rates = {}
    for r in out:
        rates.setdefault(r["source"], r["rate_permille"])
        assert rates[r["source"]] == r["rate_permille"]
    # rarest REAL source keeps everything despite the rarer NULL group
    assert rates.get("rare", 1000) == 1000  # rate must BE 1000 if any rare row survives
    # with n=2 of 42 and rate 1000, both rare rows survive the Bernoulli
    assert sum(1 for r in out if r["source"] == "rare") == 2
    # monotone: hotter sources are suppressed at least as hard
    if "mid" in rates and "hot" in rates:
        assert rates["rare"] >= rates["mid"] >= rates["hot"]


def test_band_sweep_recall_monotone_in_bands(spark):
    """S-curve sanity on the report itself: at equal rows-per-band, MORE
    bands can only widen the candidate net — so 64/16 (16 bands × 4
    rows) must recall at least as many planted pairs as 32/8 (8 bands ×
    4 rows is a SUBSET of band structure drawn from fewer perms, so we
    assert the weaker but always-true property: candidates(64/16) ≥
    candidates(32/8) is NOT guaranteed, recall ≤ planted_total IS, and
    the stricter 8-row 64/8 config never recalls MORE than 64/16)."""
    rows = {
        (r.num_perm, r.bands): r
        for r in REGISTRY["minhash_band_sweep_report"].fn(spark, SF_SMOKE).collect()
    }
    assert set(rows) == {(32, 8), (64, 16), (64, 8)}
    for r in rows.values():
        assert 0 <= r.n_planted_hit <= r.planted_total
        assert r.n_verified <= r.n_candidates
        assert r.recall_permille == r.n_planted_hit * 1000 // max(r.planted_total, 1)
    assert rows[(64, 8)].n_planted_hit <= rows[(64, 16)].n_planted_hit, (
        "8-row bands are strictly harder to collide than 4-row bands over "
        "the same 64 permutations"
    )
