"""Property tests: kmeans_lloyd / pq_encode vs straight-line pure-Python
Lloyd/PQ references, and quality_classifier_score vs a hashlib-md5
reimplementation — proving the distributed algorithms equal their
published definitions independently of the SQL oracles (the same
two-sided strategy as the BPE/winnowing/CMS/selection property tests)."""

from __future__ import annotations

import hashlib
import math
import os
import re
import tempfile

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from amazon_kinesis_data_analytics_flinktableapi_spark.operators.clustering import (
    kmeans_lloyd,
    pq_encode,
)
from amazon_kinesis_data_analytics_flinktableapi_spark.queries import REGISTRY

QUANT = 1_000_000


def _quantize(vec):
    return [None if x is None else math.floor(float(x) * QUANT + 0.5) for x in vec]


def _zip_with_ok(a, b) -> bool:
    """The ``zip_with`` + ``coalesce`` rule every vector operator scores
    by: a length mismatch or any NULL element makes the distance/dot 0."""
    return len(a) == len(b) and None not in a and None not in b


def _d2(a, b):
    return sum((x - y) ** 2 for x, y in zip(a, b)) if _zip_with_ok(a, b) else 0


def _dot(a, b):
    return sum(x * y for x, y in zip(a, b)) if _zip_with_ok(a, b) else 0


def _nearest(v, cb: dict):
    """(dist, code) of the nearest codebook entry, ties to the smaller code."""
    return min((_d2(v, cv), j) for j, cv in cb.items())


def _lloyd_mean(members, old):
    """The update's per-position mean: sum of the non-NULL elements floor-
    divided by the number of members that HAVE the position (NULL when
    all of them are NULL); a cluster whose members have no positions at
    all keeps its centroid."""
    width = max(len(m) for m in members)
    if width == 0:
        return old
    out = []
    for j in range(width):
        col = [m[j] for m in members if j < len(m)]
        vals = [x for x in col if x is not None]
        out.append(sum(vals) // len(col) if vals else None)
    return out


def ref_kmeans(vecs: dict, k: int, n_iters: int) -> dict:
    """Straight-line Lloyd (Lloyd 1982) under the operator's determinism
    contract: micro-unit quantization, lowest-id init, (dist, cluster)
    tie-break, exact floor-division means (Python ``//`` IS floor),
    empty clusters keep their centroid."""
    q = {i: _quantize(v) for i, v in sorted(vecs.items()) if v is not None}
    ids = sorted(q)
    cents = {c: list(q[i]) for c, i in enumerate(ids[:k])}
    assign: dict = {}
    for it in range(n_iters):
        assign = {i: min((_d2(q[i], cv), c) for c, cv in cents.items())[1] for i in ids}
        if it < n_iters - 1:
            new = {}
            for c, cv in cents.items():
                members = [q[i] for i in ids if assign[i] == c]
                new[c] = _lloyd_mean(members, cv) if members else cv
            cents = new
    return {i: (assign[i], _d2(q[i], cents[assign[i]])) for i in ids}


def ref_pq(vecs: dict, m: int, n_codes: int) -> dict:
    """Straight-line PQ encode (Jégou et al. 2011 §II) under the same
    contract: lowest-id codebook, floor(dim·s/M) slice bounds, (dist, j)
    tie-break."""
    q = {i: _quantize(v) for i, v in sorted(vecs.items()) if v is not None}
    ids = sorted(q)
    cb = {j: q[i] for j, i in enumerate(ids[:n_codes])}

    def sub(v, s):
        d = len(v)
        return v[math.floor(d * s / m) : math.floor(d * (s + 1) / m)]

    out = {}
    for i in ids:
        codes, err = [], 0
        for s in range(m):
            dist, j = min((_d2(sub(q[i], s), sub(cv, s)), j) for j, cv in cb.items())
            codes.append(j)
            err += dist
        out[i] = (codes, err)
    return out


def _emb_df(spark, vecs: dict):
    """array<double> input (as_double is then a no-op) so the reference's
    Python float arithmetic sees the identical IEEE doubles."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )
    return spark.createDataFrame(
        [(int(i), None if v is None else [None if x is None else float(x) for x in v])
         for i, v in sorted(vecs.items())],
        schema,
    )


@st.composite
def _vec_corpus(draw):
    dim = draw(st.integers(min_value=1, max_value=5))
    elem = st.one_of(
        st.floats(min_value=-2.0, max_value=2.0, allow_nan=False, width=32),
        st.sampled_from([0.0, -0.0, 0.5, 0.5, -1.25]),  # duplicate/tie pressure
    )
    n = draw(st.integers(min_value=1, max_value=14))
    vecs = {}
    for i in range(n):
        if draw(st.booleans()) or i > 0:
            vecs[i] = draw(st.lists(elem, min_size=dim, max_size=dim))
        else:
            vecs[i] = None  # NULL vector: dropped by contract
    # duplicate low-id vectors force identical init centroids → empty
    # clusters → the carry-previous-centroid path
    if n >= 2 and draw(st.booleans()):
        vecs[1] = list(vecs[0]) if vecs[0] is not None else vecs[1]
    return vecs


@settings(max_examples=12, deadline=None)
@given(vecs=_vec_corpus())
def test_kmeans_lloyd_matches_reference(spark, vecs):
    got = {
        r["vec_id"]: (r["cluster"], r["dist_q"])
        for r in kmeans_lloyd(_emb_df(spark, vecs), k=3, n_iters=2).collect()
    }
    assert got == ref_kmeans(vecs, k=3, n_iters=2)


@settings(max_examples=12, deadline=None)
@given(vecs=_vec_corpus())
def test_pq_encode_matches_reference(spark, vecs):
    rows = pq_encode(_emb_df(spark, vecs), n_subspaces=2, n_codes=3).collect()
    got = {r["vec_id"]: ([r["code_s0"], r["code_s1"]], r["err_q"]) for r in rows}
    assert got == ref_pq(vecs, m=2, n_codes=3)


def test_kmeans_k_exceeding_corpus(spark):
    """k larger than the corpus: init takes every vector; each becomes its
    own centroid; distances are 0."""
    vecs = {0: [1.0, 0.0], 1: [0.0, 1.0]}
    got = {r["vec_id"]: (r["cluster"], r["dist_q"])
           for r in kmeans_lloyd(_emb_df(spark, vecs), k=8, n_iters=2).collect()}
    assert got == {0: (0, 0), 1: (1, 0)}


def test_clustering_validation():
    with pytest.raises(ValueError):
        kmeans_lloyd(None, k=0)
    with pytest.raises(ValueError):
        kmeans_lloyd(None, k=2, n_iters=0)
    with pytest.raises(ValueError):
        pq_encode(None, n_subspaces=0)
    with pytest.raises(ValueError):
        pq_encode(None, n_codes=0)


# --- quality_classifier_score vs hashlib reference -------------------------


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _ref_classifier(text: str):
    toks = [t for t in re.split(r"\s+", text.strip()) if t]
    feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    if not feats:
        return None  # featureless docs drop out on both engines
    margin = sum(_h60(f"qw:{_h60(f) % 1024}") % 2001 - 1000 for f in feats)
    return (len(feats), margin, margin > 0)


def _docs_dir(texts):
    d = tempfile.mkdtemp(prefix="qcls_")
    pdf = pd.DataFrame(
        {
            "doc_id": pd.array(range(len(texts)), dtype="int64"),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["t"] * len(texts),
            "n_chars": pd.array([len(t or "") for t in texts], dtype="int64"),
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(d, "documents.parquet"))
    return d


def test_quality_classifier_matches_hashlib_reference(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "single",
        "",
        "   ",
        None,
        "a a a a a a a a",
        "Zürich naïve café — unicode bigrams",
        "x " * 200,
    ]
    d = _docs_dir(texts)
    rows = REGISTRY["quality_classifier_score"].fn(spark, d).collect()
    got = {r["doc_id"]: (r["n_feats"], r["margin_milli"], r["keep"]) for r in rows}
    want = {
        i: _ref_classifier(t)
        for i, t in enumerate(texts)
        if t is not None and _ref_classifier(t) is not None
    }
    assert got == want


# --- pq_adc_topk vs straight-line ADC reference -----------------------------


def ref_adc(vecs: dict, query_ids: list, m: int, n_codes: int, k: int) -> dict:
    """Straight-line ADC (Jégou et al. 2011 §III) under the operator's
    contract: codes from ref_pq's argmin, per-query exact distance
    tables, candidate distance = sum of M lookups, (dist, c_id) ties,
    self excluded."""
    q = {i: _quantize(v) for i, v in sorted(vecs.items()) if v is not None}
    ids = sorted(q)
    cb = {j: q[i] for j, i in enumerate(ids[:n_codes])}

    def sub(v, s):
        d = len(v)
        return v[math.floor(d * s / m) : math.floor(d * (s + 1) / m)]

    codes = {
        i: [min((_d2(sub(q[i], s), sub(cv, s)), j) for j, cv in cb.items())[1]
            for s in range(m)]
        for i in ids
    }
    out = {}
    for qi in query_ids:
        if qi not in q:
            continue
        dt = {(s, j): _d2(sub(q[qi], s), sub(cv, s)) for s in range(m) for j, cv in cb.items()}
        scored = sorted(
            (sum(dt[(s, codes[c][s])] for s in range(m)), c)
            for c in ids if c != qi
        )
        out[qi] = [(c, d, rn + 1) for rn, (d, c) in enumerate(scored[:k])]
    return out


@settings(max_examples=10, deadline=None)
@given(vecs=_vec_corpus())
def test_pq_adc_topk_matches_reference(spark, vecs):
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.clustering import pq_adc_topk

    df = _emb_df(spark, vecs)
    qids = [i for i in sorted(vecs) if i < 2]
    rows = pq_adc_topk(
        df, df.filter("vec_id < 2"), k=4, n_subspaces=2, n_codes=3
    ).collect()
    got = {}
    for r in sorted(rows, key=lambda r: (r["q_id"], r["rn"])):
        got.setdefault(r["q_id"], []).append((r["c_id"], r["adc_dist"], r["rn"]))
    want = ref_adc(vecs, qids, m=2, n_codes=3, k=4)
    want = {k_: v for k_, v in want.items() if v}
    assert got == want


# --- ivfpq_topk vs composed straight-line reference --------------------------


def ref_ivfpq(vecs: dict, query_ids: list, n_centroids: int, nprobe: int,
              m: int, n_codes: int, k: int) -> dict:
    """Straight-line composed IVF-PQ: IVF lists by exact integer DOT
    (ties toward smaller list id), candidates from the nprobe best lists,
    ADC over PQ codes restricted to those candidates."""
    q = {i: _quantize(v) for i, v in sorted(vecs.items()) if v is not None}
    ids = sorted(q)
    cents = {c: q[i] for c, i in enumerate(ids[:n_centroids])}
    bucket = {
        i: max(((_dot(q[i], cv), -c) for c, cv in cents.items()))[1] * -1 for i in ids
    }
    cb = {j: q[i] for j, i in enumerate(ids[:n_codes])}

    def sub(v, s):
        d = len(v)
        return v[math.floor(d * s / m) : math.floor(d * (s + 1) / m)]

    codes = {
        i: [min((_d2(sub(q[i], s), sub(cv, s)), j) for j, cv in cb.items())[1]
            for s in range(m)]
        for i in ids
    }
    out = {}
    for qi in query_ids:
        if qi not in q:
            continue
        probed = [c for _, c in sorted(
            ((-_dot(q[qi], cv), c) for c, cv in cents.items()))[:nprobe]]
        cand = [c for c in ids if c != qi and bucket[c] in probed]
        dt = {(s, j): _d2(sub(q[qi], s), sub(cv, s)) for s in range(m) for j, cv in cb.items()}
        scored = sorted((sum(dt[(s, codes[c][s])] for s in range(m)), c) for c in cand)
        res = [(c, d, rn + 1) for rn, (d, c) in enumerate(scored[:k])]
        if res:
            out[qi] = res
    return out


@settings(max_examples=10, deadline=None)
@given(vecs=_vec_corpus())
def test_ivfpq_topk_matches_reference(spark, vecs):
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.clustering import ivfpq_topk

    df = _emb_df(spark, vecs)
    qids = [i for i in sorted(vecs) if i < 2]
    rows = ivfpq_topk(
        df, df.filter("vec_id < 2"),
        k=4, n_centroids=4, nprobe=2, n_subspaces=2, n_codes=3,
    ).collect()
    got = {}
    for r in sorted(rows, key=lambda r: (r["q_id"], r["rn"])):
        got.setdefault(r["q_id"], []).append((r["c_id"], r["adc_dist"], r["rn"]))
    want = ref_ivfpq(vecs, qids, n_centroids=4, nprobe=2, m=2, n_codes=3, k=4)
    assert got == want


def test_streaming_filter_agrees_with_batch_classifier(spark):
    """The streaming per-row fold and the batch explode/groupBy/weight-join
    must be the SAME model: the stream's kept set == the batch keep rows,
    margins identical (integer arithmetic, order-free)."""
    sf = "/root/testdata/sf0.001"
    batch = {
        r["doc_id"]: r["margin_milli"]
        for r in REGISTRY["quality_classifier_score"].fn(spark, sf).collect()
        if r["keep"]
    }
    stream = {
        r["doc_id"]: r["margin_milli"]
        for r in REGISTRY["streaming_quality_filter"].fn(spark, sf).collect()
    }
    assert stream == batch


# --- drift_ks_by_source vs straight-line exact KS ---------------------------


def ref_ks(pairs):
    """Exact two-sample KS per source vs rest, integer arithmetic:
    num = max over merged jump points of |cumA*m - cumB*n|, denom = n*m."""
    from collections import Counter

    by_src = {}
    for s, v in pairs:
        by_src.setdefault(s, []).append(v)
    allv = sorted({v for _, v in pairs})
    total = len(pairs)
    out = {}
    for s, vs in by_src.items():
        n_a, n_b = len(vs), total - len(vs)
        if n_b == 0:
            continue
        ca = Counter(vs)
        call = Counter(v for _, v in pairs)
        cum_a = cum_all = 0
        num = 0
        for v in allv:
            cum_a += ca.get(v, 0)
            cum_all += call[v]
            num = max(num, abs(cum_a * n_b - (cum_all - cum_a) * n_a))
        out[s] = (n_a, n_b, num, (num * 1_000_000) // (n_a * n_b))
    return out


@settings(max_examples=12, deadline=None)
@given(
    pairs=st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]),
                  st.integers(min_value=0, max_value=9)),
        min_size=2, max_size=30,
    )
)
def test_drift_ks_matches_reference(spark, pairs):
    d = _docs_dir(["x"] * len(pairs))
    # rewrite the parquet with the drawn (source, n_chars) pairs
    pdf = pd.DataFrame(
        {
            "doc_id": pd.array(range(len(pairs)), dtype="int64"),
            "text": ["x"] * len(pairs),
            "lang": ["en"] * len(pairs),
            "source": [s for s, _ in pairs],
            "n_chars": pd.array([v for _, v in pairs], dtype="int64"),
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(d, "documents.parquet"))
    rows = REGISTRY["drift_ks_by_source"].fn(spark, d).collect()
    got = {r["source"]: (r["n_a"], r["n_b"], r["ks_num"], r["ks_micro"]) for r in rows}
    assert got == ref_ks(pairs)


# --- ahash_media vs straight-line aHash reference ---------------------------


def ref_ahash(payload: bytes, bits: int = 60):
    if not payload:
        return None
    n = len(payload)
    samp = [payload[i * n // bits] for i in range(bits)]
    mean = sum(samp) // bits
    h = 0
    for i, s in enumerate(samp):
        if s >= mean:
            h |= 1 << i
    return n, h


@settings(max_examples=15, deadline=None)
@given(
    payloads=st.lists(
        st.binary(min_size=0, max_size=200), min_size=1, max_size=10
    )
)
def test_ahash_media_matches_reference(spark, payloads):
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.multimodal import ahash_media

    schema = StructType(
        [StructField("media_id", LongType()), StructField("payload", BinaryType())]
    )
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)], schema
    )
    got = {r["media_id"]: (r["n_bytes"], r["phash"]) for r in ahash_media(df).collect()}
    want = {
        i: ref_ahash(p) for i, p in enumerate(payloads) if ref_ahash(p) is not None
    }
    assert got == want


def test_ahash_validation():
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.multimodal import ahash_media

    with pytest.raises(ValueError):
        ahash_media(None, bits=0)
    with pytest.raises(ValueError):
        ahash_media(None, bits=63)


# --- scd2_history_build vs straight-line interval builder -------------------


def ref_scd2(rows):
    """Straight-line SCD2: per user, sort by (ts, event_id), collapse
    consecutive same-type runs, intervals close at the next change."""
    by_user = {}
    for eid, ts, uid, typ in rows:
        if ts is None or typ is None:
            continue
        by_user.setdefault(uid, []).append((ts, eid, typ))
    out = []
    for uid, evs in by_user.items():
        evs.sort()
        starts = [e for i, e in enumerate(evs) if i == 0 or evs[i - 1][2] != e[2]]
        for i, (ts, eid, typ) in enumerate(starts):
            nxt = starts[i + 1][0] if i + 1 < len(starts) else None
            out.append((uid, typ, ts, nxt, nxt is None))
    return sorted(out, key=lambda r: (r[0], r[2], str(r[1])))


@settings(max_examples=12, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),          # event_id (may tie)
            st.one_of(st.none(), st.integers(min_value=0, max_value=5)),  # ts slot
            st.integers(min_value=0, max_value=3),           # user_id
            st.sampled_from([None, "a", "b", "c"]),          # event_type
        ),
        min_size=0, max_size=25,
        unique_by=lambda r: r[0],                            # unique event ids
    )
)
def test_scd2_matches_reference(spark, rows):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    mat = [
        (eid, None if slot is None else base + dt.timedelta(hours=slot), uid, typ)
        for eid, slot, uid, typ in rows
    ]
    d = tempfile.mkdtemp(prefix="scd2_prop_")
    pdf = pd.DataFrame(
        {
            "event_id": pd.array([r[0] for r in mat], dtype="int64"),
            "ts": pd.Series([r[1] for r in mat], dtype="datetime64[us]"),
            "user_id": pd.array([r[2] for r in mat], dtype="int64"),
            "event_type": [r[3] for r in mat],
            "value": [1.0] * len(mat),
            "props": [None] * len(mat),
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(d, "events.parquet"))
    got = sorted(
        (
            (r["user_id"], r["event_type"],
             r["valid_from"].replace(tzinfo=None), 
             None if r["valid_to"] is None else r["valid_to"].replace(tzinfo=None),
             r["is_current"])
            for r in REGISTRY["scd2_history_build"].fn(spark, d).collect()
        ),
        key=lambda r: (r[0], r[2], str(r[1])),
    )
    assert got == ref_scd2(mat)


# --- rq_encode: residual-quantization invariants -----------------------------


def test_rq_encode_err2_never_exceeds_err1(spark):
    """RQ guarantee (operator docstring): codebook 2 explicitly contains
    the zero codeword ('no refinement'), so the stage-2 argmin is never
    worse than keeping the stage-1 residual — err2_q <= err1_q on every
    row — and the next-head residual codewords must strictly improve
    somewhere (this pin is what exposed the original same-head C2 as a
    dead all-zero codebook)."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.clustering import rq_encode

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = rq_encode(emb, n_codes1=8, n_codes2=8).collect()
    assert rows, "rq_encode returned nothing"
    assert all(r.err2_q <= r.err1_q for r in rows)
    assert any(r.err2_q < r.err1_q for r in rows), "stage 2 never improved — dead codebook"
    # the next-head codebook rows reconstruct their own residual exactly
    assert any(r.err2_q == 0 and r.err1_q > 0 for r in rows)


# --- RQ and deterministic-IVF straight-line references -----------------------


def _residual(v, cv):
    """``zip_with(v, cv, x − y)``: NULL-padded to the longer side."""
    return [
        None if i >= len(v) or i >= len(cv) or v[i] is None or cv[i] is None else v[i] - cv[i]
        for i in range(max(len(v), len(cv)))
    ]


def ref_rq(vecs: dict, n_codes1: int, n_codes2: int) -> dict:
    """Straight-line two-stage RQ under the operator's contract: stage-1
    codebook = the n_codes1 lowest-id vectors; codebook 2 = the zero
    residual (code 0, code 0's width) + the residuals of the next
    n_codes2 − 1 lowest-id vectors; (dist, code) ties."""
    q = {i: _quantize(v) for i, v in sorted(vecs.items()) if v is not None}
    ids = sorted(q)
    cb1 = {j: q[i] for j, i in enumerate(ids[:n_codes1])}
    stage1 = {}
    for i in ids:
        err1, c1 = _nearest(q[i], cb1)
        stage1[i] = (c1, err1, _residual(q[i], cb1[c1]))
    cb2 = {0: [0] * len(cb1[0])} if cb1 else {}
    for j, i in enumerate(ids[n_codes1 : n_codes1 + n_codes2 - 1]):
        cb2[j + 1] = stage1[i][2]
    out = {}
    for i, (c1, err1, rv) in stage1.items():
        err2, c2 = _nearest(rv, cb2)
        out[i] = (c1, c2, err1, err2)
    return out


def _det_quantize(vec):
    """``similarity.quantized``: FLOOR(x·10⁶), no half-up."""
    return None if vec is None else [None if x is None else math.floor(float(x) * 1_000_000) for x in vec]


def _cosine(a, b):
    """``functions.vector.cosine`` in the same left-to-right double order;
    NULL for a NULL or zero-norm side."""
    if a is None or b is None or len(a) != len(b):
        return None
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
    for x in a:
        na += x * x
    for y in b:
        nb += y * y
    denom = math.sqrt(na) * math.sqrt(nb)
    return dot / denom if denom != 0.0 else None


def ref_ivf_buckets(vecs: dict, n_centroids: int, n: int) -> dict:
    """Deterministic IVF lists (``ivf_topk_det`` / ``semantic_dedup``):
    centroids are the n_centroids lowest-id rows (NULL embeddings
    included), and each row's top-``n`` lists rank by (dot DESC, id ASC)
    with the zip_with rule — a NULL row scores every dot 0, so it lands in
    the smallest-id lists."""
    qv = {i: _det_quantize(v) for i, v in vecs.items()}
    cents = sorted(qv.items())[:n_centroids]
    out = {}
    for i, v in qv.items():
        scored = sorted((-(_dot(v, cv) if v is not None and cv is not None else 0), j) for j, cv in cents)
        out[i] = [j for _, j in scored[:n]]
    return out


def ref_ivf_topk_det(vecs: dict, query_ids: list, k: int, n_centroids: int, nprobe: int) -> set:
    """(q_id, c_id, rn) of ``ivf_topk_det``: candidates share a probed
    list, rank by (exact cosine DESC, c_id ASC); NULL similarities rank
    last."""
    bucket = ref_ivf_buckets(vecs, n_centroids, 1)
    probes = ref_ivf_buckets(vecs, n_centroids, nprobe)
    out = set()
    for qi in query_ids:
        cand = [c for c in vecs if c != qi and bucket[c][0] in probes[qi]]
        sims = [(_cosine(vecs[qi], vecs[c]), c) for c in cand]
        ranked = sorted(sims, key=lambda t: (t[0] is None, -(t[0] or 0.0), t[1]))
        out |= {(qi, c, rn + 1) for rn, (_, c) in enumerate(ranked[:k])}
    return out


def ref_semantic_dedup(vecs: dict, threshold: float, n_centroids: int) -> set:
    """(vec_id, cluster) kept by ``semantic_dedup``: drop a vector when a
    smaller id in its cluster has cosine ≥ threshold with it."""
    cluster = {i: b[0] for i, b in ref_ivf_buckets(vecs, n_centroids, 1).items()}
    dropped = {
        b
        for a in vecs
        for b in vecs
        if a < b and cluster[a] == cluster[b] and (_cosine(vecs[a], vecs[b]) or -2.0) >= threshold
    }
    return {(i, cluster[i]) for i in vecs if i not in dropped}


# --- every vector operator vs its reference on hostile rows ------------------


def _hostile_tail(n: int = 30, dim: int = 8) -> dict:
    """Clean head (the codebook source) whose tail carries every edge the
    ``zip_with`` rule defines: ragged, NULL-element, empty and NULL
    vectors."""
    vecs = {i: [((i * 13 + j * 7) % 19 - 9) / 3.0 for j in range(dim)] for i in range(n)}
    vecs[90] = [1.0, 2.0, 3.0]
    vecs[91] = [0.5, None, 1.5, 2.0, -1.0, 0.25, 3.0, -2.0]
    vecs[92] = []
    vecs[93] = None
    return vecs


def _hostile_codebook() -> dict:
    """The same corpus with a ragged and a NULL-element vector among the
    lowest ids, so the codebook itself is not a clean rectangle and every
    row takes the exact per-row fallback."""
    vecs = _hostile_tail()
    vecs[1] = [0.25, -1.5, 2.0, 1.0, -0.5]
    vecs[2] = [1.0, -2.0, None, 0.75, 0.5, -1.0, 2.5, 0.0]
    return vecs


def _by_query(rows) -> dict:
    got = {}
    for r in sorted(rows, key=lambda r: (r["q_id"], r["rn"])):
        got.setdefault(r["q_id"], []).append((r["c_id"], r["adc_dist"], r["rn"]))
    return got


def _check_against_references(spark, vecs: dict):
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.clustering import (
        ivfpq_topk,
        pq_adc_topk,
        rq_encode,
    )

    df = _emb_df(spark, vecs)
    queries = df.filter("vec_id < 3")
    qids = [0, 1, 2]
    got = {
        r["vec_id"]: (r["cluster"], r["dist_q"])
        for r in kmeans_lloyd(df, k=4, n_iters=3).collect()
    }
    assert got == ref_kmeans(vecs, k=4, n_iters=3), "kmeans_lloyd"
    got = {
        r["vec_id"]: ([r[f"code_s{s}"] for s in range(4)], r["err_q"])
        for r in pq_encode(df, n_subspaces=4, n_codes=4).collect()
    }
    assert got == ref_pq(vecs, m=4, n_codes=4), "pq_encode"
    rows = pq_adc_topk(df, queries, k=5, n_subspaces=4, n_codes=4).collect()
    want = {q_: v for q_, v in ref_adc(vecs, qids, m=4, n_codes=4, k=5).items() if v}
    assert _by_query(rows) == want, "pq_adc_topk"
    rows = ivfpq_topk(
        df, queries, k=5, n_centroids=6, nprobe=2, n_subspaces=4, n_codes=4
    ).collect()
    want = ref_ivfpq(vecs, qids, n_centroids=6, nprobe=2, m=4, n_codes=4, k=5)
    assert _by_query(rows) == want and want, "ivfpq_topk"
    got = {
        r["vec_id"]: (r["code1"], r["code2"], r["err1_q"], r["err2_q"])
        for r in rq_encode(df, n_codes1=4, n_codes2=4).collect()
    }
    assert got == ref_rq(vecs, n_codes1=4, n_codes2=4), "rq_encode"


def test_vector_operators_match_references_on_hostile_rows(spark):
    """The Arrow kernels' per-row fallback must give ragged, NULL-element
    and empty rows the ``zip_with`` semantics the references (and the
    DuckDB twins) define: distance/dot 0, ties to the smallest code."""
    _check_against_references(spark, _hostile_tail())


def test_vector_operators_match_references_on_hostile_codebook(spark):
    """A ragged and a NULL-element vector among the lowest ids make the
    codebook non-rectangular: no matmul, every row scores through the
    exact per-row fallback, and the results still equal the references."""
    _check_against_references(spark, _hostile_codebook())


def test_codebooks_deterministic_when_vec_id_repeats(spark):
    """Repeated vec_ids among the lowest ids: ``qv`` breaks the tie in the
    head collect and in ``init_centroids``, so builds over differently
    ordered and partitioned copies of the corpus return identical rows."""
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.clustering import (
        ivfpq_topk,
        rq_encode,
    )

    rows = [(0, [float(j), -1.0, 2.0, 0.5]) for j in range(4)]  # vec_id 0 four times
    rows += [(1, [0.5, 0.5, -0.5, 1.0]), (1, [-2.0, 1.0, 0.0, 0.25])]
    rows += [(i, [((i * 7 + j * 5) % 11 - 5) / 2.0 for j in range(4)]) for i in range(2, 40)]
    schema = StructType(
        [StructField("vec_id", LongType()), StructField("embedding", ArrayType(DoubleType()))]
    )
    copies = [
        spark.createDataFrame(rows, schema).coalesce(1),
        spark.createDataFrame(list(reversed(rows)), schema).repartition(3),
    ]
    ops = {
        "kmeans": lambda df: kmeans_lloyd(df, k=3, n_iters=2),
        "pq": lambda df: pq_encode(df, n_subspaces=2, n_codes=3),
        "ivfpq": lambda df: ivfpq_topk(
            df, df.filter("vec_id = 3"), k=5, n_centroids=3, nprobe=2, n_subspaces=2, n_codes=3
        ),
        "rq": lambda df: rq_encode(df, n_codes1=3, n_codes2=3),
    }
    for name, op in ops.items():
        a, b = (sorted(tuple(r) for r in op(df).collect()) for df in copies)
        assert a == b and a, name
