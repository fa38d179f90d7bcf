"""Operator-level dedup tests: planted duplicates must be found with the
expected quality (the DuckDB oracle can't check hash-based ops — these
tests are their correctness story)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from amazon_kinesis_data_analytics_flinktableapi_spark.operators import dedup as D
from amazon_kinesis_data_analytics_flinktableapi_spark.operators.dedup import survivorship_merge

def make_doc(i: int, n: int = 40) -> str:
    # deterministic word sequence, distinct per doc (500-word vocab keeps
    # cross-doc shingle overlap at 0; 80%-prefix copy has jaccard ≈ 0.79)
    return " ".join(f"w{(i * 1009 + j * 31 + j * j * 7) % 500}" for j in range(n))


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, make_doc(i)) for i in range(30)]
    # planted near-dups: 80% prefix copies of docs 0-9
    rows += [(1000 + i, " ".join(make_doc(i).split()[:32])) for i in range(10)]
    # planted exact dup of doc 5
    rows += [(2005, make_doc(5))]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact_keeps_min_id(corpus):
    out = D.dedup_exact(corpus, "doc_id", key=F.md5("text"))
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert 2005 not in ids and 5 in ids
    assert len(ids) == corpus.count() - 1  # only the one exact dup removed


def test_jaccard_pairs_finds_planted_neardups(corpus):
    pairs = {(r.id_a, r.id_b) for r in D.jaccard_pairs(corpus, "doc_id", "text", threshold=0.5).collect()}
    planted = {(i, 1000 + i) for i in range(10)}
    assert planted <= pairs, f"missing planted pairs: {planted - pairs}"


def test_jaccard_max_df_drops_hot_shingles(spark):
    # one boilerplate sentence shared by ALL docs + unique bodies: without
    # the cap every doc pairs with every other via the boilerplate shingles
    boiler = "standard legal disclaimer footer text here"
    rows = [(i, f"{make_doc(i)} {boiler}") for i in range(12)]
    rows += [(1000, f"{make_doc(0)} {boiler}")]  # true near-dup of doc 0
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = D.jaccard_pairs(df, "doc_id", "text", threshold=0.5, max_df=6)
    pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (0, 1000) in pairs
    assert all(a == 0 and b == 1000 for a, b in pairs), f"boilerplate-only pairs leaked: {pairs}"


def test_minhash_lsh_recall_against_exact(corpus):
    exact = {(r.id_a, r.id_b) for r in D.jaccard_pairs(corpus, "doc_id", "text", threshold=0.5).collect()}
    lsh = {(r.id_a, r.id_b) for r in D.minhash_lsh_pairs(corpus, "doc_id", "text", threshold=0.5).collect()}
    assert lsh <= exact, "LSH must not produce false positives (exact verification step)"
    recall = len(lsh & exact) / max(len(exact), 1)
    # bands=16 x rows=4: collision prob ≈ 1-(1-j^4)^16 ≈ 0.998 at j=0.75
    assert recall >= 0.9, f"recall {recall}: {exact - lsh} missed"


def test_minhash_lsh_second_shape(corpus):
    """Pin the banding algebra beyond the default 16x4 configuration (the
    same one-shape risk embedding LSH had): 128 perms in 32 bands of 4.
    A hardcoded band width or perm count would hash-diverge or change
    recall here; exact verification keeps precision 1.0 at any shape."""
    exact = {(r.id_a, r.id_b) for r in D.jaccard_pairs(corpus, "doc_id", "text", threshold=0.5).collect()}
    lsh = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(
            corpus, "doc_id", "text", threshold=0.5, num_perm=128, bands=32
        ).collect()
    }
    assert lsh <= exact
    # 32 bands of 4: 1-(1-j^4)^32 ≈ 0.9998 at j=0.75 — tighter than default
    assert len(lsh & exact) / max(len(exact), 1) >= 0.9


def test_simhash_identical_and_distinct(spark):
    df = spark.createDataFrame(
        [(1, make_doc(3)), (2, make_doc(3)), (3, make_doc(9))], "doc_id long, text string"
    )
    fps = {r.doc_id: r.simhash for r in D.simhash(df, "doc_id", "text").collect()}
    assert fps[1] == fps[2], "identical text must produce identical simhash"
    assert fps[1] != fps[3]


def test_simhash_pairs_blocking(spark):
    rows = [(i, make_doc(i)) for i in range(20)] + [(100 + i, make_doc(i)) for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.id_a, r.id_b): r.hamming for r in D.simhash_pairs(df, "doc_id", "text", max_hamming=3).collect()}
    for i in range(5):
        assert pairs.get((i, 100 + i)) == 0, f"exact copy pair ({i},{100+i}) not found at hamming 0"


def test_jaccard_pairs_rejects_bad_max_df(corpus):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_df"):
        D.jaccard_pairs(corpus, "doc_id", "text", max_df="5%")


def test_duplicate_spans_finds_planted_boilerplate(spark):
    # 3 distinct docs sharing one 120-char boilerplate block at stride-
    # aligned offsets, plus one fully unique doc; span_len=40 / stride=10
    # must flag dup spans in the sharers and none in the unique doc
    boiler = "".join(f"b{j % 10}" for j in range(60))  # 120 chars
    uniq = ["".join(f"u{i}{j % 7}" for j in range(60)) for i in range(4)]
    rows = [
        (0, boiler + uniq[0]),
        (1, uniq[1] + boiler),   # offset 180 ≠ 0 but still stride-aligned
        (2, boiler + uniq[2]),
        (3, uniq[3]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in D.duplicate_spans(df, span_len=40, stride=10).collect()}
    assert len(out) == 4
    for i in (0, 1, 2):
        assert out[i].n_dup_spans > 0, f"doc {i} shares boilerplate"
        assert 0 < out[i].dup_ratio <= 1.0
    assert out[3].n_dup_spans == 0 and out[3].dup_ratio == 0.0
    # every doc's span count = floor((len-40)/10)+1
    for i, (_, text) in enumerate(rows):
        assert out[i].n_spans == (len(text) - 40) // 10 + 1


def test_duplicate_spans_short_docs_excluded(spark):
    df = spark.createDataFrame([(0, "tiny"), (1, "x" * 80)], "doc_id long, text string")
    out = D.duplicate_spans(df, span_len=40, stride=10).collect()
    assert {r.doc_id for r in out} == {1}


def test_remove_duplicate_spans_keeps_first_occurrence(spark):
    # fixtures must be APERIODIC: a periodic filler self-duplicates at the
    # stride and the operator (correctly) collapses the repeats
    boiler = "".join(f"b{j:02d}" for j in range(40))  # 120 chars
    uniq = ["".join(f"{i}u{j:02d}" for j in range(45)) for i in range(3)]  # 180 chars
    rows = [
        (0, boiler + uniq[0]),   # canonical first occurrence (doc 0, pos 0)
        (1, uniq[1] + boiler),   # dup at offset 180 -> removed
        (2, uniq[2]),            # untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in D.remove_duplicate_spans(df, span_len=40, stride=10).collect()}
    assert out[0].clean_text == rows[0][1], "canonical occurrence must survive"
    assert out[0].n_removed_chars == 0
    assert out[2].clean_text == rows[2][1] and out[2].n_removed_chars == 0
    # doc 1: the boilerplate block is cut; the unique prefix survives.
    # Spans cover [180, 300) at stride 10 -> merged interval removes the
    # whole block (the last span starts at 260 and ends at 300).
    assert out[1].clean_text == uniq[1]
    assert out[1].n_removed_chars == 120


def test_remove_duplicate_spans_self_repetition_merges(spark):
    # one doc that repeats its own 80-char block: second occurrence cut
    block = "".join(f"r{j:02d}x" for j in range(20))   # 80 chars, aperiodic
    filler = "".join(f"f{j:02d}y" for j in range(20))  # 80 chars, distinct
    df = spark.createDataFrame([(0, block + filler + block)], "doc_id long, text string")
    out = D.remove_duplicate_spans(df, span_len=40, stride=10).collect()[0]
    assert out.n_removed_chars >= 40, "repeated tail must lose at least one span"
    assert out.clean_text.startswith(block), "first occurrence survives"
    assert len(out.clean_text) + out.n_removed_chars == 240


def test_containment_finds_excerpts_jaccard_misses(corpus, spark):
    # a 25%-slice excerpt: jaccard vs the source ≈ 0.25 (below any sane
    # symmetric threshold) but containment(excerpt ⊆ source) ≈ 1.0
    big = make_doc(3, n=80)
    excerpt = " ".join(big.split()[:20])
    df = spark.createDataFrame(
        [(1, big), (2, excerpt), (3, make_doc(7, n=60))], "doc_id long, text string"
    )
    cont = {(r.id_a, r.id_b): r for r in D.containment_pairs(df, "doc_id", "text", threshold=0.9).collect()}
    jac = {(r.id_a, r.id_b) for r in D.jaccard_pairs(df, "doc_id", "text", threshold=0.5).collect()}
    assert (1, 2) in cont, "excerpt must clear the containment threshold"
    assert cont[(1, 2)].containment_b >= 0.99, "excerpt is fully contained"
    assert cont[(1, 2)].containment_a < 0.5, "direction matters: source is not in excerpt"
    assert (1, 2) not in jac, "symmetric jaccard at 0.5 misses the excerpt"
    assert (1, 3) not in cont and (2, 3) not in cont


def test_bloom_screen_no_false_negatives_vs_exact(spark):
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries.llm import (
        q_bloom_contamination_screen,
        q_contamination_ngram_overlap,
    )

    sf = "/root/testdata/sf0.001"
    bloom = {r.doc_id: r for r in q_bloom_contamination_screen(spark, sf).collect()}
    exact = {r.doc_id: r for r in q_contamination_ngram_overlap(spark, sf).collect()}
    assert set(bloom) == set(exact)
    for d, e in exact.items():
        assert bloom[d].n_shingles == e.n_shingles
        assert bloom[d].n_flagged >= e.n_shared, f"bloom false negative on doc {d}"


from hypothesis import given, settings
from hypothesis import strategies as st

# small alphabet + shared fragments force genuine cross-doc span collisions
_frag = st.text(alphabet="abc", min_size=20, max_size=60)
_corpus_st = st.lists(
    st.tuples(_frag, _frag, st.booleans()), min_size=2, max_size=5
)


@settings(max_examples=10, deadline=None)
@given(parts=_corpus_st)
def test_remove_duplicate_spans_invariants(spark, parts):
    shared = "s" * 25 + "t" * 25  # 50-char block planted into some docs
    rows = [
        (i, (a + (shared if plant else "") + b))
        for i, (a, b, plant) in enumerate(parts)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in D.remove_duplicate_spans(df, span_len=40, stride=10).collect()}
    assert set(out) == {i for i, _ in enumerate(rows)}, "every doc must come back"
    texts = dict(rows)
    for i, r in out.items():
        # conservation: removed + kept chars account for the original
        assert len(r.clean_text) + r.n_removed_chars == len(texts[i])
        assert r.n_removed_chars >= 0
        # the spliced text is a subsequence of the original (only deletions)
        it = iter(texts[i])
        assert all(ch in it for ch in r.clean_text), f"doc {i} not a subsequence"


def test_simhash_pairs_rejects_radius_beyond_blocking_guarantee(spark):
    """max_hamming >= SIMHASH_CHUNKS voids the pigeonhole completeness of
    chunk blocking (4 differing bits can land one per chunk) — the
    operator must refuse loudly instead of silently missing true pairs."""
    import pytest

    df = spark.createDataFrame([(1, make_doc(1))], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_hamming"):
        D.simhash_pairs(df, "doc_id", "text", max_hamming=4)
    with pytest.raises(ValueError, match="max_hamming"):
        D.simhash_pairs(df, "doc_id", "text", max_hamming=-1)


def test_minhash_lsh_rejects_nondivisible_banding(corpus):
    """num_perm not divisible by bands would silently drop the remainder
    permutations and weaken the collision probability the caller computed."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="divide num_perm"):
        D.minhash_lsh_pairs(corpus, "doc_id", "text", num_perm=100, bands=16)
    with _pytest.raises(ValueError, match="divide num_perm"):
        D.minhash_lsh_pairs(corpus, "doc_id", "text", bands=0)


def test_contamination_counts_keeps_docs_too_short_to_shingle(spark):
    """Review fix: a document shorter than n tokens cannot hold an
    n-gram; it must still appear in the screen output with
    n_shingles = 0 (trivially clean) — absence must never masquerade as
    cleanliness."""
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "tiny doc")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(9, "alpha beta gamma delta epsilon")], "doc_id long, text string")
    out = {r.doc_id: r for r in D.contamination_counts(corpus, bench, "doc_id", "text", n=5).collect()}
    assert set(out) == {1, 2}
    assert out[2].n_shingles == 0 and out[2].n_shared == 0
    assert out[1].n_shingles > 0 and out[1].n_shared > 0


def _members(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, cluster_id long, n_chars long, source string, lang string"
    )


def test_survivorship_field_rules(spark):
    """Field-wise merge on one cluster: golden id = min id, longest text
    wins with min-id tie-break, source follows the min id, lang is modal
    with (count desc, lang asc) tie-break, provenance is the sorted
    distinct source set, comma-joined."""
    m = _members(
        spark,
        [
            (10, 1, 50, "web", "de"),
            (11, 1, 80, "crawl", "en"),
            (12, 1, 80, "web", "en"),
            (13, 1, 20, "pdf", "fr"),
        ],
    )
    rec = survivorship_merge(m).collect()
    assert len(rec) == 1
    r = rec[0]
    assert r["golden_doc_id"] == 10
    assert r["n_members"] == 4
    # two docs tie at n_chars=80 → the SMALLER doc_id (11) wins
    assert r["longest_doc_id"] == 11
    assert r["golden_n_chars"] == 80
    assert r["golden_source"] == "web"  # source of doc 10, the min id
    assert r["modal_lang"] == "en"  # en ×2 beats de/fr ×1
    assert r["provenance"] == "crawl,pdf,web"


def test_survivorship_modal_lang_tie_breaks_alphabetically(spark):
    m = _members(spark, [(1, 7, 5, "s", "fr"), (2, 7, 6, "s", "de")])
    r = survivorship_merge(m).collect()[0]
    assert r["modal_lang"] == "de"  # 1-1 tie → lexicographically smallest


def test_survivorship_null_lengths_cluster(spark):
    """A cluster whose every member has NULL n_chars (NULL-text docs)
    still picks a deterministic longest_doc_id — the coalesce(n_chars, 0)
    composite makes the ordering key total, so the min id wins — and
    reports golden_n_chars NULL (max over all-NULL)."""
    m = _members(spark, [(5, 3, None, "a", "xx"), (6, 3, None, "b", "xx")])
    r = survivorship_merge(m).collect()[0]
    assert r["longest_doc_id"] == 5
    assert r["golden_n_chars"] is None
    assert r["golden_doc_id"] == 5
    assert r["provenance"] == "a,b"


def test_survivorship_singletons_pass_through(spark):
    m = _members(spark, [(1, 1, 10, "a", "en"), (2, 2, 20, "b", "de")])
    out = {r["cluster_id"]: r for r in survivorship_merge(m).collect()}
    assert out[1]["golden_doc_id"] == 1 and out[1]["n_members"] == 1
    assert out[2]["longest_doc_id"] == 2 and out[2]["modal_lang"] == "de"
