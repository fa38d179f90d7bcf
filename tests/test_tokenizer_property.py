"""Property tests: the distributed BPE trainer and the winnowing
fingerprint selector against straight-line pure-Python reference
implementations of the published algorithms, over hypothesis-generated
corpora.  The DuckDB oracles prove Spark ≡ SQL; these prove both ≡ the
algorithm as defined in the papers (Sennrich 2016 greedy BPE; Schleimer
2003 robust winnowing), with no shared representation tricks that could
hide a common bug."""

from __future__ import annotations

from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st

from amazon_kinesis_data_analytics_flinktableapi_spark.operators.tokenizer import bpe_train

# tiny alphabet + short words force dense pair collisions, merge ties,
# merged-symbol reuse, and early exhaustion inside few examples
_word = st.text(alphabet="abc", min_size=1, max_size=6)
_corpus = st.lists(st.tuples(_word, st.integers(1, 5)), min_size=1, max_size=8)


def _ref_bpe(word_freqs: list[tuple[str, int]], k: int):
    """Sennrich-style BPE, straight from the paper's pseudocode: words as
    symbol tuples, corpus-weighted adjacent-pair counts, argmax with
    (count desc, left asc, right asc) ties, greedy left-to-right merge."""
    vocab = {}
    for w, f in word_freqs:
        vocab[tuple(w)] = vocab.get(tuple(w), 0) + f
    merges = []
    for rank in range(1, k + 1):
        counts: Counter = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), n = best
        merges.append((rank, l, r, l + r, n))
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


@settings(max_examples=12, deadline=None)
@given(corpus=_corpus)
def test_bpe_train_matches_reference_algorithm(spark, corpus):
    # aggregate duplicates the way the real pipeline's groupBy would
    agg = Counter()
    for w, f in corpus:
        agg[w] += f
    words = spark.createDataFrame(sorted(agg.items()), "tok string, freq bigint")
    got = bpe_train(words, k=5)
    want = _ref_bpe(sorted(agg.items()), k=5)
    assert got == want, (corpus, got, want)


def _ref_winnow(text: str, k: int, w: int, m: int):
    """Robust winnowing per Schleimer et al.: window minimum of k-gram
    hashes, rightmost occurrence on ties."""
    n = len(text) - k + 1
    if n < w:
        return set()
    hs = [
        sum(ord(text[p + i]) * 31**i for i in range(k)) % m
        for p in range(n)
    ]
    sel = set()
    for start in range(n - w + 1):
        window = hs[start : start + w]
        mn = min(window)
        # rightmost position achieving the min
        pos = start + max(i for i, h in enumerate(window) if h == mn)
        sel.add((hs[pos], pos))
    return sel


_text = st.text(alphabet="ab", min_size=0, max_size=80)


@settings(max_examples=12, deadline=None)
@given(texts=st.lists(_text, min_size=1, max_size=4))
def test_winnowing_selection_matches_reference_algorithm(spark, texts):
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.dedup import (
        WINNOW_K,
        WINNOW_M,
        WINNOW_SHIFT,
        WINNOW_W,
        winnowing_fingerprints,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_fingerprints"], r["n_shared_fp"])
        for r in winnowing_fingerprints(df).collect()
    }
    # reference: per-doc selected sets + cross-doc hash sharing
    ref_sel = {i: _ref_winnow(t, WINNOW_K, WINNOW_W, WINNOW_M) for i, t in enumerate(texts)}
    hash_owners: dict[int, set[int]] = {}
    for i, sel in ref_sel.items():
        for h, _pos in sel:
            hash_owners.setdefault(h, set()).add(i)
    want = {}
    for i, sel in ref_sel.items():
        if not sel:
            continue
        shared = sum(1 for h, _pos in sel if len(hash_owners[h]) >= 2)
        want[i] = (len(sel), shared)
    assert got == want, (texts, got, want)
