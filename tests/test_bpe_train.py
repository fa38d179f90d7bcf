"""bpe_train_merges semantics pins (VERDICT r12 #5): exact BPE training
behavior on hand-computed corpora — greedy left-to-right overlap, the
(count, left, right) tie-break, count-at-merge-time recomputation,
merged-symbol reuse in later rounds, early exhaustion, and marker-char
token hygiene.  The sf-data oracle check lives in the driver replica;
these pins are what the oracle can't explain WHY about."""

from __future__ import annotations

from pyspark.sql import functions as F

from amazon_kinesis_data_analytics_flinktableapi_spark.operators.tokenizer import (
    bpe_train_merges,
    words_as_symbol_strings,
)


def _words(spark, rows):
    return spark.createDataFrame(rows, "tok string, freq bigint")


def _train(spark, rows, k):
    return [tuple(r) for r in bpe_train_merges(_words(spark, rows), k).collect()]


def test_merged_symbol_feeds_later_rounds(spark):
    # 'abab' x3: round 1 merges (a,b) -> 'ab ab'; round 2 must see the
    # minted 'ab' symbol pair, not any character pair
    out = _train(spark, [("abab", 3)], 2)
    assert out == [(1, "a", "b", "ab", 6), (2, "ab", "ab", "abab", 3)]


def test_greedy_left_to_right_overlap(spark):
    # 'aaa': pair (a,a) occurs at two positions but one merge consumes
    # both -> after round 1 the word is ('aa','a'), NOT ('a','aa')
    out = _train(spark, [("aaa", 5)], 2)
    assert out[0] == (1, "a", "a", "aa", 10)  # both positions counted pre-merge
    # round 2's only pair is (aa, a) — left-to-right, never (a, aa)
    assert out[1] == (2, "aa", "a", "aaa", 5)


def test_count_recomputed_at_merge_time(spark):
    # freq-weighted counts and the shift between rounds: 'xy' appears in
    # both words, but after merging (x,y) the (y,z) pair is GONE (y was
    # consumed) while (xy,z) appears
    out = _train(spark, [("xyz", 4), ("xy", 3)], 2)
    assert out[0] == (1, "x", "y", "xy", 7)
    assert out[1] == (2, "xy", "z", "xyz", 4)


def test_tiebreak_count_then_left_then_right(spark):
    # (a,b) and (c,d) both count 2 -> (a,b) wins on left asc;
    # then (c,d) remains the best for round 2
    out = _train(spark, [("ab", 1), ("ab", 1), ("cd", 2)], 2)
    assert out[0] == (1, "a", "b", "ab", 2)
    assert out[1] == (2, "c", "d", "cd", 2)


def test_early_exhaustion_stops(spark):
    # single word fully merges in 2 rounds; asking for 5 returns 2 rows
    out = _train(spark, [("abc", 1)], 5)
    assert len(out) == 2
    assert [m[3] for m in out] == ["ab", "abc"]


def test_single_char_words_contribute_nothing(spark):
    out = _train(spark, [("a", 100), ("b", 100), ("cd", 1)], 3)
    assert out == [(1, "c", "d", "cd", 1)]


def test_marker_char_tokens_dropped_not_corrupted(spark):
    # a hostile token containing the symbol delimiters must be ignored
    # entirely, never corrupt the merge state of clean tokens
    rows = [("ab", 2), ("a\x01b", 50), ("a\x02", 50)]
    out = _train(spark, rows, 1)
    assert out == [(1, "a", "b", "ab", 2)]


def test_symbol_strings_are_boundary_exact(spark):
    # ('xa','b') must NOT be counted as pair (a,b): after round 1 merges
    # (x,a), round 2 sees (xa,b) — the marker representation prevents a
    # substring false match
    out = _train(spark, [("xab", 3), ("xa", 1)], 2)
    assert out[0] == (1, "x", "a", "xa", 4)
    assert out[1] == (2, "xa", "b", "xab", 3)


def test_words_as_symbol_strings_shape(spark):
    df = words_as_symbol_strings(_words(spark, [("hi", 7)]))
    rows = df.collect()
    assert rows[0]["w"] == "\x01h\x02\x01i\x02" and rows[0]["freq"] == 7


def test_bpe_encode_counts_apply_merges_in_rank_order(spark):
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.tokenizer import (
        bpe_encode_counts,
        bpe_train,
    )

    # corpus: 'abab' x3, 'abc' x1 -> merges: (a,b)->ab, (ab,ab)->abab
    words = _words(spark, [("abab", 3), ("abc", 1)])
    merges = bpe_train(words, 2)
    assert [m[3] for m in merges] == ["ab", "abab"]
    enc = {r["tok"]: r["n_symbols"] for r in bpe_encode_counts(words, merges).collect()}
    # 'abab' fully merges to ONE symbol; 'abc' -> ('ab', 'c') = 2
    assert enc == {"abab": 1, "abc": 2}


def test_bpe_encode_empty_merge_list_is_char_count(spark):
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.tokenizer import (
        bpe_encode_counts,
    )

    words = _words(spark, [("hello", 1), ("x", 2)])
    enc = {r["tok"]: r["n_symbols"] for r in bpe_encode_counts(words, []).collect()}
    assert enc == {"hello": 5, "x": 1}


def test_bpe_train_checkpoint_preserves_merges(spark):
    """VERDICT r13 #2: periodic localCheckpoint is a pure execution-shape
    change — the merge list must be byte-identical with an aggressive
    checkpoint cadence (every 2 rounds) and with none at all."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.tokenizer import bpe_train

    rows = [("abab", 3), ("ababab", 2), ("banana", 4), ("bandana", 1), ("aaa", 5)]
    words = _words(spark, rows)
    no_ckpt = bpe_train(words, 9, checkpoint_every=10**9)
    tight = bpe_train(words, 9, checkpoint_every=2)
    assert tight == no_ckpt and len(no_ckpt) > 4


def test_bpe_train_checkpoint_bounds_lineage(spark):
    """The lineage-depth regression pin: after k rounds with
    checkpoint_every=c, the final symbol state's analyzed plan carries at
    most c chained replace projections (the O(k^2) failure mode was k of
    them).  localCheckpoint truncates the plan to a scan of the
    materialized state, so the count is k mod c at the last checkpoint."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.tokenizer import bpe_train

    rows = [("abcdefgh", 3), ("abcdefgi", 2), ("abcdef", 4), ("abcde", 1)]
    words = _words(spark, rows)

    def replace_depth(k, checkpoint_every):
        probe = []
        merges = bpe_train(words, k, checkpoint_every=checkpoint_every, _state_probe=probe)
        assert len(merges) == k  # enough pairs to run all k rounds
        plan = probe[0]._jdf.queryExecution().analyzed().toString()
        return plan.count("replace(")

    assert replace_depth(6, checkpoint_every=10**9) == 6  # unbounded chain
    assert replace_depth(6, checkpoint_every=2) <= 2      # bounded by cadence


def test_bpe_train_checkpoint_every_validated(spark):
    import pytest as _pytest

    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.tokenizer import bpe_train

    with _pytest.raises(ValueError, match="checkpoint_every"):
        bpe_train(_words(spark, [("ab", 1)]), 1, checkpoint_every=0)


def test_bpe_encode_oracle_agrees_on_early_exhaustion(spark):
    """code-review r13 #2: a vocabulary that exhausts before round k made
    the oracle's cross-join chain empty while Spark applied the shorter
    merge list.  Pin both sides equal on an exhausting corpus (all words
    fully merge within 2 of the 8 rounds)."""
    import os
    import tempfile

    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import REGISTRY
    from tests.oracle_util import compare

    d = tempfile.mkdtemp(prefix="bpe_exhaust_")
    texts = ["ab ab a", "ab b a", "a b", None]
    pdf = pd.DataFrame(
        {
            "doc_id": pd.array(range(len(texts)), dtype="int64"),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s0"] * len(texts),
            "n_chars": pd.array([len(t) if t else 0 for t in texts], dtype="int64"),
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(d, "documents.parquet"))
    spec = REGISTRY["bpe_encode_token_counts"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    sdf = spec.fn(spark, d)
    assert sdf.count() > 0  # Spark side emits rows after the early break
    compare(sdf, con, spec.oracle)
    # and the train table itself stops early, in agreement with the oracle
    train = REGISTRY["bpe_train_merges"]
    tdf = train.fn(spark, d)
    assert tdf.count() < 8
    compare(tdf, con, train.oracle)
