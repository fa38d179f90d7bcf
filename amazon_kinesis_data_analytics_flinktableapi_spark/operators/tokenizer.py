"""Iterative BPE tokenizer training (VERDICT r12 #5).

Not in the reference (the LLM-pipeline tier the driver mandates);
``queries/mining.py``'s ``bpe_merge_step`` exercises ONE round of the
inner loop — this module runs the actual training: k merge rounds with
pair-count recomputation between rounds, the workload a real tokenizer
build (GPT-2/SentencePiece-BPE style) performs.

Scale design
------------
BPE training never needs the corpus after the first pass: the classic
formulation (Sennrich et al. 2016) runs on the **word-frequency table**
— one corpus-scale shuffle (``token -> count``, map-side combined)
produces a vocabulary-sized table, and every merge round after that is
vocabulary-scale work.  At 100 TB the corpus is ~10^11 tokens but the
distinct-token vocab is ~10^7-10^8 rows: the iteration runs over ~0.1%
of the input, distributed, with only a 1-row argmax crossing to the
driver per round (the same bounded-collect pattern as the IVF centroid
collect in ``operators/similarity.py`` — Spark ML drives all its
iterative algorithms this way).

Symbol sequences ride as marker-delimited strings
(``\\x01 sym \\x02`` per symbol) rather than arrays, so one merge round
is a single literal ``replace()``: string replace scans left-to-right
non-overlapping in Spark, DuckDB, and Python alike, which IS the greedy
BPE merge semantics ('aaa' + merge (a,a) -> ('aa','a'), verified
identical across all three engines).  Markers make the match
boundary-exact — a pair (a, b) can never match inside a longer symbol
ending in 'a' — and the merged symbol's identity stays the symbol
PAIR, not its concatenated spelling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: per-symbol delimiters; tokens containing them are dropped up front
#: (control chars — absent from any real tokenizer corpus, but a hostile
#: fixture must degrade to "token ignored", never to a corrupt merge)
SYM_BEGIN = "\x01"
SYM_END = "\x02"

#: result schema — merge_rank is 1-based merge order (= BPE merge priority)
MERGE_SCHEMA = (
    "merge_rank int, left_sym string, right_sym string, "
    "merged string, n_occurrences bigint"
)


def words_as_symbol_strings(
    words: DataFrame, token_col: str = "tok", keep: tuple[str, ...] = ("freq",)
) -> DataFrame:
    """(token, …) -> (marker-delimited char-symbol string ``w``, *keep).

    Initial BPE state: every word is its character sequence.  Pure
    per-row expression work — rides whatever scan produced ``words``.
    ONE definition of the marker representation and the hostile-token
    filter for both the train and encode paths (``keep`` selects which
    companion columns ride along: training keeps ``freq``, encoding
    keeps the token itself)."""
    safe = words.filter(
        ~F.col(token_col).contains(SYM_BEGIN) & ~F.col(token_col).contains(SYM_END)
    )
    w = F.expr(
        f"concat_ws('', transform(sequence(1, length({token_col})), "
        f"i -> concat('\\u0001', substring({token_col}, i, 1), '\\u0002')))"
    )
    return safe.select(w.alias("w"), *keep)


def _pair_counts(sym_words: DataFrame) -> DataFrame:
    """Corpus-weighted adjacent-symbol-pair counts over the current merge
    state.  Splitting the marker string back into symbols + the pair
    explode happen inside the scan stage; the only shuffle is the
    (l, r) groupBy whose key space is |symbols|² — map-side partial
    aggregation collapses it to near-constant reduce input regardless
    of vocabulary size."""
    s = F.split(F.expr("substring(w, 2, length(w) - 2)"), f"{SYM_END}{SYM_BEGIN}")
    return (
        sym_words.select(s.alias("s"), "freq")
        .filter(F.size("s") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(s) - 1), "
                    "i -> named_struct('l', element_at(s, i), 'r', element_at(s, i + 1)))"
                )
            ).alias("p"),
            "freq",
        )
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("n"))
    )


#: merge rounds between symbol-state materializations (see bpe_train);
#: bounds recompute AND plan depth at ``checkpoint_every`` chained
#: replaces — 64 keeps the per-checkpoint materialization cost (~one
#: vocab-scale scan) well under the 64 rounds of work it amortizes
BPE_CHECKPOINT_EVERY = 64


def bpe_train(
    words: DataFrame,
    k: int,
    token_col: str = "tok",
    checkpoint_every: int = BPE_CHECKPOINT_EVERY,
    _state_probe: list | None = None,
) -> list[tuple[int, str, str, str, int]]:
    """Train ``k`` merges; returns the merge records
    (rank, left, right, merged, n_occurrences) as a driver-side list —
    the artifact a tokenizer ships.  See :func:`bpe_train_merges` for
    the loop's scale/semantics notes.

    Every ``checkpoint_every`` rounds the symbol state is materialized
    via ``localCheckpoint(eager=True)`` (VERDICT r13 #2): without it,
    round r's state is r chained ``replace`` projections over the cached
    base, so the k-round loop re-evaluates O(k²) narrow work AND feeds
    Catalyst an O(k)-deep plan every round — fine at k=8, wrong shape
    for a real ~30k-merge tokenizer build.  Checkpointing truncates the
    logical plan to a constant-size scan of the materialized state
    (lineage depth ≤ checkpoint_every, pinned by
    ``test_bpe_train_checkpoint_bounds_lineage``), making total work
    O(k·checkpoint_every) = linear in k.  The predecessor checkpoint's
    blocks are released by Spark's ContextCleaner once the driver
    handle drops (eager=True guarantees the new state is fully
    materialized first); the GraphX/ALS iterative pattern.

    ``_state_probe``: test hook — receives the final symbol-state
    DataFrame so the lineage-depth regression test can inspect the plan
    (no public caller uses it)."""
    if checkpoint_every < 1:
        raise ValueError(f"checkpoint_every must be >= 1, got {checkpoint_every}")
    base = words_as_symbol_strings(words, token_col).cache()
    try:
        cur = base
        merges: list[tuple[int, str, str, str, int]] = []
        for rank in range(1, k + 1):
            top = (
                _pair_counts(cur)
                .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
                .limit(1)
                .collect()
            )
            if not top:  # vocabulary fully merged / no multi-symbol words left
                break
            l, r, n = top[0]["l"], top[0]["r"], top[0]["n"]
            merges.append((rank, l, r, l + r, n))
            pat = SYM_BEGIN + l + SYM_END + SYM_BEGIN + r + SYM_END
            rep = SYM_BEGIN + l + r + SYM_END
            cur = cur.select(F.replace("w", F.lit(pat), F.lit(rep)).alias("w"), "freq")
            if rank % checkpoint_every == 0 and rank < k:
                cur = cur.localCheckpoint(eager=True)
        if _state_probe is not None:
            _state_probe.append(cur)
        return merges
    finally:
        base.unpersist()


def bpe_encode_counts(
    words: DataFrame,
    merges: list[tuple[int, str, str, str, int]],
    token_col: str = "tok",
) -> DataFrame:
    """Apply a trained merge list to the word table: (token, n_symbols) —
    the per-word BPE token count under the trained tokenizer.

    Encoding is embarrassingly parallel (unlike training): the k merges
    are literal replace()s chained in ONE narrow projection over the
    vocabulary — greedy left-to-right replace per merge, in merge-rank
    order, which is exactly how a BPE tokenizer applies its merge table.
    No shuffle; callers join the result back to the exploded corpus on
    the token.  The symbol-string representation and hostile-token
    filter come from :func:`words_as_symbol_strings` — the SAME ones
    training consumed, by construction."""
    w: Column = F.col("w")
    for _, l, r, merged, _n in merges:
        w = F.replace(
            w,
            F.lit(SYM_BEGIN + l + SYM_END + SYM_BEGIN + r + SYM_END),
            F.lit(SYM_BEGIN + merged + SYM_END),
        )
    n_syms = F.size(F.split(F.expr("substring(__w, 2, length(__w) - 2)"), f"{SYM_END}{SYM_BEGIN}"))
    return (
        words_as_symbol_strings(words, token_col, keep=(token_col,))
        .select(token_col, w.alias("__w"))
        .select(token_col, n_syms.alias("n_symbols"))
    )


def bpe_train_merges(words: DataFrame, k: int, token_col: str = "tok") -> DataFrame:
    """Train ``k`` BPE merges over a (token, freq) word table; returns the
    merge table (merge_rank, left_sym, right_sym, merged, n_occurrences)
    — ``n_occurrences`` is the pair's corpus-weighted count AT MERGE
    TIME (counts shift between rounds as earlier merges consume
    symbols; that recomputation is the whole point vs ``bpe_merge_step``).

    The loop is driver-sequenced but executor-executed: each round is a
    distributed vocabulary-scale aggregation, and only the single argmax
    row crosses to the driver (BPE's merge choice is inherently
    sequential — round r's counts are undefined until round r-1's merge
    is applied, so there is nothing to fan out).  The symbol-state table
    is cached once and re-materialized every ``BPE_CHECKPOINT_EVERY``
    rounds (localCheckpoint — see :func:`bpe_train`), so round r
    recomputes at most ``checkpoint_every`` chained narrow ``replace``
    projections, never the corpus scan and never an O(r) chain: total
    work is linear in k (measured k=8 → k=256 in SCALING.md).

    Ties break deterministically by (count DESC, left ASC, right ASC) —
    byte order, identical in Spark and the DuckDB oracle.

    Job-count bound (VERDICT r16 #6): this exact form is k driver
    round-trips = k Spark job DAGs — right for the oracle-checked k=8
    query and fine to ~10² merges; a production ~30k-merge build would
    be 30k jobs with scheduling overhead dominating.  Every registered
    query needs the exact sequential merge list, which batching several
    merges per recount does not keep (86% merge agreement measured,
    SCALING.md)."""
    return words.sparkSession.createDataFrame(
        bpe_train(words, k, token_col), schema=MERGE_SCHEMA
    )
