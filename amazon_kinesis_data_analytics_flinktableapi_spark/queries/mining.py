"""Corpus/graph mining staples beyond the dedup ladder — each oracle-checked:

- tokenizer training: one BPE merge iteration, PMI collocation mining;
- graph: co-occurrence build + triangle counting;
- sampling: deterministic weighted top-k (A-Res analogue);
- incremental pipelines: CDC snapshot diff, partial-agg view maintenance,
  batch-vs-history incremental dedup;
- features: hashing-trick vectorizer, Gram matrix (X^T X partials — batch
  and complete-mode streaming forms), PCA leading component by integer
  power iteration;
- accounting: ANN recall report (IVF vs brute), MinHash estimator error;
- product analytics: cohort retention matrix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from amazon_kinesis_data_analytics_flinktableapi_spark.queries import DUCK_TOKS, load, nse_oracle, query, scratch_dir
from amazon_kinesis_data_analytics_flinktableapi_spark.functions.scalar import (
    swallow_malformed_embeddings,
)

_DUCK_TOKS = DUCK_TOKS  # shared canonical twin (r14 unicode audit)


def _planted_incremental_batch(docs):
    """The history/batch split BOTH incremental-dedup surfaces (batch and
    streaming) run against — ONE definition, so retuning the plant (the
    % 5 / % 7 / % 3 selectors or the id offsets) cannot silently make
    the streaming query attest a different corpus than its batch twin.
    Returns (hist, batch)."""
    hist = docs.filter(F.col("doc_id") % 5 != 4)
    batch = (
        docs.filter(F.col("doc_id") % 5 == 4)
        .select("doc_id", "text")
        .unionAll(
            docs.filter((F.col("doc_id") % 5 != 4) & (F.col("doc_id") % 7 == 0)).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
        .unionAll(
            docs.filter((F.col("doc_id") % 5 == 4) & (F.col("doc_id") % 3 == 0)).select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "text"
            )
        )
    )
    return hist, batch


def _gram_partials_fn(col: str, dim: int, quant: int | None):
    """Shared per-partition Gram accumulator used by BOTH gram surfaces
    (batch q_embedding_gram_matrix quantizes inside the task; streaming
    q_streaming_gram_matrix consumes pre-quantized ``qv`` rows) — one
    definition, so a change to dim or the quantization cannot break the
    'final snapshot equals the batch Gram cell-for-cell' claim silently.
    Emits the upper-triangle (i, j, partial) int64 cells."""
    import numpy as np
    import pandas as pd

    iu, ju = np.triu_indices(dim)

    def gram_partials(pdf_iter):
        acc = np.zeros((dim, dim), dtype=np.int64)
        seen = False
        for pdf in pdf_iter:
            x = np.stack(pdf[col].to_numpy())
            if quant is not None:
                q = np.floor(x.astype(np.float64) * quant).astype(np.int64)
            else:
                q = x.astype(np.int64)
            acc += q.T @ q
            seen = True
        if seen:
            yield pd.DataFrame({"i": iu + 1, "j": ju + 1, "partial": acc[iu, ju]})

    return gram_partials


@query(
    "bpe_merge_step",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_DUCK_TOKS}) AS tok FROM documents
    ),
    t2 AS (SELECT tok FROM toks WHERE length(tok) >= 2),
    pairs AS (
      SELECT unnest(list_transform(range(1, length(tok)),
                                   i -> substr(tok, i, 2))) AS pair
      FROM t2
    ),
    c AS (SELECT pair, count(*) AS n_occurrences FROM pairs GROUP BY pair)
    SELECT pair, n_occurrences, merge_rank FROM (
      SELECT pair, n_occurrences,
             row_number() OVER (ORDER BY n_occurrences DESC, pair) AS merge_rank
      FROM c
    ) WHERE merge_rank <= 20
    """,
    doc="one BPE merge iteration: corpus-wide adjacent-symbol-pair counts "
    "over whitespace pre-tokens, top-20 merge candidates — the inner loop "
    "of tokenizer training as a two-shuffle aggregation",
)
def q_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer-training inner loop (count adjacent symbol pairs, pick
    the argmax to merge) as a scan-shaped plan: pair explosion happens
    inside the same stage as the scan (no token materialization), the only
    shuffles are the pair-count groupBy (map-side partial agg collapses
    ~26² keys per partition) and a top-20 TakeOrdered.  At 100 TB the pair
    alphabet stays tiny (|symbols|²), so the reduce side is constant-size
    regardless of corpus scale — the canonical high-cardinality-in,
    low-cardinality-out aggregation.  Real BPE iterates this with merged
    symbols; one step exercises the full dataflow."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.text import tokens

    (docs,) = load(spark, sf_dir, "documents")
    pairs = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .filter(F.length("tok") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")
            ).alias("pair")
        )
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n_occurrences"))
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("pair"))
    return (
        counts.withColumn("merge_rank", F.row_number().over(w))
        .filter(F.col("merge_rank") <= 20)
    )


#: bpe_train_merges rounds — enough that later merges visibly consume
#: earlier ones (multi-char symbols appear by round ~3 on the synthetic
#: vocab) while keeping the unrolled oracle readable
_BPE_TRAIN_K = 8


def _bpe_train_oracle(k: int) -> str:
    """Unrolled k-round DuckDB twin of operators/tokenizer.bpe_train_merges:
    per round, a pair-count CTE over the current symbol strings, a 1-row
    argmax CTE, and a replace CTE applying the merge — same
    marker-delimited representation, same literal ``replace`` (both
    engines scan left-to-right non-overlapping = greedy BPE), same
    (count DESC, l, r) tie-break.  Early exhaustion agrees too: an empty
    argmax CTE makes every later round's cross join empty, exactly where
    the Spark loop breaks."""
    rounds = []
    for i in range(1, k + 1):
        prev = f"w{i - 1}"
        rounds.append(
            f"""
    p{i} AS (
      SELECT p[1] AS l, p[2] AS r, CAST(sum(freq) AS BIGINT) AS n FROM (
        SELECT unnest(list_transform(range(1, len(s)), j -> [s[j], s[j+1]])) AS p, freq
        FROM (SELECT string_split(substr(w, 2, length(w) - 2), chr(2) || chr(1)) AS s, freq
              FROM {prev})
        WHERE len(s) >= 2
      ) GROUP BY 1, 2
    ),
    b{i} AS (SELECT l, r, n FROM p{i} ORDER BY n DESC, l, r LIMIT 1),
    w{i} AS (
      SELECT replace(w, chr(1) || b.l || chr(2) || chr(1) || b.r || chr(2),
                     chr(1) || b.l || b.r || chr(2)) AS w, freq
      FROM {prev}, b{i} b
    )"""
        )
    union = "\n    UNION ALL ".join(
        f"SELECT {i} AS merge_rank, l AS left_sym, r AS right_sym, "
        f"l || r AS merged, n AS n_occurrences FROM b{i}"
        for i in range(1, k + 1)
    )
    return f"""
    WITH words AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT unnest({_DUCK_TOKS}) AS tok FROM documents
      )
      WHERE tok NOT LIKE '%' || chr(1) || '%' AND tok NOT LIKE '%' || chr(2) || '%'
      GROUP BY tok
    ),
    w0 AS (
      SELECT list_aggregate(list_transform(range(1, length(tok) + 1),
               i -> chr(1) || substr(tok, i, 1) || chr(2)), 'string_agg', '') AS w, freq
      FROM words
    ),{",".join(rounds)}
    {union}
    """


@query(
    "bpe_train_merges",
    oracle=_bpe_train_oracle(_BPE_TRAIN_K),
    doc=f"iterative BPE tokenizer training: {_BPE_TRAIN_K} merge rounds with "
    "pair-count recomputation between rounds over the word-frequency table "
    "— the real tokenizer-training workload (bpe_merge_step is one round)",
)
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE training loop (VERDICT r12 #5), Sennrich-style: ONE
    corpus-scale shuffle builds the (token, freq) vocabulary, then every
    merge round is vocabulary-scale — pair counts recomputed over the
    merged symbol state, argmax merged into it, k times.  See
    operators/tokenizer.py for the marker-string representation and the
    100 TB sizing argument (vocab ~0.1% of corpus; 1-row driver collect
    per round).  n_occurrences is the pair's weighted count AT MERGE
    TIME — rounds interact: e.g. round r's best pair can include a
    symbol minted by round r-1, which bpe_merge_step can never see."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.tokenizer import (
        bpe_train_merges,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.text import tokens

    (docs,) = load(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return bpe_train_merges(words, _BPE_TRAIN_K)


def _bpe_encode_oracle(k: int) -> str:
    """DuckDB twin of bpe_train + bpe_encode_counts + the per-doc rollup:
    the same k-round training chain as ``_bpe_train_oracle`` but carrying
    ``tok`` through every round, so the final round's symbol strings
    split back into per-WORD token counts that join to the exploded
    corpus."""
    rounds = []
    for i in range(1, k + 1):
        prev = f"w{i - 1}"
        rounds.append(
            f"""
    p{i} AS (
      SELECT p[1] AS l, p[2] AS r, CAST(sum(freq) AS BIGINT) AS n FROM (
        SELECT unnest(list_transform(range(1, len(s)), j -> [s[j], s[j+1]])) AS p, freq
        FROM (SELECT string_split(substr(w, 2, length(w) - 2), chr(2) || chr(1)) AS s, freq
              FROM {prev})
        WHERE len(s) >= 2
      ) GROUP BY 1, 2
    ),
    b{i} AS (SELECT l, r FROM p{i} ORDER BY n DESC, l, r LIMIT 1),
    w{i} AS (
      -- LEFT JOIN, not cross: on early merge exhaustion b{i} is EMPTY
      -- and the words must pass through UNCHANGED (the Spark loop
      -- breaks and applies the shorter merge list) — a cross join would
      -- empty every later round and zero out enc (code-review r13)
      SELECT tok,
             CASE WHEN b.l IS NULL THEN w
                  ELSE replace(w, chr(1) || b.l || chr(2) || chr(1) || b.r || chr(2),
                               chr(1) || b.l || b.r || chr(2)) END AS w,
             freq
      FROM {prev} LEFT JOIN b{i} b ON TRUE
    )"""
        )
    return f"""
    WITH words AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT unnest({_DUCK_TOKS}) AS tok FROM documents
      )
      WHERE tok NOT LIKE '%' || chr(1) || '%' AND tok NOT LIKE '%' || chr(2) || '%'
      GROUP BY tok
    ),
    w0 AS (
      SELECT tok, list_aggregate(list_transform(range(1, length(tok) + 1),
               i -> chr(1) || substr(tok, i, 1) || chr(2)), 'string_agg', '') AS w, freq
      FROM words
    ),{",".join(rounds)},
    enc AS (
      SELECT tok,
             CAST(len(string_split(substr(w, 2, length(w) - 2), chr(2) || chr(1))) AS BIGINT)
               AS n_symbols
      FROM w{k}
    ),
    corpus AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
    )
    SELECT doc_id,
           count(*) AS n_words,
           CAST(sum(n_symbols) AS BIGINT) AS n_bpe_tokens,
           floor(sum(length(tok))::DOUBLE / sum(n_symbols) * 1000000 + 0.5) / 1000000
             AS chars_per_token
    FROM corpus JOIN enc USING (tok)
    GROUP BY doc_id
    """


@query(
    "bpe_encode_token_counts",
    oracle=_bpe_encode_oracle(_BPE_TRAIN_K),
    doc=f"apply the {_BPE_TRAIN_K}-merge trained BPE tokenizer to the corpus: "
    "per-document word count, BPE token count, and chars-per-token "
    "compression under the trained merge table — the encode half of "
    "tokenizer training (bpe_train_merges is the train half)",
)
def q_bpe_encode_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer ENCODE pass over the corpus with the merges
    ``bpe_train_merges`` trains: per-word symbol counts come from one
    narrow k-replace projection over the vocabulary (encoding is
    embarrassingly parallel, unlike training), then one equi-join back
    to the exploded corpus and a per-doc rollup.  Scale: corpus-side
    work is explode + join on token + groupBy doc — all linear; the
    merge chain itself never touches corpus rows, only the vocab table.
    Marker-containing hostile tokens are excluded from vocab AND corpus
    counts (inner join) on both engines."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.text import tokens
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.tokenizer import (
        bpe_encode_counts,
        bpe_train,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.text import half_up_round

    (docs,) = load(spark, sf_dir, "documents")
    corpus = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    words = corpus.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    enc = bpe_encode_counts(words, bpe_train(words, _BPE_TRAIN_K))
    return (
        corpus.join(enc, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_symbols").alias("n_bpe_tokens"),
            half_up_round(
                F.sum(F.length("tok")) / F.sum("n_symbols"), 6
            ).alias("chars_per_token"),
        )
    )


#: Count-Min sketch geometry: d pairwise-independent-ish hash rows of
#: width w.  (a, b) pairs are fixed literals < p so a·(H mod p) < 2^62
#: never overflows int64 under ANSI; p = 2^31 − 1 (Mersenne).
_CMS_P = 2_147_483_647
_CMS_W = 512
_CMS_ROWS: list[tuple[int, int]] = [
    (1_000_003, 12_345),
    (19_999_999, 987_654),
    (344_555_667, 55_555),
    (777_767_777, 1_234_567),
]
_CMS_TOPK = 20

#: portable 32-bit token hash: first 8 md5 hex digits (the rolling_hash
#: idiom) — Spark spells it conv(..., 16, 10), DuckDB ('0x' || ...)::BIGINT
_CMS_H_SPARK = "CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) % 2147483647"
_CMS_H_DUCK = "('0x' || substr(md5(tok), 1, 8))::BIGINT % 2147483647"


def _cms_bucket(h_expr: str, j: int) -> str:
    a, b = _CMS_ROWS[j]
    return f"((({a} * ({h_expr})) + {b}) % {_CMS_P}) % {_CMS_W}"


def _cms_oracle() -> str:
    buckets = ",\n             ".join(
        f"{_cms_bucket(_CMS_H_DUCK, j)} AS b{j}" for j in range(len(_CMS_ROWS))
    )
    sketch_rows = "\n      UNION ALL ".join(
        f"SELECT {j} AS j, b{j} AS bucket FROM h" for j in range(len(_CMS_ROWS))
    )
    est_rows = "\n      UNION ALL ".join(
        f"SELECT tok, {j} AS j, b{j} AS bucket FROM tk_top" for j in range(len(_CMS_ROWS))
    )
    return f"""
    WITH toks AS (SELECT unnest({_DUCK_TOKS}) AS tok FROM documents),
    h AS (SELECT tok, {buckets} FROM toks),
    sketch AS (
      SELECT j, bucket, CAST(count(*) AS BIGINT) AS c FROM (
      {sketch_rows}
      ) GROUP BY j, bucket
    ),
    exact AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt FROM toks GROUP BY tok),
    top AS (
      SELECT tok, exact_cnt,
             row_number() OVER (ORDER BY exact_cnt DESC, tok) AS rank
      FROM exact
    ),
    tk_top AS (
      SELECT t.tok, t.exact_cnt, t.rank, {buckets.replace("tok", "t.tok")}
      FROM top t WHERE t.rank <= {_CMS_TOPK}
    ),
    est AS (
      SELECT tok, CAST(min(c) AS BIGINT) AS cms_est FROM (
      {est_rows}
      ) e JOIN sketch USING (j, bucket) GROUP BY tok
    )
    SELECT t.tok AS token, t.exact_cnt, e.cms_est,
           e.cms_est - t.exact_cnt AS overestimate, t.rank
    FROM tk_top t JOIN est e ON e.tok = t.tok
    """


@query(
    "heavy_hitters_countmin",
    oracle=_cms_oracle(),
    doc=f"heavy hitters via a deterministic {len(_CMS_ROWS)}×{_CMS_W} "
    "Count-Min sketch: one-pass fixed-memory frequency estimation, "
    "top-20 tokens reported with exact count, CMS estimate, and "
    "overestimate (CMS never underestimates) — the estimator-vs-exact "
    "accuracy-report pattern of minhash_accuracy_report",
)
def q_heavy_hitters_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min (Cormode & Muthukrishnan 2005) with fixed literal hash
    rows so any engine computes the identical sketch.  Scale: the sketch
    is d·w counters NO MATTER the corpus size — the map side emits
    (j, bucket) pairs that partial-aggregate to ≤ d·w rows per task, so
    the reduce input is constant; at 100 TB this is the only way to
    track frequencies in bounded memory, and the report quantifies the
    price (overestimate column, ~N/w collisions-worth).  Exact counts
    for the top-k comparison ride the same scan.  The broadcast join of
    the 2,048-row sketch back to the 20 report rows is free."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.text import tokens

    (docs,) = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("tok"))
    d = len(_CMS_ROWS)
    bucket_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.expr(_cms_bucket(_CMS_H_SPARK, j)).alias("bucket"),
            )
            for j in range(d)
        ]
    )
    pairs = toks.select(F.explode(bucket_structs).alias("p")).select("p.j", "p.bucket")
    sketch = pairs.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("c"))
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_cnt"))
    w = Window.orderBy(F.desc("exact_cnt"), F.asc("tok"))
    top = (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _CMS_TOPK)
    )
    probes = top.select(
        "tok", "exact_cnt", "rank", F.explode(bucket_structs).alias("p")
    ).select("tok", "exact_cnt", "rank", "p.j", "p.bucket")
    est = (
        probes.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("tok", "exact_cnt", "rank")
        .agg(F.min("c").alias("cms_est"))
    )
    return est.select(
        F.col("tok").alias("token"),
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overestimate"),
        "rank",
    )


def _interaction_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Id-ordered (ua < ub) co-occurrence edges: users sharing ≥2 (hour,
    event_type) buckets, hot buckets capped at 20 users before the pair
    self-join (the max_df guard generalized to graph construction).
    Cached — every graph query reads it at least twice."""
    (ev,) = load(spark, sf_dir, "events")
    buckets = ev.select(
        "user_id", F.date_trunc("hour", "ts").alias("hr"), "event_type"
    ).distinct()
    sized = buckets.groupBy("hr", "event_type").agg(F.count(F.lit(1)).alias("n"))
    ok = buckets.join(sized.filter(F.col("n") <= 20), ["hr", "event_type"]).select(
        "user_id", "hr", "event_type"
    )
    a, c = ok.alias("a"), ok.alias("c")
    return (
        a.join(
            c,
            (F.col("a.hr") == F.col("c.hr"))
            & (F.col("a.event_type") == F.col("c.event_type"))
            & (F.col("a.user_id") < F.col("c.user_id")),
        )
        .groupBy(F.col("a.user_id").alias("ua"), F.col("c.user_id").alias("ub"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= 2)
        .select("ua", "ub")
        .cache()
    )


@query(
    "triangle_count_graph",
    oracle="""
    WITH b AS (
      SELECT DISTINCT user_id, date_trunc('hour', ts) AS hr, event_type
      FROM events
    ),
    sz AS (SELECT hr, event_type, count(*) AS n FROM b GROUP BY hr, event_type),
    ok AS (
      SELECT b.user_id, b.hr, b.event_type FROM b
      JOIN sz USING (hr, event_type) WHERE sz.n <= 20
    ),
    pe AS (
      SELECT a.user_id AS ua, c.user_id AS ub, count(*) AS shared
      FROM ok a JOIN ok c
        ON a.hr = c.hr AND a.event_type = c.event_type AND a.user_id < c.user_id
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    tri AS (
      SELECT e1.ua AS a, e1.ub AS b, e2.ub AS c
      FROM pe e1
      JOIN pe e2 ON e2.ua = e1.ub
      JOIN pe e3 ON e3.ua = e1.ua AND e3.ub = e2.ub
    ),
    pertri AS (
      SELECT a AS user_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ),
    tcnt AS (SELECT user_id, count(*) AS n_triangles FROM pertri GROUP BY user_id),
    deg AS (
      SELECT user_id, count(*) AS degree FROM (
        SELECT ua AS user_id FROM pe UNION ALL SELECT ub FROM pe
      ) GROUP BY user_id
    )
    SELECT deg.user_id, degree, coalesce(n_triangles, 0) AS n_triangles
    FROM deg LEFT JOIN tcnt USING (user_id)
    """,
    doc="interaction-graph build + triangle counting: users co-occurring in "
    "≥2 (hour, event_type) buckets form edges (hot buckets capped at 20 "
    "users), triangles counted via the ordered-edge three-way join — "
    "per-user degree and triangle participation",
)
def q_triangle_count_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph construction from co-occurrence plus the classic distributed
    triangle count.  Scale levers: (1) the bucket-size cap (≤20 users)
    bounds the pair fanout of any hot bucket at cap² before the self-join
    — the same hot-key guard as the jaccard inverted index's max_df;
    (2) edges are kept in id-ordered form (ua < ub), so each triangle is
    enumerated exactly once and the three-way join never mirrors — at
    production scale the ordering key becomes degree rather than id,
    which bounds the join fanout by arboricity, same plan shape;
    (3) everything shuffles ids only.  Output is per-user degree +
    triangle participation — the cohesion features a community/abuse
    pipeline feeds on."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.graph import (
        triangle_participation,
    )

    # _interaction_edges guarantees ua < ub unique pairs (u < v theta-join
    # over distinct buckets), so skip the defensive normalization shuffle
    return triangle_participation(_interaction_edges(spark, sf_dir), assume_normalized=True)


@query(
    "weighted_sample_topk",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             ('0x' || substr(md5('ws:' || doc_id), 1, 15))::BIGINT
               // greatest(n_chars, 1) AS rank_key
      FROM documents
    )
    SELECT doc_id, source, n_chars, samp_rank FROM (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY rank_key, doc_id) AS samp_rank
      FROM keyed
    ) WHERE samp_rank <= 5
    """,
    doc="deterministic weighted sampling without replacement: per-source "
    "top-5 by hash(doc) div weight (longer docs → smaller keys → likelier "
    "picked) — the A-Res reservoir analogue in exact integer arithmetic",
)
def q_weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling the portable way: the classic A-Res reservoir key
    u^(1/w) needs floats and an RNG; hash60(doc) div weight preserves the
    ordering property that heavier rows win more often while staying in
    integer arithmetic — reruns, engines, and partitionings agree
    row-for-row.  One shuffle (the per-source window); at 100 TB the
    per-group top-k becomes the rank-filter pattern that never sorts a
    whole partition globally, and adding documents never perturbs which
    keys existing docs drew (growth-stable, same property as the split
    assigner)."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.text import md5_hash60

    (docs,) = load(spark, sf_dir, "documents")
    h = md5_hash60(F.concat(F.lit("ws:"), F.col("doc_id")))
    return (
        docs.select("doc_id", "source", "n_chars", h.alias("__h"))
        .select("doc_id", "source", "n_chars", F.expr("__h div greatest(n_chars, 1)").alias("__k"))
        .withColumn(
            "samp_rank",
            F.row_number().over(Window.partitionBy("source").orderBy("__k", "doc_id")),
        )
        .filter(F.col("samp_rank") <= 5)
        .select("doc_id", "source", "n_chars", "samp_rank")
    )


@query(
    "snapshot_cdc_diff",
    oracle="""
    WITH snap_old AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 97 <> 0
    ),
    snap_new AS (
      SELECT o_orderkey,
             o_totalprice + CASE WHEN o_orderkey % 50 = 0 THEN 1.0 ELSE 0.0 END
               AS o_totalprice
      FROM orders WHERE o_orderkey % 89 <> 0
    )
    SELECT coalesce(snap_old.o_orderkey, snap_new.o_orderkey) AS o_orderkey,
           CASE WHEN snap_old.o_orderkey IS NULL THEN 'insert'
                WHEN snap_new.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           snap_old.o_totalprice AS old_price,
           snap_new.o_totalprice AS new_price
    FROM snap_old FULL OUTER JOIN snap_new USING (o_orderkey)
    WHERE snap_old.o_orderkey IS NULL OR snap_new.o_orderkey IS NULL
       OR snap_old.o_totalprice <> snap_new.o_totalprice
    """,
    doc="CDC snapshot diff: two table versions full-outer-joined on the key, "
    "rows classified insert/delete/update, unchanged rows dropped — the "
    "change-capture step between pipeline runs without a table format",
)
def q_snapshot_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff CDC (the poor man's table-format changelog): one
    full-outer sort-merge join on the key, change classification as pure
    expressions, unchanged rows filtered before anything downstream —
    output is proportional to the CHANGE volume, not the table.  The two
    versions here are derived deterministically from orders (drop-by-mod
    simulates deletes/inserts, +1.0-by-mod simulates updates) so the diff
    is oracle-checkable; in production both sides are parquet snapshot
    reads and the plan is identical.  At 100 TB: co-partition both
    snapshots on the key at write time and the join needs no shuffle at
    all (bucketed storage), which is the documented upgrade path."""
    (orders,) = load(spark, sf_dir, "orders")
    # presence flags, NOT value-nullity: a key PRESENT in a snapshot with a
    # NULL price must classify as unchanged/update, never insert/delete —
    # inferring presence from the price column conflated the two on the
    # adversarial fixture's NULL-price rows
    old = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        F.col("o_totalprice").alias("old_price"),
        F.lit(True).alias("__in_old"),
    )
    new = orders.filter(F.col("o_orderkey") % 89 != 0).select(
        "o_orderkey",
        (
            F.col("o_totalprice")
            + F.when(F.col("o_orderkey") % 50 == 0, F.lit(1.0)).otherwise(F.lit(0.0))
        ).alias("new_price"),
        F.lit(True).alias("__in_new"),
    )
    joined = old.join(new, "o_orderkey", "full_outer")
    return (
        joined.select(
            "o_orderkey",
            F.when(F.col("__in_old").isNull(), F.lit("insert"))
            .when(F.col("__in_new").isNull(), F.lit("delete"))
            .otherwise(F.lit("update"))
            .alias("change_type"),
            "old_price",
            "new_price",
            "__in_old",
            "__in_new",
        )
        .filter(
            F.col("__in_old").isNull()
            | F.col("__in_new").isNull()
            | (F.col("old_price") != F.col("new_price"))
        )
        .drop("__in_old", "__in_new")
    )


@query(
    "feature_hash_vector",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
    )
    SELECT doc_id,
           CAST(('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS INTEGER) AS bucket,
           count(*) AS n
    FROM toks
    GROUP BY doc_id, bucket
    """,
    doc="hashing-trick vectorizer: tokens hashed into 64 buckets per doc "
    "(sparse bag-of-words without a vocabulary) — the fixed-width feature "
    "map a downstream classifier trains on",
)
def q_feature_hash_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing needs no vocabulary build, no broadcast, no second
    pass: bucket = hash(token) mod width rides the scan, and the only
    shuffle is the (doc, bucket) groupBy whose key space is bounded by
    docs × width.  That is why the hashing trick is the 100 TB default
    over count-vectorizers — the md5-derived bucket (functions.text.
    md5_hash60 convention) keeps the exact vector reproducible on any
    engine."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.text import md5_hash60, tokens

    (docs,) = load(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .select("doc_id", (md5_hash60(F.col("tok")) % 64).cast("int").alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _ann_recall_oracle() -> str:
    """Brute-force and IVF oracle bodies (queries.llm) wrapped as
    subqueries and joined on (q_id, c_id): the overlap count IS the
    recall, and both sides are already proven hash-exact twins of the
    Spark operators, so the report hash-checks end-to-end."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries.llm import _ann_ivf_oracle

    brute = """
      SELECT q_id, c_id FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                                 c.embedding::DOUBLE[]) DESC,
                          c.vec_id) AS rn
        FROM embeddings q, embeddings c
        WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
      ) WHERE rn <= 10
    """
    return f"""
    WITH brute AS ({brute}),
    ivf AS (SELECT q_id, c_id FROM ({_ann_ivf_oracle()}))
    SELECT brute.q_id,
           count(*) AS n_exact,
           count(ivf.c_id) AS n_recalled,
           CAST(floor(count(ivf.c_id) * 1000.0 / count(*)) AS BIGINT)
             AS recall_permille
    FROM brute LEFT JOIN ivf
      ON ivf.q_id = brute.q_id AND ivf.c_id = brute.c_id
    GROUP BY brute.q_id
    """


@query(
    "ann_recall_report",
    oracle=nse_oracle(_ann_recall_oracle()),
    doc="ANN index quality accounting: IVF top-10 joined against the exact "
    "brute-force top-10 per query, per-query recall in integer permille — "
    "measure the index, don't guess",
)
def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measure-don't-guess closer for the ANN tier: recall of the
    approximate index against the exact baseline computed IN the engine,
    as one query.  Both sides are the existing deterministic operators
    (brute_topk broadcast-crosses only the 5 query vectors; ivf_topk_det
    scans the corpus once for bucket assignment), and the comparison is
    an id-only equi-join of two k×|queries| result sets — negligible on
    top of the index cost at any scale.  In production this runs on a
    sampled query set after every index build; a recall drop gates the
    index swap."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators import similarity as S

    (emb,) = load(spark, sf_dir, "embeddings")
    emb = swallow_malformed_embeddings(emb)  # malformed-vector swallow (r14; ingest-bit-aware r16)
    qs = emb.filter(F.col("vec_id") < 5)
    brute = S.brute_topk(emb, qs, k=10).select("q_id", "c_id")
    ivf = (
        S.ivf_topk_det(emb, qs, k=10, n_centroids=16, nprobe=4)
        .select("q_id", F.col("c_id").alias("ivf_c_id"))
    )
    return (
        brute.join(
            ivf,
            (ivf["q_id"] == brute["q_id"]) & (ivf["ivf_c_id"] == brute["c_id"]),
            "left",
        )
        .groupBy(brute["q_id"].alias("q_id"))
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("ivf_c_id").alias("n_recalled"),
            F.floor(F.count("ivf_c_id") * 1000.0 / F.count(F.lit(1)))
            .cast("bigint")
            .alias("recall_permille"),
        )
    )


@query(
    "cohort_retention",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      FROM events
    ),
    firstwk AS (SELECT user_id, min(wk) AS cohort_week FROM act GROUP BY user_id)
    SELECT cohort_week,
           CAST(datediff('day', cohort_week, wk) // 7 AS INTEGER) AS week_offset,
           count(*) AS n_users
    FROM act JOIN firstwk USING (user_id)
    GROUP BY cohort_week, week_offset
    """,
    doc="cohort retention matrix: users bucketed by first-active week, "
    "counted per (cohort, week-offset) — the product-analytics staple as "
    "two aggregations and a broadcastable first-seen join",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention at scale is two shuffles, not a per-user timeline scan:
    (1) distinct (user, week) activity — one shuffle that also carries the
    min-week (first-seen) aggregation; (2) re-join first-seen onto the
    activity rows and count per (cohort, offset).  The first-seen table is
    one row per user; for a billion users it is still an EQUI-join Spark
    shuffles or broadcasts by measured size — never a window over the full
    event history.  The matrix itself is tiny (weeks × offsets)."""
    (ev,) = load(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
    ).distinct()
    firstwk = act.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    return (
        act.join(firstwk, "user_id")
        .groupBy(
            "cohort_week",
            F.expr("datediff(wk, cohort_week) div 7").cast("int").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "incremental_agg_merge",
    oracle="""
    WITH cents AS (
      SELECT o_orderpriority, o_orderdate,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
      FROM orders
    ),
    base AS (
      SELECT o_orderpriority, count(*) AS n_orders, sum(price_cents) AS total_cents,
             min(price_cents) AS min_cents, max(price_cents) AS max_cents
      FROM cents WHERE o_orderdate < TIMESTAMP '1999-01-01' GROUP BY o_orderpriority
    ),
    delta AS (
      SELECT o_orderpriority, count(*) AS n_orders, sum(price_cents) AS total_cents,
             min(price_cents) AS min_cents, max(price_cents) AS max_cents
      FROM cents WHERE o_orderdate >= TIMESTAMP '1999-01-01' GROUP BY o_orderpriority
    ),
    merged AS (SELECT * FROM base UNION ALL SELECT * FROM delta)
    SELECT o_orderpriority,
           CAST(sum(n_orders) AS BIGINT) AS n_orders,
           CAST(sum(total_cents) AS BIGINT) AS total_cents,
           min(min_cents) AS min_cents,
           max(max_cents) AS max_cents,
           CAST(sum(total_cents) // sum(n_orders) AS BIGINT) AS avg_cents
    FROM merged GROUP BY o_orderpriority
    """,
    doc="incremental aggregate maintenance: a pre-aggregated base state "
    "merged with a delta partition's partial aggregates via the merge "
    "algebra (sum+sum, min-min, max-max, avg = merged sum/count) — "
    "refresh without recomputing history",
)
def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view delta refresh: history is aggregated ONCE into a
    per-key state of mergeable partials (count, sum, min, max — avg is
    derived, never stored), and each new partition contributes only its
    own partials; the merge is a union + re-aggregate over |keys| rows.
    At 100 TB this is the difference between scanning one day and
    scanning three years — and it works because every statistic kept is
    a commutative monoid (the same property the KMV/CMS sketch algebra
    queries exercise for distinct-count and frequency).  Prices are
    quantized to integer cents BEFORE summing, so base+delta merge order
    cannot move the result and the oracle matches bit-for-bit."""
    (orders,) = load(spark, sf_dir, "orders")
    cents = orders.select(
        "o_orderpriority",
        "o_orderdate",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("price_cents"),
    )
    cutoff = "1999-01-01"

    def partials(part: DataFrame) -> DataFrame:
        return part.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_cents").alias("total_cents"),
            F.min("price_cents").alias("min_cents"),
            F.max("price_cents").alias("max_cents"),
        )

    base = partials(cents.filter(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp")))
    delta = partials(cents.filter(F.col("o_orderdate") >= F.lit(cutoff).cast("timestamp")))
    return (
        base.unionAll(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.sum("total_cents").cast("bigint").alias("total_cents"),
            F.min("min_cents").alias("min_cents"),
            F.max("max_cents").alias("max_cents"),
            F.expr("sum(total_cents) div sum(n_orders)").cast("bigint").alias("avg_cents"),
        )
    )


_DUCK_FP = (
    "md5(array_to_string(list_sort(list_distinct("
    "list_filter(string_split_regex(trim(text, ' '), '[ \t\n\x0b\f\r]+'), t -> t <> ''))), ' '))"
)


@query(
    "incremental_dedup",
    oracle=f"""
    WITH hist AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4
    ),
    batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents
      WHERE doc_id % 5 <> 4 AND doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents
      WHERE doc_id % 5 = 4 AND doc_id % 3 = 0
    ),
    hfp AS (SELECT DISTINCT {_DUCK_FP} AS fp FROM hist),
    bfp AS (SELECT doc_id, {_DUCK_FP} AS fp FROM batch),
    ranked AS (
      SELECT bfp.doc_id, bfp.fp,
             hfp.fp IS NOT NULL AS in_hist,
             row_number() OVER (PARTITION BY bfp.fp ORDER BY bfp.doc_id) AS rn
      FROM bfp LEFT JOIN hfp ON hfp.fp = bfp.fp
    )
    SELECT doc_id,
           CASE WHEN in_hist THEN 'dup_of_history'
                WHEN rn > 1 THEN 'dup_in_batch'
                ELSE 'new' END AS status
    FROM ranked
    """,
    headline=True,  # measures the batch-vs-history fingerprint join path
    doc="incremental corpus dedup: a new batch checked against HISTORY "
    "FINGERPRINTS (history text never rescanned) then deduped within "
    "itself — per-doc status new / dup_of_history / dup_in_batch",
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The arrival-time dedup pattern every growing corpus needs: history
    is represented ONLY by its distinct fingerprint set (16 bytes/doc —
    at 100 TB of text that is a few hundred GB of state, stored
    partitioned on the fingerprint), the new batch joins against it on
    the fingerprint (equi-join, co-partitioned with the state so only
    the BATCH shuffles), and intra-batch duplicates collapse with one
    window over the batch's own fingerprints.  Cost per refresh scales
    with the batch, never the corpus — the streaming-dedup state-store
    idea expressed as a batch join.  The planted batch mixes genuinely
    new docs, re-submissions of history docs, and within-batch copies so
    all three statuses are exercised."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.text import fingerprint

    (docs,) = load(spark, sf_dir, "documents")
    hist, batch = _planted_incremental_batch(docs)
    hfp = hist.select(fingerprint("text").alias("fp")).distinct()
    bfp = batch.select("doc_id", fingerprint("text").alias("fp"))
    ranked = bfp.join(
        hfp.select(F.col("fp"), F.lit(True).alias("in_hist")), "fp", "left"
    ).withColumn("rn", F.row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
    return ranked.select(
        "doc_id",
        F.when(F.col("in_hist"), F.lit("dup_of_history"))
        .when(F.col("rn") > 1, F.lit("dup_in_batch"))
        .otherwise(F.lit("new"))
        .alias("status"),
    )


def _minhash_accuracy_oracle(n: int = 3, num_perm: int = 64, seed: int = 7) -> str:
    """DuckDB twin: identical md5-derived shingle hashes + literal
    permutation coefficients (operators.dedup._minhash_params) rebuild the
    very same signatures, so the estimator error itself hash-matches."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators import dedup as D
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries.llm import (
        _DUCK_NEARDUP_CORPUS,
        COPY_OFFSET,
    )

    p = D.MERSENNE_PRIME
    sig_items = ", ".join(
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {p}))"
        for a, b in D._minhash_params(num_perm, seed)
    )
    return f"""
    WITH {_DUCK_NEARDUP_CORPUS},
    toks AS (SELECT doc_id, {_DUCK_TOKS} AS tk FROM corpus),
    sh AS (SELECT doc_id,
             list_distinct(CASE WHEN len(tk) >= {n}
               THEN list_transform(range(1, len(tk) - {n - 2}),
                                   i -> array_to_string(list_slice(tk, i, i + {n - 1}), ' '))
               ELSE [] END) AS shingles
           FROM toks),
    sh2 AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
    hs AS (SELECT doc_id,
             list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {p}) AS hs
           FROM sh2),
    sig AS (SELECT doc_id, [{sig_items}] AS sig FROM hs),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
      FROM sig a JOIN sig b ON b.doc_id = a.doc_id + {COPY_OFFSET}
    ),
    est AS (
      SELECT id_a, id_b,
             len(list_filter(range(1, {num_perm + 1}), i -> sa[i] = sb[i])) AS m
      FROM pairs
    ),
    ex AS (
      SELECT id_a, id_b,
             len(list_intersect(xa.shingles, xb.shingles)) AS inter,
             len(xa.shingles) + len(xb.shingles)
               - len(list_intersect(xa.shingles, xb.shingles)) AS un
      FROM est JOIN sh2 xa ON xa.doc_id = id_a JOIN sh2 xb ON xb.doc_id = id_b
    )
    SELECT est.id_a, est.id_b,
           CAST(m * 1000 // {num_perm} AS BIGINT) AS est_permille,
           CAST(inter * 1000 // un AS BIGINT) AS exact_permille,
           CAST(abs(m * 1000 // {num_perm} - inter * 1000 // un) AS BIGINT)
             AS err_permille
    FROM est JOIN ex ON ex.id_a = est.id_a AND ex.id_b = est.id_b
    """


@query(
    "minhash_accuracy_report",
    oracle=_minhash_accuracy_oracle(),
    doc="MinHash estimator accounting: signature-agreement estimate vs "
    "exact Jaccard per planted pair, error in integer permille — the "
    "dedup tier's measure-don't-guess gate (64 perms ⇒ σ ≈ 1/√64 ≈ 6%)",
)
def q_minhash_accuracy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The estimator-quality twin of ann_recall_report for the dedup tier:
    MinHash's Pr[sig position agrees] = jaccard, so the fraction of
    agreeing positions IS the estimate — compared here against the exact
    shingle-set jaccard on the planted copy pairs.  The signature compare
    shuffles only (id, 64-long) rows and the exact side runs on candidate
    ids only; in production this runs on a sampled pair set to pick
    num_perm/bands before committing a corpus-wide LSH pass (64 perms ⇒
    σ = √(j(1-j)/64) ≈ 6% worst case)."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators import dedup as D
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries.llm import (
        COPY_OFFSET,
        _docs_with_neardup_copies,
    )

    num_perm = 64
    corpus = _docs_with_neardup_copies(spark, sf_dir)
    sigs = D.minhash_signatures(corpus, "doc_id", "text", n=3, num_perm=num_perm)
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sa"))
    b = sigs.select(
        (F.col("doc_id") - COPY_OFFSET).alias("id_a"),
        F.col("doc_id").alias("id_b"),
        F.col("sig").alias("sb"),
    )
    est = a.join(b, "id_a").select(
        "id_a",
        "id_b",
        F.size(F.filter(F.zip_with("sa", "sb", lambda x, y: x == y), lambda t: t)).alias("m"),
    )
    sets = D.shingle_sets(corpus, "doc_id", "text", n=3)
    xa = sets.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    xb = sets.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    est_pm = F.expr(f"m * 1000 div {num_perm}").cast("bigint")
    return (
        est.join(xa, "id_a")
        .join(xb, "id_b")
        .select(
            "id_a",
            "id_b",
            est_pm.alias("est_permille"),
            F.expr("size(array_intersect(sh_a, sh_b)) * 1000 div "
                   "(size(sh_a) + size(sh_b) - size(array_intersect(sh_a, sh_b)))")
            .cast("bigint")
            .alias("exact_permille"),
        )
        .withColumn(
            "err_permille",
            F.abs(F.col("est_permille") - F.col("exact_permille")).cast("bigint"),
        )
    )


@query(
    "embedding_gram_matrix",
    oracle=nse_oracle("""
    WITH e AS (
      SELECT list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv
      FROM embeddings
    )
    SELECT CAST(t1.i AS INTEGER) AS i, CAST(t2.j AS INTEGER) AS j,
           CAST(sum(qv[CAST(t1.i AS INT)] * qv[CAST(t2.j AS INT)]) AS BIGINT)
             AS gram_sum
    FROM e
    CROSS JOIN range(1, 65) t1(i)
    CROSS JOIN range(1, 65) t2(j)
    WHERE t2.j >= t1.i
    GROUP BY t1.i, t2.j
    """),
    headline=True,  # measures the Arrow mapInPandas matmul path
    doc="distributed Gram matrix (X^T X upper triangle) over the embedding "
    "corpus: per-partition numpy matmul partials in exact integer "
    "micro-quanta, merged by a d²-key sum — the covariance/PCA/whitening "
    "precursor",
)
def q_embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The map-side-matrix pattern: each Arrow batch computes its own
    X^T X with one int64 numpy matmul (exact — no float summation), and
    only d(d+1)/2 partial cells per PARTITION ever shuffle; the reduce is
    a sum over a fixed 2,080-key space no matter the corpus size.  This
    is how covariance/PCA/whitening statistics come off a 100 TB
    embedding table: compute cost rides the scan, communication is
    O(partitions · d²).  Quantization to 1e6 keeps every product exact in
    int64 up to ~10⁶ rows per partition at |x| ≤ 1; for trillion-row
    corpora drop the quant to 1e3 or add one intermediate merge level —
    the algebra (integer monoid) is unchanged."""
    import numpy as np
    import pandas as pd

    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.dedup import spread

    (emb,) = load(spark, sf_dir, "embeddings")
    emb = swallow_malformed_embeddings(emb)  # malformed-vector swallow (r14; ingest-bit-aware r16)
    partials = spread(emb.select("embedding")).mapInPandas(
        _gram_partials_fn("embedding", dim=64, quant=1_000_000),
        schema="i int, j int, partial long",
    )
    return partials.groupBy("i", "j").agg(
        F.sum("partial").cast("bigint").alias("gram_sum")
    )


def _pca_power_oracle(n_iters: int = 5) -> str:
    """Unrolled integer power iteration over the Gram CTE: rescale,
    matrix-vector product, max-norm requantize — every step integer
    (DuckDB ``//`` and Spark ``div`` both truncate toward zero), so the
    5-step trajectory is bit-identical."""
    its = []
    prev = "v0"
    for k in range(1, n_iters + 1):
        its.append(f"""
    w{k} AS (
      SELECT g.i AS dim, sum(g.g * {prev}.val) AS w
      FROM g JOIN {prev} ON {prev}.dim = g.j GROUP BY g.i
    ),
    v{k} AS (
      SELECT dim, (w * 1000) // (SELECT max(abs(w)) FROM w{k}) AS val FROM w{k}
    )""")
        prev = f"v{k}"
    return f"""
    WITH e AS (
      SELECT list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    gram AS (
      SELECT CAST(t1.i AS INTEGER) AS i, CAST(t2.j AS INTEGER) AS j,
             CAST(sum(qv[CAST(t1.i AS INT)] * qv[CAST(t2.j AS INT)]) AS BIGINT)
               AS gram_sum
      FROM e
      CROSS JOIN range(1, 65) t1(i)
      CROSS JOIN range(1, 65) t2(j)
      WHERE t2.j >= t1.i
      GROUP BY t1.i, t2.j
    ),
    gfull AS (
      SELECT i, j, gram_sum FROM gram
      UNION ALL
      SELECT j, i, gram_sum FROM gram WHERE i < j
    ),
    g AS (
      SELECT i, j,
             gram_sum // ((SELECT max(abs(gram_sum)) FROM gfull) // 1000000 + 1)
               AS g
      FROM gfull
    ),
    v0 AS (SELECT DISTINCT i AS dim, 1000::BIGINT AS val FROM g),{",".join(its)}
    SELECT dim, CAST(val AS BIGINT) AS v_milli FROM {prev}
    """


@query(
    "pca_power_iteration",
    oracle=nse_oracle(_pca_power_oracle()),
    doc="leading principal direction of the embedding corpus: 5 integer "
    "power-iteration steps over the distributed Gram matrix (rescale → "
    "matvec → max-norm requantize, all integer ops) — iterative linear "
    "algebra with a bit-identical cross-engine trajectory",
)
def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA's top component the 100 TB way: the corpus is touched ONCE (the
    Gram partials of embedding_gram_matrix); the power iteration then
    runs on that fixed-size object — reduce to sufficient statistics
    first, iterate on the small object.  r17 takes the second half of
    that sentence literally (optimization guide §5: the driver may hold
    bounded sufficient statistics; it is per-ROW data work that is
    banned): the d(d+1)/2 = 2,080 Gram cells are one bounded collect —
    like the centroid/merge-step fetches the ANN tier already does — and
    the 5-step integer recurrence runs in-process instead of as 5
    join+aggregate Spark jobs with two scalar collects each (11 jobs →
    2; measured 8.4 s → 1.1 s at sf0.01, the remainder being the Gram
    pass that stays distributed).

    Integer trajectory, bit-identical to the oracle AND to the previous
    distributed formulation: Gram cells are rescaled to ≤1e6, the vector
    lives in milli-units, every product is exact int, and every divide
    TRUNCATES TOWARD ZERO — Spark's BIGINT ``div`` semantics, which
    Python's floor-based ``//`` does NOT share on negative operands,
    hence the explicit sign/abs form below (q10 in the oracle divides
    negative matvec outputs; a silent ``//`` here would shift those by
    one and fail the hash)."""
    gram_rows = q_embedding_gram_matrix(spark, sf_dir).collect()  # d(d+1)/2 = 2,080 rows, bounded by schema not data

    def div0(a: int, b: int) -> int:
        # BIGINT div: integral quotient truncated toward zero
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b > 0) else -q

    # mirror the upper triangle: gfull[(i, j)] for all 64×64 cells
    gfull: dict[tuple[int, int], int] = {}
    for r in gram_rows:
        gfull[(r["i"], r["j"])] = r["gram_sum"]
        if r["i"] < r["j"]:
            gfull[(r["j"], r["i"])] = r["gram_sum"]
    s = max(abs(x) for x in gfull.values())
    scale = s // 1_000_000 + 1
    g = {ij: div0(x, scale) for ij, x in gfull.items()}
    dims = sorted({i for i, _ in g})
    v = {d: 1000 for d in dims}
    for _ in range(5):
        w = {
            i: sum(g[(i, j)] * v[j] for j in dims if (i, j) in g)
            for i in dims
        }
        m = max(abs(x) for x in w.values())
        v = {d: div0(w[d] * 1000, m) for d in dims}
    return spark.createDataFrame(
        [(d, v[d]) for d in dims], "dim int, v_milli bigint"
    )


@query(
    "pmi_collocations",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_DUCK_TOKS} AS tk FROM documents
    ),
    bg AS (
      SELECT tk[CAST(i AS INT)] AS tok_a, tk[CAST(i AS INT) + 1] AS tok_b
      FROM toks CROSS JOIN unnest(range(1, len(tk))) t(i)
      WHERE len(tk) >= 2
    ),
    uni AS (
      SELECT tok, count(*) AS c FROM (SELECT unnest(tk) AS tok FROM toks) GROUP BY tok
    ),
    bgc AS (SELECT tok_a, tok_b, count(*) AS n_ab FROM bg GROUP BY tok_a, tok_b),
    tot AS (
      SELECT (SELECT sum(c) FROM uni) AS n, (SELECT count(*) FROM bg) AS m
    ),
    scored AS (
      SELECT tok_a, tok_b, n_ab,
             CAST(floor(log2(n_ab) * 1000) + 2 * floor(log2(n) * 1000)
                  - floor(log2(m) * 1000) - floor(log2(ca.c) * 1000)
                  - floor(log2(cb.c) * 1000) AS BIGINT) AS pmi_millibits
      FROM bgc
      JOIN uni ca ON ca.tok = tok_a
      JOIN uni cb ON cb.tok = tok_b
      CROSS JOIN tot
      WHERE n_ab >= 5
    )
    SELECT tok_a, tok_b, n_ab, pmi_millibits, colloc_rank FROM (
      SELECT *, row_number() OVER (ORDER BY pmi_millibits DESC, tok_a, tok_b)
               AS colloc_rank
      FROM scored
    ) WHERE colloc_rank <= 20
    """,
    doc="PMI collocation mining: adjacent-token pair counts vs unigram "
    "expectations, PMI in quantized integer millibits (per-term floored "
    "log2s, so the combination is engine-exact), top-20 phrase candidates "
    "at min-support 5",
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase mining for tokenizer/vocab prep: which adjacent pairs occur
    far above chance.  Plan: one bigram explode riding the scan, a bigram
    groupBy and a unigram groupBy (both map-side combined; key spaces are
    vocab-sized, not corpus-sized), then two joins of the bigram counts
    against the unigram model — the model side is vocab-bounded and
    broadcasts.  The corpus totals N and M are two scalar driver fetches
    (the surprisal precedent).  Quantize-then-combine: each log2 is
    floored to millibits BEFORE the signed sum, so no float composition
    can diverge between engines; min-support 5 also keeps the PMI
    estimator itself out of its high-variance regime."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.text import tokens

    (docs,) = load(spark, sf_dir, "documents")
    tk = docs.select(tokens("text").alias("tk")).cache()
    uni = (
        tk.select(F.explode("tk").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bg = (
        tk.filter(F.size("tk") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(1, size(tk) - 1), i -> struct(tk[i-1] AS tok_a, tk[i] AS tok_b))")
            ).alias("p")
        )
        .select("p.tok_a", "p.tok_b")
    )
    bgc = bg.groupBy("tok_a", "tok_b").agg(F.count(F.lit(1)).alias("n_ab"))
    n = tk.select(F.sum(F.size("tk"))).collect()[0][0]
    m = bg.count()
    mb = lambda c: F.floor(F.log2(c) * 1000)  # noqa: E731 — per-term millibit quantize
    ca = uni.select(F.col("tok").alias("tok_a"), F.col("c").alias("c_a"))
    cb = uni.select(F.col("tok").alias("tok_b"), F.col("c").alias("c_b"))
    scored = (
        bgc.filter(F.col("n_ab") >= 5)
        .join(F.broadcast(ca), "tok_a")
        .join(F.broadcast(cb), "tok_b")
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            (
                mb(F.col("n_ab")) + 2 * F.lit(int(np_floor_log2_millibits(n)))
                - F.lit(int(np_floor_log2_millibits(m)))
                - mb(F.col("c_a")) - mb(F.col("c_b"))
            ).cast("bigint").alias("pmi_millibits"),
        )
    )
    w = Window.orderBy(F.desc("pmi_millibits"), F.asc("tok_a"), F.asc("tok_b"))
    return (
        scored.withColumn("colloc_rank", F.row_number().over(w))
        .filter(F.col("colloc_rank") <= 20)
    )


def np_floor_log2_millibits(x: int) -> int:
    """floor(log2(x)·1000) computed on the DRIVER for the two corpus-total
    scalars — math.log2 on an exact int yields the same correctly-rounded
    double as any engine's log2 of that int, so the floored millibits
    match the oracle's scalar subquery."""
    import math

    return math.floor(math.log2(x) * 1000)


@query(
    "streaming_gram_matrix",
    oracle=nse_oracle("""
    WITH e AS (
      SELECT list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv
      FROM embeddings
    )
    SELECT CAST(t1.i AS INTEGER) AS i, CAST(t2.j AS INTEGER) AS j,
           CAST(sum(qv[CAST(t1.i AS INT)] * qv[CAST(t2.j AS INT)]) AS BIGINT)
             AS gram_sum
    FROM e
    CROSS JOIN range(1, 65) t1(i)
    CROSS JOIN range(1, 65) t2(j)
    WHERE t2.j >= t1.i
    GROUP BY t1.i, t2.j
    """),
    doc="STREAMING Gram matrix: pre-quantized integer vectors replayed in 3 "
    "micro-batches, per-batch numpy X^T X partials (stateless mapInPandas) "
    "merged by a complete-mode running sum — the final snapshot equals the "
    "batch Gram cell-for-cell, proving the partials monoid composes with "
    "streaming state exactly like CMS cells do",
)
def q_streaming_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The statistics-accumulation pattern on a LIVE stream: vectors are
    quantized to integer micro-units at the producer side (integers
    survive any wire format bit-for-bit — floats through JSON would risk
    re-parse drift), each micro-batch contributes its own exact int64
    X^T X, and the d²-key running sum is the only state (4,096 cells —
    constant regardless of stream volume or uptime).  A model-monitoring
    job computes covariance/drift statistics this way without ever
    re-reading history."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    from amazon_kinesis_data_analytics_flinktableapi_spark.streaming.replay import (
        replay_stream,
        run_to_memory,
    )

    dim = 64
    iu, ju = np.triu_indices(dim)
    (emb,) = load(spark, sf_dir, "embeddings")
    emb = swallow_malformed_embeddings(emb)  # malformed-vector swallow (r14; ingest-bit-aware r16)
    quantized = emb.select(
        "vec_id",
        F.expr(
            "transform(cast(embedding AS array<double>), x -> cast(floor(x * 1000000) AS bigint))"
        ).alias("qv"),
    )
    schema = StructType(
        [StructField("vec_id", LongType()), StructField("qv", ArrayType(LongType()))]
    )
    tmp = scratch_dir("stream_gram_")
    stream = replay_stream(
        spark, quantized, schema, tmp, n_chunks=3, order_col="vec_id", max_files_per_trigger=1
    )

    cells = (
        stream.select("qv")
        .mapInPandas(_gram_partials_fn("qv", dim=dim, quant=None), schema="i int, j int, partial long")
        .groupBy("i", "j")
        .agg(F.sum("partial").cast("bigint").alias("gram_sum"))
    )
    return run_to_memory(cells, spark, timeout_sec=240, output_mode="complete")


@query(
    "theilsen_trend",
    oracle="""
    WITH daily AS (
      SELECT user_id,
             datediff('day', DATE '2024-01-01', CAST(date_trunc('day', ts) AS DATE))
               AS d,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v_cents
      -- ts IS NOT NULL: a daily series has no bucket for an unknown day;
      -- also dodges DuckDB 1.0.0's nondeterministic window sort over
      -- NULL ORDER BY keys (observed in the adversarial sweep).
      -- Non-finite values swallowed before the cents binding (r14).
      FROM events
      WHERE ts IS NOT NULL AND (value IS NULL OR isfinite(value))
      GROUP BY 1, 2
    ),
    slopes AS (
      SELECT a.user_id,
             (b.v_cents - a.v_cents) * 1000 // (b.d - a.d) AS slope
      FROM daily a JOIN daily b ON b.user_id = a.user_id AND b.d > a.d
    ),
    ranked AS (
      SELECT user_id, slope,
             row_number() OVER (PARTITION BY user_id ORDER BY slope) AS rn,
             count(*) OVER (PARTITION BY user_id) AS cnt
      FROM slopes
    )
    SELECT user_id, CAST(cnt AS BIGINT) AS n_pairs,
           CAST(slope AS BIGINT) AS slope_milli
    FROM ranked WHERE rn = (cnt + 1) // 2
    """,
    doc="Theil–Sen robust trend per user: median of all pairwise "
    "daily-total slopes (integer milli-cents/day, lower-median rule) — "
    "the outlier-immune regression slope, MAD's sibling for trends",
)
def q_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust trend at scale: values are quantized to integer cents BEFORE
    the daily sum (float sums are partitioning-dependent; integer sums are
    not), the pairwise-slope self-join is bounded per key by days² — a
    30-day window is ≤435 pairs per user no matter how many events — and
    the exact median uses the rank-filter pattern (one window shuffle,
    never a per-group sort collect).  Slopes are integer milli-cents/day
    with truncating div, so the median element is engine-exact.  The
    estimator tolerates ~29% outliers, which is why monitoring pipelines
    prefer it over least squares for per-entity drift."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.scalar import finite_or_null

    (ev,) = load(spark, sf_dir, "events")
    # NULL event times excluded from the daily series on BOTH engines;
    # non-finite values swallowed before the cents binding (r14)
    daily = (
        ev.filter(F.col("ts").isNotNull() & finite_or_null("value"))
        .select(
            "user_id",
            F.datediff(F.date_trunc("day", "ts").cast("date"), F.lit("2024-01-01").cast("date")).alias("d"),
            F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("v_cents"),
        )
        .groupBy("user_id", "d")
        .agg(F.sum("v_cents").alias("v_cents"))
    )
    a = daily.select("user_id", F.col("d").alias("da"), F.col("v_cents").alias("va"))
    b = daily.select("user_id", F.col("d").alias("db"), F.col("v_cents").alias("vb"))
    slopes = (
        a.join(b, "user_id")
        .filter(F.col("db") > F.col("da"))
        .select("user_id", F.expr("(vb - va) * 1000 div (db - da)").alias("slope"))
    )
    wrank = Window.partitionBy("user_id").orderBy("slope")
    wcnt = Window.partitionBy("user_id")
    ranked = slopes.select(
        "user_id",
        "slope",
        F.row_number().over(wrank).alias("rn"),
        F.count(F.lit(1)).over(wcnt).alias("cnt"),
    )
    return ranked.filter(F.col("rn") == F.expr("(cnt + 1) div 2")).select(
        "user_id",
        F.col("cnt").cast("bigint").alias("n_pairs"),
        F.col("slope").cast("bigint").alias("slope_milli"),
    )


@query(
    "cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT user_id,
             datediff('day', DATE '2024-01-01', CAST(date_trunc('day', ts) AS DATE))
               AS d,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v_cents
      -- ts IS NOT NULL: a daily series has no bucket for an unknown day;
      -- also dodges DuckDB 1.0.0's nondeterministic window sort over
      -- NULL ORDER BY keys (observed in the adversarial sweep).
      -- Non-finite values swallowed before the cents binding (r14).
      FROM events
      WHERE ts IS NOT NULL AND (value IS NULL OR isfinite(value))
      GROUP BY 1, 2
    ),
    dev AS (
      SELECT user_id, d,
             v_cents * (count(*) OVER (PARTITION BY user_id))
               - (sum(v_cents) OVER (PARTITION BY user_id)) AS dev_scaled
      FROM daily
    ),
    cusum AS (
      SELECT user_id, d,
             sum(dev_scaled) OVER (PARTITION BY user_id ORDER BY d NULLS LAST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
      FROM dev
    )
    SELECT user_id, d AS change_day, CAST(abs(cs) AS BIGINT) AS max_abs_cusum
    FROM (
      SELECT user_id, d, cs,
             row_number() OVER (PARTITION BY user_id
               ORDER BY abs(cs) DESC NULLS LAST, d NULLS LAST)
               AS rn
      FROM cusum
    ) WHERE rn = 1
    """,
    doc="CUSUM changepoint per user: cumulative sum of mean-deviations over "
    "daily totals, argmax |cusum| marks the most likely level-shift day — "
    "deviations multiplied through by n_days so no mean division ever "
    "happens (exact integers end-to-end)",
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-shift detection the streaming-metrics way, made engine-exact:
    instead of x − mean (a division that floats), deviations are scaled by
    n_days (x·n − Σ, the rolling_anomaly_flags multiply-through), so the
    cusum trajectory and its argmax are integers no summation order can
    move.  Plan: the daily rollup is one shuffle; the per-user windows
    (count, total, running sum, rank) all share the user_id partitioning —
    Catalyst plans ONE Exchange for the lot.  Per-key state is days, not
    events; at 100 TB the window never sees raw event rows."""
    (ev,) = load(spark, sf_dir, "events")
    # NULL event times excluded from the daily series on BOTH engines
    # (see the oracle comment); non-finite values swallowed (r14)
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.scalar import finite_or_null

    daily = (
        ev.filter(F.col("ts").isNotNull() & finite_or_null("value"))
        .select(
            "user_id",
            F.datediff(
                F.date_trunc("day", "ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("d"),
            F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("v_cents"),
        )
        .groupBy("user_id", "d")
        .agg(F.sum("v_cents").alias("v_cents"))
    )
    wu = Window.partitionBy("user_id")
    dev = daily.select(
        "user_id",
        "d",
        (
            F.col("v_cents") * F.count(F.lit(1)).over(wu) - F.sum("v_cents").over(wu)
        ).alias("dev_scaled"),
    )
    # NULL placement pinned on BOTH engines (Spark defaults ASC→NULLS
    # FIRST, DuckDB →NULLS LAST): a NULL day (NULL ts upstream) would
    # otherwise enter the cumulative sum at opposite ends of the
    # trajectory and silently diverge — caught by the adversarial
    # fixture (tests/test_adversarial_oracle.py), invisible on driver
    # data which never emits NULL timestamps
    wcs = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("d")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cusum = dev.select("user_id", "d", F.sum("dev_scaled").over(wcs).alias("cs"))
    wr = Window.partitionBy("user_id").orderBy(
        F.desc_nulls_last(F.abs(F.col("cs"))), F.asc_nulls_last("d")
    )
    return (
        cusum.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("d").alias("change_day"),
            F.abs(F.col("cs")).cast("bigint").alias("max_abs_cusum"),
        )
    )


def _pca_outlier_oracle(n_iters: int = 5) -> str:
    """The power-iteration oracle extended with the projection: every
    vector's integer dot with the learned component, top-20 by |score|."""
    its = []
    prev = "v0"
    for k in range(1, n_iters + 1):
        its.append(f"""
    w{k} AS (
      SELECT g.i AS dim, sum(g.g * {prev}.val) AS w
      FROM g JOIN {prev} ON {prev}.dim = g.j GROUP BY g.i
    ),
    v{k} AS (
      SELECT dim, (w * 1000) // (SELECT max(abs(w)) FROM w{k}) AS val FROM w{k}
    )""")
        prev = f"v{k}"
    return f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * 1000000) AS BIGINT)) AS qv
      FROM embeddings
    ),
    gram AS (
      SELECT CAST(t1.i AS INTEGER) AS i, CAST(t2.j AS INTEGER) AS j,
             CAST(sum(qv[CAST(t1.i AS INT)] * qv[CAST(t2.j AS INT)]) AS BIGINT)
               AS gram_sum
      FROM e
      CROSS JOIN range(1, 65) t1(i)
      CROSS JOIN range(1, 65) t2(j)
      WHERE t2.j >= t1.i
      GROUP BY t1.i, t2.j
    ),
    gfull AS (
      SELECT i, j, gram_sum FROM gram
      UNION ALL
      SELECT j, i, gram_sum FROM gram WHERE i < j
    ),
    g AS (
      SELECT i, j,
             gram_sum // ((SELECT max(abs(gram_sum)) FROM gfull) // 1000000 + 1)
               AS g
      FROM gfull
    ),
    v0 AS (SELECT DISTINCT i AS dim, 1000::BIGINT AS val FROM g),{",".join(its)},
    proj AS (
      SELECT e.vec_id, CAST(sum(qv[CAST(dim AS INT)] * val) AS BIGINT) AS score
      FROM e CROSS JOIN {prev}
      GROUP BY e.vec_id
    )
    SELECT vec_id, score, out_rank FROM (
      SELECT vec_id, score,
             row_number() OVER (ORDER BY abs(score) DESC, vec_id) AS out_rank
      FROM proj
    ) WHERE out_rank <= 20
    """


@query(
    "pca_outlier_scores",
    oracle=nse_oracle(_pca_outlier_oracle()),
    doc="principal-axis outlier detection: every embedding projected onto "
    "the learned leading component (integer dot, scan-local via a "
    "literalized 64-value model), top-20 by |score| — the learn→apply "
    "closer for the PCA tier",
)
def q_pca_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Applying a learned model at 100 TB: the component is 64 integers, so
    it ships to executors as a LITERAL expression — the projection rides
    the corpus scan with zero shuffle and zero joins, and the only
    reduction is TakeOrdered(20) on |score|.  (The posexplode-and-join
    alternative would inflate the shuffle 64×; never shuffle what fits in
    the plan.)  Learning the component costs one Gram pass (cached by
    q_pca_power_iteration's plan); scoring is the marginal cost of one
    scan — which is why principal-axis screens run on every corpus
    refresh."""
    v_rows = q_pca_power_iteration(spark, sf_dir).collect()  # 64 rows, bounded
    v = [0] * 64
    for r in v_rows:
        v[r["dim"] - 1] = int(r["v_milli"])
    (emb,) = load(spark, sf_dir, "embeddings")
    emb = swallow_malformed_embeddings(emb)  # malformed-vector swallow (r14; ingest-bit-aware r16)
    quant = emb.select(
        "vec_id",
        F.expr(
            "transform(cast(embedding AS array<double>), x -> cast(floor(x * 1000000) AS bigint))"
        ).alias("qv"),
    )
    vlit = "array(" + ",".join(f"{x}L" for x in v) + ")"
    score = F.expr(
        f"aggregate(zip_with(qv, {vlit}, (x, y) -> x * y), 0L, (acc, t) -> acc + t)"
    )
    w = Window.orderBy(F.desc(F.abs(F.col("score"))), F.asc("vec_id"))
    return (
        quant.select("vec_id", score.cast("bigint").alias("score"))
        .withColumn("out_rank", F.row_number().over(w))
        .filter(F.col("out_rank") <= 20)
    )


def three_sigma_outlier(v_cents, n, s, s2):
    """(x·n−Σ)² > 9·(n·Σx²−Σ²), computed in DECIMAL(38,0).

    The multiply-through form of |x−μ| > 3σ (sample second-moment form)
    over integer-cent values — no float mean/variance ever materializes,
    so the test is exact and engine-portable.  DECIMAL(38,0) instead of
    BIGINT because the products overflow int64 long before any real
    corpus scale — from n·V ≈ 3e9 (n = bucket count, V bounds
    |v_cents|), where BIGINT either wraps silently (ANSI off) or throws
    (ANSI on); unusable at scale either way, and DuckDB errors too.

    Exactness bound: the largest intermediate is 9·(n·Σx² − Σ²) ≤ 9n²V²
    (worst case: values split ±V), so 38 digits hold exactly while
    **n·V ≤ 3e18** — at V = 10⁶ cents ($10k values) that is 3×10¹²
    rows PER (event_type, hour) bucket, comfortably past 100 TB of
    events.  Beyond the bound the engine fails LOUDLY
    (ArithmeticException — ANSI mode, the Spark 4 default this engine
    keeps), never silently: regression-tested against exact Python ints
    up to the bound in tests/test_extras.py.
    """
    vd = v_cents.cast("decimal(38,0)")
    nd = n.cast("decimal(38,0)")
    sd = s.cast("decimal(38,0)")
    s2d = s2.cast("decimal(38,0)")
    dev = vd * nd - sd
    return dev * dev > F.lit(9).cast("decimal(38,0)") * (nd * s2d - sd * sd)


@query(
    "seasonal_residual_flags",
    oracle="""
    WITH ev AS (
      SELECT event_id, event_type,
             CAST(hour(ts) AS INTEGER) AS hod,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents
      FROM events WHERE value IS NOT NULL AND isfinite(value)
    ),
    prof AS (
      SELECT event_type, hod,
             count(*) AS n,
             sum(CAST(v_cents AS HUGEINT)) AS s,
             sum(CAST(v_cents AS HUGEINT) * CAST(v_cents AS HUGEINT)) AS s2
      FROM ev GROUP BY event_type, hod
    )
    SELECT event_id, ev.event_type, ev.hod, v_cents
    FROM ev JOIN prof ON prof.event_type = ev.event_type AND prof.hod = ev.hod
    WHERE n >= 30
      AND (CAST(v_cents AS HUGEINT) * n - s) * (CAST(v_cents AS HUGEINT) * n - s)
          > 9 * (n * s2 - s * s)
    """,
    doc="seasonality-adjusted 3σ anomaly flags: per (event_type, "
    "hour-of-day) profile of count/Σ/Σx² in integer cents, deviation "
    "tested as (x·n−Σ)² > 9·(n·Σx²−Σ²) — the profile-join baseline that "
    "catches what a trailing window normalizes away",
)
def q_seasonal_residual_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The seasonal sibling of rolling_anomaly_flags: a trailing window
    treats a nightly batch spike as 'normal recent level', a seasonal
    profile knows 3am Tuesdays are always like this.  The baseline is a
    (event_type × 24) table of mergeable integer partials — broadcast
    back onto the event scan, so flagging costs one aggregation plus one
    map-side join at any corpus size; the σ test is
    :func:`three_sigma_outlier` — multiply-through DECIMAL(38,0) form
    (HUGEINT in the oracle), exact to 3×10¹² rows per bucket where int64
    would wrap silently.  Buckets under 30 observations are excluded
    (σ estimate unstable), the same min-support discipline as the PMI
    screen."""
    (ev,) = load(spark, sf_dir, "events")
    base = ev.filter(F.col("value").isNotNull()).select(
        "event_id",
        "event_type",
        F.hour("ts").cast("int").alias("hod"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("v_cents"),
    )
    vd = F.col("v_cents").cast("decimal(38,0)")
    prof = base.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vd).alias("s"),
        F.sum(vd * vd).alias("s2"),
    )
    j = base.join(F.broadcast(prof), ["event_type", "hod"])
    return (
        j.filter(
            (F.col("n") >= 30)
            & three_sigma_outlier(F.col("v_cents"), F.col("n"), F.col("s"), F.col("s2"))
        )
        .select("event_id", "event_type", "hod", "v_cents")
    )


@query(
    "template_doc_detect",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 3000000 + k,
             'order ' || (doc_id * 7 + k * 13) || ' total ' || (k * 97 + 5)
               || ' ' || substr(text, 1, 120)
      FROM documents CROSS JOIN range(0, 4) t(k)
      WHERE doc_id % 50 = 0
    ),
    sk AS (
      SELECT doc_id,
             md5(regexp_replace(lower(text), '[0-9]+', '0', 'g')) AS skeleton
      FROM corpus
    ),
    t AS (
      SELECT skeleton, count(*) AS n_docs FROM sk GROUP BY skeleton
      HAVING count(*) >= 3
    )
    SELECT sk.doc_id, sk.skeleton, t.n_docs
    FROM sk JOIN t USING (skeleton)
    """,
    doc="templated-document detection: digit runs collapsed before "
    "fingerprinting, skeletons shared by ≥3 docs flagged (planted "
    "4-variant receipt families make detection observable) — catches "
    "machine-generated pages (receipts, listings, logs) that exact and "
    "near-dup fingerprints both miss because the variable slots differ",
)
def q_template_doc_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaning-ladder rung between exact dedup and MinHash: templated
    pages differ in every digit (ids, prices, dates) so their exact
    fingerprints all differ and their shingle overlap can dip below
    near-dup thresholds, yet they carry one document's worth of
    information.  Slot abstraction (digits → one symbol) before hashing
    collapses the family to one skeleton; detection is then a plain
    count-groupBy on the 16-byte skeleton — corpus-linear, one shuffle,
    no pairwise anything.  Production variants add more slot classes
    (emails, UUIDs, hex) to the same normalize-then-hash plan.  The
    planted families (4 digit-varied 'receipts' per every 50th doc) give
    the detector real positives to find — each family's members share a
    skeleton but no exact fingerprint."""
    (docs,) = load(spark, sf_dir, "documents")
    planted = (
        docs.filter(F.col("doc_id") % 50 == 0)
        .select("doc_id", "text", F.explode(F.array(*[F.lit(k) for k in range(4)])).alias("k"))
        .select(
            (F.col("doc_id") + 3000000 + F.col("k")).alias("doc_id"),
            F.concat(
                F.lit("order "),
                (F.col("doc_id") * 7 + F.col("k") * 13).cast("string"),
                F.lit(" total "),
                (F.col("k") * 97 + 5).cast("string"),
                F.lit(" "),
                F.substring("text", 1, 120),
            ).alias("text"),
        )
    )
    corpus = docs.select("doc_id", "text").unionAll(planted)
    sk = corpus.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower(F.col("text")), "[0-9]+", "0")).alias("skeleton"),
    )
    t = (
        sk.groupBy("skeleton")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 3)
    )
    return sk.join(t, "skeleton").select("doc_id", "skeleton", "n_docs")


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts NULLS LAST, event_id)
               AS next_type
      FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           count(*) AS n,
           CAST(count(*) * 10000 // (sum(count(*)) OVER (PARTITION BY event_type))
                AS BIGINT) AS share_bp
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
    doc="Markov transition matrix over per-user event sequences: lead() "
    "pairs consecutive events, counts + integer basis-point row shares — "
    "the behavioral-model prior and the funnel/sequence ops' aggregate twin",
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-to-matrix at scale: ONE window shuffle on user_id pairs
    each event with its successor (ties broken by event_id so the
    sequence is total-ordered and engine-identical), then the matrix
    groupBy reduces to |types|² rows — the constant-size-out shape again.
    Row-normalized shares use integer basis points with truncating
    division; the matrix feeds session simulators and next-event priors
    without ever re-reading the event log."""
    (ev,) = load(spark, sf_dir, "events")
    # asc_nulls_last pins the NULL-ts placement to DuckDB's default (see
    # the cusum comment above — same engine-default divergence class)
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    counts = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.expr("n * 10000 div sum(n) OVER (PARTITION BY from_type)")
        .cast("bigint")
        .alias("share_bp"),
    )


@query(
    "split_leakage_audit",
    oracle="""
    WITH fp AS (
      -- fingerprint twin of functions.text.fingerprint: NULL text -> NULL,
      -- empty token set -> md5('') (DuckDB array_to_string NULLs empty
      -- lists, so it needs the coalesce)
      SELECT doc_id,
             CASE WHEN text IS NULL THEN NULL
                  ELSE md5(coalesce(array_to_string(list_sort(list_distinct(
                    list_filter(string_split_regex(trim(text, ' '), '[ \t\n\x0b\f\r]+'),
                                t -> t <> ''))), ' '), '')) END
               AS fp,
             ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT % 100 AS pct
      FROM documents
    ),
    s AS (
      SELECT doc_id, fp,
             CASE WHEN pct < 80 THEN 'train' WHEN pct < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM fp
    )
    SELECT fp, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
           array_to_string(list_sort(list_distinct(list(split))), ',') AS splits
    FROM s GROUP BY fp HAVING count(DISTINCT split) > 1
    """,
    doc="train/eval leakage audit: content fingerprints straddling split "
    "boundaries under the id-hash split — every returned row is an eval "
    "answer sitting in the training set; finds REAL leaks in the corpus "
    "(the id-hash split cannot see content duplicates)",
)
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit that justifies content-hash splitting: an ID-hash split
    (dataset_split_assign) is growth-stable but blind to content — two
    uploads of the same document get independent splits, and each
    collision is benchmark contamination from the inside.  The audit is
    one fingerprint groupBy carrying the split set (corpus-linear, ids
    and 16-byte hashes only); run it after every split materialization,
    and fix leaks either by content-keyed splitting (corpus_clean_pipeline
    does) or by evicting the colliding fingerprints from eval.  This
    corpus contains genuine cross-split duplicate fingerprints, so the
    audit is attested on real positives, not plants."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.text import (
        fingerprint,
        md5_hash60,
    )

    (docs,) = load(spark, sf_dir, "documents")
    pct = md5_hash60(F.concat(F.lit("split:"), F.col("doc_id"))) % 100
    s = docs.select(
        fingerprint("text").alias("fp"),
        F.when(pct < 80, "train").when(pct < 90, "val").otherwise("test").alias("split"),
    )
    return (
        s.groupBy("fp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("split").cast("bigint").alias("n_splits"),
            F.array_join(F.array_sort(F.collect_set("split")), ",").alias("splits"),
        )
        .filter(F.col("n_splits") > 1)
    )


@query(
    "token_budget_select",
    oracle="""
    WITH scored AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(trim(text, ' '), '[ \t\n\x0b\f\r]+'), t -> t <> ''))
               AS n_tokens,
             floor((0.5 * least(length(text) / 500.0, 1.0)
                   + 0.4 * least(round(len(list_filter(
                       list_filter(string_split_regex(trim(text, ' '), '[ \t\n\x0b\f\r]+'), t -> t <> ''),
                       t -> lower(t) IN ('the','a','of','and','to','in','is'))) * 1.0
                     / greatest(len(list_filter(string_split_regex(trim(text, ' '), '[ \t\n\x0b\f\r]+'),
                                                t -> t <> '')), 1), 6) * 5, 1.0)
                   + 0.1 * (1 - least(round((length(text)
                       - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) * 1.0
                     / greatest(length(text), 1), 6) * 10, 1.0)))
                   * 10000 + 0.5) / 10000 AS quality
      FROM documents
    ),
    cum AS (
      SELECT doc_id, n_tokens, quality,
             sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM scored
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, quality,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM cum WHERE cum_tokens <= 20000
    """,
    doc="budget-capped data selection: docs ranked by quality, greedily "
    "taken until a 20k-token budget fills — the global running sum uses "
    "the range-partition + broadcast-offset plan, never Exchange "
    "SinglePartition",
)
def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Give me the best N tokens' is a global cumulative constraint — the
    classic place a naive window (`sum OVER (ORDER BY ...)`) collapses
    the whole corpus into ONE partition.  This runs the same
    range-partition + per-partition-prefix + broadcast-offset plan as
    sequence_packing (operators.ranking.global_running_sum, SinglePartition
    absence contract-tested there), ordered by (quality desc, doc_id) —
    integer token counts make every offset exact under any sampled range
    boundary.  The budget filter then rides the summed output; selection
    cost is one range shuffle regardless of corpus size."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.text import (
        quality_score,
        token_count,
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.ranking import (
        global_running_sum,
    )

    (docs,) = load(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        token_count("text").cast("bigint").alias("n_tokens"),
        quality_score("text").alias("quality"),
    )
    summed = global_running_sum(
        scored,
        order_by=[F.desc("quality"), F.asc("doc_id")],
        value_col="n_tokens",
        sum_name="cum_tokens",
    )
    return summed.filter(F.col("cum_tokens") <= 20000).select(
        "doc_id", "n_tokens", "quality", F.col("cum_tokens").cast("bigint").alias("cum_tokens")
    )


@query(
    "token_budget_waterfill",
    oracle=f"""
    WITH c AS (
      SELECT source, CAST(sum(coalesce(len({_DUCK_TOKS}), 0)) AS BIGINT)
               AS token_count
      FROM documents GROUP BY source
    ),
    s AS (SELECT count(*) AS m, sum(token_count) AS total,
                 max(token_count) AS cmax FROM c),
    r AS (SELECT source, token_count,
                 row_number() OVER (ORDER BY token_count, source NULLS FIRST)
                   AS rn,
                 sum(token_count) OVER (ORDER BY token_count, source NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
          FROM c),
    f AS (SELECT max(rn) AS i, max(p) AS pi
          FROM r, s WHERE p + (m - rn) * token_count <= 20000),
    lvl AS (SELECT CASE WHEN s.m = 0 THEN CAST(0 AS BIGINT)
                        WHEN s.total <= 20000 THEN s.cmax
                        ELSE CAST(floor((20000 - coalesce(f.pi, 0)) * 1.0
                                  / (s.m - coalesce(f.i, 0))) AS BIGINT)
                   END AS water_level
            FROM s, f)
    SELECT c.source, c.token_count,
           CAST(LEAST(c.token_count, lvl.water_level) AS BIGINT) AS alloc_tokens,
           lvl.water_level
    FROM c, lvl
    """,
    doc="water-filling token-budget allocation across sources: the integer "
    "level t = max t with sum(min(count_d, t)) <= 20000; small domains keep "
    "everything, head domains absorb the squeeze — the hard-cap cousin of "
    "temperature sampling for training-mix construction",
)
def q_token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain caps from a global token budget (the data-mixing
    primitive: proportional-fair hard caps).  For keys ascending by
    count, S(c_i) = P_i + (m−i)·c_i is nondecreasing, so the level
    segment is found from rank-indexed prefix sums — computed by ONE
    ``global_running_sum`` pass (range-partition + broadcast offsets,
    ``row_number_name`` riding the same window; never Exchange
    SinglePartition even at millions of domains) — plus two 1-row
    scalar aggregates broadcast back.  See
    operators/ranking.waterfill_allocation.  NULL text counts 0 tokens
    and NULL source is a domain like any other (ordered NULLS FIRST,
    pinned on both engines).  Output: (source, token_count,
    alloc_tokens, water_level)."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.text import token_count
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.ranking import (
        waterfill_allocation,
    )

    (docs,) = load(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.sum(F.coalesce(token_count("text"), F.lit(0))).cast("long").alias("token_count")
    )
    return waterfill_allocation(counts, ["source"], "token_count", budget=20000)


@query(
    "attribution_last_touch",
    oracle="""
    WITH p AS (
      SELECT event_id AS p_id, user_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id, ts AS c_ts, event_id AS c_id
      FROM events WHERE event_type = 'click'
    ),
    ranked AS (
      SELECT p.p_id, p.user_id, c.c_id, c.c_ts, p.p_ts,
             row_number() OVER (PARTITION BY p.p_id
                                ORDER BY c.c_ts DESC NULLS LAST,
                                         c.c_id DESC NULLS LAST) AS rn
      FROM p LEFT JOIN c
        ON c.user_id = p.user_id
       AND p.p_ts >= c.c_ts
       AND c.c_ts > p.p_ts - INTERVAL 24 HOUR
    )
    SELECT p_id, user_id, c_id AS attributed_click,
           CASE WHEN c_id IS NULL THEN NULL
                ELSE epoch_us(p_ts) - epoch_us(c_ts) END AS gap_micros
    FROM ranked WHERE rn = 1
    """,
    doc="last-touch attribution: each purchase joined as-of to the user's "
    "most recent click within 24h (bucketed as-of plan, DESC tiebreak) — "
    "the conversion-credit op, gap reported in exact epoch micros",
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The as-of operator applied to behavior: purchases are the left
    (unique by event_id), clicks the right, equi key user_id, horizon 24h
    backward — the same (key, time-bucket) equi plan as the flagship
    interval join, so per-probe work is ~2 buckets of clicks rather than
    the user's whole history, and unmatched purchases survive NULL-
    extended (organic conversions are data, not dropped rows).  Gap is an
    exact integer micros difference; no seconds-boundary semantics to
    disagree on."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.asof_join import as_of_join

    (ev,) = load(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id")
    )
    j = as_of_join(
        p, c, on="user_id", left_id="p_id", left_time="p_ts",
        right_time="c_ts", horizon="24 hours", tie_breakers=["c_id"],
    )
    return j.select(
        "p_id",
        "user_id",
        F.col("r_c_id").alias("attributed_click"),
        F.when(
            F.col("r_c_id").isNull(), F.lit(None).cast("bigint")
        ).otherwise(F.unix_micros("p_ts") - F.unix_micros("r_c_ts")).alias("gap_micros"),
    )


@query(
    "link_prediction_common_neighbors",
    oracle="""
    WITH b AS (
      SELECT DISTINCT user_id, date_trunc('hour', ts) AS hr, event_type
      FROM events
    ),
    sz AS (SELECT hr, event_type, count(*) AS n FROM b GROUP BY hr, event_type),
    ok AS (
      SELECT b.user_id, b.hr, b.event_type FROM b
      JOIN sz USING (hr, event_type) WHERE sz.n <= 20
    ),
    pe AS (
      SELECT a.user_id AS ua, c.user_id AS ub
      FROM ok a JOIN ok c
        ON a.hr = c.hr AND a.event_type = c.event_type AND a.user_id < c.user_id
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    bidir AS (SELECT ua, ub FROM pe UNION ALL SELECT ub, ua FROM pe),
    fof AS (
      SELECT x.ua AS a, y.ub AS b, count(*) AS common
      FROM bidir x JOIN bidir y ON y.ua = x.ub
      WHERE x.ua < y.ub
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT a, b, common FROM fof
      WHERE NOT EXISTS (SELECT 1 FROM pe WHERE pe.ua = a AND pe.ub = b)
    )
    SELECT a, b, common, pred_rank FROM (
      SELECT a, b, common,
             row_number() OVER (ORDER BY common DESC, a, b) AS pred_rank
      FROM cand
    ) WHERE pred_rank <= 20
    """,
    doc="link prediction by common neighbors: 2-hop paths through the "
    "mirrored edge list, direct edges removed by anti-join, top-20 "
    "non-adjacent pairs by shared-neighbor count — the "
    "friend-of-friend recommender shape",
)
def q_link_prediction_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-hop pattern CC/PageRank/triangles don't cover: candidate
    generation is the 2-hop self-join on the MIRRORED edge list (shuffle
    on the middle vertex — at scale the one hot-vertex hazard, bounded
    here by the same ≤20-user bucket cap that built the edges), scoring
    is the pair groupBy, and existing edges leave via a LEFT ANTI join
    (never a NOT-IN broadcast of the whole edge set).  a < b keeps each
    candidate pair enumerated once.  Swap common-neighbor count for
    Adamic-Adar (weight 1/log(deg(x)) in millibits) and the plan is
    unchanged — the score is computed where the middle vertex is still
    in hand."""
    pe = _interaction_edges(spark, sf_dir)
    bidir = pe.unionAll(pe.select(F.col("ub").alias("ua"), F.col("ua").alias("ub")))
    x, y = bidir.alias("x"), bidir.alias("y")
    fof = (
        x.join(y, F.col("y.ua") == F.col("x.ub"))
        .filter(F.col("x.ua") < F.col("y.ub"))
        .groupBy(F.col("x.ua").alias("a"), F.col("y.ub").alias("b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    cand = fof.join(
        pe.select(F.col("ua").alias("a"), F.col("ub").alias("b")), ["a", "b"], "left_anti"
    )
    w = Window.orderBy(F.desc("common"), F.asc("a"), F.asc("b"))
    return (
        cand.withColumn("pred_rank", F.row_number().over(w))
        .filter(F.col("pred_rank") <= 20)
    )


@query(
    "streaming_incremental_dedup",
    oracle=f"""
    WITH hist AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 4
    ),
    batch AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 = 4
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents
      WHERE doc_id % 5 <> 4 AND doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents
      WHERE doc_id % 5 = 4 AND doc_id % 3 = 0
    ),
    hfp AS (SELECT DISTINCT {_DUCK_FP} AS fp FROM hist),
    bfp AS (SELECT DISTINCT {_DUCK_FP} AS fp FROM batch)
    SELECT bfp.fp FROM bfp LEFT JOIN hfp ON hfp.fp = bfp.fp
    WHERE hfp.fp IS NULL
    """,
    doc="STREAMING ingestion dedup: arriving docs replayed in 3 "
    "micro-batches, fingerprinted in-stream, anti-joined against the "
    "STATIC history fingerprint set, then dropDuplicates state collapses "
    "within-stream copies across batch boundaries — output = the "
    "genuinely-new fingerprint set, equal to the batch incremental_dedup's",
)
def q_streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """incremental_dedup's arrival-time form: the history state joins in
    as a stream-STATIC left-anti (stateless per micro-batch — Spark
    re-broadcasts or hash-joins the static side, no streaming state), and
    only the within-stream dedup carries state (one fingerprint per
    distinct new doc, exactly the state a production ingest keeps).
    Chaining a stateless anti join into a stateful dropDuplicates is the
    canonical two-operator ingest topology.  Output is the fingerprint
    SET (not doc ids): which of several same-batch copies is dropped
    depends on arrival interleaving, but the surviving set is
    deterministic — so the set is what the oracle pins."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.text import fingerprint
    from amazon_kinesis_data_analytics_flinktableapi_spark.streaming.replay import (
        replay_stream,
        run_to_memory,
    )

    (docs,) = load(spark, sf_dir, "documents")
    hist, batch = _planted_incremental_batch(docs)
    hfp = hist.select(fingerprint("text").alias("fp")).distinct()
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    tmp = scratch_dir("stream_incdd_")
    stream = replay_stream(
        spark, batch, schema, tmp, n_chunks=3, order_col="doc_id", max_files_per_trigger=1
    )
    new_fps = (
        stream.select(fingerprint("text").alias("fp"))
        .join(hfp, "fp", "left_anti")
        .dropDuplicates(["fp"])
    )
    return run_to_memory(new_fps, spark, timeout_sec=240)


# --- deterministic clustering / vector codebooks (operators/clustering) ----


def _kmeans_oracle(k: int = 8, n_iters: int = 2) -> str:
    """DuckDB twin of ``operators.clustering.kmeans_lloyd``: the Lloyd
    loop unrolled to ``n_iters`` CTE generations.  Exactness argument
    (module docstring there): micro-unit quantization, int64 squared
    distances, (dist, cluster) tie-break, exact-floor centroid means via
    the nonneg-remainder trick (DuckDB ``//`` truncates toward zero, but
    the adjusted dividend is exactly divisible so truncation = floor),
    empty clusters carry the previous centroid through the LEFT JOIN."""
    dist = (
        "coalesce(list_sum(list_transform(range(1, len(q.qv) + 1), "
        "i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))), 0)"
    )
    parts = [
        """q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
      FROM embeddings WHERE embedding IS NOT NULL
    )""",
        f"""c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id, qv) - 1 AS INTEGER) AS cluster, qv AS cv
      FROM q QUALIFY row_number() OVER (ORDER BY vec_id, qv) <= {k}
    )""",
    ]
    for it in range(1, n_iters + 1):
        parts.append(f"""a{it} AS (
      SELECT vec_id, qv, cluster, dist FROM (
        SELECT q.vec_id, q.qv, c.cluster, {dist} AS dist
        FROM q, c{it - 1} c
      ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) = 1
    )""")
        if it < n_iters:
            parts.append(f"""s{it} AS (
      SELECT cluster, u.pos AS pos, sum(u.q) AS s, count(*) AS n
      FROM (SELECT cluster,
                   unnest(list_transform(range(1, len(qv) + 1),
                                         i -> {{'pos': i, 'q': qv[i]}})) AS u
            FROM a{it})
      GROUP BY cluster, u.pos
    )""")
            parts.append(f"""m{it} AS (
      SELECT cluster, list((s - ((s % n) + n) % n) // n ORDER BY pos) AS mv
      FROM s{it} GROUP BY cluster
    )""")
            parts.append(f"""c{it} AS (
      SELECT c.cluster, coalesce(m.mv, c.cv) AS cv
      FROM c{it - 1} c LEFT JOIN m{it} m USING (cluster)
    )""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\n    SELECT vec_id, cluster, CAST(dist AS BIGINT) AS dist_q FROM a{n_iters}"
    )


@query(
    "kmeans_lloyd_refine",
    oracle=nse_oracle(_kmeans_oracle(k=8, n_iters=2)),
    doc="distributed Lloyd k-means (k=8, 2 iterations) over the embedding "
    "corpus: deterministic lowest-id init, exact integer micro-unit "
    "distances, exact-floor centroid means, empty clusters keep their "
    "center — final (vec_id, cluster, dist_q) assignment hash-checks "
    "against the unrolled DuckDB twin; per iteration: one zero-shuffle "
    "Arrow-kernel assign pass (bounded k-row codebook collect) + one "
    "kxdim bounded update",
)
def q_kmeans_lloyd_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.clustering import kmeans_lloyd

    (emb,) = load(spark, sf_dir, "embeddings")
    emb = swallow_malformed_embeddings(emb)  # malformed-vector swallow (r14; ingest-bit-aware r16)
    return kmeans_lloyd(emb, k=8, n_iters=2)


def _pq_oracle(m: int = 4, n_codes: int = 8) -> str:
    """DuckDB twin of ``operators.clustering.pq_encode``: per-subspace
    slices (bounds = floor(len·s/M), matching the Spark literal-slice
    arithmetic), codebook = sub-vectors of the ``n_codes`` lowest-id
    vectors, argmin with (dist, j) tie-break, one pivot to code columns."""
    vsub = "\n      UNION ALL ".join(
        f"SELECT vec_id, {s} AS s, list_slice(qv, CAST(floor(len(qv) * {s} / {m}) AS INT) + 1, "
        f"CAST(floor(len(qv) * {s + 1} / {m}) AS INT)) AS sv FROM q"
        for s in range(m)
    )
    csub = "\n      UNION ALL ".join(
        f"SELECT j, {s} AS s, list_slice(cv, CAST(floor(len(cv) * {s} / {m}) AS INT) + 1, "
        f"CAST(floor(len(cv) * {s + 1} / {m}) AS INT)) AS cv2 FROM cb"
        for s in range(m)
    )
    codes = ",\n           ".join(
        f"CAST(max(CASE WHEN s = {s} THEN j END) AS INTEGER) AS code_s{s}" for s in range(m)
    )
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    cb AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id, qv) - 1 AS INTEGER) AS j, qv AS cv
      FROM q QUALIFY row_number() OVER (ORDER BY vec_id, qv) <= {n_codes}
    ),
    vsub AS (
      {vsub}
    ),
    csub AS (
      {csub}
    ),
    best AS (
      SELECT vec_id, s, j, dist FROM (
        SELECT v.vec_id, v.s, c.j,
               coalesce(list_sum(list_transform(range(1, len(v.sv) + 1),
                                                i -> (v.sv[i] - c.cv2[i]) * (v.sv[i] - c.cv2[i]))),
                        0) AS dist
        FROM vsub v JOIN csub c USING (s)
      ) QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) = 1
    )
    SELECT vec_id,
           {codes},
           CAST(sum(dist) AS BIGINT) AS err_q
    FROM best GROUP BY vec_id
    """


@query(
    "pq_encode_report",
    oracle=nse_oracle(_pq_oracle(m=4, n_codes=8)),
    doc="Product-Quantization encoding (Jegou et al. 2011; 4 subspaces x "
    "8 codes): each vector becomes 4 small codes + its exact integer "
    "quantization error — the IVF-PQ storage layout's encode pass; "
    "the bounded codebook ships in an Arrow kernel that emits all 4 "
    "codes + error inside the scan (zero-shuffle map)",
)
def q_pq_encode_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.clustering import pq_encode

    (emb,) = load(spark, sf_dir, "embeddings")
    emb = swallow_malformed_embeddings(emb)  # malformed-vector swallow (r14; ingest-bit-aware r16)
    return pq_encode(emb, n_subspaces=4, n_codes=8)


def _pq_adc_oracle(m: int = 4, n_codes: int = 8, k: int = 10, n_queries: int = 5) -> str:
    """DuckDB twin of ``operators.clustering.pq_adc_topk``: corpus codes
    via the _pq_oracle argmin, a per-query distance table (exact integer
    L2² to every codebook sub-entry), ADC distance = sum of M lookups,
    ties toward the smaller candidate id, self-matches excluded."""
    vsub = "\n      UNION ALL ".join(
        f"SELECT vec_id, {s} AS s, list_slice(qv, CAST(floor(len(qv) * {s} / {m}) AS INT) + 1, "
        f"CAST(floor(len(qv) * {s + 1} / {m}) AS INT)) AS sv FROM q"
        for s in range(m)
    )
    csub = "\n      UNION ALL ".join(
        f"SELECT j, {s} AS s, list_slice(cv, CAST(floor(len(cv) * {s} / {m}) AS INT) + 1, "
        f"CAST(floor(len(cv) * {s + 1} / {m}) AS INT)) AS cv2 FROM cb"
        for s in range(m)
    )
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    cb AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id, qv) - 1 AS INTEGER) AS j, qv AS cv
      FROM q QUALIFY row_number() OVER (ORDER BY vec_id, qv) <= {n_codes}
    ),
    vsub AS (
      {vsub}
    ),
    csub AS (
      {csub}
    ),
    codes AS (
      SELECT vec_id AS c_id, s, j AS code FROM (
        SELECT v.vec_id, v.s, c.j,
               coalesce(list_sum(list_transform(range(1, len(v.sv) + 1),
                                                i -> (v.sv[i] - c.cv2[i]) * (v.sv[i] - c.cv2[i]))),
                        0) AS dist
        FROM vsub v JOIN csub c USING (s)
      ) QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) = 1
    ),
    dtab AS (
      SELECT v.vec_id AS q_id, v.s, c.j AS code,
             coalesce(list_sum(list_transform(range(1, len(v.sv) + 1),
                                              i -> (v.sv[i] - c.cv2[i]) * (v.sv[i] - c.cv2[i]))),
                      0) AS qd
      FROM vsub v JOIN csub c USING (s)
      WHERE v.vec_id < {n_queries}
    ),
    adc AS (
      SELECT d.q_id, codes.c_id, CAST(sum(d.qd) AS BIGINT) AS adc_dist
      FROM codes JOIN dtab d USING (s, code)
      WHERE d.q_id <> codes.c_id
      GROUP BY d.q_id, codes.c_id
    )
    SELECT q_id, c_id, adc_dist, rn FROM (
      SELECT q_id, c_id, adc_dist,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY adc_dist, c_id) AS INTEGER) AS rn
      FROM adc
    ) WHERE rn <= {k}
    """


@query(
    "pq_adc_topk",
    oracle=nse_oracle(_pq_adc_oracle(m=4, n_codes=8, k=10, n_queries=5)),
    doc="PQ asymmetric-distance top-10 for 5 query vectors (Jegou et al. "
    "2011 SIII — the query-time half of PQ): corpus seen only through "
    "its 4 codes, each query precomputes an exact integer distance "
    "table to the codebook, candidate distance = sum of 4 lookups; "
    "codebook + distance table broadcast, vectors never shuffle",
)
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.clustering import pq_adc_topk

    (emb,) = load(spark, sf_dir, "embeddings")
    emb = swallow_malformed_embeddings(emb)  # malformed-vector swallow (r14; ingest-bit-aware r16)
    return pq_adc_topk(emb, emb.filter(F.col("vec_id") < 5), k=10, n_subspaces=4, n_codes=8)


def _ivfpq_oracle(n_centroids: int = 16, nprobe: int = 4, m: int = 4,
                  n_codes: int = 8, k: int = 10, n_queries: int = 5) -> str:
    """DuckDB twin of ``operators.clustering.ivfpq_topk``: the IVF half
    (exact integer DOT assignment, ties toward the smaller list id) feeds
    the candidate set; the ADC half is the _pq_adc_oracle machinery
    restricted to those candidates.  One CTE chain replays the whole
    composed pipeline."""
    vsub = "\n      UNION ALL ".join(
        f"SELECT vec_id, {s} AS s, list_slice(qv, CAST(floor(len(qv) * {s} / {m}) AS INT) + 1, "
        f"CAST(floor(len(qv) * {s + 1} / {m}) AS INT)) AS sv FROM q"
        for s in range(m)
    )
    csub = "\n      UNION ALL ".join(
        f"SELECT j, {s} AS s, list_slice(cv, CAST(floor(len(cv) * {s} / {m}) AS INT) + 1, "
        f"CAST(floor(len(cv) * {s + 1} / {m}) AS INT)) AS cv2 FROM cb"
        for s in range(m)
    )
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    cent AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id, qv) - 1 AS INTEGER) AS cluster, qv AS cv
      FROM q QUALIFY row_number() OVER (ORDER BY vec_id, qv) <= {n_centroids}
    ),
    dots AS (
      SELECT q.vec_id, c.cluster,
             coalesce(list_sum(list_transform(range(1, len(q.qv) + 1),
                                              i -> q.qv[i] * c.cv[i])), 0) AS dot
      FROM q, cent c
    ),
    buck AS (
      SELECT vec_id AS c_id, cluster AS bucket FROM dots
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cluster) = 1
    ),
    probes AS (
      SELECT vec_id AS q_id, cluster AS bucket FROM dots WHERE vec_id < {n_queries}
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cluster) <= {nprobe}
    ),
    cand AS (
      SELECT q_id, c_id FROM buck JOIN probes USING (bucket) WHERE q_id <> c_id
    ),
    cb AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id, qv) - 1 AS INTEGER) AS j, qv AS cv
      FROM q QUALIFY row_number() OVER (ORDER BY vec_id, qv) <= {n_codes}
    ),
    vsub AS (
      {vsub}
    ),
    csub AS (
      {csub}
    ),
    codes AS (
      SELECT vec_id AS c_id, s, j AS code FROM (
        SELECT v.vec_id, v.s, c.j,
               coalesce(list_sum(list_transform(range(1, len(v.sv) + 1),
                                                i -> (v.sv[i] - c.cv2[i]) * (v.sv[i] - c.cv2[i]))),
                        0) AS dist
        FROM vsub v JOIN csub c USING (s)
      ) QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, j) = 1
    ),
    dtab AS (
      SELECT v.vec_id AS q_id, v.s, c.j AS code,
             coalesce(list_sum(list_transform(range(1, len(v.sv) + 1),
                                              i -> (v.sv[i] - c.cv2[i]) * (v.sv[i] - c.cv2[i]))),
                      0) AS qd
      FROM vsub v JOIN csub c USING (s)
      WHERE v.vec_id < {n_queries}
    ),
    adc AS (
      SELECT cand.q_id, cand.c_id, CAST(sum(d.qd) AS BIGINT) AS adc_dist
      FROM cand JOIN codes USING (c_id) JOIN dtab d
        ON d.q_id = cand.q_id AND d.s = codes.s AND d.code = codes.code
      GROUP BY cand.q_id, cand.c_id
    )
    SELECT q_id, c_id, adc_dist, rn FROM (
      SELECT q_id, c_id, adc_dist,
             CAST(row_number() OVER (PARTITION BY q_id
                                     ORDER BY adc_dist, c_id) AS INTEGER) AS rn
      FROM adc
    ) WHERE rn <= {k}
    """


@query(
    "ivfpq_topk",
    oracle=nse_oracle(_ivfpq_oracle()),
    doc="composed IVF-PQ search (Jegou et al. 2011 SIV — the production "
    "100 TB vector-store layout): IVF prunes to the queries' 4 best of "
    "16 inverted lists by exact integer dot, then ADC scores only those "
    "candidates through their 4 PQ codes — neither half touches vectors "
    "at query time; work is corpus/lists x nprobe x queries, not corpus "
    "x queries",
)
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.clustering import ivfpq_topk

    (emb,) = load(spark, sf_dir, "embeddings")
    emb = swallow_malformed_embeddings(emb)  # malformed-vector swallow (r14; ingest-bit-aware r16)
    return ivfpq_topk(
        emb, emb.filter(F.col("vec_id") < 5),
        k=10, n_centroids=16, nprobe=4, n_subspaces=4, n_codes=8,
    )


@query(
    "drift_ks_by_source",
    oracle="""
    WITH vals AS (
      SELECT source, n_chars AS v FROM documents
      WHERE source IS NOT NULL AND n_chars IS NOT NULL
    ),
    srcs AS (SELECT source, count(*) AS n_a FROM vals GROUP BY source),
    tot AS (SELECT count(*) AS n FROM vals),
    dv AS (SELECT DISTINCT v FROM vals),
    grid AS (SELECT s.source, s.n_a, d.v FROM srcs s CROSS JOIN dv d),
    c AS (SELECT source, v, count(*) AS c FROM vals GROUP BY source, v),
    cum_a AS (
      SELECT g.source, g.n_a, g.v,
             sum(coalesce(c.c, 0)) OVER (PARTITION BY g.source ORDER BY g.v) AS cum_a
      FROM grid g LEFT JOIN c ON c.source = g.source AND c.v = g.v
    ),
    cum_all AS (
      SELECT v, sum(cnt) OVER (ORDER BY v) AS cum_all
      FROM (SELECT v, count(*) AS cnt FROM vals GROUP BY v)
    ),
    diffs AS (
      SELECT a.source, a.n_a, t.n - a.n_a AS n_b,
             abs(a.cum_a * (t.n - a.n_a) - (l.cum_all - a.cum_a) * a.n_a) AS num
      FROM cum_a a JOIN cum_all l USING (v) CROSS JOIN tot t
    )
    SELECT source,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(max(num) AS BIGINT) AS ks_num,
           CAST((max(num) * 1000000 - ((max(num) * 1000000) % (n_a * n_b)))
                / (n_a * n_b) AS BIGINT) AS ks_micro
    FROM diffs WHERE n_b > 0
    GROUP BY source, n_a, n_b
    """,
    doc="data-drift monitor: EXACT two-sample Kolmogorov-Smirnov statistic "
    "of the doc-length distribution, each source vs the rest of the "
    "corpus — sup|ECDF_A - ECDF_B| evaluated at every merged jump point "
    "in pure integer arithmetic (ks_num / (n_a*n_b) is the exact "
    "rational; ks_micro its floor at 1e-6), so both engines hash-match "
    "with no float ECDF anywhere.  The per-source cumulative rides a "
    "source-partitioned window over the (sources x distinct-lengths) "
    "grid; the only global window is over DISTINCT length values — "
    "bounded by the length domain, not the corpus.  Int64 budget: "
    "ks_num*1e6 <= n_a*n_b*1e6 < 2^63 up to ~6M rows; the exact "
    "(ks_num, n_a, n_b) columns are the unbounded primitive — recompute "
    "ks_micro in wider arithmetic beyond that, or the ANSI engine "
    "aborts loudly",
)
def q_drift_ks_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load(spark, sf_dir, "documents")
    vals = docs.filter(
        F.col("source").isNotNull() & F.col("n_chars").isNotNull()
    ).select("source", F.col("n_chars").alias("v"))
    srcs = vals.groupBy("source").agg(F.count(F.lit(1)).alias("n_a"))
    dv = vals.select("v").distinct()
    counts = vals.groupBy("source", "v").agg(F.count(F.lit(1)).alias("c"))
    grid = srcs.crossJoin(F.broadcast(dv))
    wa = Window.partitionBy("source").orderBy("v")
    cum_a = (
        grid.join(counts, ["source", "v"], "left")
        .select("source", "n_a", "v", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
        .withColumn("cum_a", F.sum("c").over(wa))
    )
    wall = Window.orderBy("v")
    cum_all = (
        vals.groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("cum_all", F.sum("cnt").over(wall))
        .select("v", "cum_all")
    )
    total = vals.agg(F.count(F.lit(1)).alias("n"))
    diffs = (
        cum_a.join(cum_all, "v")
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_a",
            (F.col("n") - F.col("n_a")).alias("n_b"),
            F.abs(
                F.col("cum_a") * (F.col("n") - F.col("n_a"))
                - (F.col("cum_all") - F.col("cum_a")) * F.col("n_a")
            ).alias("num"),
        )
    )
    mx = (
        diffs.filter(F.col("n_b") > 0)
        .groupBy("source", "n_a", "n_b")
        .agg(F.max("num").alias("ks_num"))
    )
    denom = F.col("n_a") * F.col("n_b")
    # pmod-adjust + long `div`: floor quotient, exact in int64 (the
    # documented budget now covers only ks_num * 1e6)
    ks_micro = F.call_function(
        "div", F.col("ks_num") * 1000000 - F.pmod(F.col("ks_num") * 1000000, denom), denom
    )
    return mx.select(
        "source", "n_a", "n_b", "ks_num", ks_micro.alias("ks_micro")
    )


@query(
    "pq_recall_report",
    oracle=nse_oracle(f"""
    WITH brute AS (
      SELECT q_id, c_id FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                                 c.embedding::DOUBLE[]) DESC,
                          c.vec_id) AS rn
        FROM embeddings q, embeddings c
        WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
      ) WHERE rn <= 10
    ),
    adc AS (
      SELECT q_id, c_id FROM ({_pq_adc_oracle(m=4, n_codes=8, k=10, n_queries=5)})
    )
    SELECT b.q_id,
           count(*) AS n_exact,
           CAST(sum(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_recalled,
           CAST(floor(sum(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END)
                      * 1000.0 / count(*)) AS BIGINT) AS recall_permille
    FROM brute b
    LEFT JOIN adc a ON a.q_id = b.q_id AND a.c_id = b.c_id
    GROUP BY b.q_id
    """),
    doc="PQ index quality accounting (the ann_recall_report twin for the "
    "code path): brute-force ADC top-10 through 4x8 PQ codes joined "
    "against the exact cosine top-10 per query, per-query recall in "
    "integer permille — quantization loss measured in-engine, the gate "
    "a production codebook rebuild runs before swapping in",
)
def q_pq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators import similarity as S
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.clustering import pq_adc_topk

    (emb,) = load(spark, sf_dir, "embeddings")
    emb = swallow_malformed_embeddings(emb)  # malformed-vector swallow (r14; ingest-bit-aware r16)
    qs = emb.filter(F.col("vec_id") < 5)
    brute = S.brute_topk(emb, qs, k=10).select("q_id", "c_id")
    adc = pq_adc_topk(emb, qs, k=10, n_subspaces=4, n_codes=8).select(
        "q_id", F.col("c_id").alias("adc_c_id")
    )
    return (
        brute.join(
            adc,
            (adc["q_id"] == brute["q_id"]) & (adc["adc_c_id"] == brute["c_id"]),
            "left",
        )
        .groupBy(brute["q_id"].alias("q_id"))
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("adc_c_id").alias("n_recalled"),
            F.floor(F.count("adc_c_id") * 1000.0 / F.count(F.lit(1)))
            .cast("long")
            .alias("recall_permille"),
        )
    )


@query(
    "ann_int8_topk",
    oracle=nse_oracle("""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    m AS (
      SELECT vec_id, dv, list_max(list_transform(dv, x -> abs(x))) AS ma FROM e
    ),
    -- ma = 0 excluded: a zero vector has no direction to quantize (and
    -- x/0 poisons the codes); identical filter on the Spark side
    q8 AS (
      SELECT vec_id,
             CAST(ceil(ma * 1000000 / 127) AS BIGINT) AS scale_micro,
             list_transform(dv, x -> CAST(floor(x / ma * 127 + 0.5) AS BIGINT)) AS qv
      FROM m WHERE ma > 0
    )
    SELECT q_id, c_id, CAST(score AS BIGINT) AS score, CAST(rn AS INTEGER) AS rn FROM (
      SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             coalesce(list_sum(list_transform(range(1, len(q.qv) + 1),
                                              i -> q.qv[i] * c.qv[i])), 0)
               * c.scale_micro AS score,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY coalesce(list_sum(list_transform(range(1, len(q.qv) + 1),
                                                         i -> q.qv[i] * c.qv[i])), 0)
                        * c.scale_micro DESC,
                        c.vec_id) AS rn
      FROM q8 q, q8 c
      WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
    ) WHERE rn <= 10
    """),
    doc="int8-quantized brute-force top-k (the production quantized-ANN "
    "default: 4x smaller vectors, integer SIMD dots): per-vector "
    "symmetric max-abs quantization to [-127, 127] codes plus an exact "
    "integer micro-unit scale, ranking by code-dot x candidate scale — "
    "an EXACT int64 surrogate of the reconstructed dot for a fixed "
    "query, so both engines hash-match bit-for-bit (no float compare "
    "anywhere in the ordering).  Zero vectors are excluded (no "
    "direction to quantize); malformed vectors swallowed tier-wide.  "
    "Scale: codes are dim bytes-scale integers (the point of int8 at "
    "100 TB); the 5-query probe broadcasts; ranking is the whitelisted "
    "per-query top-k window.  int64 budget: |dot| <= dim x 127^2 "
    "~ 1e6, x scale_micro (<= 1e6 x max|x|/127) stays under 2^63 for "
    "max|x| < ~7e8 — far beyond unit-norm embedding ranges",
)
def q_ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cites the same quantization contract as ``embedding_quantize_int8``
    (per-vector max-abs symmetric) but carries it all the way through
    SEARCH with an integer-exact ordering."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.vector import as_double
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.clustering import int_dot_q

    (emb,) = load(spark, sf_dir, "embeddings")
    e = swallow_malformed_embeddings(emb).filter(
        F.col("embedding").isNotNull()
    ).select("vec_id", as_double("embedding").alias("dv"))
    m = e.select(
        "vec_id", "dv", F.array_max(F.transform("dv", lambda x: F.abs(x))).alias("ma")
    )
    ma = F.col("ma")
    q8 = m.filter(ma > 0).select(
        "vec_id",
        F.ceil(ma * 1000000 / 127).cast("long").alias("scale_micro"),
        F.transform("dv", lambda x: F.floor(x / ma * 127 + 0.5).cast("long")).alias("qv"),
    )
    qs = q8.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("qv").alias("q_qv")
    )
    scored = q8.crossJoin(F.broadcast(qs)).filter(F.col("q_id") != F.col("vec_id")).select(
        "q_id",
        F.col("vec_id").alias("c_id"),
        (int_dot_q(F.col("q_qv"), F.col("qv")) * F.col("scale_micro")).alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), "c_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("q_id", "c_id", "score", F.col("rn").cast("int").alias("rn"))
    )


@query(
    "tvd_drift_by_source",
    oracle="""
    WITH vals AS (
      -- greatest(.., 0) before the divide: DuckDB // truncates toward
      -- zero while Spark floor() floors, so a (nonsensical, hostile-
      -- fixture) negative n_chars would bucket differently; clamping
      -- collapses all non-positive lengths into bucket 0 on both engines
      SELECT source, least(greatest(n_chars, 0) // 64, 31) AS b
      FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
    ),
    sc AS (SELECT source, b, count(*) AS c FROM vals GROUP BY source, b),
    gb AS (SELECT b, count(*) AS g FROM vals GROUP BY b),
    ns AS (SELECT source, count(*) AS n_a FROM vals GROUP BY source),
    tot AS (SELECT count(*) AS n FROM vals),
    -- the grid is (sources x occupied buckets): a bucket a source never
    -- hits still contributes |0 - q_i| mass, so LEFT-join the source
    -- onto the GLOBAL bucket list, not its own
    grid AS (
      SELECT ns.source, ns.n_a, gb.b, gb.g, coalesce(sc.c, 0) AS c
      FROM ns CROSS JOIN gb
      LEFT JOIN sc ON sc.source = ns.source AND sc.b = gb.b
    )
    SELECT source,
           CAST(n_a AS BIGINT) AS n_a,
           CAST((SELECT n FROM tot) - n_a AS BIGINT) AS n_b,
           CAST(sum(abs(c * ((SELECT n FROM tot) - n_a) - (g - c) * n_a)) AS BIGINT)
             AS tvd_num,
           CAST((sum(abs(c * ((SELECT n FROM tot) - n_a) - (g - c) * n_a)) * 1000000)
                // (2 * n_a * ((SELECT n FROM tot) - n_a)) AS BIGINT) AS tvd_micro
    FROM grid
    WHERE (SELECT n FROM tot) > n_a
    GROUP BY source, n_a
    """,
    doc="data-drift monitor #2: EXACT total-variation distance of the "
    "binned doc-length histogram, each source vs the rest of the corpus "
    "— TVD = (1/2)*sum_i |p_i - q_i| over fixed 64-char buckets capped "
    "at 32, evaluated as the exact integer rational "
    "sum|c_i*n_b - (g_i-c_i)*n_a| / (2*n_a*n_b) with tvd_micro its "
    "floor at 1e-6 (long `div`, exact at any magnitude).  Complements "
    "drift_ks_by_source: KS reads the worst single CDF gap (shift-"
    "sensitive), TVD reads total redistributed mass (shape-sensitive) — "
    "a monitor wants both.  Plan: two counting groupBys (map-side "
    "combined) + a (sources x <=32 buckets) grid join — bounded by the "
    "bucket DOMAIN, not the corpus.  int64 budget: c_i*n_b < n^2 and "
    "the micro numerator adds 1e6 — exact up to ~3M rows per the same "
    "budget note as drift_ks_by_source; beyond that recompute tvd_micro "
    "from the exact (tvd_num, n_a, n_b) columns in wider arithmetic",
)
def q_tvd_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load(spark, sf_dir, "documents")
    vals = docs.filter(
        F.col("source").isNotNull() & F.col("n_chars").isNotNull()
    ).select(
        "source",
        F.least(F.floor(F.greatest(F.col("n_chars"), F.lit(0)) / 64), F.lit(31))
        .cast("long")
        .alias("b"),
    )
    sc = vals.groupBy("source", "b").agg(F.count(F.lit(1)).alias("c"))
    gb = vals.groupBy("b").agg(F.count(F.lit(1)).alias("g"))
    ns = vals.groupBy("source").agg(F.count(F.lit(1)).alias("n_a"))
    tot = vals.agg(F.count(F.lit(1)).alias("n"))
    grid = (
        ns.crossJoin(F.broadcast(gb))
        .join(sc, ["source", "b"], "left")
        .select("source", "n_a", "b", "g", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
        .crossJoin(F.broadcast(tot))
        .withColumn("n_b", F.col("n") - F.col("n_a"))
    )
    agg = (
        grid.filter(F.col("n_b") > 0)
        .groupBy("source", "n_a", "n_b")
        .agg(
            F.sum(
                F.abs(F.col("c") * F.col("n_b") - (F.col("g") - F.col("c")) * F.col("n_a"))
            ).alias("tvd_num")
        )
    )
    den = 2 * F.col("n_a") * F.col("n_b")
    return agg.select(
        "source",
        "n_a",
        "n_b",
        "tvd_num",
        F.call_function(
            "div", F.col("tvd_num") * 1000000 - F.pmod(F.col("tvd_num") * 1000000, den), den
        ).alias("tvd_micro"),
    )


@query(
    "rq_encode_report",
    oracle=nse_oracle("""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    c1 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id, qv) - 1 AS INTEGER) AS code1, qv AS cv1
      FROM q QUALIFY row_number() OVER (ORDER BY vec_id, qv) <= 8
    ),
    a1 AS (
      SELECT vec_id, qv, code1, cv1, dist AS err1 FROM (
        SELECT q.vec_id, q.qv, c.code1, c.cv1,
               coalesce(list_sum(list_transform(range(1, len(q.qv) + 1),
                 i -> (q.qv[i] - c.cv1[i]) * (q.qv[i] - c.cv1[i]))), 0) AS dist
        FROM q, c1 c
      ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, code1) = 1
    ),
    res AS (
      SELECT vec_id, qv, code1, err1,
             list_transform(range(1, len(qv) + 1), i -> qv[i] - cv1[i]) AS rv
      FROM a1
    ),
    c2 AS (
      SELECT 0 AS code2, list_transform(cv1, x -> CAST(0 AS BIGINT)) AS cv2
      FROM c1 WHERE code1 = 0
      UNION ALL
      SELECT CAST(row_number() OVER (ORDER BY vec_id, qv) - 8 AS INTEGER) AS code2, rv AS cv2
      FROM res QUALIFY row_number() OVER (ORDER BY vec_id, qv) BETWEEN 9 AND 15
    ),
    a2 AS (
      SELECT vec_id, code2, dist AS err2 FROM (
        SELECT r.vec_id, c.code2,
               coalesce(list_sum(list_transform(range(1, len(r.rv) + 1),
                 i -> (r.rv[i] - c.cv2[i]) * (r.rv[i] - c.cv2[i]))), 0) AS dist
        FROM res r, c2 c
      ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, code2) = 1
    )
    SELECT r.vec_id, r.code1, a2.code2,
           CAST(r.err1 AS BIGINT) AS err1_q, CAST(a2.err2 AS BIGINT) AS err2_q
    FROM res r JOIN a2 USING (vec_id)
    """),
    doc="two-stage Residual Quantization encode (RVQ — additive "
    "codebooks, the layout modern vector stores refine): full-vector "
    "code + residual code per vector with exact integer stage-1 and "
    "final reconstruction errors; codebook 2 contains the zero residual "
    "of self-coded head vectors, so err2_q <= err1_q for every row "
    "(pinned in tests); codebook 2 = zero ('no refinement') + the NEXT "
    "7 lowest-id vectors' residuals — stage-1 codeword rows are skipped "
    "because their residuals are identically zero (a same-head C2 is a "
    "dead codebook).  Both codebooks are bounded collects feeding Arrow "
    "kernels: the whole encode is a zero-shuffle map (r18)",
)
def q_rq_encode_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.clustering import rq_encode

    (emb,) = load(spark, sf_dir, "embeddings")
    emb = swallow_malformed_embeddings(emb)  # malformed-vector swallow (ingest-bit-aware r16)
    return rq_encode(emb, n_codes1=8, n_codes2=8)


@query(
    "ivfpq_recall_report",
    oracle=nse_oracle(f"""
    WITH brute AS (
      SELECT q_id, c_id FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                                 c.embedding::DOUBLE[]) DESC,
                          c.vec_id) AS rn
        FROM embeddings q, embeddings c
        WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
      ) WHERE rn <= 10
    ),
    approx AS (
      SELECT q_id, c_id FROM ({_ivfpq_oracle(n_centroids=16, nprobe=4, m=4,
                                             n_codes=8, k=10, n_queries=5)})
    )
    SELECT b.q_id,
           count(*) AS n_exact,
           CAST(sum(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_recalled,
           CAST(floor(sum(CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END)
                      * 1000.0 / count(*)) AS BIGINT) AS recall_permille
    FROM brute b
    LEFT JOIN approx a ON a.q_id = b.q_id AND a.c_id = b.c_id
    GROUP BY b.q_id
    """),
    doc="recall gate for the COMPOSED IVF-PQ index (the pq_recall_report "
    "twin for the production layout): ivfpq top-10 through 16 lists / "
    "nprobe 4 / 4x8 PQ codes joined against the exact cosine top-10 per "
    "query, per-query recall in integer permille — measures BOTH loss "
    "sources (list pruning + quantization) through one gate, the number "
    "a store compares against pq_recall_report's to see which half "
    "hurts.  Scale: brute side is the 5-query probe; approx side is the "
    "pruned pipeline; the join is k x queries ids",
)
def q_ivfpq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators import similarity as S
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.clustering import ivfpq_topk

    (emb,) = load(spark, sf_dir, "embeddings")
    emb = swallow_malformed_embeddings(emb)  # malformed-vector swallow (ingest-bit-aware r16)
    qs = emb.filter(F.col("vec_id") < 5)
    brute = S.brute_topk(emb, qs, k=10).select("q_id", "c_id")
    approx = ivfpq_topk(
        emb, qs, k=10, n_centroids=16, nprobe=4, n_subspaces=4, n_codes=8
    ).select("q_id", F.col("c_id").alias("a_c_id"))
    return (
        brute.join(
            approx,
            (approx["q_id"] == brute["q_id"]) & (approx["a_c_id"] == brute["c_id"]),
            "left",
        )
        .groupBy(brute["q_id"].alias("q_id"))
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("a_c_id").alias("n_recalled"),
            F.floor(F.count("a_c_id") * 1000.0 / F.count(F.lit(1)))
            .cast("long")
            .alias("recall_permille"),
        )
    )


@query(
    "cluster_topic_terms",
    oracle=nse_oracle(f"""
    WITH asg AS (
      SELECT vec_id, cluster FROM ({_kmeans_oracle(k=8, n_iters=2)})
    ),
    toks AS (
      SELECT doc_id, unnest({DUCK_TOKS}) AS term
      FROM documents WHERE text IS NOT NULL
    ),
    cnt AS (
      SELECT a.cluster, t.term, count(*) AS c
      FROM asg a JOIN toks t ON t.doc_id = a.vec_id
      GROUP BY a.cluster, t.term
    ),
    ranked AS (
      SELECT cluster, term, c,
             row_number() OVER (PARTITION BY cluster ORDER BY c DESC, term) AS rk
      FROM cnt
    )
    SELECT cluster, CAST(rk AS INTEGER) AS rank, term,
           CAST(c AS BIGINT) AS n_occurrences
    FROM ranked WHERE rk <= 3
    """),
    doc="cluster-then-describe: Lloyd k-means (k=8, 2 iterations) over the "
    "embeddings joined back onto the documents' tokens (TESTDATA "
    "convention: vec_id ≡ doc_id over the embedded prefix), top-3 terms "
    "per cluster by exact occurrence count — the topic-label report a "
    "corpus exploration run prints next to each cluster.  Scale: the "
    "k-means half is the attested broadcast-assign plan; term counting "
    "is one map-side-combined groupBy(cluster, term); the top-3 is a "
    "cluster-partitioned rank window",
)
def q_cluster_topic_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.text import tokens
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.clustering import kmeans_lloyd

    (emb, docs) = load(spark, sf_dir, "embeddings", "documents")
    emb = swallow_malformed_embeddings(emb)  # malformed-vector swallow (ingest-bit-aware r16)
    asg = kmeans_lloyd(emb, k=8, n_iters=2).select("vec_id", "cluster")
    toks = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    cnt = (
        asg.join(toks, asg["vec_id"] == toks["doc_id"])
        .groupBy("cluster", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("cluster").orderBy(F.col("c").desc(), "term")
    return (
        cnt.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "cluster",
            F.col("rank").cast("int").alias("rank"),
            "term",
            F.col("c").alias("n_occurrences"),
        )
    )
