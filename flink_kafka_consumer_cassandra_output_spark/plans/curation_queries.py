"""Training-data curation queries: quality rules, LM rarity, retrieval,
repeated-passage mining.

Not present in the reference (pure ETL; SURVEY.md section 2 "north-star
extensions"); these extend the LLM-data-pipeline surface with the four
curation stages real 100 TB pipelines run between dedup and packing:

- ``doc_gopher_quality_rules`` -- Gopher-style repetition/composition
  filters (word-count bounds, mean word length, duplicate/top bigram
  fractions, stopword presence) with per-rule columns and a ``keep`` flag.
- ``doc_lm_rarity`` -- CCNet-style head/middle/tail bucketing by a corpus
  unigram-LM statistic (exact integer mean token frequency, so parity is
  bit-exact with no transcendental functions).
- ``doc_bm25_topk`` -- BM25 top-k retrieval for a fixed query set; the
  per-term score expression trees are mirrored node-for-node in the DuckDB
  oracle and ``ln`` is empirically bit-identical across Spark/DuckDB/libm,
  so even this float-heavy query is value-hash-checked.
- ``doc_repeated_passages`` -- cross-document repeated 5-gram passage
  mining (the memorization/boilerplate detector from suffix-array dedup
  literature, done with shuffle-keyed n-gram explode instead of suffix
  arrays).
- ``doc_decontamination_ngram`` -- the shingle-equi-join decontamination
  route for needle sets too big to broadcast (complements the broadcast
  substring form in northstar_queries).
- ``doc_corpus_report`` -- the per-(source, lang) datasheet a mixing
  decision reads: counts, token totals, exact mean length, cross-corpus
  duplicate exposure.
- ``doc_sentiment_lexicon`` -- lexicon polarity scoring (array-filter
  counts, exact ratio, 3-way label).
- ``doc_temperature_mixing`` -- per-source sampling weights
  ∝ share^(1/T) with IEEE-exact sqrt and a pinned-order normalizer.

Driver-facing or local-only, all eight are oracle-checked by
tests/test_oracle_parity.py.

Determinism notes (same contract as northstar_queries):
- every ratio is a single division of exact integers, except BM25 where
  the full expression tree (including ``ln``) is mirrored exactly;
- every top-k / bucket boundary has a total-order tiebreak on a unique key;
- global top-k uses orderBy+limit (TakeOrderedAndProject) rather than an
  unpartitioned window, so nothing funnels through one task at scale.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import sketch as SK
from ..functions import text as TX
from ..sources import tables
from ..operators.ordered import range_ordered_parts
from .registry import register

_TOKS = "string_split(text, ' ')"
_STOP_LIST = "[" + ",".join(f"'{w}'" for w in TX.STOPWORDS) + "]"
_N_STOP = f"len(list_filter({_TOKS}, t -> list_contains({_STOP_LIST}, t)))"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load(spark, sf_dir, "documents")


# --------------------------------------------------------------------------
# Gopher-style quality rules
# --------------------------------------------------------------------------

#: rule thresholds (Gopher-shaped, tuned to the synthetic corpus so the
#: keep flag actually discriminates); shared by builder and oracle.
_MIN_WORDS, _MAX_WORDS = 20, 1000
_MIN_MWL, _MAX_MWL = 2.0, 12.0
_MAX_DUP_BIGRAM = 0.30
_MAX_TOP_BIGRAM = 0.20
_MIN_STOPWORDS = 2

_BIGRAMS_SQL = (
    "list_transform(range(len(toks) - 1), i -> toks[i+1] || ' ' || toks[i+2])"
)


@register(
    "doc_gopher_quality_rules",
    oracle=f"""
WITH base AS (
  SELECT doc_id,
         {_TOKS} AS toks,
         CAST(len({_TOKS}) AS BIGINT) AS n_words,
         CAST({_N_STOP} AS BIGINT) AS n_stop
  FROM documents
), enriched AS (
  SELECT doc_id, n_words, n_stop,
         {_BIGRAMS_SQL} AS bg,
         (CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
            / CAST(len(toks) AS DOUBLE)) AS mean_word_len,
         CAST(len({_BIGRAMS_SQL}) AS BIGINT) AS n_bigrams,
         CAST(len(list_distinct({_BIGRAMS_SQL})) AS BIGINT) AS n_distinct_bigrams
  FROM base
), tops AS (
  SELECT doc_id, MAX(c) AS top_cnt FROM (
    SELECT doc_id, g, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(bg) AS g FROM enriched)
    GROUP BY doc_id, g
  ) GROUP BY doc_id
), stats AS (
  SELECT e.doc_id, e.n_words, e.mean_word_len, e.n_stop,
         CASE WHEN e.n_bigrams > 0
              THEN CAST(e.n_bigrams - e.n_distinct_bigrams AS DOUBLE)
                     / CAST(e.n_bigrams AS DOUBLE)
              WHEN e.n_bigrams = 0 THEN CAST(0.0 AS DOUBLE)
         END AS dup_bigram_frac,
         CASE WHEN e.n_bigrams > 0
              THEN CAST(t.top_cnt AS DOUBLE) / CAST(e.n_bigrams AS DOUBLE)
              WHEN e.n_bigrams = 0 THEN CAST(0.0 AS DOUBLE)
         END AS top_bigram_frac
  FROM enriched e LEFT JOIN tops t ON e.doc_id = t.doc_id
)
SELECT doc_id, n_words, mean_word_len, dup_bigram_frac, top_bigram_frac, n_stop,
       COALESCE(n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}
                AND mean_word_len BETWEEN {_MIN_MWL} AND {_MAX_MWL}
                AND dup_bigram_frac <= {_MAX_DUP_BIGRAM}
                AND top_bigram_frac <= {_MAX_TOP_BIGRAM}
                AND n_stop >= {_MIN_STOPWORDS}, FALSE) AS keep
FROM stats
""",
    doc="Gopher-style quality rules: word-count bounds, mean word length, "
        "duplicate/top bigram fractions, stopword presence, composite keep "
        "flag.  Bigram stats are array expressions (no shuffle) except the "
        "top-bigram mode, which is an explode keyed by doc_id -- the one "
        "shuffle, partitioned by document so it scales horizontally.",
)
def doc_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    sz = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, sz - 1),
        F.slice(toks, 2, sz - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    base = d.select(
        "doc_id",
        sz.cast("long").alias("n_words"),
        TX.stopword_count(F.col("text")).alias("n_stop"),
        bigrams.alias("bg"),
        (
            F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x)).cast("double")
            / sz.cast("double")
        ).alias("mean_word_len"),
        F.size(bigrams).cast("long").alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).cast("long").alias("n_distinct_bigrams"),
    )
    tops = (
        base.select("doc_id", F.explode("bg").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_cnt"))
    )
    nb = F.col("n_bigrams")
    dup_frac = (
        F.when(nb > 0, (nb - F.col("n_distinct_bigrams")).cast("double") / nb.cast("double"))
        .when(nb == 0, F.lit(0.0))
    )
    top_frac = (
        F.when(nb > 0, F.col("top_cnt").cast("double") / nb.cast("double"))
        .when(nb == 0, F.lit(0.0))
    )
    stats = base.join(tops, "doc_id", "left").select(
        "doc_id", "n_words", "mean_word_len",
        dup_frac.alias("dup_bigram_frac"),
        top_frac.alias("top_bigram_frac"),
        "n_stop",
    )
    keep = F.coalesce(
        F.col("n_words").between(_MIN_WORDS, _MAX_WORDS)
        & F.col("mean_word_len").between(_MIN_MWL, _MAX_MWL)
        & (F.col("dup_bigram_frac") <= _MAX_DUP_BIGRAM)
        & (F.col("top_bigram_frac") <= _MAX_TOP_BIGRAM)
        & (F.col("n_stop") >= _MIN_STOPWORDS),
        F.lit(False),
    )
    return stats.withColumn("keep", keep)


# --------------------------------------------------------------------------
# CCNet-style LM rarity bucketing
# --------------------------------------------------------------------------

@register(
    "doc_lm_rarity",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), vocab AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY token
), scores AS (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         (CAST(CAST(SUM(v.cnt) AS BIGINT) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE)) AS avg_tok_freq
  FROM tok t JOIN vocab v ON t.token = v.token
  GROUP BY t.doc_id
), ranked AS (
  SELECT doc_id, n_tokens, avg_tok_freq,
         row_number() OVER (ORDER BY avg_tok_freq, doc_id) AS r,
         COUNT(*) OVER () AS n
  FROM scores
)
SELECT doc_id, n_tokens, avg_tok_freq,
       CASE WHEN r * 3 <= n THEN 'tail'
            WHEN r * 3 <= n * 2 THEN 'middle'
            ELSE 'head' END AS bucket
FROM ranked
""",
    doc="CCNet-style LM scoring: corpus unigram model, per-document mean "
        "token frequency (exact integer sum / count, one final division -- "
        "no transcendental, bit-exact parity), head/middle/tail terciles by "
        "integer rank arithmetic.  The tercile window runs over the doc-level "
        "score table (1 short row per doc, orders of magnitude smaller than "
        "the corpus); at extreme scale the documented alternative is the "
        "two order-statistic cutoffs via orderBy+limit as in "
        "agg_exact_percentiles.",
    driver=False,
    sibling="doc_zipf_fit",
)
def doc_lm_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    # r17 (guide section 2.4): the vocabulary counts were a
    # groupBy(token) aggregate joined back onto the token stream -- the
    # corpus explode ran twice (once per branch).  A whole-partition
    # window over the same token key attaches the identical integer count
    # in ONE explode + one token exchange.
    cnt = F.count(F.lit(1)).over(Window.partitionBy("token"))
    scores = (
        tok.select("doc_id", cnt.alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("cnt").alias("sum_cnt"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (F.col("sum_cnt").cast("double") / F.col("n_tokens").cast("double")).alias(
                "avg_tok_freq"
            ),
        )
    )
    # Distributed tercile ranks (operators/ordered.py): range-partition on
    # the (avg_tok_freq, doc_id) total order, per-slice row_number, plus a
    # broadcast offsets table built from the one-row-per-partition counts
    # -- integer rank arithmetic is decomposition-invariant, so this is
    # bit-identical to the oracle's single global window without ever
    # moving the doc-level score table to one task.
    parts = range_ordered_parts(scores, F.asc("avg_tok_freq"), F.asc("doc_id"))
    pcnt = parts.groupBy("pid").agg(F.count(F.lit(1)).alias("c"))
    wo = Window.orderBy("pid")  # nparts rows: constant-size, not data-bound
    offsets = pcnt.select(
        "pid",
        F.coalesce(
            F.sum("c").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("long"),
        ).alias("off"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    w_rank = Window.partitionBy("pid").orderBy("avg_tok_freq", "doc_id")
    ranked = parts.join(F.broadcast(offsets), "pid").select(
        "doc_id", "n_tokens", "avg_tok_freq",
        (F.col("off") + F.row_number().over(w_rank)).alias("r"),
        "n",
    )
    bucket = (
        F.when(F.col("r") * 3 <= F.col("n"), "tail")
        .when(F.col("r") * 3 <= F.col("n") * 2, "middle")
        .otherwise("head")
    )
    return ranked.select("doc_id", "n_tokens", "avg_tok_freq", bucket.alias("bucket"))


# --------------------------------------------------------------------------
# BM25 top-k retrieval
# --------------------------------------------------------------------------

_K1 = 1.2
_B = 0.75
_ONE_MINUS_B = 1.0 - _B
_K1_PLUS_1 = _K1 + 1.0
_TOPK = 5

#: fixed retrieval query set over the fixture vocabulary.
BM25_QUERIES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("spark_hash", ("spark", "hash")),
    ("sort_merge_batch", ("sort", "merge", "batch")),
    ("window_scan", ("window", "scan")),
)


def _d(v: float) -> str:
    """Render a Python double into SQL with exact round-trip semantics."""
    return f"CAST('{v!r}' AS DOUBLE)"


def _bm25_term_sql(term: str) -> str:
    """Per-term BM25 contribution; expression tree mirrors the Column tree
    in ``_bm25_term_col`` node for node so doubles match bit-for-bit."""
    tf = f"CAST(len(list_filter(toks, x -> x = '{term}')) AS DOUBLE)"
    ratio = "(CAST(len(toks) AS DOUBLE) / avgdl)"
    denom = f"({tf} + ({_d(_K1)} * ({_d(_ONE_MINUS_B)} + ({_d(_B)} * {ratio}))))"
    idf = f"idf_{term}"
    return (
        f"CASE WHEN {tf} > {_d(0.0)} "
        f"THEN (({idf} * ({tf} * {_d(_K1_PLUS_1)})) / {denom}) "
        f"ELSE {_d(0.0)} END"
    )


def _bm25_term_col(term: str, toks, avgdl, idf):
    tf = F.size(F.filter(toks, lambda x: x == F.lit(term))).cast("double")
    ratio = F.size(toks).cast("double") / avgdl
    denom = tf + (F.lit(_K1) * (F.lit(_ONE_MINUS_B) + (F.lit(_B) * ratio)))
    return F.when(tf > F.lit(0.0), (idf * (tf * F.lit(_K1_PLUS_1))) / denom).otherwise(
        F.lit(0.0)
    )


def _idf_sql(term: str) -> str:
    nd = "CAST(n_docs AS DOUBLE)"
    dfd = f"CAST(df_{term} AS DOUBLE)"
    return f"ln(((({nd} - {dfd}) + {_d(0.5)}) / ({dfd} + {_d(0.5)})) + {_d(1.0)})"


_BM25_TERMS = sorted({t for _, ts in BM25_QUERIES for t in ts})


@register(
    "doc_bm25_topk",
    oracle=f"""
WITH base AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), corpus AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         (CAST(SUM(len(toks)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS avgdl,
         {", ".join(f"CAST(SUM(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}" for t in _BM25_TERMS)}
  FROM base
), stats AS (
  SELECT avgdl, {", ".join(f"{_idf_sql(t)} AS idf_{t}" for t in _BM25_TERMS)}
  FROM corpus
), scored AS (
  {" UNION ALL ".join(
    f'''SELECT '{qid}' AS query_id, b.doc_id,
        ({" + ".join(f"({_bm25_term_sql(t)})" for t in terms)}) AS score
        FROM base b CROSS JOIN stats'''
    for qid, terms in BM25_QUERIES
  )}
), ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM scored WHERE score > {_d(0.0)}
)
SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank, score
FROM ranked WHERE rank <= {_TOPK}
""",
    doc="BM25 top-k retrieval for a fixed literal query set: corpus stats "
        "(N, avgdl, per-term df -> idf) in one aggregate, broadcast to the "
        "scan; per-term tf via array filter (no explode for literal query "
        "sets); fixed-order score summation so the doubles are bit-identical "
        "to the DuckDB oracle (idf's ln runs through an Arrow-batched libm "
        "crossing on the one-row stats frame -- JVM Math.log is a 1-ulp "
        "intrinsic that measurably diverges from DuckDB's libm ln; every "
        "per-document expression stays JVM-side).  Large dynamic query sets "
        "route through the posting-list explode+equi-join form instead "
        "(the machinery doc_tfidf_top_terms already exercises).",
    driver=False,
    sibling="doc_zipf_fit",
)
def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    base = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    toks = F.col("toks")
    corpus = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.size(toks)).cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
        *[
            F.sum(F.when(F.array_contains(toks, t), 1).otherwise(0)).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    nd = F.col("n_docs").cast("double")

    # JVM Math.log is a 1-ulp-tolerance intrinsic and measurably diverges
    # from libm on some inputs (e.g. ln(1.2699619771863118) at sf0.01),
    # while DuckDB's ln IS libm.  The 7 idf values live on a ONE-ROW stats
    # frame, so route exactly that row through an Arrow-batched CPython
    # libm crossing; every per-document expression stays JVM-side.
    @F.pandas_udf("double")
    def _ln_libm(s: pd.Series) -> pd.Series:
        return s.map(lambda v: None if pd.isna(v) else math.log(v))

    def _idf(t: str):
        dfd = F.col(f"df_{t}").cast("double")
        return _ln_libm((((nd - dfd) + F.lit(0.5)) / (dfd + F.lit(0.5))) + F.lit(1.0))

    stats = corpus.select(
        "avgdl", *[_idf(t).alias(f"idf_{t}") for t in _BM25_TERMS]
    )
    avgdl = F.col("avgdl")
    # ONE pass: every query's score is a column of the same projection over
    # one crossJoin(broadcast(stats)), then a fixed-arity stack pivots to
    # (query_id, score) rows.  A per-query union of branches would rescan
    # documents and recompute the corpus aggregate once per query (observed:
    # 10 exchanges / 6 scans for 3 queries); this form is 1 scan + 1
    # aggregate no matter how many fixed queries run.
    score_cols = []
    for qid, terms in BM25_QUERIES:
        score = None
        for t in terms:
            c = _bm25_term_col(t, toks, avgdl, F.col(f"idf_{t}"))
            score = c if score is None else (score + c)
        score_cols.append(score.alias(f"score_{qid}"))
    wide = base.crossJoin(F.broadcast(stats)).select("doc_id", *score_cols)
    stack_args = ", ".join(f"'{qid}', score_{qid}" for qid, _ in BM25_QUERIES)
    scored = wide.selectExpr(
        "doc_id",
        f"stack({len(BM25_QUERIES)}, {stack_args}) AS (query_id, score)",
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")
    return (
        scored.filter(F.col("score") > F.lit(0.0))
        .select(
            "query_id", "doc_id", F.row_number().over(w).cast("long").alias("rank"),
            "score",
        )
        .filter(F.col("rank") <= _TOPK)
    )


# --------------------------------------------------------------------------
# Cross-document repeated passage mining
# --------------------------------------------------------------------------

_PASSAGE_N = 5
_PASSAGE_TOPK = 20

_SHINGLE5_SQL = f"""CASE WHEN len(toks) >= {_PASSAGE_N}
  THEN list_transform(range(len(toks) - {_PASSAGE_N - 1}),
         i -> array_to_string(toks[i+1:i+{_PASSAGE_N}], ' '))
  ELSE [] END"""


@register(
    "doc_repeated_passages",
    oracle=f"""
WITH base AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), sh AS (
  SELECT doc_id, unnest({_SHINGLE5_SQL}) AS passage FROM base
), agg AS (
  SELECT passage,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences
  FROM sh GROUP BY passage
)
SELECT passage, n_docs, n_occurrences
FROM agg WHERE n_docs >= 2
ORDER BY n_docs DESC, n_occurrences DESC, passage
LIMIT {_PASSAGE_TOPK}
""",
    doc="cross-document repeated-passage mining (the boilerplate/"
        "memorization detector): 5-gram passages exploded with the document "
        "key, grouped by passage, kept where >= 2 distinct docs share them, "
        "global top-20 via orderBy+limit (TakeOrderedAndProject -- "
        "per-partition top-k then merge, no single-task sort).  The "
        "suffix-array literature's exact-substring dedup reduced to the "
        "n-gram explode Spark executes as two keyed shuffles.",
    driver=False,
    sibling="doc_char_kl_gibberish",
)
def doc_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    base = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    shingles = F.expr(
        f"CASE WHEN size(toks) >= {_PASSAGE_N} "
        f"THEN transform(sequence(0, size(toks) - {_PASSAGE_N}), "
        f"i -> concat_ws(' ', slice(toks, i + 1, {_PASSAGE_N}))) "
        f"ELSE slice(toks, 1, 0) END"
    )
    sh = base.select("doc_id", F.explode(shingles).alias("passage"))
    agg = sh.groupBy("passage").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )
    return (
        agg.filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("n_occurrences").desc(), "passage")
        .limit(_PASSAGE_TOPK)
    )


# --------------------------------------------------------------------------
# N-gram decontamination (the big-needle-set route)
# --------------------------------------------------------------------------

_DECON_N = 6          # shingle width (tokens), parallel to the substring form's 6-token needles
_DECON_MIN_FRAC = 0.2  # matched fraction of the needle's shingles to flag

_SHINGLE6_SQL = f"""CASE WHEN len(toks) >= {_DECON_N}
  THEN list_distinct(list_transform(range(len(toks) - {_DECON_N - 1}),
         i -> array_to_string(toks[i+1:i+{_DECON_N}], ' ')))
  ELSE list_distinct([array_to_string(toks, ' ')]) END"""


def _shingle6_col():
    toks = F.col("toks")
    full = F.expr(
        f"transform(sequence(0, size(toks) - {_DECON_N}), "
        f"i -> concat_ws(' ', slice(toks, i + 1, {_DECON_N})))"
    )
    return F.array_distinct(
        F.when(F.size(toks) >= _DECON_N, full).otherwise(
            F.array(F.concat_ws(" ", toks))
        )
    )


@register(
    "doc_decontamination_ngram",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {_SHINGLE6_SQL} AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE text IS NOT NULL)
), needles AS (
  SELECT doc_id AS needle_src, unnest(sh) AS gram,
         CAST(len(sh) AS BIGINT) AS n_needle_grams
  FROM sh WHERE doc_id % 100 = 7
), corpus AS (
  SELECT doc_id, unnest(sh) AS gram FROM sh
), matched AS (
  SELECT n.needle_src, c.doc_id, n.n_needle_grams,
         CAST(COUNT(*) AS BIGINT) AS n_shared_grams
  FROM needles n JOIN corpus c ON n.gram = c.gram
  GROUP BY n.needle_src, c.doc_id, n.n_needle_grams
)
SELECT needle_src, doc_id, n_shared_grams,
       (CAST(n_shared_grams AS DOUBLE) / CAST(n_needle_grams AS DOUBLE))
         AS overlap_frac
FROM matched
WHERE CAST(n_shared_grams AS DOUBLE) / CAST(n_needle_grams AS DOUBLE)
      >= {_DECON_MIN_FRAC}
""",
    doc="benchmark decontamination, the N-GRAM route for needle sets too "
        "big to broadcast (the path doc_decontamination's docstring "
        "promises): needle docs and corpus docs both explode into distinct "
        f"{_DECON_N}-token shingles, contamination candidates come from a "
        "pure shingle EQUI-join (shuffle keyed by the gram -- no substring "
        "scan, no broadcast), and a (needle, doc) pair is flagged when the "
        f"matched fraction of the needle's shingles reaches "
        f"{_DECON_MIN_FRAC}.  Counts are exact integers; the fraction is "
        "one final division.  This is how contamination checks run when "
        "the 'benchmark' is itself web-scale (dedup-against-eval at "
        "100 TB): both sides shard by gram, the hot-gram skew ceiling is "
        "the same one the PPJoin prefix filter bounds.",
    driver=False,
    sibling="doc_char_kl_gibberish",
)
def doc_decontamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..materialize import materialize

    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    # Materialized (r17): the shingle table feeds BOTH join sides (needle
    # explode + corpus explode) and Spark shares no common subplans, so
    # the 6-gram fold -- the expensive per-row work here -- ran over the
    # whole corpus twice.  One checkpoint/stage write of (doc_id, sh)
    # halves the corpus shingling at every scale.
    sh = materialize(
        d.select(
            "doc_id", F.split(F.col("text"), " ").alias("toks")
        ).select("doc_id", _shingle6_col().alias("sh"))
    )
    needles = sh.filter(F.col("doc_id") % 100 == 7).select(
        F.col("doc_id").alias("needle_src"),
        F.explode("sh").alias("gram"),
        F.size("sh").cast("long").alias("n_needle_grams"),
    )
    corpus = sh.select("doc_id", F.explode("sh").alias("gram"))
    matched = (
        needles.join(corpus, "gram")
        .groupBy("needle_src", "doc_id", "n_needle_grams")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )
    frac = F.col("n_shared_grams").cast("double") / F.col("n_needle_grams").cast(
        "double"
    )
    return matched.filter(frac >= _DECON_MIN_FRAC).select(
        "needle_src", "doc_id", "n_shared_grams", frac.alias("overlap_frac")
    )


def _bloom_oracle() -> str:
    probes = "\n  UNION ALL ".join(
        f"SELECT doc_id, gram, {SK.bloom_bit_sql(j, 'gram')} AS bit FROM corpus"
        for j in range(SK.BLOOM_K)
    )
    inserts = "\n    UNION ALL ".join(
        f"SELECT {SK.bloom_bit_sql(j, 'gram')} AS bit FROM needle_grams"
        for j in range(SK.BLOOM_K)
    )
    return f"""WITH sh AS (
  SELECT doc_id, {_SHINGLE6_SQL} AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE text IS NOT NULL)
),
needle_grams AS (
  SELECT DISTINCT unnest(sh) AS gram FROM sh WHERE doc_id % 100 = 7
),
bloom AS (
  SELECT DISTINCT bit FROM (
    {inserts}
  )
),
corpus AS (SELECT doc_id, unnest(sh) AS gram FROM sh),
probe_bits AS (
  {probes}
),
hits AS (
  SELECT p.doc_id, p.gram FROM probe_bits p JOIN bloom b ON b.bit = p.bit
  GROUP BY p.doc_id, p.gram HAVING COUNT(*) = {SK.BLOOM_K}
),
true_hits AS (
  SELECT c.doc_id, c.gram FROM corpus c JOIN needle_grams n ON n.gram = c.gram
)
SELECT h.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bloom_hits,
       CAST(COUNT(t.gram) AS BIGINT) AS n_true_hits,
       CAST(COUNT(*) > COUNT(t.gram) AS INTEGER) AS has_false_positive
FROM hits h
LEFT JOIN true_hits t ON t.doc_id = h.doc_id AND t.gram = h.gram
GROUP BY h.doc_id"""


@register(
    "doc_decontamination_bloom",
    oracle=_bloom_oracle(),
    doc="benchmark decontamination, the BLOOM-FILTER route (the third of "
        "the family: broadcast substring scan, n-gram equi-join, and now a "
        "membership sketch): needle 6-grams insert K md5-derived bits into "
        "an M-bit filter; corpus 6-grams probe it and a gram 'hits' when "
        "ALL K bits are set.  The output is a per-document CERTIFICATE: "
        "bloom hits next to exact-equi-join true hits, so the sketch's "
        "one-sided error is VISIBLE (n_bloom_hits >= n_true_hits always "
        "-- no false negatives, pinned in tests/test_curation_truth.py -- "
        "and has_false_positive marks where the filter over-approximates, "
        "~3%/probe at the fixture's fill).  Scale: the filter is bits "
        "(needle count x 10 bits broadcasts at any benchmark size); the "
        "probe is a broadcast join on bit position -- the corpus never "
        "shuffles, which is the whole reason production pipelines put a "
        "Bloom filter in FRONT of the exact n-gram join.",
    driver=False,
    sibling="doc_char_kl_gibberish",
)
def doc_decontamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..materialize import materialize

    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    # Repartition before the shingle fold (single-file fixture scan) and
    # materialize: the frame feeds THREE subtrees (filter build, probe
    # chain, exact-verify join) and Spark shares no common subplans, so
    # without this the 6-gram explode runs 3x (measured 3.0s -> 1.5s at
    # sf0.1) -- the same pattern as _docs_shingled.
    sh = materialize(
        d.repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .select("doc_id", _shingle6_col().alias("sh"))
    )
    needle_grams = (
        sh.filter(F.col("doc_id") % 100 == 7)
        .select(F.explode("sh").alias("gram"))
        .distinct()
    )
    bloom = needle_grams.select(
        F.explode(
            F.array(*[SK.bloom_bit(j, F.col("gram")) for j in range(SK.BLOOM_K)])
        ).alias("bit")
    ).distinct()
    corpus = sh.select("doc_id", F.explode("sh").alias("gram"))
    # A gram hits iff ALL K bits are set: a chain of broadcast LEFT SEMI
    # joins (one per hash) keeps the probe entirely map-side -- the
    # explode-then-count form shuffles every (doc, gram) probe row
    # (measured 3.2s -> 1.3s at sf0.1), and at 100 TB a corpus-sized
    # shuffle in FRONT of the filter defeats the filter's purpose.
    hits = corpus
    for j in range(SK.BLOOM_K):
        hits = hits.join(
            F.broadcast(bloom),
            SK.bloom_bit(j, F.col("gram")) == F.col("bit"),
            "left_semi",
        )
    true_hits = corpus.join(F.broadcast(needle_grams), "gram").select(
        "doc_id", "gram", F.lit(1).alias("is_true")
    )
    return (
        hits.join(true_hits, ["doc_id", "gram"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bloom_hits"),
            F.count("is_true").alias("n_true_hits"),
        )
        .select(
            "doc_id",
            "n_bloom_hits",
            "n_true_hits",
            (F.col("n_bloom_hits") > F.col("n_true_hits")).cast("int").alias(
                "has_false_positive"
            ),
        )
    )


#: Association-mining support floor (min co-occurring docs for a pair).
_LIFT_MIN_SUPPORT = 10


@register(
    "doc_token_lift",
    oracle=f"""
WITH d AS (
  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
),
t AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM d
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM d),
co AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY a.tok, b.tok
),
df AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_tok FROM t GROUP BY tok
)
SELECT * FROM (
  SELECT co.tok_a, co.tok_b, co.n_ab,
         CAST(co.n_ab * n.n_docs AS DOUBLE)
           / CAST(fa.n_tok * fb.n_tok AS DOUBLE) AS lift
  FROM co
  JOIN df fa ON fa.tok = co.tok_a
  JOIN df fb ON fb.tok = co.tok_b
  CROSS JOIN n
  WHERE co.n_ab >= {_LIFT_MIN_SUPPORT}
)
ORDER BY lift DESC, tok_a, tok_b
LIMIT 20
""",
    doc="association mining: token co-occurrence LIFT -- P(a,b)/(P(a)P(b)) "
        "computed log-free as n_ab*N / (n_a*n_b), one exact division of "
        "integer products, so unlike PMI no transcendental enters and "
        "parity is bit-exact.  Top-20 pairs above a support floor, "
        "tie-broken on the pair itself.  The market-basket query reshaped "
        "for corpora: which tokens travel together beyond chance (topic "
        "signatures, collocations, template phrases).  Scale: the pair "
        "generator is a within-doc self-join on doc_id whose output is "
        "bounded by distinct-tokens-per-doc^2 (per-doc vocabulary, not "
        "corpus vocabulary), aggregated with map-side combine onto the "
        "tiny pair-key space; document frequencies are a token-level "
        "aggregate joined back, N rides along as a broadcast scalar -- "
        "the same shape doc_tfidf_top_terms uses.",
    driver=False,
    sibling="doc_zipf_fit",
)
def doc_token_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    # NOT materialized (r17 A/B): t feeds three subtrees (both pair-join
    # sides + the document-frequency aggregate), but checkpointing the
    # exploded token table measured WORSE (0.81 -> 1.22 s min-of-3 at
    # sf0.1) -- the checkpoint write of the token-level frame costs more
    # than the two extra in-plan explodes it saves, and the self-join
    # needs two evaluations regardless.
    t = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("tok"),
    )
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    a = t.select(F.col("doc_id").alias("da"), F.col("tok").alias("tok_a"))
    b = t.select(F.col("doc_id").alias("db"), F.col("tok").alias("tok_b"))
    co = (
        a.join(b, (F.col("da") == F.col("db")) & (F.col("tok_a") < F.col("tok_b")))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= _LIFT_MIN_SUPPORT)
    )
    df_ = t.groupBy("tok").agg(F.count(F.lit(1)).alias("n_tok"))
    fa = df_.select(F.col("tok").alias("tok_a"), F.col("n_tok").alias("na"))
    fb = df_.select(F.col("tok").alias("tok_b"), F.col("n_tok").alias("nb"))
    return (
        co.join(fa, "tok_a")
        .join(fb, "tok_b")
        .crossJoin(F.broadcast(n))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            (
                (F.col("n_ab") * F.col("n_docs")).cast("double")
                / (F.col("na") * F.col("nb")).cast("double")
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "tok_a", "tok_b")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Corpus datasheet report
# --------------------------------------------------------------------------

@register(
    "doc_corpus_report",
    oracle="""
WITH sized AS (
  SELECT source, lang, doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
  FROM documents WHERE text IS NOT NULL
), dupes AS (
  SELECT fp, COUNT(*) AS n_with_fp FROM sized GROUP BY fp
)
SELECT s.source, s.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(s.n_tokens) AS BIGINT) AS total_tokens,
       (CAST(CAST(SUM(s.n_tokens) AS BIGINT) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE)) AS avg_doc_tokens,
       CAST(SUM(CASE WHEN d.n_with_fp > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_docs
FROM sized s JOIN dupes d ON s.fp = d.fp
GROUP BY s.source, s.lang
""",
    doc="corpus datasheet: per (source, lang) document counts, token "
        "totals, exact mean doc length, and how many docs share their "
        "normalized fingerprint with another doc ANYWHERE in the corpus "
        "(cross-source dup exposure -- the number a mixing decision reads "
        "first).  Two combinable aggregations plus one fingerprint "
        "equi-join; every stat is exact-integer with one final division.",
    driver=False,
    sibling="doc_zipf_fit",
)
def doc_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    sized = d.select(
        "source", "lang", "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        TX.fingerprint(F.col("text")).alias("fp"),
    )
    # r17 (guide section 2.4): the duplicate-fingerprint counts were a
    # groupBy(fp) aggregate joined back -- the scan (including the md5
    # fingerprint expression) ran twice.  A whole-partition window over
    # the same fp key attaches the identical count in one pass; fp is
    # never null (md5 of non-null text), so the forms are join-identical.
    counted = sized.select(
        "source", "lang", "n_tokens",
        F.count(F.lit(1)).over(Window.partitionBy("fp")).alias("n_with_fp"),
    )
    return (
        counted
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            (
                F.sum("n_tokens").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("avg_doc_tokens"),
            F.sum(
                F.when(F.col("n_with_fp") > 1, 1).otherwise(0)
            ).alias("n_dup_docs"),
        )
    )


# --------------------------------------------------------------------------
# Lexicon sentiment scoring
# --------------------------------------------------------------------------

#: polarity lexicons over the fixture vocabulary (the operator is generic;
#: real deployments swap in a real lexicon table).
POS_WORDS = ("fast", "big", "value")
NEG_WORDS = ("slow", "small", "dup")


def _lex_count_sql(words: tuple[str, ...]) -> str:
    lst = "[" + ",".join(f"'{w}'" for w in words) + "]"
    return f"len(list_filter({_TOKS}, t -> list_contains({lst}, t)))"


@register(
    "doc_sentiment_lexicon",
    oracle=f"""
WITH scored AS (
  SELECT doc_id,
         CAST({_lex_count_sql(POS_WORDS)} AS BIGINT) AS n_pos,
         CAST({_lex_count_sql(NEG_WORDS)} AS BIGINT) AS n_neg,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id, n_pos, n_neg,
       (CAST(n_pos - n_neg AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS polarity,
       CASE WHEN n_pos > n_neg THEN 'positive'
            WHEN n_neg > n_pos THEN 'negative'
            ELSE 'neutral' END AS label
FROM scored
""",
    doc="lexicon-based sentiment scoring (the PAPERS.md EDBT-2016 Spark "
        "sentiment family): positive/negative token counts via array "
        "filters (no shuffle, whole-stage codegen), polarity = one exact "
        "integer division, 3-way label.  The lexicons are literal arrays "
        "here; a production lexicon becomes a broadcast join against the "
        "same counting shape (the taxonomy lookup-join pattern).",
)
def doc_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")

    def _count(words: tuple[str, ...]):
        wl = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(wl, t))).cast("long")

    scored = d.select(
        "doc_id",
        _count(POS_WORDS).alias("n_pos"),
        _count(NEG_WORDS).alias("n_neg"),
        F.size(toks).cast("long").alias("n_tokens"),
    )
    label = (
        F.when(F.col("n_pos") > F.col("n_neg"), "positive")
        .when(F.col("n_neg") > F.col("n_pos"), "negative")
        .otherwise("neutral")
    )
    return scored.select(
        "doc_id", "n_pos", "n_neg",
        ((F.col("n_pos") - F.col("n_neg")).cast("double") / F.col("n_tokens").cast("double")).alias("polarity"),
        label.alias("label"),
    )


# --------------------------------------------------------------------------
# Temperature-based source mixing weights
# --------------------------------------------------------------------------

# Mixing temperature: weight_i ∝ frac_i^(1/T) with T=2 -> sqrt.  sqrt is
# IEEE-754 correctly rounded, so unlike ln/pow it is bit-exact across
# Spark, DuckDB, and libm by spec -- no crossing needed.
@register(
    "doc_temperature_mixing",
    oracle="""
WITH src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
), tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM src
), scored AS (
  SELECT s.source, s.n_docs,
         (CAST(s.n_docs AS DOUBLE) / CAST(t.n_total AS DOUBLE)) AS frac,
         sqrt(CAST(s.n_docs AS DOUBLE) / CAST(t.n_total AS DOUBLE)) AS raw_w
  FROM src s CROSS JOIN tot t
), summed AS (
  SELECT source, n_docs, frac, raw_w,
         SUM(raw_w) OVER (ORDER BY source
                          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS z
  FROM scored
)
SELECT source, n_docs, frac, (raw_w / z) AS weight
FROM summed
""",
    doc="temperature-based source mixing (the multilingual/multi-source "
        "sampling-weight table: weight ∝ share^(1/T), T=2): per-source "
        "shares from one combinable groupBy, sqrt (IEEE correctly-rounded "
        "-> bit-exact cross-engine, unlike ln), and the normalizer summed "
        "in a PINNED order (window SUM over rows ORDERED BY source) so the "
        "float fold is identical in both engines.  The weight table is "
        "|sources| rows -- broadcast-sized by construction; downstream "
        "sampling joins it to the corpus on the source key.",
    driver=False,
    sibling="doc_k_anonymity",
)
def doc_temperature_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    src = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    # r17 (guide section 2.4): the total was a second aggregate whose
    # branch replayed the documents scan; it is exactly the sum of the
    # per-source counts, so it rides the same bounded whole-table window
    # the weight normalization below already uses -- one scan per run.
    wt = Window.partitionBy(F.lit(0)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    frac = F.col("n_docs").cast("double") / F.sum("n_docs").over(wt).cast("double")
    scored = src.select(
        "source", "n_docs", frac.alias("frac"), F.sqrt(frac).alias("raw_w")
    )
    w = Window.orderBy("source").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return scored.select(
        "source", "n_docs", "frac",
        (F.col("raw_w") / F.sum("raw_w").over(w)).alias("weight"),
    )


# --------------------------------------------------------------------------
# Positional-index phrase search
# --------------------------------------------------------------------------

@register(
    "doc_phrase_search",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
p AS (
  SELECT doc_id, u.pos AS pos, u.term AS term
  FROM (SELECT doc_id,
               unnest(list_transform(range(len(tk)),
                                     i -> {'pos': i, 'term': tk[i+1]})) AS u
        FROM toks)
),
trig AS (
  SELECT unnest(CASE WHEN len(tk) >= 3 THEN
           list_transform(range(len(tk) - 2),
                          i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])
         ELSE [] END) AS ph
  FROM toks
),
top3 AS (
  SELECT ph, COUNT(*) AS cnt FROM trig GROUP BY ph
  ORDER BY cnt DESC, ph LIMIT 3
),
parts AS (
  SELECT ph, string_split(ph, ' ') AS pp FROM top3
),
m AS (
  SELECT parts.ph, p0.doc_id
  FROM parts
  JOIN p p0 ON p0.term = pp[1]
  JOIN p p1 ON p1.doc_id = p0.doc_id AND p1.pos = p0.pos + 1 AND p1.term = pp[2]
  JOIN p p2 ON p2.doc_id = p0.doc_id AND p2.pos = p0.pos + 2 AND p2.term = pp[3]
)
SELECT ph AS phrase,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occ
FROM m GROUP BY ph
""",
    doc="IR phrase search over a POSITIONAL inverted index (the "
        "Lucene/ES phrase-query plan): postings are (doc_id, pos, term); "
        "a 3-term phrase resolves as term1's postings joined to term2's "
        "at pos+1 and term3's at pos+2 -- equi-joins on (doc, pos), "
        "never a substring scan.  The query set is data-derived (the 3 "
        "most frequent trigrams, tie-broken by text) so the gate is "
        "non-vacuous at every SF.  Differs from the n-gram explode the "
        "dedup family uses: the positional join composes to ANY phrase "
        "length without materializing longer n-grams, which is why real "
        "indexes store positions.  Scale: the phrase terms broadcast; "
        "each join touches only the matched terms' postings, shuffled on "
        "(doc, pos).",
    driver=False,
    sibling="doc_char_kl_gibberish",
)
def doc_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("tk"))
    post = toks.select("doc_id", F.posexplode("tk").alias("pos", "term"))
    # Trigram stream WITHOUT the word_shingles <3-token fallback: the
    # oracle's range(len-2) form emits nothing for short docs, and the
    # whole-text fallback would let a 1-token doc alias a real trigram.
    trig_arr = F.when(
        F.size("tk") >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size("tk") - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at("tk", i + 1),
                F.element_at("tk", i + 2),
                F.element_at("tk", i + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    trig = toks.select(F.explode(trig_arr).alias("ph"))
    top3 = (
        trig.groupBy("ph")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("ph"))
        .limit(3)
    )
    parts = top3.select("ph", F.split(F.col("ph"), " ").alias("pp"))
    p0 = post.select(
        F.col("doc_id").alias("d0"), F.col("pos").alias("pos0"), F.col("term").alias("t0")
    )
    p1 = post.select(
        F.col("doc_id").alias("d1"), F.col("pos").alias("pos1"), F.col("term").alias("t1")
    )
    p2 = post.select(
        F.col("doc_id").alias("d2"), F.col("pos").alias("pos2"), F.col("term").alias("t2")
    )
    m = (
        F.broadcast(parts)
        .join(p0, F.col("t0") == F.col("pp")[0])
        .join(
            p1,
            (F.col("d1") == F.col("d0"))
            & (F.col("pos1") == F.col("pos0") + 1)
            & (F.col("t1") == F.col("pp")[1]),
        )
        .join(
            p2,
            (F.col("d2") == F.col("d0"))
            & (F.col("pos2") == F.col("pos0") + 2)
            & (F.col("t2") == F.col("pp")[2]),
        )
    )
    return m.groupBy(F.col("ph").alias("phrase")).agg(
        F.count_distinct(F.col("d0")).alias("n_docs"),
        F.count(F.lit(1)).alias("n_occ"),
    )


# --------------------------------------------------------------------------
# PII detection + redaction
# --------------------------------------------------------------------------

#: Patterns restricted to syntax with IDENTICAL semantics in Java regex
#: (Spark) and RE2 (DuckDB): character classes, bounded quantifiers and \b
#: word boundaries only -- no backreferences, no lookaround.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b\d{3}-\d{4}\b"

#: The synthetic corpus contains no real PII (word-soup text, no digits or
#: '@'), so a detector run on raw ``text`` would be a vacuous gate
#: (tests/test_nonvacuous.py bans those).  Both engines therefore append a
#: deterministic doc_id-derived contact block -- an email for every doc, a
#: phone for doc_id % 3 != 0 -- and the operator must find EXACTLY those,
#: redact them, and leave the surrounding text byte-identical (checked via
#: md5 of the redacted string).  concat_ws skips NULL operands in both
#: engines, which also makes the builder total on NULL-text rows.
_AUG_SQL = (
    "concat_ws(' ', text,"
    " 'user' || CAST(doc_id AS VARCHAR) || '@example.com',"
    " CASE WHEN doc_id % 3 <> 0 THEN"
    " 'call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') END)"
)


@register(
    "doc_pii_redaction",
    oracle=f"""
WITH aug AS (
  SELECT doc_id, {_AUG_SQL} AS t FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       CAST(length(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                                  '{_PHONE_RE}', '[PHONE]', 'g')) AS BIGINT)
         AS redacted_len,
       md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                          '{_PHONE_RE}', '[PHONE]', 'g')) AS redacted_fp
FROM aug
""",
    doc="PII detection + redaction (the compliance pass every training-data "
        "pipeline runs before packing): count and mask email/phone patterns "
        "with regexes whose semantics are identical under Java regex and "
        "RE2 (classes + bounded quantifiers + \\b only).  Pure Column "
        "expressions -- regexp_count/regexp_replace are JVM-side, zero "
        "Python; at 100 TB this is a narrow map with no shuffle at all.  "
        "The redacted string itself is hash-checked (md5), so the gate "
        "pins masking byte-for-byte, not just the match counts.",
    driver=False,
    sibling="doc_k_anonymity",
)
def doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    aug = F.concat_ws(
        " ",
        F.col("text"),
        F.concat(F.lit("user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
        F.when(
            F.col("doc_id") % 3 != 0,
            F.concat(
                F.lit("call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(aug, _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    return d.select(
        "doc_id",
        F.regexp_count(aug, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(aug, F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.length(redacted).cast("long").alias("redacted_len"),
        F.md5(redacted).alias("redacted_fp"),
    )


# --------------------------------------------------------------------------
# BPE merge-candidate counting (one tokenizer-training iteration)
# --------------------------------------------------------------------------

@register(
    "doc_bpe_merge_candidates",
    oracle="""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS t
  FROM documents WHERE text IS NOT NULL
),
pairs AS (
  SELECT unnest(CASE WHEN length(t) >= 2 THEN
           list_transform(range(length(t) - 1), i -> substr(t, i + 1, 2))
         ELSE [] END) AS pair
  FROM toks
)
SELECT * FROM (
  SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_occurrences
  FROM pairs GROUP BY pair
)
ORDER BY n_occurrences DESC, pair
LIMIT 20
""",
    doc="one BPE tokenizer-training iteration: count every adjacent "
        "symbol pair across all token OCCURRENCES (not types) and rank -- "
        "the top pair is exactly the next merge BPE would learn.  Run "
        "iteratively with re-segmentation this is the whole training loop; "
        "the counting step shown here is the part that touches the 100 TB "
        "corpus and it is one explode + one map-side-combinable groupBy "
        "on a pair-key space bounded by |alphabet|^2, top-20 via "
        "TakeOrderedAndProject.  Integer counts, lexicographic tiebreak: "
        "bit-exact parity for free.",
    driver=False,
    sibling="doc_zipf_fit",
)
def doc_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    toks = d.select(F.explode(F.split(F.col("text"), " ")).alias("t"))
    pairs_arr = F.when(
        F.length("t") >= 2,
        F.expr("transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))"),
    ).otherwise(F.array().cast("array<string>"))
    return (
        toks.select(F.explode(pairs_arr).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Deterministic train/val/test split assignment
# --------------------------------------------------------------------------

#: Fold geometry: md5 of the doc id buckets into 10 folds; folds 0-7 are
#: train, 8 val, 9 test.  Hash-based (not range-based) so the split is
#: stable under corpus growth and independent of ingestion order -- the
#: property that stops val/test leakage when the corpus is re-ingested.
_N_FOLDS = 10


@register(
    "doc_split_assignment",
    oracle=f"""
WITH assigned AS (
  SELECT doc_id, source, lang,
         len(string_split(text, ' ')) AS n_tokens,
         CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
              AS BIGINT) % {_N_FOLDS} AS fold
  FROM documents WHERE text IS NOT NULL
)
SELECT split, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
FROM (
  SELECT *, CASE WHEN fold <= 7 THEN 'train'
                 WHEN fold = 8 THEN 'val'
                 ELSE 'test' END AS split
  FROM assigned
)
GROUP BY split, source
""",
    doc="deterministic train/val/test splitting: md5-hash fold assignment "
        "(stable under corpus growth and ingestion order -- the property "
        "that prevents val/test leakage on re-ingestion, unlike row-number "
        "or range splits), 80/10/10 via 10 folds, audited per (split, "
        "source) with doc and token counts -- the balance sheet a training "
        "run signs off on.  Same md5-substring bucket recipe as the "
        "CMS/Bloom sketches, so DuckDB replicates it verbatim.  Scale: "
        "one narrow map + one combinable groupBy on a "
        "|splits| x |sources| key space.",
    driver=False,
    sibling="doc_k_anonymity",
)
def doc_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    fold = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % _N_FOLDS
    )
    split = (
        F.when(fold <= 7, F.lit("train"))
        .when(fold == 8, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select(
            "doc_id",
            "source",
            split.alias("split"),
            F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        )
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


# --------------------------------------------------------------------------
# Corpus snapshot diffing (dataset versioning)
# --------------------------------------------------------------------------

@register(
    "doc_corpus_diff",
    oracle="""
WITH v1 AS (
  SELECT doc_id, md5(text) AS fp FROM documents WHERE text IS NOT NULL
),
v2 AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 97 = 3 THEN text || ' rev2' ELSE text END) AS fp
  FROM documents
  WHERE text IS NOT NULL AND doc_id % 89 <> 5
  UNION ALL
  SELECT doc_id + 1000000, md5(text || ' fork')
  FROM documents WHERE text IS NOT NULL AND doc_id % 93 = 7
),
joined AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         CASE WHEN b.doc_id IS NULL THEN 'removed'
              WHEN a.doc_id IS NULL THEN 'added'
              WHEN a.fp <> b.fp THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
)
SELECT status,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
FROM joined GROUP BY status
""",
    doc="dataset versioning: fingerprint diff between two corpus snapshots "
        "(v2 is derived deterministically in-query: ~1/97 of docs revised, "
        "~1/89 removed, ~1/93 forked into new ids) -- a FULL OUTER join on "
        "the stable key classifying every doc added/removed/changed/"
        "unchanged, aggregated into the audit table a data-version bump "
        "ships with.  The audit a training pipeline runs before retraining "
        "on a refreshed crawl: what fraction of the corpus actually moved, "
        "and do the ids confirm the expected change pattern.  Scale: one "
        "full outer join on the snapshot key (both sides shuffle-partition "
        "on doc_id -- at 100 TB both snapshots are bucketed on it and the "
        "join is co-located) and a 4-row aggregate.  md5 fingerprints + "
        "integer counts: exact parity.",
    driver=False,
    sibling="doc_zipf_fit",
)
def doc_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    v1 = d.select("doc_id", F.md5(F.col("text")).alias("fp"))
    v2_base = d.filter(F.col("doc_id") % 89 != 5).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 97 == 3, F.concat(F.col("text"), F.lit(" rev2"))
            ).otherwise(F.col("text"))
        ).alias("fp"),
    )
    v2_forks = d.filter(F.col("doc_id") % 93 == 7).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.md5(F.concat(F.col("text"), F.lit(" fork"))).alias("fp"),
    )
    v2 = v2_base.unionAll(v2_forks)
    a = v1.select(F.col("doc_id").alias("id_a"), F.col("fp").alias("fp_a"))
    b = v2.select(F.col("doc_id").alias("id_b"), F.col("fp").alias("fp_b"))
    joined = a.join(b, F.col("id_a") == F.col("id_b"), "full_outer").select(
        F.coalesce("id_a", "id_b").alias("doc_id"),
        F.when(F.col("id_b").isNull(), F.lit("removed"))
        .when(F.col("id_a").isNull(), F.lit("added"))
        .when(F.col("fp_a") != F.col("fp_b"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )
    return joined.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


# --------------------------------------------------------------------------
# Weighted systematic sampling via distributed prefix sum (round 8)
# --------------------------------------------------------------------------

#: Sample points per language stratum (fixed; shared with the oracle).
WSAMPLE_K = 10


@register(
    "doc_weighted_sample",
    oracle=f"""
WITH w AS (
  SELECT lang, doc_id,
         COALESCE(CAST(len(string_split(text, ' ')) AS BIGINT), 0) AS weight
  FROM documents
), c AS (
  SELECT lang, doc_id, weight,
         SUM(weight) OVER (PARTITION BY lang ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(weight) OVER (PARTITION BY lang) AS total
  FROM w
), sel AS (
  SELECT lang, doc_id, weight,
         CAST(((2 * {WSAMPLE_K} * cum + total) // (2 * total))
            - ((2 * {WSAMPLE_K} * (cum - weight) + total) // (2 * total))
            AS BIGINT) AS n_copies
  FROM c WHERE total > 0
)
SELECT lang, doc_id, weight, n_copies FROM sel WHERE n_copies >= 1
""",
    doc="Weighted systematic sampling (the particle-filter resampling "
        "scheme): per language stratum, K sample points sit at odd "
        "multiples of total_weight/2K along the cumulative token-weight "
        "axis; a document is drawn once per point inside its weight "
        "interval, so selection probability is exactly proportional to "
        "weight, heavy documents can be drawn n_copies>1 times, and the "
        "whole draw is integer arithmetic -- no RNG, no transcendental "
        "priority keys, bit-identical across engines.  The cumulative "
        "weight is a DISTRIBUTED PREFIX SUM, not a per-stratum sequential "
        "window: range-repartition by (lang, doc_id), per-partition "
        "partial sums, prefix the TINY (one row per partition x stratum) "
        "partials frame, broadcast the offsets back, then cumsum within "
        "each partition -- parallelism scales with partition count, never "
        "with stratum count, so one dominant language cannot serialize "
        "the scan the way Window.partitionBy(lang) would.  The final "
        "within-partition window does shuffle on (pid, lang), but those "
        "keys are one range-partition's rows each -- balanced by "
        "construction.  Complements doc_stratified_sample (hash quotas: "
        "uniform within stratum) and doc_temperature_mixing (computes "
        "weights; this query consumes them).",
    driver=False,
    sibling="doc_k_anonymity",
)
def doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    w = d.select(
        "lang",
        "doc_id",
        F.coalesce(
            F.size(F.split(F.col("text"), " ")).cast("long"), F.lit(0)
        ).alias("weight"),
    )
    # r12: routed through range_ordered_parts -- the bare
    # repartitionByRange+pid form had the cross-subtree pid-consistency
    # hazard the k=2 ordered probe caught (operators/ordered.py docstring);
    # the checkpointed labels make psums and the offset join read the same
    # partitioning by construction.
    parts = range_ordered_parts(w, "lang", "doc_id")
    psums = parts.groupBy("pid", "lang").agg(F.sum("weight").alias("psum"))
    wo = Window.partitionBy("lang").orderBy("pid")
    offsets = psums.withColumn(
        "offset",
        F.coalesce(
            F.sum("psum").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    ).withColumn("total", F.sum("psum").over(Window.partitionBy("lang")))
    joined = parts.join(
        F.broadcast(offsets.select("pid", "lang", "offset", "total")),
        ["pid", "lang"],
    )
    win = Window.partitionBy("pid", "lang").orderBy("doc_id")
    cum = (F.col("offset") + F.sum("weight").over(win)).alias("cum")
    k2 = 2 * WSAMPLE_K
    return (
        joined.select("lang", "doc_id", "weight", "total", cum)
        .filter(F.col("total") > 0)
        .selectExpr(
            "lang",
            "doc_id",
            "weight",
            f"cast((({k2} * cum + total) div (2 * total))"
            f" - (({k2} * (cum - weight) + total) div (2 * total))"
            " as bigint) as n_copies",
        )
        .filter(F.col("n_copies") >= 1)
    )


@register(
    "doc_ngram_topk",
    oracle="""
WITH toks AS (
  SELECT string_split(text, ' ') AS w
  FROM documents WHERE text IS NOT NULL
), grams AS (
  SELECT unnest(list_transform(range(1, len(w) - 1),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
  FROM toks WHERE len(w) >= 3
)
SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM grams
GROUP BY gram
ORDER BY n_occurrences DESC, gram
LIMIT 100
""",
    doc="Corpus-level word-3-gram frequency table, top-100 -- the "
        "n-gram-counting backbone of LM-data work (infini-gram style "
        "lookup tables, contamination screens, boilerplate mining all "
        "start here).  Reuses text.word_shingles (one split per row "
        "evaluated OUTSIDE the lambda -- the measured O(tokens^2) trap "
        "documented there), explodes, and lets a map-side-combined "
        "count + TakeOrderedAndProject produce the top-k; tie-break on "
        "the gram string makes the cut deterministic.  Scale: the "
        "explode is linear in corpus tokens and the shuffle carries "
        "only (gram, partial_count) pairs -- the classic word-count "
        "shape Spark map-side combines; no per-doc state, no driver "
        "collection.  Short docs (<3 tokens) are excluded on both "
        "sides rather than emitting the whole-doc fallback shingle.",
    driver=False,
    sibling="doc_zipf_fit",
)
def doc_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    d = d.where(F.size(F.split(F.col("text"), " ")) >= 3)
    grams = d.select(
        F.explode(TX.word_shingles(F.col("text"), 3)).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("gram"))
        .limit(100)
    )


@register(
    "doc_winsorized_stats",
    oracle="""
WITH d AS (
  SELECT lang, doc_id, n_chars FROM documents WHERE n_chars IS NOT NULL
), r AS (
  SELECT lang, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM d
), b AS (
  SELECT lang, MAX(n) AS n,
         MIN(CASE WHEN rn = (n + 19) // 20 THEN n_chars END) AS lo_chars,
         MIN(CASE WHEN rn = (19 * n + 19) // 20 THEN n_chars END) AS hi_chars
  FROM r GROUP BY lang
)
SELECT d.lang,
       CAST(MAX(b.n) AS BIGINT) AS n_docs,
       CAST(MAX(b.lo_chars) AS BIGINT) AS lo_chars,
       CAST(MAX(b.hi_chars) AS BIGINT) AS hi_chars,
       CAST(SUM(d.n_chars) AS DOUBLE) / MAX(b.n) AS raw_mean_chars,
       CAST(SUM(LEAST(GREATEST(d.n_chars, b.lo_chars), b.hi_chars))
            AS DOUBLE) / MAX(b.n) AS winsorized_mean_chars
FROM d JOIN b USING (lang)
GROUP BY d.lang
""",
    doc="Winsorized per-language length statistics: clip n_chars at the "
        "5th/95th percentile before averaging, the outlier-robust mean "
        "a corpus report should quote next to the raw one.  Percentiles "
        "are DISCRETE order statistics picked by rank -- rank k05 = "
        "ceil(n/20) and k95 = ceil(19n/20) computed in pure integer "
        "arithmetic ((n+19) div 20), and the value at rank k is found "
        "by row_number over (n_chars, doc_id) -- so bounds are exact "
        "BIGINTs, clipped values are BIGINTs, sums are exact, and the "
        "only float op is one final division: bit-deterministic "
        "cross-engine with NO interpolated-percentile or float-sum "
        "ordering hazard.  Scale: one shuffle on lang for the rank "
        "window, one for the re-agg; the bounds table is lang-bounded "
        "(broadcast join back).",
    driver=False,
    sibling="doc_zipf_fit",
)
def doc_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _docs(spark, sf_dir)
        .where(F.col("n_chars").isNotNull())
        .select("lang", "doc_id", "n_chars")
    )
    part = Window.partitionBy("lang")
    r = d.select(
        "lang", "n_chars",
        F.row_number().over(part.orderBy("n_chars", "doc_id")).alias("rn"),
        F.count(F.lit(1)).over(part).alias("n"),
    )
    k05 = F.expr("(n + 19) div 20")
    k95 = F.expr("(19 * n + 19) div 20")
    b = r.groupBy("lang").agg(
        F.max("n").alias("n"),
        F.min(F.when(F.col("rn") == k05, F.col("n_chars"))).alias("lo_chars"),
        F.min(F.when(F.col("rn") == k95, F.col("n_chars"))).alias("hi_chars"),
    )
    clipped = F.least(F.greatest(F.col("n_chars"), F.col("lo_chars")), F.col("hi_chars"))
    return (
        d.join(F.broadcast(b), "lang")
        .groupBy("lang")
        .agg(
            F.max("n").alias("n_docs"),
            F.max("lo_chars").alias("lo_chars"),
            F.max("hi_chars").alias("hi_chars"),
            (F.sum("n_chars").cast("double") / F.max("n")).alias(
                "raw_mean_chars"
            ),
            (F.sum(clipped).cast("double") / F.max("n")).alias(
                "winsorized_mean_chars"
            ),
        )
    )


@register(
    "doc_bigram_pmi",
    oracle="""
WITH toks AS (
  SELECT string_split(text, ' ') AS w
  FROM documents WHERE text IS NOT NULL
), uni AS (
  SELECT unnest(w) AS tok FROM toks
), ucnt AS (
  SELECT tok, COUNT(*) AS c FROM uni GROUP BY tok
), nu AS (
  SELECT COUNT(*) AS n FROM uni
), big AS (
  SELECT unnest(list_transform(range(1, len(w)),
                i -> w[i] || ' ' || w[i+1])) AS gram
  FROM toks WHERE len(w) >= 2
), bcnt AS (
  SELECT gram, COUNT(*) AS cxy FROM big GROUP BY gram
), nb AS (
  SELECT COUNT(*) AS n FROM big
), scored AS (
  SELECT b.gram,
         CAST(b.cxy AS BIGINT) AS n_cooccur,
         (CAST(b.cxy AS DOUBLE) * CAST(nu.n AS DOUBLE)
            * CAST(nu.n AS DOUBLE))
          / (CAST(nb.n AS DOUBLE) * CAST(cx.c AS DOUBLE)
             * CAST(cy.c AS DOUBLE)) AS ratio
  FROM bcnt b
  JOIN ucnt cx ON cx.tok = string_split(b.gram, ' ')[1]
  JOIN ucnt cy ON cy.tok = string_split(b.gram, ' ')[2]
  CROSS JOIN nu CROSS JOIN nb
  WHERE b.cxy >= 5
)
SELECT gram, n_cooccur, ln(ratio) AS pmi
FROM scored
ORDER BY ratio DESC, gram
LIMIT 50
""",
    doc="Word-association mining: pointwise mutual information of adjacent "
        "word pairs, top-50 with a min-support-5 floor -- the collocation "
        "detector of word2vec-style phrase merging (king of 'New York' -> "
        "'New_York' preprocessing).  PMI = ln(p(xy)/(p(x)p(y))) with "
        "p(xy) over the bigram space and p(x) over the unigram space; "
        "every count is an exact BIGINT and the probability RATIO is one "
        "mirrored double expression (casts, two products, one division "
        "-- no overflow path because products happen in double).  The "
        "top-50 cut orders on the ratio, NOT the ln: ln is monotone, so "
        "the ranking is identical, the cut needs no transcendental at "
        "all, and the one ln that appears in the OUTPUT runs through the "
        "Arrow-batched libm crossing on exactly 50 rows (doc_bm25_topk's "
        "documented JVM-Math.log-vs-libm 1-ulp precedent) with the "
        "oracle ordering on the same ratio expression.  Scale: two linear "
        "explodes (unigrams, bigrams), shuffles keyed on token/gram "
        "strings (word-count shape, map-side combined), two equi-joins "
        "of bigram counts against the vocab table (unbounded -> no "
        "broadcast hint, AQE decides), one 1-row totals broadcast.",
    driver=False,
    sibling="doc_zipf_fit",
)
def doc_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    from ..config import schema_only_builds
    from ..materialize import materialize_many

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    w = F.split(F.col("text"), " ")
    uni = d.select(F.explode(w).alias("tok"))
    # Materialized count tables (r17): ucnt used to be evaluated TWICE (one
    # broadcast exchange per x/y join, each re-running the corpus explode +
    # aggregate), and the totals ran two MORE corpus explode passes.  Now
    # each explode pass runs once into a vocabulary-sized checkpoint, and
    # the totals are exact integer sums over those counts (nu = sum of
    # unigram counts, nb = sum of bigram counts -- the same BIGINTs the
    # direct count() passes produced).  4 corpus passes -> 2 at every scale.
    big = d.where(F.size(w) >= 2).select(
        F.explode(TX.word_shingles(F.col("text"), 2)).alias("gram")
    )
    bcnt_all = big.groupBy("gram").agg(F.count(F.lit(1)).alias("cxy"))
    # r18: only the min-support SURVIVORS are checkpointed, and the
    # unfiltered bigram total rides the same materialization job as an
    # observe() metric (the CC-loop pattern) -- the bigram-vocabulary
    # checkpoint shrinks to the count>=5 rows, and the post-hoc nb
    # aggregate pass over it disappears.  nb is an exact BIGINT either
    # way.  Measured 1.90 -> 1.69 s at sf0.1.  Schema-only mode keeps
    # the lazy aggregate form (observe metrics never fire without an
    # action).  The two count checkpoints stay one concurrent wave
    # (r17, guide section 2.6).
    if schema_only_builds():
        ucnt, bcnt_f = materialize_many([
            uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c")),
            bcnt_all.where(F.col("cxy") >= 5),
        ])
        nb_col = F.broadcast(bcnt_all.agg(F.sum("cxy").alias("nb")))
        totals = ucnt.agg(F.sum("c").alias("nu")).crossJoin(nb_col)
    else:
        obs = Observation()
        ucnt, bcnt_f = materialize_many([
            uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c")),
            bcnt_all.observe(obs, F.sum("cxy").alias("nb")).where(
                F.col("cxy") >= 5
            ),
        ])
        totals = ucnt.agg(F.sum("c").alias("nu")).withColumn(
            "nb", F.lit(obs.get["nb"]).cast("long")
        )
    parts = F.split(F.col("gram"), " ")
    b = (
        bcnt_f
        .withColumn("x", parts.getItem(0))
        .withColumn("y", parts.getItem(1))
        .join(ucnt.withColumnRenamed("tok", "x").withColumnRenamed("c", "cx"), "x")
        .join(ucnt.withColumnRenamed("tok", "y").withColumnRenamed("c", "cy"), "y")
        .crossJoin(F.broadcast(totals))
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    ratio = (dbl("cxy") * dbl("nu") * dbl("nu")) / (
        dbl("nb") * dbl("cx") * dbl("cy")
    )

    # libm ln on the 50 surviving rows only (see doc_bm25_topk's crossing
    # note: JVM Math.log diverges from DuckDB's libm ln by 1 ulp).
    @F.pandas_udf("double")
    def _ln_libm(s: pd.Series) -> pd.Series:
        return s.map(lambda v: None if pd.isna(v) else math.log(v))

    return (
        b.select("gram", F.col("cxy").alias("n_cooccur"), ratio.alias("ratio"))
        .orderBy(F.desc("ratio"), F.asc("gram"))
        .limit(50)
        .select("gram", "n_cooccur", _ln_libm(F.col("ratio")).alias("pmi"))
    )


@register(
    "doc_k_anonymity",
    oracle="""
SELECT lang,
       n_chars // 100 AS chars_bucket,
       CAST(COUNT(*) AS BIGINT) AS group_size,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_distinct_sources,
       COUNT(*) >= 5 AS k_anonymous,
       COUNT(DISTINCT source) >= 2 AS l_diverse
FROM documents
WHERE n_chars IS NOT NULL
GROUP BY lang, n_chars // 100
""",
    doc="Privacy-release audit over the quasi-identifier pair (lang, "
        "100-char length bucket): k-anonymity (every QI group must "
        "contain >=5 records, else the group re-identifies individuals) "
        "and l-diversity (>=2 distinct values of the sensitive 'source' "
        "attribute per group, else membership leaks it) -- the standard "
        "pre-publication gate next to doc_pii_redaction, which scrubs "
        "values but not group-size leakage.  Exact arithmetic "
        "throughout: integer bucket division, counts, one COUNT "
        "DISTINCT, boolean flags.  Scale: a single map-side-combined "
        "groupBy; the COUNT DISTINCT expands to Spark's two-phase "
        "distinct-aggregate on the same key -- no second scan.",
)
def doc_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).where(F.col("n_chars").isNotNull())
    return (
        d.select(
            "lang",
            F.expr("n_chars div 100").alias("chars_bucket"),
            "source",
        )
        .groupBy("lang", "chars_bucket")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.countDistinct("source").alias("n_distinct_sources"),
        )
        .select(
            "lang", "chars_bucket", "group_size", "n_distinct_sources",
            (F.col("group_size") >= 5).alias("k_anonymous"),
            (F.col("n_distinct_sources") >= 2).alias("l_diverse"),
        )
    )


@register(
    "doc_zipf_fit",
    oracle="""
WITH toks AS (
  SELECT string_split(text, ' ') AS w
  FROM documents WHERE text IS NOT NULL
), uni AS (
  SELECT unnest(w) AS tok FROM toks
), ucnt AS (
  SELECT tok, COUNT(*) AS c FROM uni GROUP BY tok
), top AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rank
  FROM (SELECT tok, c FROM ucnt ORDER BY c DESC, tok LIMIT 1000)
), t AS (
  SELECT rank,
         ln(CAST(rank AS DOUBLE)) AS x,
         ln(CAST(c AS DOUBLE)) AS y
  FROM top
), f AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
         CAST(COUNT(*) AS BIGINT) AS n_terms,
         list_reduce(list(x ORDER BY rank), (a, b) -> a + b) AS sx,
         list_reduce(list(y ORDER BY rank), (a, b) -> a + b) AS sy,
         list_reduce(list(x * y ORDER BY rank), (a, b) -> a + b) AS sxy,
         list_reduce(list(x * x ORDER BY rank), (a, b) -> a + b) AS sxx,
         list_reduce(list(y * y ORDER BY rank), (a, b) -> a + b) AS syy
  FROM t
), m AS (
  SELECT n_terms, nd, sx, sy,
         (nd * sxy - sx * sy) AS num,
         (nd * sxx - sx * sx) AS denx,
         (nd * syy - sy * sy) AS deny
  FROM f
)
SELECT n_terms,
       num / denx AS zipf_slope,
       (sy - (num / denx) * sx) / nd AS intercept,
       (num * num) / (denx * deny) AS r_squared
FROM m
""",
    doc="Zipf's-law fit over the corpus vocabulary: OLS of ln(frequency) "
        "on ln(rank) for the top-1000 terms -- the slope (~-1 on natural "
        "corpora, ~0 on degenerate/template text) is a one-number corpus "
        "health check next to doc_corpus_report, and its drift flags "
        "boilerplate floods.  Determinism plumbing: the top-1000 cut is "
        "a TakeOrdered on the exact (count DESC, term) order (never a "
        "full-vocab single-partition rank); both ln columns run through "
        "the Arrow-batched libm crossing on that bounded 1000-row frame "
        "(JVM Math.log 1-ulp divergence, the doc_bm25_topk precedent); "
        "the five OLS sums are SEQUENTIAL folds in rank order over a "
        "bounded sorted-collect (DuckDB list_reduce mirrored by "
        "first-element-init F.aggregate), so slope/intercept/r2 doubles "
        "are bit-identical.  Scale: the only unbounded work is the "
        "word-count aggregate; everything after operates on <=1000 rows.",
)
def doc_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    uni = d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
    ucnt = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    top = (
        ucnt.orderBy(F.desc("c"), F.asc("tok"))
        .limit(1000)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("c"), F.asc("tok"))
            ),
        )
    )

    @F.pandas_udf("double")
    def _ln_libm(s: pd.Series) -> pd.Series:
        return s.map(lambda v: None if pd.isna(v) else math.log(v))

    t = top.select(
        "rank",
        _ln_libm(F.col("rank").cast("double")).alias("x"),
        _ln_libm(F.col("c").cast("double")).alias("y"),
    )

    def fold_add(arr):
        return F.aggregate(
            F.slice(arr, 2, F.size(arr) - 1),
            F.element_at(arr, 1),
            lambda a, b: a + b,
        )

    arr = F.array_sort(F.collect_list(F.struct("rank", "x", "y")))
    f = t.agg(arr.alias("arr")).select(
        F.size("arr").cast("long").alias("n_terms"),
        F.size("arr").cast("double").alias("nd"),
        fold_add(F.transform(F.col("arr"), lambda s: s["x"])).alias("sx"),
        fold_add(F.transform(F.col("arr"), lambda s: s["y"])).alias("sy"),
        fold_add(
            F.transform(F.col("arr"), lambda s: s["x"] * s["y"])
        ).alias("sxy"),
        fold_add(
            F.transform(F.col("arr"), lambda s: s["x"] * s["x"])
        ).alias("sxx"),
        fold_add(
            F.transform(F.col("arr"), lambda s: s["y"] * s["y"])
        ).alias("syy"),
    )
    m = f.select(
        "n_terms", "nd", "sx", "sy",
        (F.col("nd") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("nd") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("denx"),
        (F.col("nd") * F.col("syy") - F.col("sy") * F.col("sy")).alias("deny"),
    )
    slope = F.col("num") / F.col("denx")
    return m.select(
        "n_terms",
        slope.alias("zipf_slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("nd")).alias("intercept"),
        ((F.col("num") * F.col("num")) / (F.col("denx") * F.col("deny"))).alias(
            "r_squared"
        ),
    )


@register(
    "doc_lexical_diversity",
    oracle="""
WITH toks AS (
  SELECT string_split(text, ' ') AS w
  FROM documents WHERE text IS NOT NULL
), uni AS (
  SELECT unnest(w) AS tok FROM toks
), u AS (
  SELECT tok, COUNT(*) AS c FROM uni GROUP BY tok
), t AS (
  SELECT tok, c,
         ascii(substr(tok, 1, 1)) % 16 AS bucket,
         CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) AS term
  FROM u
), l1 AS (
  SELECT bucket,
         list_reduce(list(term ORDER BY tok), (a, b) -> a + b) AS s1,
         SUM(c) AS n1, COUNT(*) AS v1,
         COUNT(CASE WHEN c = 1 THEN 1 END) AS h1
  FROM t GROUP BY bucket
), l2 AS (
  SELECT list_reduce(list(s1 ORDER BY bucket), (a, b) -> a + b) AS s,
         SUM(n1) AS n, SUM(v1) AS v, SUM(h1) AS h
  FROM l1
)
SELECT CAST(v AS BIGINT) AS vocab_size,
       CAST(n AS BIGINT) AS total_tokens,
       CAST(h AS BIGINT) AS hapax_count,
       CAST(v AS DOUBLE) / CAST(n AS DOUBLE) AS type_token_ratio,
       ln(CAST(n AS DOUBLE)) - s / CAST(n AS DOUBLE) AS entropy_nats
FROM l2
""",
    doc="Corpus lexical-diversity scorecard: vocabulary size, token count, "
        "hapax-legomena count, type-token ratio, and unigram Shannon "
        "entropy in nats via H = ln(N) - (sum c*ln c)/N -- the "
        "degenerate-corpus tripwire (template floods crater entropy and "
        "TTR long before dedup notices).  The entropy sum runs over the "
        "UNBOUNDED vocabulary, so it uses the hub-safe two-level "
        "sequential fold keyed by a cross-engine-deterministic bucket "
        "(ascii of the first character mod 16; NOT engine hash) -- "
        "per-bucket fold in token order, bucket results folded in "
        "bucket order -- and both ln sites go through the Arrow-batched "
        "libm crossing (vocab-linear, the doc_bm25_topk precedent).  "
        "Integer counts are order-free; every double is bit-identical "
        "cross-engine.  Scale: word-count shuffle + two bounded-width "
        "aggregations; nothing quadratic, no driver collection.",
    driver=False,
    sibling="doc_zipf_fit",
)
def doc_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    u = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )

    @F.pandas_udf("double")
    def _ln_libm(s: pd.Series) -> pd.Series:
        return s.map(lambda v: None if pd.isna(v) else math.log(v))

    t = u.select(
        "tok", "c",
        (F.ascii(F.substring("tok", 1, 1)) % 16).alias("bucket"),
        (F.col("c").cast("double") * _ln_libm(F.col("c").cast("double"))).alias(
            "term"
        ),
    )

    def fold_add(arr):
        return F.aggregate(
            F.slice(arr, 2, F.size(arr) - 1),
            F.element_at(arr, 1),
            lambda a, b: a + b,
        )

    arr = F.array_sort(F.collect_list(F.struct("tok", "term")))
    l1 = t.groupBy("bucket").agg(
        arr.alias("arr"),
        F.sum("c").alias("n1"),
        F.count(F.lit(1)).alias("v1"),
        F.count(F.when(F.col("c") == 1, F.lit(1))).alias("h1"),
    ).select(
        "bucket",
        fold_add(F.transform(F.col("arr"), lambda s: s["term"])).alias("s1"),
        "n1", "v1", "h1",
    )
    arr2 = F.array_sort(F.collect_list(F.struct("bucket", "s1")))
    l2 = l1.agg(
        arr2.alias("arr2"),
        F.sum("n1").alias("n"),
        F.sum("v1").alias("v"),
        F.sum("h1").alias("h"),
    ).select(
        fold_add(F.transform(F.col("arr2"), lambda s: s["s1"])).alias("s"),
        "n", "v", "h",
    )
    nd = F.col("n").cast("double")
    return l2.select(
        F.col("v").alias("vocab_size"),
        F.col("n").alias("total_tokens"),
        F.col("h").alias("hapax_count"),
        (F.col("v").cast("double") / nd).alias("type_token_ratio"),
        (_ln_libm(nd) - F.col("s") / nd).alias("entropy_nats"),
    )


# --------------------------------------------------------------------------
# Character-distribution KL gibberish scorer (new r14; freshness-era rule:
# new registrations take a driver slot in their first round)
# --------------------------------------------------------------------------

@register(
    "doc_char_kl_gibberish",
    oracle="""
WITH d AS (
  SELECT doc_id, text, length(text) AS L
  FROM documents WHERE text IS NOT NULL AND length(text) > 0
), ch AS (
  SELECT doc_id, L, unicode(ch) AS code, COUNT(*) AS c
  FROM (SELECT doc_id, L, unnest(string_split(text, '')) AS ch FROM d)
  GROUP BY doc_id, L, code
), corp AS (
  SELECT code, SUM(c) AS cc FROM ch GROUP BY code
), tot AS (
  SELECT SUM(cc) AS t FROM corp
), ints AS (
  SELECT DISTINCT v FROM (
    SELECT c AS v FROM ch
    UNION SELECT L FROM d
    UNION SELECT cc FROM corp
    UNION SELECT t FROM tot
  )
), lns AS (
  SELECT v, ln(CAST(v AS DOUBLE)) AS lv FROM ints
), terms AS (
  SELECT ch.doc_id, ch.L, ch.code,
         (CAST(ch.c AS DOUBLE) / CAST(ch.L AS DOUBLE))
           * (((lc.lv - ll.lv) - lcc.lv) + lt.lv) AS term
  FROM ch
  JOIN corp USING (code)
  CROSS JOIN tot
  JOIN lns lc ON lc.v = ch.c
  JOIN lns ll ON ll.v = ch.L
  JOIN lns lcc ON lcc.v = corp.cc
  JOIN lns lt ON lt.v = tot.t
), k AS (
  SELECT doc_id, MAX(L) AS n_chars, COUNT(*) AS distinct_chars,
         list_reduce(list(term ORDER BY code), (a, b) -> a + b) AS kl_nats
  FROM terms GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(distinct_chars AS BIGINT) AS distinct_chars,
       kl_nats
FROM k
ORDER BY kl_nats DESC, doc_id
LIMIT 20
""",
    doc="CCNet/RefinedWeb-style gibberish detector: per-document "
        "character-distribution KL divergence from the corpus character "
        "distribution (nats), top-20 outliers.  KL(doc||corpus) = sum over "
        "the doc's chars of (c/L) * [(ln c - ln L) - (ln C + - ln T)] -- "
        "every ln argument is a POSITIVE INTEGER (a char count, a doc "
        "length, a corpus count), so the libm crossing runs over the "
        "DISTINCT integer values only (bounded by the doc-length cap plus "
        "the charset, NOT by corpus size) and is joined back broadcast -- "
        "per-row work is multiply/divide only (IEEE-exact per op), and "
        "the per-doc sum folds in char-code order on both engines "
        "(F.aggregate over array_sort vs list_reduce(list(... ORDER BY "
        "code))).  Scale: one Arrow-batched mapInPandas counting pass "
        "(output <= |charset| rows per doc, pixels-never-cross-a-shuffle "
        "posture), two bounded re-reads for the corpus histogram and the "
        "distinct-int frame, one shuffle on doc_id with <= |charset| rows "
        "per key, TakeOrdered top-20.  No per-row Python, no "
        "transcendentals on data-proportional rows, no global window.",
)
def doc_char_kl_gibberish(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
    )

    def _count_chars(batches):
        # Counter(text) IS the fast path here, and it was measured, not
        # assumed (r14 VERDICT What's-wrong #3 suggested replacing it with
        # np.unique over codepoint arrays): CPython's collections.Counter
        # hits the C-level _count_elements string specialization, so
        # counting the whole sf0.1 corpus takes 58 ms vs 453 ms for
        # sort-based np.unique on an int64 (doc<<32|code) composite and
        # 69 ms for hashtable value_counts (r15 microbench, this box).
        # The per-doc items() loop touches only |charset| entries.  The
        # query's ~2.4 s sweep cost lives in the Spark machinery around
        # this pass, not in it.
        from collections import Counter

        for pdf in batches:
            out = {"doc_id": [], "code": [], "c": [], "doc_len": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                counts = Counter(text)
                for chch, n in counts.items():
                    out["doc_id"].append(doc_id)
                    out["code"].append(ord(chch))
                    out["c"].append(n)
                    out["doc_len"].append(len(text))
            yield pd.DataFrame(out)

    # Materialize the counting pass ONCE: four consumers read it (corpus
    # histogram, the two distinct-int unions, the main join) and each
    # rebroadcast_small below would otherwise re-execute the full
    # Arrow-batched scan per lineage (measured 4.3 s -> one pass).
    from ..materialize import materialize

    long = materialize(d.mapInPandas(
        _count_chars, "doc_id long, code int, c long, doc_len long"
    ))

    # Everything below stays a SUBPLAN of the one final job (no collect
    # jobs: each driver round-trip costs ~0.4 s of fixed scheduling
    # overhead, measured, and four of them dominated the query).  The
    # small sides are explicitly broadcast at their join sites; their
    # sizes are structurally bounded -- corp by the charset, ints/lns by
    # distinct integer values <= doc-length cap + charset -- never
    # corpus-size-proportional.
    corp = long.groupBy("code").agg(F.sum("c").alias("cc"))
    tot = corp.agg(F.sum("cc").alias("t"))

    # distinct ln arguments from the doc side, gathered in ONE scan of the
    # materialized counts (explode, not a two-branch union)
    ints = (
        long.select(
            F.explode(F.array(F.col("c"), F.col("doc_len"))).alias("v")
        ).distinct()
        .union(corp.select(F.col("cc").alias("v")))
        .union(tot.select(F.col("t").alias("v")))
        .distinct()
    )

    @F.pandas_udf("double")
    def _ln_libm(s: pd.Series) -> pd.Series:
        return s.map(lambda v: None if pd.isna(v) else math.log(v))

    # Materialized (r17): the four _ln_of broadcasts below are four
    # SEPARATE exchanges (each projects different column aliases, so
    # exchange reuse never fires), and an unmaterialized lns re-executed
    # the whole distinct-int chain -- explode + two unions + two
    # distincts + the Arrow ln pass -- once per broadcast (measured: the
    # query's run dropped ~0.5 s at sf0.1 from this one call).  The frame
    # is bounded by distinct integer values (doc-length cap + charset),
    # never corpus-proportional, but can exceed the 4096-row
    # rebroadcast_small guard, so the checkpoint/staging form is the
    # right one.
    lns = materialize(
        ints.select("v", _ln_libm(F.col("v").cast("double")).alias("lv"))
    )

    def _ln_of(col):
        return F.broadcast(lns.select(
            F.col("v").alias(f"_v_{col}"), F.col("lv").alias(f"ln_{col}")
        ))

    terms = (
        long
        .join(F.broadcast(corp), "code")
        .crossJoin(F.broadcast(tot))
        .join(_ln_of("c"), F.col("c") == F.col("_v_c"))
        .join(_ln_of("L"), F.col("doc_len") == F.col("_v_L"))
        .join(_ln_of("cc"), F.col("cc") == F.col("_v_cc"))
        .join(_ln_of("t"), F.col("t") == F.col("_v_t"))
        .select(
            "doc_id", "doc_len", "code",
            (
                (F.col("c").cast("double") / F.col("doc_len").cast("double"))
                * (
                    ((F.col("ln_c") - F.col("ln_L")) - F.col("ln_cc"))
                    + F.col("ln_t")
                )
            ).alias("term"),
        )
    )

    def fold_add(arr):
        return F.aggregate(
            F.slice(arr, 2, F.size(arr) - 1),
            F.element_at(arr, 1),
            lambda a, b: a + b,
        )

    arr = F.array_sort(F.collect_list(F.struct("code", "term")))
    k = terms.groupBy("doc_id").agg(
        F.max("doc_len").alias("n_chars"),
        arr.alias("arr"),
    )
    return (
        k.select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.size("arr").cast("long").alias("distinct_chars"),
            fold_add(F.transform(F.col("arr"), lambda s: s["term"])).alias(
                "kl_nats"
            ),
        )
        .orderBy(F.desc("kl_nats"), F.asc("doc_id"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# DSIR-style importance resampling (r16)
# --------------------------------------------------------------------------

#: bucket count for the hashed-bigram feature space.  32 keeps the
#: generated fixed-order score expression readable while giving the
#: log-ratio estimator enough resolution on the fixture corpus.
_DSIR_B = 32

#: bucket hash of a word bigram, expressed identically in Spark and SQL:
#: integer arithmetic over length() and ascii() of the two words (both
#: engines define ascii('') = 0 and ascii(s) = first code point).
_DSIR_BUCKET_SQL = (
    "(7 * length(w1) + 13 * length(w2) + 3 * ascii(w1) + ascii(w2)) % 32"
)


def _dsir_bucket_expr(w1, w2):
    """The bucket hash as a Spark expression over two word columns --
    the one definition both the batch explode route and the row-wise
    streaming scorer derive from (mirrors ``_DSIR_BUCKET_SQL``)."""
    return (
        F.lit(7) * F.length(w1)
        + F.lit(13) * F.length(w2)
        + F.lit(3) * F.ascii(w1)
        + F.ascii(w2)
    ) % _DSIR_B


def _dsir_bucket_frame(d: DataFrame) -> DataFrame:
    """(doc_id, lang, bucket) -- one row per non-empty word bigram.

    Bigram pairs come from a zip of two shifted slices -- NO gram-string
    concat + re-split (word_shingles builds "w1 w2" strings; decoding
    them back costs a concat, a split, and two array indexes per gram).
    """
    w = F.split(F.col("text"), " ")
    m = F.size(w) - 1
    zipped = F.arrays_zip(
        F.slice(w, 1, m).alias("w1"), F.slice(w, 2, m).alias("w2")
    )
    pairs = d.where(F.size(w) >= 2).select(
        "doc_id", "lang", F.explode(zipped).alias("pr")
    )
    w1, w2 = F.col("pr.w1"), F.col("pr.w2")
    return pairs.where((w1 != "") & (w2 != "")).select(
        "doc_id", "lang", _dsir_bucket_expr(w1, w2).alias("bucket")
    )


def _dsir_lvals(g: DataFrame) -> list[float]:
    """Train the 32-bucket importance model and return the log-ratio
    coefficients l_i as Python floats (the literal-fold step; see the
    register() doc for the determinism + libm platform notes).  In
    schema-only mode ``collect_small`` returns [] and every l_i folds to
    ln(1) = 0.0 -- schema-identical, no job."""
    from ..materialize import collect_small

    b = _DSIR_B
    is_en = F.when(F.col("lang") == "en", 1).otherwise(0)
    brows = collect_small(
        g.groupBy("bucket").agg(
            F.sum(is_en).alias("ct"), F.count(F.lit(1)).alias("cs")
        ),
        max_rows=b,
    )
    ct = {r["bucket"]: r["ct"] for r in brows}
    cs = {r["bucket"]: r["cs"] for r in brows}
    nt, ns = sum(ct.values()), sum(cs.values())
    return [
        math.log(
            (float(ct.get(i, 0) + 1) * float(ns + b))
            / (float(cs.get(i, 0) + 1) * float(nt + b))
        )
        for i in range(b)
    ]


def dsir_coefficients(spark: SparkSession, sf_dir: str) -> list[float]:
    """Public training entry for the streaming twin: the 32 frozen l_i
    the batch ``doc_dsir_importance`` would fold for this corpus.  A
    stream scoring micro-batches with these coefficients reproduces the
    batch operator's rows exactly (tests/test_streaming.py)."""
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    return _dsir_lvals(_dsir_bucket_frame(d))


def dsir_score_rowwise(docs: DataFrame, lvals: list[float]) -> DataFrame:
    """Score documents against FROZEN coefficients without a shuffle:
    the per-document bucket histogram is computed row-wise with array
    expressions (filter/size over the zipped bigram array), so the
    operator is a pure narrow map -- streamable with no state store, no
    watermark, and no foreachBatch shim, exactly like the decode gates.

    Bit-equality with the batch route is by construction: the m_i are
    exact integer counts of the SAME bucket hash, and the score is the
    SAME fixed-order chain m_0*l_0 + ... + m_31*l_31 over binary64, so
    stream == batch row-for-row (pinned in tests/test_streaming.py).
    """
    b = _DSIR_B
    if len(lvals) != b:
        raise ValueError(f"expected {b} coefficients, got {len(lvals)}")
    w = F.split(F.col("text"), " ")
    m = F.size(w) - 1
    zipped = F.arrays_zip(
        F.slice(w, 1, m).alias("w1"), F.slice(w, 2, m).alias("w2")
    )
    valid = F.filter(
        zipped, lambda pr: (pr["w1"] != "") & (pr["w2"] != "")
    )
    buckets = F.when(
        F.size(w) >= 2,
        F.transform(valid, lambda pr: _dsir_bucket_expr(pr["w1"], pr["w2"])),
    ).otherwise(F.array().cast("array<int>"))
    d = docs.where(F.col("text").isNotNull()).select(
        "doc_id", buckets.alias("_bk")
    )
    # expr-string m_i counts and score chain (r18; the r17 fold-twin
    # precedent): the Column form cost ~300 py4j round-trips per build
    # (32 x size(filter(...)) plus the 32-term chain), each a socket
    # round-trip to the JVM; the strings parse to the IDENTICAL Catalyst
    # trees -- size(filter(_bk, x -> x = i)) per bucket, the
    # left-associative CAST-multiply chain with exact repr()-round-trip
    # double literals (vectors.array_lit precedent) -- in three parses.
    # Values are pinned by the stream==batch gate and the DSIR truth
    # tests; integer counts and the same-order binary64 chain are
    # bit-identical by construction.
    ms_sql = [f"size(filter(_bk, x -> x = {i}))" for i in range(b)]
    score_sql = " + ".join(
        f"(CAST({ms_sql[i]} AS DOUBLE) * {float(lvals[i])!r}D)" for i in range(b)
    )
    return d.select(
        "doc_id",
        F.expr("CAST(size(_bk) AS BIGINT)").alias("n_features"),
        F.expr(score_sql).alias("log_weight"),
        F.expr(f"({score_sql}) > 0.0D").alias("selected"),
    )


def _dsir_oracle() -> str:
    b = _DSIR_B
    ct = ",\n         ".join(
        f"SUM(CASE WHEN bucket = {i} AND lang = 'en' THEN 1 ELSE 0 END) AS ct_{i}"
        for i in range(b)
    )
    cs = ",\n         ".join(
        f"SUM(CASE WHEN bucket = {i} THEN 1 ELSE 0 END) AS cs_{i}"
        for i in range(b)
    )
    l = ",\n         ".join(
        f"ln((CAST(ct_{i} + 1 AS DOUBLE) * CAST(ns + {b} AS DOUBLE))"
        f" / (CAST(cs_{i} + 1 AS DOUBLE) * CAST(nt + {b} AS DOUBLE))) AS l_{i}"
        for i in range(b)
    )
    m = ",\n         ".join(
        f"SUM(CASE WHEN bucket = {i} THEN 1 ELSE 0 END) AS m_{i}"
        for i in range(b)
    )
    mc = ",\n         ".join(
        f"COALESCE(m_{i}, 0) AS m_{i}" for i in range(b)
    )
    score = " + ".join(f"CAST(m_{i} AS DOUBLE) * l_{i}" for i in range(b))
    return f"""
WITH toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS w
  FROM documents WHERE text IS NOT NULL
), g0 AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(w)),
                i -> w[i] || ' ' || w[i+1])) AS gram
  FROM toks WHERE len(w) >= 2
), g AS (
  SELECT doc_id, lang, {_DSIR_BUCKET_SQL} AS bucket
  FROM (
    SELECT doc_id, lang,
           string_split(gram, ' ')[1] AS w1,
           string_split(gram, ' ')[2] AS w2
    FROM g0
  ) WHERE w1 <> '' AND w2 <> ''
), stats AS (
  SELECT {ct},
         {cs},
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt,
         COUNT(*) AS ns
  FROM g
), lrow AS (
  SELECT {l}
  FROM stats
), perdoc AS (
  SELECT doc_id,
         {m},
         COUNT(*) AS n_features
  FROM g GROUP BY doc_id
), alld AS (
  SELECT d.doc_id,
         {mc},
         CAST(COALESCE(n_features, 0) AS BIGINT) AS n_features
  FROM documents d LEFT JOIN perdoc USING (doc_id)
  WHERE d.text IS NOT NULL
)
SELECT doc_id, n_features,
       {score} AS log_weight,
       ({score}) > 0.0 AS selected
FROM alld CROSS JOIN lrow
"""


@register(
    "doc_dsir_importance",
    oracle=_dsir_oracle(),
    doc="DSIR-style importance resampling weights (Xie et al. 2023, Data "
        "Selection via Importance Resampling -- public method): hashed "
        "word-bigram features (32 buckets, integer length/ascii hash "
        "expressed identically in both engines), add-1-smoothed bucket "
        "distributions for the TARGET (lang='en') vs the RAW pool, and a "
        "per-document log importance weight "
        "sum_f m_f * ln(p_target(f)/p_raw(f)) with selected = weight > 0. "
        "Determinism: every count is an exact BIGINT; the <=32-row bucket "
        "stats cross to the driver through the hard-guarded collect_small "
        "(constant-bounded model, the codebook precedent) where each "
        "log-ratio is ONE CPython-libm ln of a double expression mirrored "
        "step for step against the oracle (exact integers < 2^53, two "
        "products, one division -- and DuckDB's ln IS libm, so the folded "
        "literal coefficients are bit-identical).  PLATFORM ASSUMPTION "
        "(r16 ADVICE): that last step couples the hash gate to CPython "
        "math.log and DuckDB ln resolving to the SAME libm -- true on "
        "this glibc host (pinned by tests/test_curation_truth.py), "
        "fragile on musl/macOS or a DuckDB built against a different "
        "libm, where a last-ulp ln divergence would redline the gate "
        "despite numerically correct results.  On such a host, expect a "
        "hash mismatch with rows/schema green and per-value deltas at "
        "the 1-ulp level; the row-count + schema checks remain the "
        "meaningful signal there.  The per-document score "
        "is a FIXED-ORDER 32-term chain m_0*l_0 + ... + m_31*l_31 "
        "(left-associative in both engines), so the hash gate holds.  "
        "Scale: one narrow groupBy('bucket') model pass and one per-doc "
        "histogram groupBy, both map-side combined over the bigram "
        "explode; the importance model is O(B) state folded into the "
        "plan as literals regardless of corpus size, which is the point "
        "of DSIR's hashed features at 100 TB.",
)
def doc_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    # The importance MODEL is constant-bounded (32 buckets), so train it
    # long-shape and fold it into the plan as LITERALS: one narrow
    # groupBy("bucket") pass (map-side combined) over the bigram explode,
    # a hard-guarded collect_small of the <=32-row stats, driver-side
    # CPython libm ln (the same libm DuckDB's ln is -- the doc_bm25_topk
    # divergence is JVM Math.log, which never touches this path), and
    # literal l_i coefficients in the fixed-order score chain.  MEASURED
    # (r16): the wide-aggregate + crossJoin + Arrow-eval shape cost
    # 2.8-3.8 s at sf0.1; the literal fold 2.35 s.  Each ln argument
    # mirrors the oracle's double expression step for step (exact
    # BIGINTs < 2^53 cast to binary64, two products, one division), so
    # the folded literals are bit-identical to what DuckDB computes.
    lvals = _dsir_lvals(_dsir_bucket_frame(d))

    # Scoring via the ROW-WISE form (r18, guide sections 2.4 "remove
    # shuffles outright" and 1.2): the old batch shape exploded the
    # corpus a second time, shuffled the exploded frame on doc_id for a
    # 33-column histogram aggregate, and LEFT-JOINED it back onto the
    # document table -- but with frozen literal coefficients the per-doc
    # m_i are computable as narrow array expressions (filter/size over
    # the zipped bigram array), which is exactly what the streaming twin
    # does.  dsir_score_rowwise is the SAME fixed-order score chain over
    # the SAME exact integer counts, already pinned row-for-row equal to
    # the old batch route by tests/test_streaming.py's stream==batch
    # gate; A/B at sf0.1: 2.17 -> 1.42 s, and at any scale the doc_id
    # shuffle + join disappear (the scoring pass becomes a pure narrow
    # map -- two corpus scans total, no exchange).  The r17 staging-mode
    # materialize of the shared explode is gone WITH the sharing: the
    # explode now has exactly one consumer (the model pass), so there is
    # nothing to stage in cluster mode either.
    return dsir_score_rowwise(d, lvals)
