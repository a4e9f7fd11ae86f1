"""North-star queries: dedup, text analysis, similarity search (LLM-data ops).

Not present in the reference (pure ETL; SURVEY.md section 2 "north-star
extensions"); required by the project brief as first-class operators over the
``documents`` and ``embeddings`` fixtures.  Every query is oracle-checked:
the DuckDB SQL is *generated from the same constants* (stopword list, lang
markers, token regex, hash seeds) as the Spark builders, so the two sides
cannot drift.

Determinism choices that make exact parity possible:
- hashing is md5 (hex string), present verbatim in both engines;
- MinHash = lexicographic MIN over salted md5 hex strings (identical string
  ordering both sides);
- every ratio is one double division of exact integers;
- cosine is the sequential left-fold of ``functions/vectors.py`` mirrored by
  DuckDB ``list_reduce`` (bitwise-identical, verified empirically);
- every top-k has a unique-key tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..functions import vectors as V
from ..operators import multimodal as MM
from ..materialize import (
    materialize,
    materialize_many,
    rebroadcast_small,
    session_memo,
)
from ..operators import similarity as SIM
from ..sources import tables
from .registry import register


# --------------------------------------------------------------------------
# Shared SQL fragments (generated from the same constants as the Spark side)
# --------------------------------------------------------------------------

_TOKS = "string_split(text, ' ')"
_STOP_LIST = "[" + ",".join(f"'{w}'" for w in TX.STOPWORDS) + "]"
_N_STOP = f"len(list_filter({_TOKS}, t -> list_contains({_STOP_LIST}, t)))"
_N_PUNCT = r"length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))"
_FINGERPRINT = r"md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))"

#: 3-word shingles, deduplicated — mirrors text.word_shingles(col, 3) with
#: its <3-token fallback (the whole text as one shingle).
_SHINGLES = f"""CASE WHEN len({_TOKS}) >= 3 THEN
  list_distinct(list_transform(range(len({_TOKS}) - 2),
    i -> {_TOKS}[i+1] || ' ' || {_TOKS}[i+2] || ' ' || {_TOKS}[i+3]))
ELSE [text] END"""

#: Exact Jaccard over two shingle-set columns aliased x/y (int/int double
#: division -- bit-identical across engines).
_JACCARD_SQL = (
    "CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)"
    " / (CAST(len(x.sh) + len(y.sh) AS DOUBLE)"
    " - CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE))"
)


def _lang_count_sql(markers: tuple[str, ...]) -> str:
    lst = "[" + ",".join(f"'{m}'" for m in markers) + "]"
    return f"len(list_filter(string_split(lower(text), ' '), t -> list_contains({lst}, t)))"


def _lang_pred_sql() -> str:
    langs = sorted(TX.LANG_MARKERS)
    cols = ", ".join(f"s_{l}" for l in langs)
    whens = "\n       ".join(f"WHEN s_{l} = greatest({cols}) THEN '{l}'" for l in langs)
    return f"CASE WHEN greatest({cols}) = 0 THEN 'und'\n       {whens}\n  END"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load(spark, sf_dir, "embeddings")


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------

@register(
    "doc_text_stats",
    oracle=f"""
SELECT doc_id,
       CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '{TX.TOKEN_REGEX}')) AS BIGINT) AS n_bpe_tokens,
       CAST(len(list_distinct({_TOKS})) AS BIGINT) AS n_distinct_tokens,
       CAST({_N_STOP} AS BIGINT) AS n_stopwords,
       CAST({_N_PUNCT} AS BIGINT) AS n_punct,
       CAST((CASE WHEN len({_TOKS}) BETWEEN 10 AND 1000 THEN 40 ELSE 0 END
           + CASE WHEN {_N_STOP} * 100 >= len({_TOKS}) * 5 THEN 30 ELSE 0 END
           + CASE WHEN {_N_PUNCT} * 100 <= length(text) * 10 THEN 30 ELSE 0 END)
         AS DOUBLE) / 100.0 AS quality
FROM documents
""",
    doc="north-star text analysis: whitespace + BPE-ish token counts, "
        "distinct tokens, stopword/punct counts, composite quality score -- "
        "all pure Column expressions (functions/text.py), zero Python UDFs",
    # r14 rotation: promoted for stale re-verification (tools/r14_rotation_plan.md).
    # r15 interim edit: sits out so the new mm_jpeg_ac_stats takes a
    # first-round driver slot at a constant 50-entry surface (the r14
    # precedent: ev_anomaly_mad sat out for doc_char_kl_gibberish).
    # Freshest multi-round veteran (6 greens, re-checked r14); the
    # documents family keeps 10+ driver anchors.
    driver=False,
    sibling="doc_zipf_fit",
)
def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    t = F.col("text")
    return d.select(
        "doc_id",
        TX.token_count(t).alias("n_tokens"),
        TX.bpe_ish_token_count(t).alias("n_bpe_tokens"),
        TX.distinct_token_count(t).alias("n_distinct_tokens"),
        TX.stopword_count(t).alias("n_stopwords"),
        TX.punct_count(t).alias("n_punct"),
        TX.quality_score(t).alias("quality"),
    )


@register(
    "doc_lang_confusion",
    oracle=f"""
WITH scored AS (
  SELECT lang,
         {", ".join(f"{_lang_count_sql(TX.LANG_MARKERS[l])} AS s_{l}" for l in sorted(TX.LANG_MARKERS))}
  FROM documents
)
SELECT lang, {_lang_pred_sql()} AS lang_pred, COUNT(*) AS n
FROM scored
GROUP BY lang, lang_pred
""",
    doc="north-star language-ID: marker-lexicon argmax (deterministic "
        "tiebreak) cross-tabulated against the declared lang column",
    # r15 rotation: promoted for stale re-verification (tools/r15_rotation_plan.md).
    # r16 driver-slot rotation (tools/r16_rotation_plan.md): freshness
    # cycle -- multi-round veteran sits out for a stale re-verification.
    driver=False,
    sibling="doc_char_kl_gibberish",
)
def doc_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return (
        d.select("lang", TX.lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "doc_simhash",
    oracle=f"""
WITH h AS (
  SELECT doc_id, {TX.token_hashes16_sql()} AS hs
  FROM documents
)
SELECT doc_id, {TX.simhash16_sql()} AS simhash16
FROM h
""",
    doc="north-star SimHash (16-bit) document sketch: per-bit majority vote "
        "over 16-bit md5 token hashes; per-row fold, no shuffle, and the "
        "integer bit-sums are order-insensitive so parity is exact",
    # construction end-to-end at 32 bits (hash-exact oracle); the bare
    # 16-bit sketch column stays oracle-checked locally.
    # r14 rotation: promoted for stale re-verification (tools/r14_rotation_plan.md).
    # r15 driver-slot rotation (tools/r15_rotation_plan.md): freshness
    # cycle -- multi-round veteran sits out for a stale re-verification.
    driver=False,
    # r16 sibling re-point: prior anchor demoted this rotation.
    # r17 sibling re-point: prior anchor demoted this rotation.
    sibling="doc_minhash_estimate_certificate",
)
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    # fast packed-counter path; the oracle's naive per-bit form pins equality
    return TX.with_simhash(d.select("doc_id", "text"), "text", "simhash16", 16).select(
        "doc_id", "simhash16"
    )


def _simhash_band_union_sql() -> str:
    offsets = SIM.simhash_band_offsets()
    return "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band_id, "
        f"(sketch // {1 << off}) % {1 << w} AS band_val FROM sk"
        for b, (off, w) in enumerate(zip(offsets, SIM.SIMHASH_BAND_WIDTHS))
    )


@register(
    "doc_near_dup_simhash",
    oracle=f"""
WITH docs AS (
  SELECT doc_id, {_SHINGLES} AS sh FROM documents
),
h AS (
  SELECT doc_id, {TX.token_hashes_sql(bits=SIM.SIMHASH_NEARDUP_BITS)} AS hs FROM documents
),
sk AS (
  SELECT doc_id, {TX.simhash_sql(bits=SIM.SIMHASH_NEARDUP_BITS)} AS sketch FROM h
),
banded AS (
  {_simhash_band_union_sql()}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN banded b ON a.band_id = b.band_id AND a.band_val = b.band_val
              AND a.doc_id < b.doc_id
)
SELECT * FROM (
  SELECT c.id_a AS doc_a, c.id_b AS doc_b,
         CAST(bit_count(xor(sa.sketch, sb.sketch)) AS BIGINT) AS hamming,
         {_JACCARD_SQL} AS jaccard
  FROM cand c
  JOIN sk sa ON sa.doc_id = c.id_a
  JOIN sk sb ON sb.doc_id = c.id_b
  JOIN docs x ON x.doc_id = c.id_a
  JOIN docs y ON y.doc_id = c.id_b
)
WHERE hamming <= {SIM.SIMHASH_RADIUS} AND jaccard >= 0.5
""",
    doc="north-star near-dup via the bit-sketch family, end-to-end: 32-bit "
        "SimHash -> 5-band equi-join (7+7+6+6+6 bits; by pigeonhole a "
        "LOSSLESS prefilter for hamming <= 4: 4 flipped bits cannot touch "
        "all 5 bands) -> hamming <= 4 on the full sketch -> exact-Jaccard "
        ">= 0.5 verify, so false positives never ship and the only "
        "approximation is the sketch itself.  The sketch is 32-bit (not "
        "doc_simhash's 16) because width controls candidate volume: at 16 "
        "bits ~12% of ALL fixture pairs sit within hamming 3 and verify "
        "approaches all-pairs; at 32 bits the hamming<=4 fraction is <2% "
        "(measured).  Complements doc_near_dup_minhash_lsh (set sketch vs "
        "bit sketch); recall pinned in tests/test_similarity.py.  Scale: "
        "never-all-pairs -- band equi-join candidates, verify touches "
        "candidates only",
    # r16 rotation: promoted for stale re-verification (tools/r16_rotation_plan.md).
    # r17 driver-slot rotation (tools/r17_rotation_plan.md): freshness
    # cycle -- multi-round veteran sits out for a stale re-verification.
    driver=False,
    sibling="doc_minhash_estimate_certificate",
)
def doc_near_dup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    # Narrow sketch projection only -- shingles are NOT carried into the
    # band join (wide arrays through a self-join were measured slower; the
    # sketch is one long, free to carry).  The hamming cut runs INSIDE the
    # band join (radius=), so only true hamming survivors -- not the
    # millions of band candidates a low-entropy corpus produces -- pay the
    # distinct shuffle, and the old candidate->sketch lookup joins (two
    # full re-evaluations of the sketch fold) disappear entirely.
    # Materialized (r18, the r17 checkpoint-pays rule): the sketch frame
    # feeds BOTH sides of the band self-join and Spark shares no common
    # subplans, so the simhash fold -- per-token md5 + the packed
    # bit-counter fold, the query's heaviest per-row work -- ran TWICE
    # per run.  The checkpoint is (doc_id, long), two narrow columns;
    # measured 1.92 -> 1.45 s at sf0.1, and at scale one corpus fold
    # pass replaces two.
    sketches = materialize(TX.with_simhash(
        d.select("doc_id", "text"), "text", "sketch", SIM.SIMHASH_NEARDUP_BITS
    ).select("doc_id", "sketch"))
    survivors = SIM.simhash_band_pairs(sketches, radius=SIM.SIMHASH_RADIUS)
    # Survivor rows are narrow (two ids + a long) so AQE's byte-based
    # coalescing collapses the post-distinct stage to ~1 partition -- and
    # the CPU-heavy Jaccard verify below would run single-threaded
    # (measured: 6.2s vs 1.8s at sf0.1/32 cores).  Repartitioning the
    # survivor set is a ~8MB shuffle that restores full parallelism for
    # the verify; at production scale survivors are big enough that the
    # exchange is noise.
    survivors = survivors.repartition(spark.sparkContext.defaultParallelism)
    # The expensive exact-Jaccard verify (array intersect over ~60-shingle
    # sets) touches hamming survivors only.  The shingle projection is the
    # session-memoized _docs_shingled table (r17, guide section 1.2 "don't
    # compute things twice"): the identical array_distinct(word_shingles)
    # expression was previously folded inline TWICE per run here; now both
    # verify lookups scan the one shared materialized table (each join
    # still streams survivors against it -- Catalyst broadcasts the 5k-row
    # shingle side here; at corpus scale it would shuffle-join, no
    # hardcoded hint).
    sh = _docs_shingled(spark, sf_dir)
    sh_a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        survivors.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            "hamming",
            SIM.jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


@register(
    "doc_rolling_hash",
    oracle=f"""
SELECT doc_id,
       CAST({TX.rolling_hash_sql()} AS BIGINT) AS rolling_hash31
FROM documents
""",
    doc="north-star rolling-hash document fingerprint (Rabin-Karp fold over "
        "the token stream, order-sensitive — complements the md5 "
        "fingerprint); per-row fold, no shuffle, exact int64 parity",
    # r15 rotation: promoted for stale re-verification (tools/r15_rotation_plan.md).
    # r16 driver-slot rotation (tools/r16_rotation_plan.md): freshness
    # cycle -- multi-round veteran sits out for a stale re-verification.
    driver=False,
    # r17 sibling re-point: prior anchor demoted this rotation.
    sibling="doc_minhash_estimate_certificate",
)
def doc_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select("doc_id", TX.rolling_hash(F.col("text")).alias("rolling_hash31"))


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------

@register(
    "doc_exact_dedup",
    oracle=f"""
WITH snapshots AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id, text FROM documents
)
SELECT {_FINGERPRINT} AS fingerprint,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM snapshots
GROUP BY fingerprint
""",
    doc="north-star exact dedup: md5 fingerprint of normalized text over a "
        "double-ingested corpus (the union simulates re-crawling the same "
        "snapshot); converges to one representative (min doc_id) per "
        "fingerprint with n_copies=2. Scale: one shuffle on the digest",
    # r15 rotation: promoted for stale re-verification (tools/r15_rotation_plan.md).
    # r16 driver-slot rotation (tools/r16_rotation_plan.md): freshness
    # cycle -- multi-round veteran sits out for a stale re-verification.
    driver=False,
    # r17 sibling re-point: prior anchor demoted this rotation.
    sibling="doc_curation_funnel",
)
def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "text")
    snapshots = d.unionByName(d)
    return (
        snapshots.select("doc_id", TX.fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _minhash_sig_sql() -> str:
    return ",\n         ".join(
        f"list_aggregate(list_transform(sh, s -> md5('{i}|' || s)), 'min') AS h{i}"
        for i in range(SIM.NUM_HASHES)
    )


def _band_union_sql() -> str:
    r = SIM.NUM_HASHES // SIM.BANDS
    selects = []
    for b in range(SIM.BANDS):
        parts = " || '#' || ".join(f"h{b * r + j}" for j in range(r))
        selects.append(f"SELECT doc_id, {b} AS band_id, {parts} AS band_val FROM sigs")
    return "\n  UNION ALL\n  ".join(selects)


@register(
    "doc_near_dup_minhash_lsh",
    oracle=f"""
WITH docs AS (
  SELECT doc_id, {_SHINGLES} AS sh FROM documents
),
sigs AS (
  SELECT doc_id, sh,
         {_minhash_sig_sql()}
  FROM docs
),
banded AS (
  {_band_union_sql()}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN banded b ON a.band_id = b.band_id AND a.band_val = b.band_val
              AND a.doc_id < b.doc_id
)
SELECT * FROM (
  SELECT c.id_a AS doc_a, c.id_b AS doc_b, {_JACCARD_SQL} AS jaccard
  FROM cand c
  JOIN docs x ON x.doc_id = c.id_a
  JOIN docs y ON y.doc_id = c.id_b
)
WHERE jaccard >= 0.5
""",
    doc="north-star near-dup: MinHash(8 hashes) -> LSH(4 bands of 2) "
        "candidate pairs -> exact Jaccard >= 0.5 verify over distinct "
        "3-word shingles.  Never all-pairs: candidates come from the "
        "(band_id, band_value) equi-join; exact Jaccard touches candidates "
        "only.  Recall vs brute force pinned in tests/test_similarity.py",
    # r15 rotation: promoted for stale re-verification (tools/r15_rotation_plan.md).
    # r16 driver-slot rotation (tools/r16_rotation_plan.md): freshness
    # cycle -- multi-round veteran sits out for a stale re-verification.
    driver=False,
    # r17 sibling re-point: prior anchor demoted this rotation.
    sibling="doc_minhash_estimate_certificate",
)
def doc_near_dup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    docs = d.select(
        "doc_id", F.array_distinct(TX.word_shingles(F.col("text"), 3)).alias("sh")
    )
    # Banded frame materialized (r18, the r17 checkpoint-pays rule): it
    # feeds BOTH sides of the band self-join, so the MinHash signature
    # fold -- 8 md5 digests per shingle, the heaviest per-row work here
    # -- ran twice per run.  The checkpoint is (doc_id, band_id,
    # band_val), three narrow columns; measured 1.13 -> 0.94 s at sf0.1,
    # and at scale one signature fold pass replaces two.
    sigs = docs.withColumn("sig", SIM.minhash_signature("sh"))
    banded = materialize(SIM.lsh_bands(sigs))
    cand = SIM.banded_pairs(banded, banded)
    x = docs.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    y = docs.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(x, "id_a")
        .join(y, "id_b")
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            SIM.jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


#: Shared non-recursive CTE chain: prefix-filter candidate generation
#: (rarest-first token ordering, prefix length |s| - ceil(t|s|) + 1, length
#: filter) then exact-Jaccard >= 0.5 verify.  Mirrors
#: operators/similarity.prefix_filter_pairs exactly: same ordering key
#: (df, token), same integer-exact prefix length, same threshold.
_PREFIX_FILTER_CTES = f"""docs AS (
  SELECT doc_id, {_SHINGLES} AS sh FROM documents
),
tok AS (
  SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM docs
),
freq AS (
  SELECT s, COUNT(*) AS df FROM tok GROUP BY s
),
ranked AS (
  SELECT t.doc_id, t.sz, t.s,
         row_number() OVER (PARTITION BY t.doc_id ORDER BY f.df, t.s) AS rn
  FROM tok t JOIN freq f USING (s)
),
pfx AS (
  SELECT doc_id, sz, s FROM ranked
  WHERE rn <= sz - CAST(ceil(0.5 * sz) AS BIGINT) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pfx a JOIN pfx b
    ON a.s = b.s AND a.doc_id < b.doc_id
   AND least(a.sz, b.sz) >= greatest(a.sz, b.sz) * 0.5
),
pairs AS (
  SELECT * FROM (
    SELECT c.id_a, c.id_b, {_JACCARD_SQL} AS jaccard
    FROM cand c
    JOIN docs x ON x.doc_id = c.id_a
    JOIN docs y ON y.doc_id = c.id_b
  ) WHERE jaccard >= 0.5
)"""


def _jaccard_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b, jaccard) pairs with exact Jaccard >= 0.5, candidates
    from the lossless prefix filter -- the verified near-dup pair relation
    EIGHT registered queries start from (near-dup listing, CC labels,
    triangles, k-core, clustering coefficient, PageRank, BFS, LPA).
    Session-memoized for that reason (r11): one PPJoin + verify per sweep,
    not eight; at cluster scale this is the staged pair table every
    graph/dedup report reads.

    The candidate set is repartitioned before the verify for the same
    reason as doc_near_dup_simhash: narrow (id, id) rows get AQE-coalesced
    to ~1 partition and the array-intersect verify would run
    single-threaded."""

    def build() -> DataFrame:
        return _jaccard_verified_pairs_lazy(spark, sf_dir)

    return session_memo(spark, f"jaccard_pairs:{sf_dir}", build)


def _jaccard_verified_pairs_lazy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_shingled(spark, sf_dir)
    cand = SIM.prefix_filter_pairs(docs, threshold=0.5).repartition(
        spark.sparkContext.defaultParallelism
    )
    x = docs.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    y = docs.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cand.join(x, "id_a")
        .join(y, "id_b")
        .select("id_a", "id_b", SIM.jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


def _docs_shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh) with the scan repartitioned first: the fixture table is
    ONE parquet file, so without the explicit exchange the whole shingle
    projection -- the expensive part -- runs on a single core.  At real
    scale the scan has file-level parallelism and the repartition is a
    cheap narrow-row shuffle that still guarantees it.

    Materialized ONCE PER SESSION via ``session_memo``: downstream the
    frame feeds the prefix self-join (2 subtrees) plus the two verify
    lookups, and Spark shares no common subplans, so without
    materialization the shingle fold runs 4x and the documents scan 6x
    (measured: 3.27s -> 2.62s at sf0.1); and because EIGHT registered
    queries start from this stage, the session memo keeps a full sweep
    at one shingle fold instead of eight.  See ``materialize.py`` for
    the cluster-scale (staging table) equivalence."""

    def build() -> DataFrame:
        d = _docs(spark, sf_dir).repartition(
            spark.sparkContext.defaultParallelism
        )
        return d.select(
            "doc_id",
            F.array_distinct(TX.word_shingles(F.col("text"), 3)).alias("sh"),
        )

    return session_memo(spark, f"docs_shingled:{sf_dir}", build)


@register(
    "doc_near_dup_jaccard",
    oracle=f"""
WITH {_PREFIX_FILTER_CTES}
SELECT id_a AS doc_a, id_b AS doc_b, jaccard FROM pairs
""",
    doc="north-star near-dup: EXACT n-gram Jaccard via a prefix-filtered "
        "set-similarity join (AllPairs/PPJoin family).  Tokens ordered by "
        "ascending global frequency; each set keeps only its first "
        "|s| - ceil(0.5|s|) + 1 tokens; any pair with Jaccard >= 0.5 must "
        "share a prefix token (pigeonhole), so unlike the MinHash/SimHash "
        "paths recall is GUARANTEED 100% -- the deterministic completion "
        "of the near-dup family (sketch paths trade recall for cost; this "
        "trades a frequency-dimension shuffle for exactness).  Scale: "
        "candidates from a token equi-join, never all-pairs, and the join "
        "is skew-proof by construction -- the hottest tokens are exactly "
        "the ones rarest-first ordering excludes from every prefix.  "
        "Equality with brute-force all-pairs pinned in "
        "tests/test_similarity.py",
    # r15 rotation: promoted for stale re-verification (tools/r15_rotation_plan.md).
    # r16 driver-slot rotation (tools/r16_rotation_plan.md): freshness
    # cycle -- multi-round veteran sits out for a stale re-verification.
    driver=False,
    # r17 sibling re-point: prior anchor demoted this rotation.
    sibling="doc_minhash_estimate_certificate",
)
def doc_near_dup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jaccard_verified_pairs(spark, sf_dir).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "jaccard"
    )


def _dedup_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shingle -> PPJoin -> connected-components label stage (v, lbl)
    shared by ``doc_dedup_clusters`` and ``doc_dedup_keep_best``.  Memoized
    per session: the CC loop is the most expensive lineage in the repo
    (~5 s at sf0.1), and before the memo a full sweep executed it twice --
    once per consumer (r10 VERDICT 'What's wrong' #2)."""

    def build() -> DataFrame:
        pairs = _jaccard_verified_pairs(spark, sf_dir).select("id_a", "id_b")
        nodes = _docs(spark, sf_dir).select(F.col("doc_id").alias("v"))
        edges = pairs.select(
            F.col("id_a").alias("a"), F.col("id_b").alias("b")
        )
        return SIM.connected_components(nodes, edges)

    return session_memo(spark, f"dedup_cc_labels:{sf_dir}", build)



@register(
    "doc_dedup_clusters",
    oracle=f"""
WITH RECURSIVE {_PREFIX_FILTER_CTES},
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT doc_id AS v, doc_id AS u FROM documents
  UNION
  SELECT r.v, e.b AS u FROM reach r JOIN edges e ON e.a = r.u
),
lbl AS (
  SELECT v AS doc_id, MIN(u) AS cluster_id FROM reach GROUP BY v
)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       CAST(doc_id = cluster_id AS INTEGER) AS is_canonical
FROM lbl
""",
    doc="north-star dedup clustering: connected components over the "
        "verified near-dup pair graph (exact-Jaccard >= 0.5 edges from the "
        "prefix-filter join), every document labeled with the minimum "
        "doc_id reachable from it -- the canonical representative a "
        "training pipeline keeps.  Spark side is ITERATIVE min-label "
        "propagation (join + min-agg per round, persist-materialized, "
        "exact changed-count convergence in O(diameter) rounds); the "
        "DuckDB oracle replays it as a recursive transitive closure -- a "
        "hash-matched driver row for a genuinely iterative algorithm.  "
        "Scale: each round is one equi-join + one shuffle on vertex id; "
        "dup clusters are near-cliques so rounds stay ~2-3",
    # r14 driver-slot rotation (tools/r14_rotation_plan.md): freshness
    # cycle -- multi-round veteran sits out for a stale re-verification.
    driver=False,
    # r17 sibling re-point: prior anchor demoted this rotation.
    sibling="doc_curation_funnel",
)
def doc_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _dedup_labels(spark, sf_dir)
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "lbl").select(
        F.col("v").alias("doc_id"),
        F.col("lbl").alias("cluster_id"),
        "cluster_size",
        (F.col("v") == F.col("lbl")).cast("int").alias("is_canonical"),
    )


@register(
    "doc_tfidf_top_terms",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT * FROM (
  SELECT t.doc_id, t.term, t.tf,
         CAST(t.tf AS DOUBLE)
           * (CAST(n.n_docs + 1 AS DOUBLE) / CAST(d.df + 1 AS DOUBLE)) AS score,
         ROW_NUMBER() OVER (
           PARTITION BY t.doc_id
           ORDER BY CAST(t.tf AS DOUBLE)
             * (CAST(n.n_docs + 1 AS DOUBLE) / CAST(d.df + 1 AS DOUBLE)) DESC,
             t.term
         ) AS rank
  FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
)
WHERE rank <= 3
""",
    doc="north-star keyword extraction: top-3 terms per document by TF-IDF. "
        "Log-free idf variant (n+1)/(df+1) so the score is one exact int "
        "division + one multiply (ln() is libm-dependent and would break "
        "cross-engine bit parity); ties broken by term.  Scale: explode "
        "shuffles on (doc, term) with map-side combine; the document "
        "frequency table is a term-level aggregate joined back -- at 100 TB "
        "the term dimension is orders of magnitude smaller than the corpus "
        "and the n_docs scalar rides along as a broadcast, never a "
        "driver-side collect",
    # r15 rotation: promoted for stale re-verification (tools/r15_rotation_plan.md).
    # r16 driver-slot rotation (tools/r16_rotation_plan.md): freshness
    # cycle -- multi-round veteran sits out for a stale re-verification.
    driver=False,
    sibling="doc_zipf_fit",
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # r17 (guide section 2.4): document frequency was a groupBy(term)
    # aggregate joined back onto tf -- the tokenize+explode+aggregate
    # lineage ran twice.  count over a term-partitioned window attaches
    # the identical integer df in one pass (term is never null: split
    # yields strings).
    dfc = F.count(F.lit(1)).over(Window.partitionBy("term"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.col("tf").cast("double") * (
        (F.col("n_docs") + 1).cast("double") / (F.col("df") + 1).cast("double")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        tf.select("doc_id", "term", "tf", dfc.alias("df"))
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", "tf", score.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


@register(
    "doc_stratified_sample",
    oracle="""
SELECT * FROM (
  SELECT doc_id, lang,
         CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
              % 100 AS BIGINT) AS hash_bucket,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rank
  FROM documents
)
WHERE rank <= 10
""",
    doc="north-star reproducible sampling: 10 documents per language, "
        "selected by md5(doc_id) order.  Training-data splits must be "
        "DETERMINISTIC (rand()/TABLESAMPLE differ run-to-run and engine-to-"
        "engine, and resampling on re-ingest poisons eval sets); a content-"
        "stable hash of the key gives the same sample on every engine, every "
        "run, every cluster size.  The stratification quota is a per-lang "
        "row_number -- one shuffle on lang; at 100 TB the same pattern "
        "hash-filters WITHOUT the window (bucket < k) when exact quotas "
        "aren't required",
    # r16 rotation: promoted for stale re-verification (tools/r16_rotation_plan.md).
    # r17 driver-slot rotation (tools/r17_rotation_plan.md): freshness
    # cycle -- multi-round veteran sits out for a stale re-verification.
    driver=False,
    sibling="doc_curation_funnel",
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    h = F.md5(F.col("doc_id").cast("string"))
    bucket = (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % 100).cast("long")
    w = Window.partitionBy("lang").orderBy(h, F.asc("doc_id"))
    return (
        d.select("doc_id", "lang", bucket.alias("hash_bucket"), F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= 10)
    )


@register(
    "doc_curation_funnel",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, text, string_split(text, ' ') AS tk FROM documents
),
scored AS (
  SELECT doc_id, lang, text,
         CAST((CASE WHEN len(tk) BETWEEN 10 AND 1000 THEN 40 ELSE 0 END
             + CASE WHEN len(list_filter(tk, t -> list_contains({_STOP_LIST}, t))) * 100
                    >= len(tk) * 5 THEN 30 ELSE 0 END
             + CASE WHEN {_N_PUNCT} * 100 <= length(text) * 10 THEN 30 ELSE 0 END)
           AS DOUBLE) / 100.0 AS quality
  FROM toks
),
quality_pass AS (SELECT * FROM scored WHERE quality >= 1.0),
exact_kept AS (
  SELECT MIN(doc_id) AS doc_id
  FROM quality_pass
  GROUP BY {_FINGERPRINT}
),
docs AS (
  SELECT d.doc_id, {_SHINGLES} AS sh
  FROM documents d JOIN exact_kept k USING (doc_id)
),
sigs AS (
  SELECT doc_id, sh,
         {_minhash_sig_sql()}
  FROM docs
),
banded AS (
  {_band_union_sql()}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN banded b ON a.band_id = b.band_id AND a.band_val = b.band_val
              AND a.doc_id < b.doc_id
),
near_dropped AS (
  SELECT DISTINCT c.id_b AS doc_id
  FROM cand c
  JOIN docs x ON x.doc_id = c.id_a
  JOIN docs y ON y.doc_id = c.id_b
  WHERE {_JACCARD_SQL} >= 0.5
),
flags AS (
  SELECT s.doc_id,
         s.quality >= 1.0 AS quality_ok,
         k.doc_id IS NOT NULL AS exact_ok,
         nd.doc_id IS NOT NULL AS dropped
  FROM scored s
  LEFT JOIN exact_kept k ON k.doc_id = s.doc_id
  LEFT JOIN near_dropped nd ON nd.doc_id = s.doc_id
),
agg AS (
  SELECT COUNT(*) AS s0,
         COUNT(*) FILTER (quality_ok) AS s1,
         COUNT(*) FILTER (exact_ok) AS s2,
         COUNT(*) FILTER (exact_ok AND NOT dropped) AS s3
  FROM flags
)
SELECT 'stage0_raw' AS stage, CAST(s0 AS BIGINT) AS n_docs FROM agg
UNION ALL SELECT 'stage1_quality', CAST(s1 AS BIGINT) FROM agg
UNION ALL SELECT 'stage2_exact_dedup', CAST(s2 AS BIGINT) FROM agg
UNION ALL SELECT 'stage3_near_dedup', CAST(s3 AS BIGINT) FROM agg
""",
    doc="north-star curation funnel, end-to-end: the operators composed the "
        "way a training-data pipeline actually chains them -- quality "
        "filter (>= 1.0: all three score components) -> exact dedup (min "
        "doc_id per md5 fingerprint) -> near-dup removal (drop the higher "
        "id of every Jaccard >= 0.5 pair among survivors, via the "
        "MinHash-LSH candidate machinery, never all-pairs) -- with the "
        "per-stage survivor counts as the output.  Exact dedup is a no-op "
        "on a single-ingest corpus by construction (the operator is "
        "load-bearing in doc_exact_dedup's double-ingest gate).  Execution "
        "shape: per-document stage FLAGS assembled by left joins, then ONE "
        "aggregate computes every stage count in a single pass and an "
        "unpivot emits the funnel rows -- not one scan per stage; the "
        "oracle mirrors the same flags form.  The near-dup subtree is "
        "shared lineage (AQE exchange reuse deduplicates the common "
        "aggregate where possible)",
    # r17 rotation: promoted for stale re-verification (tools/r17_rotation_plan.md).
)
def doc_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    scored = d.select("doc_id", "text", TX.quality_score(F.col("text")).alias("quality"))
    quality_pass = scored.filter(F.col("quality") >= 1.0)
    # Both intermediates feed multiple downstream subtrees (exact_kept: the
    # shingle join AND the flags join; shingled: signatures + both verify
    # lookups) and Spark shares no common subplans, so without
    # materialization the quality/fingerprint scan runs 2x and the shingle
    # fold 3x.  materialize (localCheckpoint), not persist, keeps AQE
    # replanning alive downstream (measured 2.34 -> 1.91s at sf0.1); see
    # its docstring for the cluster-scale staging-table equivalence.
    exact_kept = materialize(
        quality_pass.groupBy(TX.fingerprint(F.col("text")).alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # r17: the shingle column comes from the session-memoized
    # _docs_shingled table (identical array_distinct(word_shingles)
    # expression per doc_id) restricted to the exact-dedup survivors --
    # the per-run shingle fold disappears.  NOT re-materialized: the fold
    # is already checkpointed in the memo, so the three consumers
    # (signatures + both verify lookups) each re-run only a cheap join of
    # the checkpointed table against the checkpointed survivor ids --
    # a second checkpoint would re-write the wide shingle arrays per run
    # for no saved compute.
    shingled = _docs_shingled(spark, sf_dir).join(exact_kept, "doc_id").select(
        "doc_id", "sh"
    )
    sigs = shingled.withColumn("sig", SIM.minhash_signature("sh"))
    cand = SIM.lsh_candidate_pairs(sigs)
    x = shingled.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    y = shingled.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    near_dropped = (
        cand.join(x, "id_a")
        .join(y, "id_b")
        .filter(SIM.jaccard(F.col("sh_a"), F.col("sh_b")) >= 0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    flags = (
        scored.select("doc_id", (F.col("quality") >= 1.0).alias("quality_ok"))
        .join(exact_kept.withColumn("exact_ok", F.lit(True)), "doc_id", "left")
        .join(near_dropped.withColumn("dropped", F.lit(True)), "doc_id", "left")
    )
    exact_ok = F.coalesce(F.col("exact_ok"), F.lit(False))
    dropped = F.coalesce(F.col("dropped"), F.lit(False))
    agg = flags.agg(
        F.count(F.lit(1)).alias("stage0_raw"),
        F.sum(F.col("quality_ok").cast("long")).alias("stage1_quality"),
        F.sum(exact_ok.cast("long")).alias("stage2_exact_dedup"),
        F.sum((exact_ok & ~dropped).cast("long")).alias("stage3_near_dedup"),
    )
    return agg.unpivot(
        ids=[],
        values=["stage0_raw", "stage1_quality", "stage2_exact_dedup", "stage3_near_dedup"],
        variableColumnName="stage",
        valueColumnName="n_docs",
    )


# --------------------------------------------------------------------------
# Multimodal
# --------------------------------------------------------------------------

@register(
    "mm_frame_sample",
    oracle="""
WITH ks AS (SELECT unnest(range(8)) AS k)
SELECT d.doc_id,
       CAST(ks.k AS BIGINT) AS sample_idx,
       CAST(ks.k * 256 AS BIGINT) AS frame_offset,
       base64(encode(substring(d.text, ks.k * 256 + 1, 64))) AS frame_b64,
       md5(substring(d.text, ks.k * 256 + 1, 64)) AS frame_digest
FROM documents d CROSS JOIN ks
WHERE ks.k * 256 < length(d.text)
""",
    doc="north-star multimodal frame sampling, through a REAL container "
        "demux since r14: each document's bytes are muxed into a "
        "structurally-real ISO-BMFF file (full stsz/stsc/stco/stss "
        "sample tables over 64-byte samples in 4-sample chunks, sync "
        "samples every 4th) and the keyframes extracted back by WALKING "
        "those tables (operators/multimodal.py:demux_mp4_samples) -- the "
        "exact pre-codec step a video pipeline runs, replacing the "
        "earlier raw byte slicing.  Same 1->N Arrow-batched mapInPandas "
        "shape (FRAME_SAMPLE_SCHEMA), max 8 keyframes/doc, oracle "
        "unchanged because the sync-sample layout lands the same frames: "
        "the bytes project as unchunked base64 (driver-hash-safe) and "
        "the oracle slices TEXT at k*256, valid because the media "
        "content is UTF-8 of ASCII fixture text.",
    # r15 rotation: promoted for stale re-verification (tools/r15_rotation_plan.md).
    # r16 driver-slot rotation (tools/r16_rotation_plan.md): freshness
    # cycle -- multi-round veteran sits out for a stale re-verification.
    driver=False,
    sibling="mm_jpeg_ac_stats",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = MM.media_from_documents(_docs(spark, sf_dir))
    frames = MM.sample_frames_mp4(media)
    b64 = F.regexp_replace(F.base64(F.col("frame_bytes")), "[\r\n]", "")
    return frames.select(
        "doc_id", "sample_idx", "frame_offset",
        b64.alias("frame_b64"), "frame_digest",
    )


@register(
    "mm_media_features",
    oracle="""
SELECT doc_id,
       'application/x-fake-' || source AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS digest,
       CAST(octet_length(encode(text)) % 640 AS INTEGER) AS fake_width,
       CAST((octet_length(encode(text)) * 7) % 480 AS INTEGER) AS fake_height
FROM documents
""",
    doc="north-star multimodal: opaque binary media column processed by "
        "Arrow-batched mapInPandas (the engine's one deliberate Python "
        "path); the real codec decode is stubbed (operators/multimodal.py), "
        "but the batch plumbing is oracle-checked via header-level features",
    # r15 rotation: promoted for stale re-verification (tools/r15_rotation_plan.md).
    # r16 driver-slot rotation (tools/r16_rotation_plan.md): freshness
    # cycle -- multi-round veteran sits out for a stale re-verification.
    driver=False,
    # r17 sibling re-point: prior anchor sits out this rotation.
    sibling="mm_jpeg_color12_stats",
)
def mm_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = MM.media_from_documents(_docs(spark, sf_dir))
    return MM.extract_media_features(media)


@register(
    "mm_media_headers",
    oracle="""
SELECT doc_id,
       CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                       WHEN 2 THEN 'gif' WHEN 3 THEN 'wav'
                       ELSE 'mp4' END AS fmt,
       CASE WHEN doc_id % 5 < 3
            THEN CAST(doc_id % 640 + 1 AS INTEGER) END AS width,
       CASE WHEN doc_id % 5 < 3
            THEN CAST(doc_id * 7 % 480 + 1 AS INTEGER) END AS height,
       CASE WHEN doc_id % 5 = 3
            THEN CAST(doc_id % 2 + 1 AS INTEGER) END AS channels,
       CASE WHEN doc_id % 5 = 3
            THEN CAST(8000 * (doc_id % 3 + 1) AS INTEGER) END AS sample_rate,
       CASE WHEN doc_id % 5 = 3
            THEN CAST((1000 * octet_length(encode(text)))
                      // (8000 * (doc_id % 3 + 1) * (doc_id % 2 + 1) * 2)
                 AS BIGINT)
            WHEN doc_id % 5 = 4
            THEN CAST((1000 * ((doc_id * 37) % 100000 + 1))
                      // (600 * (doc_id % 3 + 1)) AS BIGINT)
       END AS duration_ms
FROM documents
""",
    doc="north-star multimodal header sniffing, pure Python (no PIL/"
        "ffmpeg): real PNG/JPEG/GIF/WAV/MP4 containers are synthesized "
        "around each document's bytes and parsed back by "
        "operators/multimodal.parse_media_header in one Arrow batch pass "
        "(MP4 = a real ISO-BMFF box walk: ftyp sniff, moov -> mvhd, "
        "version 0/1 timescale+duration).  The oracle re-derives the "
        "encoded dimensions/duration ARITHMETICALLY (never parsing "
        "bytes), so the hash gate proves parse(synth(x)) == x per row; "
        "malformed-input behavior (return None, never raise) is pinned "
        "in tests/test_multimodal.py",
    # r14 driver-slot rotation (tools/r14_rotation_plan.md): freshness
    # cycle -- multi-round veteran sits out for a stale re-verification.
    driver=False,
    # r15 sibling re-point: prior anchor demoted this rotation.
    # r16 sibling re-point: prior anchor demoted this rotation.
    # r17 sibling re-point: prior anchor sits out this rotation.
    sibling="mm_jpeg_color12_stats",
)
def mm_media_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.media_headers(_docs(spark, sf_dir))


@register(
    "mm_pixel_stats",
    oracle="""
WITH img AS (
  SELECT doc_id,
         CASE WHEN doc_id % 6 = 0 THEN 'bmp'
              WHEN doc_id % 6 = 1 THEN 'ppm'
              ELSE 'png' END AS fmt,
         CAST(doc_id % 16 + 1 AS INTEGER) AS width,
         CAST((7 * doc_id) % 16 + 1 AS INTEGER) AS height
  FROM documents WHERE doc_id % 6 IN (0, 1, 3)
),
pix AS (
  SELECT i.doc_id, i.fmt, i.width, i.height,
         (i.doc_id + x.x + y.y) % 256 AS r,
         (3 * i.doc_id + 7 * x.x) % 256 AS g,
         (5 * y.y + i.doc_id) % 256 AS b
  FROM img i,
       UNNEST(range(0, CAST(i.width AS BIGINT))) AS x(x),
       UNNEST(range(0, CAST(i.height AS BIGINT))) AS y(y)
),
img_stats AS (
  SELECT doc_id, fmt, width, height,
         CAST(3 * width * height AS BIGINT) AS n_values,
         CAST(SUM(r + g + b) AS BIGINT) AS sum_values,
         CAST(MIN(LEAST(r, g, b)) AS INTEGER) AS min_value,
         CAST(MAX(GREATEST(r, g, b)) AS INTEGER) AS max_value
  FROM pix GROUP BY doc_id, fmt, width, height
),
wav AS (
  SELECT d.doc_id, 'wav_pcm' AS fmt,
         CAST(NULL AS INTEGER) AS width, CAST(NULL AS INTEGER) AS height,
         CAST(d.doc_id % 64 + 1 AS BIGINT) AS n_values,
         CAST(SUM(((7 * d.doc_id + 13 * s.i) % 65536) - 32768) AS BIGINT)
           AS sum_values,
         CAST(MIN(((7 * d.doc_id + 13 * s.i) % 65536) - 32768) AS INTEGER)
           AS min_value,
         CAST(MAX(((7 * d.doc_id + 13 * s.i) % 65536) - 32768) AS INTEGER)
           AS max_value
  FROM documents d,
       UNNEST(range(0, d.doc_id % 64 + 1)) AS s(i)
  WHERE d.doc_id % 6 = 2
  GROUP BY d.doc_id
),
gifpix AS (
  SELECT g.doc_id, g.width, g.height,
         (11 * ((x.x + y.y * g.width + g.doc_id) % 16) + g.doc_id) % 256 AS r,
         (7 * ((x.x + y.y * g.width + g.doc_id) % 16) + 3 * g.doc_id) % 256 AS g2,
         (5 * ((x.x + y.y * g.width + g.doc_id) % 16) + g.doc_id) % 256 AS b
  FROM (
    SELECT doc_id,
           CAST(doc_id % 16 + 1 AS INTEGER) AS width,
           CAST((7 * doc_id) % 16 + 1 AS INTEGER) AS height
    FROM documents WHERE doc_id % 6 = 4
  ) g,
       UNNEST(range(0, CAST(g.width AS BIGINT))) AS x(x),
       UNNEST(range(0, CAST(g.height AS BIGINT))) AS y(y)
),
gif_stats AS (
  SELECT doc_id, 'gif' AS fmt, width, height,
         CAST(3 * width * height AS BIGINT) AS n_values,
         CAST(SUM(r + g2 + b) AS BIGINT) AS sum_values,
         CAST(MIN(LEAST(r, g2, b)) AS INTEGER) AS min_value,
         CAST(MAX(GREATEST(r, g2, b)) AS INTEGER) AS max_value
  FROM gifpix GROUP BY doc_id, width, height
),
jpegblk AS (
  SELECT j.doc_id, j.width, j.height,
         (31 * j.doc_id + 7 * bx.bx + 13 * by.by) % 256 AS v
  FROM (
    SELECT doc_id,
           CAST(8 * (doc_id % 2 + 1) AS INTEGER) AS width,
           CAST(8 * ((7 * doc_id) % 2 + 1) AS INTEGER) AS height
    FROM documents WHERE doc_id % 6 = 5
  ) j,
       UNNEST(range(0, CAST(j.width / 8 AS BIGINT))) AS bx(bx),
       UNNEST(range(0, CAST(j.height / 8 AS BIGINT))) AS by(by)
),
jpeg_stats AS (
  SELECT doc_id, 'jpeg_gray' AS fmt, width, height,
         CAST(width * height AS BIGINT) AS n_values,
         CAST(SUM(64 * v) AS BIGINT) AS sum_values,
         CAST(MIN(v) AS INTEGER) AS min_value,
         CAST(MAX(v) AS INTEGER) AS max_value
  FROM jpegblk GROUP BY doc_id, width, height
)
SELECT * FROM img_stats
UNION ALL SELECT * FROM wav
UNION ALL SELECT * FROM gif_stats
UNION ALL SELECT * FROM jpeg_stats
""",
    doc="north-star multimodal REAL pixel/sample decode (r11: converts "
        "the decode_media stub into a gated operator for the formats a "
        "pure-Python decoder honestly covers; r14 adds PNG, GIF and "
        "baseline grayscale JPEG): a 24-bit BMP, binary PPM, 16-bit PCM "
        "WAV, REAL zlib-compressed PNG, REAL LZW-compressed GIF, or "
        "REAL Huffman-coded baseline JPEG is synthesized per document "
        "(fmt cycles on doc_id % 6) and decoded BACK from raw bytes -- "
        "BMP bottom-up row order + 4-byte padding, PPM header "
        "tokenization, RIFF chunk walk + signed int16 samples, PNG "
        "chunk walk + CRC verify + DEFLATE inflate + spec unfiltering, "
        "GIF extension-skip + sub-block reassembly + variable-width "
        "LZW, JPEG marker walk + DHT/DQT table parse + Huffman entropy "
        "decode + dequant + IDCT (constant-block DC-only images, where "
        "the float IDCT is EXACT in IEEE doubles; the general AC path "
        "is numpy-checked in tests) -- with exact integer stats over "
        "the decoded values.  The oracle re-derives every stat "
        "arithmetically from range() cross products, so the hash gate "
        "proves decode(synth(x)) == x per row.  The one remaining stub "
        "is color/progressive JPEG and codec video payloads.  Scale: "
        "narrow Arrow-batched mapInPandas; O(1)-width stats cross back "
        "to the JVM, never pixels",
    # r12 rotation: promoted to the driver surface (tools/r12_rotation_plan.md).
    # r15 driver-slot rotation (tools/r15_rotation_plan.md): freshness
    # cycle -- multi-round veteran sits out for a stale re-verification.
    driver=False,
    # r16 sibling re-point: prior anchor demoted this rotation.
    sibling="mm_jpeg_ac_stats",
)
def mm_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.decode_stats(_docs(spark, sf_dir), "pixel")


@register(
    "mm_jpeg_ac_stats",
    oracle="""
WITH j AS (
  SELECT doc_id,
         CAST(8 * (doc_id % 3 + 1) AS INTEGER) AS width,
         CAST(8 * ((5 * doc_id) % 3 + 1) AS INTEGER) AS height
  FROM documents
), blk AS (
  SELECT j.doc_id, j.width, j.height,
         (17 * j.doc_id + 5 * bx.bx + 11 * by.by) % 129 - 64 AS m,
         (7 * j.doc_id + 3 * bx.bx + by.by) % 27 AS n
  FROM j,
       UNNEST(range(0, CAST(j.width / 8 AS BIGINT))) AS bx(bx),
       UNNEST(range(0, CAST(j.height / 8 AS BIGINT))) AS by(by)
)
SELECT doc_id, 'jpeg_gray' AS fmt, width, height,
       CAST(width * height AS BIGINT) AS n_values,
       CAST(SUM(64 * (128 + m)) AS BIGINT) AS sum_values,
       CAST(MIN(128 + m - n) AS INTEGER) AS min_value,
       CAST(MAX(128 + m + n) AS INTEGER) AS max_value
FROM blk GROUP BY doc_id, width, height
""",
    doc="JPEG AC-path external gate (r14 VERDICT What's-wrong #1: the "
        "DC-only mm_pixel_stats arm never pushed the Huffman AC decode "
        "across the oracle).  Every document synthesizes a REAL baseline "
        "grayscale JFIF whose every 8x8 block carries F(0,0)=8m and a "
        "nonzero F(4,4)=8n behind a 38-zero run (two ZRL codes + a run-6 "
        "symbol), then decodes it back -- the (4,4) basis is exactly "
        "+-1/2 per sample, so the true reconstruction is the integer "
        "128+m+-n and round() certifies the float IDCT.  The oracle "
        "re-derives per-block stats arithmetically (block sum 64*(128+m) "
        "because the +-n halves cancel over the 32/32 sign split; "
        "min/max 128+m-+n), so the hash proves AC entropy decode + ZRL + "
        "non-DC dequant + full IDCT per row.  Scale: narrow Arrow-batched "
        "mapInPandas; O(1)-width stats cross to the JVM, never pixels.",
    # New registration (r15): takes a driver slot in its first round per
    # the freshness-era lint rule; doc_text_stats sits out to hold the
    # surface at 50.
)
def mm_jpeg_ac_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.decode_stats(_docs(spark, sf_dir), "jpeg_ac")


@register(
    "mm_jpeg_color_stats",
    oracle="""
WITH j AS (
  SELECT doc_id,
         CAST(8 * (doc_id % 3 + 1) AS INTEGER) AS width,
         CAST(8 * ((5 * doc_id) % 3 + 1) AS INTEGER) AS height
  FROM documents
), px AS (
  SELECT j.doc_id, j.width, j.height,
         CAST(floor(x.x / 8) AS BIGINT) AS bx,
         CAST(floor(y.y / 8) AS BIGINT) AS by,
         (CASE WHEN (x.x % 8) % 4 IN (0, 3) THEN 1 ELSE -1 END
          * CASE WHEN (y.y % 8) % 4 IN (0, 3) THEN 1 ELSE -1 END) AS ss
  FROM j,
       UNNEST(range(0, CAST(j.width AS BIGINT))) AS x(x),
       UNNEST(range(0, CAST(j.height AS BIGINT))) AS y(y)
), comp AS (
  SELECT doc_id, width, height,
         128 + ((17 * doc_id + 5 * bx + 11 * by) % 129 - 64)
             + ((7 * doc_id + 3 * bx + by) % 27) * ss AS yv,
         ((13 * doc_id + 7 * bx + 3 * by) % 101 - 50)
             + ((11 * doc_id + bx + 5 * by) % 23) * ss AS cb,
         ((19 * doc_id + 3 * bx + 7 * by) % 101 - 50)
             + ((5 * doc_id + 9 * bx + by) % 23) * ss AS cr
  FROM px
), rgb AS (
  SELECT doc_id, width, height,
         GREATEST(0, LEAST(255, yv + CAST(floor((91881 * cr + 32768) / 65536.0) AS BIGINT))) AS r,
         GREATEST(0, LEAST(255, yv - CAST(floor((22554 * cb + 46802 * cr + 32768) / 65536.0) AS BIGINT))) AS g,
         GREATEST(0, LEAST(255, yv + CAST(floor((116130 * cb + 32768) / 65536.0) AS BIGINT))) AS b
  FROM comp
)
SELECT doc_id, 'jpeg_rgb' AS fmt, width, height,
       CAST(3 * width * height AS BIGINT) AS n_values,
       CAST(SUM(r + g + b) AS BIGINT) AS sum_values,
       CAST(MIN(LEAST(r, g, b)) AS INTEGER) AS min_value,
       CAST(MAX(GREATEST(r, g, b)) AS INTEGER) AS max_value
FROM rgb GROUP BY doc_id, width, height
""",
    doc="Color baseline JPEG external gate (r14 VERDICT task 4): every "
        "document synthesizes a REAL 3-component 4:4:4 JFIF (interleaved "
        "MCUs, per-component Huffman AND dequant tables -- chroma tables "
        "at a different code length with coefficients stored halved "
        "against a dequant of 2s, so any wrong-table pick desyncs or "
        "halves a plane -- independent DC predictors, the (4,4) AC class "
        "in every block of every component), decodes it back, and emits "
        "exact integer stats over the flattened RGB.  The decoder's "
        "YCbCr->RGB is libjpeg's 16-bit integer fixed point, so the "
        "oracle recomputes every channel bit-for-bit: floor((c*k + "
        "32768)/65536.0) is exact because the dividend is < 2^24 and the "
        "divisor a power of two.  Scale: narrow Arrow-batched "
        "mapInPandas; O(1)-width stats cross to the JVM, never pixels.",
    # New registration (r15): takes a driver slot in its first round per
    # the freshness-era lint rule; msg_monthly_rollup sits out to hold
    # the surface at 50.
    # r17 sit-out: paired with the new mm_jpeg_color12_stats registration
    # (its 12-bit superset exercises the same color decode + fixed-point
    # conversion path); multi-round green (r15, r16).
    driver=False,
    sibling="mm_jpeg_color12_stats",
)
def mm_jpeg_color_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.decode_stats(_docs(spark, sf_dir), "jpeg_color")


@register(
    "mm_jpeg_420_stats",
    oracle="""
WITH j AS (
  SELECT doc_id,
         CAST(16 * (doc_id % 2 + 1) AS INTEGER) AS width,
         CAST(16 * ((3 * doc_id) % 2 + 1) AS INTEGER) AS height
  FROM documents
), px AS (
  SELECT j.doc_id, j.width, j.height,
         CAST(floor(x.x / 8) AS BIGINT) AS ybx,
         CAST(floor(y.y / 8) AS BIGINT) AS yby,
         CAST(floor(x.x / 16) AS BIGINT) AS cbx,
         CAST(floor(y.y / 16) AS BIGINT) AS cby,
         (CASE WHEN (x.x % 8) % 4 IN (0, 3) THEN 1 ELSE -1 END
          * CASE WHEN (y.y % 8) % 4 IN (0, 3) THEN 1 ELSE -1 END) AS ss,
         (CASE WHEN (CAST(floor(x.x / 2) AS BIGINT) % 8) % 4 IN (0, 3) THEN 1 ELSE -1 END
          * CASE WHEN (CAST(floor(y.y / 2) AS BIGINT) % 8) % 4 IN (0, 3) THEN 1 ELSE -1 END) AS cs
  FROM j,
       UNNEST(range(0, CAST(j.width AS BIGINT))) AS x(x),
       UNNEST(range(0, CAST(j.height AS BIGINT))) AS y(y)
), comp AS (
  SELECT doc_id, width, height,
         128 + ((17 * doc_id + 5 * ybx + 11 * yby) % 129 - 64)
             + ((7 * doc_id + 3 * ybx + yby) % 27) * ss AS yv,
         ((13 * doc_id + 7 * cbx + 3 * cby) % 101 - 50)
             + ((11 * doc_id + cbx + 5 * cby) % 23) * cs AS cb,
         ((19 * doc_id + 3 * cbx + 7 * cby) % 101 - 50)
             + ((5 * doc_id + 9 * cbx + cby) % 23) * cs AS cr
  FROM px
), rgb AS (
  SELECT doc_id, width, height,
         GREATEST(0, LEAST(255, yv + CAST(floor((91881 * cr + 32768) / 65536.0) AS BIGINT))) AS r,
         GREATEST(0, LEAST(255, yv - CAST(floor((22554 * cb + 46802 * cr + 32768) / 65536.0) AS BIGINT))) AS g,
         GREATEST(0, LEAST(255, yv + CAST(floor((116130 * cb + 32768) / 65536.0) AS BIGINT))) AS b
  FROM comp
)
SELECT doc_id, 'jpeg_rgb' AS fmt, width, height,
       CAST(3 * width * height AS BIGINT) AS n_values,
       CAST(SUM(r + g + b) AS BIGINT) AS sum_values,
       CAST(MIN(LEAST(r, g, b)) AS INTEGER) AS min_value,
       CAST(MAX(GREATEST(r, g, b)) AS INTEGER) AS max_value
FROM rgb GROUP BY doc_id, width, height
""",
    doc="Chroma-subsampled (4:2:0) baseline JPEG external gate (r15, "
        "extending the r14-task-4 color work): Y at 0x22 sampling -- four "
        "8x8 blocks per 16x16 MCU, dx-fastest raster order -- chroma at "
        "half resolution with one block each per MCU, decoded with "
        "replication (nearest-neighbor) upsampling, which keeps every "
        "channel integer-certifiable: the oracle reads chroma from block "
        "(x//16, y//16) at in-block position ((x//2)%8, (y//2)%8) and "
        "recomputes libjpeg's fixed-point YCbCr->RGB exactly.  Same "
        "wrong-table-loudness construction as mm_jpeg_color_stats.  The "
        "remaining JPEG stub is now progressive scans and partial MCUs.  "
        "Scale: narrow Arrow-batched mapInPandas; O(1)-width stats.",
    # New registration (r15): takes a driver slot in its first round per
    # the freshness-era lint rule; cust_interpurchase_gaps sits out to
    # hold the surface at 50.
    # r17 interim sit-out: paired with the new mm_jpeg_arith_stats
    # first-round registration; re-enters the queue at age 1.
    driver=False,
    sibling="mm_jpeg_arith_stats",
)
def mm_jpeg_420_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.decode_stats(_docs(spark, sf_dir), "jpeg_420")


@register(
    "mm_png_filtered_stats",
    oracle="""
WITH j AS (
  SELECT doc_id,
         CAST(doc_id % 13 + 4 AS INTEGER) AS width,
         CAST((3 * doc_id) % 11 + 5 AS INTEGER) AS height
  FROM documents
), px AS (
  SELECT j.doc_id, j.width, j.height,
         (j.doc_id + x.x + y.y) % 256 AS r,
         (3 * j.doc_id + 7 * x.x) % 256 AS g,
         (5 * y.y + j.doc_id) % 256 AS b
  FROM j,
       UNNEST(range(0, CAST(j.width AS BIGINT))) AS x(x),
       UNNEST(range(0, CAST(j.height AS BIGINT))) AS y(y)
)
SELECT doc_id, 'png' AS fmt, width, height,
       CAST(3 * width * height AS BIGINT) AS n_values,
       CAST(SUM(r + g + b) AS BIGINT) AS sum_values,
       CAST(MIN(LEAST(r, g, b)) AS INTEGER) AS min_value,
       CAST(MAX(GREATEST(r, g, b)) AS INTEGER) AS max_value
FROM px GROUP BY doc_id, width, height
""",
    doc="PNG scanline-filter external gate (r16): every document "
        "synthesizes a REAL PNG whose row y is encoded with filter type "
        "(y + doc_id) % 5 -- the filter math applied at encode time -- so "
        "with height >= 5 every image forces the decoder through all five "
        "reconstruction paths (None/Sub/Up/Average/Paeth, including the "
        "r16 hybrid-numpy Sub/Up).  The filters are an on-the-wire "
        "encoding of the synth_bmp closed-form pattern, so the oracle "
        "replays the stats arithmetically and the hash proves the "
        "unfilter inversion byte-for-byte.  Scale: narrow Arrow-batched "
        "mapInPandas; O(1)-width stats cross to the JVM, never pixels.",
    # New registration (r16): takes a driver slot in its first round per
    # the freshness-era lint rule; join_anti_quiet_customers sits out to
    # hold the surface at 50.
)
def mm_png_filtered_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.decode_stats(_docs(spark, sf_dir), "png_filtered")


@register(
    "mm_jpeg_restart_stats",
    oracle="""
WITH j AS (
  SELECT doc_id, doc_id % 2 AS arm,
         CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 21 + 4
              ELSE doc_id % 19 + 5 END AS INTEGER) AS width,
         CAST(CASE WHEN doc_id % 2 = 0 THEN (5 * doc_id) % 17 + 4
              ELSE (3 * doc_id) % 15 + 5 END AS INTEGER) AS height
  FROM documents
), px AS (
  SELECT j.doc_id, j.arm, j.width, j.height,
         CAST(floor(x.x / 8) AS BIGINT) AS bx,
         CAST(floor(y.y / 8) AS BIGINT) AS by,
         (CASE WHEN (x.x % 8) % 4 IN (0, 3) THEN 1 ELSE -1 END
          * CASE WHEN (y.y % 8) % 4 IN (0, 3) THEN 1 ELSE -1 END) AS ss
  FROM j,
       UNNEST(range(0, CAST(j.width AS BIGINT))) AS x(x),
       UNNEST(range(0, CAST(j.height AS BIGINT))) AS y(y)
), vals AS (
  SELECT doc_id, width, height,
         CASE WHEN arm = 0
              THEN (31 * doc_id + 7 * bx + 13 * by) % 256
              ELSE 128 + (2 * ((17 * doc_id + 5 * bx + 11 * by) % 60) - 59)
                   + (CASE WHEN (doc_id + bx + by) % 3 = 0 THEN 0
                      ELSE 2 * ((7 * doc_id + 3 * bx + by) % 13) + 1 END) * ss
         END AS v
  FROM px
)
SELECT doc_id, 'jpeg_gray' AS fmt, width, height,
       CAST(width * height AS BIGINT) AS n_values,
       CAST(SUM(v) AS BIGINT) AS sum_values,
       CAST(MIN(v) AS INTEGER) AS min_value,
       CAST(MAX(v) AS INTEGER) AS max_value
FROM vals GROUP BY doc_id, width, height
""",
    doc="JPEG restart-interval external gate (r16), two arms: even "
        "documents synthesize a BASELINE grayscale JFIF with a DRI "
        "segment (doc_id % 4 + 1 MCUs per entropy segment), RSTn "
        "markers cycling 0..7 between independently byte-aligned "
        "segments, and the DC predictor reset at every boundary per "
        "T.81 E.2.4; odd documents a PROGRESSIVE script with restarts "
        "in every scan (DC first + banded AC scans, EOB runs flushed "
        "at each boundary -- the decoder raises if one crosses).  A "
        "decoder that ignores the markers, the re-alignment, the "
        "reset, or the per-segment EOB framing decodes WRONG VALUES, "
        "so the hash gate proves all of it.  Image classes are "
        "synth_jpeg_gray's constant blocks and the refinement gate's "
        "128 + m + n*s(x)*s(y), replayed arithmetically; dims cross "
        "partial-MCU crops.  Scale: narrow Arrow-batched mapInPandas; "
        "O(1)-width stats cross to the JVM.",
    # New registration (r16): takes a driver slot in its first round per
    # the freshness-era lint rule; ev_session_path_trigrams sits out to
    # hold the surface at 50.
)
def mm_jpeg_restart_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.decode_stats(_docs(spark, sf_dir), "jpeg_restart")


@register(
    "mm_jpeg12_stats",
    oracle="""
WITH j AS (
  SELECT doc_id,
         CAST(doc_id % 21 + 4 AS INTEGER) AS width,
         CAST((3 * doc_id) % 19 + 4 AS INTEGER) AS height
  FROM documents
), px AS (
  SELECT j.doc_id, j.width, j.height,
         (997 * j.doc_id + 131 * CAST(floor(x.x / 8) AS BIGINT)
          + 241 * CAST(floor(y.y / 8) AS BIGINT)) % 4096 AS v
  FROM j,
       UNNEST(range(0, CAST(j.width AS BIGINT))) AS x(x),
       UNNEST(range(0, CAST(j.height AS BIGINT))) AS y(y)
)
SELECT doc_id, 'jpeg_gray12' AS fmt, width, height,
       CAST(width * height AS BIGINT) AS n_values,
       CAST(SUM(v) AS BIGINT) AS sum_values,
       CAST(MIN(v) AS INTEGER) AS min_value,
       CAST(MAX(v) AS INTEGER) AS max_value
FROM px GROUP BY doc_id, width, height
""",
    doc="12-bit extended-sequential JPEG external gate (r16): every "
        "document synthesizes a REAL SOF1 grayscale JFIF at precision "
        "12 -- constant blocks of (997d + 131bx + 241by) % 4096, DC "
        "diff categories reaching 15 under a length-5 DHT -- and "
        "decodes it back; the hash proves the SOF1 frame parse, the "
        "2048 level shift, the 0..4095 clamp, and the wide-category DC "
        "decode.  12-bit COLOR decodes too as of r17 (gated separately "
        "by mm_jpeg_color12_stats).  Dims cross "
        "partial-MCU crops.  Scale: narrow Arrow-batched mapInPandas; "
        "O(1)-width stats cross to the JVM.",
    # New registration (r16): takes a driver slot in its first round per
    # the freshness-era lint rule; ev_scd2_state_durations sits out to
    # hold the surface at 50.
)
def mm_jpeg12_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.decode_stats(_docs(spark, sf_dir), "jpeg12")


@register(
    "mm_jpeg_color12_stats",
    oracle="""
WITH j AS (
  SELECT doc_id,
         CAST(doc_id % 17 + 4 AS INTEGER) AS width,
         CAST((7 * doc_id) % 13 + 4 AS INTEGER) AS height
  FROM documents
), px AS (
  SELECT j.doc_id, j.width, j.height,
         CAST(floor(x.x / 8) AS BIGINT) AS bx,
         CAST(floor(y.y / 8) AS BIGINT) AS by,
         (CASE WHEN (x.x % 8) % 4 IN (0, 3) THEN 1 ELSE -1 END
          * CASE WHEN (y.y % 8) % 4 IN (0, 3) THEN 1 ELSE -1 END) AS ss
  FROM j,
       UNNEST(range(0, CAST(j.width AS BIGINT))) AS x(x),
       UNNEST(range(0, CAST(j.height AS BIGINT))) AS y(y)
), comp AS (
  SELECT doc_id, width, height,
         2048 + ((331 * doc_id + 17 * bx + 29 * by) % 3001 - 1500)
              + ((7 * doc_id + 3 * bx + by) % 27) * ss AS yv,
         ((431 * doc_id + 23 * bx + 41 * by) % 2001 - 1000)
              + ((11 * doc_id + bx + 5 * by) % 23) * ss AS cb,
         ((523 * doc_id + 31 * bx + 37 * by) % 2001 - 1000)
              + ((5 * doc_id + 9 * bx + by) % 23) * ss AS cr
  FROM px
), rgb AS (
  SELECT doc_id, width, height,
         GREATEST(0, LEAST(4095, yv + CAST(floor((91881 * cr + 32768) / 65536.0) AS BIGINT))) AS r,
         GREATEST(0, LEAST(4095, yv - CAST(floor((22554 * cb + 46802 * cr + 32768) / 65536.0) AS BIGINT))) AS g,
         GREATEST(0, LEAST(4095, yv + CAST(floor((116130 * cb + 32768) / 65536.0) AS BIGINT))) AS b
  FROM comp
)
SELECT doc_id, 'jpeg_rgb12' AS fmt, width, height,
       CAST(3 * width * height AS BIGINT) AS n_values,
       CAST(SUM(r + g + b) AS BIGINT) AS sum_values,
       CAST(MIN(LEAST(r, g, b)) AS INTEGER) AS min_value,
       CAST(MAX(GREATEST(r, g, b)) AS INTEGER) AS max_value
FROM rgb GROUP BY doc_id, width, height
""",
    doc="12-bit COLOR extended-sequential JPEG external gate (r17), "
        "closing the '12-bit color' frontier item from the r16 review: "
        "every document synthesizes a REAL SOF1 precision-12 3-component "
        "4:4:4 JFIF -- per-component 12-bit Huffman tables (chroma DC at "
        "a different code length, coefficients stored halved against a "
        "dequant of 2s, so wrong-table picks desync or halve a plane), "
        "luma DC diffs reaching category 15, the (4,4) AC class in every "
        "block -- and decodes it back in strict mode.  The oracle "
        "replays every channel arithmetically: the fixed-point "
        "YCbCr->RGB constants are precision-independent ratios, with "
        "only the center (2048) and clamp (4095) moving at 12 bits "
        "(libjpeg jdcolor.c semantics); floor((c*k + 32768)/65536.0) "
        "stays exact because the dividend is < 2^28, far inside "
        "binary64.  Dims cross partial-MCU crops.  Scale: narrow "
        "Arrow-batched mapInPandas; O(1)-width stats cross to the JVM, "
        "never pixels.",
    # New registration (r17): takes a driver slot in its first round per
    # the freshness-era lint rule; mm_jpeg_color_stats (multi-round
    # green, 8-bit color twin) sits out to hold the surface at 50.
)
def mm_jpeg_color12_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.decode_stats(_docs(spark, sf_dir), "jpeg_color12")


@register(
    "mm_jpeg_arith_stats",
    oracle="""
WITH j AS (
  SELECT doc_id,
         CAST(doc_id % 21 + 4 AS INTEGER) AS width,
         CAST((5 * doc_id) % 17 + 4 AS INTEGER) AS height
  FROM documents
), px AS (
  SELECT j.doc_id, j.width, j.height,
         (17 * j.doc_id + 5 * CAST(floor(x.x / 8) AS BIGINT)
          + 11 * CAST(floor(y.y / 8) AS BIGINT)) % 129 - 64 AS m,
         (7 * j.doc_id + 3 * CAST(floor(x.x / 8) AS BIGINT)
          + CAST(floor(y.y / 8) AS BIGINT)) % 27 AS n,
         (CASE WHEN (x.x % 8) % 4 IN (0, 3) THEN 1 ELSE -1 END
          * CASE WHEN (y.y % 8) % 4 IN (0, 3) THEN 1 ELSE -1 END) AS ss
  FROM j,
       UNNEST(range(0, CAST(j.width AS BIGINT))) AS x(x),
       UNNEST(range(0, CAST(j.height AS BIGINT))) AS y(y)
)
SELECT doc_id, 'jpeg_gray' AS fmt, width, height,
       CAST(width * height AS BIGINT) AS n_values,
       CAST(SUM(128 + m + n * ss) AS BIGINT) AS sum_values,
       CAST(MIN(128 + m + n * ss) AS INTEGER) AS min_value,
       CAST(MAX(128 + m + n * ss) AS INTEGER) AS max_value
FROM px GROUP BY doc_id, width, height
""",
    doc="Arithmetic-coded JPEG external gate (r17), closing the "
        "'arithmetic-coded' frontier item from the r16 review: every "
        "document synthesizes a REAL SOF9 grayscale JFIF -- the T.81 "
        "Annex D QM-coder (16-bit interval register, CT=11 byte "
        "emission, carry resolution, CLEARBITS flush, 0xFF stuffing) "
        "driving the Annex F DC/AC statistical models (conditioning "
        "categories from a DAC segment, EOB/zero-run/sign/magnitude "
        "decision trees, adaptive Table D.3 estimation) -- and decodes "
        "it back in strict mode.  Image class is synth_jpeg_gray_ac's "
        "integer-certifiable F(0,0)=8m / F(4,4)=8n, so the oracle "
        "replays 128+m+n*s(x)*s(y) per pixel; odd doc_ids add restart "
        "segmentation (independent codewords, full coder/statistics/"
        "predictor reset at each RSTn), all behind the same hash.  "
        "Cross-codec interop rests on the Table D.3 transcription "
        "(caveat recorded at the coder; no codec library exists in "
        "this container to diff against) -- everything else the gate "
        "proves end-to-end.  Dims cross partial-MCU crops.  Scale: "
        "narrow Arrow-batched mapInPandas; O(1)-width stats cross to "
        "the JVM, never pixels.",
    # New registration (r17): takes a driver slot in its first round per
    # the freshness-era lint rule; mm_jpeg_420_stats (multi-round green,
    # zero dependents) sits out to hold the surface at 50.
)
def mm_jpeg_arith_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.decode_stats(_docs(spark, sf_dir), "jpeg_arith")


@register(
    "mm_jpeg_hier_stats",
    oracle="""
WITH j AS (
  SELECT doc_id,
         CAST(doc_id % 19 + 4 AS INTEGER) AS width,
         CAST((7 * doc_id) % 15 + 4 AS INTEGER) AS height
  FROM documents
), px AS (
  SELECT j.doc_id, j.width, j.height, x.x AS x, y.y AS y,
         (j.width + 1) // 2 AS w1
  FROM j,
       UNNEST(range(0, CAST(j.width AS BIGINT))) AS x(x),
       UNNEST(range(0, CAST(j.height AS BIGINT))) AS y(y)
), ref AS (
  SELECT doc_id, width, height, x, y,
         64 + (31 * doc_id + 17 * ((x // 2) // 8) + 7 * (y // 8)) % 128 AS r0,
         64 + (31 * doc_id
               + 17 * (LEAST(x // 2 + 1, w1 - 1) // 8) + 7 * (y // 8)) % 128 AS r1
  FROM px
), fin AS (
  SELECT doc_id, width, height,
         (CASE WHEN x % 2 = 0 THEN r0 ELSE (r0 + r1 + 1) // 2 END)
         + ((23 * doc_id + 13 * (x // 8) + 3 * (y // 8)) % 65 - 32) AS v
  FROM ref
)
SELECT doc_id, 'jpeg_gray_hier' AS fmt, width, height,
       CAST(width * height AS BIGINT) AS n_values,
       CAST(SUM(v) AS BIGINT) AS sum_values,
       CAST(MIN(v) AS INTEGER) AS min_value,
       CAST(MAX(v) AS INTEGER) AS max_value
FROM fin GROUP BY doc_id, width, height
""",
    doc="Hierarchical-JPEG external gate (r17), closing the "
        "'hierarchical' frontier item from the r16 review: every "
        "document synthesizes a REAL Annex J pyramid -- DHP declaring "
        "the full dimensions, a half-width non-differential SOF1 "
        "reference of constant blocks, an EXP segment ordering "
        "horizontal expansion (even outputs copy, odd outputs are the "
        "rounded neighbour mean with edge replication, J.1.1.2), and a "
        "differential SOF5 frame adding per-block corrections with "
        "ZERO DC prediction and no level shift (F.1.5) -- then decodes "
        "it back in strict mode.  The oracle replays expand(r)+d per "
        "pixel, so the hash proves the multi-frame walk, the expansion "
        "filter, the differential entropy/IDCT path, and the "
        "accumulation exactly; dims cross partial-MCU crops at both "
        "pyramid levels.  Scale: narrow Arrow-batched mapInPandas; "
        "O(1)-width stats cross to the JVM, never pixels.",
    # New registration (r17): takes a driver slot in its first round per
    # the freshness-era lint rule; msg_type_taxonomy (multi-round green)
    # sits out to hold the surface at 50, its dependents re-pointed to
    # msg_detail_encrypted_verified (which runs the same taxonomy
    # classify inside the full detail pipeline).
)
def mm_jpeg_hier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.decode_stats(_docs(spark, sf_dir), "jpeg_hier")


@register(
    "mm_jpeg_arith_prog_stats",
    oracle="""
WITH j AS (
  SELECT doc_id,
         CAST(doc_id % 21 + 4 AS INTEGER) AS width,
         CAST((3 * doc_id) % 17 + 4 AS INTEGER) AS height
  FROM documents
), px AS (
  SELECT j.doc_id, j.width, j.height,
         (17 * j.doc_id + 5 * CAST(floor(x.x / 8) AS BIGINT)
          + 11 * CAST(floor(y.y / 8) AS BIGINT)) % 129 - 64 AS m,
         (13 * j.doc_id + CAST(floor(x.x / 8) AS BIGINT)
          + 7 * CAST(floor(y.y / 8) AS BIGINT)) % 21 AS o,
         (7 * j.doc_id + 3 * CAST(floor(x.x / 8) AS BIGINT)
          + CAST(floor(y.y / 8) AS BIGINT)) % 27 AS n,
         CASE WHEN (x.x % 8) % 4 IN (0, 3) THEN 1 ELSE -1 END AS sx,
         CASE WHEN (y.y % 8) % 4 IN (0, 3) THEN 1 ELSE -1 END AS sy
  FROM j,
       UNNEST(range(0, CAST(j.width AS BIGINT))) AS x(x),
       UNNEST(range(0, CAST(j.height AS BIGINT))) AS y(y)
), v AS (
  SELECT doc_id, width, height,
         128 + m + o * sx + n * sx * sy AS val
  FROM px
)
SELECT doc_id, 'jpeg_gray' AS fmt, width, height,
       CAST(width * height AS BIGINT) AS n_values,
       CAST(SUM(val) AS BIGINT) AS sum_values,
       CAST(MIN(val) AS INTEGER) AS min_value,
       CAST(MAX(val) AS INTEGER) AS max_value
FROM v GROUP BY doc_id, width, height
""",
    doc="Arithmetic-coded PROGRESSIVE JPEG external gate (r17), "
        "completing the JPEG coding-process matrix: every document "
        "synthesizes a REAL SOF10 grayscale JFIF -- a nine-scan "
        "spectral-selection + successive-approximation script (DC "
        "first at Al=5 with the Annex F conditioning model, DC "
        "bit-plane refinements on the fixed state, per-band AC first "
        "scans under the banded Figure F.5 model, per-band "
        "correction-bit refinements per G.2.2 including "
        "newly-significant +-(1<<Al) placements, stopping losslessly "
        "at Al=3 for the multiple-of-8 coefficient class) -- and "
        "decodes it back in strict mode.  Three exact DCT bases per "
        "block (F(0,0)=8m, F(0,4)=8o, F(4,4)=8n) give the integer "
        "closed form 128+m+o*s(x)+n*s(x)*s(y) the oracle replays; odd "
        "doc_ids add restart segmentation in EVERY scan (fresh coder/"
        "statistics/predictor per segment).  Statistics areas reset at "
        "every scan start.  Dims cross partial-MCU crops.  Scale: "
        "narrow Arrow-batched mapInPandas; O(1)-width stats cross to "
        "the JVM, never pixels.",
    # New registration (r17): takes a driver slot in its first round per
    # the freshness-era lint rule; doc_token_lift (multi-round green)
    # sits out to hold the surface at 50, its dependents re-pointed to
    # doc_zipf_fit (the token-frequency family's kept driver anchor).
)
def mm_jpeg_arith_prog_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.decode_stats(_docs(spark, sf_dir), "jpeg_arith_prog")


@register(
    "mm_jpeg_lossless_stats",
    oracle="""
WITH j AS (
  SELECT doc_id,
         CAST(doc_id % 23 + 3 AS INTEGER) AS width,
         CAST((5 * doc_id) % 19 + 3 AS INTEGER) AS height
  FROM documents
), px AS (
  SELECT j.doc_id, j.width, j.height,
         (7 * j.doc_id + 3 * x.x + 5 * y.y) % 256 AS v
  FROM j,
       UNNEST(range(0, CAST(j.width AS BIGINT))) AS x(x),
       UNNEST(range(0, CAST(j.height AS BIGINT))) AS y(y)
)
SELECT doc_id, 'jpeg_gray_lossless' AS fmt, width, height,
       CAST(width * height AS BIGINT) AS n_values,
       CAST(SUM(v) AS BIGINT) AS sum_values,
       CAST(MIN(v) AS INTEGER) AS min_value,
       CAST(MAX(v) AS INTEGER) AS max_value
FROM px GROUP BY doc_id, width, height
""",
    doc="Lossless-JPEG external gate (r17): every document synthesizes "
        "a REAL SOF3 predictive (Annex H) grayscale JPEG -- no DCT; "
        "the scan header's Ss field selects the Table H.1 predictor, "
        "rotating all seven via doc_id % 7 + 1 -- and decodes it back "
        "in strict mode.  Differences are DC-category Huffman codes "
        "accumulated in modulo-2^16 arithmetic; the first sample (of "
        "the scan and of every restart segment) predicts 2^(P-1), the "
        "rest of that line predicts from Ra, later line starts from "
        "Rb.  The per-pixel class (7d+3x+5y)%256 varies in both axes, "
        "so a wrong predictor or a missed restart prediction reset "
        "decodes wrong values immediately -- the hash proves the "
        "predictor algebra, the boundary rules, and the modular "
        "accumulation exactly.  Odd doc_ids add restart segmentation.  "
        "Scale: narrow Arrow-batched mapInPandas; O(1)-width stats "
        "cross to the JVM, never pixels.",
    # New registration (r17): takes a driver slot in its first round per
    # the freshness-era lint rule; doc_phrase_search (multi-round green)
    # sits out to hold the surface at 50, its dependents re-pointed to
    # doc_char_kl_gibberish (kept n-gram-statistics driver anchor).
)
def mm_jpeg_lossless_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.decode_stats(_docs(spark, sf_dir), "jpeg_lossless")


@register(
    "mm_wav_codec_stats",
    oracle="""
WITH j AS (
  SELECT doc_id,
         CAST(doc_id % 97 + 16 AS INTEGER) AS n,
         doc_id % 2 AS law
  FROM documents
), b AS (
  SELECT j.doc_id, j.n, j.law,
         (j.doc_id + 11 * i.i) % 256 AS byte
  FROM j, UNNEST(range(0, CAST(j.n AS BIGINT))) AS i(i)
), ulaw AS (
  SELECT doc_id, n, law, 255 - byte AS u FROM b WHERE law = 0
), uval AS (
  SELECT doc_id, n, law,
         CASE WHEN (u & 128) > 0
              THEN 132 - ((((u & 15) << 3) + 132) << ((u >> 4) & 7))
              ELSE ((((u & 15) << 3) + 132) << ((u >> 4) & 7)) - 132
         END AS v
  FROM ulaw
), alaw AS (
  SELECT doc_id, n, law, xor(byte, 85) AS a FROM b WHERE law = 1
), aseg AS (
  SELECT doc_id, n, law, a, (a >> 4) & 7 AS seg, (a & 15) << 4 AS base
  FROM alaw
), aval AS (
  SELECT doc_id, n, law,
         (CASE WHEN (a & 128) > 0 THEN 1 ELSE -1 END)
         * CASE WHEN seg = 0 THEN base + 8
                WHEN seg = 1 THEN base + 264
                ELSE (base + 264) << (seg - 1) END AS v
  FROM aseg
), allv AS (
  SELECT * FROM uval UNION ALL SELECT * FROM aval
)
SELECT doc_id,
       CASE WHEN law = 0 THEN 'wav_ulaw' ELSE 'wav_alaw' END AS fmt,
       CAST(n AS INTEGER) AS width,
       1 AS height,
       CAST(n AS BIGINT) AS n_values,
       CAST(SUM(v) AS BIGINT) AS sum_values,
       CAST(MIN(v) AS INTEGER) AS min_value,
       CAST(MAX(v) AS INTEGER) AS max_value
FROM allv GROUP BY doc_id, law, n
""",
    doc="G.711 audio-codec external gate (r17), opening the compressed-"
        "audio family beyond PCM: every document synthesizes a REAL "
        "mu-law (even doc_ids) or A-law (odd) WAV whose data bytes "
        "cycle the FULL 256-entry code space, then decodes it back in "
        "strict mode.  The segment expansion is a closed formula over "
        "the byte (bias-132 shift chain for mu-law; 0x55-toggled "
        "segmented linear for A-law), which the oracle replays with "
        "integer bit operators -- the hash proves all 256 expansion "
        "entries of BOTH laws, every segment and both signs.  IMA "
        "ADPCM decodes too (sequential state machine, pinned by a "
        "reference-simulator fuzz in tests -- its per-sample recurrence "
        "is not SQL-replayable).  Scale: narrow Arrow-batched "
        "mapInPandas; O(1)-width stats cross to the JVM, never "
        "samples.",
    # New registration (r17): takes a driver slot in its first round per
    # the freshness-era lint rule; doc_split_assignment (multi-round
    # green) sits out to hold the surface at 50, its dependents
    # re-pointed to doc_k_anonymity (kept sampling/privacy anchor).
)
def mm_wav_codec_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.decode_stats(_docs(spark, sf_dir), "wav_codec")


@register(
    "mm_png_types_stats",
    oracle="""
WITH j AS (
  SELECT doc_id,
         CAST(doc_id % 11 + 3 AS INTEGER) AS width,
         CAST((5 * doc_id) % 9 + 3 AS INTEGER) AS height,
         doc_id % 3 AS arm,
         CASE doc_id % 4 WHEN 0 THEN 2 WHEN 1 THEN 4 WHEN 2 THEN 16
              ELSE 256 END AS ncol
  FROM documents
), px AS (
  SELECT j.doc_id, j.width, j.height, j.arm, j.ncol, x.x AS x, y.y AS y
  FROM j,
       UNNEST(range(0, CAST(j.width AS BIGINT))) AS x(x),
       UNNEST(range(0, CAST(j.height AS BIGINT))) AS y(y)
), v AS (
  SELECT doc_id, width, height, arm,
         CASE arm
           WHEN 0 THEN (1009 * doc_id + 389 * x + 677 * y) % 65536
           WHEN 1 THEN (257 * doc_id + 513 * x + 769 * y) % 65536
           ELSE (17 * doc_id + 29 * ((doc_id + 3 * x + 5 * y) % ncol)) % 256
         END AS c1,
         CASE arm
           WHEN 0 THEN NULL
           WHEN 1 THEN (101 * doc_id + 37 * x + 59 * y) % 65536
           ELSE (13 * doc_id + 7 * ((doc_id + 3 * x + 5 * y) % ncol)) % 256
         END AS c2,
         CASE arm
           WHEN 0 THEN NULL
           WHEN 1 THEN (811 * doc_id + 23 * x + 97 * y) % 65536
           ELSE (11 * doc_id + 3 * ((doc_id + 3 * x + 5 * y) % ncol)) % 256
         END AS c3
  FROM px
)
SELECT doc_id,
       CASE arm WHEN 0 THEN 'png_gray16' WHEN 1 THEN 'png_rgb16'
            ELSE 'png_palette' END AS fmt,
       width, height,
       CAST(CASE arm WHEN 0 THEN width * height
            ELSE 3 * width * height END AS BIGINT) AS n_values,
       CAST(SUM(c1 + COALESCE(c2, 0) + COALESCE(c3, 0)) AS BIGINT) AS sum_values,
       CAST(MIN(LEAST(c1, COALESCE(c2, c1), COALESCE(c3, c1))) AS INTEGER) AS min_value,
       CAST(MAX(GREATEST(c1, COALESCE(c2, c1), COALESCE(c3, c1))) AS INTEGER) AS max_value
FROM v GROUP BY doc_id, arm, width, height
""",
    doc="PNG sample-layout external gate (r17), three arms by doc_id%3: "
        "16-bit grayscale, 16-bit RGB (big-endian samples, the five "
        "filters cycling per row at the spec's 2-/6-byte filter bpp), "
        "and palette at depth [1,2,4,8][doc_id%4] with a full 2^depth "
        "PLTE, MSB-first sub-byte packing, and per-row zero padding.  "
        "Every arm's pixel AND palette composition is a closed form the "
        "oracle replays arithmetically, so the hash proves endianness, "
        "filter byte-lag, bit unpacking, padding restarts, and the "
        "index->color lookup.  Widths (doc_id%11+3) keep sub-byte rows "
        "unaligned.  Scale: narrow Arrow-batched mapInPandas; "
        "O(1)-width stats cross to the JVM, never pixels.",
    # New registration (r17): takes a driver slot in its first round per
    # the freshness-era lint rule; mm_jpeg_partial_mcu_stats (multi-round
    # green; pad-to-grid + crop is equally exercised by the staying
    # 12-bit gates' non-multiple-of-8 dims) sits out to hold the
    # surface at 50.
)
def mm_png_types_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.decode_stats(_docs(spark, sf_dir), "png_types")


@register(
    "mm_gif_anim_stats",
    oracle="""
WITH j AS (
  SELECT doc_id,
         CAST(doc_id % 9 + 4 AS INTEGER) AS width,
         CAST((3 * doc_id) % 7 + 4 AS INTEGER) AS height,
         doc_id % 3 + 2 AS nf,
         doc_id % 16 AS bg_i
  FROM documents
), px AS (
  SELECT j.doc_id, j.width, j.height, j.nf, j.bg_i,
         f.f AS f, x.x AS x, y.y AS y,
         (j.doc_id + 2 * f.f) % (j.width - 2) AS fx,
         (3 * j.doc_id + f.f) % (j.height - 2) AS fy,
         LEAST(CAST(j.width AS BIGINT) - (j.doc_id + 2 * f.f) % (j.width - 2),
               f.f % 3 + 2) AS fw,
         LEAST(CAST(j.height AS BIGINT) - (3 * j.doc_id + f.f) % (j.height - 2),
               (f.f + j.doc_id) % 3 + 2) AS fh,
         (j.doc_id + f.f) % 16 AS t
  FROM j,
       UNNEST(range(0, CAST(j.nf AS BIGINT))) AS f(f),
       UNNEST(range(0, CAST(j.width AS BIGINT))) AS x(x),
       UNNEST(range(0, CAST(j.height AS BIGINT))) AS y(y)
), eff AS (
  SELECT doc_id, width, height, nf,
         CASE WHEN x >= fx AND x < fx + fw AND y >= fy AND y < fy + fh
                   AND (doc_id + 7 * f + 3 * x + 5 * y) % 16 <> t
              THEN (doc_id + 7 * f + 3 * x + 5 * y) % 16
              ELSE bg_i END AS i
  FROM px
), rgb AS (
  SELECT doc_id, width, height, nf,
         (23 * doc_id + 29 * i) % 256 AS r,
         (19 * doc_id + 7 * i) % 256 AS g,
         (5 * doc_id + 3 * i) % 256 AS b
  FROM eff
)
SELECT doc_id, 'gif_anim' AS fmt, width, height,
       CAST(3 * width * height * nf AS BIGINT) AS n_values,
       CAST(SUM(r + g + b) AS BIGINT) AS sum_values,
       CAST(MIN(LEAST(r, g, b)) AS INTEGER) AS min_value,
       CAST(MAX(GREATEST(r, g, b)) AS INTEGER) AS max_value
FROM rgb GROUP BY doc_id, width, height, nf
""",
    doc="Animated-GIF composition external gate (r17): every document "
        "synthesizes a REAL multi-frame GIF89a -- doc_id%3+2 "
        "sub-rectangle frames, each preceded by a Graphic Control "
        "Extension carrying a per-frame TRANSPARENT index and "
        "restore-to-background disposal -- and decodes it back through "
        "the full compositor (decode_gif_frames: transparency holes "
        "leave the canvas, disposal restores the rect to the background "
        "color per the spec text).  With disposal 2 every composed "
        "frame is a closed form, so the oracle replays frame iteration, "
        "GCE parsing, rect offsets, transparency, and the background "
        "fill arithmetically over all frames' pixels; the "
        "history-carrying disposal methods (1 leave, 3 restore-previous) "
        "and per-frame local palettes/interlacing are pinned by unit "
        "tests.  Scale: narrow Arrow-batched mapInPandas; O(1)-width "
        "stats cross to the JVM, never pixels.",
    # New registration (r17): takes a driver slot in its first round per
    # the freshness-era lint rule; mm_jpeg_progressive_stats (multi-round
    # green; the progressive decoder stays driver-proven by
    # mm_jpeg_restart_stats' odd arm, which decodes progressive scripts
    # with restarts in every scan) sits out to hold the surface at 50.
)
def mm_gif_anim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.decode_stats(_docs(spark, sf_dir), "gif_anim")

@register(
    "mm_jpeg_progressive_stats",
    oracle="""
WITH j AS (
  SELECT doc_id, doc_id % 2 AS arm,
         CAST(8 * (doc_id % 3 + 1) AS INTEGER) AS width,
         CAST(8 * ((5 * doc_id) % 3 + 1) AS INTEGER) AS height
  FROM documents
), px AS (
  SELECT j.doc_id, j.arm, j.width, j.height,
         CAST(floor(x.x / 8) AS BIGINT) AS bx,
         CAST(floor(y.y / 8) AS BIGINT) AS by,
         (CASE WHEN (x.x % 8) % 4 IN (0, 3) THEN 1 ELSE -1 END
          * CASE WHEN (y.y % 8) % 4 IN (0, 3) THEN 1 ELSE -1 END) AS ss
  FROM j,
       UNNEST(range(0, CAST(j.width AS BIGINT))) AS x(x),
       UNNEST(range(0, CAST(j.height AS BIGINT))) AS y(y)
), color AS (
  SELECT doc_id, 'jpeg_rgb' AS fmt, width, height,
         CAST(3 * width * height AS BIGINT) AS n_values,
         CAST(SUM(r + g + b) AS BIGINT) AS sum_values,
         CAST(MIN(LEAST(r, g, b)) AS INTEGER) AS min_value,
         CAST(MAX(GREATEST(r, g, b)) AS INTEGER) AS max_value
  FROM (
    SELECT doc_id, width, height,
           GREATEST(0, LEAST(255, yv + CAST(floor((91881 * cr + 32768) / 65536.0) AS BIGINT))) AS r,
           GREATEST(0, LEAST(255, yv - CAST(floor((22554 * cb + 46802 * cr + 32768) / 65536.0) AS BIGINT))) AS g,
           GREATEST(0, LEAST(255, yv + CAST(floor((116130 * cb + 32768) / 65536.0) AS BIGINT))) AS b
    FROM (
      SELECT doc_id, width, height,
             128 + ((17 * doc_id + 5 * bx + 11 * by) % 129 - 64)
                 + ((7 * doc_id + 3 * bx + by) % 27) * ss AS yv,
             ((13 * doc_id + 7 * bx + 3 * by) % 101 - 50)
                 + ((11 * doc_id + bx + 5 * by) % 23) * ss AS cb,
             ((19 * doc_id + 3 * bx + 7 * by) % 101 - 50)
                 + ((5 * doc_id + 9 * bx + by) % 23) * ss AS cr
      FROM px WHERE arm = 0
    )
  ) GROUP BY doc_id, width, height
), refined AS (
  SELECT doc_id, 'jpeg_gray' AS fmt, width, height,
         CAST(COUNT(*) AS BIGINT) AS n_values,
         CAST(SUM(v) AS BIGINT) AS sum_values,
         CAST(MIN(v) AS INTEGER) AS min_value,
         CAST(MAX(v) AS INTEGER) AS max_value
  FROM (
    SELECT doc_id, width, height,
           128 + (2 * ((17 * doc_id + 5 * bx + 11 * by) % 60) - 59)
               + (CASE WHEN (doc_id + bx + by) % 3 = 0 THEN 0
                  ELSE 2 * ((7 * doc_id + 3 * bx + by) % 13) + 1 END) * ss AS v
    FROM px WHERE arm = 1
  ) GROUP BY doc_id, width, height
)
SELECT * FROM color UNION ALL SELECT * FROM refined
""",
    doc="Progressive (SOF2) JPEG external gate (r15, retiring the "
        "progressive stub entirely): even docs synthesize a REAL "
        "spectral-selection 4:4:4 script (interleaved DC scan, "
        "per-component banded AC scans, EOBRUN coding) whose pixels "
        "equal mm_jpeg_color_stats's class; odd docs a REAL grayscale "
        "SUCCESSIVE-APPROXIMATION script (Al=1 first scans carrying "
        "exact halves of odd coefficients under quant 8, then DC-bit "
        "and AC-correction refinement scans, newly-nonzero +-1 "
        "placements, and EOB runs that frame their covered blocks' "
        "correction bits) where EVERY refinement bit is worth a full "
        "pixel step -- a decoder that skips, mis-orders, or mis-applies "
        "one bit cannot hash-match.  Restart intervals decode too as of "
        "r16 (gated by mm_jpeg_restart_stats); refused loudly: "
        "arithmetic-coded/hierarchical JPEG.  Scale: narrow "
        "Arrow-batched mapInPandas; O(1)-width stats.",
    # New registration (r15): takes a driver slot in its first round per
    # the freshness-era lint rule; orderby_limit_top20_orders sits out to
    # hold the surface at 50.
    # r17 sit-out: paired with the new mm_gif_anim_stats registration;
    # the progressive decoder stays driver-proven by
    # mm_jpeg_restart_stats' odd arm (progressive scripts with restarts
    # in every scan).  Multi-round green (r15, r16).
    driver=False,
    sibling="mm_jpeg_restart_stats",
)
def mm_jpeg_progressive_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.decode_stats(_docs(spark, sf_dir), "jpeg_progressive")


@register(
    "mm_jpeg_partial_mcu_stats",
    oracle="""
WITH j AS (
  SELECT doc_id, doc_id % 2 AS arm,
         CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 13 + 3
              ELSE doc_id % 19 + 5 END AS INTEGER) AS width,
         CAST(CASE WHEN doc_id % 2 = 0 THEN (5 * doc_id) % 11 + 3
              ELSE (3 * doc_id) % 17 + 5 END AS INTEGER) AS height
  FROM documents
), px AS (
  SELECT j.doc_id, j.arm, j.width, j.height, x.x, y.y,
         CAST(floor(x.x / 8) AS BIGINT) AS ybx,
         CAST(floor(y.y / 8) AS BIGINT) AS yby,
         CAST(floor(floor(x.x / 2) / 8) AS BIGINT) AS cbx,
         CAST(floor(floor(y.y / 2) / 8) AS BIGINT) AS cby,
         (CASE WHEN (x.x % 8) % 4 IN (0, 3) THEN 1 ELSE -1 END
          * CASE WHEN (y.y % 8) % 4 IN (0, 3) THEN 1 ELSE -1 END) AS ss,
         (CASE WHEN (CAST(floor(x.x / 2) AS BIGINT) % 8) % 4 IN (0, 3) THEN 1 ELSE -1 END
          * CASE WHEN (CAST(floor(y.y / 2) AS BIGINT) % 8) % 4 IN (0, 3) THEN 1 ELSE -1 END) AS cs
  FROM j,
       UNNEST(range(0, CAST(j.width AS BIGINT))) AS x(x),
       UNNEST(range(0, CAST(j.height AS BIGINT))) AS y(y)
), gray AS (
  SELECT doc_id, 'jpeg_gray' AS fmt, width, height,
         CAST(COUNT(*) AS BIGINT) AS n_values,
         CAST(SUM(v) AS BIGINT) AS sum_values,
         CAST(MIN(v) AS INTEGER) AS min_value,
         CAST(MAX(v) AS INTEGER) AS max_value
  FROM (
    SELECT doc_id, width, height,
           128 + ((17 * doc_id + 5 * ybx + 11 * yby) % 129 - 64)
               + ((7 * doc_id + 3 * ybx + yby) % 27) * ss AS v
    FROM px WHERE arm = 0
  ) GROUP BY doc_id, width, height
), color AS (
  SELECT doc_id, 'jpeg_rgb' AS fmt, width, height,
         CAST(3 * width * height AS BIGINT) AS n_values,
         CAST(SUM(r + g + b) AS BIGINT) AS sum_values,
         CAST(MIN(LEAST(r, g, b)) AS INTEGER) AS min_value,
         CAST(MAX(GREATEST(r, g, b)) AS INTEGER) AS max_value
  FROM (
    SELECT doc_id, width, height,
           GREATEST(0, LEAST(255, yv + CAST(floor((91881 * cr + 32768) / 65536.0) AS BIGINT))) AS r,
           GREATEST(0, LEAST(255, yv - CAST(floor((22554 * cb + 46802 * cr + 32768) / 65536.0) AS BIGINT))) AS g,
           GREATEST(0, LEAST(255, yv + CAST(floor((116130 * cb + 32768) / 65536.0) AS BIGINT))) AS b
    FROM (
      SELECT doc_id, width, height,
             128 + ((17 * doc_id + 5 * ybx + 11 * yby) % 129 - 64)
                 + ((7 * doc_id + 3 * ybx + yby) % 27) * ss AS yv,
             ((13 * doc_id + 7 * cbx + 3 * cby) % 101 - 50)
                 + ((11 * doc_id + cbx + 5 * cby) % 23) * cs AS cb,
             ((19 * doc_id + 3 * cbx + 7 * cby) % 101 - 50)
                 + ((5 * doc_id + 9 * cbx + cby) % 23) * cs AS cr
      FROM px WHERE arm = 1
    )
  ) GROUP BY doc_id, width, height
)
SELECT * FROM gray UNION ALL SELECT * FROM color
""",
    doc="Partial-MCU baseline JPEG external gate (r15, closing the "
        "second-to-last JPEG stub item): dimensions deliberately NOT "
        "multiples of the MCU size force the decoder down the "
        "pad-to-ceil-grid + CROP path -- even docs decode grayscale AC "
        "images at 3..15 x 3..13 (8x8 MCUs), odd docs 4:2:0 color at "
        "5..23 x 5..21 (16x16 MCUs).  Every cropped pixel keeps the "
        "closed per-block form, so the oracle enumerates pixels "
        "arithmetically; sums no longer cancel per block at the cropped "
        "edges, which is exactly what makes this gate sensitive to a "
        "wrong crop.  The remaining JPEG stub is progressive scans "
        "only.  Scale: narrow Arrow-batched mapInPandas, O(1)-width "
        "stats.",
    # New registration (r15): takes a driver slot in its first round per
    # the freshness-era lint rule; emb_outlier_centroid_dist sits out to
    # hold the surface at 50.
    # r17 sit-out: paired with the new mm_png_types_stats registration;
    # the pad-to-grid + crop path stays driver-proven by the 12-bit
    # gates' non-multiple-of-8 dims (mm_jpeg_color12_stats crosses
    # partial-MCU crops at 3 components).  Multi-round green (r15, r16).
    driver=False,
    sibling="mm_jpeg_color12_stats",
)
def mm_jpeg_partial_mcu_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.decode_stats(_docs(spark, sf_dir), "jpeg_partial_mcu")


# --------------------------------------------------------------------------
# Similarity search over embeddings
# --------------------------------------------------------------------------

_COS = V.cosine_sql  # (a_sql, b_sql) -> DuckDB fold expression


@register(
    "emb_cosine_topk",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS query_emb
  FROM embeddings WHERE vec_id < 10
)
SELECT * FROM (
  SELECT q.query_id,
         e.vec_id AS neighbor_id,
         {_COS('q.query_emb', 'e.embedding')} AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY {_COS('q.query_emb', 'e.embedding')} DESC, e.vec_id
         ) AS rank
  FROM q JOIN embeddings e ON e.vec_id != q.query_id
)
WHERE rank <= 5
""",
    doc="north-star similarity search, exact baseline: brute-force cosine "
        "top-5 for a 10-query set.  Scale: queries broadcast, corpus scanned "
        "once with no shuffle; the only wide op is the per-query top-k",
    # r17 rotation: promoted for stale re-verification (tools/r17_rotation_plan.md).
)
def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_emb")
    )
    return SIM.brute_force_topk(q, e, k=5)


@register(
    "emb_cosine_topk_arrow",
    # FLOAT-FREE projection (r7): the registered entry emits only the
    # (query_id, neighbor_id) membership pairs, so the hash gate is exact
    # even though BLAS cosines differ from the sequential fold in the last
    # ulp.  The oracle is the fold-based SQL twin minus the float columns;
    # membership agreement at the k boundary holds because the fixture's
    # rank-5/rank-6 cosine margins are far above one ulp (the full-row
    # set equality incl. this margin is pinned in tests/test_similarity.py).
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS query_emb
  FROM embeddings WHERE vec_id < 10
)
SELECT query_id, neighbor_id FROM (
  SELECT q.query_id,
         e.vec_id AS neighbor_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY {_COS('q.query_emb', 'e.embedding')} DESC, e.vec_id
         ) AS rank
  FROM q JOIN embeddings e ON e.vec_id != q.query_id
)
WHERE rank <= 5
""",
    doc="north-star similarity search via the Arrow-vectorized Python path: "
        "salted corpus chunks cogroup with the broadcast-replicated query "
        "DataFrame (no driver-side query bootstrap), one BLAS matmul "
        "scores each chunk against the full query set, a per-group top-k "
        "combiner bounds what leaves each task, and a "
        "global top-k window merges.  Same answers as emb_cosine_topk "
        "(pinned by test); exists because interpreted per-element JVM folds "
        "lose to BLAS once dim x batch x n_queries is large.  Measured "
        "honestly at sf0.1 (5k x 64-dim x 10 queries) the JVM fold still "
        "wins (0.7s vs 2.7s -- Python worker spin-up dominates); the Arrow "
        "path is the right tool at production scale (thousands of queries, "
        "high-dim vectors), and the per-partition top-k combiner is what "
        "keeps its shuffle bounded there.  The cosine column stays on the "
        "OPERATOR (similarity.brute_force_topk_arrow) for consumers; the "
        "registry projection drops it so the driver can hash-match the "
        "neighbor membership instead of recording rows-only",
    # r14 rotation: promoted for stale re-verification (tools/r14_rotation_plan.md).
    # r17 driver-slot rotation (tools/r17_rotation_plan.md): freshness
    # cycle -- multi-round veteran sits out for a stale re-verification.
    driver=False,
    sibling="emb_cosine_topk",
)
def emb_cosine_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_emb")
    )
    return SIM.brute_force_topk_arrow(
        q, e.select("vec_id", "embedding"), k=5
    ).select("query_id", "neighbor_id")


@register(
    "emb_ann_ivf",
    oracle=f"""
WITH cent AS (
  SELECT vec_id AS cent_id, embedding AS cent_emb
  FROM embeddings WHERE vec_id < 16
),
assigned AS (
  SELECT vec_id, embedding, cent_id AS bucket FROM (
    SELECT e.vec_id, e.embedding, c.cent_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS('e.embedding', 'c.cent_emb')} DESC, c.cent_id
           ) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, embedding AS query_emb
  FROM embeddings WHERE vec_id < 10
),
probes AS (
  SELECT query_id, query_emb, cent_id AS bucket FROM (
    SELECT q.query_id, q.query_emb, c.cent_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY {_COS('q.query_emb', 'c.cent_emb')} DESC, c.cent_id
           ) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= 2
)
SELECT * FROM (
  SELECT p.query_id,
         a.vec_id AS neighbor_id,
         {_COS('p.query_emb', 'a.embedding')} AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY p.query_id
           ORDER BY {_COS('p.query_emb', 'a.embedding')} DESC, a.vec_id
         ) AS rank
  FROM probes p
  JOIN assigned a ON a.bucket = p.bucket AND a.vec_id != p.query_id
)
WHERE rank <= 5
""",
    doc="north-star ANN, scale path: IVF coarse quantizer (16-centroid "
        "codebook = vec_id<16), nprobe=2, exact cosine re-rank inside probed "
        "buckets only.  The oracle replicates the SAME algorithm, so parity "
        "is exact; recall vs brute force is pinned separately in "
        "tests/test_similarity.py.  100 TB shape: assignment is a broadcast "
        "join vs the codebook; search touches ~nprobe/C of the corpus",
    # ivf_topk machinery PLUS Lloyd training; the seed-codebook variant
    # stays oracle-checked locally (and anchors the recall pin).
    # r14 rotation: promoted for stale re-verification (tools/r14_rotation_plan.md).
    # r16 interim sit-out: paired with the new doc_dsir_importance
    # first-round registration; re-enters the queue at age 1.
    driver=False,
    sibling="emb_ann_recall_curve",
)
def emb_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    cent = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_emb")
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_emb")
    )
    assigned = SIM.ivf_assign(e.select("vec_id", "embedding"), cent)
    return SIM.ivf_topk(q, assigned, cent, k=5, nprobe=2)


#: (applicationId, tag, schema-only?) -> rebroadcast codebook handle; see
#: the _ivf16 memo note.  Stale-app entries are evicted on access.
_IVF16_RB_MEMO: dict = {}


def _ivf16(spark: SparkSession, sf_dir: str):
    """The (codebook, assignment) pair for the k=16 Lloyd-trained IVF over
    the embeddings fixture, shared by emb_ann_ivf_trained,
    emb_semantic_dedup, and emb_ann_recall_curve -- three queries that all
    train the IDENTICAL codebook.  The codebook is collect-rebroadcast
    (constant-bounded: 16 x 64 doubles) and the corpus assignment is
    session-memoized, so a full sweep runs the training lineage and the
    assignment pass ONCE; at cluster scale that is a shared staging table
    for the assignment and a driver-held codebook (the ivf_train docstring
    pattern)."""
    e = _emb(spark, sf_dir)
    corpus = e.select("vec_id", "embedding")
    # The rebroadcast handle is memoized per (session, sf_dir) like the
    # sources/tables.py load() memo (r18, guide section 1.2): without it
    # every BUILDER INVOCATION re-collected the 16-row codebook -- one
    # tiny but real Spark job per bench repeat per consumer query (~9
    # collect jobs per sweep for the three consumers).  A rebuilt
    # ExistingRDD frame is an immutable local plan; reusing the handle
    # changes no result.  Keyed on applicationId so a new session never
    # sees a stale handle (the session_memo eviction rule).
    from ..config import schema_only_builds

    memo_key = (
        spark.sparkContext.applicationId,
        f"ivf16_cent_rb:{sf_dir}",
        schema_only_builds(),
    )
    cent = _IVF16_RB_MEMO.get(memo_key)
    if cent is None:
        cent = rebroadcast_small(
            session_memo(
                spark, f"ivf16_cent:{sf_dir}", lambda: SIM.ivf_train(corpus, k=16)
            )
        )
        stale = [k for k in _IVF16_RB_MEMO if k[0] != memo_key[0]]
        for k in stale:
            del _IVF16_RB_MEMO[k]
        _IVF16_RB_MEMO[memo_key] = cent
    c = corpus.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda v: v.cast("double")).alias(
            "embedding"
        ),
    )
    assigned = session_memo(
        spark, f"ivf16_assigned:{sf_dir}", lambda: SIM.ivf_assign(c, cent)
    )
    return cent, c, assigned


def _ivf_train_ctes(k: int = 16) -> list[str]:
    """The Lloyd-training CTE chain shared by every trained-codebook
    oracle: unrolls IVF_TRAIN_ITERS (assign, re-centroid) pairs and ends
    with ``a{iters}`` = the final (vec_id, embedding, bucket) assignment
    and ``cent{iters}`` = the trained codebook."""
    iters = SIM.IVF_TRAIN_ITERS
    ctes = [
        "e AS (SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE))"
        " AS embedding FROM embeddings)",
        f"cent0 AS (SELECT vec_id AS cent_id, embedding AS cent_emb"
        f" FROM e WHERE vec_id < {k})",
    ]
    for i in range(iters + 1):
        ctes.append(f"""a{i} AS (
  SELECT vec_id, embedding, cent_id AS bucket FROM (
    SELECT e.vec_id, e.embedding, c.cent_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_COS('e.embedding', 'c.cent_emb')} DESC, c.cent_id
           ) AS rn
    FROM e CROSS JOIN cent{i} c
  ) WHERE rn = 1
)""")
        if i == iters:
            break
        # sequential fold in vec_id order == Spark's sorted-collect aggregate
        ctes.append(f"""cent{i + 1} AS (
  SELECT bucket AS cent_id,
         list_transform(
           list_reduce(vecs,
             (va, vb) -> list_transform(list_zip(va, vb), p -> p[1] + p[2])),
           x -> x / n) AS cent_emb
  FROM (SELECT bucket, list(embedding ORDER BY vec_id) AS vecs,
               CAST(COUNT(*) AS DOUBLE) AS n
        FROM a{i} GROUP BY bucket)
)""")
    return ctes


def _ivf_trained_oracle(k: int = 16, nprobe: int = 1) -> str:
    """Same-algorithm oracle for the Lloyd-trained IVF: the training loop is
    unrolled into one CTE pair (assign, re-centroid) per iteration."""
    iters = SIM.IVF_TRAIN_ITERS
    ctes = _ivf_train_ctes(k)
    ctes.append("""q AS (
  SELECT vec_id AS query_id, embedding AS query_emb
  FROM e WHERE vec_id < 10
)""")
    ctes.append(f"""probes AS (
  SELECT query_id, query_emb, cent_id AS bucket FROM (
    SELECT q.query_id, q.query_emb, c.cent_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY {_COS('q.query_emb', 'c.cent_emb')} DESC, c.cent_id
           ) AS rn
    FROM q CROSS JOIN cent{iters} c
  ) WHERE rn <= {nprobe}
)""")
    joined = ",\n".join(ctes)
    return f"""WITH {joined}
SELECT * FROM (
  SELECT p.query_id,
         a.vec_id AS neighbor_id,
         {_COS('p.query_emb', 'a.embedding')} AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY p.query_id
           ORDER BY {_COS('p.query_emb', 'a.embedding')} DESC, a.vec_id
         ) AS rank
  FROM probes p
  JOIN a{iters} a ON a.bucket = p.bucket AND a.vec_id != p.query_id
)
WHERE rank <= 5"""


@register(
    "emb_ann_ivf_trained",
    oracle=_ivf_trained_oracle(),
    doc="north-star ANN with a Lloyd-TRAINED IVF codebook (2 deterministic "
        "k-means iterations from the vec_id<16 seed, DataFrame-only: assign "
        "via broadcast join, re-centroid via sequential vec_id-ordered fold) "
        "searched at nprobe=1 -- the maximum-pruning configuration, touching "
        "~1/16 of the corpus.  Same-algorithm oracle with the training loop "
        "unrolled in SQL, so the whole pipeline is hash-checked.  Honest "
        "finding, pinned in tests/test_similarity.py: on this fixture the "
        "embeddings are isotropic (max same-label cosine ~0.45, no cluster "
        "structure), so training improves quantization error and bucket "
        "balance -- what Lloyd optimizes -- but not neighbor recall; on "
        "clustered real-scale data the trained codebook is the one that "
        "prunes correctly",
    # r14 driver-slot rotation (tools/r14_rotation_plan.md): freshness
    # cycle -- multi-round veteran sits out for a stale re-verification.
    driver=False,
    # r16 sibling re-point: prior anchor sits out for the new
    # doc_dsir_importance registration.
    sibling="emb_ann_recall_curve",
)
def emb_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    cent, c, assigned = _ivf16(spark, sf_dir)
    q = c.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_emb")
    )
    return SIM.ivf_topk(q, assigned, cent, k=5, nprobe=1)


@register(
    "emb_hard_negatives",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS query_emb, label AS query_label
  FROM embeddings WHERE vec_id < 10
)
SELECT query_id, neighbor_id, neighbor_label, cosine FROM (
  SELECT q.query_id,
         e.vec_id AS neighbor_id,
         e.label AS neighbor_label,
         {_COS('q.query_emb', 'e.embedding')} AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY {_COS('q.query_emb', 'e.embedding')} DESC, e.vec_id
         ) AS rank
  FROM q JOIN embeddings e
    ON e.vec_id != q.query_id AND e.label != q.query_label
)
WHERE rank <= 3
""",
    doc="hard-negative mining for contrastive training: for each query "
        "vector, the top-3 most-similar vectors with a DIFFERENT label -- "
        "the examples a contrastive loss learns most from (similar "
        "embedding, wrong class).  Same broadcast-query brute-force shape "
        "as emb_cosine_topk with the label-disequality folded into the "
        "join condition, so pruned candidates are never scored; at real "
        "scale the corpus side routes through the IVF/LSH bucket "
        "machinery exactly like positive neighbor search, with the label "
        "filter applied per bucket.  Sequential-fold cosine keeps the "
        "whole output hash-matched.",
    # r12 driver-slot rotation (tools/r12_rotation_plan.md): multi-round
    # driver-green veteran; slot freed for a never-checked promotion.
    driver=False,
    # r15 sibling re-point: prior anchor demoted this rotation.
    # r16 sibling re-point: prior anchor demoted this rotation.
    # r17 sibling re-point: prior anchor demoted this rotation.
    sibling="emb_cosine_topk",
)
def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Norms pre-computed per side of the fan-out join (r18, guide section
    # 1.2): one fold per candidate instead of three, bit-identical
    # (vectors.cosine_with_norms contract).
    e = _emb(spark, sf_dir).select(
        "vec_id", "embedding", "label", V.norm_s("embedding").alias("_vn")
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_emb"),
        F.col("label").alias("query_label"),
        F.col("_vn").alias("_qn"),
    )
    cands = e.join(
        F.broadcast(q),
        (F.col("vec_id") != F.col("query_id"))
        & (F.col("label") != F.col("query_label")),
    )
    cos = V.cosine_with_norms("query_emb", "embedding", "_qn", "_vn")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cands.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            cos.alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "neighbor_label", "cosine")
    )


@register(
    "emb_bitext_margin",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS query_emb, label AS query_label
  FROM embeddings WHERE vec_id < 10
),
ranked AS (
  SELECT q.query_id,
         e.vec_id AS match_id,
         e.label AS match_label,
         {_COS('q.query_emb', 'e.embedding')} AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY {_COS('q.query_emb', 'e.embedding')} DESC, e.vec_id
         ) AS rank
  FROM q JOIN embeddings e
    ON e.vec_id != q.query_id AND e.label != q.query_label
),
topk AS (
  SELECT *,
         SUM(cosine) OVER (PARTITION BY query_id ORDER BY rank
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND UNBOUNDED FOLLOWING) AS denom_sum
  FROM ranked WHERE rank <= 4
)
SELECT query_id, match_id, match_label, cosine,
       cosine / (denom_sum / 4.0) AS margin
FROM topk WHERE rank = 1
""",
    doc="margin-scored bitext/pair mining (the Artetxe-Schwenk ratio "
        "criterion, forward direction): each query's best cross-label "
        "candidate is scored by cos(top1) over the MEAN cosine of its 4 "
        "nearest cross-label neighbors -- margin >> 1 means a genuinely "
        "isolated match (a real translation pair), margin ~ 1 means the "
        "query is merely in a dense region (hubness), which absolute "
        "cosine thresholds cannot distinguish.  The 4-neighbor mean is a "
        "PINNED-ORDER window sum (ORDER BY rank, the temperature-mixing "
        "normalizer pattern) so the float fold is identical cross-engine "
        "and even this ratio column hash-matches.  Scale: identical "
        "candidate shape to emb_hard_negatives (bucket machinery at real "
        "scale); the margin adds one bounded window over k rows per "
        "query.",
    # r13 rotation: promoted to the driver surface (tools/r13_rotation_plan.md).
    # r15 driver-slot rotation (tools/r15_rotation_plan.md): freshness
    # cycle -- multi-round veteran sits out for a stale re-verification.
    driver=False,
    # r16 sibling re-point: prior anchor demoted this rotation.
    # r17 sibling re-point: prior anchor demoted this rotation.
    sibling="emb_cosine_topk",
)
def emb_bitext_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pre-computed norms on both fan-out sides (r18, guide section 1.2):
    # one fold per candidate instead of three, bit-identical.
    e = _emb(spark, sf_dir).select(
        "vec_id", "embedding", "label", V.norm_s("embedding").alias("_vn")
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_emb"),
        F.col("label").alias("query_label"),
        F.col("_vn").alias("_qn"),
    )
    cands = e.join(
        F.broadcast(q),
        (F.col("vec_id") != F.col("query_id"))
        & (F.col("label") != F.col("query_label")),
    )
    cos = V.cosine_with_norms("query_emb", "embedding", "_qn", "_vn")
    wr = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("match_id"))
    ranked = cands.select(
        "query_id",
        F.col("vec_id").alias("match_id"),
        F.col("label").alias("match_label"),
        cos.alias("cosine"),
    ).withColumn("rank", F.row_number().over(wr))
    wsum = (
        Window.partitionBy("query_id")
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    topk = ranked.filter(F.col("rank") <= 4).withColumn(
        "denom_sum", F.sum("cosine").over(wsum)
    )
    return topk.filter(F.col("rank") == 1).select(
        "query_id",
        "match_id",
        "match_label",
        "cosine",
        (F.col("cosine") / (F.col("denom_sum") / F.lit(4.0))).alias("margin"),
    )


def _l2sq_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
        f" * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), (x, y) -> x + y)"
    )


@register(
    "emb_rank_fusion_rrf",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS query_emb
  FROM embeddings WHERE vec_id < 10
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY {_COS('q.query_emb', 'e.embedding')} DESC, e.vec_id
         ) AS r_cos,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id
           ORDER BY {_l2sq_sql('q.query_emb', 'e.embedding')} ASC, e.vec_id
         ) AS r_l2
  FROM q JOIN embeddings e ON e.vec_id != q.query_id
),
fused AS (
  SELECT query_id, neighbor_id, r_cos, r_l2,
         (1.0 / (60.0 + r_cos)) + (1.0 / (60.0 + r_l2)) AS rrf
  FROM scored WHERE r_cos <= 20 OR r_l2 <= 20
)
SELECT * FROM (
  SELECT query_id, neighbor_id,
         CAST(CASE WHEN r_cos <= 20 THEN r_cos END AS BIGINT) AS r_cos,
         CAST(CASE WHEN r_l2 <= 20 THEN r_l2 END AS BIGINT) AS r_l2,
         rrf,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY rrf DESC, neighbor_id
         ) AS fused_rank
  FROM fused
) WHERE fused_rank <= 5
""",
    doc="reciprocal-rank fusion across two retrievers (the standard RRF "
        "combiner, k=60): each query's candidates ranked independently by "
        "cosine and by L2 distance, fused by 1/(60+r_cos) + 1/(60+r_l2) "
        "over the union of both top-20 lists, final top-5 per query.  On "
        "unnormalized vectors the two metrics genuinely disagree (L2 "
        "penalizes magnitude, cosine ignores it), which is exactly when "
        "fusion earns its keep; ranks outside a retriever's top-20 still "
        "contribute their true reciprocal (reported NULL in the output, "
        "the rank columns showing each retriever's view).  All ranks are "
        "integers and the fused score is a fixed two-term sum of exact "
        "reciprocals, so even the fusion column hash-matches.  Scale: "
        "same candidate shape as brute-force top-k; at real scale both "
        "rankers route through bucketed ANN and RRF fuses the returned "
        "lists -- fusion cost is per-query O(k), independent of corpus.",
    # r12 driver-slot rotation (tools/r12_rotation_plan.md): multi-round
    # driver-green veteran; slot freed for a never-checked promotion.
    driver=False,
    # r15 sibling re-point: prior anchor demoted this rotation.
    # r16 sibling re-point: prior anchor sits out for the new
    # doc_dsir_importance registration.
    sibling="emb_ann_recall_curve",
)
def emb_rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pre-computed norms on both fan-out sides (r18, guide section 1.2):
    # the cosine arm drops from three folds per candidate to one; the
    # l2 arm's fold is irreducible (it is over the pair).  Bit-identical.
    e = _emb(spark, sf_dir).select(
        "vec_id", "embedding", V.norm_s("embedding").alias("_vn")
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_emb"),
        F.col("_vn").alias("_qn"),
    )
    cands = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    diff = F.zip_with(
        F.col("query_emb"),
        F.col("embedding"),
        lambda a, b: (a.cast("double") - b.cast("double"))
        * (a.cast("double") - b.cast("double")),
    )
    l2sq = F.aggregate(diff, F.lit(0.0), lambda x, y: x + y)
    cos = V.cosine_with_norms("query_emb", "embedding", "_qn", "_vn")
    w_cos = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    w_l2 = Window.partitionBy("query_id").orderBy(F.asc("l2sq"), F.asc("neighbor_id"))
    scored = (
        cands.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cos"),
            l2sq.alias("l2sq"),
        )
        .withColumn("r_cos", F.row_number().over(w_cos))
        .withColumn("r_l2", F.row_number().over(w_l2))
    )
    fused = scored.filter((F.col("r_cos") <= 20) | (F.col("r_l2") <= 20)).select(
        "query_id",
        "neighbor_id",
        "r_cos",
        "r_l2",
        (
            F.lit(1.0) / (F.lit(60.0) + F.col("r_cos"))
            + F.lit(1.0) / (F.lit(60.0) + F.col("r_l2"))
        ).alias("rrf"),
    )
    w_f = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("neighbor_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w_f))
        .filter(F.col("fused_rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.when(F.col("r_cos") <= 20, F.col("r_cos")).cast("long").alias("r_cos"),
            F.when(F.col("r_l2") <= 20, F.col("r_l2")).cast("long").alias("r_l2"),
            "rrf",
            "fused_rank",
        )
    )


@register(
    "emb_int8_quantization",
    oracle=f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
  FROM embeddings
),
scaled AS (
  SELECT vec_id, emb,
         list_reduce(list_transform(emb, v -> abs(v)),
                     (a, b) -> greatest(a, b)) AS max_abs
  FROM e
),
q AS (
  SELECT vec_id, emb, max_abs,
         CASE WHEN max_abs > 0.0 THEN
           list_transform(emb, v -> floor(v * 127.0 / max_abs))
         END AS qv
  FROM scaled
)
SELECT vec_id, max_abs,
       CAST(CASE WHEN max_abs > 0.0 THEN
         list_reduce(list_transform(qv, x -> CAST(x AS BIGINT)),
                     (a, b) -> greatest(a, b)) END AS BIGINT) AS q_max,
       CAST(CASE WHEN max_abs > 0.0 THEN
         list_reduce(list_transform(qv, x -> CAST(x AS BIGINT)),
                     (a, b) -> least(a, b)) END AS BIGINT) AS q_min,
       CASE WHEN max_abs > 0.0 THEN
         list_reduce(
           list_transform(list_zip(emb, qv),
             p -> (p[1] - (p[2] * max_abs / 127.0))
                  * (p[1] - (p[2] * max_abs / 127.0))),
           (a, b) -> a + b)
       END AS sq_err
FROM q
""",
    doc="embedding compression: per-vector symmetric int8 quantization "
        "(scale = max|x|/127, floor -- NOT round, whose half-way tie rule "
        "differs across engines) with an ERROR CERTIFICATE: the quantized "
        "range [q_min, q_max] proving every code fits int8, and the exact "
        "dequantization squared error (sequential fold).  What a vector "
        "store actually ships at 100 TB -- 4x smaller vectors -- with the "
        "quality cost measured per vector, not asserted.  Zero-vector "
        "guard mirrors the cosine convention (NULL, not a fake zero "
        "error).  Pure per-row map, no shuffle.",
    # r12 driver-slot rotation (tools/r12_rotation_plan.md): multi-round
    # driver-green veteran; slot freed for a never-checked promotion.
    driver=False,
    # r13 sibling re-point: prior anchor demoted this rotation.
    # r14 interim re-point: emb_random_projection sits out for the new
    # MMR registration; the quantization/compression anchor moves to the
    # refreshed IVF entry.
    # r16 sibling re-point: prior anchor sits out for the new
    # doc_dsir_importance registration.
    sibling="emb_ann_recall_curve",
)
def emb_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    emb = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    d = e.select("vec_id", emb.alias("emb"))
    max_abs = F.aggregate(
        F.transform(F.col("emb"), lambda v: F.abs(v)),
        F.lit(0.0),
        lambda a, b: F.greatest(a, b),
    )
    scaled = d.select("vec_id", "emb", max_abs.alias("max_abs"))
    qv = F.when(
        F.col("max_abs") > 0.0,
        F.transform(
            F.col("emb"), lambda v: F.floor(v * F.lit(127.0) / F.col("max_abs"))
        ),
    )
    q = scaled.select("vec_id", "emb", "max_abs", qv.alias("qv"))
    q_long = F.transform(F.col("qv"), lambda x: x.cast("long"))
    dequant_err = F.aggregate(
        F.zip_with(
            F.col("emb"),
            F.col("qv"),
            lambda v, x: (v - (x * F.col("max_abs") / F.lit(127.0)))
            * (v - (x * F.col("max_abs") / F.lit(127.0))),
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return q.select(
        "vec_id",
        "max_abs",
        F.when(
            F.col("max_abs") > 0.0,
            F.aggregate(q_long, F.lit(-(1 << 62)), lambda a, b: F.greatest(a, b)),
        ).alias("q_max"),
        F.when(
            F.col("max_abs") > 0.0,
            F.aggregate(q_long, F.lit(1 << 62), lambda a, b: F.least(a, b)),
        ).alias("q_min"),
        F.when(F.col("max_abs") > 0.0, dequant_err).alias("sq_err"),
    )


#: SemDeDup cosine threshold.  The fixture embeddings are isotropic (max
#: same-label cosine ~0.45), so 0.35 yields a small-but-real duplicate set
#: at every SF (70 / 72 / 873 within-bucket pairs at sf0.001/0.01/0.1) --
#: selective enough to look like dedup, populated enough that the gate is
#: non-vacuous (tests/test_nonvacuous.py).
SEMDEDUP_TAU = 0.35


def _semantic_dedup_oracle(tau: float = SEMDEDUP_TAU) -> str:
    iters = SIM.IVF_TRAIN_ITERS
    ctes = _ivf_train_ctes()
    ctes.append(f"""dup_pairs AS (
  SELECT x.vec_id AS id_a, y.vec_id AS id_b
  FROM a{iters} x
  JOIN a{iters} y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
  WHERE {_COS('x.embedding', 'y.embedding')} >= {tau}
)""")
    ctes.append("""dup_of AS (
  SELECT id_b AS vec_id, MIN(id_a) AS dup_min FROM dup_pairs GROUP BY id_b
)""")
    joined = ",\n".join(ctes)
    return f"""WITH {joined}
SELECT a.vec_id,
       CAST(a.bucket AS BIGINT) AS bucket,
       CAST(COALESCE(d.dup_min, -1) AS BIGINT) AS dup_of,
       CAST(d.dup_min IS NULL AS INTEGER) AS is_kept
FROM a{iters} a
LEFT JOIN dup_of d ON d.vec_id = a.vec_id"""


@register(
    "emb_semantic_dedup",
    oracle=_semantic_dedup_oracle(),
    doc="SemDeDup-style semantic deduplication: cluster the corpus with the "
        "Lloyd-trained IVF codebook, compare vectors ONLY within their "
        "cluster (exact cosine, sequential fold), and keep the minimum "
        "vec_id of every duplicate relation -- each vector reports its "
        "bucket, the id it duplicates (dup_of, -1 if kept) and a keep "
        "flag.  The cluster bucketing is what makes the quadratic "
        "comparison tractable: candidates come from a bucket equi-join, "
        "never all-pairs (comparisons cut ~16x here; at real scale k "
        "grows with the corpus to hold per-bucket cost constant).  Same "
        "training unroll as emb_ann_ivf_trained's oracle, so the whole "
        "train-assign-compare-keep pipeline is value-hash-checked.  "
        "Hot-cluster mitigation (the SCALING.md skew ceiling): EXACT-"
        "duplicate mass -- the realistic cause of a cluster holding half "
        "the corpus (mass-replicated boilerplate) -- is compressed to one "
        "representative per identical-embedding group BEFORE the "
        "quadratic verify, and the rep-level duplicate relation is "
        "expanded back to members exactly (the minimum similar id below a "
        "member is always a group rep or its own rep, so dup_of is "
        "bit-identical to the uncompressed all-pairs form as long as tau "
        "is bounded away from 1 by float error; tau=0.35).  The verify is "
        "therefore quadratic in UNIQUE vectors per bucket, not rows -- "
        "the skewed-replica probe (SCALING.md table 5c) pins sec/k flat "
        "when one cluster holds half the corpus.",
    # r11 driver-slot rotation: multi-round driver-green veteran demoted
    # to drain the never-checked backlog; family anchor stays driver-side.
    driver=False,
    # r14 sibling re-point: prior anchor demoted this rotation.
    # r16 sibling re-point: prior anchor sits out for the new
    # doc_dsir_importance registration.
    sibling="emb_ann_recall_curve",
)
def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shared k=16 codebook/assignment (session-memoized): the assignment
    # frame feeds the pair self-join (2 subtrees) plus the final
    # projection, and the memo's materialize keeps the Lloyd training
    # from re-running per subtree or per consumer query.
    cent, c, assigned = _ivf16(spark, sf_dir)
    # Same lesson as doc_near_dup_jaccard/simhash: the materialized frame
    # is a handful of narrow rows that AQE coalesces to ONE partition, and
    # the within-bucket cosine verify -- the quadratic part -- would run
    # single-threaded (measured: 6.8s single-core at sf0.1).  Locally the
    # fixture corpus is broadcast-small, so: round-robin repartition the
    # probe side, broadcast the build side -> verify parallelism = CPU
    # count instead of 1.  At real scale the broadcast is replaced by a
    # bucket-co-partitioned self-join with k (the cluster count) grown
    # with the corpus -- parallelism = k and per-task work = one cluster's
    # quadratic block, which is exactly how SemDeDup shards.
    # Fingerprint-first compression: one rep (min vec_id) per group of
    # bit-identical embeddings.  Identical vectors share every cosine and
    # the bucket assignment, so the rep-level similar-pair relation plus
    # the within-group rep link reconstructs dup_of EXACTLY (see doc).
    # The compression is OUTPUT-TRANSPARENT, so it is applied adaptively:
    # a cheap hash-groupBy probe (longs over the wire, never embeddings)
    # detects whether any identical-embedding group exists at all, and a
    # dup-free corpus -- the common un-skewed case, and this fixture --
    # skips the full-array grouping window entirely (bench: the window
    # was ~1.5s of pure overhead here).  A hash collision can only send
    # us down the compressed path unnecessarily, never wrongly skip it;
    # a -0.0/0.0-only difference could skip compression for that group,
    # which still yields the identical output via the uncompressed
    # verify -- only the hot-cluster insurance is declined, exactness is
    # not at stake.
    dup_probe = (
        assigned.groupBy(F.hash("embedding").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .limit(1)
        .count()
    )
    if dup_probe == 0:
        with_rep = assigned.select(
            "vec_id", "embedding", "bucket",
            F.col("vec_id").alias("rep_id"),
        )
    else:
        grp = Window.partitionBy("embedding")
        with_rep = assigned.select(
            "vec_id",
            "embedding",
            "bucket",
            F.min("vec_id").over(grp).alias("rep_id"),
        )
    members = with_rep.select("vec_id", "rep_id")
    reps = materialize(
        with_rep.filter(F.col("vec_id") == F.col("rep_id")).select(
            "vec_id", "embedding", "bucket"
        )
    )
    # Pre-computed norms per rep (r18, guide section 1.2): each rep fans
    # out to every bucket-mate in the verify join, so the inline cosine
    # re-ran both norm folds per PAIR; one fold per pair now,
    # bit-identical (vectors.cosine_with_norms contract).
    x = reps.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("emb_a"), "bucket",
        V.norm_s("embedding").alias("_na"),
    )
    y = reps.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("bucket").alias("bucket_b"),
        V.norm_s("embedding").alias("_nb"),
    )
    rep_pairs = (
        x.join(
            F.broadcast(y),
            (F.col("bucket") == F.col("bucket_b")) & (F.col("id_a") < F.col("id_b")),
        )
        .filter(
            V.cosine_with_norms("emb_a", "emb_b", "_na", "_nb")
            >= F.lit(SEMDEDUP_TAU)
        )
        .select("id_a", "id_b")
    )
    # directed rep adjacency: (center rep, similar partner rep)
    sim = rep_pairs.select(
        F.col("id_a").alias("ctr"), F.col("id_b").alias("partner")
    ).unionByName(
        rep_pairs.select(F.col("id_b").alias("ctr"), F.col("id_a").alias("partner"))
    )
    # a member's duplicate candidates below it: partner reps of its group
    # (identical cosines) plus its own rep when it is not the rep itself
    cand = members.join(sim, members["rep_id"] == sim["ctr"]).filter(
        F.col("partner") < F.col("vec_id")
    ).select("vec_id", F.col("partner").alias("cand"))
    own = members.filter(F.col("vec_id") != F.col("rep_id")).select(
        "vec_id", F.col("rep_id").alias("cand")
    )
    dup_of = (
        cand.unionByName(own)
        .groupBy("vec_id")
        .agg(F.min("cand").alias("dup_min"))
    )
    return (
        assigned.select("vec_id", F.col("bucket").cast("long").alias("bucket"))
        .join(dup_of, "vec_id", "left")
        .select(
            "vec_id",
            "bucket",
            F.coalesce("dup_min", F.lit(-1)).cast("long").alias("dup_of"),
            F.col("dup_min").isNull().cast("int").alias("is_kept"),
        )
    )


def _lsh_probe_union_sql() -> str:
    rows = ["SELECT query_id, query_emb, bucket FROM q"]
    rows += [
        f"SELECT query_id, query_emb, xor(bucket, {1 << j}) FROM q" for j in range(4)
    ]
    return "\n  UNION ALL ".join(rows)


_LSH_BITVAL = "CASE p.j WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 WHEN 3 THEN 8 END"


@register(
    "emb_ann_lsh",
    oracle=f"""
WITH planes AS (
  SELECT vec_id - 16 AS j, embedding AS plane
  FROM embeddings WHERE vec_id >= 16 AND vec_id < 20
),
coded AS (
  SELECT e.vec_id, e.embedding,
         CAST(SUM(CASE WHEN {V.dot_sql('e.embedding', 'p.plane')} > 0
                  THEN {_LSH_BITVAL} ELSE 0 END) AS BIGINT) AS bucket
  FROM embeddings e CROSS JOIN planes p
  GROUP BY e.vec_id, e.embedding
),
q AS (
  SELECT vec_id AS query_id, embedding AS query_emb, bucket
  FROM coded WHERE vec_id < 10
),
probes AS (
  {_lsh_probe_union_sql()}
)
SELECT * FROM (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         {_COS('p.query_emb', 'c.embedding')} AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY p.query_id
           ORDER BY {_COS('p.query_emb', 'c.embedding')} DESC, c.vec_id
         ) AS rank
  FROM probes p JOIN coded c ON c.bucket = p.bucket AND c.vec_id != p.query_id
) WHERE rank <= 5
""",
    doc="north-star ANN, LSH-bucketed variant: 4 sign-hyperplane bits "
        "(planes = corpus vectors 16..19, deterministic and data-derived) "
        "-> 16 buckets; queries multi-probe their bucket plus every 1-bit "
        "flip.  Same-algorithm oracle; recall pinned vs brute force in "
        "tests/test_similarity.py.  100 TB shape: coding is a broadcast of "
        "4 planes, candidates come from a bucket equi-join of ~5/16 of the "
        "corpus per query",
    # r10 driver-slot rotation: ANN family keeps IVF + PQ-ADC driver anchors.
    driver=False,
    # r14 sibling re-point: prior anchor demoted this rotation.
    # r16 sibling re-point: prior anchor sits out for the new
    # doc_dsir_importance registration.
    sibling="emb_ann_recall_curve",
)
def emb_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    # Plane set as a one-row broadcast frame (vectors at ids 16..19 in id
    # order), cross-joined onto the corpus — the planes never touch the
    # driver, and the 4-plane COUNT is config, not data, so the bit loop
    # stays static.  array_sort on (vec_id, embedding) structs orders by
    # vec_id; identical per-bit arithmetic to a literal-plane bootstrap.
    n_planes = 4
    # The bit loop is static over n_planes while the plane ARRAY is
    # data-derived, so a corpus missing any of ids 16..19 must fail LOUDLY
    # here -- element_at past the array end would either throw a cryptic
    # INVALID_ARRAY_INDEX (ANSI) or silently zero the bit (non-ANSI),
    # corrupting every bucket code.  The check lives INSIDE the planes
    # expression so column pruning can never skip it.
    planes_row = (
        e.filter((F.col("vec_id") >= 16) & (F.col("vec_id") < 20))
        .agg(F.array_sort(F.collect_list(F.struct("vec_id", "embedding"))).alias("ps"))
        .select(
            F.when(
                F.size("ps") == n_planes,
                F.transform("ps", lambda s: s["embedding"]),
            )
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("emb_ann_lsh: plane vectors 16..19 incomplete: "),
                        F.size("ps").cast("string"),
                        F.lit(" of 4 present in corpus"),
                    )
                )
            )
            .alias("planes")
        )
    )
    # Pre-computed norms on both fan-out sides (r18, guide section 1.2):
    # one fold per candidate instead of three, bit-identical.
    coded = e.crossJoin(F.broadcast(planes_row)).select(
        "vec_id",
        "embedding",
        SIM.lsh_sign_bucket("embedding", "planes", n_planes).alias("bucket"),
        V.norm_s("embedding").alias("_vn"),
    )
    q = coded.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_emb"),
        SIM.lsh_multiprobe_codes(F.col("bucket"), n_planes).alias("probe_codes"),
        F.col("_vn").alias("_qn"),
    )
    probes = q.select(
        "query_id", "query_emb", "_qn", F.explode("probe_codes").alias("bucket")
    )
    cands = probes.join(coded, "bucket").filter(F.col("query_id") != F.col("vec_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cands.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            V.cosine_with_norms("query_emb", "embedding", "_qn", "_vn").alias(
                "cosine"
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )


@register(
    "emb_top_similar_pairs",
    oracle=f"""
SELECT a.vec_id AS anchor_id, b.vec_id AS other_id, a.label,
       {_COS('a.embedding', 'b.embedding')} AS cosine
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id != b.vec_id
WHERE a.vec_id % 50 = 0
ORDER BY cosine DESC, anchor_id, other_id
LIMIT 100
""",
    doc="north-star embedding near-dup, bucketed: for a 2% anchor sample, "
        "the most-similar same-label vectors (top-100 global).  The label "
        "equi-join is the IVF-style bucketing -- pairs never cross buckets, "
        "so the join co-partitions on label instead of a corpus cross join",
    # r15 rotation: promoted for stale re-verification (tools/r15_rotation_plan.md).
    # r16 driver-slot rotation (tools/r16_rotation_plan.md): freshness
    # cycle -- multi-round veteran sits out for a stale re-verification.
    driver=False,
    # r17 sibling re-point: prior anchor demoted this rotation.
    sibling="emb_cosine_topk",
)
def emb_top_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pre-computed norms on both sides of the label-bucketed fan-out join
    # (r18, guide section 1.2): one fold per pair instead of three,
    # bit-identical.
    e = _emb(spark, sf_dir)
    a = e.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("anchor_id"), F.col("label"), F.col("embedding").alias("emb_a"),
        V.norm_s("embedding").alias("_na"),
    )
    b = e.select(
        F.col("vec_id").alias("other_id"), F.col("label").alias("label_b"),
        F.col("embedding").alias("emb_b"),
        V.norm_s("embedding").alias("_nb"),
    )
    return (
        a.join(b, (F.col("label") == F.col("label_b")) & (F.col("anchor_id") != F.col("other_id")))
        .select(
            "anchor_id", "other_id", "label",
            V.cosine_with_norms("emb_a", "emb_b", "_na", "_nb").alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "anchor_id", "other_id")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Document chunking: the training-data-prep staple the suite was missing.
# --------------------------------------------------------------------------

#: 200-token chunks advancing 150 tokens (25% overlap) -- the common
#: context-window prep shape; both constants are inlined into the oracle.
CHUNK_SIZE = 200
CHUNK_STRIDE = 150


@register(
    "doc_chunking",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents WHERE text IS NOT NULL
),
s AS (
  SELECT doc_id, toks,
         UNNEST(range(0, greatest(len(toks), 1), {CHUNK_STRIDE})) AS start
  FROM t
)
SELECT doc_id,
       CAST(start // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(len(list_slice(toks, start + 1, start + {CHUNK_SIZE})) AS BIGINT)
         AS n_tokens,
       array_to_string(list_slice(toks, start + 1, start + {CHUNK_SIZE}), ' ')
         AS chunk_text
FROM s
""",
    doc="deterministic overlapping token-window chunking (200-token chunks, "
        "150-token stride): every document explodes into ceil(n/stride) "
        "chunks keyed (doc_id, chunk_id), the last chunk short.  Plan: "
        "tokenize once, generate start offsets with sequence(), explode, "
        "array-slice -- all JVM-side codegen, no shuffle at all (chunking "
        "is embarrassingly parallel per document; the 1->N fan-out stays "
        "inside the scan stage).  At 100 TB the only knob is output "
        "partition sizing, which maxPartitionBytes already governs.  "
        "Determinism: whitespace split and slice arithmetic are identical "
        "cross-engine; chunk_id = start DIV stride needs no tiebreak.",
    # r11 driver-slot rotation: multi-round driver-green veteran demoted
    # to drain the never-checked backlog; family anchor stays driver-side.
    driver=False,
    # r14 sibling re-point: prior anchor demoted this rotation.
    sibling="doc_zipf_fit",
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # project toks FIRST so the explode's sequence bound reads the already-
    # split array -- split() both in the projection and inside the Generate
    # would re-tokenize the full document once per emitted chunk
    toked = d.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(F.col("toks")) - 1, F.lit(0)),
        F.lit(CHUNK_STRIDE),
    )
    chunk = F.slice(F.col("toks"), F.col("start") + 1, CHUNK_SIZE)
    return (
        toked.select("doc_id", "toks", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / CHUNK_STRIDE).cast("long").alias("chunk_id"),
            F.size(chunk).cast("long").alias("n_tokens"),
            F.concat_ws(" ", chunk).alias("chunk_text"),
        )
    )


@register(
    "doc_decontamination",
    oracle="""
WITH needles AS (
  SELECT doc_id AS needle_src,
         array_to_string(list_slice(string_split(text, ' '), 1, 6), ' ')
           AS needle
  FROM documents
  WHERE doc_id % 100 = 7 AND text IS NOT NULL
)
SELECT needle_src, COUNT(*) AS n_matches, MIN(doc_id) AS first_match
FROM needles
JOIN documents ON contains(text, needle)
GROUP BY needle_src
""",
    doc="benchmark decontamination: exact-substring scan of the corpus "
        "against a needle set (here: the leading 6 tokens of every 100th "
        "document, so every needle provably matches at least its source).  "
        "Plan: the needle table is benchmark-sized by definition, so the "
        "scan is ONE pass over documents with the needles broadcast -- a "
        "BroadcastNestedLoopJoin whose inner loop is |needles| substring "
        "probes per document, the same shape production decontamination "
        "(10^2-10^4 benchmark strings vs 10^9 docs) wants; per-needle "
        "aggregation is a tiny keyed shuffle.  For needle sets too big to "
        "broadcast, the n-gram route is doc_near_dup_jaccard's prefix-"
        "filter join.",
    # r17 rotation: promoted for stale re-verification (tools/r17_rotation_plan.md).
)
def doc_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    needles = d.filter(F.col("doc_id") % 100 == 7).select(
        F.col("doc_id").alias("needle_src"),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 6)).alias(
            "needle"
        ),
    )
    return (
        d.join(F.broadcast(needles), F.col("text").contains(F.col("needle")))
        .groupBy("needle_src")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("doc_id").alias("first_match"),
        )
    )


#: Sequence packing capacity (tokens per pack) for doc_sequence_packing.
PACK_CAPACITY = 2048


@register(
    "doc_sequence_packing",
    oracle=f"""
WITH sized AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
  FROM documents WHERE text IS NOT NULL
),
placed AS (
  SELECT doc_id, lang, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens
           AS start_offset
  FROM sized
)
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(start_offset // {PACK_CAPACITY} AS BIGINT) AS pack_id
FROM placed
""",
    doc="sequence packing for training batches: documents are packed "
        "contiguously into {cap}-token bins per language, each doc's bin "
        "decided by its token START OFFSET in the per-language running sum "
        "(offset-based contiguous packing: deterministic, one window pass, "
        "splittable docs spanning a boundary stay in the bin they start "
        "in).  Plan: ONE shuffle on lang for the cumulative-sum window "
        "over the doc_id order; no global sort -- the language partition "
        "is the packing domain, which is also what keeps the running sum "
        "scalable at 100 TB (a corpus-wide cumsum would serialize; "
        "per-group cumsums parallelize across the partition key).  "
        "Token counts are whitespace tokens, consistent with "
        "doc_chunking/doc_text_stats.".format(cap=PACK_CAPACITY),
    # r17 rotation: promoted for stale re-verification (tools/r17_rotation_plan.md).
)
def doc_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tables.load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    sized = d.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = sized.withColumn(
        "start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return placed.select(
        "doc_id",
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor(F.col("start_offset") / PACK_CAPACITY).alias("pack_id"),
    )


@register(
    "doc_dup_graph_triangles",
    oracle=f"""
WITH {_PREFIX_FILTER_CTES},
tri AS (
  SELECT p1.id_a AS a, p1.id_b AS b, p2.id_b AS c
  FROM pairs p1
  JOIN pairs p2 ON p2.id_a = p1.id_b
  JOIN pairs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b
)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM tri) AS n_triangles,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM
     (SELECT DISTINCT v FROM
        (SELECT a AS v FROM tri UNION ALL
         SELECT b FROM tri UNION ALL
         SELECT c FROM tri))) AS n_nodes_in_triangles
""",
    doc="graph analytics beyond components: triangle counting on the "
        "verified near-dup pair graph via the compact-forward pattern -- "
        "edges stored once as (id_a < id_b), so each triangle a<b<c is "
        "found exactly once by joining (a,b)x(b,c) and closing with "
        "(a,c).  Pure integer counting, bit-exact parity for free.  "
        "Scale: two equi-joins on vertex ids; the classic skew control "
        "(orient edges low-degree -> high-degree) is exactly what the "
        "a<b storage convention approximates on near-clique dup graphs, "
        "and the join never materializes open wedges beyond the shuffle "
        "that closes them.",
    # r12 driver-slot rotation (tools/r12_rotation_plan.md): multi-round
    # driver-green veteran; slot freed for a never-checked promotion.
    driver=False,
    sibling="doc_graph_clustering_coeff",
)
def doc_dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _jaccard_verified_pairs(spark, sf_dir).select("id_a", "id_b")
    p1 = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    p2 = pairs.select(F.col("id_a").alias("b2"), F.col("id_b").alias("c"))
    p3 = pairs.select(F.col("id_a").alias("a3"), F.col("id_b").alias("c3"))
    # r17: the node-set derivation was a THREE-way self-union -- with the
    # count branch, four replays of the two-join enumeration per run; the
    # explode form (the CC edge trick) cuts it to two.  NOT additionally
    # materialized (A/B: the checkpoint job measured slightly worse,
    # 0.52 -> 0.60 s, than the remaining one in-plan replay over the
    # memoized pair table).
    tri = (
        p1.join(p2, F.col("b") == F.col("b2"))
        .join(p3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    nodes = tri.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("v")
    ).distinct()
    counts = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    node_count = nodes.agg(F.count(F.lit(1)).alias("n_nodes_in_triangles"))
    return counts.crossJoin(F.broadcast(node_count))


def _kcore_oracle(k: int = 2, rounds: int = SIM.KCORE_UNROLL) -> str:
    """Unrolled-peel oracle for doc_graph_kcore.  Fixed-depth unroll is
    sound because peeling is idempotent at its fixed point (rounds past
    convergence remove nothing); the Spark side raises if convergence
    takes more than ``rounds``, so a too-shallow unroll fails loudly."""
    ctes = [f"alive0 AS (SELECT v FROM deg WHERE degree >= {k})"]
    for i in range(rounds):
        ctes.append(f"""alive{i + 1} AS (
  SELECT e.a AS v FROM edges e
  JOIN alive{i} x ON x.v = e.a
  JOIN alive{i} y ON y.v = e.b
  GROUP BY e.a HAVING COUNT(*) >= {k}
)""")
    joined = ",\n".join(ctes)
    return f"""WITH {_PREFIX_FILTER_CTES},
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
deg AS (
  SELECT a AS v, CAST(COUNT(*) AS BIGINT) AS degree FROM edges GROUP BY a
),
{joined}
SELECT d.doc_id,
       COALESCE(g.degree, 0) AS degree,
       CAST(a.v IS NOT NULL AS INTEGER) AS in_kcore
FROM documents d
LEFT JOIN deg g ON g.v = d.doc_id
LEFT JOIN alive{rounds} a ON a.v = d.doc_id"""


@register(
    "doc_graph_kcore",
    oracle=_kcore_oracle(),
    doc="graph analytics: 2-core decomposition of the verified near-dup "
        "graph (iterative peel of degree<2 vertices to a fixed point) -- "
        "separates dense duplicate families (template/boilerplate "
        "clusters, which survive) from the degree-1 fringe of incidental "
        "pairwise near-dups (peeled: 38/44/446 of the dup vertices at "
        "sf0.001/0.01/0.1, core 7/3/31 -- the gate exercises real peeling "
        "at every fixture scale).  Spark side loops semi-join+count rounds "
        "with per-round materialization and early exit; the oracle unrolls "
        "a FIXED number of rounds, sound because peeling is idempotent at "
        "its fixed point, and the Spark loop raises if it ever needs more "
        "rounds than the unroll.  Integer-only output, bit-exact parity "
        "for free.",
    # r13 driver-slot rotation (tools/r13_rotation_plan.md): multi-round
    # driver-green veteran; slot freed for the final backlog tranche.
    driver=False,
    sibling="doc_graph_clustering_coeff",
)
def doc_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _jaccard_verified_pairs(spark, sf_dir).select("id_a", "id_b")
    nodes = _docs(spark, sf_dir).select(F.col("doc_id").alias("v"))
    edges = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    out = SIM.kcore_membership(nodes, edges, k=2)
    return out.select(F.col("v").alias("doc_id"), "degree", "in_kcore")


#: Johnson-Lindenstrauss projection: target dimension and the deterministic
#: +-1 sign matrix (Achlioptas-style), derived from md5 of the (out_dim,
#: in_dim) index pair at PLAN BUILD time -- an engine-independent constant
#: both the Spark builder and the DuckDB oracle embed as literals, so the
#: projection is bit-identical across engines by construction.
JL_DIMS = 16
_JL_IN_DIMS = 64


def _jl_signs() -> list[list[int]]:
    import hashlib

    return [
        [
            1 if hashlib.md5(f"{d}|{j}".encode()).digest()[0] & 1 else -1
            for j in range(_JL_IN_DIMS)
        ]
        for d in range(JL_DIMS)
    ]


def _jl_oracle() -> str:
    signs = _jl_signs()
    projs = []
    for d in range(JL_DIMS):
        lst = "[" + ", ".join(f"{float(s)}" for s in signs[d]) + "]"
        projs.append(V.dot_sql("embedding", lst))
    sq_sum = " + ".join(f"(p{d} * p{d})" for d in range(JL_DIMS))
    proj_cols = ",\n         ".join(f"{p} AS p{d}" for d, p in enumerate(projs))
    return f"""WITH e AS (
  SELECT vec_id, embedding FROM embeddings
),
proj AS (
  SELECT vec_id, {V.norm_sql('embedding')} AS orig_norm,
         {proj_cols}
  FROM e
)
SELECT vec_id, orig_norm,
       sqrt({sq_sum}) AS proj_norm,
       CASE WHEN orig_norm > 0.0
            THEN (sqrt({sq_sum}) / 4.0) / orig_norm END AS distortion
FROM proj"""


@register(
    "emb_random_projection",
    oracle=_jl_oracle(),
    doc="dimensionality reduction: Johnson-Lindenstrauss random projection "
        "64 -> 16 dims with a deterministic Achlioptas +-1 sign matrix "
        "(md5-derived plan-time constant, embedded as literals in BOTH "
        "engines), emitting a per-vector DISTORTION CERTIFICATE: original "
        "norm, projected norm, and the 1/sqrt(k)-corrected norm ratio -- "
        "the quantity JL bounds around 1.  Every fold is the sequential "
        "zip-multiply-accumulate from functions/vectors.py mirrored by "
        "DuckDB list_reduce, so even this float-heavy query is value-hash "
        "checked.  tests/test_similarity.py pins the mean |distortion-1| "
        "(the executable form of the JL accuracy claim, like the MinHash "
        "certificate).  Scale: a narrow per-row map -- no shuffle at all; "
        "the sign matrix is config, not data.",
    # r13 rotation: promoted to the driver surface (tools/r13_rotation_plan.md).
    # r14 interim demote: the new emb_mmr_diversified_topk registration
    # must take a driver slot in its first round (freshness-era lint
    # rule) and the non-anchor veteran pool is reserved by the r15 plan;
    # once-green is the rule-1 minimum.  Sibling: the vector-indexing /
    # compression family anchor, refreshed this round.
    driver=False,
    # r16 sibling re-point: prior anchor sits out for the new
    # doc_dsir_importance registration.
    sibling="emb_ann_recall_curve",
)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    signs = _jl_signs()
    # Plan-construction cost (r17): the 16x64 sign matrix as F.lit columns
    # was ~7,000 py4j round-trips (~2.5 s of builder time per bench repeat,
    # profiled); the string form parses the same literals/folds in 17
    # F.expr calls.  Same expression tree, same bits -- see
    # vectors.dot_expr/array_lit.
    projs = [
        V.dot_s("embedding", V.array_lit(signs[d])).alias(f"p{d}")
        for d in range(JL_DIMS)
    ]
    proj = e.select("vec_id", V.norm_s("embedding").alias("orig_norm"), *projs)
    sq_sum = F.expr(" + ".join(f"(p{d} * p{d})" for d in range(JL_DIMS)))
    proj_norm = F.sqrt(sq_sum)
    return proj.select(
        "vec_id",
        "orig_norm",
        proj_norm.alias("proj_norm"),
        F.when(
            F.col("orig_norm") > 0.0, (proj_norm / F.lit(4.0)) / F.col("orig_norm")
        ).alias("distortion"),
    )


@register(
    "doc_graph_clustering_coeff",
    oracle=f"""
WITH {_PREFIX_FILTER_CTES},
tri AS (
  SELECT p1.id_a AS a, p1.id_b AS b, p2.id_b AS c
  FROM pairs p1
  JOIN pairs p2 ON p2.id_a = p1.id_b
  JOIN pairs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b
),
tcnt AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
    SELECT a AS v FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY v
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
deg AS (
  SELECT a AS v, CAST(COUNT(*) AS BIGINT) AS degree FROM edges GROUP BY a
)
SELECT d.doc_id,
       COALESCE(g.degree, 0) AS degree,
       COALESCE(t.n_tri, 0) AS n_tri,
       CASE WHEN COALESCE(g.degree, 0) >= 2
            THEN CAST(2 * COALESCE(t.n_tri, 0) AS DOUBLE)
                   / CAST(g.degree * (g.degree - 1) AS DOUBLE)
            ELSE 0.0 END AS clustering_coeff
FROM documents d
LEFT JOIN deg g ON g.v = d.doc_id
LEFT JOIN tcnt t ON t.v = d.doc_id
""",
    doc="graph analytics: per-node local clustering coefficient on the "
        "verified near-dup graph -- triangles through each vertex (from "
        "the compact-forward triangle list, so each triangle is counted "
        "once per member) over its open-wedge count deg*(deg-1)/2.  "
        "Distinguishes template families (coeff ~1: my neighbors "
        "duplicate each other) from hub-like boilerplate (low coeff: I "
        "match many documents that don't match each other) -- the signal "
        "a curation pass uses to pick CLUSTER removal vs document "
        "removal.  All-integer counts plus one exact int/int division; "
        "same two-equi-join triangle plan as doc_dup_graph_triangles.",
    # r12 rotation: promoted to the driver surface (tools/r12_rotation_plan.md).
)
def doc_graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _jaccard_verified_pairs(spark, sf_dir).select("id_a", "id_b")
    d = _docs(spark, sf_dir).select(F.col("doc_id"))
    return clustering_coeff_from_pairs(d.select(F.col("doc_id").alias("v")), pairs).select(
        F.col("v").alias("doc_id"), "degree", "n_tri", "clustering_coeff"
    )


def clustering_coeff_from_pairs(vertices: DataFrame, pairs: DataFrame) -> DataFrame:
    """Local clustering coefficient proper -- factored out of the registered
    builder (mirroring ``pagerank_from_pairs``) so the differential graph
    fuzzer (tests/test_graph_fuzz.py, r11 VERDICT item 7) can drive the REAL
    compact-forward triangle join on arbitrary synthetic graphs.

    ``vertices`` is one generic ``v`` column (the full vertex universe --
    vertices with no edges get degree 0 / coeff 0.0); ``pairs`` is the
    deduped a<b undirected edge list ``(id_a, id_b)``.  Returns
    ``(v, degree, n_tri, clustering_coeff)``."""
    p1 = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    p2 = pairs.select(F.col("id_a").alias("b2"), F.col("id_b").alias("c"))
    p3 = pairs.select(F.col("id_a").alias("a3"), F.col("id_b").alias("c3"))
    tri = (
        p1.join(p2, F.col("b") == F.col("b2"))
        .join(p3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    tcnt = (
        tri.select(F.col("a").alias("v"))
        .unionAll(tri.select(F.col("b").alias("v")))
        .unionAll(tri.select(F.col("c").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    und = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("a"), F.col("id_b").alias("b")),
                F.struct(F.col("id_b").alias("a"), F.col("id_a").alias("b")),
            )
        ).alias("e")
    ).select("e.a")
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("degree")).select(
        F.col("a").alias("v"), "degree"
    )
    degree = F.coalesce("degree", F.lit(0).cast("long"))
    n_tri = F.coalesce("n_tri", F.lit(0).cast("long"))
    return (
        vertices.join(deg, ["v"], "left")
        .join(tcnt, ["v"], "left")
        .select(
            "v",
            degree.alias("degree"),
            n_tri.alias("n_tri"),
            F.when(
                degree >= 2,
                (F.lit(2) * n_tri).cast("double")
                / (F.col("degree") * (F.col("degree") - F.lit(1))).cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


def _minhash_match_count_sql() -> str:
    return " + ".join(
        f"CAST(x.h{i} = y.h{i} AS INTEGER)" for i in range(SIM.NUM_HASHES)
    )


@register(
    "doc_minhash_estimate_certificate",
    oracle=f"""
WITH docs AS (
  SELECT doc_id, {_SHINGLES} AS sh FROM documents
),
sigs AS (
  SELECT doc_id, sh,
         {_minhash_sig_sql()}
  FROM docs
),
banded AS (
  {_band_union_sql()}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN banded b ON a.band_id = b.band_id AND a.band_val = b.band_val
              AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, est_jaccard, exact_jaccard,
       abs(est_jaccard - exact_jaccard) AS abs_err,
       abs(est_jaccard - exact_jaccard) <= 0.375 AS within_tol
FROM (
  SELECT c.id_a AS doc_a, c.id_b AS doc_b,
         (CAST(({_minhash_match_count_sql()}) AS DOUBLE)
            / CAST({SIM.NUM_HASHES} AS DOUBLE)) AS est_jaccard,
         {_JACCARD_SQL} AS exact_jaccard
  FROM cand c
  JOIN sigs x ON x.doc_id = c.id_a
  JOIN sigs y ON y.doc_id = c.id_b
)
""",
    doc="MinHash accuracy certificate (the sketch-certificate pattern the "
        "HLL and CMS entries follow): every LSH candidate pair carries its "
        "ESTIMATED Jaccard (matching signature components / 8) next to the "
        "exact set Jaccard, plus the absolute error and a 3-sigma-ish "
        "tolerance flag (std <= sqrt(J(1-J)/8) ~ 0.177, tol 0.375).  Both "
        "columns are exact int/int divisions, the error an exact IEEE "
        "difference -- fully hash-matched, unlike typical sketch demos "
        "that can only be eyeballed.  tests/test_similarity.py pins the "
        "MEAN error below 0.15 on the fixture, making the accuracy claim "
        "executable, not prose.",
    # r17 rotation: promoted for stale re-verification (tools/r17_rotation_plan.md).
)
def doc_minhash_estimate_certificate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_shingled(spark, sf_dir)
    sigs = docs.withColumn("sig", SIM.minhash_signature("sh"))
    cand = SIM.lsh_candidate_pairs(sigs)
    x = sigs.select(
        F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"),
        F.col("sig").alias("sig_a"),
    )
    y = sigs.select(
        F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"),
        F.col("sig").alias("sig_b"),
    )
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda a, b: a == b),
            lambda m: m,
        )
    )
    est = matches.cast("double") / F.lit(SIM.NUM_HASHES).cast("double")
    exact = SIM.jaccard(F.col("sh_a"), F.col("sh_b"))
    j = (
        cand.join(x, "id_a")
        .join(y, "id_b")
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            est.alias("est_jaccard"),
            exact.alias("exact_jaccard"),
        )
    )
    err = F.abs(F.col("est_jaccard") - F.col("exact_jaccard"))
    return j.select(
        "doc_a", "doc_b", "est_jaccard", "exact_jaccard",
        err.alias("abs_err"),
        (err <= F.lit(0.375)).alias("within_tol"),
    )


# --------------------------------------------------------------------------
# Product quantization + asymmetric distance computation (round 8)
# --------------------------------------------------------------------------

#: PQ knobs (fixture embeddings are 64-dim): M subspaces x SUBDIM dims,
#: K centroids per subspace codebook, seed codebook = subvectors of
#: vec_id < K (same seed convention as the untrained emb_ann_ivf).
PQ_M = 8
PQ_SUBDIM = 8
PQ_K = 16
PQ_TOPK = 5
PQ_SHORTLIST = 20
PQ_NQUERIES = 10


def _pq_oracle() -> str:
    subs = []
    for m in range(PQ_M):
        lo, hi = m * PQ_SUBDIM + 1, (m + 1) * PQ_SUBDIM
        subs.append(
            f"SELECT vec_id, {m} AS m, emb[{lo}:{hi}] AS sv FROM e"
        )
    sub_union = "\nUNION ALL ".join(subs)
    l2 = _l2sq_sql
    return f"""WITH e AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS emb
  FROM embeddings
), sub AS (
  {sub_union}
), cb AS (
  SELECT m, vec_id AS cent_id, sv AS cent_sv FROM sub WHERE vec_id < {PQ_K}
), codes AS (
  SELECT vec_id, m, cent_id AS code FROM (
    SELECT s.vec_id, s.m, c.cent_id,
           ROW_NUMBER() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY {l2('s.sv', 'c.cent_sv')} ASC, c.cent_id
           ) AS rn
    FROM sub s JOIN cb c ON c.m = s.m
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, m, sv AS q_sv FROM sub
  WHERE vec_id < {PQ_NQUERIES}
), dt AS (
  SELECT q.query_id, c.m, c.cent_id, {l2('q.q_sv', 'c.cent_sv')} AS term
  FROM q JOIN cb c ON c.m = q.m
), terms AS (
  SELECT d.query_id, k.vec_id AS neighbor_id,
         list(d.term ORDER BY d.m) AS ts
  FROM codes k JOIN dt d ON d.m = k.m AND d.cent_id = k.code
  WHERE d.query_id <> k.vec_id
  GROUP BY d.query_id, k.vec_id
), scored AS (
  SELECT query_id, neighbor_id,
         list_reduce(ts, (x, y) -> x + y) AS adc_dist
  FROM terms
), shortlist AS (
  SELECT query_id, neighbor_id, adc_dist FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id
    ) AS arn FROM scored
  ) WHERE arn <= {PQ_SHORTLIST}
)
SELECT query_id, neighbor_id, l2_dist, adc_dist, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT s.query_id, s.neighbor_id, s.adc_dist,
         {l2('eq.emb', 'en.emb')} AS l2_dist,
         ROW_NUMBER() OVER (
           PARTITION BY s.query_id
           ORDER BY {l2('eq.emb', 'en.emb')} ASC, s.neighbor_id
         ) AS rank
  FROM shortlist s
  JOIN e eq ON eq.vec_id = s.query_id
  JOIN e en ON en.vec_id = s.neighbor_id
) WHERE rank <= {PQ_TOPK}"""


@register(
    "emb_pq_adc",
    oracle=_pq_oracle(),
    doc="Product quantization + asymmetric distance computation with "
        "exact shortlist re-rank (the IVF-PQ architecture): each 64-dim "
        "vector is encoded as M=8 sub-codes (one argmin-L2 codebook of "
        "K=16 per 8-dim subspace; 4 bits/code => 4 bytes per vector vs "
        "256 raw, a 64x compression).  The SCAN runs entirely on the "
        "code table: per query, an M x K distance table of subspace L2 "
        "terms is computed once against the codebooks, each candidate's "
        "ADC distance is the m-ordered sequential fold of its codes' "
        "table entries, and only the ADC top-PQ_SHORTLIST survivors are "
        "re-ranked by exact L2 against their raw vectors -- |Q| x 20 "
        "vector fetches, not a corpus scan.  At 100 TB the float vectors "
        "stay cold behind the 64x-smaller code table and the distance "
        "tables (|Q| x M x K doubles) ride a broadcast.  Seed codebooks "
        "(subvectors of vec_id < K, the emb_ann_ivf convention) keep the "
        "oracle a single unroll; the Lloyd-trained drop-in is "
        "similarity.ivf_train per subspace, exactly as "
        "emb_ann_ivf_trained layers it over the same seed.  Recall vs "
        "exact L2 top-k is pinned in tests/test_similarity.py (0.56 "
        "measured on the isotropic fixture -- the hardest case for a "
        "quantizer; clustered real embeddings quantize far tighter).",
    # r13 driver-slot rotation (tools/r13_rotation_plan.md): multi-round
    # driver-green veteran; slot freed for the final backlog tranche.
    driver=False,
    # r14 interim re-point: emb_random_projection sits out for the new
    # MMR registration; the PQ anchor moves to the refreshed IVF entry.
    # r16 sibling re-point: prior anchor sits out for the new
    # doc_dsir_importance registration.
    sibling="emb_ann_recall_curve",
)
def emb_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tables.load(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda v: v.cast("double")).alias("emb"),
    )
    slices = F.array(
        *[
            F.slice(F.col("emb"), m * PQ_SUBDIM + 1, PQ_SUBDIM)
            for m in range(PQ_M)
        ]
    )
    sub = e.select("vec_id", F.posexplode(slices).alias("m", "sv"))
    # NOT collect-rebroadcast (r17 A/B): cb is constant-bounded (M x K =
    # 128 subvector rows) and consumed by two broadcast sites, so the
    # ivf_train collect-and-rebroadcast pattern looked applicable -- but
    # it measured WORSE (1.37 -> 2.16 s min-of-3 at sf0.1): the eager
    # collect job per run costs more than the two in-plan re-derivations,
    # which are pushdown-pruned (vec_id < K) scans running in parallel
    # inside the one final job.
    cb = sub.filter(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").alias("cent_id"), F.col("sv").alias("cent_sv")
    )

    def _l2sq(a, b):
        diff = F.zip_with(
            a, b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        )
        return F.aggregate(diff, F.lit(0.0), lambda x, y: x + y)

    # Argmin as a map-side-combinable MIN aggregate (r17, guide section
    # 2.3): min(struct(d2, cent_id)) is the lexicographic minimum -- the
    # exact row the old row_number()-over-(d2 ASC, cent_id ASC) window
    # picked -- but partial-aggregates before the shuffle instead of
    # shipping all |corpus| x M x K candidate rows to a sort+window.
    codes = (
        sub.join(F.broadcast(cb), "m")
        .select(
            "vec_id", "m", "cent_id",
            _l2sq(F.col("sv"), F.col("cent_sv")).alias("d2"),
        )
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct("d2", "cent_id")).alias("best"))
        .select("vec_id", "m", F.col("best.cent_id").alias("code"))
    )
    q = sub.filter(F.col("vec_id") < PQ_NQUERIES).select(
        F.col("vec_id").alias("query_id"), "m", F.col("sv").alias("q_sv")
    )
    dt = q.join(F.broadcast(cb), "m").select(
        "query_id", "m", "cent_id",
        _l2sq(F.col("q_sv"), F.col("cent_sv")).alias("term"),
    )
    terms = (
        codes.join(
            F.broadcast(dt),
            (codes["m"] == dt["m"]) & (codes["code"] == dt["cent_id"])
            & (dt["query_id"] != codes["vec_id"]),
        )
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"),
            codes["m"].alias("m"), "term",
        )
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("m", "term"))).alias("ts")
        )
    )
    # mirror DuckDB list_reduce: fold starts FROM the first element
    n = F.size(F.col("ts"))
    adc = F.aggregate(
        F.slice(F.col("ts"), 2, n - 1),
        F.element_at(F.col("ts"), 1)["term"],
        lambda acc, s: acc + s["term"],
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    shortlist = (
        terms.select("query_id", "neighbor_id", adc.alias("adc_dist"))
        .withColumn("arn", F.row_number().over(wa))
        .filter(F.col("arn") <= PQ_SHORTLIST)
        .drop("arn")
    )
    # exact re-rank of the shortlist: the only point where raw vectors are
    # touched at query time -- |Q| x PQ_SHORTLIST rows, not the corpus
    eq = e.select(F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb"))
    en = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("n_emb")
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.asc("l2_dist"), F.asc("neighbor_id")
    )
    return (
        shortlist.join(F.broadcast(eq), "query_id")
        .join(en, "neighbor_id")
        .select(
            "query_id", "neighbor_id",
            _l2sq(F.col("q_emb"), F.col("n_emb")).alias("l2_dist"),
            "adc_dist",
        )
        .withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= PQ_TOPK)
    )


# --------------------------------------------------------------------------
# PageRank over the dup graph (round 8)
# --------------------------------------------------------------------------

#: Fixed damping and iteration count (unrolled in the oracle; the canonical
#: d=0.85).  Literals go through the CAST('repr' AS DOUBLE) route on the
#: SQL side so both engines hold the identical double.
PR_D = 0.85
PR_ITERS = 3
#: Src-range bucket count for the hub-safe two-level contribution fold:
#: per (dst, src%PR_BUCKETS) partial fold first, then a fold of the
#: bucket partials in bucket order.  Row width is bounded by
#: max(in_deg / PR_BUCKETS, PR_BUCKETS) instead of in_deg -- a 10^6-degree
#: hub holds ~10^3-entry arrays (O(sqrt(deg)) at that scale) where the
#: single-level fold held 10^6.  Both engines compute the bucket as
#: ``src % 1024`` (doc ids are non-negative BIGINT, so % agrees).
PR_BUCKETS = 1024


def _pr_d(v: float) -> str:
    return f"CAST('{v!r}' AS DOUBLE)"


def _pagerank_oracle(
    pairs_ctes: str | None = None, vertex_col: str = "doc_id"
) -> str:
    """Unrolled PageRank oracle over a ``pairs(id_a, id_b)`` CTE; the
    pairs prefix defaults to the dup-graph's verified near-dup pairs and
    is parameterized so other graphs (part_copurchase_pagerank) reuse
    the identical two-level-fold chain."""
    ctes = [f"""edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs
), verts AS (
  SELECT DISTINCT src AS v FROM edges
), nv AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM verts
), deg AS (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
), r0 AS (
  SELECT v, {_pr_d(1.0)} / CAST(n AS DOUBLE) AS rank FROM verts, nv
)"""]
    base = _pr_d(1.0 - PR_D)
    damp = _pr_d(PR_D)
    for i in range(PR_ITERS):
        ctes.append(f"""r{i + 1} AS (
  SELECT t.v, ({base} / CAST(nv.n AS DOUBLE)) + {damp} * t.s AS rank
  FROM (
    SELECT p.v,
           list_reduce(list(p.sb ORDER BY p.b), (x, y) -> x + y) AS s
    FROM (
      SELECT e.dst AS v, e.src % {PR_BUCKETS} AS b,
             list_reduce(list(r.rank / CAST(d.deg AS DOUBLE) ORDER BY e.src),
                         (x, y) -> x + y) AS sb
      FROM edges e
      JOIN deg d ON d.src = e.src
      JOIN r{i} r ON r.v = e.src
      GROUP BY e.dst, e.src % {PR_BUCKETS}
    ) p
    GROUP BY p.v
  ) t, nv
)""")
    joined = ",\n".join(ctes)
    prefix = pairs_ctes if pairs_ctes is not None else _PREFIX_FILTER_CTES
    return f"""WITH {prefix},
{joined}
SELECT r.v AS {vertex_col}, d.deg, r.rank AS pagerank
FROM r{PR_ITERS} r JOIN deg d ON d.src = r.v"""


@register(
    "doc_dup_graph_pagerank",
    oracle=_pagerank_oracle(),
    doc="PageRank (3 fixed iterations, d=0.85) over the exact-verified "
        "near-dup graph -- the canonical iterative graph workload, "
        "surfacing hub boilerplate the way triangles/k-core surface "
        "template families.  Determinism discipline matches the Lloyd/CC "
        "machinery: per-vertex incoming mass is a SEQUENTIAL fold over a "
        "fixed TWO-LEVEL total order -- src-ordered sub-fold per "
        "src%PR_BUCKETS bucket, then the bucket partials folded in "
        "bucket order (mirrored by the oracle's nested ORDER BY "
        "list_reduce) -- every constant rides the CAST('repr' AS DOUBLE) "
        "literal route, and the oracle unrolls the loop one CTE pair "
        "per iteration.  The undirected dup graph has no dangling "
        "vertices (every vertex carries its own edge), so total mass "
        "stays 1 and the iteration is a pure join-aggregate with "
        "map-side partial aggregation on both levels.  Scale: work per "
        "round is O(edges) and NO row holds more than "
        "max(in_deg/PR_BUCKETS, PR_BUCKETS) entries, so a power-law hub "
        "vertex cannot blow a single row up to its full in-degree (the "
        "r8 single-level fold's hazard; star-graph width probe in "
        "SCALING.md).",
    # r14 driver-slot rotation (tools/r14_rotation_plan.md): freshness
    # cycle -- multi-round veteran sits out for a stale re-verification.
    driver=False,
    sibling="part_copurchase_pagerank",
)
def doc_dup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _jaccard_verified_pairs(spark, sf_dir).select("id_a", "id_b")
    return pagerank_from_pairs(pairs).select(
        F.col("v").alias("doc_id"), "deg", "pagerank"
    )


def pagerank_from_pairs(pairs: DataFrame) -> DataFrame:
    """The PageRank iteration proper over an undirected pair list
    ``(id_a, id_b)`` -- factored out of the registered builder so the
    star-graph hub probe (tools/scale_probe_graph.py) exercises the REAL
    fold on synthetic edges.  Returns a GENERIC vertex column
    ``(v, deg, pagerank)``; each registered caller aliases ``v`` to
    its graph's key (doc_id for the dup graph, part_key for
    co-purchase), mirrored by its oracle's vertex_col (r10 ADVICE: a
    lineitem/parts graph must not ship a doc_id column)."""
    edges0 = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    # deg is needed by every iteration AND by the final projection:
    # materialize ONCE instead of re-deriving the groupBy per round
    deg = materialize(edges0.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))
    # r17 (guide section 2.4, remove shuffles outright): deg is STATIC
    # across rounds, so pre-join it into the materialized edge table once
    # -- each unrolled round then joins edges with only the previous
    # rank table instead of re-running the same edges|x|deg join three
    # times (3 deg joins -> 1; at cluster scale that is one O(E) shuffle
    # or broadcast-probe pass per round removed).  Values are unchanged:
    # the join only ATTACHES deg, and rank/deg division per edge is the
    # same expression on the same rows.
    edges = materialize(edges0.join(deg, "src"))
    verts = edges.select(F.col("src").alias("v")).distinct()
    nv = verts.agg(F.count(F.lit(1)).alias("n"))
    n_d = F.col("n").cast("double")
    # Unlike connected_components' data-dependent loop, the rank lineage
    # grows LINEARLY over a fixed PR_ITERS=3 unroll (each round reads the
    # previous r exactly once), so no per-round materialization is needed
    # -- Catalyst plans the whole unroll as one job and the per-round
    # action overhead disappears (measured: 5.08s -> see commit).
    r = verts.crossJoin(F.broadcast(nv)).select(
        "v", (F.lit(1.0) / n_d).alias("rank")
    )
    for _ in range(PR_ITERS):
        # Hub-safe two-level deterministic fold (VERDICT r8 item 2): the
        # single-level sorted-collect held the vertex's FULL in-contribution
        # list in one row (O(in_deg) width -- a power-law-hub hazard).  Now
        # level 1 folds per (dst, src % PR_BUCKETS) in src order, level 2
        # folds the bucket partials in bucket order; both groupBys keep
        # map-side partial aggregation, rows are bounded by
        # max(in_deg/PR_BUCKETS, PR_BUCKETS), and the nested order is a
        # fixed engine-independent total order mirrored by the oracle's
        # two-level ORDER BY list_reduce.
        inc = (
            edges
            .join(r.select(F.col("v").alias("src"), "rank"), "src")
            .select(
                F.col("dst").alias("v"),
                F.pmod(F.col("src"), F.lit(PR_BUCKETS)).alias("b"),
                F.struct(
                    F.col("src"),
                    (F.col("rank") / F.col("deg").cast("double")).alias("c"),
                ).alias("sc"),
            )
        )
        part = inc.groupBy("v", "b").agg(
            F.array_sort(F.collect_list("sc")).alias("cs")
        )
        # expr-string folds (r17 plan-construction optimization): same
        # sequential trees, one parse each instead of ~50 py4j calls.
        sb = F.expr(
            "aggregate(slice(cs, 2, size(cs) - 1), element_at(cs, 1).c, "
            "(acc, x) -> acc + x.c)"
        )
        summed = (
            part.select(
                "v", F.struct(F.col("b"), sb.alias("s")).alias("bs")
            )
            .groupBy("v")
            .agg(F.array_sort(F.collect_list("bs")).alias("bss"))
        )
        s = F.expr(
            "aggregate(slice(bss, 2, size(bss) - 1), element_at(bss, 1).s, "
            "(acc, x) -> acc + x.s)"
        )
        r = summed.crossJoin(F.broadcast(nv)).select(
            "v",
            ((F.lit(1.0 - PR_D) / n_d) + F.lit(PR_D) * s).alias("rank"),
        )
    return r.join(deg, r["v"] == deg["src"]).select(
        "v", "deg", F.col("rank").alias("pagerank")
    )


#: Seed selector for doc_graph_bfs_hops: every BFS_SEED_MOD-th document.
BFS_SEED_MOD = 17


def _bfs_oracle(rounds: int = SIM.BFS_UNROLL) -> str:
    """Unrolled level-relaxation oracle for doc_graph_bfs_hops.  The
    oracle re-expands the whole reached set each round and min-folds --
    O(reached * deg) per round, fine for an oracle -- while the Spark
    side expands frontiers only; both compute min-hop <= ``rounds``
    exactly, and rounds past the graph's seed-eccentricity relax nothing
    (fixed point), so the fixed unroll matches the early-exiting loop."""
    ctes = [
        "reach0 AS (SELECT v, CAST(0 AS BIGINT) AS hop FROM seeds)"
    ]
    for i in range(rounds):
        ctes.append(f"""reach{i + 1} AS (
  SELECT v, MIN(hop) AS hop FROM (
    SELECT v, hop FROM reach{i}
    UNION ALL
    SELECT e.b AS v, r.hop + 1 AS hop
    FROM reach{i} r JOIN edges e ON e.a = r.v
  ) GROUP BY v
)""")
    joined = ",\n".join(ctes)
    return f"""WITH {_PREFIX_FILTER_CTES},
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
seeds AS (
  SELECT doc_id AS v FROM documents WHERE doc_id % {BFS_SEED_MOD} = 0
),
{joined}
SELECT d.doc_id, COALESCE(r.hop, -1) AS hop
FROM documents d LEFT JOIN reach{rounds} r ON r.v = d.doc_id"""


@register(
    "doc_graph_bfs_hops",
    oracle=_bfs_oracle(),
    doc="Bounded multi-source BFS over the verified near-dup graph: hop "
        "distance from the nearest seed document (every {m}th doc_id) "
        "within {h} hops; -1 marks unreached -- the graph-traversal "
        "primitive behind 'how far is this document from a known-bad/"
        "known-good set' contamination-radius walks.  Completes the "
        "graph family's traversal axis next to the fixed-point ops "
        "(components, k-core, PageRank).  Spark side is level-"
        "synchronous FRONTIER expansion (operators/similarity.bfs_hops): "
        "per level one frontier-to-edges equi-join plus one anti-join "
        "against visited, rounds materialized with staged reclamation, "
        "early exit on an empty frontier; the oracle unrolls the same "
        "bound as whole-set min-relaxation, sound because extra rounds "
        "past the seed eccentricity are fixed-point no-ops (mirror of "
        "the k-core unroll argument).  Pure integer hops: bit-exact "
        "parity for free.".format(m=BFS_SEED_MOD, h=SIM.BFS_UNROLL),
    # r12 driver-slot rotation (tools/r12_rotation_plan.md): multi-round
    # driver-green veteran; slot freed for a never-checked promotion.
    driver=False,
    # r14 sibling re-point: prior anchor demoted this rotation.
    sibling="doc_graph_clustering_coeff",
)
def doc_graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _jaccard_verified_pairs(spark, sf_dir).select("id_a", "id_b")
    nodes = _docs(spark, sf_dir).select(F.col("doc_id").alias("v"))
    seeds = _docs(spark, sf_dir).filter(
        F.col("doc_id") % BFS_SEED_MOD == 0
    ).select(F.col("doc_id").alias("v"))
    edges = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    out = SIM.bfs_hops(nodes, edges, seeds)
    return out.select(F.col("v").alias("doc_id"), "hop")


def _lpa_oracle(rounds: int = SIM.LPA_ROUNDS) -> str:
    """Unrolled synchronous frequency-LPA oracle: each round every vertex
    with neighbors takes the most frequent neighbor label (count DESC,
    then min label); isolated vertices keep theirs.  A FIXED round count
    on both sides is the whole parity argument -- synchronous LPA has no
    fixed-point guarantee (period-2 oscillations exist), so the spec IS
    'exactly R synchronous rounds', which unrolls mechanically."""
    ctes = ["lbl0 AS (SELECT doc_id AS v, doc_id AS lbl FROM documents)"]
    for i in range(rounds):
        ctes.append(f"""nbr{i + 1} AS (
  SELECT e.a AS v, l.lbl FROM edges e JOIN lbl{i} l ON l.v = e.b
), cnt{i + 1} AS (
  SELECT v, lbl, COUNT(*) AS c FROM nbr{i + 1} GROUP BY v, lbl
), pick{i + 1} AS (
  SELECT v, lbl FROM (
    SELECT v, lbl,
           row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl) AS rn
    FROM cnt{i + 1}
  ) WHERE rn = 1
), lbl{i + 1} AS (
  SELECT l.v, COALESCE(p.lbl, l.lbl) AS lbl
  FROM lbl{i} l LEFT JOIN pick{i + 1} p ON p.v = l.v
)""")
    joined = ",\n".join(ctes)
    return f"""WITH {_PREFIX_FILTER_CTES},
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
{joined}
SELECT v AS doc_id, lbl AS community,
       COUNT(*) OVER (PARTITION BY lbl) AS community_size
FROM lbl{rounds}"""


@register(
    "doc_graph_label_propagation",
    oracle=_lpa_oracle(),
    doc="Community detection over the verified near-dup graph: {r} rounds "
        "of SYNCHRONOUS frequency-based label propagation (most frequent "
        "neighbor label, ties to the smallest -- a deterministic total "
        "order), isolated vertices keeping their own label.  Where "
        "connected components labels whole components, the frequency "
        "vote splits weakly-bridged components into dense duplicate "
        "communities -- the partitioning a curation pipeline wants when "
        "one spurious edge chains two unrelated template families.  "
        "Fixed round count on BOTH sides because synchronous LPA can "
        "oscillate (no fixed point to converge to), making 'exactly R "
        "rounds' the only well-defined cross-engine spec; the oracle "
        "unrolls it mechanically.  Scale (operators/similarity."
        "label_propagation): per round one labels-onto-edges equi-join, "
        "one (v,label) count with map-side combine, one bounded "
        "row_number top-1 and one left join, all co-partitioned on the "
        "vertex id; the frequency table is O(degree) ROWS per vertex, "
        "never a collected array -- hub-safe, unlike a collect_list "
        "fold.".format(r=SIM.LPA_ROUNDS),
    # r11 driver-slot rotation: promoted -- frequency-LPA community detection, first driver check.
    # r14 driver-slot rotation (tools/r14_rotation_plan.md): freshness
    # cycle -- multi-round veteran sits out for a stale re-verification.
    driver=False,
    sibling="doc_graph_clustering_coeff",
)
def doc_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _jaccard_verified_pairs(spark, sf_dir).select("id_a", "id_b")
    nodes = _docs(spark, sf_dir).select(F.col("doc_id").alias("v"))
    edges = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    lbl = SIM.label_propagation(nodes, edges)
    sizes = lbl.groupBy("lbl").agg(F.count(F.lit(1)).alias("community_size"))
    return lbl.join(sizes, "lbl").select(
        F.col("v").alias("doc_id"),
        F.col("lbl").alias("community"),
        "community_size",
    )


@register(
    "doc_dedup_keep_best",
    oracle=f"""
WITH RECURSIVE {_PREFIX_FILTER_CTES},
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT doc_id AS v, doc_id AS u FROM documents
  UNION
  SELECT r.v, e.b AS u FROM reach r JOIN edges e ON e.a = r.u
),
lbl AS (
  SELECT v AS doc_id, MIN(u) AS cluster_id FROM reach GROUP BY v
)
SELECT l.doc_id, l.cluster_id, d.n_chars,
       CAST(row_number() OVER (
         PARTITION BY l.cluster_id ORDER BY d.n_chars DESC, l.doc_id
       ) = 1 AS BIGINT) AS keep
FROM lbl l JOIN documents d ON d.doc_id = l.doc_id
""",
    doc="The dedup DECISION step the cluster labeling exists for: within "
        "each connected near-dup cluster keep exactly one document, "
        "chosen by QUALITY (longest n_chars, doc_id tiebreak) rather "
        "than doc_dedup_clusters' min-id canonical -- 'keep the best "
        "copy, drop the rest' is what an LLM training pipeline actually "
        "materializes, and keeping the longest near-dup retains the "
        "superset copy of partially-overlapping boilerplate.  Output is "
        "a per-document keep/drop verdict with its cluster and quality "
        "key, ready to semi-join the corpus.  Plan: the shared CC "
        "labeling plus one n_chars lookup join and one per-cluster "
        "row_number (bounded by cluster size); singleton clusters pass "
        "through keep=1.  Composes the driver-checked doc_dedup_clusters "
        "chain, adding only the argmax.",
    # r11 driver-slot rotation: promoted -- quality-ranked cluster representative, first driver check.
    # r17 driver-slot rotation (tools/r17_rotation_plan.md): freshness
    # cycle -- multi-round veteran sits out for a stale re-verification.
    driver=False,
    sibling="doc_curation_funnel",
)
def doc_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _dedup_labels(spark, sf_dir)
    quality = _docs(spark, sf_dir).select("doc_id", "n_chars")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        labels.select(
            F.col("v").alias("doc_id"), F.col("lbl").alias("cluster_id")
        )
        .join(quality, "doc_id")
        .select(
            "doc_id",
            "cluster_id",
            "n_chars",
            (F.row_number().over(w) == 1).cast("long").alias("keep"),
        )
    )


@register(
    "emb_knn_classifier",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS query_emb, label AS true_label
  FROM embeddings WHERE vec_id < 50
), nn AS (
  SELECT * FROM (
    SELECT q.query_id, q.true_label, e.label,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY {_COS('q.query_emb', 'e.embedding')} DESC, e.vec_id
           ) AS rank
    FROM q JOIN embeddings e ON e.vec_id >= 50
  ) WHERE rank <= 10
), votes AS (
  SELECT query_id, true_label, label, COUNT(*) AS n_votes
  FROM nn GROUP BY query_id, true_label, label
)
SELECT query_id,
       CAST(true_label AS BIGINT) AS true_label,
       CAST(label AS BIGINT) AS predicted_label,
       CAST(n_votes AS BIGINT) AS n_votes,
       label = true_label AS correct
FROM (SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY n_votes DESC, label
      ) AS r FROM votes)
WHERE r = 1
""",
    doc="k-NN classification eval: the 50 held-out vectors (vec_id < 50) "
        "are labeled by majority vote of their 10 nearest corpus "
        "neighbors by cosine -- the standard embedding-quality probe "
        "(kNN accuracy) run entirely as a declarative plan.  The "
        "held-out/corpus split prevents self-match leakage; the cosine "
        "is the deterministic per-row sequential array fold "
        "(functions/vectors.py), ranks tie-break on vec_id, votes "
        "tie-break on the smaller label -- every cut deterministic.  "
        "Per-query verdict rows (not just the accuracy scalar) so the "
        "hash gate pins each prediction.  Scale: the bounded query set "
        "broadcasts, the corpus scans once with NO shuffle before the "
        "per-query top-k (TakeOrdered shape); vote counting is a "
        "(50 x labels)-row aggregate.  kNN over 1e9 corpus rows is the "
        "same plan with the ANN shortlist (emb_ann_ivf_trained / "
        "emb_pq_adc) replacing the brute-force scan.",
    # r12 rotation: promoted to the driver surface (tools/r12_rotation_plan.md).
    # r15 driver-slot rotation (tools/r15_rotation_plan.md): freshness
    # cycle -- multi-round veteran sits out for a stale re-verification.
    driver=False,
    # r16 sibling re-point: prior anchor demoted this rotation.
    # r17 sibling re-point: prior anchor demoted this rotation.
    sibling="emb_cosine_topk",
)
def emb_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pre-computed norms on both fan-out sides (r18, guide section 1.2):
    # one fold per (query, candidate) pair instead of three, bit-identical.
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_emb"),
        F.col("label").alias("true_label"),
        V.norm_s("embedding").alias("_qn"),
    )
    c = e.filter(F.col("vec_id") >= 50).select(
        "vec_id", "embedding", "label", V.norm_s("embedding").alias("_vn")
    )
    cos = V.cosine_with_norms("query_emb", "embedding", "_qn", "_vn")
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    nn = (
        c.crossJoin(F.broadcast(q))
        .select("query_id", "true_label", "label", "vec_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
    )
    votes = nn.groupBy("query_id", "true_label", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("label")
    )
    return (
        votes.withColumn("r", F.row_number().over(wv))
        .where(F.col("r") == 1)
        .select(
            "query_id",
            F.col("true_label").cast("long").alias("true_label"),
            F.col("label").cast("long").alias("predicted_label"),
            "n_votes",
            (F.col("label") == F.col("true_label")).alias("correct"),
        )
    )


@register(
    "emb_cluster_diversity",
    oracle="""
WITH e AS (
  SELECT label, vec_id, vec_id % 8 AS bucket,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
), sq AS (
  SELECT label, bucket, vec_id, emb,
         list_reduce(list_transform(emb, x -> x * x), (a, b) -> a + b) AS sqn
  FROM e
), l1 AS (
  SELECT label, bucket,
         list_reduce(list(emb ORDER BY vec_id),
           (a, b) -> list_transform(list_zip(a, b), p -> p[1] + p[2])) AS sv,
         list_reduce(list(sqn ORDER BY vec_id), (a, b) -> a + b) AS ssq,
         COUNT(*) AS n1
  FROM sq GROUP BY label, bucket
), l2 AS (
  SELECT label,
         list_reduce(list(sv ORDER BY bucket),
           (a, b) -> list_transform(list_zip(a, b), p -> p[1] + p[2])) AS s,
         list_reduce(list(ssq ORDER BY bucket), (a, b) -> a + b) AS sq_tot,
         SUM(n1) AS n
  FROM l1 GROUP BY label
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(n AS BIGINT) AS n_vecs,
       (list_reduce(list_transform(s, x -> x * x), (a, b) -> a + b) - sq_tot)
         / NULLIF(CAST(n * (n - 1) AS DOUBLE), 0.0) AS mean_pairwise_dot,
       sq_tot / CAST(n AS DOUBLE) AS mean_sq_norm
FROM l2
""",
    doc="Intra-cluster diversity WITHOUT the quadratic pair join: mean "
        "pairwise dot product per label via the moment identity "
        "sum_pairs<u,v> = (||S||^2 - sum||v||^2) / (n(n-1)) with S = "
        "sum of vectors -- O(n) where the naive self-join is O(n^2); "
        "the diversity/collapse probe run after SemDeDup-style pruning.  "
        "Float determinism: vector sums use the HUB-SAFE two-level "
        "sequential fold (sub-fold per vec_id%%8 bucket in vec_id order, "
        "then fold the bucket sums in bucket order) -- the same "
        "row-width-bounded pattern the r9 PageRank fix established, "
        "mirrored exactly by the DuckDB list_reduce pipeline, so every "
        "double is bit-identical.  Scale: two map-side-combinable "
        "aggregations (per-bucket width = group/8 vectors, bounded by "
        "raising the bucket count), no pair materialization anywhere.",
    # r13 rotation: promoted to the driver surface (tools/r13_rotation_plan.md).
    # r15 driver-slot rotation (tools/r15_rotation_plan.md): freshness
    # cycle -- multi-round veteran sits out for a stale re-verification.
    driver=False,
    # r15 sibling re-point: prior anchor sat out for mm_jpeg_partial_mcu_stats.
    # r17 sibling re-point: prior anchor demoted this rotation.
    sibling="emb_cosine_topk",
)
def emb_cluster_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir).select(
        "label",
        "vec_id",
        (F.col("vec_id") % 8).alias("bucket"),
        F.transform(F.col("embedding"), lambda v: v.cast("double")).alias("emb"),
    )

    def fold_add(arr):
        # DuckDB list_reduce semantics: first element is the init, fold
        # left over the rest -- NOT a 0.0-init fold (0+x == x for the
        # values here, but mirroring exactly costs nothing).
        return F.aggregate(
            F.slice(arr, 2, F.size(arr) - 1),
            F.element_at(arr, 1),
            lambda a, b: a + b,
        )

    def fold_vec(arr):
        return F.aggregate(
            F.slice(arr, 2, F.size(arr) - 1),
            F.element_at(arr, 1),
            lambda a, b: F.zip_with(a, b, lambda x, y: x + y),
        )

    # guard the PER-ROW fold: a degenerate empty vector would make
    # slice(arr, 2, -1) throw under ANSI (caught by the degenerate-
    # embeddings sweep); when() evaluates branches lazily per row.
    sq_arr = F.transform(F.col("emb"), lambda x: x * x)
    sqn = F.when(F.size(sq_arr) > 0, fold_add(sq_arr))
    sq = e.withColumn("sqn", sqn)
    vs = F.array_sort(F.collect_list(F.struct("vec_id", "emb", "sqn")))
    l1 = sq.groupBy("label", "bucket").agg(vs.alias("vs"))
    l1 = l1.select(
        "label", "bucket",
        fold_vec(F.transform(F.col("vs"), lambda s: s["emb"])).alias("sv"),
        fold_add(F.transform(F.col("vs"), lambda s: s["sqn"])).alias("ssq"),
        F.size("vs").cast("long").alias("n1"),
    )
    bs = F.array_sort(F.collect_list(F.struct("bucket", "sv", "ssq")))
    l2 = l1.groupBy("label").agg(bs.alias("bs"), F.sum("n1").alias("n"))
    l2 = l2.select(
        "label", "n",
        fold_vec(F.transform(F.col("bs"), lambda b: b["sv"])).alias("s"),
        fold_add(F.transform(F.col("bs"), lambda b: b["ssq"])).alias("sq_tot"),
    )
    dotss = fold_add(F.transform(F.col("s"), lambda x: x * x))
    denom = F.nullif((F.col("n") * (F.col("n") - 1)).cast("double"), F.lit(0.0))
    return l2.select(
        F.col("label").cast("long").alias("label"),
        F.col("n").alias("n_vecs"),
        ((dotss - F.col("sq_tot")) / denom).alias("mean_pairwise_dot"),
        (F.col("sq_tot") / F.col("n").cast("double")).alias("mean_sq_norm"),
    )


@register(
    "emb_outlier_centroid_dist",
    oracle="""
WITH e AS (
  SELECT label, vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
), l1 AS (
  SELECT label, vec_id % 8 AS bucket,
         list_reduce(list(emb ORDER BY vec_id),
           (a, b) -> list_transform(list_zip(a, b), p -> p[1] + p[2])) AS sv,
         COUNT(*) AS n1
  FROM e GROUP BY label, vec_id % 8
), cent AS (
  SELECT label,
         list_transform(
           list_reduce(list(sv ORDER BY bucket),
             (a, b) -> list_transform(list_zip(a, b), p -> p[1] + p[2])),
           x -> x / CAST(SUM(n1) AS DOUBLE)) AS c
  FROM l1 GROUP BY label
), d AS (
  SELECT e.label, e.vec_id,
         list_reduce(
           list_transform(list_zip(e.emb, cent.c),
                          p -> (p[1] - p[2]) * (p[1] - p[2])),
           (a, b) -> a + b) AS d2
  FROM e JOIN cent USING (label)
), r AS (
  SELECT label, vec_id, d2,
         row_number() OVER (
           PARTITION BY label ORDER BY d2 DESC, vec_id
         ) AS rn,
         COUNT(*) OVER (PARTITION BY label) AS n
  FROM d
)
SELECT CAST(label AS BIGINT) AS label, vec_id, d2 AS sq_dist,
       CAST(rn AS BIGINT) AS outlier_rank
FROM r WHERE rn <= (5 * n + 99) // 100
""",
    doc="Embedding outlier / mislabel detection: per label, the top-5% "
        "vectors by squared L2 distance to their OWN label centroid -- "
        "the QC pass that surfaces mislabeled or degenerate vectors "
        "before contrastive training (complement of emb_hard_negatives, "
        "which mines CROSS-label closeness).  Centroids use the hub-safe "
        "two-level sequential fold (emb_cluster_diversity's pattern); "
        "each distance is a per-row zip/fold in index order; the 5% cut "
        "is the integer rank formula (5n+99) div 100 with (d2 DESC, "
        "vec_id) total order -- every double and every cut "
        "bit-deterministic cross-engine.  Scale: one bounded-width "
        "aggregate pair for centroids, a label-bounded broadcast back, "
        "one rank window per label.",
    # r13 rotation: promoted to the driver surface (tools/r13_rotation_plan.md).
    # r15 interim edit: sits out so the new mm_jpeg_partial_mcu_stats takes
    # a first-round driver slot at a constant 50-entry surface (fresh
    # r13+r14 greens; emb_cosine_topk_arrow anchors the embeddings family).
    driver=False,
    # r17 sibling re-point: prior anchor demoted this rotation.
    sibling="emb_cosine_topk",
)
def emb_outlier_centroid_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir).select(
        "label", "vec_id",
        F.transform(F.col("embedding"), lambda v: v.cast("double")).alias("emb"),
    )

    def fold_vec(arr):
        return F.aggregate(
            F.slice(arr, 2, F.size(arr) - 1),
            F.element_at(arr, 1),
            lambda a, b: F.zip_with(a, b, lambda x, y: x + y),
        )

    vs = F.array_sort(F.collect_list(F.struct("vec_id", "emb")))
    l1 = (
        e.withColumn("bucket", F.col("vec_id") % 8)
        .groupBy("label", "bucket")
        .agg(vs.alias("vs"))
        .select(
            "label", "bucket",
            fold_vec(F.transform(F.col("vs"), lambda s: s["emb"])).alias("sv"),
            F.size("vs").cast("long").alias("n1"),
        )
    )
    bs = F.array_sort(F.collect_list(F.struct("bucket", "sv")))
    cent = (
        l1.groupBy("label")
        .agg(bs.alias("bs"), F.sum("n1").alias("n"))
        .select(
            "label",
            F.transform(
                fold_vec(F.transform(F.col("bs"), lambda b: b["sv"])),
                lambda x: x / F.col("n").cast("double"),
            ).alias("c"),
        )
    )
    diff = F.zip_with(
        F.col("emb"), F.col("c"), lambda a, b: (a - b) * (a - b)
    )
    d2 = F.aggregate(
        F.slice(diff, 2, F.size(diff) - 1),
        F.element_at(diff, 1),
        lambda a, b: a + b,
    )
    d = e.join(F.broadcast(cent), "label").select(
        "label", "vec_id", d2.alias("d2")
    )
    part = Window.partitionBy("label")
    r = d.select(
        "label", "vec_id", "d2",
        F.row_number().over(part.orderBy(F.desc("d2"), F.asc("vec_id"))).alias(
            "rn"
        ),
        F.count(F.lit(1)).over(part).alias("n"),
    )
    return r.where(F.col("rn") <= F.expr("(5 * n + 99) div 100")).select(
        F.col("label").cast("long").alias("label"),
        "vec_id",
        F.col("d2").alias("sq_dist"),
        F.col("rn").cast("long").alias("outlier_rank"),
    )


def _ann_recall_oracle(k: int = 16) -> str:
    """Recall@5 of the trained IVF at nprobe = 1, 2, 4 against the exact
    brute-force top-5 -- the training CTE chain shared with
    emb_ann_ivf_trained, probes kept to rank<=4 once, then one ranked
    candidate CTE per nprobe."""
    iters = SIM.IVF_TRAIN_ITERS
    ctes = _ivf_train_ctes(k)
    ctes.append("""q AS (
  SELECT vec_id AS query_id, embedding AS query_emb
  FROM e WHERE vec_id < 10
)""")
    ctes.append(f"""probes AS (
  SELECT query_id, query_emb, cent_id AS bucket, rn AS probe_rank FROM (
    SELECT q.query_id, q.query_emb, c.cent_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY {_COS('q.query_emb', 'c.cent_emb')} DESC, c.cent_id
           ) AS rn
    FROM q CROSS JOIN cent{iters} c
  ) WHERE rn <= 4
)""")
    for np in (1, 2, 4):
        ctes.append(f"""ivf{np} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.query_id, a.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY p.query_id
             ORDER BY {_COS('p.query_emb', 'a.embedding')} DESC, a.vec_id
           ) AS rank
    FROM (SELECT * FROM probes WHERE probe_rank <= {np}) p
    JOIN a{iters} a ON a.bucket = p.bucket AND a.vec_id != p.query_id
  ) WHERE rank <= 5
)""")
    ctes.append(f"""exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY {_COS('q.query_emb', 'e.embedding')} DESC, e.vec_id
           ) AS rank
    FROM q JOIN e ON e.vec_id != q.query_id
  ) WHERE rank <= 5
)""")
    joined = ",\n".join(ctes)
    arms = "\nUNION ALL\n".join(
        f"""SELECT {np} AS nprobe, (SELECT COUNT(*) FROM q) AS nq,
       (SELECT COUNT(*) FROM ivf{np} i JOIN exact x
          ON i.query_id = x.query_id AND i.neighbor_id = x.neighbor_id)
         AS hits"""
        for np in (1, 2, 4)
    )
    return f"""WITH {joined}
SELECT CAST(nprobe AS BIGINT) AS nprobe,
       CAST(nq AS BIGINT) AS n_queries,
       CAST(hits AS BIGINT) AS n_hits,
       CAST(hits AS DOUBLE) / CAST(5 * nq AS DOUBLE) AS recall_at_5
FROM ({arms})"""


@register(
    "emb_ann_recall_curve",
    oracle=_ann_recall_oracle(),
    doc="ANN quality certificate as a QUERY: recall@5 of the Lloyd-trained "
        "IVF at nprobe = 1, 2, 4 against the exact brute-force top-5 -- "
        "the accuracy/cost curve an operator must publish before anyone "
        "swaps the exact scan for the index (MinHash has the same "
        "discipline in doc_minhash_estimate_certificate).  Counts are "
        "intersections of deterministically-tie-broken top-5 sets; the "
        "only float output is one mirrored division.  Scale: the probed "
        "search touches ~nprobe/16 of the corpus per arm and the exact "
        "arm is the one honest full scan; at production scale the exact "
        "baseline runs on a SAMPLE of queries (same plan, sampled q) -- "
        "the curve is still unbiased.  The codebook, the corpus "
        "assignment, and the exact arm are each materialize()d once and "
        "shared across the three probe arms: without the truncation the "
        "3-iteration Lloyd-training lineage re-executes per arm (4x the "
        "scans at cluster scale).",
    # r16 interim promote (VERDICT r15 task 6): ANN recall certificate
    # cycles back through a driver slot (last driver-checked r9).
)
def emb_ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    cent, c, assigned = _ivf16(spark, sf_dir)
    q = c.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_emb")
    )
    # r17 (guide sections 2.4/3): the three nprobe arms have NESTED probe
    # sets, so the probe join + cosine pass runs ONCE at the widest arm
    # (nprobe=4) with probe_rank kept, materialized, and each arm re-ranks
    # the probe_rank-filtered slice of that one narrow scored table --
    # bit-identical per arm (ivf_scored_candidates docstring; pinned by
    # tests/test_similarity.py) instead of three probe joins + three
    # cosine passes over 1+2+4 buckets' worth of candidates.  The scored
    # frame is (4/16 of the corpus) x 10 queries of 4 narrow columns --
    # no embedding arrays cross the checkpoint.  nq is consumed by all
    # three arms: one bounded 1-row materialization instead of three
    # corpus-filter aggregations in the final plan.  All three
    # intermediates depend only on the memoized (codebook, assignment)
    # pair, so their checkpoint jobs run as ONE concurrent wave (guide
    # section 2.6) instead of three serial actions.
    exact, scored, nq0 = materialize_many([
        SIM.brute_force_topk(q, c, k=5).select("query_id", "neighbor_id"),
        SIM.ivf_scored_candidates(q, assigned, cent, max_nprobe=4),
        q.agg(F.count(F.lit(1)).alias("nq")),
    ])
    nq = F.broadcast(nq0)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    arms = None
    for np in (1, 2, 4):
        ivf = (
            scored.filter(F.col("probe_rank") <= np)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("query_id", "neighbor_id")
        )
        hits = ivf.join(exact, ["query_id", "neighbor_id"]).agg(
            F.count(F.lit(1)).alias("hits")
        )
        arm = hits.crossJoin(nq).select(
            F.lit(np).cast("long").alias("nprobe"),
            F.col("nq").alias("n_queries"),
            F.col("hits").alias("n_hits"),
            (
                F.col("hits").cast("double")
                / (5 * F.col("nq")).cast("double")
            ).alias("recall_at_5"),
        )
        arms = arm if arms is None else arms.unionByName(arm)
    return arms


def _pca_power_oracle(iters: int = 3, dim: int = 64) -> str:
    """Unrolled power-iteration oracle (the IVF-training precedent): one
    (score, weighted-sum, normalize) CTE triple per iteration, every
    float fold sequential in (vec_id | bucket) order."""
    vecsum = (
        "(a, b) -> list_transform(list_zip(a, b), p -> p[1] + p[2])"
    )
    ctes = [
        """e AS (
  SELECT vec_id, vec_id % 8 AS bucket,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS v
  FROM embeddings
)""",
        f"""x0 AS (
  SELECT list_transform(range(1, {dim + 1}),
           i -> CASE WHEN i = 1 THEN CAST(1.0 AS DOUBLE)
                     ELSE CAST(0.0 AS DOUBLE) END) AS x
)""",
    ]
    for k in range(1, iters + 1):
        ctes.append(f"""s{k} AS (
  SELECT e.vec_id, e.bucket, e.v,
         list_reduce(list_transform(list_zip(e.v, x.x), p -> p[1] * p[2]),
                     (a, b) -> a + b) AS s
  FROM e, x{k - 1} x
)""")
        ctes.append(f"""l1_{k} AS (
  SELECT bucket,
         list_reduce(list(list_transform(v, c -> c * s) ORDER BY vec_id),
                     {vecsum}) AS sv
  FROM s{k} GROUP BY bucket
)""")
        ctes.append(f"""y{k} AS (
  SELECT list_reduce(list(sv ORDER BY bucket), {vecsum}) AS y
  FROM l1_{k}
)""")
        ctes.append(f"""x{k} AS (
  SELECT list_transform(y, c -> c / sqrt(
           list_reduce(list_transform(y, c2 -> c2 * c2), (a, b) -> a + b)
         )) AS x
  FROM y{k}
)""")
    ctes.append(f"""sf AS (
  SELECT e.vec_id, e.bucket,
         list_reduce(list_transform(list_zip(e.v, x.x), p -> p[1] * p[2]),
                     (a, b) -> a + b) AS s
  FROM e, x{iters} x
)""")
    ctes.append("""r1 AS (
  SELECT bucket, list_reduce(list(s * s ORDER BY vec_id), (a, b) -> a + b) AS q1
  FROM sf GROUP BY bucket
)""")
    ctes.append("""r2 AS (
  SELECT list_reduce(list(q1 ORDER BY bucket), (a, b) -> a + b) AS lam
  FROM r1
)""")
    joined = ",\n".join(ctes)
    return f"""WITH {joined}
SELECT r2.lam AS eigenvalue_estimate,
       x.x[1] AS x1, x.x[2] AS x2, x.x[3] AS x3, x.x[4] AS x4,
       list_reduce(list_transform(x.x, c -> c * c), (a, b) -> a + b)
         AS x_norm_sq
FROM r2, x{iters} x"""


@register(
    "emb_pca_power_iteration",
    oracle=_pca_power_oracle(),
    doc="Iterative linear algebra as a DECLARATIVE plan: three power-"
        "iteration steps toward the corpus's top singular direction "
        "(x <- normalize(A^T (A x)) from the e_1 seed), entirely in "
        "DataFrame expressions -- per-row dot via index-ordered fold, "
        "the A^T weighted-sum via the hub-safe two-level bucketed fold "
        "(emb_cluster_diversity's pattern), normalization one IEEE sqrt "
        "(correctly rounded by the standard, hence cross-engine exact) "
        "and one division per component; the oracle unrolls the loop in "
        "SQL exactly like the Lloyd-trained IVF.  Output pins the "
        "Rayleigh-quotient eigenvalue estimate, the first four "
        "eigenvector components, and the unit-norm check -- every "
        "double bit-identical cross-engine.  Scale: each iteration is "
        "one corpus scan + a bounded-width two-level aggregate + a "
        "1-row broadcast back; no Gram matrix, no collect, no "
        "driver-side linear algebra -- the shape distributed PCA "
        "actually uses, with the convergence loop unrolled a fixed "
        "number of steps (checkpoint x between steps on a real "
        "cluster, exactly the IVF codebook posture).",
    # r12 rotation: promoted to the driver surface (tools/r12_rotation_plan.md).
    # r14 rotation amendment (VERDICT r13 task 2): sits out in place of
    # msg_detail_encrypted_verified so the AES family keeps a hash-checked
    # driver gate; green r12+r13, zero sibling dependents, family anchored
    # by emb_knn_classifier / emb_ann_ivf on the surface.
    driver=False,
    # r15 sibling re-point: prior anchor demoted this rotation.
    # r16 sibling re-point: prior anchor demoted this rotation.
    # r17 sibling re-point: prior anchor demoted this rotation.
    sibling="emb_cosine_topk",
)
def emb_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT materialized (r17 A/B): the 3-step unroll re-scans and re-casts
    # the embedding table once per step, but checkpointing the cast frame
    # measured WORSE (1.89 -> 2.74 s min-of-3 at sf0.1) -- the eager
    # checkpoint job serializes what the one-plan unroll runs as three
    # parallel in-plan scans (the same verdict as the per-step
    # rebroadcast note below).
    e = _emb(spark, sf_dir).select(
        "vec_id",
        (F.col("vec_id") % 8).alias("bucket"),
        F.expr("transform(embedding, v -> CAST(v AS DOUBLE))").alias("v"),
    )

    # expr-string fold builders (r17 plan-construction optimization): the
    # Column-lambda forms cost ~50-100 py4j round-trips per fold and the
    # triple-unrolled loop built each one three times; each string parses
    # the identical tree (same first-element seed, same lambda shapes,
    # same argument-duplication) in one call.
    def fa(arr: str) -> str:
        return (
            f"aggregate(slice({arr}, 2, size({arr}) - 1), "
            f"element_at({arr}, 1), (a, b) -> a + b)"
        )

    def fv(arr: str) -> str:
        return (
            f"aggregate(slice({arr}, 2, size({arr}) - 1), "
            f"element_at({arr}, 1), (a, b) -> zip_with(a, b, (p, q) -> p + q))"
        )

    def dt(a: str, b: str) -> str:
        return fa(f"zip_with({a}, {b}, (p, q) -> p * q)")

    xdf = spark.range(1).select(
        F.expr(
            "transform(sequence(1, 64), "
            "i -> CASE WHEN i = 1 THEN 1.0D ELSE 0.0D END)"
        ).alias("x")
    )
    for _ in range(3):
        s = e.crossJoin(F.broadcast(xdf)).select(
            "vec_id", "bucket", "v", F.expr(dt("v", "x")).alias("s")
        )
        w = s.select(
            "vec_id", "bucket",
            F.expr("transform(v, c -> c * s)").alias("wv"),
        )
        l1 = (
            w.groupBy("bucket")
            .agg(F.array_sort(F.collect_list(F.struct("vec_id", "wv"))).alias("arr"))
            .select(
                "bucket",
                F.expr(fv("transform(arr, t -> t.wv)")).alias("sv"),
            )
        )
        y = l1.agg(
            F.array_sort(F.collect_list(F.struct("bucket", "sv"))).alias("arr2")
        ).select(F.expr(fv("transform(arr2, t -> t.sv)")).alias("y"))
        norm = f"sqrt({fa('transform(y, c -> c * c)')})"
        # r17 optimization note: cutting this chain at the 1-row x vector
        # per step (rebroadcast_small, 4 small jobs instead of one nested
        # broadcast-chain plan) was MEASURED WORSE at sf0.1 -- 3.17s vs
        # 1.94s rebuild+run -- because per-job overhead plus three driver
        # round-trips exceed the mega-plan's planning cost, and Spark
        # already reuses the identical nested broadcast exchanges.  The
        # one-plan unroll stays (see OPTIMIZATION_r17.md).
        xdf = y.select(
            F.expr(f"transform(y, c -> c / {norm})").alias("x")
        )
    sf = e.crossJoin(F.broadcast(xdf.withColumnRenamed("x", "xf"))).select(
        "vec_id", "bucket", F.expr(dt("v", "xf")).alias("s")
    )
    r1 = (
        sf.groupBy("bucket")
        .agg(F.array_sort(F.collect_list(F.struct("vec_id", "s"))).alias("arr"))
        .select(
            "bucket",
            F.expr(fa("transform(arr, t -> t.s * t.s)")).alias("q1"),
        )
    )
    r2 = r1.agg(
        F.array_sort(F.collect_list(F.struct("bucket", "q1"))).alias("arr2")
    ).select(
        F.expr(fa("transform(arr2, t -> t.q1)")).alias("lam")
    )
    return r2.crossJoin(F.broadcast(xdf)).select(
        F.col("lam").alias("eigenvalue_estimate"),
        F.element_at("x", 1).alias("x1"),
        F.element_at("x", 2).alias("x2"),
        F.element_at("x", 3).alias("x3"),
        F.element_at("x", 4).alias("x4"),
        F.expr(fa("transform(x, c -> c * c)")).alias("x_norm_sq"),
    )


_COPURCHASE_PAIRS_CTES = """ip AS (
  SELECT l_orderkey, l_partkey FROM lineitem GROUP BY l_orderkey, l_partkey
), pairs AS (
  SELECT a.l_partkey AS id_a, b.l_partkey AS id_b
  FROM ip a JOIN ip b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= 2
)"""


@register(
    "part_copurchase_pagerank",
    oracle=_pagerank_oracle(_COPURCHASE_PAIRS_CTES, vertex_col="part_key"),
    doc="PageRank over the part co-purchase graph (edges = part pairs "
        "bought together in >=2 orders, basket_copurchase_lift's "
        "candidate generation): the items-as-graph view of the same "
        "signal item-item CF scores pairwise -- central parts anchor "
        "cross-sell assortments.  The operator is "
        "operators/similarity.py:pagerank_from_pairs UNCHANGED on a "
        "second graph, and the oracle reuses the identical unrolled "
        "two-level-fold CTE chain with only the pairs prefix swapped -- "
        "the point of a graph-GENERIC implementation (dedup docs, ER "
        "records, parts: one code path, one determinism argument).  "
        "Scale: pair generation is C(items,2) per order with bounded "
        "basket size (never |parts|^2); each PageRank round is "
        "O(edges) with hub-safe bounded row widths.",
    # r12 rotation: promoted to the driver surface (tools/r12_rotation_plan.md).
)
def part_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Function-level import on purpose: a module-level one would register
    # tpch_adapted's queries mid-northstar and break the lint-pinned
    # registration order.  The shared pair stage's min-support filter
    # (BASKET_MIN_SUPPORT = 2) is exactly this query's n >= 2 edge rule.
    from .tpch_adapted_queries import _copurchase_pair_counts

    pairs = _copurchase_pair_counts(spark, sf_dir).select(
        F.col("part_a").alias("id_a"), F.col("part_b").alias("id_b")
    )
    return pagerank_from_pairs(pairs).select(
        F.col("v").alias("part_key"), "deg", "pagerank"
    )


# --------------------------------------------------------------------------
# MMR diversified retrieval (new r14; freshness-era rule: new registrations
# take a driver slot in their first round)
# --------------------------------------------------------------------------

_MMR_CAND = 12   #: relevance candidates fed to the greedy selection
_MMR_K = 5       #: diversified picks
_MMR_LAM = "0.7"  #: relevance weight (literal text: both engines parse the
#: same decimal to the same IEEE double)
_MMR_OML = "0.3"  #: diversity weight, as a LITERAL on both sides -- never
#: computed as (1.0 - 0.7): DuckDB folds that in exact DECIMAL (= 0.3)
#: while Spark folds it in doubles (= 0.30000000000000004), a last-ulp
#: divergence that flipped score bits at sf0.01 (found by parity)


def _mmr_oracle() -> str:
    """Unrolled greedy MMR in DuckDB, expression-for-expression with the
    Spark builder: step 1 maximizes lambda*rel - (1-lam)*0.0; step t
    maximizes lambda*rel - (1-lam)*max(sim to the t-1 picks); every argmax
    tie-breaks on vec_id ascending."""
    cos_q = V.cosine_sql("q.qe", "e.embedding")
    cos_ab = V.cosine_sql("a.emb", "b.emb")
    lam, oml = _MMR_LAM, _MMR_OML
    parts = [f"""
WITH q AS (
  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
), cand AS (
  SELECT e.vec_id, e.embedding AS emb, {cos_q} AS rel
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != 0 AND {cos_q} IS NOT NULL
  ORDER BY {cos_q} DESC, e.vec_id
  LIMIT {_MMR_CAND}
), pair AS (
  SELECT a.vec_id AS av, b.vec_id AS bv, {cos_ab} AS sim
  FROM cand a JOIN cand b ON a.vec_id != b.vec_id
), p1 AS (
  SELECT vec_id, rel, (({lam} * rel) - ({oml} * 0.0)) AS score
  FROM cand ORDER BY (({lam} * rel) - ({oml} * 0.0)) DESC, vec_id LIMIT 1
), s1 AS (SELECT vec_id FROM p1)"""]
    for t in range(2, _MMR_K + 1):
        parts.append(f""", m{t} AS (
  SELECT av AS vec_id, MAX(sim) AS ms
  FROM pair WHERE bv IN (SELECT vec_id FROM s{t - 1}) GROUP BY av
), p{t} AS (
  SELECT c.vec_id, c.rel, (({lam} * c.rel) - ({oml} * m{t}.ms)) AS score
  FROM cand c JOIN m{t} ON m{t}.vec_id = c.vec_id
  WHERE c.vec_id NOT IN (SELECT vec_id FROM s{t - 1})
  ORDER BY (({lam} * c.rel) - ({oml} * m{t}.ms)) DESC, c.vec_id LIMIT 1
), s{t} AS (SELECT vec_id FROM s{t - 1} UNION ALL SELECT vec_id FROM p{t})""")
    sel = " UNION ALL ".join(
        f"SELECT {t} AS pick_order, vec_id, rel, score FROM p{t}"
        for t in range(1, _MMR_K + 1)
    )
    parts.append(f"\n{sel}\nORDER BY pick_order")
    return "".join(parts)


@register(
    "emb_mmr_diversified_topk",
    oracle=_mmr_oracle(),
    doc="Maximal Marginal Relevance diversified retrieval: greedy "
        "selection of 5 results from the brute-force cosine top-12 for "
        "query vector 0, score = lambda*relevance - (1-lambda)*max "
        "similarity to the already-picked set (lambda=0.7) -- the "
        "standard redundancy-suppression reranker between ANN retrieval "
        "and training-example selection.  Determinism: cosines use the "
        "shared sequential-fold twins (functions/vectors.py), MAX and "
        "comparisons are exact, the score is two multiplies and one "
        "subtract mirrored node-for-node, and every argmax tie-breaks on "
        "vec_id; the greedy loop is UNROLLED a fixed K steps in both "
        "engines (the PCA/IVF posture).  Scale: one corpus scan for the "
        "candidate TakeOrdered (no global window), then every step "
        "operates on the rebroadcast 12-row candidate frame and its "
        "132-row pairwise-sim table -- constant-bounded, zero further "
        "corpus contact, no collect beyond the guarded codebook pattern.",
    # r16 interim sit-out: paired with the emb_ann_recall_curve
    # promote (VERDICT r15 task 6); re-enters the queue at age 1.
    driver=False,
    sibling="emb_ann_recall_curve",
)
def emb_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Query norm pre-computed in the 1-row broadcast frame (r18, guide
    # section 1.2): the inline cosine re-ran the query's norm fold per
    # CORPUS row; now it rides the broadcast as one double.  The corpus
    # row's own norm runs once per row either way.  Bit-identical.
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), V.norm_s("embedding").alias("_qn")
    )
    rel = V.cosine_with_norms("qe", "embedding", "_qn", "_vn")

    # Candidate GENERATION is distributed (one corpus scan, TakeOrdered);
    # the greedy SELECTION runs on the 12-row candidate set in a single
    # Arrow-batched crossing.  A first cut unrolled the K steps as
    # DataFrame ops: correct, but each step's tiny joins/aggregates cost
    # ~1 s of plan overhead on 12 rows (measured 5.2 s total) -- the
    # bounded greedy loop belongs in one batch, like the BM25 idf
    # crossing, with the SAME sequential-fold cosine as the SQL twin
    # (acc=0.0 then += x*y in index order; 0.0+p1 == p1 exactly, so the
    # fold equals list_reduce's first-element init bit-for-bit).
    cand = (
        e.filter(F.col("vec_id") != 0)
        .select("vec_id", "embedding", V.norm_s("embedding").alias("_vn"))
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.col("embedding").alias("emb"), rel.alias("rel"))
        .filter(F.col("rel").isNotNull())
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(_MMR_CAND)
    )
    one = cand.agg(
        F.sort_array(F.collect_list(F.struct("vec_id", "rel", "emb"))).alias("cs")
    )

    lam, oml, k = float(_MMR_LAM), float(_MMR_OML), _MMR_K

    def _greedy(batches):
        import math

        import pandas as pd

        def cos(u, v):
            d = 0.0
            for x, y in zip(u, v):
                d += x * y
            na = 0.0
            for x in u:
                na += x * x
            nb = 0.0
            for y in v:
                nb += y * y
            den = math.sqrt(na) * math.sqrt(nb)
            return d / den if den != 0.0 else None

        for pdf in batches:
            for cs in pdf["cs"]:
                cands = [
                    (int(r["vec_id"]), float(r["rel"]),
                     [float(x) for x in r["emb"]])
                    for r in cs
                ]
                sims = {}
                for vi, _, eu in cands:
                    for vj, _, ev in cands:
                        if vi != vj:
                            sims[(vi, vj)] = cos(eu, ev)
                remaining = {v: r for v, r, _ in cands}
                sel: list[int] = []
                out = {"pick_order": [], "vec_id": [], "rel": [], "score": []}
                for t in range(1, k + 1):
                    if not remaining:
                        # Fewer than k candidates survived the relevance
                        # filter (tiny/degenerate fixtures): emit fewer
                        # picks, mirroring the oracle's recursive CTE
                        # which simply stops producing rows (ADVICE r14).
                        break
                    best = None
                    # ascending vec_id iteration + strict > comparison =
                    # smallest vec_id wins ties, same as ORDER BY score
                    # DESC, vec_id in the oracle
                    for v in sorted(remaining):
                        r = remaining[v]
                        ms = max((sims[(v, s)] for s in sel), default=0.0)
                        sc = (lam * r) - (oml * ms)
                        if best is None or sc > best[0]:
                            best = (sc, v, r)
                    sc, v, r = best
                    out["pick_order"].append(t)
                    out["vec_id"].append(v)
                    out["rel"].append(r)
                    out["score"].append(sc)
                    sel.append(v)
                    del remaining[v]
                yield pd.DataFrame(out)

    return one.mapInPandas(
        _greedy, "pick_order int, vec_id long, rel double, score double"
    ).orderBy("pick_order")
