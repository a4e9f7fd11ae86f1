"""Near-duplicate detection and similarity search, scale-first (north star).

Not in the reference (its pipeline is pure ETL; SURVEY.md section 2
north-star extensions); required by the project brief: MinHash-LSH near-dup
over text shingles, and bucketed approximate-nearest-neighbor over
embeddings, with brute-force cosine as the correctness baseline.

Design rules:

- **Never all-pairs.**  Candidate generation is a band-hash equi-join
  (MinHash-LSH) or a bucket equi-join (IVF coarse quantizer / label
  partition).  The only cross product anywhere is query-set x corpus with a
  broadcast query set (bounded rows, narrow map-side op, no corpus shuffle).
- **Cross-engine-deterministic hashing.**  MinHash uses the lexicographic
  MIN over per-seed ``md5(seed || shingle)`` hex strings: md5 exists
  verbatim in DuckDB and hex strings order identically in both engines, so
  every signature, band and candidate pair is oracle-replicable -- unlike
  xxhash64/murmur, which DuckDB lacks.
- **Exact verify after approximate candidates.**  LSH only proposes; the
  emitted pairs are filtered by exact Jaccard over distinct shingle sets, so
  false positives never ship.  (False negatives are inherent to LSH; the
  recall test in tests/test_similarity.py pins them against brute force.)

100 TB shuffle shape: signatures are per-row narrow work; the band explode
multiplies rows by ``bands`` (small constant); the candidate join shuffles
on (band_id, band_value) whose cardinality is ~corpus x bands / avg bucket
size -- uniform by construction of md5.  Exact verify touches only
candidate pairs.  IVF assignment is a broadcast join against the centroid
codebook; search shuffles only the probed buckets -- the same
partition-then-prune posture as distributed top-k similarity systems
(e.g. REPOSE, ICDE 2021: local reference-point partitioning so each
worker searches only its pruned shard; see /root/repo/PAPERS.md).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..config import schema_only_builds
from ..functions import vectors
from ..materialize import drop_stage, materialize

#: Defaults shared by the Spark builders and the DuckDB oracle generators.
NUM_HASHES = 8
BANDS = 4  # rows per band = NUM_HASHES // BANDS = 2


def minhash_signature(shingles: str, num_hashes: int = NUM_HASHES) -> Column:
    """MinHash signature: per seed, the min md5 hex digest over shingles.

    ``shingles`` names a deduplicated array<string> column.  Returns
    array<string> of length ``num_hashes``.

    Historical trap this construction must never reintroduce: the seed
    belongs INSIDE the hashed prefix as a literal.  The old Column-based
    form bound it via a closure factory because PySpark treats a
    two-parameter ``transform`` lambda as ``(element, index)`` and
    silently overrides an ``i=i`` default with the index Column, whose
    repr then lands in the f-string prefix -- turning the hash into a
    per-plan random salt (consistent within one query, so single-plan
    banding and even the cross-engine pair oracle still passed; any
    MATERIALIZED signature compared across plans broke).  Found when the
    streaming funnel's stored band index missed every cross-batch
    candidate; pinned by the known-answer test in
    tests/test_similarity.py.
    """

    # One F.expr parse instead of ~6 py4j round-trips per hash function
    # (r17 plan-construction optimization; with NUM_HASHES=64 this was
    # ~400 round-trips per call site).  String-name input only: every
    # caller passes a materialized shingle column.  The literal prefix is
    # embedded directly in the SQL string, which sidesteps the
    # lambda-index trap documented above by construction.
    if isinstance(shingles, Column):
        raise TypeError(
            "minhash_signature takes the shingle COLUMN NAME (str); "
            "project computed shingles to a column first"
        )
    parts = ", ".join(
        f"array_min(transform({shingles}, s -> md5(concat('{i}|', s))))"
        for i in range(num_hashes)
    )
    return F.expr(f"array({parts})")


def band_value(sig: Column, band_id: int, rows_per_band: int) -> Column:
    """One LSH band: the concatenation of ``rows_per_band`` signature rows."""
    parts = [
        sig[band_id * rows_per_band + j] for j in range(rows_per_band)
    ]
    return F.concat_ws("#", *parts)


def lsh_bands(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
) -> DataFrame:
    """The banded (exploded) form of a signature frame: one row per
    (document, band) with columns (id_col, band_id, band_val).  This is
    the MATERIALIZABLE representation of an LSH index -- an incremental
    pipeline appends new documents' band rows to a stored table and joins
    arrivals against it instead of re-deriving signatures for the whole
    corpus (see streaming.pipeline.run_curation_funnel_stream)."""
    r = num_hashes // bands
    # expr-string band array (r17): one parse instead of bands*r getItem
    # round-trips; sig[k] is 0-based in both the Column and SQL forms.
    band_arr = ", ".join(
        "concat_ws('#', "
        + ", ".join(f"{sig_col}[{b * r + j}]" for j in range(r))
        + ")"
        for b in range(bands)
    )
    return sigs.select(
        F.col(id_col),
        F.posexplode(F.expr(f"array({band_arr})")).alias("band_id", "band_val"),
    )


def banded_pairs(
    banded_a: DataFrame, banded_b: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing a band between two banded
    frames (the (band_id, band_val) equi-join that IS the LSH bucketing;
    no similarity is computed here).  Pass the same frame twice for the
    classic self-join; pass (corpus, new-arrivals) for the incremental
    form -- with monotone ids, ``id_a < id_b`` then yields exactly the
    pairs whose HIGHER id is a new arrival."""
    a, b = banded_a.alias("a"), banded_b.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) agreeing on >= 1 LSH band.

    Input: one row per document with an ``array<string>`` signature.
    Composition of :func:`lsh_bands` and :func:`banded_pairs`.
    """
    banded = lsh_bands(sigs, id_col, sig_col, num_hashes, bands)
    return banded_pairs(banded, banded, id_col)


#: SimHash near-dup configuration: a 32-bit sketch cut into 5 bands
#: (7+7+6+6+6 bits).  By pigeonhole, any pair within hamming distance
#: <= SIMHASH_RADIUS (= #bands - 1) shares at least one intact band, so the
#: band equi-join is a LOSSLESS prefilter for that radius -- the only
#: approximation in the pipeline is the sketch itself.  Width is the cost
#: knob: with 16 bits, ~12% of ALL pairs in the 31-word-vocab fixture fall
#: within hamming 3 and verification approaches all-pairs; at 32 bits the
#: hamming<=4 fraction is <2% (measured, sf0.01).  At real corpus sizes the
#: sketch widens further and bands = radius + 1 keeps the guarantee.
SIMHASH_NEARDUP_BITS = 32
SIMHASH_BAND_WIDTHS = (7, 7, 6, 6, 6)
SIMHASH_RADIUS = len(SIMHASH_BAND_WIDTHS) - 1


def simhash_band_offsets(widths: tuple[int, ...] = SIMHASH_BAND_WIDTHS) -> list[int]:
    offs, acc = [], 0
    for w in widths:
        offs.append(acc)
        acc += w
    return offs


def simhash_band_pairs(
    sketches: DataFrame,
    id_col: str = "doc_id",
    sketch_col: str = "sketch",
    widths: tuple[int, ...] = SIMHASH_BAND_WIDTHS,
    radius: int | None = None,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) sharing >= 1 simhash band.

    Same shuffle shape as :func:`lsh_candidate_pairs`: explode to
    ``len(widths)`` rows per doc, equi-join on (band_id, band_value) --
    never all-pairs.

    With ``radius`` given, the hamming cut runs INSIDE the band join and
    the output gains a ``hamming`` column.  The sketch is a single long,
    so carrying it through the join is free, and the filter runs on the
    streamed join output under whole-stage codegen BEFORE anything is
    shuffled.  This matters when band values collide heavily (low-entropy
    corpora: the 31-word fixture vocabulary puts ~36% of ALL pairs in a
    shared band at sf0.1): without it, millions of band candidates pay a
    distinct shuffle plus two sketch-lookup joins just to be discarded;
    with it, only hamming survivors -- a set near the true near-dup count
    -- reach the distinct.  At 100 TB the same shape holds: candidate
    volume is corpus-dependent (widen the sketch to thin the buckets),
    but the per-candidate cost is one XOR+popcount in the probe loop."""
    offsets = simhash_band_offsets(widths)
    cols = [F.col(id_col)] + ([F.col(sketch_col)] if radius is not None else [])
    banded = sketches.select(
        *cols,
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col(sketch_col), off)
                    .bitwiseAND(F.lit((1 << w) - 1))
                    for off, w in zip(offsets, widths)
                ]
            )
        ).alias("band_id", "band_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    joined = a.join(
        b,
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    if radius is None:
        return joined.select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        ).distinct()
    return (
        joined.withColumn(
            "hamming", hamming(F.col(f"a.{sketch_col}"), F.col(f"b.{sketch_col}"))
        )
        .filter(F.col("hamming") <= radius)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "hamming",
        )
        .distinct()
    )


def hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two integer bit-sketches (any width)."""
    return F.bit_count(a.bitwiseXOR(b)).cast("long")


def jaccard(sh_a: Column, sh_b: Column) -> Column:
    """Exact Jaccard over two deduplicated array<string> columns; the int/int
    double division is bit-identical across engines."""
    inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
    union = (F.size(sh_a) + F.size(sh_b)).cast("double") - inter
    return inter / union


# --------------------------------------------------------------------------
# Set-similarity join (prefix filtering) and dedup clustering
# --------------------------------------------------------------------------

def prefix_filter_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    sh_col: str = "sh",
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate pairs for Jaccard >= ``threshold`` via prefix filtering
    (the AllPairs/PPJoin family) -- EXACT recall, unlike the MinHash/SimHash
    sketch paths: if two sets have Jaccard >= t, the pair is guaranteed to
    be emitted.

    Order each set's tokens by ascending global frequency (rarest first,
    token string as tiebreak) and keep only the first
    ``|s| - ceil(t*|s|) + 1`` tokens (the prefix).  Two sets with
    Jaccard >= t must overlap in alpha = ceil(t/(1+t) * (|a|+|b|)) tokens,
    which pigeonholes at least one shared token into both prefixes -- so
    the prefix-token equi-join loses nothing.  A length filter
    (t * |larger| <= |smaller|, integer-exact at t=0.5) and PPJoin's
    POSITIONAL filter prune the rest: a match at 0-based positions
    (pa, pb) of the frequency-ordered lists bounds the overlap by
    1 + min(|a|-pa, |b|-pb) (every common token sorts at-or-after the
    first common one in BOTH lists), so occurrences below alpha are
    dropped in-join, before the distinct.  Recall stays exact: a true
    pair's first common token passes the bound by construction, and the
    epsilon on alpha's float ceil only ever LOOSENS it (measured on the
    probe corpus: 2.3x fewer candidates into the verify join, which is
    where a set-similarity join's time goes).

    Scale posture: the frequency table is a token-keyed dimension (one
    shuffle agg), the prefix join is an equi-join on token -- never
    all-pairs -- and it is naturally skew-resistant: the highest-frequency
    tokens (the skewed join keys) are exactly the ones rarest-first
    ordering pushes OUT of every prefix.

    Returns distinct (id_a, id_b) with id_a < id_b, candidates only --
    callers verify with :func:`jaccard`.
    """
    tok = docs.select(
        F.col(id_col), F.size(sh_col).alias("sz"), F.explode(sh_col).alias("s")
    )
    freq = tok.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    plen = (
        F.col("sz") - F.ceil(F.col("sz") * F.lit(threshold)).cast("long") + F.lit(1)
    )
    prefix = (
        tok.join(freq, "s")
        .groupBy(id_col, "sz")
        .agg(F.sort_array(F.collect_list(F.struct("df", "s"))).alias("ord"))
        .select(
            F.col(id_col),
            F.col("sz"),
            F.posexplode(
                F.slice(F.transform("ord", lambda x: x["s"]), F.lit(1), plen)
            ).alias("pos", "s"),
        )
    )
    # The prefix table feeds BOTH sides of the self-join and Spark shares
    # no common subplans, so an unmaterialized prefix re-runs the whole
    # tok -> freq -> sort -> explode derivation twice -- and the doubled
    # cost grows with corpus size (the freq join leaves the broadcast
    # regime as the token dimension grows), which is exactly the shape the
    # scale probe flags.  Materialize it once (localCheckpoint locally,
    # staging table under SPARK_GRAFT_STAGING_DIR on clusters, lazy no-op
    # for schema-only builds -- see materialize.py).
    prefix = materialize(prefix)
    a, b = prefix.alias("a"), prefix.alias("b")
    # alpha = ceil(t/(1+t) * (|a|+|b|)), the minimum overlap for J >= t.
    # The 1e-9 slack keeps the float ceil from rounding UP past the exact
    # integer bound when t/(1+t) is not binary-representable (1/3 at
    # t=0.5): under-pruning is safe, over-pruning loses recall.
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.sz") + F.col("b.sz"))
        - F.lit(1e-9)
    )
    # PPJoin positional upper bound at a common prefix token at 0-based
    # positions (pa, pb): at the pair's FIRST common token no common token
    # precedes it, so overlap <= 1 + min(strictly-after counts)
    # = min(sz-pa, sz-pb).  Rows for later common tokens may violate the
    # bound and be pruned, but the first-token row always survives, so
    # recall stays exact (the brute-force equality test pins this).
    pos_ub = F.least(
        F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos")
    )
    return (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (
                F.least(F.col("a.sz"), F.col("b.sz"))
                >= F.greatest(F.col("a.sz"), F.col("b.sz")) * F.lit(threshold)
            )
            & (pos_ub >= alpha),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iters: int = 25
) -> DataFrame:
    """Connected components by min-label propagation WITH pointer jumping:
    every vertex converges to the minimum vertex id reachable from it.

    ``nodes``: one column ``v``; ``edges``: columns ``(a, b)``, one row per
    undirected edge (either orientation).  Returns (v, lbl).

    Each iteration is (1) neighbor step -- one equi-join of labels onto
    edge endpoints plus one min-aggregate -- then (2) a pointer-jumping
    shortcut ``lbl := lbl(lbl)`` (one self-join on the label table).  The
    shortcut is what makes adversarial chain graphs converge in O(log d)
    rounds instead of O(d): the hop distance from a vertex to its label
    roughly doubles every round (the MapReduce-CC family's alternating
    large-star/small-star achieves the same bound; pointer jumping needs
    no orientation cases and preserves the exact min-reachable labels).
    Both steps keep the invariant "lbl(v) is a vertex reachable from v"
    and labels only decrease, so the fixed point is the component minimum.
    Dedup-cluster graphs are near-cliques (diameter ~1-2) where the
    neighbor step alone converges in 2 rounds and the shortcut is a cheap
    no-op join on a tiny label table.

    Each round is materialized via :func:`materialize` (localCheckpoint
    locally, staging table under SPARK_GRAFT_STAGING_DIR on clusters --
    the same mode dispatch every other pipeline uses, so preemption-safe
    cluster runs cover the CC loop too), which BOTH stops re-execution of
    prior rounds AND truncates the logical plan -- ``persist`` alone does
    not: the self-join references its input
    twice, so an uncut lineage doubles every round and the analyzer dies
    on a gigabyte-scale plan string long before 2^10 rounds (observed on
    the 1024-chain test).  Checkpoint blocks are released by the context
    cleaner when the frames are garbage-collected, so nothing stays pinned
    in a long-lived driver JVM (round 5 leaked the returned persisted
    frame); the static edge table is the one explicit persist and is
    unpersisted on every exit path.  In staging mode each dead round's
    stage tables are reclaimed mid-loop via :func:`drop_stage` (the
    app's staging high-water mark is ~2 rounds, not ``max_iters``); only
    the returned label table lives until ``cleanup_staging``.  Convergence is an exact sum check;
    raises after ``max_iters`` instead of silently returning a
    half-converged labeling.
    """
    init = nodes.select(F.col("v"), F.col("v").alias("lbl"))
    if schema_only_builds():
        # Schema-identical lazy plan; the loop below runs real jobs at
        # plan-BUILD time, which schema-only consumers must not pay for.
        return init
    # Both edge directions via ONE explode, not a self-union: Spark does
    # not share common subplans, so union(edges, edges-swapped) would
    # evaluate the (typically expensive) edge lineage twice.  Then persist
    # once or every iteration's join replays it from the scan.
    und = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("a"), F.col("b")),
                F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
            )
        ).alias("e")
    ).select("e.a", "e.b").persist()
    labels = materialize(init)
    # Labels only ever DECREASE (min-propagation), so sum(lbl) strictly
    # decreases iff any label changed -- one agg over the materialized
    # frame is the whole convergence check, no label-vs-label join needed.
    # The initial sum is not worth its own job: prev_sum=None skips the
    # comparison on round 1 (costing one no-op round only on an edgeless
    # graph) and saves an action on every real graph.
    prev_sum = None
    try:
        for _ in range(max_iters):
            prop = und.join(
                labels.select(F.col("v").alias("b"), "lbl"), "b"
            ).select(F.col("a").alias("v"), "lbl")
            stepped = (
                labels.unionByName(prop)
                .groupBy("v")
                .agg(F.min("lbl").alias("lbl"))
            )
            # Pointer jump fused into the SAME materialization (r17): the
            # jump re-resolves each stepped label through the START-OF-ROUND
            # label table instead of through stepped itself, so one round is
            # ONE materialized plan (neighbor min + jump join) instead of
            # two -- one checkpoint/stage write of the V-row label table
            # saved per round at every scale, and one fewer fixed-overhead
            # job locally.  Correctness is unchanged: every label IS a
            # vertex id with labels(x) <= x (init labels(v)=v, labels only
            # decrease), so the looked-up old label can only tighten the
            # result, the reachability invariant is preserved (labels(S(v))
            # is reachable from S(v), which is reachable from v), and the
            # fixed point is still the component minimum.  Jumping through
            # the round-start table keeps the O(log d) doubling argument:
            # if v's label sits d hops up its component's pointer tree, the
            # neighbor step moves it >= 1 and the jump adds the target's
            # own d hops (the 1024-chain test still converges well inside
            # max_iters).  Left-join + coalesce keeps partial node sets
            # (edge endpoints missing from ``nodes``) from dropping rows.
            jump = labels.select(
                F.col("v").alias("lbl"), F.col("lbl").alias("jumped")
            )
            # Convergence sum fused into the materialization job via
            # observe() (r17, guide section 1.2 "fewer passes"): the
            # CollectMetrics node aggregates sum(lbl) WHILE the round's
            # rows are checkpointed/staged, so one job per round replaces
            # the former checkpoint + separate agg pair -- one fewer full
            # pass over the V-row label table per round at every scale.
            obs = Observation()
            jumped = materialize(
                stepped.join(jump, "lbl", "left")
                .select("v", F.coalesce("jumped", "lbl").alias("lbl"))
                .observe(obs, F.sum("lbl").alias("s"))
            )
            # Staging-mode reclamation: once the jumped labels are
            # eagerly materialized, the prior round's label table is
            # dead -- drop it NOW so an iterative run holds ~2 rounds of
            # stage files, not max_iters' worth (no-op under
            # localCheckpoint).
            drop_stage(labels)
            labels = jumped
            new_sum = obs.get["s"]
            # sum over an EMPTY label table is NULL: an empty graph is
            # already converged (its answer is the empty frame), and
            # None == None must not have to survive 25 no-op rounds into
            # the did-not-converge error.
            if new_sum is None or (prev_sum is not None and new_sum == prev_sum):
                return labels
            prev_sum = new_sum
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} iterations"
        )
    finally:
        und.unpersist()


def blockwise_connected_components(
    pairs: DataFrame, block_cols: list[str]
) -> DataFrame:
    """Connected components for a BLOCK-CONFINED edge set: every edge's
    endpoints share the values of ``block_cols`` (true by construction
    when pairs come from an equi-join on those columns -- the entity-
    resolution/survivorship blocking shape), so every component lives
    inside one block and global CC decomposes into independent per-block
    problems.

    Caller contract, NOT checked at run time: the block key must be a
    function of the vertex (each vertex id carries exactly one value of
    ``block_cols`` across all of ``pairs``), and both endpoints of every
    edge must share it.  Both current call sites meet it through their
    equi-join on the name prefix and ``nationkey``.  Break either rule
    and a component that spans two blocks is silently split in two --
    each block's union-find sees only its own edges, and the same
    vertex can come back with two different labels; no error is raised.

    ``pairs``: columns ``(a, b, *block_cols)``.  Returns (v, lbl) for
    every vertex APPEARING IN ``pairs``, where lbl is the minimum vertex
    id in the component -- exactly :func:`connected_components`' labels
    restricted to non-isolated vertices (isolated ones keep lbl = v; the
    caller's left-join + coalesce re-adds them).  Equality with the
    iterative loop is pinned by tests/test_similarity.py.

    Why not the generic loop (r18, guide sections 1.2 and 8 "use what
    you know that the optimizer does not"): the iterative form pays
    O(log d) materialized rounds -- each a full label-table shuffle plus
    an eager checkpoint job -- for a graph whose components are ALREADY
    isolated inside bounded-size blocks by the blocking predicate.  Here
    one shuffle of the (narrow) pair relation keyed on the block columns
    feeds a grouped Arrow crossing that runs union-find per block
    (union-by-min, so each root IS its component's minimum; path
    compression keeps it near-linear).  Per-task state is bounded by the
    block size the blocking key guarantees (~tens of records at any
    scale factor), never by component count -- the same
    "verify-inside-blocks" scale argument the Levenshtein step makes.
    The crossing ships only the duplicate-pair relation (narrow ids +
    block key), not the corpus.
    """
    import pandas as pd

    spark = pairs.sparkSession

    def _uf(pdf: "pd.DataFrame") -> "pd.DataFrame":
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(pdf["a"], pdf["b"]):
            a, b = int(a), int(b)
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN: the surviving root is the smaller id, so
                # every tree's root is the minimum of its component and
                # find(v) below is exactly min-reachable(v).
                if ra < rb:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        vs = sorted(parent)
        return pd.DataFrame({"v": vs, "lbl": [find(v) for v in vs]})

    # Group on a HASH of the block key, coarsened to ~parallelism groups,
    # not on the raw key: per-raw-block grouping makes one pandas frame
    # per block (thousands of tiny Arrow batches; measured SLOWER than the
    # loop it replaces), while any deterministic function of the block key
    # preserves confinement -- a component lives inside one block, hence
    # inside one group.  Union-find over a group's pooled edges is still
    # per-component exact.  Group count scales with the session's
    # parallelism, so per-task union-find state is |pair endpoints| /
    # parallelism -- the pair relation, never the corpus.
    p = max(1, spark.sparkContext.defaultParallelism)
    grp = F.pmod(F.xxhash64(*block_cols), F.lit(p)).alias("_g")
    return (
        pairs.select("a", "b", grp)
        .groupBy("_g")
        .applyInPandas(lambda pdf: _uf(pdf), "v long, lbl long")
    )


#: Peel rounds unrolled in the DuckDB oracle for k-core.  The Spark loop
#: raises if it has not converged within this many rounds, so a too-shallow
#: unroll fails LOUDLY in the parity gate instead of silently diverging.
#: Dup graphs are near-cliques: measured peel depth is 1 round (+1 to
#: witness the fixed point) at sf0.001/0.01/0.1; 4 leaves slack.
KCORE_UNROLL = 4


def kcore_membership(
    nodes: DataFrame, edges: DataFrame, k: int = 2, max_rounds: int = KCORE_UNROLL
) -> DataFrame:
    """k-core decomposition membership: iteratively peel vertices whose
    degree among surviving vertices is < k until a fixed point; the
    survivors are the k-core (the "dense part" of a duplicate graph --
    boilerplate families and template clusters -- vs the degree-1 fringe
    of incidental near-dups).

    ``nodes``: one column ``v``; ``edges``: columns ``(a, b)``, one row
    per undirected edge.  Returns (v, degree, in_kcore) for EVERY node:
    original degree (0 for isolated vertices) and a 0/1 core flag.

    Peeling is monotone (alive sets only shrink and a removed vertex can
    never re-enter), so (1) an unchanged alive COUNT is a complete
    convergence check, and (2) a fixed point is idempotent under further
    rounds -- which is what lets the DuckDB oracle unroll a FIXED
    ``KCORE_UNROLL`` rounds while the Spark loop exits early: any extra
    unrolled rounds peel nothing.  Rounds materialize via
    :func:`materialize` with mid-loop :func:`drop_stage` reclamation,
    exactly like :func:`connected_components`.

    Scale: each round is two semi-joins of the (narrow, persisted)
    undirected edge table against the alive set plus one combinable
    count -- all equi-joins on vertex id; rounds are bounded by the
    graph's degeneracy ordering depth, ~1-2 on near-clique dup graphs.
    """
    und = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("a"), F.col("b")),
                F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
            )
        ).alias("e")
    ).select("e.a", "e.b")
    deg = (
        und.groupBy("a")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(F.col("a").alias("v"), "degree")
    )
    base = nodes.join(deg, "v", "left").select(
        "v", F.coalesce("degree", F.lit(0).cast("long")).alias("degree")
    )
    if schema_only_builds():
        # Schema-identical lazy plan; no jobs at plan-build time.
        return base.select(
            "v", "degree", (F.col("degree") >= k).cast("int").alias("in_kcore")
        )
    und = und.persist()
    try:
        # Alive-count fused into each round's materialization job via
        # observe() (r17): one job per round, not materialize + count.
        obs0 = Observation()
        alive = materialize(
            deg.filter(F.col("degree") >= k).select("v")
            .observe(obs0, F.count(F.lit(1)).alias("n"))
        )
        n = obs0.get["n"]
        converged = n == 0
        for _ in range(max_rounds):
            if converged:
                break
            nxt = (
                und.join(alive.select(F.col("v").alias("a")), "a")
                .join(alive.select(F.col("v").alias("b")), "b")
                .groupBy("a")
                .agg(F.count(F.lit(1)).alias("d"))
                .filter(F.col("d") >= k)
                .select(F.col("a").alias("v"))
            )
            obs = Observation()
            nxt = materialize(nxt.observe(obs, F.count(F.lit(1)).alias("n")))
            m = obs.get["n"]
            drop_stage(alive)
            alive = nxt
            converged = m == n or m == 0
            n = m
        if not converged:
            raise RuntimeError(
                f"kcore_membership: not converged in {max_rounds} rounds; "
                "KCORE_UNROLL must be raised (oracle unroll depth matches it)"
            )
        return base.join(
            alive.withColumn("core", F.lit(1)), "v", "left"
        ).select(
            "v", "degree", F.coalesce("core", F.lit(0)).cast("int").alias("in_kcore")
        )
    finally:
        und.unpersist()


#: Hop bound for bfs_hops, matched by the DuckDB oracle's unroll depth.
#: A fixed bound (not run-to-convergence) is the semantics: "distance from
#: the nearest seed, if within BFS_UNROLL hops" -- the bounded-traversal
#: shape every production graph walk uses at scale.  Extra unrolled rounds
#: past the true eccentricity add nothing (frontier-empty is a fixed
#: point), so the Spark early-exit and the oracle's full unroll agree.
BFS_UNROLL = 6


def bfs_hops(
    nodes: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = BFS_UNROLL,
) -> DataFrame:
    """Multi-source BFS hop distance: for every node, the minimum number
    of edges to ANY seed vertex, bounded at ``max_hops``.

    ``nodes``: one column ``v``; ``edges``: columns ``(a, b)``, one row
    per undirected edge; ``seeds``: one column ``v``.  Returns (v, hop)
    for EVERY node: 0 for seeds, the BFS distance for vertices reached
    within ``max_hops``, and -1 for everything else (unreached within the
    bound, or isolated non-seeds) -- an explicit sentinel rather than
    NULL so downstream filters need no three-valued logic.

    Preconditions: the seed projection is deduplicated HERE (duplicate
    seed rows would otherwise fan out through the final left join into
    duplicate (v, hop) rows), but seeds MUST be a subset of ``nodes`` --
    a seed vertex absent from ``nodes`` is silently dropped by that same
    left join rather than raising.  Enforcing the subset would cost a
    semi-join against the (large) node table per call, so it stays a
    documented caller contract; every registered caller derives seeds
    from the node table itself.

    Level-synchronous FRONTIER expansion, not whole-set re-expansion:
    round i joins only the previous round's newly-reached vertices
    against the (persisted, symmetrized) edge table, anti-joins the
    visited set, and tags survivors hop=i.  A vertex is reached first at
    its true BFS level, so no min-fold over competing hop values is ever
    needed -- the anti-join IS the min.  Each frontier materializes ONCE
    via :func:`materialize` and the visited set is the lazy union of
    those flat scans (O(V) rows written across the whole traversal); the
    loop exits early on an empty frontier.

    Scale: per round one equi-join frontier-to-edges (shuffle keyed on
    vertex id, frontier side shrinks as the wave passes) plus one
    anti-join against visited; at 100 TB the visited table is the big
    operand and both joins co-partition on ``v``, so each level is one
    bounded shuffle -- never re-walking interior vertices, which is what
    makes level-synchronous BFS the scalable form of graph traversal.
    """
    init = seeds.select("v").distinct().select(
        "v", F.lit(0).cast("long").alias("hop")
    )
    if schema_only_builds():
        # Schema-identical lazy plan; no jobs at plan-build time.
        return nodes.join(init, "v", "left").select(
            "v", F.coalesce("hop", F.lit(-1).cast("long")).alias("hop")
        )
    und = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("a"), F.col("b")),
                F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
            )
        ).alias("e")
    ).select("e.a", "e.b").persist()
    try:
        # ``visited`` is a LAZY union of materialized per-level frontiers
        # (r17): every frontier is checkpointed/staged exactly once and the
        # union just concatenates those flat scans, so the loop writes
        # O(V) rows TOTAL instead of re-materializing the whole visited
        # set every round (O(V * depth) writes), and each level costs one
        # job instead of two.  The union tree stays bounded by max_hops
        # unions of zero-lineage scans -- no lineage blow-up -- and every
        # level's stage table must outlive the loop anyway (it IS part of
        # the result), so nothing is reclaimable mid-loop; staged tables
        # fall to cleanup_staging with the rest of the app's stages.
        visited = materialize(init)
        frontier = visited.select("v")
        for i in range(1, max_hops + 1):
            # Frontier-size check fused into the materialization job via
            # observe() (r17): one job per level, not materialize + count.
            obs = Observation()
            nxt = materialize(
                und.join(frontier.select(F.col("v").alias("a")), "a")
                .select(F.col("b").alias("v"))
                .distinct()
                .join(visited.select("v"), "v", "left_anti")
                .select("v", F.lit(i).cast("long").alias("hop"))
                .observe(obs, F.count(F.lit(1)).alias("n"))
            )
            if obs.get["n"] == 0:
                drop_stage(nxt)
                break
            visited = visited.unionByName(nxt)
            frontier = nxt
        return nodes.join(visited, "v", "left").select(
            "v", F.coalesce("hop", F.lit(-1).cast("long")).alias("hop")
        )
    finally:
        und.unpersist()


# --------------------------------------------------------------------------
# Embedding similarity
# --------------------------------------------------------------------------

def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the corpus.

    ``queries``: (query_id, query_emb); ``corpus``: (vec_id, embedding).
    Scale posture: the corpus is never shuffled or replicated -- each
    partition scans once against the broadcast queries; the only wide op is
    the per-query top-k (shuffle on query_id, bounded by |queries| * k).
    """
    # Norms pre-computed per input row (r18, guide section 1.2 "per-task
    # work"): the cross-ish join fans each corpus row out to |queries|
    # candidates and each query out to |corpus|, and the inline cosine
    # re-ran BOTH norm folds per candidate.  One fold per candidate now;
    # values bit-identical (vectors.cosine_with_norms contract).
    q = queries.select(
        "query_id", "query_emb", vectors.norm_s("query_emb").alias("_qn")
    )
    c = corpus.select(
        "vec_id", "embedding", vectors.norm_s("embedding").alias("_vn")
    )
    j = c.join(F.broadcast(q), F.col("query_id") != F.col("vec_id"))
    cos = vectors.cosine_with_norms("query_emb", "embedding", "_qn", "_vn")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        j.select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def brute_force_topk_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    fanout: int | None = None,
) -> DataFrame:
    """Exact cosine top-k via the Arrow-vectorized Python path.

    Same semantics as :func:`brute_force_topk`, different execution: the
    corpus is salted into ``fanout`` groups (default: the session's
    parallelism), the query set is replicated onto every salt by an
    ``explode`` of ``sequence(0, fanout - 1)``, and a cogrouped
    ``applyInPandas`` hands each task (corpus chunk, full query set) as
    pandas frames — numpy does one (chunk x dim) @ (dim x n_queries)
    matmul per group and only the per-group top-k survives (a combiner)
    before a final global top-k window.  This is the documented escape
    hatch for when the JVM expression path is the bottleneck:
    higher-order-function folds are interpreted per element, while the
    matmul is BLAS over the whole chunk.

    The query side is a DATAFRAME, never a driver-materialized list: the
    replication is |queries| x fanout rows of a narrow explode (no join,
    no broadcast job), so the same plan serves ten queries or a hundred
    thousand without a driver-memory bottleneck — the shape that matters
    at production query volumes.  The price vs the closure-shipped
    variant is one corpus-wide hash repartition on the salt (the
    cogroup's exchange); the combiner still bounds what leaves every task
    at k x |queries| rows.

    Caveat, and why the oracle gate for this operator is rows-only: BLAS
    accumulates dot products in SIMD-blocked order, so cosine values can
    differ from the sequential fold in the last ulp.  The NEIGHBOR SETS are
    pinned equal to the fold-based baseline in tests/test_similarity.py;
    the cosine column is for consumers, not for hashing.
    """
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    p = int(fanout or spark.sparkContext.defaultParallelism)

    def score(corpus_pdf: "pd.DataFrame", query_pdf: "pd.DataFrame") -> "pd.DataFrame":
        out = {"query_id": [], "neighbor_id": [], "cosine": []}

        def _well_formed(pdf: "pd.DataFrame", col: str) -> "pd.DataFrame":
            """Drop NULL / ragged-dimension / zero-norm vectors before the
            matmul: np.vstack dies on ragged input and a zero norm turns
            into a divide-by-zero NaN row.  Mirrors the JVM twin, where
            cosine() yields NULL for these rows and NULLS LAST keeps them
            out of every top-k (degenerate-corpus sweep)."""
            ok = pdf[col].map(lambda v: v is not None and len(v) > 0)
            pdf = pdf[ok.to_numpy()] if len(pdf) else pdf
            if not len(pdf):
                return pdf
            lens = pdf[col].map(len)
            dim = int(lens.mode().iloc[0])
            pdf = pdf[(lens == dim).to_numpy()]
            norms = pdf[col].map(lambda v: float(np.linalg.norm(np.asarray(v, dtype="float64"))))
            return pdf[(norms > 0).to_numpy()]

        corpus_pdf = _well_formed(corpus_pdf, "embedding")
        query_pdf = _well_formed(query_pdf, "query_emb")
        if len(corpus_pdf) and len(query_pdf):
            qdf = query_pdf.sort_values("query_id")
            qids = qdf["query_id"].to_numpy()
            Q = np.vstack(qdf["query_emb"].to_numpy()).astype("float64")
            Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
            ids = corpus_pdf["vec_id"].to_numpy()
            V = np.vstack(corpus_pdf["embedding"].to_numpy()).astype("float64")
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            S = Vn @ Qn.T  # (chunk, n_queries)
            for j, qid in enumerate(qids):
                col = S[:, j].copy()
                col[ids == qid] = -np.inf  # exclude self
                order = np.lexsort((ids, -col))[:k]  # ties -> smaller id
                keep = order[np.isfinite(col[order])]
                out["query_id"].extend([int(qid)] * len(keep))
                out["neighbor_id"].extend(int(i) for i in ids[keep])
                out["cosine"].extend(float(c) for c in col[keep])
        return pd.DataFrame(out)

    salted = corpus.withColumn("salt", F.pmod(F.hash("vec_id"), F.lit(p)))
    q_rep = queries.withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(p - 1))))
    cand = (
        salted.groupBy("salt")
        .cogroup(q_rep.groupBy("salt"))
        .applyInPandas(score, "query_id long, neighbor_id long, cosine double")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    )


def lsh_sign_bucket(emb: str, planes: str, n_planes: int) -> Column:
    """Random-hyperplane (SimHash) bucket code: bit j = sign(<v, plane_j>).

    ``emb`` and ``planes`` are SQL strings (column names); ``planes``
    names a COLUMN holding the plane vectors (array of
    array<float>, one element per plane) — in practice a one-row
    aggregated frame broadcast onto the corpus, so the plane set never
    leaves the cluster (no driver ``.collect()`` bootstrap).  ``n_planes``
    is the static plane COUNT (a config constant, not data — same
    contract as :func:`lsh_multiprobe_codes`); the code is an int in
    [0, 2^n_planes).  The per-bit expression is identical to a
    literal-plane formulation (float -> double widening is exact either
    way), so swapping the plane source does not move a single bucket.
    """
    # expr-string per-bit chain (r17): one parse instead of n_planes full
    # dot-product constructions (~60 py4j round-trips each).  The leading
    # 0 literal of the old chain is dropped (0 + x == x for int sums);
    # every CASE arm is the exact F.when/dot tree the Column form built.
    if isinstance(emb, Column) or isinstance(planes, Column):
        raise TypeError("lsh_sign_bucket takes SQL strings (column names)")
    terms = " + ".join(
        f"(CASE WHEN {vectors.dot_expr(emb, f'element_at({planes}, {j + 1})')} "
        f"> 0 THEN {1 << j} ELSE 0 END)"
        for j in range(n_planes)
    )
    return F.expr(f"({terms})")


def lsh_multiprobe_codes(code: Column, n_planes: int) -> Column:
    """The probe set for a query: its own bucket plus every 1-bit flip
    (classic multi-probe LSH — recovers neighbors that fell just across one
    hyperplane without touching the rest of the corpus)."""
    return F.array(code, *[code.bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)])


def ivf_assign(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """IVF coarse quantizer: assign every vector to its nearest centroid by
    cosine (ties -> smallest cent_id).  Broadcast join against the codebook;
    the argmax is a per-vector window over |centroids| rows.

    Plan note (r8): the window sees only NARROW (vec_id, cent_id, cos)
    rows -- the N x k argmin shuffle used to carry the full embedding
    array per candidate row (k x the vector bytes over the wire); the
    embedding is re-attached afterwards by a vec_id equi-join whose
    shuffle is N narrow-keyed wide rows, strictly smaller.  Output is
    identical; strategy for the re-attach join is left to AQE (the best
    side is corpus-sized, so a broadcast hint would be the 100 TB
    driver-OOM mistake the TPC-H modules already corrected)."""
    # Norms pre-computed per vector / per centroid (r18, guide section 1.2
    # "per-task work"): the 16-way centroid fan-out re-ran the corpus
    # vector's norm fold per CANDIDATE row (and the centroid's per corpus
    # row) -- 3 folds per candidate collapse to 1, bit-identically
    # (vectors.cosine_with_norms contract).  Measured on this stage:
    # ivf_train 7.3 -> 1.7 s, the assign pass 1.05 -> 0.5 s at sf0.1.
    cn = centroids.select(
        "cent_id", "cent_emb", vectors.norm_s("cent_emb").alias("_nc")
    )
    j = corpus.select(
        "vec_id", "embedding", vectors.norm_s("embedding").alias("_na")
    ).crossJoin(F.broadcast(cn))
    cos = vectors.cosine_with_norms("embedding", "cent_emb", "_na", "_nc")
    # Argmax as a map-side-combinable MAX aggregate (r17, guide section
    # 2.3): max(struct(cos_c, -cent_id)) is the lexicographic maximum --
    # the exact row the old row_number()-over-(cos DESC, cent_id ASC)
    # window picked, including the NULL-cosine corpus (a null struct
    # field orders below every value, exactly like DESC NULLS LAST; the
    # degenerate-embeddings sweep pins this) -- but partial-aggregates
    # the N x |codebook| candidate rows before the shuffle instead of
    # shipping them all to a sort + window.
    best = (
        j.select("vec_id", "cent_id", cos.alias("cos_c"))
        .groupBy("vec_id")
        .agg(F.max(F.struct(F.col("cos_c"), (-F.col("cent_id")).alias("nc"))).alias("b"))
        .select("vec_id", (-F.col("b.nc")).alias("bucket"))
    )
    return corpus.join(best, "vec_id").select("vec_id", "embedding", "bucket")


#: Lloyd iteration count for the trained codebook (fixed for determinism and
#: oracle replication; each iteration is one assign + one re-centroid pass).
IVF_TRAIN_ITERS = 2


def ivf_train(corpus: DataFrame, k: int = 16, iters: int = IVF_TRAIN_ITERS) -> DataFrame:
    """Deterministic Lloyd (k-means) training of the IVF codebook.

    Init = the vectors at ``vec_id < k`` (the round-2 seed codebook); each
    iteration assigns every vector to its nearest centroid by cosine
    (broadcast join, ties -> smallest cent_id) and re-centroids as the
    elementwise mean.  Everything is chosen for cross-engine determinism:
    elements are cast to double up front, and the per-bucket sum is a
    SEQUENTIAL fold in vec_id order (``array_sort(collect_list(struct))``
    then ``aggregate``), mirrored exactly by DuckDB
    ``list(embedding ORDER BY vec_id)`` + ``list_reduce`` -- a parallel
    floating-point sum would be order-nondeterministic and break the oracle.

    Empty buckets drop out of the codebook (deterministically on both
    engines).  Scale posture: the codebook is k x dim floats -- at real
    scale you collect it to the driver between iterations and re-broadcast
    (same bounded-small-side pattern as the LSH planes); the per-iteration
    data pass is one broadcast join + one shuffle on bucket id.
    """
    c = corpus.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda v: v.cast("double")).alias("embedding"),
    )
    cent = c.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_emb")
    )
    for _ in range(iters):
        assigned = ivf_assign(c, cent)
        g = assigned.groupBy("bucket").agg(
            F.array_sort(F.collect_list(F.struct("vec_id", "embedding"))).alias("vs")
        )
        n = F.size(F.col("vs"))
        summed = F.aggregate(
            F.slice(F.col("vs"), 2, n - 1),
            F.element_at(F.col("vs"), 1)["embedding"],
            lambda acc, s: F.zip_with(acc, s["embedding"], lambda a, b: a + b),
        )
        cent = g.select(
            F.col("bucket").alias("cent_id"),
            F.transform(summed, lambda x: x / n.cast("double")).alias("cent_emb"),
        )
    return cent


def ivf_topk(
    queries: DataFrame,
    assigned: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF search: rank centroids per query, probe the top ``nprobe``
    buckets, exact cosine re-rank within the probed candidates.

    Approximate: recall vs brute force depends on nprobe/codebook quality
    (pinned by tests/test_similarity.py); the plan never touches vectors
    outside the probed buckets, which is the entire point at 100 TB.
    """
    # Norms pre-computed on each un-fanned side (r18, guide section 1.2
    # "per-task work"): the query norm fold used to re-run per probed
    # CANDIDATE (~|bucket| x nprobe rows per query) and each candidate
    # vector's per query probing its bucket; now each is one fold per
    # input row, carried through the joins as an 8-byte double.
    # Bit-identical (vectors.cosine_with_norms contract).
    cn = centroids.select(
        "cent_id", "cent_emb", vectors.norm_s("cent_emb").alias("_nc")
    )
    jq = queries.select(
        "query_id", "query_emb", vectors.norm_s("query_emb").alias("_qn")
    ).crossJoin(F.broadcast(cn))
    qcos = vectors.cosine_with_norms("query_emb", "cent_emb", "_qn", "_nc")
    wq = Window.partitionBy("query_id").orderBy(F.desc("cos_c"), F.asc("cent_id"))
    probes = (
        jq.select("query_id", "query_emb", "_qn", "cent_id", qcos.alias("cos_c"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "query_emb", "_qn", F.col("cent_id").alias("bucket"))
    )
    cands = probes.join(
        assigned.withColumn("_vn", vectors.norm_s("embedding")), "bucket"
    ).filter(F.col("query_id") != F.col("vec_id"))
    cos = vectors.cosine_with_norms("query_emb", "embedding", "_qn", "_vn")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cands.select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_scored_candidates(
    queries: DataFrame,
    assigned: DataFrame,
    centroids: DataFrame,
    max_nprobe: int,
) -> DataFrame:
    """Scored IVF candidates at ``max_nprobe``, with each candidate's
    ``probe_rank`` (the rank of its bucket for that query) kept.

    Factored out of :func:`ivf_topk` for recall-CURVE consumers (r17,
    guide section 2.4): the nprobe arms of a curve have NESTED candidate
    sets (every nprobe<=m candidate appears in the max_nprobe=m set with
    probe_rank <= nprobe), and each vector lives in exactly ONE bucket, so
    ``filter(probe_rank <= nprobe)`` over THIS frame is row-for-row the
    candidate set ivf_topk scores at that nprobe -- same rows, same cosine
    expression, hence bit-identical scores and identical downstream top-k.
    Scoring once at the widest arm replaces one probe join + one cosine
    pass PER ARM with a single join + pass shared by every arm."""
    # Same pre-computed-norm shape as ivf_topk (r18, guide section 1.2):
    # one fold per candidate instead of three, bit-identical.
    cn = centroids.select(
        "cent_id", "cent_emb", vectors.norm_s("cent_emb").alias("_nc")
    )
    jq = queries.select(
        "query_id", "query_emb", vectors.norm_s("query_emb").alias("_qn")
    ).crossJoin(F.broadcast(cn))
    qcos = vectors.cosine_with_norms("query_emb", "cent_emb", "_qn", "_nc")
    wq = Window.partitionBy("query_id").orderBy(F.desc("cos_c"), F.asc("cent_id"))
    probes = (
        jq.select("query_id", "query_emb", "_qn", "cent_id", qcos.alias("cos_c"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= max_nprobe)
        .select(
            "query_id",
            "query_emb",
            "_qn",
            F.col("cent_id").alias("bucket"),
            F.col("rn").alias("probe_rank"),
        )
    )
    cands = probes.join(
        assigned.withColumn("_vn", vectors.norm_s("embedding")), "bucket"
    ).filter(F.col("query_id") != F.col("vec_id"))
    cos = vectors.cosine_with_norms("query_emb", "embedding", "_qn", "_vn")
    return cands.select(
        "query_id",
        "probe_rank",
        F.col("vec_id").alias("neighbor_id"),
        cos.alias("cosine"),
    )


LPA_ROUNDS = 3


def label_propagation(
    nodes: DataFrame, edges: DataFrame, rounds: int = LPA_ROUNDS
) -> DataFrame:
    """Community detection by SYNCHRONOUS frequency-based label
    propagation: labels initialize to the vertex id; each round every
    vertex with at least one neighbor adopts the most frequent label
    among its neighbors as of the PREVIOUS round (ties broken by the
    smallest label -- a total order, so the update is deterministic);
    isolated vertices keep their own label.

    ``nodes``: one column ``v``; ``edges``: ``(a, b)``, one row per
    undirected edge.  Returns (v, lbl) after exactly ``rounds`` rounds.

    A FIXED round count on purpose, no convergence check: synchronous
    LPA has no fixed-point guarantee (a 2-coloring can oscillate with
    period 2), so "run to convergence" is not a well-defined spec to
    hold both engines to -- a fixed synchronous round count is, and it
    is what makes the unrolled SQL oracle exact.  Unlike
    :func:`connected_components` (which labels whole components), the
    frequency vote splits weakly-bridged components into dense
    sub-communities.

    Scale: per round one labels-onto-edges equi-join (shuffle keyed on
    vertex id), one (v, lbl) count with map-side combine, one
    row_number top-1 per vertex (bounded by distinct neighbor labels,
    itself bounded by degree) and one left join back to the label
    table -- all co-partitioned on v.  Rounds are materialized with
    staged reclamation exactly like the CC loop, so lineage stays flat.
    The per-vertex frequency table is O(degree) ROWS, never an
    O(degree) array in one row -- hub-safe by construction.
    """
    init = nodes.select(F.col("v"), F.col("v").alias("lbl"))
    if schema_only_builds():
        return init
    und = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("a"), F.col("b")),
                F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
            )
        ).alias("e")
    ).select("e.a", "e.b").persist()
    try:
        lbl = materialize(init)
        for _ in range(rounds):
            nbr = und.join(
                lbl.select(F.col("v").alias("b"), "lbl"), "b"
            ).select(F.col("a").alias("v"), "lbl")
            cnt = nbr.groupBy("v", "lbl").agg(F.count(F.lit(1)).alias("c"))
            w = Window.partitionBy("v").orderBy(F.desc("c"), F.asc("lbl"))
            pick = (
                cnt.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("v", F.col("lbl").alias("new_lbl"))
            )
            nxt = materialize(
                lbl.join(pick, "v", "left").select(
                    "v", F.coalesce("new_lbl", "lbl").alias("lbl")
                )
            )
            drop_stage(lbl)
            lbl = nxt
        return lbl
    finally:
        und.unpersist()
