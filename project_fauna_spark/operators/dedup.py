"""Deduplication operators for LLM-training-data pipelines.

Five dedup families over the ``documents`` (and ``embeddings``) tables:
exact, blocked-exact, n-gram Jaccard, MinHash+LSH, SimHash — plus
embedding-cosine near-dup.  The reference has no dedup (its README
lists it as future work, /root/reference/README.md:151-158); this is
north-star surface (SURVEY.md §2b dedup).

Scale design (100 TB):

* Exact dedup is a hash groupBy on the dedup key — one shuffle,
  map-side combined.  Never ``dropDuplicates()`` on the full row when a
  deterministic survivor is needed: ``min(doc_id)`` per key is
  reproducible, first-encountered is not.
* N-gram Jaccard joins docs *through the inverted shingle index*
  (explode → self-join on shingle → count) — never an all-pairs cross
  join.  Candidate pairs are bounded by shared-shingle pairs.
* MinHash-LSH replaces even that with band-bucket collisions: cost is
  O(docs × perms) + bucket-local pairs.  This is the 100 TB path; the
  shingle-join is the exactness baseline it's validated against.
* SimHash is a single aggregate pass (one 64-bit fingerprint per doc);
  near-dup candidates come from equality joins on 16-bit bands
  (Hamming ≤ 3 guarantees a matching band by pigeonhole).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from project_fauna_spark.cache import cached
from project_fauna_spark.functions.shingles import (
    GRAM_K as _GRAM_K,
    drop_hot_shingles,
    shingle_hashes,
    shingles,
)
from project_fauna_spark.functions.vectors import cosine_sim
from project_fauna_spark.functions.wordhash import h32 as _h32
from project_fauna_spark.io import load_table
from project_fauna_spark.operators._oracle_shared import (
    SQL_CC_COMPONENTS,
    SQL_COS,
    SQL_NGRAM_JACCARD,
    SQL_RARE_SHINGLES as _SQL_RARE_SHINGLES,
    SQL_SHINGLES as _SQL_SHINGLES,
    sql_h32 as _sql_h32,
    sql_token_grams_cte,
)
from project_fauna_spark.registry import register

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_text",
    oracle="""
    SELECT text, CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on full text: deterministic survivor = min(doc_id).

    One hash-aggregate shuffle; at 100 TB, group on xxhash64(text)
    first to shrink shuffle width, then resolve rare collisions.
    """
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_copies"),
    )


@register(
    "dedup_exact_blocked",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, lang,
             array_to_string((string_split(text, ' '))[1:8], ' ') AS block_key
      FROM documents
    )
    SELECT lang, block_key, CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
           COUNT(*) AS group_size
    FROM keyed GROUP BY lang, block_key
    """,
)
def dedup_exact_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked dedup: normalize to a (lang, 8-word-prefix) key.

    The blocking-key pattern: cheap normalization buckets likely
    duplicates; survivors again deterministic by min(doc_id).
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    return (
        d.select(
            "doc_id",
            "lang",
            F.array_join(F.slice(words, 1, 8), " ").alias("block_key"),
        )
        .groupBy("lang", "block_key")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("group_size"))
    )


# ---------------------------------------------------------------------------
# Shingles (shared by Jaccard / MinHash / SimHash)
# ---------------------------------------------------------------------------


@register(
    "dedup_ngram_jaccard",
    oracle=SQL_NGRAM_JACCARD,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.5).

    Two-phase (PPJoin-style): (1) candidates via an inverted-index
    self-join over 8-byte shingle HASHES — only docs sharing ≥1
    shingle and passing the size-ratio prune ever pair up, and the
    shuffle carries longs, not gram strings; (2) survivors verified
    with exact string-shingle intersection, so the output is exact.
    The final jaccard is an integer-ratio double (bit-identical across
    engines).
    """
    d = load_table(spark, sf_dir, "documents")
    # Candidate stage runs entirely on 8-byte shingle hashes: the
    # explode, shuffle, and pair aggregation never touch gram strings.
    hashed = d.select("doc_id", shingle_hashes(F.col("text")).alias("hsgl"))
    ex = hashed.select("doc_id", F.size("hsgl").alias("n"), F.explode("hsgl").alias("h"))
    # Both sides of the self-join read the exploded index: persist it
    # so scan+hash+explode run once, not twice (measured 2.6→1.6 s at
    # sf0.1; the cache manager dedupes by logical plan across calls).
    from pyspark.storagelevel import StorageLevel

    ex = cached(ex, StorageLevel.MEMORY_AND_DISK)
    # df-cap the candidate index (hot shingles fan out k²/2 join rows);
    # n stays the FULL set size, so the capped gate only under-, never
    # over-estimates — the exact verify below scores full shingle sets.
    exr = drop_hot_shingles(ex)
    a, b = exr.alias("a"), exr.alias("b")
    # Size-ratio pruning: jaccard >= t forces t·|A| <= |B| <= |A|/t —
    # applied inside the join so pruned pairs never reach the shuffle.
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n") * 2 >= F.col("a.n"))
            & (F.col("a.n") * 2 >= F.col("b.n")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count("*").alias("n_inter"))
        .filter(
            F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            >= 0.5
        )
        .select("doc_a", "doc_b")
    )
    # Exact verification: string shingle sets built ONLY for the
    # (tiny) surviving candidate docs.  cand is persisted (it feeds the
    # id prune AND the verify join) and the corpus is semi-joined down
    # to candidate ids BEFORE the interpreted shingle projection: in
    # the physical plan, every Project that evaluates shingles(text)
    # sits above the semi-join on candidate ids, so none reads the full
    # corpus (an earlier spelling did, once per join side).
    cand = cached(cand)
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        d.join(cand_ids, "doc_id", "left_semi")
        .select("doc_id", shingles(F.col("text")).alias("sgl"))
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("sgl").alias("sgl_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sgl").alias("sgl_b"))
    n_inter = F.size(F.array_intersect("sgl_a", "sgl_b"))
    jac = n_inter.cast("double") / (F.size("sgl_a") + F.size("sgl_b") - n_inter)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )



# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

N_PERM = 32
BAND_SIZE = 4
N_BANDS = N_PERM // BAND_SIZE


def _minhash_lsh_bound_oracle() -> str:
    return f"""
    SELECT CAST((SELECT COUNT(*) FROM ({SQL_NGRAM_JACCARD}) t) AS BIGINT) AS n_true_pairs,
           TRUE AS lsh_all_verified,
           TRUE AS lsh_recall_ge_half,
           TRUE AS minhash_est_bounded
    """


def _lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production LSH path: sketch → band buckets → candidate pairs
    → exact-Jaccard verification (columns doc_a, doc_b, est_jaccard,
    jaccard, jaccard_check; filtered to jaccard ≥ 0.5).

    Factored out of ``dedup_minhash_lsh`` so the scaling probe can time
    THIS — what a user deduplicating a corpus runs — separately from
    the registered query's graded edge, whose exact-truth recompute
    (the df-capped ngram pair truth) is grading-only cost and was the
    stage that exceeded local disk at 1000× in round 8.

    The 100 TB dedup path: per doc, 32 min-hashes over its shingles
    (one aggregate pass over the inverted index); band hashes bucket
    docs; only bucket collisions become candidate pairs, each verified
    with exact Jaccard ≥ 0.5.  Cost: O(docs·perms) + bucket-local
    pairs — no all-pairs stage anywhere.

    Shuffle discipline: the band self-join ships (doc_id, band_id,
    band_hash) ONLY — 24 bytes/row, not the 32-long signature + the
    shingle array.  The wide sketch table is persisted once and joined
    back BY ID for just the distinct surviving candidates, so sketch
    width never multiplies the band shuffle.
    """
    from pyspark.storagelevel import StorageLevel

    d = load_table(spark, sf_dir, "documents")
    sh = d.select("doc_id", shingle_hashes(F.col("text")).alias("sgl"))
    # Signatures as per-row higher-order expressions: sig[s] =
    # min(xxhash64(shingle_hash, s)) over the doc's shingle-hash ARRAY —
    # no explode, no shuffle; the whole sketch stage is a narrow map.
    sig = sh.select(
        "doc_id",
        "sgl",
        F.array(
            *[
                F.array_min(F.transform("sgl", lambda x: F.xxhash64(x, F.lit(s))))
                for s in range(N_PERM)
            ]
        ).alias("sig"),
    )
    sig = cached(sig, StorageLevel.MEMORY_AND_DISK)

    # Narrow band table: ids + band key only.
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band_id"),
                        F.hash(F.slice("sig", band * BAND_SIZE + 1, BAND_SIZE)).alias("band_hash"),
                    )
                    for band in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")
    a, b = bands.alias("a"), bands.alias("b")
    ids = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # Fetch sketches by id for survivors only.
    cands = ids.join(
        sig.select(
            F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"), F.col("sgl").alias("sgl_a")
        ),
        "doc_a",
    ).join(
        sig.select(
            F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"), F.col("sgl").alias("sgl_b")
        ),
        "doc_b",
    )
    est = (
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.lit(float(N_PERM))
    )
    n_inter = F.size(F.array_intersect("sgl_a", "sgl_b"))
    jac = n_inter.cast("double") / (F.size("sgl_a") + F.size("sgl_b") - n_inter)
    # Independent re-derivation of the same exact Jaccard via the union
    # route (|A∩B| = |A|+|B|-|A∪B|): the verification boolean below is
    # computed from THIS expression, not the filter's, so a regression
    # in the filter threshold or its intersect spelling flips the
    # graded boolean instead of being filtered into tautology
    # (ADVICE r7).  Integer set sizes make the two divisions
    # bit-identical when both stages are correct.
    n_union = F.size(F.array_union("sgl_a", "sgl_b"))
    jac_check = (
        (F.size("sgl_a") + F.size("sgl_b") - n_union).cast("double") / n_union
    )
    return cands.select(
        "doc_a",
        "doc_b",
        est.alias("est_jaccard"),
        jac.alias("jaccard"),
        jac_check.alias("jaccard_check"),
    ).filter(F.col("jaccard") >= 0.5)


@register("dedup_minhash_lsh", oracle=_minhash_lsh_bound_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32 perms) + LSH(8 bands × 4 rows) near-dup candidates.

    Composes the production path (:func:`_lsh_verified_pairs` — see its
    docstring for the sketch/band/verify design) with the graded edge.

    Graded edge (bound-style, agg_hll_sketch_merge pattern): the band
    assignments are xxhash64-seeded — Spark-deterministic but not
    SQL-portable — so the edge carries the EXACT df-capped ground-truth
    pair count (DuckDB recomputes it) plus three honestly-computed
    quality booleans the oracle emits as literal TRUE: every surviving
    pair re-verifies at Jaccard ≥ 0.5; recall against the exact truth
    is ≥ 0.5 (measured 1.0 at sf0.01 AND sf0.1); every pair's
    signature estimate is within 0.5 of its exact Jaccard (Hoeffding:
    P(miss) ≤ 2e^(-2·32·0.25) ≈ 2e-7 per pair; measured max 0.149).
    An estimator/banding regression flips a boolean and hash-fails.
    """
    # Both pair frames are consumed by TWO aggregates each (stats +
    # n_found for surv; n_truth + n_found for truth): persist the tiny
    # id/score outputs so the band join and the exact-truth candidate
    # pass execute once, not per-consumer — the same fix VERDICT r9
    # applied to ml_minhash_lsh (r12 optimization round; measured
    # before/after in OPTIMIZATION_r12.md).
    surv = cached(_lsh_verified_pairs(spark, sf_dir))

    # Bound-style graded edge: exact truth count + quality booleans
    # (empty-set guards follow the ADVICE-r4 zero-division rule).
    truth = cached(dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b"))
    n_truth = truth.agg(F.count("*").alias("n_true_pairs"))
    stats = surv.agg(
        F.coalesce(F.min(F.col("jaccard_check") >= 0.5), F.lit(True)).alias(
            "lsh_all_verified"
        ),
        F.coalesce(
            F.min(F.abs(F.col("est_jaccard") - F.col("jaccard")) <= 0.5),
            F.lit(True),
        ).alias("minhash_est_bounded"),
    )
    n_found = surv.join(truth, ["doc_a", "doc_b"]).agg(F.count("*").alias("n_found"))
    return (
        n_truth.crossJoin(stats)
        .crossJoin(n_found)
        .select(
            "n_true_pairs",
            "lsh_all_verified",
            F.when(
                F.col("n_true_pairs") > 0,
                F.col("n_found").cast("double") / F.col("n_true_pairs") >= 0.5,
            )
            .otherwise(F.lit(True))
            .alias("lsh_recall_ge_half"),
            "minhash_est_bounded",
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


@register(
    "dedup_simhash64",
    oracle="""
    SELECT doc_id, TRUE AS bands_recompose, TRUE AS dup_text_same_fp
    FROM documents
    """,
)
def dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprint per document + 16-bit LSH bands.

    One explode + one aggregate: per doc, each word votes ±count on
    each of 64 bit positions of xxhash64(word); the sign vector is the
    fingerprint.  Bands b0..b3 (16 bits each) are the blocking keys —
    two docs within Hamming distance 3 share ≥1 band (pigeonhole).

    Graded edge (bound-style): the fingerprint value is xxhash64-based
    (Spark-deterministic, not SQL-portable), so the edge carries one
    row per document with two honestly-computed invariants the oracle
    emits as literal TRUE: re-composing the four 16-bit bands
    reproduces the fingerprint exactly (pins the band slicing), and
    byte-identical texts received identical fingerprints (pins
    cross-partition determinism of the vote aggregate).  A banding or
    determinism regression flips a boolean and hash-fails; the raw
    fingerprints/bands stay available via the internal frame.

    The determinism window partitions by xxhash64(text), NOT the text
    itself, so the shuffle ships 8-byte keys instead of full documents
    (ADVICE r6).  A 64-bit collision between two DIFFERENT texts would
    make the boolean conservative-false; at graded corpus sizes the
    probability is ~1e-9, and a collision at 100 TB flags for human
    review rather than passing silently — the safe direction.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).groupBy("doc_id", "word").agg(F.count("*").alias("cnt"))
    h = F.xxhash64("word")
    bit_votes = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.col("cnt")).otherwise(
                -F.col("cnt")
            )
        ).alias(f"v{i}")
        for i in range(64)
    ]
    votes = words.groupBy("doc_id").agg(*bit_votes)
    fp = None
    for i in range(64):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        fp = term if fp is None else fp.bitwiseOR(term)
    out = votes.select("doc_id", fp.alias("simhash"))
    mask = F.lit((1 << 16) - 1).cast("long")
    banded = out.select(
        "doc_id",
        "simhash",
        *[
            F.shiftrightunsigned("simhash", 16 * b).bitwiseAND(mask).alias(f"band{b}")
            for b in range(4)
        ],
    )
    recomposed = None
    for b in range(4):
        term = F.shiftleft(F.col(f"band{b}"), 16 * b)
        recomposed = term if recomposed is None else recomposed.bitwiseOR(term)
    wt = W.partitionBy("text_key")
    return (
        banded.join(
            d.select("doc_id", F.xxhash64("text").alias("text_key")), "doc_id"
        )
        .withColumn("bands_recompose", recomposed == F.col("simhash"))
        .withColumn(
            "dup_text_same_fp",
            F.min("simhash").over(wt) == F.max("simhash").over(wt),
        )
        .select("doc_id", "bands_recompose", "dup_text_same_fp")
    )



# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------


# Three 2-bit sign-hyperplane bands over dims (1,2), (3,4), (5,6) —
# a pair is a CANDIDATE if ANY band agrees (OR-amplification).
_SQL_SIGN_BANDS = """[
      (CASE WHEN embedding[1] >= 0 THEN 2 ELSE 0 END) + (CASE WHEN embedding[2] >= 0 THEN 1 ELSE 0 END),
      (CASE WHEN embedding[3] >= 0 THEN 2 ELSE 0 END) + (CASE WHEN embedding[4] >= 0 THEN 1 ELSE 0 END),
      (CASE WHEN embedding[5] >= 0 THEN 2 ELSE 0 END) + (CASE WHEN embedding[6] >= 0 THEN 1 ELSE 0 END)
    ]"""


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, embedding, {_SQL_SIGN_BANDS} AS bands
      FROM embeddings
    ),
    x AS (
      SELECT vec_id, label,
             generate_subscripts(bands, 1) AS band_id, unnest(bands) AS bh
      FROM e
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label
      FROM x a JOIN x b
        ON a.label = b.label AND a.band_id = b.band_id AND a.bh = b.bh
       AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b, c.label
    FROM cand c
    JOIN e ea ON ea.vec_id = c.vec_a
    JOIN e eb ON eb.vec_id = c.vec_b
    WHERE list_cosine_similarity(ea.embedding, eb.embedding) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ 0.4, banded sign-LSH blocking.

    Blocking on label alone is O(n²/L) — quadratic at 100 TB when
    label cardinality is low.  This is the hyperplane-LSH banding
    scheme (the cosine twin of MinHash banding): each vector gets 3
    bands of 2 sign bits; candidates are pairs agreeing on label +
    ANY band (OR-amplification keeps recall high where a single
    AND-composed bucket would miss most true pairs at θ ≈ 66°).  The
    candidate join is EQUI on (label, band_id, band_hash) and ships
    IDS ONLY — embeddings are joined back by id for the exact cosine
    verify on the (much smaller) distinct candidate set, so the wide
    vectors never ride the band shuffle.  The oracle blocks on the
    identical CASE-expression bands, so both engines see the same
    candidate set; ids-only output keeps the threshold decision
    stable across engines.
    """
    e = load_table(spark, sf_dir, "embeddings")

    def band_hash(i: int):  # 2 sign bits over dims (2i+1, 2i+2)
        hi = F.when(F.element_at("embedding", 2 * i + 1) >= 0, F.lit(2)).otherwise(F.lit(0))
        lo = F.when(F.element_at("embedding", 2 * i + 2) >= 0, F.lit(1)).otherwise(F.lit(0))
        return hi + lo

    x = e.select(
        "vec_id",
        "label",
        F.posexplode(F.array(*[band_hash(i) for i in range(3)])).alias("band_id", "bh"),
    )
    a = x.select(F.col("vec_id").alias("vec_a"), "label", "band_id", "bh")
    b = x.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("label_b"),
        F.col("band_id").alias("band_id_b"),
        F.col("bh").alias("bh_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("label") == F.col("label_b"))
            & (F.col("band_id") == F.col("band_id_b"))
            & (F.col("bh") == F.col("bh_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .select("vec_a", "vec_b", "label")
        .distinct()
    )
    emb = e.select("vec_id", "embedding")
    return (
        cand.join(emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a")), "vec_a")
        .join(emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b")), "vec_b")
        .filter(cosine_sim(F.col("emb_a"), F.col("emb_b")) >= 0.4)
        .select("vec_a", "vec_b", "label")
    )


# ---------------------------------------------------------------------------
# Connected-components dedup (iterative min-label propagation)
# ---------------------------------------------------------------------------

_CC_MAX_ITERS = 20  # >= max component diameter we'll ever converge over


@register(
    "dedup_connected_components",
    oracle=SQL_CC_COMPONENTS,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: connected components of the
    3-gram-Jaccard pair graph, component id = min doc_id.

    The principled upgrade of greedy pair-drop dedup (a drops b, b
    drops c — greedy keeps c; components drop the whole chain).
    Iterative min-label propagation: each round every node takes the
    min of its own label and its neighbors' labels — converges in
    O(component diameter) rounds, bounded at {_CC_MAX_ITERS}; each
    round is ONE shuffle (join labels to edges + min-aggregate).
    Labels and the (tiny) edge set persist across rounds; the
    convergence probe is a scalar count per round, never a data
    collect.  At 100 TB this is the standard large-graph CC loop
    (alternating large-star/small-star has the same per-round shape).
    The oracle computes the same fixpoint declaratively with a
    recursive CTE.
    """
    from pyspark.storagelevel import StorageLevel

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    # Symmetrize with ONE explode instead of unionAll(pairs, pairs):
    # the union spelling references the pair plan twice, so the plan
    # of `edges` held two copies of the candidate+verify pass and both
    # ran when `edges` first materialized.  The explode emits exactly
    # the same (src, dst) multiset from the one copy of the pair plan.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
                F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # cached() THEN localCheckpoint(): the persist keeps the edge set
    # reusable across invocations in one session (plan-identity cache
    # hits — the warm bench/grading path), while the checkpoint severs
    # the logical lineage so every per-round plan in the loop below is
    # O(loop state), not O(pair-pipeline plan).  Without the truncation
    # each round's analysis/caching re-walks the whole candidate+verify
    # lineage — measured 2-3x the entire query's runtime at sf0.1 (r12;
    # numbers in OPTIMIZATION_r12.md).  This is the standard iterative-
    # algorithm checkpoint (guide §5 "localCheckpoint cuts lineage");
    # rows are unchanged, and the persist in front keeps the checkpoint
    # rebuild cost at one InMemory scan per invocation.
    # Cleanup caveat (ADVICE r12): the checkpoint RDD persists OUTSIDE
    # the cached() registry, and unpersisting checkpointed data by hand
    # is unsafe (lineage is severed — the data IS the frame).  Freeing
    # it therefore RELIES ON ContextCleaner: each invocation builds a
    # fresh checkpoint RDD whose only driver-side reference dies with
    # this function's frame, so driver GC queues the old one for
    # cleanup between queries.  Bounded (one edge-set copy per live
    # invocation), not correctness-affecting; the repeat-invocation
    # test in tests/test_round12_opt_properties.py covers the lifecycle.
    edges = cached(edges, StorageLevel.MEMORY_AND_DISK).localCheckpoint(eager=False)
    d = load_table(spark, sf_dir, "documents")
    # Iterate ONLY over nodes that appear in an edge — near-dup'd docs
    # are a tiny fraction of the corpus, so the per-round join state is
    # |paired docs|, not |corpus|; singletons rejoin at the end.
    nodes = edges.select(F.col("src").alias("doc_id")).distinct()
    labels = cached(
        nodes.select("doc_id", F.col("doc_id").alias("comp")), StorageLevel.MEMORY_AND_DISK
    )
    for _ in range(_CC_MAX_ITERS):
        nbr_min = (
            labels.join(edges, labels.doc_id == edges.src)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        updated = (
            labels.join(nbr_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))).alias(
                    "comp"
                ),
                F.col("comp").alias("prev_comp"),
            )
        )
        updated = cached(updated, StorageLevel.MEMORY_AND_DISK)
        n_changed = updated.filter(F.col("comp") != F.col("prev_comp")).count()
        old = labels
        labels = updated.select("doc_id", "comp")
        old.unpersist()
        if n_changed == 0:
            break
    w = W.partitionBy("component_id")
    clustered = labels.select(
        "doc_id", F.col("comp").alias("component_id")
    ).withColumn("n_members", F.count("*").over(w).cast("long"))
    singletons = (
        d.select("doc_id")
        .join(labels.select("doc_id"), "doc_id", "left_anti")
        .select(
            "doc_id",
            F.col("doc_id").alias("component_id"),
            F.lit(1).cast("long").alias("n_members"),
        )
    )
    return clustered.unionAll(singletons)


@register(
    "dedup_containment",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    {_SQL_RARE_SHINGLES},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(ar.rsgl, br.rsgl)) AS n_inter_rare,
             len(list_intersect(a.sgl, b.sgl)) AS n_inter,
             len(a.sgl) AS n_a, len(b.sgl) AS n_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      JOIN rare ar ON ar.doc_id = a.doc_id
      JOIN rare br ON br.doc_id = b.doc_id
      WHERE len(list_intersect(ar.rsgl, br.rsgl)) > 0
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE) / LEAST(n_a, n_b) AS containment
    FROM inter
    WHERE CAST(n_inter_rare AS DOUBLE) / LEAST(n_a, n_b) >= 0.7
      AND CAST(n_inter AS DOUBLE) / LEAST(n_a, n_b) >= 0.7
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric (min-side) containment near-dup pairs (threshold 0.7).

    Jaccard misses subset relationships — a document pasted inside a
    much longer one scores low on union-normalized overlap but 1.0 on
    containment.  Same two-phase plan as ``dedup_ngram_jaccard``
    (hashed inverted-index candidates → exact string verify on the
    survivors), but WITHOUT the size-ratio prune: containment is
    size-asymmetric by design, so only the shared-shingle requirement
    bounds candidates.  The final value is an integer-ratio double."""
    d = load_table(spark, sf_dir, "documents")
    hashed = d.select("doc_id", shingle_hashes(F.col("text")).alias("hsgl"))
    ex = hashed.select("doc_id", F.size("hsgl").alias("n"), F.explode("hsgl").alias("h"))
    from pyspark.storagelevel import StorageLevel

    ex = cached(ex, StorageLevel.MEMORY_AND_DISK)
    # df-cap as in dedup_ngram_jaccard; sizes stay full-set, so the
    # capped gate under-estimates and the exact verify keeps the edge.
    exr = drop_hot_shingles(ex)
    a, b = exr.alias("a"), exr.alias("b")
    cand = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count("*").alias("n_inter"))
        .filter(
            F.col("n_inter").cast("double") / F.least("n_a", "n_b") >= 0.7
        )
        .select("doc_a", "doc_b")
    )
    # Same candidate-bounded verify as dedup_ngram_jaccard (r12): pin
    # the tiny pair set, semi-join the corpus down to candidate ids,
    # THEN build the string shingle sets — not two full-corpus passes.
    cand = cached(cand)
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        d.join(cand_ids, "doc_id", "left_semi")
        .select("doc_id", shingles(F.col("text")).alias("sgl"))
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("sgl").alias("sgl_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sgl").alias("sgl_b"))
    n_inter = F.size(F.array_intersect("sgl_a", "sgl_b"))
    cont = n_inter.cast("double") / F.least(F.size("sgl_a"), F.size("sgl_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", cont.alias("containment"))
        .filter(F.col("containment") >= 0.7)
    )


# --------------------------------------------------------------------------
# dedup_paragraph_hash — C4-style paragraph-granular dedup
# --------------------------------------------------------------------------


@register(
    "dedup_paragraph_hash",
    oracle="""
    WITH paras AS (
      SELECT doc_id, md5(unnest(string_split(text, '. '))) AS ph
      FROM documents
    ),
    df AS (
      SELECT ph, COUNT(DISTINCT doc_id) AS n_docs FROM paras GROUP BY ph
    )
    SELECT p.doc_id,
           COUNT(*) AS n_paras,
           CAST(COUNT(*) FILTER (WHERE df.n_docs > 1) AS BIGINT) AS n_dup_paras,
           CAST(COUNT(*) FILTER (WHERE df.n_docs > 1) AS DOUBLE) / COUNT(*)
             AS dup_frac,
           COUNT(*) FILTER (WHERE df.n_docs > 1) * 2 > COUNT(*) AS drop_doc
    FROM paras p JOIN df ON df.ph = p.ph
    GROUP BY p.doc_id
    """,
)
def dedup_paragraph_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granular dedup (the C4/RefinedWeb recipe): split each
    document into paragraphs, md5 each, and flag documents where more
    than half the paragraphs also appear in OTHER documents —
    boilerplate and syndicated content that document-level exact dedup
    misses entirely.

    md5 is the SQL-portable digest twin (``dedup_simhash_md5``
    convention), so the graded edge carries real counts, not booleans.
    Scale: the explode ships (doc_id, 16-byte digest) only; the
    cross-doc frequency is one map-combined digest aggregate; the
    verdict is an integer cross-multiplication (no float threshold).
    At 100 TB this is the same inverted-index discipline as the
    shingle dedup — a hot boilerplate paragraph costs one aggregate
    row, never a pair explosion, because the query joins paragraphs
    back to their docs (linear), not docs to docs (quadratic).
    """
    d = load_table(spark, sf_dir, "documents")
    paras = d.select(
        "doc_id", F.explode(F.split(F.col("text"), r"\. ")).alias("para")
    ).select("doc_id", F.md5(F.col("para")).alias("ph"))
    paras = cached(paras)
    df_p = paras.groupBy("ph").agg(F.countDistinct("doc_id").alias("n_docs"))
    joined = paras.join(df_p, "ph")
    dup = (F.col("n_docs") > 1).cast("long")
    agg = joined.groupBy("doc_id").agg(
        F.count("*").alias("n_paras"),
        F.sum(dup).cast("long").alias("n_dup_paras"),
    )
    return agg.select(
        "doc_id",
        "n_paras",
        "n_dup_paras",
        (F.col("n_dup_paras").cast("double") / F.col("n_paras")).alias("dup_frac"),
        (F.col("n_dup_paras") * 2 > F.col("n_paras")).alias("drop_doc"),
    )


_MH_J = 8  # minhash functions; 4 bands x 2 rows


def _minhash_md5_oracle() -> str:
    mins = ", ".join(
        f"MIN({_sql_h32('bg', f'mh{j}:')}) AS m{j}" for j in range(_MH_J)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id,"
        f" CAST(m{2*b} AS VARCHAR) || '_' || CAST(m{2*b+1} AS VARCHAR) AS bh FROM sig"
        for b in range(_MH_J // 2)
    )
    return f"""
    WITH bg AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS bg
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           unnest(range(1, len(ws))) AS t(i)
    ),
    sig AS (SELECT doc_id, {mins} FROM bg GROUP BY doc_id),
    bands AS ({bands}),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(DISTINCT a.band_id) AS BIGINT) AS n_bands
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM bg GROUP BY doc_id),
    inter AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS ni
      FROM pairs p
      JOIN bg a ON a.doc_id = p.doc_a
      JOIN bg b ON b.doc_id = p.doc_b AND b.bg = a.bg
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.n_bands,
           CAST(COALESCE(i.ni, 0) AS DOUBLE)
             / (sa.n + sb.n - COALESCE(i.ni, 0)) AS jaccard
    FROM pairs p
    LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    """


_SQL_MINHASH_MD5 = _minhash_md5_oracle()


@register("dedup_minhash_md5", oracle=_SQL_MINHASH_MD5)
def dedup_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates on a PORTABLE hash — the
    oracle-checkable twin of ``dedup_minhash_lsh`` (which uses
    xxhash64 and is rows-only by construction).  8 salted 32-bit
    md5-digit hashes → per-doc min signature → 4 bands of 2 rows →
    candidates share a band; every candidate pair is then verified
    with its exact bigram Jaccard.

    Same scale shape as the production twin: signatures are 8 longs
    per doc, the band join ships (doc_id, band_id, band_hash) rows
    only, and the exact verify is candidate-bounded (the two-phase
    sketch-then-verify recipe).  From ``functions.shingles`` the
    bigram builder's lambda touches only its element.
    """
    from project_fauna_spark.functions.shingles import word_bigrams

    d = load_table(spark, sf_dir, "documents")
    bg = d.select(
        "doc_id", F.explode(word_bigrams(F.col("text"))).alias("bg")
    ).distinct()
    sig = bg.groupBy("doc_id").agg(
        *[F.min(_h32(F.col("bg"), f"mh{j}:")).alias(f"m{j}") for j in range(_MH_J)]
    )
    # Recompute-everything spelling, KEPT DELIBERATELY (r12 A/B): both
    # "obvious" optimizations were measured slower on this query —
    # (a) replacing the 4-way unionAll of per-band projections with one
    # posexplode over a band array was 1.5x slower (the union lets the
    # planner prune each sig copy down to the two mins that band needs,
    # so the 8 thin aggregates beat 2 fat ones), and (b) the
    # candidate-bounded verify (persist pairs, semi-join the corpus to
    # pair participants) was 2.5-3x slower — the persist barrier on
    # `pairs` costs far more than the cheap full-corpus bigram passes it
    # saves, the same effect BASELINE.md's earlier A/B recorded for a
    # persist of the signature chain.  Numbers in OPTIMIZATION_r12.md.
    band_frames = [
        sig.select(
            "doc_id",
            F.lit(b).alias("band_id"),
            F.concat_ws("_", F.col(f"m{2*b}"), F.col(f"m{2*b+1}")).alias("bh"),
        )
        for b in range(_MH_J // 2)
    ]
    import functools as _ft

    bands = _ft.reduce(lambda x, y: x.unionAll(y), band_frames)
    a = bands.select(
        F.col("doc_id").alias("doc_a"), "band_id", "bh"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), "band_id", "bh"
    )
    pairs = (
        a.join(b, ["band_id", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.countDistinct("band_id").alias("n_bands"))
    )
    sizes = bg.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    bga = bg.select(F.col("doc_id").alias("doc_a"), F.col("bg"))
    bgb = bg.select(F.col("doc_id").alias("doc_b"), F.col("bg"))
    inter = (
        pairs.join(bga, "doc_a")
        .join(bgb, ["doc_b", "bg"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_bands",
            (
                F.coalesce(F.col("ni"), F.lit(0)).cast("double")
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("ni"), F.lit(0)))
            ).alias("jaccard"),
        )
    )


@register(
    "dedup_cross_modal_agreement",
    oracle=f"""
    WITH bg AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] AS bg
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           unnest(range(1, len(ws))) AS t(i)
    ),
    dfreq AS (SELECT bg, COUNT(*) AS df FROM bg GROUP BY bg),
    rare AS (SELECT bg.doc_id, bg.bg FROM bg JOIN dfreq USING (bg) WHERE dfreq.df <= 20),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM bg GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ni
      FROM rare a JOIN rare b ON a.bg = b.bg AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    full_inter AS (
      SELECT i.doc_a, i.doc_b, COUNT(*) AS ni
      FROM inter i
      JOIN bg a ON a.doc_id = i.doc_a
      JOIN bg b ON b.doc_id = i.doc_b AND b.bg = a.bg
      GROUP BY 1, 2
    ),
    top AS (
      SELECT f.doc_a, f.doc_b,
             CAST(f.ni AS DOUBLE) / (sa.n + sb.n - f.ni) AS jaccard
      FROM full_inter f
      JOIN sizes sa ON sa.doc_id = f.doc_a
      JOIN sizes sb ON sb.doc_id = f.doc_b
      ORDER BY jaccard DESC, f.doc_a, f.doc_b LIMIT 100
    ),
    e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    )
    SELECT t.doc_a, t.doc_b, t.jaccard,
           {SQL_COS.format(a='ea.emb', b='eb.emb')} AS cos,
           {SQL_COS.format(a='ea.emb', b='eb.emb')} >= 0.2 AS semantic_agree
    FROM top t
    JOIN e ea ON ea.vec_id = t.doc_a
    JOIN e eb ON eb.vec_id = t.doc_b
    """,
)
def dedup_cross_modal_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal dedup consistency audit: the top-100 text-overlap
    pairs (exact bigram Jaccard, candidates blocked on rare shared
    bigrams df ≤ 20) annotated with their embedding cosine and a
    semantic-agreement flag — the QA step that catches a text-dedup
    and an embedding-dedup pass disagreeing about what "duplicate"
    means before one of them deletes training data.

    Candidate generation is the inverted-index + stop-shingle-prune
    shape (never all-pairs); the top-100 is a TakeOrdered; the
    embedding join touches 200 broadcast-sized rows.  Jaccard is an
    integer ratio, the cosine an index-ordered fold — both exact.
    """
    from project_fauna_spark.functions.shingles import word_bigrams

    d = load_table(spark, sf_dir, "documents")
    bg = d.select(
        "doc_id", F.explode(word_bigrams(F.col("text"))).alias("bg")
    ).distinct()
    dfreq = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("df"))
    rare = bg.join(dfreq.filter(F.col("df") <= 20), "bg").select("doc_id", "bg")
    ra = rare.select(F.col("doc_id").alias("doc_a"), "bg")
    rb = rare.select(F.col("doc_id").alias("doc_b"), "bg")
    cand = (
        ra.join(rb, "bg")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Candidate-bounded verify (r12, the dedup_ngram_jaccard pattern-2
    # fix): pin the tiny pair set, semi-join the corpus down to
    # pair-participant ids, and build the distinct-bigram frame for
    # those docs ONLY — the old spelling re-ran the full-corpus explode
    # three more times (sizes + both verify join sides).  Inner joins
    # on the pair ids are unchanged by pruning to pair participants,
    # and per-doc bigram counts are per-doc properties of the same
    # text, so sizes values are identical for every surviving pair.
    cand = cached(cand)
    cand_ids = cand.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    # bgc itself feeds THREE consumers (sizes + both verify join
    # sides); it is candidate-bounded, so the pin is output-sized.
    bgc = cached(
        d.join(cand_ids, "doc_id", "left_semi")
        .select("doc_id", F.explode(word_bigrams(F.col("text"))).alias("bg"))
        .distinct()
    )
    sizes = bgc.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    bga = bgc.select(F.col("doc_id").alias("doc_a"), "bg")
    bgb = bgc.select(F.col("doc_id").alias("doc_b"), "bg")
    full_inter = (
        cand.join(bga, "doc_a")
        .join(bgb, ["doc_b", "bg"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    top = (
        full_inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("ni").cast("double")
                / (F.col("na") + F.col("nb") - F.col("ni"))
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "doc_a", "doc_b")
        .limit(100)
    )
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    ea = e.select(F.col("vec_id").alias("doc_a"), F.col("emb").alias("emb_a"))
    eb = e.select(F.col("vec_id").alias("doc_b"), F.col("emb").alias("emb_b"))
    cos = cosine_sim(F.col("emb_a"), F.col("emb_b"))
    return (
        top.join(ea, "doc_a")
        .join(eb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            cos.alias("cos"),
            (cos >= 0.2).alias("semantic_agree"),
        )
    )


# The CC oracle is reused verbatim as a subquery (DuckDB allows WITH —
# including WITH RECURSIVE — inside a FROM subquery), so representative
# selection grades against the exact same component structure the Spark
# side consumes.
_CC_SQL = SQL_CC_COMPONENTS


@register(
    "dedup_cluster_representative",
    oracle=f"""
    WITH cc AS (SELECT * FROM ({_CC_SQL}) _cc),
    scored AS (
      SELECT cc.component_id, cc.n_members, d.doc_id, length(d.text) AS n_chars,
             row_number() OVER (PARTITION BY cc.component_id
                                ORDER BY length(d.text) DESC, d.doc_id) AS rk
      FROM cc JOIN documents d ON d.doc_id = cc.doc_id
    )
    SELECT component_id, CAST(n_members AS BIGINT) AS n_members,
           doc_id AS rep_doc_id, CAST(n_chars AS BIGINT) AS rep_n_chars
    FROM scored WHERE rk = 1
    """,
)
def dedup_cluster_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical document per near-dup cluster: from the connected
    components of the near-dup graph, keep the longest text (min
    doc_id on ties) as each cluster's representative — the step that
    turns pairwise dedup output into an actual keep/drop decision.

    One row_number window partitioned by component; state is bounded
    by cluster size (near-dup clusters are small by construction — a
    mega-cluster means the upstream threshold is wrong, not the plan).
    """
    cc = dedup_connected_components(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", F.length("text").alias("n_chars"))
    w = W.partitionBy("component_id").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        cc.join(d, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "component_id",
            F.col("n_members").cast("long").alias("n_members"),
            F.col("doc_id").alias("rep_doc_id"),
            F.col("n_chars").cast("long").alias("rep_n_chars"),
        )
    )


@register(
    "dedup_incremental_base_vs_new",
    oracle="""
    WITH digests AS (
      SELECT doc_id, md5(text) AS dg, doc_id % 10 = 0 AS is_new FROM documents
    ),
    base AS (SELECT DISTINCT dg FROM digests WHERE NOT is_new),
    new_batch AS (
      SELECT doc_id, dg,
             MIN(doc_id) OVER (PARTITION BY dg) AS first_new
      FROM digests WHERE is_new
    )
    SELECT n.doc_id,
           (n.dg IN (SELECT dg FROM base)) AS is_dup_of_base,
           (n.first_new < n.doc_id) AS is_dup_within_new
    FROM new_batch n
    """,
)
def dedup_incremental_base_vs_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: a new document batch (here: doc_id
    divisible by 10) is checked against the already-ingested corpus by
    content digest, plus within-batch first-copy detection — the
    nightly-drop pattern that never re-deduplicates the base corpus.

    The shuffle carries (digest, id) pairs only — never text.  The
    base side joins on digest; in production the base digest table is
    bucketed on digest so the check is exchange-free on the big side.
    The within-batch check is a MIN window over digest groups (group
    size = copies of one payload — bounded).
    """
    d = load_table(spark, sf_dir, "documents")
    digests = d.select(
        "doc_id",
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("dg"),
        (F.col("doc_id") % 10 == 0).alias("is_new"),
    )
    base = digests.filter(~F.col("is_new")).select("dg").distinct()
    new_batch = digests.filter(F.col("is_new")).withColumn(
        "first_new", F.min("doc_id").over(W.partitionBy("dg"))
    )
    hit = base.select("dg", F.lit(True).alias("_in_base"))
    return (
        new_batch.join(hit, "dg", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("_in_base"), F.lit(False)).alias("is_dup_of_base"),
            (F.col("first_new") < F.col("doc_id")).alias("is_dup_within_new"),
        )
    )


# Recall audit composes the two dedup oracles verbatim — candidate
# generation (MinHash band collisions) scored against the exact
# df-capped Jaccard ground truth.  Both oracle strings are WITH-queries
# (DuckDB accepts them as FROM-subqueries).


def _recall_audit_oracle() -> str:
    return f"""
    WITH exact_pairs AS (SELECT doc_a, doc_b FROM ({SQL_NGRAM_JACCARD}) x),
    cand_pairs AS (SELECT DISTINCT doc_a, doc_b FROM ({_SQL_MINHASH_MD5}) m)
    SELECT (SELECT COUNT(*) FROM exact_pairs) AS n_exact,
           (SELECT COUNT(*) FROM cand_pairs) AS n_candidates,
           (SELECT COUNT(*) FROM exact_pairs e
             JOIN cand_pairs c ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b)
             AS n_exact_found,
           CASE WHEN (SELECT COUNT(*) FROM exact_pairs) > 0
                THEN CAST((SELECT COUNT(*) FROM exact_pairs e
                            JOIN cand_pairs c ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b)
                          AS DOUBLE)
                     / (SELECT COUNT(*) FROM exact_pairs)
                ELSE NULL END AS recall
    """


@register(
    "dedup_minhash_recall_audit",
    oracle=_recall_audit_oracle(),
)
def dedup_minhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH tuning audit: what fraction of the exact near-dup pairs does
    the MinHash band index actually surface as candidates?  This is the
    measurement loop behind choosing (n_perm, band_size) — run it on a
    sample whenever the corpus distribution shifts; recall < target
    means more bands (or the exact tier) are needed.

    Reuses both production plans: the exact side is the df-capped Jaccard join, the candidate side
    the band-collision index.  Three scalar counts cross-joined into
    one row — output size is constant at any corpus scale.
    """
    # Both pair frames are consumed TWICE (their scalar count + the
    # intersection join): persist the tiny id-pair outputs so each
    # full dedup pipeline executes once, not per-consumer (r12; the
    # dedup_minhash_lsh / ml_minhash_lsh pattern-4 fix).
    exact = cached(dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b"))
    cand = cached(
        dedup_minhash_md5(spark, sf_dir).select("doc_a", "doc_b").distinct()
    )
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    n_cand = cand.agg(F.count("*").alias("n_candidates"))
    found = exact.join(cand, ["doc_a", "doc_b"]).agg(
        F.count("*").alias("n_exact_found")
    )
    return (
        n_exact.crossJoin(n_cand)
        .crossJoin(found)
        .select(
            "n_exact",
            "n_candidates",
            "n_exact_found",
            # Zero guard: ANSI Spark throws DIVIDE_BY_ZERO where DuckDB
            # yields NULL; a regenerated corpus with zero exact pairs
            # must produce NULL on both sides (ADVICE r4).
            F.when(
                F.col("n_exact") > 0,
                F.col("n_exact_found").cast("double") / F.col("n_exact"),
            )
            .otherwise(F.lit(None).cast("double"))
            .alias("recall"),
        )
    )


# --------------------------------------------------------------------------
# dedup_threshold_sweep — near-dup impact vs Jaccard threshold
# --------------------------------------------------------------------------


def _threshold_sweep_oracle() -> str:
    return f"""
    WITH sh AS ({_SQL_SHINGLES}),
    {_SQL_RARE_SHINGLES},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(ar.rsgl, br.rsgl)) AS n_inter_rare,
             len(list_intersect(a.sgl, b.sgl)) AS ni,
             len(a.sgl) + len(b.sgl) - len(list_intersect(a.sgl, b.sgl)) AS nu,
             len(a.sgl) AS n_a, len(b.sgl) AS n_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      JOIN rare ar ON ar.doc_id = a.doc_id
      JOIN rare br ON br.doc_id = b.doc_id
      WHERE len(list_intersect(ar.rsgl, br.rsgl)) > 0
    ),
    verified AS (
      SELECT doc_a, doc_b, ni, nu FROM inter
      WHERE n_inter_rare * 10 >= (n_a + n_b - n_inter_rare) * 3
    ),
    sweep(t) AS (VALUES (3), (5), (7))
    SELECT CAST(t AS DOUBLE) / 10.0 AS threshold,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS n_docs_dropped
    FROM sweep JOIN verified ON ni * 10 >= nu * t
    GROUP BY t
    """


@register(
    "dedup_threshold_sweep",
    oracle=_threshold_sweep_oracle(),
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup policy sweep: exact near-dup pair count and documents-
    dropped count at Jaccard thresholds 0.3 / 0.5 / 0.7, from ONE
    candidate pass — the measurement that picks a dedup threshold by
    its corpus impact (the ``sim_ivf_nprobe_sweep`` pattern applied to
    the dedup dial).

    The candidate stage is the df-capped inverted-index self-join run
    at the LOOSEST threshold (0.3 size-ratio prune + 0.3 capped-index
    gate, both spelled as integer cross-multiplications); exact
    verification computes integer (intersection, union) per surviving
    pair once, and the 3-threshold sweep is a tiny broadcast join
    filtering ``n_inter·10 ≥ n_union·t`` — still all-integer.
    Documents-dropped uses the min-id survivor rule (drop = appears as
    the higher id of any qualifying pair).
    """
    from pyspark.storagelevel import StorageLevel

    from project_fauna_spark.functions.shingles import drop_hot_shingles as _drop_hot

    d = load_table(spark, sf_dir, "documents")
    hashed = d.select("doc_id", shingle_hashes(F.col("text")).alias("hsgl"))
    ex = hashed.select(
        "doc_id", F.size("hsgl").alias("n"), F.explode("hsgl").alias("h")
    )
    ex = cached(ex, StorageLevel.MEMORY_AND_DISK)
    exr = _drop_hot(ex)
    a, b = exr.alias("a"), exr.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n") * 10 >= F.col("a.n") * 3)
            & (F.col("a.n") * 10 >= F.col("b.n") * 3),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .agg(F.count("*").alias("n_inter_rare"))
        .filter(
            F.col("n_inter_rare") * 10
            >= (F.col("n_a") + F.col("n_b") - F.col("n_inter_rare")) * 3
        )
        .select("doc_a", "doc_b")
    )
    # Candidate-bounded verify (r12, the dedup_ngram_jaccard pattern):
    # persist the tiny pair set and semi-join the corpus down to
    # candidate ids before the interpreted shingle projection.
    cand = cached(cand)
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        d.join(cand_ids, "doc_id", "left_semi")
        .select("doc_id", shingles(F.col("text")).alias("sgl"))
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("sgl").alias("sgl_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sgl").alias("sgl_b"))
    n_inter = F.size(F.array_intersect("sgl_a", "sgl_b"))
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_inter.alias("ni"),
            (F.size("sgl_a") + F.size("sgl_b") - n_inter).alias("nu"),
        )
    )
    thresholds = spark.range(1).select(
        F.explode(F.array(F.lit(3), F.lit(5), F.lit(7))).alias("t")
    )
    swept = F.broadcast(thresholds).join(
        verified, F.col("ni") * 10 >= F.col("nu") * F.col("t")
    )
    return swept.groupBy("t").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("doc_b").alias("n_docs_dropped"),
    ).select(
        (F.col("t").cast("double") / 10.0).alias("threshold"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("n_docs_dropped").cast("long").alias("n_docs_dropped"),
    )


# --------------------------------------------------------------------------
# dedup_family_size_histogram — how big are the duplicate families?
# --------------------------------------------------------------------------


@register(
    "dedup_family_size_histogram",
    oracle="""
    WITH g AS (SELECT text, COUNT(*) AS sz FROM documents GROUP BY text)
    SELECT CAST(sz AS BIGINT) AS family_size,
           CAST(COUNT(*) AS BIGINT) AS n_families,
           CAST(sz * COUNT(*) AS BIGINT) AS n_docs,
           CAST((sz - 1) * COUNT(*) AS BIGINT) AS n_redundant
    FROM g GROUP BY sz
    """,
)
def dedup_family_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of EXACT-duplicate family sizes: how many text
    groups have 1, 2, 3… members, how many documents and how many
    redundant copies each size class holds — the shape that decides
    dedup strategy (a few giant families → hash-dedup wins big and
    cluster-representative choice matters; a long tail of pairs →
    near-dup detection is where the leverage is).  The size-resolved
    refinement of ``llm_dedup_survivorship_report``'s single
    exact-dedup line.

    Two map-combined hash aggregates (text → family size → histogram);
    the second runs on the family-count frame whose key domain is tiny
    (distinct sizes).  All counts exact.  Scale: the text-keyed
    aggregate is the same shape as exact dedup itself — at 100 TB key
    by a digest instead of raw text (the ``dedup_exact_text``
    convention) and nothing else changes.
    """
    g = (
        load_table(spark, sf_dir, "documents")
        .groupBy("text")
        .agg(F.count("*").alias("sz"))
    )
    return (
        g.groupBy("sz")
        .agg(F.count("*").alias("n_families"))
        .select(
            F.col("sz").cast("long").alias("family_size"),
            F.col("n_families").cast("long").alias("n_families"),
            (F.col("sz") * F.col("n_families")).cast("long").alias("n_docs"),
            ((F.col("sz") - F.lit(1)) * F.col("n_families"))
            .cast("long")
            .alias("n_redundant"),
        )
    )


# --------------------------------------------------------------------------
# dedup_boilerplate_ngrams — what text does EVERYONE repeat?
# --------------------------------------------------------------------------

_BP_TOP = 20


def _boilerplate_oracle() -> str:
    return f"""
    WITH g AS ({sql_token_grams_cte(_GRAM_K)}),
    agg AS (
      SELECT md5(gram) AS gram_digest,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             CAST(MIN(doc_id) AS BIGINT) AS example_doc
      FROM g GROUP BY 1
      HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT gram_digest, n_docs, n_occurrences, example_doc
    FROM agg ORDER BY n_docs DESC, n_occurrences DESC, gram_digest
    LIMIT {_BP_TOP}
    """


@register("dedup_boilerplate_ngrams", oracle=_boilerplate_oracle())
def dedup_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The top-20 BOILERPLATE n-grams: 8-token windows ranked by how
    many distinct documents contain them — headers, footers, license
    blurbs, navigation text: the corpus-wide removal list an
    exact-substring cleaner (Lee et al. 2022) is built from
    (``dedup_exact_substring`` scores each DOCUMENT's duplicated
    share; this surfaces the shared fragments themselves, reusing the
    same ``curation._token_grams`` window builder so the two stages
    can never disagree about what a window is).

    The shuffle carries (doc_id, 16-byte md5 of the window), never
    window text; ranking is TakeOrdered 20 under the total
    (n_docs, n_occurrences, digest) order.  Scale: one map-combined
    digest aggregate over the corpus-linear gram explode — a hot
    boilerplate fragment is one aggregate row, never a pair
    explosion.
    """
    from project_fauna_spark.functions.shingles import token_grams as _token_grams

    g = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(_token_grams(F.col("text"))).alias("gram")
    )
    agg = (
        g.select("doc_id", F.md5(F.col("gram")).alias("gram_digest"))
        .groupBy("gram_digest")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min("doc_id").alias("example_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return agg.orderBy(
        F.col("n_docs").desc(), F.col("n_occurrences").desc(), "gram_digest"
    ).limit(_BP_TOP)


# --------------------------------------------------------------------------
# dedup_component_size_histogram — the near-dup cluster-size shape
# --------------------------------------------------------------------------


def _component_histogram_oracle() -> str:

    return f"""
    WITH cc AS (SELECT * FROM ({SQL_CC_COMPONENTS}) _cc),
    sizes AS (
      SELECT component_id, CAST(COUNT(*) AS BIGINT) AS sz
      FROM cc GROUP BY 1
    )
    SELECT CAST(sz AS BIGINT) AS component_size,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(sz * COUNT(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY sz
    """


@register(
    "dedup_component_size_histogram", oracle=_component_histogram_oracle()
)
def dedup_component_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size distribution of the NEAR-dup connected components — the
    near-duplicate twin of ``dedup_family_size_histogram`` (which
    counts EXACT-duplicate families): singletons are unique content,
    a long tail of pairs means borderline paraphrases, and a few
    giant components mean template farms whose removal changes corpus
    statistics materially.  Together the two histograms are the
    before/after picture every dedup design review starts from.

    Composes ``dedup_connected_components`` and its shared oracle SQL
    (``_oracle_shared.SQL_CC_COMPONENTS``), so
    the histogram can never disagree with the clustering it
    summarizes.  Two tiny aggregates on top of the component table.
    """
    cc = dedup_connected_components(spark, sf_dir)
    sizes = cc.groupBy("component_id").agg(F.count("*").alias("sz"))
    return (
        sizes.groupBy("sz")
        .agg(F.count("*").alias("n_components"))
        .select(
            F.col("sz").cast("long").alias("component_size"),
            F.col("n_components").cast("long").alias("n_components"),
            (F.col("sz") * F.col("n_components")).cast("long").alias("n_docs"),
        )
    )


def _incremental_oracle() -> str:
    return f"""
    WITH split AS (SELECT (4 * MAX(doc_id)) // 5 AS s FROM documents),
    pairs AS ({SQL_NGRAM_JACCARD}),
    blame AS (
      SELECT doc_b AS doc_id, MIN(doc_a) AS blame_doc
      FROM pairs GROUP BY doc_b
    )
    SELECT d.doc_id,
           b.blame_doc IS NULL AS keep,
           b.blame_doc,
           b.blame_doc <= split.s AS blame_in_corpus
    FROM documents d CROSS JOIN split
    LEFT JOIN blame b ON b.doc_id = d.doc_id
    WHERE d.doc_id > split.s
    """


@register("dedup_incremental_new_batch", oracle=_incremental_oracle())
def dedup_incremental_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a new document batch against the corpus.

    The corpus is split at the 80th doc_id percentile (integer
    arithmetic, exact on both engines): docs above the split are "the
    new batch".  A new doc is kept iff it has no exact-Jaccard ≥ 0.5
    near-duplicate with a SMALLER doc_id — first-occurrence-wins in
    ingest order, the standard greedy approximation (a doc dropped as
    a dup of an earlier dup still blocks later members of its family,
    which keeps the decision per-pair and shuffle-local instead of
    iterative).  ``blame_in_corpus`` distinguishes dup-of-existing
    from dup-within-batch — the split drives different pipeline
    actions (skip ingest vs intra-batch collapse).

    Reuses the df-capped inverted-index pair pass (dedup.py:121 —
    candidates bounded by shared rare shingles, exact verify on
    survivors only; pairs always have doc_a < doc_b so "earlier dup"
    is exactly a blame join on doc_b).  Cost on top of the pair pass:
    one scalar max aggregate and one ids-only left join.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    split = d.agg(
        F.expr("(4 * MAX(doc_id)) div 5").cast("long").alias("s")
    )
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    blame = pairs.groupBy(F.col("doc_b").alias("doc_id")).agg(
        F.min("doc_a").alias("blame_doc")
    )
    return (
        d.crossJoin(F.broadcast(split))
        .filter(F.col("doc_id") > F.col("s"))
        .join(blame, "doc_id", "left")
        .select(
            "doc_id",
            F.col("blame_doc").isNull().alias("keep"),
            "blame_doc",
            (F.col("blame_doc") <= F.col("s")).alias("blame_in_corpus"),
        )
    )


def _component_representative_oracle() -> str:
    return f"""
    WITH comp AS ({SQL_CC_COMPONENTS}),
    d AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS len FROM documents),
    j AS (
      SELECT c.component_id, c.n_members, c.doc_id, d.len
      FROM comp c JOIN d USING (doc_id)
      WHERE c.n_members > 1
    ),
    best AS (SELECT component_id, MAX(len) AS rep_len_longest
             FROM j GROUP BY component_id),
    rep_l AS (
      SELECT j.component_id, MIN(j.doc_id) AS rep_longest
      FROM j JOIN best ON best.component_id = j.component_id
                      AND j.len = best.rep_len_longest
      GROUP BY j.component_id
    ),
    rep_f AS (
      SELECT component_id, MIN(doc_id) AS rep_first FROM j GROUP BY component_id
    ),
    first_len AS (
      SELECT j.component_id, j.len AS rep_len_first
      FROM j JOIN rep_f ON rep_f.component_id = j.component_id
                       AND j.doc_id = rep_f.rep_first
    )
    SELECT j.component_id,
           CAST(MAX(j.n_members) AS BIGINT) AS n_members,
           ANY_VALUE(rep_l.rep_longest) AS rep_longest,
           ANY_VALUE(best.rep_len_longest) AS rep_len_longest,
           ANY_VALUE(rep_f.rep_first) AS rep_first,
           ANY_VALUE(first_len.rep_len_first) AS rep_len_first,
           CAST(SUM(j.len) AS BIGINT) AS total_len,
           CAST(SUM(j.len) - ANY_VALUE(best.rep_len_longest) AS BIGINT)
             AS saved_len_longest,
           CAST(SUM(j.len) - ANY_VALUE(first_len.rep_len_first) AS BIGINT)
             AS saved_len_first,
           ANY_VALUE(rep_l.rep_longest) = ANY_VALUE(rep_f.rep_first)
             AS policies_agree
    FROM j
    JOIN best ON best.component_id = j.component_id
    JOIN rep_l ON rep_l.component_id = j.component_id
    JOIN rep_f ON rep_f.component_id = j.component_id
    JOIN first_len ON first_len.component_id = j.component_id
    GROUP BY j.component_id
    """


@register(
    "dedup_component_representative",
    oracle=_component_representative_oracle(),
)
def dedup_component_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-policy contrast over the near-dup component graph: for
    every multi-member component, the representative and exact byte
    savings under BOTH standard policies — keep-LONGEST member (the
    C4/RefinedWeb quality proxy; ties to the smallest doc_id) and
    keep-FIRST member (first-occurrence-wins, the only policy an
    incremental/streaming dedup can enforce, cf.
    ``dedup_incremental_new_batch``) — plus where they disagree.
    ``dedup_cluster_representative`` reports the
    keep-longest winner alone; this is the policy-selection table that
    justifies (or vetoes) switching to the cheaper incremental rule:
    ``rep_len_longest − rep_len_first`` summed over disagreeing
    components is the exact content (in bytes of best-copy text) that
    first-occurrence-wins throws away, and ``saved_len_first −
    saved_len_longest`` is the extra storage it reclaims in exchange.

    Both argmaxes are single struct-extrema aggregates in ONE pass
    (``max(struct(len, -doc_id))`` for longest — lexicographic struct
    ordering gives max length then min doc_id, the repo's tie-safe
    argmax; ``min(struct(doc_id, len))`` for first), so the whole
    stage costs one ids+length join and one aggregate on top of the
    CC fixpoint — no text ever shuffles (length folds at the scan),
    and every compared value is an exact integer (the one boolean is
    an integer equality both engines compute on identical inputs).
    At 100 TB this is the keep/drop decision table the rewrite job
    consumes; components are near-dup families so per-key state is
    family-sized, never corpus-sized.
    """
    comp = dedup_connected_components(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("len")
    )
    j = comp.filter(F.col("n_members") > 1).join(d, "doc_id")
    longest = F.max(
        F.struct(F.col("len").alias("l"), (-F.col("doc_id")).alias("nd"))
    )
    first = F.min(F.struct(F.col("doc_id").alias("d"), F.col("len").alias("l")))
    return j.groupBy("component_id").agg(
        F.max("n_members").cast("long").alias("n_members"),
        (-longest.getField("nd")).alias("rep_longest"),
        longest.getField("l").alias("rep_len_longest"),
        first.getField("d").alias("rep_first"),
        first.getField("l").alias("rep_len_first"),
        F.sum("len").cast("long").alias("total_len"),
        (F.sum("len") - longest.getField("l")).cast("long").alias("saved_len_longest"),
        (F.sum("len") - first.getField("l")).cast("long").alias("saved_len_first"),
        ((-longest.getField("nd")) == first.getField("d")).alias("policies_agree"),
    )
