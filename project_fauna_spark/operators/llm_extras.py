"""LLM tokenizer, language-model scoring and data-mixture operators.

Tokenizer work (BPE pair counts, merges and encoding, OOV rate,
fertility), cheap LM and classifier scores (bigram / unigram
likelihood, the linear quality gate and its calibration), and mixture
and sampling weights (temperature mixes, importance resampling, token
budgets).  The first four:

* ``llm_bpe_pair_counts`` — the counting step of byte-pair-encoding
  tokenizer training: corpus-weighted adjacent-symbol pair frequencies
  and the top merge candidates.
* ``sim_ann_ivf`` — IVF-style approximate nearest neighbor: a coarse
  quantizer assigns every vector to its nearest codebook centroid
  (inverted lists), queries probe the 2 nearest cells and re-rank
  exactly inside them — the other classic ANN scale path next to LSH
  (``similarity.sim_ann_lsh_bucketed``).
* ``llm_bigram_likelihood`` — corpus bigram language model scoring:
  per-document mean transition probability, the cheap fluency /
  perplexity proxy used in quality filtering.
* ``llm_quality_classifier`` — fastText-style linear quality gate over
  engineered per-document features (stopword / long-word / punctuation
  ratios), entirely expression-level.

All four follow the registry float-parity conventions: per-row IEEE
arithmetic or decimal-accumulated sums at compared edges, index-ordered
vector folds, unique tie-breaks on every window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from project_fauna_spark.cache import cached
from project_fauna_spark.functions.shingles import word_bigrams
from project_fauna_spark.functions.vectors import cosine_sim
from project_fauna_spark.functions.wordhash import h32
from project_fauna_spark.io import load_table
from project_fauna_spark.operators._oracle_shared import (
    SQL_COS as _SQL_COS,
    _IVF_K,
    _IVF_NPROBE,
    _ivf_centroid,
    _ivf_sql_values,
    sql_h32,
)
from project_fauna_spark.plans.registry import register, sql_davg


@register(
    "llm_bpe_pair_counts",
    oracle="""
    WITH w AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    wc AS (SELECT word, COUNT(*) AS n FROM w WHERE word <> '' GROUP BY word),
    p AS (
      SELECT unnest([word[i:i+1] for i in range(1, length(word))]) AS pair, n
      FROM wc WHERE length(word) >= 2
    ),
    c AS (SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM p GROUP BY pair)
    SELECT pair, cnt FROM c ORDER BY cnt DESC, pair LIMIT 20
    """,
)
def llm_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training counting step: corpus-weighted adjacent
    character-pair frequencies, top-20 merge candidates.

    The distributed shape real BPE trainers use: aggregate the corpus
    to (word, count) FIRST — pair statistics then fold over the
    word-type table (vocabulary-sized, not corpus-sized), so each
    merge round touches ~10⁵ word types instead of 10¹¹ tokens.  Char
    pairs are built with the zipped-slice shape (lambda touches only
    its element); the final top-20 is TakeOrdered over the bounded
    pair vocabulary with a unique (cnt, pair) tie-break.
    """
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.length("word") >= 2)
    )
    chars = F.split(F.col("word"), "")
    k = F.greatest(F.size(chars) - 1, F.lit(0))
    zipped = F.slice(
        F.arrays_zip(chars.alias("c1"), F.slice(chars, 2, k).alias("c2")), 1, k
    )
    pairs = F.transform(zipped, lambda s: F.concat(s.c1, s.c2))
    return (
        wc.select(F.explode(pairs).alias("pair"), "n")
        .groupBy("pair")
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(20)
    )


@register(
    "sim_ann_ivf",
    oracle=f"""
    WITH cents(k, c) AS (VALUES {_ivf_sql_values()}),
    e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ),
    scored AS (
      SELECT e.vec_id, e.emb, cents.k,
             list_reduce(list_transform(range(1, len(e.emb)+1),
                                        i -> e.emb[i] * cents.c[i]),
                         (s, v) -> s + v) AS dp
      FROM e CROSS JOIN cents
    ),
    assigned AS (
      SELECT vec_id, emb, k AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dp DESC, k DESC) AS rn
        FROM scored) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, emb AS qemb, k AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY dp DESC, k DESC) AS rn
        FROM scored WHERE vec_id % 50 = 0) WHERE rn <= {_IVF_NPROBE}
    ),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id, a.cell,
             {_SQL_COS.format(a='p.qemb', b='a.emb')} AS cos
      FROM probes p JOIN assigned a USING (cell)
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cell, cos, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, neighbor_id) AS INT) AS rank
      FROM cand) WHERE rank <= 5
    """,
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbor: coarse-quantize the corpus
    into inverted lists (nearest-centroid assignment), probe the
    ``nprobe`` = 2 closest cells per query, exact cosine re-rank on
    the probed candidates only.

    Scale shape: the codebook is a tiny broadcast (K rows); assignment
    is a per-row argmax over K dot products (one corpus pass, the
    K-way expansion reduced by a per-vec_id window before anything
    shuffles wide); the probe is an EQUI join on cell id — candidates
    per query drop from N to ~nprobe·N/K.  At 100 TB this is the
    standard billion-vector layout (FAISS IVF): cells become
    partitions, probing reads nprobe partitions instead of the corpus.
    Dot products are index-ordered double folds → bit-identical to the
    DuckDB oracle; all windows tie-break on unique ids.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    cents = spark.createDataFrame(
        [(k, _ivf_centroid(k)) for k in range(_IVF_K)], schema="k int, c array<double>"
    )
    dp = F.aggregate(
        F.zip_with("emb", "c", lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
    )
    scored = e.crossJoin(F.broadcast(cents)).select("vec_id", "emb", "k", dp.alias("dp"))
    w_cell = W.partitionBy("vec_id").orderBy(F.col("dp").desc(), F.col("k").desc())
    ranked = scored.withColumn("rn", F.row_number().over(w_cell))
    assigned = ranked.filter(F.col("rn") == 1).select(
        "vec_id", "emb", F.col("k").alias("cell")
    )
    probes = (
        scored.filter(F.col("vec_id") % 50 == 0)
        .withColumn("rn", F.row_number().over(w_cell))
        .filter(F.col("rn") <= _IVF_NPROBE)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qemb"),
            F.col("k").alias("cell"),
        )
    )
    cand = (
        F.broadcast(probes).join(assigned, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cell",
            cosine_sim(F.col("qemb"), F.col("emb")).alias("cos"),
        )
    )
    w_top = W.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        cand.withColumn("rank", F.row_number().over(w_top).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cell", "cos", "rank")
    )


@register(
    "llm_bigram_likelihood",
    oracle=f"""
    WITH pr AS (
      SELECT doc_id,
             unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS pair
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    ),
    lm2 AS (SELECT pair, COUNT(*) AS c12 FROM pr GROUP BY pair),
    lm1 AS (SELECT split_part(pair, ' ', 1) AS w1, COUNT(*) AS c1 FROM pr GROUP BY 1),
    p AS (
      SELECT lm2.pair, CAST(lm2.c12 AS DOUBLE) / CAST(lm1.c1 AS DOUBLE) AS prob
      FROM lm2 JOIN lm1 ON split_part(lm2.pair, ' ', 1) = lm1.w1
    )
    SELECT pr.doc_id,
           COUNT(*) AS n_bigrams,
           {sql_davg('p.prob')} AS avg_prob
    FROM pr JOIN p ON pr.pair = p.pair
    GROUP BY pr.doc_id
    """,
)
def llm_bigram_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram-LM fluency score: per-document mean transition
    probability P(w₂|w₁) under the corpus's own bigram counts — the
    cheap perplexity proxy used for quality filtering (a log-space
    perplexity would cross-engine-diverge in libm ``log``; the mean
    probability ranks documents identically for filtering purposes).

    Three map-combined aggregates (pair counts, prefix counts, per-doc
    fold) plus two equi joins on the pair/prefix keys — vocabulary-
    bounded intermediates, corpus-sized explode only once.  The
    per-document mean uses the decimal-accumulate convention (per-row
    double ratio is exact on both engines; the cross-row sum must not
    depend on shuffle order).
    """
    d = load_table(spark, sf_dir, "documents")
    pr = d.select(
        "doc_id", F.explode(word_bigrams(F.col("text"))).alias("pair")
    )
    lm2 = pr.groupBy("pair").agg(F.count(F.lit(1)).alias("c12"))
    lm1 = (
        pr.select(F.substring_index("pair", " ", 1).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    p = lm2.join(
        lm1, F.substring_index(lm2.pair, " ", 1) == lm1.w1
    ).select(
        "pair",
        (F.col("c12").cast("double") / F.col("c1").cast("double")).alias("prob"),
    )
    return (
        pr.join(p, "pair")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.sum(F.col("prob").cast("decimal(30,8)")).cast("double")
                / F.count("prob")
            ).alias("avg_prob"),
        )
    )


def _bpe_sql_round(prev: str, r: int) -> str:
    """One BPE round as SQL CTE text: count pairs on {prev}, rank the
    top-5 candidates, apply the #1 merge → s{r}."""
    return f"""
    pc{r} AS (
      SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM (
        SELECT unnest([syms[i] || ' ' || syms[i+1] for i in range(1, len(syms))]) AS pair, n
        FROM (SELECT string_split(trim({prev}.seq), ' ') AS syms, n FROM {prev})
        WHERE len(syms) >= 2
      ) GROUP BY pair
    ),
    top{r} AS (
      SELECT {r} AS round, pair, cnt,
             CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS INT) AS rank
      FROM pc{r} ORDER BY cnt DESC, pair LIMIT 5
    ),
    s{r} AS (
      SELECT replace({prev}.seq, ' ' || t.pair || ' ',
                     ' ' || replace(t.pair, ' ', '') || ' ') AS seq, n
      FROM {prev}, (SELECT pair FROM top{r} WHERE rank = 1) t
    )"""


@register(
    "llm_bpe_train_merges",
    oracle=f"""
    WITH wc AS (
      SELECT word, COUNT(*) AS n FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
      ) WHERE word <> '' GROUP BY word
    ),
    s0 AS (
      SELECT ' ' || array_to_string([word[i:i] for i in range(1, length(word)+1)], ' ')
               || ' ' AS seq, n
      FROM wc
    ),
    {_bpe_sql_round('s0', 1)},
    {_bpe_sql_round('s1', 2)},
    {_bpe_sql_round('s2', 3)}
    SELECT * FROM top1 UNION ALL SELECT * FROM top2 UNION ALL SELECT * FROM top3
    """,
)
def llm_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three unrolled rounds of BPE tokenizer training: count
    corpus-weighted adjacent-symbol pairs over the word-type table,
    adopt the most frequent pair as a merge rule, rewrite the symbol
    sequences, repeat.  Emits each round's top-5 merge candidates
    (rank 1 = the adopted rule) — the actual training loop, not just
    the counting step (``llm_bpe_pair_counts``).

    Merge application is a single leftmost-non-overlapping pass over
    the sentinel-spaced symbol sequence (verified identical scan
    semantics in both engines); adjacent pairs come from the
    zipped-slice shape (HOF lambda touches only its element).  Scale:
    every round is vocabulary-sized (word TYPES with counts, not the
    token stream) — one map-combined aggregate + a 1-row broadcast for
    the adopted rule; real trainers run exactly this loop with the
    merge table, not the corpus, on the driver.
    """
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    chars = F.filter(F.split(F.col("word"), ""), lambda c: c != F.lit(""))
    seqs = wc.select(
        F.concat(F.lit(" "), F.array_join(chars, " "), F.lit(" ")).alias("seq"), "n"
    )

    def pair_top5(s: DataFrame, rnd: int) -> DataFrame:
        syms = F.split(F.trim(F.col("seq")), " ")
        k = F.greatest(F.size(syms) - 1, F.lit(0))
        zipped = F.slice(
            F.arrays_zip(syms.alias("a"), F.slice(syms, 2, k).alias("b")), 1, k
        )
        pairs = F.transform(zipped, lambda z: F.concat(z.a, F.lit(" "), z.b))
        return (
            s.select(F.explode(pairs).alias("pair"), "n")
            .groupBy("pair")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "pair")
            .limit(5)
            .select(
                F.lit(rnd).alias("round"),
                "pair",
                "cnt",
                F.row_number()
                .over(W.orderBy(F.col("cnt").desc(), "pair"))
                .cast("int")
                .alias("rank"),
            )
        )

    def apply_merge(s: DataFrame, top5: DataFrame) -> DataFrame:
        rule = top5.filter(F.col("rank") == 1).select("pair")
        return s.crossJoin(F.broadcast(rule)).select(
            F.replace(
                F.col("seq"),
                F.concat(F.lit(" "), F.col("pair"), F.lit(" ")),
                F.concat(
                    F.lit(" "), F.replace(F.col("pair"), F.lit(" "), F.lit("")), F.lit(" ")
                ),
            ).alias("seq"),
            "n",
        )

    outs = []
    cur = seqs
    for rnd in (1, 2, 3):
        top5 = pair_top5(cur, rnd)
        outs.append(top5)
        if rnd < 3:
            # cur is read twice per round (pair counts + rewrite):
            # persist the vocab-sized frame so the plan stays linear in
            # rounds instead of replicating the base subtree 2^rounds x
            cur = cached(apply_merge(cur, top5))
    return outs[0].unionAll(outs[1]).unionAll(outs[2])


@register(
    "llm_mixture_temperature",
    oracle="""
    WITH st AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    tot AS (SELECT SUM(n) AS total FROM st),
    sq AS (
      SELECT lang, CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS p,
             sqrt(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)) AS s
      FROM st, tot
    ),
    nrm AS (
      SELECT list_reduce([CAST(0.0 AS DOUBLE)] || list(s ORDER BY lang),
                         (a, b) -> a + b) AS norm
      FROM sq
    ),
    fr AS (
      SELECT lang, LEAST(CAST(1.0 AS DOUBLE), 0.5 * (s / norm) / p) AS keep_frac
      FROM sq, nrm
    )
    SELECT d.doc_id, d.lang,
           substring(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 4) AS hk
    FROM documents d JOIN fr USING (lang)
    WHERE fr.keep_frac >= 1.0
       OR substring(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 4)
          < lower(lpad(to_hex(CAST(floor(fr.keep_frac * 65536) AS BIGINT)), 4, '0'))
    """,
)
def llm_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted language-mixture sampling (α = 0.5): target
    language share q_l ∝ p_l^α renormalized, realized by keeping each
    document iff its content-hash fraction clears the per-language
    acceptance ratio 0.5·(q_l/p_l) — the multilingual-corpus rebalance
    every LLM data pipeline runs (low-resource languages are upsampled
    RELATIVE to their natural share; the 0.5 budget factor keeps every
    acceptance < 1 so no duplication is needed).

    Parity: p and √p are per-row IEEE ops on identical doubles; the
    5-term normalizer folds in lang-sorted order (index-ordered-fold
    convention — a bare SUM(double) would be shuffle-order-dependent);
    the md5 threshold is the engine's deterministic sampling pattern
    (same sample on any cluster shape, which is what reproducible
    curation needs).  Scale: the language table is tiny (aggregate +
    broadcast back); the corpus pass is a zero-shuffle filter.
    """
    d = load_table(spark, sf_dir, "documents")
    st = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    tot = st.agg(F.sum("n").alias("total"))
    sq = st.crossJoin(F.broadcast(tot)).select(
        "lang",
        (F.col("n").cast("double") / F.col("total").cast("double")).alias("p"),
        F.sqrt(F.col("n").cast("double") / F.col("total").cast("double")).alias("s"),
    )
    nrm = sq.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("lang", "s"))),
            F.lit(0.0),
            lambda acc, x: acc + x["s"],
        ).alias("norm")
    )
    fr = sq.crossJoin(F.broadcast(nrm)).select(
        "lang",
        F.least(
            F.lit(1.0), 0.5 * (F.col("s") / F.col("norm")) / F.col("p")
        ).alias("keep_frac"),
    )
    hk = F.substring(F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 4)
    thr = F.lower(
        F.lpad(F.hex(F.floor(F.col("keep_frac") * 65536).cast("long")), 4, "0")
    )
    return (
        d.join(F.broadcast(fr), "lang")
        .filter((F.col("keep_frac") >= 1.0) | (hk < thr))
        .select("doc_id", "lang", hk.alias("hk"))
    )


_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]


@register(
    "llm_quality_classifier",
    oracle=f"""
    WITH f AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(len(list_filter(string_split(text, ' '),
                  x -> list_contains({_STOPWORDS!r}, x))) AS BIGINT) AS stop_n,
             CAST(len(list_filter(string_split(text, ' '),
                  x -> length(x) > 6)) AS BIGINT) AS long_n,
             CAST(len(regexp_extract_all(text, '[.,!?;]')) AS BIGINT) AS punct_n
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, lang, n_words, stop_n, long_n, punct_n,
           2.0 * (CAST(stop_n AS DOUBLE) / n_words)
             + 1.5 * (CAST(long_n AS DOUBLE) / n_words)
             - 3.0 * (CAST(punct_n AS DOUBLE) / n_words) AS score,
           (2.0 * (CAST(stop_n AS DOUBLE) / n_words)
             + 1.5 * (CAST(long_n AS DOUBLE) / n_words)
             - 3.0 * (CAST(punct_n AS DOUBLE) / n_words)) > 0.35 AS keep
    FROM f WHERE n_words > 0
    """,
)
def llm_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality gate: engineered per-document
    features (stopword / long-word / punctuation ratios) under fixed
    weights, thresholded — the shape of every cheap model-based corpus
    filter, kept entirely expression-level (the learned-weights
    version swaps the literals for a broadcast weight table).

    Per-row integer counts and double ratios only — no cross-row
    float math, so parity is exact by construction; zero shuffles.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    words = F.split(F.col("text"), " ")
    stop_set = F.array(*[F.lit(s) for s in _STOPWORDS])
    f = d.select(
        "doc_id",
        "lang",
        F.size(words).cast("long").alias("n_words"),
        F.size(F.filter(words, lambda x: F.array_contains(stop_set, x)))
        .cast("long")
        .alias("stop_n"),
        F.size(F.filter(words, lambda x: F.length(x) > 6)).cast("long").alias("long_n"),
        F.regexp_count("text", F.lit(r"[.,!?;]")).cast("long").alias("punct_n"),
    ).filter(F.col("n_words") > 0)
    score = (
        2.0 * (F.col("stop_n").cast("double") / F.col("n_words"))
        + 1.5 * (F.col("long_n").cast("double") / F.col("n_words"))
        - 3.0 * (F.col("punct_n").cast("double") / F.col("n_words"))
    )
    return f.select(
        "doc_id",
        "lang",
        "n_words",
        "stop_n",
        "long_n",
        "punct_n",
        score.alias("score"),
        (score > 0.35).alias("keep"),
    )


_VOCAB_K = 50


@register(
    "llm_oov_rate",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    w2 AS (SELECT * FROM w WHERE word <> ''),
    wc AS (SELECT word, COUNT(*) AS cnt FROM w2 GROUP BY word),
    vocab AS (
      SELECT word FROM wc ORDER BY cnt DESC, word LIMIT {_VOCAB_K}
    )
    SELECT w2.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS oov_rate
    FROM w2 LEFT JOIN vocab v USING (word)
    GROUP BY w2.doc_id
    """,
)
def llm_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage audit: build the corpus top-50 vocabulary
    (count-ranked, word tie-break) and report each document's token
    count, out-of-vocabulary token count, and OOV rate — the check run
    before freezing a vocab (``llm_vocab_topk``) for training.

    The vocabulary is a TakeOrdered over the vocabulary-bounded count
    table and is broadcast to the corpus-linear membership probe — at
    100 TB the corpus never shuffles for this, only the word-count
    aggregate does (map-combined).
    """
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(F.split("text", " ")).alias("word")).filter(
        F.col("word") != ""
    )
    wc = w.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = wc.orderBy(F.col("cnt").desc(), "word").limit(_VOCAB_K).select(
        "word", F.lit(1).alias("in_vocab")
    )
    return (
        w.join(F.broadcast(vocab), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .withColumn(
            "oov_rate", F.col("n_oov").cast("double") / F.col("n_tokens")
        )
    )


@register(
    "llm_sample_temperature_mix",
    oracle="""
    WITH w AS (
      SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    lt AS (
      SELECT lang, COUNT(*) AS n_tokens FROM w WHERE word <> '' GROUP BY lang
    ),
    ld AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
    t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM lt),
    s AS (
      SELECT ld.lang, ld.n_docs, lt.n_tokens,
             CAST(lt.n_tokens AS DOUBLE) / t.total AS share,
             sqrt(CAST(lt.n_tokens AS DOUBLE) / t.total) AS w_raw
      FROM ld JOIN lt USING (lang) CROSS JOIN t
    ),
    z AS (
      SELECT CAST(CAST(SUM(CAST(CAST(w_raw AS VARCHAR) AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS zsum
      FROM s
    )
    SELECT s.lang, s.n_docs, s.n_tokens, s.share,
           s.w_raw / z.zsum AS weight,
           (s.w_raw / z.zsum) * t.total AS expected_tokens
    FROM s CROSS JOIN z CROSS JOIN t
    """,
)
def llm_sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax/mT5-style temperature-sampled language mixing at T=2:
    per-language token shares are re-weighted by share^(1/T) = √share
    and renormalized, boosting tail languages — the standard recipe for
    balancing multilingual pretraining corpora.

    T=2 is deliberate: ``sqrt`` is IEEE-correctly-rounded on both
    engines, whereas general ``pow`` is libm-dependent and would break
    bit parity.  The √share sum is decimal-accumulated over the tiny
    per-language table (the only cross-row double sum); every other
    edge is a per-row division or multiply.  Everything after the one
    map-combined token count is keyspace-sized.
    """
    d = load_table(spark, sf_dir, "documents")
    w = d.select("lang", F.explode(F.split("text", " ")).alias("word")).filter(
        F.col("word") != ""
    )
    lt = w.groupBy("lang").agg(F.count(F.lit(1)).alias("n_tokens"))
    ld = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    t = lt.agg(F.sum("n_tokens").alias("total"))
    s = (
        ld.join(lt, "lang")
        .crossJoin(F.broadcast(t))
        .withColumn("share", F.col("n_tokens").cast("double") / F.col("total"))
        .withColumn("w_raw", F.sqrt(F.col("share")))
    )
    z = s.agg(
        F.sum(F.col("w_raw").cast("decimal(30,8)")).cast("double").alias("zsum")
    )
    return (
        s.crossJoin(F.broadcast(z))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            "share",
            (F.col("w_raw") / F.col("zsum")).alias("weight"),
            ((F.col("w_raw") / F.col("zsum")) * F.col("total")).alias(
                "expected_tokens"
            ),
        )
    )


def _bpe_encode_round(prev: str, r: int) -> str:
    """One BPE merge round retaining the word key: count pairs over
    {prev}(word, seq, n), adopt the top rule, rewrite seq → e{r}."""
    return f"""
    pc{r} AS (
      SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt FROM (
        SELECT unnest([syms[i] || ' ' || syms[i+1] for i in range(1, len(syms))]) AS pair, n
        FROM (SELECT string_split(trim(seq), ' ') AS syms, n FROM {prev})
        WHERE len(syms) >= 2
      ) GROUP BY pair
    ),
    rule{r} AS (SELECT pair FROM pc{r} ORDER BY cnt DESC, pair LIMIT 1),
    e{r} AS (
      SELECT word,
             replace({prev}.seq, ' ' || t.pair || ' ',
                     ' ' || replace(t.pair, ' ', '') || ' ') AS seq, n
      FROM {prev}, rule{r} t
    )"""


@register(
    "llm_bpe_encode_corpus",
    oracle=f"""
    WITH wc AS (
      SELECT word, COUNT(*) AS n FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
      ) WHERE word <> '' GROUP BY word
    ),
    e0 AS (
      SELECT word,
             ' ' || array_to_string([word[i:i] for i in range(1, length(word)+1)], ' ')
               || ' ' AS seq, n
      FROM wc
    ),
    {_bpe_encode_round('e0', 1)},
    {_bpe_encode_round('e1', 2)},
    {_bpe_encode_round('e2', 3)},
    tok AS (SELECT word, len(string_split(trim(seq), ' ')) AS n_sym FROM e3),
    dw AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    )
    SELECT dw.doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(t.n_sym) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(length(dw.word)) AS BIGINT) AS n_chars,
           CAST(SUM(length(dw.word)) AS DOUBLE) / SUM(t.n_sym) AS chars_per_token
    FROM dw JOIN tok t USING (word)
    WHERE dw.word <> ''
    GROUP BY dw.doc_id
    """,
)
def llm_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer-APPLY half of the BPE lifecycle: train 3 merge
    rules on the word-type table (same loop as
    ``llm_bpe_train_merges``), encode every word type with them, and
    report per-document word/BPE-token/char counts and the
    chars-per-token compression ratio — the number a tokenizer change
    is actually judged by.

    Scale: training and encoding touch only word TYPES (vocabulary-
    bounded, with corpus weights); the corpus-sized stream is one
    explode joined against the tiny word→token-count map (AQE
    broadcasts it).  Counts are integers; the ratio is one per-row
    double division at the edge.
    """
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    chars = F.filter(F.split(F.col("word"), ""), lambda c: c != F.lit(""))
    cur = wc.select(
        "word",
        F.concat(F.lit(" "), F.array_join(chars, " "), F.lit(" ")).alias("seq"),
        "n",
    )
    for _ in range(3):
        syms = F.split(F.trim(F.col("seq")), " ")
        k = F.greatest(F.size(syms) - 1, F.lit(0))
        zipped = F.slice(
            F.arrays_zip(syms.alias("a"), F.slice(syms, 2, k).alias("b")), 1, k
        )
        pairs = F.transform(zipped, lambda z: F.concat(z.a, F.lit(" "), z.b))
        rule = (
            cur.select(F.explode(pairs).alias("pair"), "n")
            .groupBy("pair")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "pair")
            .limit(1)
            .select("pair")
        )
        cur = cur.crossJoin(F.broadcast(rule)).select(
            "word",
            F.replace(
                F.col("seq"),
                F.concat(F.lit(" "), F.col("pair"), F.lit(" ")),
                F.concat(
                    F.lit(" "),
                    F.replace(F.col("pair"), F.lit(" "), F.lit("")),
                    F.lit(" "),
                ),
            ).alias("seq"),
            "n",
        )
        cur = cached(cur)  # each round reads cur TWICE (rule + rewrite): without
        # this the vocab subtree replicates 2^rounds times in the plan
    tok = cur.select(
        "word", F.size(F.split(F.trim(F.col("seq")), " ")).alias("n_sym")
    )
    dw = d.select("doc_id", F.explode(F.split("text", " ")).alias("word")).filter(
        F.col("word") != ""
    )
    return (
        dw.join(tok, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").cast("long").alias("n_bpe_tokens"),
            F.sum(F.length("word")).cast("long").alias("n_chars"),
        )
        .withColumn(
            "chars_per_token",
            F.col("n_chars").cast("double") / F.col("n_bpe_tokens"),
        )
    )


def _calibration_oracle() -> str:
    from project_fauna_spark.plans.registry import ORACLE

    cls_sql = ORACLE["llm_quality_classifier"]
    return f"""
    WITH cls AS (SELECT * FROM ({cls_sql}) _c),
    b AS (
      SELECT CAST(floor(score * 10) AS INT) AS score_bin,
             n_words >= 50 AS gate, keep, score
      FROM cls
    )
    SELECT score_bin,
           COUNT(*) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE gate) AS BIGINT) AS n_gate_pass,
           CAST(COUNT(*) FILTER (WHERE gate) AS DOUBLE) / COUNT(*) AS gate_pass_rate,
           CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_keep,
           {sql_davg('score', 30, 12)} AS avg_score
    FROM b GROUP BY score_bin
    """


@register(
    "llm_classifier_calibration",
    oracle_builder=_calibration_oracle,
)
def llm_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table for the linear quality classifier: per
    0.1-wide score bin, how often does an independent gate (the
    corpus-clean ≥50-token rule) agree?  A classifier whose pass rate
    doesn't rise monotonically with its own score is mis-calibrated —
    this is the audit run before trusting any cheap model-based filter
    with corpus-wide keep/drop power.

    Builds on the classifier's own output plan (oracle composed via
    oracle_builder).
    Scores are per-row IEEE doubles identical in both engines, so the
    bin = floor(score·10) assignment is deterministic; the per-bin mean
    score is decimal-accumulated (order-independent).  One
    map-combined aggregate to ~|bins| rows.
    """
    cls = llm_quality_classifier(spark, sf_dir)
    b = cls.select(
        F.floor(F.col("score") * 10).cast("int").alias("score_bin"),
        (F.col("n_words") >= 50).alias("gate"),
        "keep",
        "score",
    )
    return b.groupBy("score_bin").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("gate"), 1)).alias("n_gate_pass"),
        (
            F.count(F.when(F.col("gate"), 1)).cast("double") / F.count("*")
        ).alias("gate_pass_rate"),
        F.count(F.when(F.col("keep"), 1)).alias("n_keep"),
        (
            F.sum(F.col("score").cast("decimal(30,12)")).cast("double")
            / F.count("score")
        ).alias("avg_score"),
    )


@register(
    "llm_unigram_lm_score",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    cnt AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    tot AS (SELECT COUNT(*) AS t FROM tok),
    per_doc AS (
      SELECT tok.doc_id,
             COUNT(*) AS n_tokens,
             CAST(SUM(cnt.c) AS BIGINT) AS sum_token_count
      FROM tok JOIN cnt USING (w)
      GROUP BY tok.doc_id
    )
    SELECT doc_id, n_tokens, sum_token_count,
           CAST(sum_token_count AS DOUBLE)
             / (CAST((SELECT t FROM tot) AS DOUBLE) * n_tokens)
             AS mean_token_prob
    FROM per_doc
    """,
)
def llm_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram LM fluency score per document: the mean corpus
    probability of the document's tokens — the cheap LM-likelihood
    gate (CCNet-style filtering uses exactly this shape with a wiki LM
    in place of the self-corpus).

    Everything stays integer until the final per-row division: token
    counts aggregate map-combined as longs, the corpus total is one
    broadcast scalar, and the compared edge is a single deterministic
    double expression — no cross-row float accumulation, no libm at
    the edge (repo float-parity rule).
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
    tok = cached(tok)
    cnt = tok.groupBy("w").agg(F.count("*").alias("c"))
    tot = tok.agg(F.count("*").alias("t"))
    per_doc = (
        tok.join(cnt, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("c").alias("sum_token_count"),
        )
    )
    return per_doc.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_tokens",
        "sum_token_count",
        (
            F.col("sum_token_count").cast("double")
            / (F.col("t").cast("double") * F.col("n_tokens"))
        ).alias("mean_token_prob"),
    )


@register(
    "llm_domain_mixture_weights",
    oracle="""
    WITH tok AS (
      SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
    ),
    per_lang AS (
      SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM tok GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t, COUNT(*) AS n_langs
            FROM per_lang)
    SELECT lang, n_docs, n_tokens,
           CAST(n_tokens AS DOUBLE) / (SELECT t FROM tot) AS actual_share,
           CAST((SELECT t FROM tot) AS DOUBLE)
             / ((SELECT n_langs FROM tot) * n_tokens) AS sampling_weight
    FROM per_lang
    """,
)
def llm_domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing weights: per-language token shares and the sampling
    weight that rebalances the corpus to a uniform language mixture —
    the number a training-data loader multiplies into per-domain
    sampling probabilities (the DoReMi/uniform-mixture baseline).

    Token counts are exact longs aggregated map-combined; the compared
    edge is two deterministic double ratios per language.  At 100 TB
    this is one narrow scan + a language-keyed aggregate (dozens of
    groups), shuffling one row per language.
    """
    d = load_table(spark, sf_dir, "documents")
    per_lang = (
        d.select("lang", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
    )
    tot = per_lang.agg(
        F.sum("n_tokens").alias("t"), F.count("*").alias("n_langs")
    )
    return per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("t")).alias("actual_share"),
        (
            F.col("t").cast("double") / (F.col("n_langs") * F.col("n_tokens"))
        ).alias("sampling_weight"),
    )


# --------------------------------------------------------------------------
# llm_tokenizer_fertility — per-language subword fertility audit
# --------------------------------------------------------------------------

_SUBWORD_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


@register(
    "llm_tokenizer_fertility",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             len(string_split(text, ' ')) AS n_words,
             len(regexp_extract_all(text, '{_SUBWORD_RE}')) AS n_subwords,
             n_chars
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_subwords) AS BIGINT) AS n_subwords,
           CASE WHEN SUM(n_words) > 0
                THEN CAST(SUM(n_subwords) AS DOUBLE) / SUM(n_words)
           END AS fertility,
           CASE WHEN SUM(n_subwords) > 0
                THEN CAST(SUM(n_chars) AS DOUBLE) / SUM(n_subwords)
           END AS chars_per_token
    FROM t GROUP BY lang
    """,
)
def llm_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: subword tokens per whitespace
    word and characters per subword — the multilingual token-budget
    metric (fertility >1.5 means a language pays more sequence length
    per word, skewing mixture budgets).

    The subword tokenizer is the GPT-2-style class split (letter runs,
    digit runs, single punctuation) counted with ``regexp_extract_all``
    on both engines — the pattern uses only literal classes, identical
    under Java regex and RE2.  Exact integer counts map-combine; the
    two ratios are the zero-guarded double edge.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        "n_chars",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_words"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_SUBWORD_RE), 0)).cast(
            "long"
        ).alias("n_subwords"),
    )
    g = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("w"),
        F.sum("n_subwords").alias("s"),
        F.sum("n_chars").alias("ch"),
    )
    return g.select(
        "lang",
        "n_docs",
        F.col("w").cast("long").alias("n_words"),
        F.col("s").cast("long").alias("n_subwords"),
        F.when(F.col("w") > 0, F.col("s").cast("double") / F.col("w")).alias(
            "fertility"
        ),
        F.when(F.col("s") > 0, F.col("ch").cast("double") / F.col("s")).alias(
            "chars_per_token"
        ),
    )


# --------------------------------------------------------------------------
# llm_token_budget_apportion — Hamilton's method for the data mixture
# --------------------------------------------------------------------------

_BUDGET_T = 1_000_000  # tokens to apportion across sources


@register(
    "llm_token_budget_apportion",
    oracle=f"""
    WITH c AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    n AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM c),
    q AS (
      SELECT c.source, c.n_tokens,
             ({_BUDGET_T} * c.n_tokens) // n.total AS base_alloc,
             ({_BUDGET_T} * c.n_tokens) % n.total AS rem
      FROM c, n
    ),
    r AS (
      SELECT *,
             row_number() OVER (ORDER BY rem DESC, source) AS rk,
             {_BUDGET_T} - SUM(base_alloc) OVER () AS n_extra
      FROM q
    )
    SELECT source, n_tokens,
           CAST(base_alloc AS BIGINT) AS base_alloc,
           CAST(base_alloc + CASE WHEN rk <= n_extra THEN 1 ELSE 0 END
                AS BIGINT) AS final_alloc,
           rk <= n_extra AS got_extra
    FROM r
    """,
)
def llm_token_budget_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a 1M-token
    training budget across sources, proportional to each source's
    token mass: integer quotas ⌊T·c_i/N⌋ plus one extra token to the
    sources with the largest remainders until the budget is EXACTLY
    spent — the allocator behind every "sample X tokens per domain"
    plan (``llm_domain_mixture_weights`` produces the weights; this
    turns weights into integer budgets that sum to T with no float
    drift, the part naive rounding gets wrong).

    Pure integer arithmetic: quota floor and remainder come from one
    integer division (T·c_i ≤ 10¹³, no overflow), the remainder rank
    is totally ordered by (remainder DESC, source), and Σ final = T by
    construction.  Scale: one map-combined token aggregate, then a
    |sources|-sized frame — the windows run on dozens of rows.
    """
    c = (
        load_table(spark, sf_dir, "documents")
        .select("source", F.size(F.split("text", " ")).alias("toks"))
        .groupBy("source")
        .agg(F.sum("toks").alias("n_tokens"))
    )
    n = c.agg(F.sum("n_tokens").alias("total"))
    q = c.crossJoin(F.broadcast(n)).select(
        "source",
        "n_tokens",
        F.expr(f"({_BUDGET_T} * n_tokens) DIV total").alias("base_alloc"),
        ((F.lit(_BUDGET_T) * F.col("n_tokens")) % F.col("total")).alias("rem"),
    )
    r = q.select(
        "*",
        F.row_number().over(W.orderBy(F.col("rem").desc(), "source")).alias("rk"),
        (F.lit(_BUDGET_T) - F.sum("base_alloc").over(W.partitionBy())).alias(
            "n_extra"
        ),
    )
    extra = F.col("rk") <= F.col("n_extra")
    return r.select(
        "source",
        "n_tokens",
        F.col("base_alloc").cast("long").alias("base_alloc"),
        (F.col("base_alloc") + extra.cast("long")).cast("long").alias("final_alloc"),
        extra.alias("got_extra"),
    )


@register(
    "llm_importance_resampling",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS nt,
             len(list_distinct(string_split(text, ' '))) AS nd
      FROM documents
    )
    SELECT doc_id,
           CAST(nt AS BIGINT) AS n_tokens,
           CAST(nd AS DOUBLE) / CAST(nt AS DOUBLE) AS weight,
           ({sql_h32('CAST(doc_id AS VARCHAR)', 'isr:')} / 4294967296.0)
             < (CAST(nd AS DOUBLE) / CAST(nt AS DOUBLE)) AS keep
    FROM t
    """,
)
def llm_importance_resampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance resampling with replayable acceptance.

    Per doc: weight = type-token ratio (distinct words / words — the
    cheap quality proxy; any per-doc importance weight slots in), and
    accept iff a salted 32-bit md5-fold uniform u = h/2^32 ∈ [0,1) is
    below the weight.  E[sample] follows the weight distribution and
    the decision is a pure function of (doc_id, salt): re-running a
    failed partition — or the whole 100 TB job — reproduces the exact
    sample, unlike ``rand()`` whose per-task seeds change under retry
    and straggler re-execution.

    Float parity: weight is one IEEE division of two exact integers
    (identical rounding in both engines); u is an exactly-representable
    dyadic k/2^32 — the comparison is deterministic cross-engine.
    Plan: a single narrow map over the scan, zero shuffles.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    nt = F.size(ws).cast("long")
    nd = F.size(F.array_distinct(ws)).cast("long")
    w = nd.cast("double") / nt.cast("double")
    u = h32(F.col("doc_id").cast("string"), "isr:") / F.lit(4294967296.0)
    return d.select(
        "doc_id",
        nt.alias("n_tokens"),
        w.alias("weight"),
        (u < w).alias("keep"),
    )
