"""Text-analysis operators over the ``documents`` table.

North-star surface (SURVEY.md §2b): token statistics, quality scoring,
language-ID heuristic, document fingerprinting, n-gram frequency,
exact TF-IDF, and a hashing-trick TF vector.  The reference's only
text op is a CSV split (utils.py:14-18) — everything here is new
surface, built from Catalyst expressions (explode + groupBy + higher-
order array functions); no Python UDFs anywhere.

Scale design (100 TB):

* Everything is explode → hash-aggregate: one shuffle keyed by
  (doc, term) or term; partial aggregation map-side.  No collects, no
  cross joins.
* The global n-gram top-k ends in TakeOrderedAndProject (per-partition
  k then merge) — the only "global" structure is k rows.
* Fingerprints are per-row folds (no shuffle at all).
* TF-IDF's document-frequency table is term-keyed — the classic skew
  point; AQE skew handling plus the integer-ranked top-k per doc keep
  the plan stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from project_fauna_spark.cache import cached
from project_fauna_spark.functions.moments import int_pearson_moments, pearson_terms
from project_fauna_spark.functions.shingles import word_bigrams
from project_fauna_spark.io import load_table
from project_fauna_spark.registry import register

STOPWORDS = ["the", "a", "of", "and", "in"]
_SQL_STOP = "['" + "', '".join(STOPWORDS) + "']"

LANGS = ["en", "de", "es", "fr", "zh"]
_SQL_LANGS = "['" + "', '".join(LANGS) + "']"

from project_fauna_spark.functions.wordhash import (  # noqa: E402
    SQL_WORD_HASHES,
    WORDHASH_MOD,
    word_hashes,
)

MOD_P = WORDHASH_MOD  # word-level fold (base 33) shares the modulus


@register(
    "text_token_stats",
    oracle=f"""
    WITH w AS (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS words FROM documents)
    SELECT doc_id, lang, n_chars,
           len(words) AS n_tokens,
           len(list_distinct(words)) AS n_distinct,
           CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS distinct_ratio,
           CAST(length(array_to_string(words, '')) AS DOUBLE) / len(words) AS avg_word_len,
           len(list_filter(words, x -> list_contains({_SQL_STOP}, x))) AS n_stopwords
    FROM w
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + distinct/stopword/length statistics."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    n = F.size(words)
    return d.select(
        "doc_id",
        "lang",
        "n_chars",
        n.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(words)).cast("long").alias("n_distinct"),
        (F.size(F.array_distinct(words)).cast("double") / n).alias("distinct_ratio"),
        (F.length(F.array_join(words, "")).cast("double") / n).alias("avg_word_len"),
        F.size(F.filter(words, lambda x: F.array_contains(stop, x))).cast("long").alias("n_stopwords"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS uniq_ratio,
             CAST(len(list_filter(string_split(text, ' '),
                                  x -> list_contains({_SQL_STOP}, x))) AS DOUBLE)
               / len(string_split(text, ' ')) AS stop_ratio
      FROM documents
    )
    SELECT doc_id, n_tokens, uniq_ratio, stop_ratio,
           0.4 * least(1.0, n_tokens / 200.0)
             + 0.3 * uniq_ratio
             + 0.3 * (1.0 - stop_ratio) AS quality,
           (n_tokens >= 50 AND uniq_ratio >= 0.1) AS keep
    FROM s
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (length, lexical diversity, stopword
    load) + a keep/drop gate — the standard pre-training filter shape."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    n = F.size(words)
    uniq = F.size(F.array_distinct(words)).cast("double") / n
    stop_ratio = F.size(F.filter(words, lambda x: F.array_contains(stop, x))).cast("double") / n
    quality = (
        F.lit(0.4) * F.least(F.lit(1.0), n / F.lit(200.0))
        + F.lit(0.3) * uniq
        + F.lit(0.3) * (F.lit(1.0) - stop_ratio)
    )
    return d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        uniq.alias("uniq_ratio"),
        stop_ratio.alias("stop_ratio"),
        quality.alias("quality"),
        ((n >= 50) & (uniq >= 0.1)).alias("keep"),
    )


# Also the prediction side of text_langid_confusion's oracle.
_SQL_LANGID_NGRAM = f"""
    WITH votes AS (
      SELECT doc_id, {_SQL_LANGS}[(ascii(substr(word, 1, 1)) % 5) + 1] AS vote
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
    ),
    tallied AS (
      SELECT doc_id, vote, COUNT(*) AS n,
             row_number() OVER (PARTITION BY doc_id ORDER BY COUNT(*) DESC, vote) AS rn
      FROM votes GROUP BY doc_id, vote
    )
    SELECT t.doc_id, t.vote AS guessed_lang, t.n AS vote_count,
           d.lang AS actual_lang, (t.vote = d.lang) AS agree
    FROM tallied t JOIN documents d ON t.doc_id = d.doc_id
    WHERE t.rn = 1
    """


@register("text_langid_ngram", oracle=_SQL_LANGID_NGRAM)
def text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-heuristic language ID: each word votes a language by
    its first character's class; majority wins (tiebreak by language).

    The mechanics are the real thing (per-token vote → majority);
    the character→language profile here is a stand-in deterministic
    mapping, since the corpus is synthetic.
    """
    d = load_table(spark, sf_dir, "documents")
    langs = F.array(*[F.lit(x) for x in LANGS])
    votes = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).select(
        "doc_id",
        F.element_at(langs, (F.ascii(F.substring("word", 1, 1)) % 5 + 1).cast("int")).alias("vote"),
    )
    tallied = votes.groupBy("doc_id", "vote").agg(F.count("*").alias("n"))
    w = W.partitionBy("doc_id").orderBy(F.col("n").desc(), "vote")
    top = tallied.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return top.join(d.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        F.col("vote").alias("guessed_lang"),
        F.col("n").alias("vote_count"),
        F.col("lang").alias("actual_lang"),
        (F.col("vote") == F.col("lang")).alias("agree"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    h AS (
      SELECT doc_id,
             {SQL_WORD_HASHES} AS whashes
      FROM w
    )
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT), whashes),
                       (acc, v) -> (acc * 33 + v) % {MOD_P}) AS fingerprint,
           len(whashes) AS n_words
    FROM h
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial document fingerprint, exact integer math.

    Two nested folds: char-level (base 31) per word, word-level
    (base 33) per document, both mod 1e9+7 — order-sensitive by design
    (reordered words change the fingerprint, unlike a bag-of-words
    hash).  Pure per-row expression work: zero shuffles.
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    whash = word_hashes(words)  # shared base-31 fold (functions/wordhash)
    fingerprint = F.aggregate(
        whash, F.lit(0).cast("long"), lambda acc, v: (acc * 33 + v) % MOD_P
    )
    return d.select(
        "doc_id",
        fingerprint.alias("fingerprint"),
        F.size(words).cast("long").alias("n_words"),
    )


@register(
    "text_ngram_freq",
    oracle="""
    WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
    grams AS (
      SELECT unnest([array_to_string(ws[i:i+1], ' ') for i in range(1, len(ws))]) AS gram
      FROM w
    )
    SELECT gram, COUNT(*) AS n
    FROM grams GROUP BY gram
    ORDER BY n DESC, gram LIMIT 20
    """,
)
def text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams (explode → count → top-k)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(word_bigrams(F.col("text"))).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "gram")
        .limit(20)
    )


@register(
    "text_tfidf_topk",
    oracle="""
    WITH tokens AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tokens GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tokens GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf DESC, df.df ASC, tf.term) AS rn
      FROM tf JOIN df ON tf.term = df.term
    )
    SELECT doc_id, term, tf, df,
           round(tf * ln((SELECT n_docs FROM n) / (1.0 + df)), 6) AS tfidf_r6
    FROM scored WHERE rn <= 5
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact TF-IDF, top-5 terms per doc by integer-deterministic rank.

    tf and df are exact counts; ranking uses only integers + the term
    string (never the float score), so the result set is reproducible
    across engines even where ``ln`` differs in the last ulp — the
    float score is emitted rounded to 6 dp for reporting.
    """
    d = load_table(spark, sf_dir, "documents")
    tokens = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
    tf = tokens.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tokens.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()  # scalar dimension; at scale: a 1-row broadcast join instead
    w = W.partitionBy("doc_id").orderBy(F.col("tf").desc(), F.col("df").asc(), "term")
    scored = tf.join(df, "term").withColumn("rn", F.row_number().over(w))
    return scored.filter(F.col("rn") <= 5).select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / (F.lit(1.0) + F.col("df"))), 6).alias(
            "tfidf_r6"
        ),
    )



@register(
    "text_hashed_tf",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           TRUE AS mass_preserved,
           TRUE AS buckets_bounded
    FROM documents
    """,
)
def text_hashed_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick term frequencies: 256 xxhash64 buckets per doc.

    The fixed-width feature map used before
    IDF/minhash stages when the vocabulary is unbounded; xxhash64 keeps
    it JVM-side and deterministic.

    Graded edge (bound-style): bucket assignments are xxhash64-based
    (not SQL-portable), so the edge carries the EXACT token count per
    doc (DuckDB recomputes it from the text) plus two honestly-computed
    invariants the oracle emits as literal TRUE: the bucket counts sum
    back to the token count (the hashing trick preserves L1 mass), and
    the number of occupied buckets never exceeds
    min(256, distinct terms).  A bucketing regression flips a boolean
    or shifts a count and hash-fails.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("terms"),
    )
    tokens = toks.select("doc_id", F.explode("terms").alias("term"))
    bucketed = tokens.select(
        "doc_id", F.pmod(F.xxhash64("term"), F.lit(256)).alias("bucket")
    )
    counts = bucketed.groupBy("doc_id", "bucket").agg(F.count("*").alias("n"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("n").alias("bucket_mass"),
        F.count("*").alias("n_buckets"),
    )
    return (
        toks.select(
            "doc_id",
            F.size("terms").cast("long").alias("n_tokens"),
            F.least(F.lit(256), F.size(F.array_distinct("terms")))
            .cast("long")
            .alias("max_buckets"),
        )
        .join(per_doc, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("bucket_mass") == F.col("n_tokens")).alias("mass_preserved"),
            (F.col("n_buckets") <= F.col("max_buckets")).alias("buckets_bounded"),
        )
    )



@register(
    "text_fuzzy_match_levenshtein",
    oracle="""
    WITH k AS (
      SELECT doc_id, lang, substring(text, 1, 40) AS prefix,
             string_split(text, ' ')[1] AS first_word
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
           CAST(levenshtein(a.prefix, b.prefix) AS INT) AS dist
    FROM k a JOIN k b
      ON a.lang = b.lang AND a.first_word = b.first_word
     AND a.doc_id < b.doc_id
    WHERE levenshtein(a.prefix, b.prefix) <= 10
    """,
)
def text_fuzzy_match_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record matching: edit distance ≤ 10 over 40-char prefixes,
    blocked on (lang, first word).

    The blocking key keeps the candidate join EQUI (never all-pairs)
    and the fixed-length prefix bounds the O(len²) Levenshtein cost
    per pair — the standard entity-resolution recipe.  Both engines
    define Levenshtein identically (unit insert/delete/substitute),
    so the distance is integer-exact.
    """
    d = load_table(spark, sf_dir, "documents")
    k = d.select(
        "doc_id",
        "lang",
        F.substring("text", 1, 40).alias("prefix"),
        F.split("text", " ")[0].alias("first_word"),
    )
    a = k.select(
        F.col("doc_id").alias("doc_a"), "lang", "first_word", F.col("prefix").alias("pa")
    )
    b = k.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("first_word").alias("fw_b"),
        F.col("prefix").alias("pb"),
    )
    return (
        a.join(
            b,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("first_word") == F.col("fw_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b", "lang", F.levenshtein("pa", "pb").alias("dist"))
        .filter(F.col("dist") <= 10)
    )


@register(
    "text_bigram_cond_prob",
    oracle="""
    WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
    pairs AS (
      SELECT unnest([{'w1': ws[i], 'w2': ws[i+1]} for i in range(1, len(ws))]) AS pr
      FROM w
    ),
    big AS (
      SELECT pr.w1 AS w1, pr.w2 AS w2, COUNT(*) AS n12
      FROM pairs GROUP BY 1, 2
    ),
    uni AS (SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM big GROUP BY w1)
    SELECT b.w1, b.w2, b.n12, u.n1,
           CAST(b.n12 AS DOUBLE) / u.n1 AS cond_prob
    FROM big b JOIN uni u ON b.w1 = u.w1
    WHERE b.n12 >= 10
    """,
)
def text_bigram_cond_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional probabilities P(w2 | w1) — the count-based
    language-model primitive (perplexity/surprisal scoring reduces to
    joins against this table).

    DuckDB widens SUM(BIGINT) to HUGEINT, so the oracle casts that
    edge back to BIGINT.

    Counts stay integers end-to-end; each probability is ONE double
    division of two exact counts — bit-identical across engines (the
    reason this avoids log-space, where libm ulp differences between
    JVM and C would break value parity).  The unigram table derives
    from the bigram aggregate (continuation counts), so the corpus is
    scanned once."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    k = F.greatest(F.size(words) - 1, F.lit(0))
    zipped = F.slice(
        F.arrays_zip(words.alias("w1"), F.slice(words, 2, k).alias("w2")), 1, k
    )
    big = (
        d.select(F.explode(zipped).alias("pr"))
        .select(F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n12"))
    )
    uni = big.groupBy(F.col("w1").alias("u_w1")).agg(F.sum("n12").alias("n1"))
    return (
        big.join(uni, big.w1 == F.col("u_w1"))
        .filter(F.col("n12") >= 10)
        .select(
            "w1",
            "w2",
            "n12",
            "n1",
            (F.col("n12").cast("double") / F.col("n1")).alias("cond_prob"),
        )
    )


@register(
    "text_doc_keywords",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    w2 AS (SELECT * FROM w WHERE word <> ''),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w2 GROUP BY doc_id, word),
    df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
    t AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.word, tf.tf,
             tf.tf * (CAST(t.n AS DOUBLE) / df.df) AS score
      FROM tf JOIN df USING (word) CROSS JOIN t
    )
    SELECT doc_id, word, tf, score, CAST(rk AS BIGINT) AS rk FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, word) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
)
def text_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 words by the log-free
    tf-idf score tf·(N/df) (same ranking as tf·log(N/df) for df ≤ N;
    libm ``log`` is not cross-engine bit-stable).

    tf and df are map-combined aggregates (df over the already-reduced
    (doc, word) table, not the corpus); N broadcasts as a scalar; the
    per-document top-3 is a WindowGroupLimit — each group prunes to 3
    rows before the final shuffle.
    """
    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(F.split("text", " ")).alias("word")).filter(
        F.col("word") != ""
    )
    tf = w.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    t = d.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(df_, "word")
        .crossJoin(F.broadcast(t))
        .select(
            "doc_id",
            "word",
            "tf",
            (F.col("tf") * (F.col("n").cast("double") / F.col("df"))).alias("score"),
        )
    )
    wk = W.partitionBy("doc_id").orderBy(F.col("score").desc(), "word")
    return (
        scored.withColumn("rk", F.row_number().over(wk).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "word", "tf", "score", "rk")
    )


@register(
    "text_normalized_collisions",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             array_to_string(list_sort(list_distinct(string_split(
               trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                   ' +', ' ', 'g')), ' '))), ' ') AS ntext
      FROM documents
    )
    SELECT md5(ntext) AS norm_digest,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS keep_doc_id,
           MAX(doc_id) AS last_doc_id
    FROM norm GROUP BY md5(ntext) HAVING COUNT(*) >= 2
    """,
)
def text_normalized_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-normalized duplicate groups (the OpenRefine
    "fingerprint" method): casefold, strip punctuation, squeeze
    whitespace, then collapse to the SORTED set of distinct words —
    word-order-insensitive, so reshuffled/lightly-edited copies land in
    one group.  The dedup tier between byte-exact (misses trivial
    edits) and n-gram fuzzy (a join); this is one aggregate.

    The shuffle key is the 16-byte md5 of the fingerprint, so group-by
    traffic carries digests + ids, never documents.  ASCII corpus ⇒
    lower/regex/sort agree across engines (binary string order; Java
    and RE2 treat these character classes identically).
    """
    d = load_table(spark, sf_dir, "documents")
    squeezed = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    ntext = F.array_join(F.array_sort(F.array_distinct(F.split(squeezed, " "))), " ")
    return (
        d.select("doc_id", F.md5(F.encode(ntext, "UTF-8")).alias("norm_digest"))
        .groupBy("norm_digest")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "text_sentence_stats",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             string_split(text, '. ') AS sents,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    )
    SELECT doc_id,
           CAST(len(sents) AS BIGINT) AS n_sentences,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_tokens AS DOUBLE) / len(sents) AS avg_sentence_tokens,
           CAST(list_max(list_transform(sents, x -> len(string_split(x, ' '))))
                AS BIGINT) AS max_sentence_tokens
    FROM s
    """,
)
def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation profile per document: sentence count,
    token count, mean and max sentence length — the text-quality
    features behind readability gates and chunk-size planning.

    Pure narrow expressions (split + HOF transform/array_max), no
    shuffle, no Python; the only double is a per-row integer ratio,
    deterministic in both engines.  The HOF lambda touches only its
    element (repo rule: outer references re-evaluate per element).
    """
    d = load_table(spark, sf_dir, "documents")
    sents = F.split(F.col("text"), "\\. ")
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(sents).cast("long").alias("n_sentences"),
        F.size(toks).cast("long").alias("n_tokens"),
        (F.size(toks).cast("double") / F.size(sents)).alias("avg_sentence_tokens"),
        F.array_max(F.transform(sents, lambda s: F.size(F.split(s, " "))))
        .cast("long")
        .alias("max_sentence_tokens"),
    )


# --------------------------------------------------------------------------
# text_readability_flesch — Flesch reading-ease scoring
# --------------------------------------------------------------------------


@register(
    "text_readability_flesch",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             len(string_split(text, '. ')) AS n_sentences,
             len(regexp_extract_all(text, '[aeiouAEIOU]+')) AS n_syllables
      FROM documents
    ),
    f AS (
      SELECT doc_id, n_words, n_sentences, n_syllables,
             (CAST('206.835' AS DOUBLE)
              - (CAST('1.015' AS DOUBLE)
                 * (CAST(n_words AS DOUBLE) / n_sentences)))
             - (CAST('84.6' AS DOUBLE)
                * (CAST(n_syllables AS DOUBLE) / n_words)) AS flesch
      FROM s
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           flesch AS flesch_score,
           CASE WHEN flesch >= 60 THEN 'easy'
                WHEN flesch >= 30 THEN 'medium'
                ELSE 'hard' END AS band
    FROM f
    """,
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document — the classic readability
    gate in corpus-quality stacks (alongside Gopher rules and the
    quality classifier), using vowel-group runs as the standard
    syllable proxy.

    Parity: words/sentences/syllable-groups are exact integer counts
    (identical regex semantics for ``[aeiouAEIOU]+`` in Java regex and
    RE2); the score is ONE fixed-association expression over two
    integer-ratio divisions, with all three Flesch constants
    string-parsed to identical doubles in both engines (a bare 206.835
    literal is DECIMAL in DuckDB — the VALUES-list 1-ulp trap).  The
    band is a comparison of identical doubles, so it can never straddle.
    Scale: a narrow map — no shuffle at all.
    """
    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.split(F.col("text"), " "))
    n_sent = F.size(F.split(F.col("text"), r"\. "))
    n_syl = F.size(
        F.regexp_extract_all(F.col("text"), F.lit("[aeiouAEIOU]+"), F.lit(0))
    )
    s = d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        n_syl.cast("long").alias("n_syllables"),
    )
    flesch = (
        F.lit(206.835)
        - (F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_sentences")))
    ) - (F.lit(84.6) * (F.col("n_syllables").cast("double") / F.col("n_words")))
    return s.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        flesch.alias("flesch_score"),
        F.when(flesch >= 60, "easy")
        .when(flesch >= 30, "medium")
        .otherwise("hard")
        .alias("band"),
    )


# --------------------------------------------------------------------------
# text_pmi_collocations — corpus collocations ranked by lift (≡ PMI order)
# --------------------------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOP_K = 25


@register(
    "text_pmi_collocations",
    oracle=f"""
    WITH pr AS (
      SELECT unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS pair
      FROM (SELECT string_split(text, ' ') AS ws FROM documents)
    ),
    ab AS (SELECT pair, COUNT(*) AS n_ab FROM pr GROUP BY pair),
    a AS (SELECT split_part(pair, ' ', 1) AS w1, COUNT(*) AS n_a
          FROM pr GROUP BY 1),
    b AS (SELECT split_part(pair, ' ', 2) AS w2, COUNT(*) AS n_b
          FROM pr GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_total FROM pr)
    SELECT ab.pair,
           CAST(ab.n_ab AS BIGINT) AS n_ab,
           CAST(a.n_a AS BIGINT) AS n_a,
           CAST(b.n_b AS BIGINT) AS n_b,
           (CAST(ab.n_ab AS DOUBLE) * CAST(n.n_total AS DOUBLE))
             / (CAST(a.n_a AS DOUBLE) * CAST(b.n_b AS DOUBLE)) AS lift
    FROM ab
    JOIN a ON a.w1 = split_part(ab.pair, ' ', 1)
    JOIN b ON b.w2 = split_part(ab.pair, ' ', 2)
    CROSS JOIN n
    WHERE ab.n_ab >= {_PMI_MIN_COUNT}
    ORDER BY lift DESC, ab.pair
    LIMIT {_PMI_TOP_K}
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: the top-{25} word bigrams by lift
    ``n_ab·N / (n_a·n_b)`` — monotone in PMI (log is increasing), so
    this ranks exactly as pointwise mutual information without putting
    a cross-engine ``log`` at the compared edge.  The phrases this
    surfaces ("et al", "New York") are what a tokenizer-vocab or
    stop-phrase list builder consumes.

    One bigram explode (the ``word_bigrams`` zipped-slice shape — the
    lambda touches only its element) is map-side-combined straight into
    the distinct-bigram count table; BOTH marginals and the grand total
    are derived from that table by summation (Σ_b n_ab = n_a exactly),
    so the persisted multi-consumer state is distinct-bigram-sized —
    vocabulary², not corpus-sized.  Counts are exact integers and the
    lift is a fixed-shape product/quotient of exact-integer-valued
    doubles, IEEE-identical across engines.  Min-support {5} is applied
    AFTER the marginals (they must count the full table), and the top-k
    edge is sort+limit (TakeOrdered — no global window).  Scale: one
    token-keyed hash aggregate; marginal join keys are words (bounded
    vocabulary → broadcast-sized at any corpus scale).
    """
    d = load_table(spark, sf_dir, "documents").select("text")
    pairs = d.select(F.explode(word_bigrams(F.col("text"))).alias("pair"))
    # group by the bare pair (w1/w2 are pure functions of it — deriving
    # them BEFORE the aggregate would double every shuffled row's width
    # through the corpus-sized explode); split on the vocab²-sized
    # distinct table instead.
    ab_full = cached(
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n_ab"))
        .select(
            "pair",
            F.split(F.col("pair"), " ").getItem(0).alias("w1"),
            F.split(F.col("pair"), " ").getItem(1).alias("w2"),
            "n_ab",
        )
    )
    ab = ab_full.filter(F.col("n_ab") >= _PMI_MIN_COUNT)
    a = ab_full.groupBy("w1").agg(F.sum("n_ab").alias("n_a"))
    b = ab_full.groupBy("w2").agg(F.sum("n_ab").alias("n_b"))
    n = ab_full.agg(F.sum("n_ab").alias("n_total"))
    lift = (F.col("n_ab").cast("double") * F.col("n_total").cast("double")) / (
        F.col("n_a").cast("double") * F.col("n_b").cast("double")
    )
    return (
        ab.join(F.broadcast(a), "w1")
        .join(F.broadcast(b), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "pair",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            lift.alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("pair"))
        .limit(_PMI_TOP_K)
    )


# --------------------------------------------------------------------------
# text_heaps_diagnostic — does doc length predict vocabulary richness?
# --------------------------------------------------------------------------


@register(
    "text_heaps_diagnostic",
    oracle="""
    WITH t AS (
      SELECT lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS y
      FROM documents
    ),
    m AS (
      SELECT lang,
             CAST(COUNT(*) AS HUGEINT) AS np,
             SUM(CAST(x AS HUGEINT)) AS sx,
             SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy
      FROM t GROUP BY lang
    )
    SELECT lang,
           CAST(np AS BIGINT) AS n_docs,
           CAST(sx AS BIGINT) AS total_tokens,
           CAST(sy AS BIGINT) AS total_distinct,
           CASE WHEN np * sxx - sx * sx > 0 AND np * syy - sy * sy > 0
                THEN CAST(CAST(np * sxy - sx * sy AS VARCHAR) AS DOUBLE)
                  / (sqrt(CAST(CAST(np * sxx - sx * sx AS VARCHAR) AS DOUBLE))
                     * sqrt(CAST(CAST(np * syy - sy * sy AS VARCHAR)
                                 AS DOUBLE)))
           END AS len_vocab_corr
    FROM m
    """,
)
def text_heaps_diagnostic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law curation diagnostic per language: the Pearson
    correlation between a document's token count and its DISTINCT
    token count.  Near 1.0 means vocabulary still grows linearly with
    length (short, diverse docs); a depressed value means long
    documents are repeating themselves — the same signal
    ``llm_gopher_repetition`` reads per-document, here as a
    corpus-level sufficient statistic that tells a filter designer
    whether length caps double as repetition caps.

    Both variables are exact integers, so all five Pearson moments
    accumulate exactly in decimal(38,0) (HUGEINT in the oracle) and
    the correlation is one division over two IEEE-exact sqrts of
    identical integers — the ``ts_acf_daily`` float contract.
    Zero-variance groups return NULL rather than dividing.  Scale:
    one map-combined aggregate per language over a single scan; the
    token split is the cheap whitespace tokenizer, never a UDF.
    """
    words = F.split(F.col("text"), " ")
    t = load_table(spark, sf_dir, "documents").select(
        "lang",
        F.size(words).cast("long").alias("x"),
        F.size(F.array_distinct(words)).cast("long").alias("y"),
    )
    m = int_pearson_moments(t, ["lang"])
    _, dx, dy, raw_corr = pearson_terms()
    corr = F.when((dx > 0) & (dy > 0), raw_corr)
    return m.select(
        "lang",
        F.col("np_l").cast("long").alias("n_docs"),
        F.col("sx").cast("long").alias("total_tokens"),
        F.col("sy").cast("long").alias("total_distinct"),
        corr.alias("len_vocab_corr"),
    )


# --------------------------------------------------------------------------
# text_winnowing_fingerprint — MOSS local fingerprinting
# --------------------------------------------------------------------------

_WINNOW_P = WORDHASH_MOD  # same fold as text_fingerprint (functions/wordhash)


def _shift_zip4(arr: Column) -> Column:
    """Zip ``arr`` with its 1/2/3-shifted selves, trimmed to full
    4-tuples — the zipped-slice shape (HOF lambdas downstream touch
    only their struct element, never an outer array reference)."""
    n = F.size(arr)
    full = F.greatest(n - 3, F.lit(0))
    return F.slice(
        F.arrays_zip(
            arr.alias("a"),
            F.slice(arr, 2, F.greatest(n - 1, F.lit(0))).alias("b"),
            F.slice(arr, 3, F.greatest(n - 2, F.lit(0))).alias("c"),
            F.slice(arr, 4, F.greatest(n - 3, F.lit(0))).alias("d"),
        ),
        1,
        full,
    )


@register(
    "text_winnowing_fingerprint",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    h AS (
      SELECT doc_id,
             {SQL_WORD_HASHES} AS wh
      FROM w
    ),
    kg AS (
      SELECT doc_id,
             [((((wh[i] * 33 + wh[i+1]) % {_WINNOW_P}) * 33 + wh[i+2])
                % {_WINNOW_P} * 33 + wh[i+3]) % {_WINNOW_P}
              for i in range(1, len(wh) - 2)] AS kg
      FROM h
    ),
    fp AS (
      SELECT doc_id, len(kg) AS n_kgrams,
             list_distinct(
               [least(kg[j], kg[j+1], kg[j+2], kg[j+3])
                for j in range(1, len(kg) - 2)]) AS fps
      FROM kg
    ),
    ex AS (SELECT doc_id, unnest(fps) AS f FROM fp),
    shared AS (SELECT f FROM ex GROUP BY f HAVING COUNT(*) >= 2),
    sc AS (
      SELECT ex.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM ex JOIN shared USING (f) GROUP BY 1
    )
    SELECT fp.doc_id,
           CAST(fp.n_kgrams AS BIGINT) AS n_kgrams,
           CAST(len(fp.fps) AS BIGINT) AS n_fingerprints,
           COALESCE(sc.n_shared, 0) AS n_shared
    FROM fp LEFT JOIN sc ON sc.doc_id = fp.doc_id
    """,
)
def text_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): hash every word 4-gram (base-33 fold of the
    ``text_fingerprint`` word hashes, mod 1e9+7), slide a window of 4
    consecutive k-gram hashes, keep each window's MINIMUM — a
    position-robust fingerprint set that is guaranteed to detect any
    shared run of ≥ 7 words, at a fraction of ``dedup_exact_substring``'s
    every-window cost.  Per doc: k-gram count, distinct fingerprints
    selected, and how many of them also occur in ANOTHER document (the
    plagiarism / near-dup signal).

    Everything per-row is expression-level HOF work in the
    zipped-slice shape (k-gram hashing AND window minima — lambdas
    touch only their zipped element); the only shuffles carry
    (doc_id, 64-bit fingerprint) pairs.  All-integer hashes: exact on
    both engines.  Scale: fingerprint density is 2/(w+1) ≈ 40 % of
    k-grams before dedup, so the exploded index is a bounded fraction
    of the token stream — the standard winnowing guarantee.
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    wh = word_hashes(words)  # shared base-31 fold (functions/wordhash)
    kg = F.transform(
        _shift_zip4(F.col("wh")),
        lambda s: (
            ((s.a * 33 + s.b) % _WINNOW_P * 33 + s.c) % _WINNOW_P * 33 + s.d
        )
        % _WINNOW_P,
    )
    fps = F.array_distinct(
        F.transform(_shift_zip4(F.col("kg")), lambda s: F.least(s.a, s.b, s.c, s.d))
    )
    per_doc = cached(
        d.select("doc_id", wh.alias("wh"))
        .select("doc_id", kg.alias("kg"))
        .select(
            "doc_id",
            F.size("kg").cast("long").alias("n_kgrams"),
            fps.alias("fps"),
        )
    )
    ex = per_doc.select("doc_id", F.explode("fps").alias("f"))
    shared = ex.groupBy("f").agg(F.count("*").alias("nd")).filter(F.col("nd") >= 2)
    sc = (
        ex.join(shared.select("f"), "f")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        per_doc.join(sc, "doc_id", "left")
        .select(
            "doc_id",
            "n_kgrams",
            F.size("fps").cast("long").alias("n_fingerprints"),
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared"),
        )
    )


# --------------------------------------------------------------------------
# text_tvd_language_drift — how far apart are two corpora's vocabularies?
# --------------------------------------------------------------------------


@register(
    "text_tvd_language_drift",
    oracle="""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tc AS (SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS c
           FROM tok GROUP BY 1, 2),
    n AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS nt FROM tc GROUP BY 1),
    pairs AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b, a.nt AS na, b.nt AS nb
      FROM n a JOIN n b ON a.lang < b.lang
    ),
    bo AS (
      SELECT a.lang AS la, b.lang AS lb,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(ABS(a.c * nb.nt - b.c * na.nt)) AS BIGINT) AS s_abs,
             CAST(SUM(a.c) AS BIGINT) AS ca,
             CAST(SUM(b.c) AS BIGINT) AS cb
      FROM tc a
      JOIN tc b ON a.term = b.term AND a.lang < b.lang
      JOIN n na ON na.lang = a.lang
      JOIN n nb ON nb.lang = b.lang
      GROUP BY 1, 2
    )
    SELECT p.lang_a, p.lang_b, p.na AS tokens_a, p.nb AS tokens_b,
           COALESCE(bo.n_common, 0) AS n_common_terms,
           CAST(COALESCE(bo.s_abs, 0)
                + (p.na - COALESCE(bo.ca, 0)) * p.nb
                + (p.nb - COALESCE(bo.cb, 0)) * p.na AS DOUBLE)
             / CAST(2 * p.na * p.nb AS DOUBLE) AS tvd
    FROM pairs p LEFT JOIN bo ON bo.la = p.lang_a AND bo.lb = p.lang_b
    """,
)
def text_tvd_language_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT total-variation distance between every pair of languages'
    unigram term distributions: TVD = ½ Σ_t |p_a(t) − p_b(t)| ∈ [0, 1]
    — the bin-free, log-free distribution distance (the drift test
    PSI/KL approximate, without their binning or log-of-zero
    problems).  0 = identical vocabularies, 1 = fully disjoint.

    Log-free exactness: with integer counts c and totals N,
    ½ Σ |c_a/N_a − c_b/N_b| = Σ |c_a·N_b − c_b·N_a| / (2·N_a·N_b) —
    ALL-integer numerator, ONE IEEE division at the edge.  Terms
    present in only one language never enter the join: their
    contribution is (N_a − Σ_common c_a)·N_b + symmetric, derived
    from the common-term sums — so the pair join touches ONLY the
    vocabulary intersection (inverted-index equi join on term), never
    a full outer union.  Scale: one token aggregate, one term-keyed
    self-join, |langs|²-sized everything after; at 100 TB the integer
    numerator accumulates in decimal(38,0) instead of BIGINT.
    """
    tok = load_table(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split("text", " ")).alias("term")
    )
    tc = cached(tok.groupBy("lang", "term").agg(F.count("*").alias("c")))
    n = tc.groupBy("lang").agg(F.sum("c").alias("nt"))
    a = tc.select(F.col("lang").alias("la"), "term", F.col("c").alias("cxa"))
    b = tc.select(F.col("lang").alias("lb"), "term", F.col("c").alias("cxb"))
    bo = (
        a.join(b, "term")
        .filter(F.col("la") < F.col("lb"))
        .join(F.broadcast(n.select(F.col("lang").alias("la"), F.col("nt").alias("na"))), "la")
        .join(F.broadcast(n.select(F.col("lang").alias("lb"), F.col("nt").alias("nb"))), "lb")
        .groupBy("la", "lb")
        .agg(
            F.count("*").alias("n_common"),
            F.sum(F.abs(F.col("cxa") * F.col("nb") - F.col("cxb") * F.col("na"))).alias(
                "s_abs"
            ),
            F.sum("cxa").alias("ca"),
            F.sum("cxb").alias("cb"),
        )
    )
    pairs = (
        n.select(F.col("lang").alias("lang_a"), F.col("nt").alias("na"))
        .join(
            F.broadcast(
                n.select(F.col("lang").alias("lang_b"), F.col("nt").alias("nb"))
            ),
            F.col("lang_a") < F.col("lang_b"),
        )
    )
    num = (
        F.coalesce(F.col("s_abs"), F.lit(0))
        + (F.col("na") - F.coalesce(F.col("ca"), F.lit(0))) * F.col("nb")
        + (F.col("nb") - F.coalesce(F.col("cb"), F.lit(0))) * F.col("na")
    )
    return (
        pairs.join(
            F.broadcast(bo),
            (F.col("lang_a") == F.col("la")) & (F.col("lang_b") == F.col("lb")),
            "left",
        )
        .select(
            "lang_a",
            "lang_b",
            F.col("na").alias("tokens_a"),
            F.col("nb").alias("tokens_b"),
            F.coalesce(F.col("n_common"), F.lit(0)).cast("long").alias("n_common_terms"),
            (
                num.cast("double")
                / (F.lit(2) * F.col("na") * F.col("nb")).cast("double")
            ).alias("tvd"),
        )
    )


# --------------------------------------------------------------------------
# text_langid_confusion — where does the language classifier go wrong?
# --------------------------------------------------------------------------


def _langid_confusion_oracle() -> str:
    return f"""
    WITH pred AS ({_SQL_LANGID_NGRAM}),
    c AS (
      SELECT actual_lang, guessed_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM pred GROUP BY 1, 2
    ),
    t AS (SELECT actual_lang, CAST(SUM(n_docs) AS BIGINT) AS tot
          FROM c GROUP BY 1)
    SELECT c.actual_lang, c.guessed_lang, c.n_docs,
           CAST(c.n_docs AS DOUBLE) / CAST(t.tot AS DOUBLE) AS row_share
    FROM c JOIN t USING (actual_lang)
    """


@register("text_langid_confusion", oracle=_langid_confusion_oracle())
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the language-ID heuristic against the
    labeled ``lang`` column: per (actual, guessed) cell, document
    count and row-normalized share — the standard eval artifact that
    turns ``text_langid_ngram``'s per-doc ``agree`` boolean into
    "WHICH languages bleed into which" (the input to per-language
    threshold tuning and mixture re-weighting in a multilingual
    corpus pipeline).

    Composes the langid query and its oracle SQL.
    The matrix is |langs|²-bounded; each row
    share is ONE IEEE division of exact counts.
    """
    pred = text_langid_ngram(spark, sf_dir).select("actual_lang", "guessed_lang")
    c = pred.groupBy("actual_lang", "guessed_lang").agg(
        F.count("*").alias("n_docs")
    )
    t = c.groupBy("actual_lang").agg(F.sum("n_docs").alias("tot"))
    return (
        c.join(F.broadcast(t), "actual_lang")
        .select(
            "actual_lang",
            "guessed_lang",
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("tot").cast("double")).alias(
                "row_share"
            ),
        )
    )


# --------------------------------------------------------------------------
# text_vocab_coverage_curve — how big a vocabulary do we actually need?
# --------------------------------------------------------------------------

_VOCAB_CUTS = [100, 1000, 10000]


@register(
    "text_vocab_coverage_curve",
    oracle=f"""
    WITH tc AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY term
    ),
    r AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rk FROM tc
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_vocab
            FROM tc)
    SELECT k.k AS vocab_size,
           tot.n_vocab, tot.n_tokens,
           CAST(COALESCE(SUM(r.c) FILTER (WHERE r.rk <= k.k), 0) AS BIGINT)
             AS tokens_covered,
           CAST(COALESCE(SUM(r.c) FILTER (WHERE r.rk <= k.k), 0) AS DOUBLE)
             / CAST(tot.n_tokens AS DOUBLE) AS coverage
    FROM (SELECT unnest([{", ".join(map(str, _VOCAB_CUTS))}]) AS k) k,
         tot, r
    GROUP BY k.k, tot.n_vocab, tot.n_tokens
    """,
)
def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: what share of all token occurrences
    the top-100 / top-1 000 / top-10 000 most frequent terms cover —
    the Zipf-tail readout that sizes a tokenizer's vocab and predicts
    the OOV rate of any cut (``llm_vocab_topk`` lists the head terms;
    ``llm_oov_rate`` scores ONE fixed vocab; this is the whole
    size-vs-coverage CURVE).

    Exact: term counts rank under a total (count DESC, term) order;
    each coverage value is one IEEE division of exact integer sums.
    Scale: the rank window runs on the AGGREGATED vocabulary (already
    1000× smaller than the token stream); a web-scale vocabulary
    would two-phase the rank through count-band buckets exactly like
    ``ranks.bucket_offsets`` — the raw token stream only ever sees
    the one map-combined count aggregate.
    """
    tc = cached(
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    )
    r = tc.select(
        "c",
        F.row_number()
        .over(W.orderBy(F.col("c").desc(), "term"))
        .alias("rk"),
    )
    tot = tc.agg(
        F.sum("c").alias("n_tokens"), F.count("*").alias("n_vocab")
    )
    ks = spark.createDataFrame([(k,) for k in _VOCAB_CUTS], "k long")
    covered = F.coalesce(
        F.sum(F.when(F.col("rk") <= F.col("k"), F.col("c"))), F.lit(0)
    )
    return (
        r.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(tot))
        .groupBy("k", "n_vocab", "n_tokens")
        .agg(covered.alias("tokens_covered"))
        .select(
            F.col("k").alias("vocab_size"),
            "n_vocab",
            "n_tokens",
            F.col("tokens_covered").cast("long").alias("tokens_covered"),
            (
                F.col("tokens_covered").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("coverage"),
        )
    )


# --------------------------------------------------------------------------
# text_hapax_rate — how much of the vocabulary occurs exactly once?
# --------------------------------------------------------------------------


@register(
    "text_hapax_rate",
    oracle="""
    WITH tc AS (
      SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS term
            FROM documents)
      GROUP BY 1, 2
    )
    SELECT lang,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_vocab,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS hapax_vocab_share,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(SUM(c) AS DOUBLE) AS hapax_token_share
    FROM tc GROUP BY lang
    """,
)
def text_hapax_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena profile per language: how much of the
    vocabulary — and of the token stream — is words that occur
    exactly ONCE.  A high hapax share means an open, productive
    vocabulary (or OCR noise / tokenization damage); a collapsing one
    means templated text — the corpus-health dial lexicographers and
    tokenizer trainers both read first
    (``text_heaps_diagnostic`` correlates length with vocabulary;
    hapax measures the UNSEEN-mass frontier directly, and is the
    numerator of the Good–Turing unseen-probability estimate).

    One map-combined (lang, term) count aggregate; both shares are
    single IEEE divisions of exact integers.  Scale: the only
    data-sized shuffle is term-keyed; the output is |langs| rows.
    """
    tc = (
        load_table(spark, sf_dir, "documents")
        .select("lang", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count("*").alias("c"))
    )
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    return tc.groupBy("lang").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_vocab"),
        hapax.cast("long").alias("n_hapax"),
        (hapax.cast("double") / F.count("*").cast("double")).alias(
            "hapax_vocab_share"
        ),
        (hapax.cast("double") / F.sum("c").cast("double")).alias(
            "hapax_token_share"
        ),
    )


# Fixed count-bucket order: 26 lowercase letters, space, then the
# "other" remainder bucket.  The ORDER is the cross-engine contract —
# both entropy folds walk these buckets left to right.
_ALPHABET = "abcdefghijklmnopqrstuvwxyz "


def _sql_char_counts() -> str:
    terms = ", ".join(
        f"length(t) - length(replace(t, '{ch}', ''))" for ch in _ALPHABET
    )
    return f"list_value({terms})"


@register(
    "text_char_entropy",
    oracle=f"""
    WITH lowered AS (
      SELECT doc_id, lang, lower(text) AS t
      FROM documents WHERE length(text) > 0
    ),
    counted AS (
      SELECT doc_id, lang, CAST(length(t) AS BIGINT) AS n,
             {_sql_char_counts()} AS cl
      FROM lowered
    ),
    buckets AS (
      SELECT doc_id, lang, n,
             list_append(cl, n - list_reduce(cl, (a, b) -> a + b)) AS cl2
      FROM counted
    )
    SELECT doc_id, lang, n AS n_chars_lower,
           round(ln(CAST(n AS DOUBLE))
                 - list_reduce(
                     list_prepend(CAST(0 AS DOUBLE),
                       list_transform(cl2, c -> CASE WHEN c > 0
                         THEN CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                         ELSE CAST(0 AS DOUBLE) END)),
                     (a, b) -> a + b) / CAST(n AS DOUBLE),
                 9) AS entropy_r9
    FROM buckets
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy (nats) over a FIXED
    28-bucket alphabet: the 26 lowercase letters, space, and one
    "other" remainder bucket — the cheap low-diversity/boilerplate
    filter of web-corpus curation.

    Float-parity spelling (the ``dq_psi_drift`` discipline): bucket
    counts are EXACT integers obtained without any explode —
    ``length(t) − length(replace(t, ch, ''))`` per bucket, 27 JVM-side
    scans of the string, no shuffle, no per-char row blowup (the
    explode-per-character spelling would also hit the engines'
    different code-unit-vs-codepoint splitting of multibyte text;
    counting fixed ASCII buckets sidesteps that entirely).  Entropy is
    rewritten as H = ln(n) − (Σ c·ln c)/n so the fold's lambda touches
    ONLY its element (no outer-column reference inside the HOF — the
    ``dedup._zipped_trigrams`` shape), and the Σ runs in the fixed
    bucket order on BOTH engines (``F.aggregate`` over the literal
    array / ``list_reduce`` over ``list_value``), never a cross-row
    sum.  The only cross-engine divergence left is libm-vs-JVM ``ln``
    (≤1 ulp per term), absorbed by ``round(…, 9)`` on both sides of an
    already-ulp-tight value — the ``text_tfidf_topk`` absorption.

    Scale: a pure map-side projection — zero shuffles, zero joins; at
    100 TB it is one codegen'd pass over the text column with 28
    constant-pattern replaces per row, and the parquet scan prunes to
    (doc_id, lang, text).
    """
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select("doc_id", "lang", F.lower(F.col("text")).alias("t"))
    )
    n = F.length("t").cast("long")
    counts = [
        (n - F.length(F.replace(F.col("t"), F.lit(ch)))).alias(f"c{i}")
        for i, ch in enumerate(_ALPHABET)
    ]
    counted = d.select("doc_id", "lang", n.alias("n"), *counts)
    other = F.col("n") - sum(F.col(f"c{i}") for i in range(len(_ALPHABET)))
    cl2 = F.array(
        *[F.col(f"c{i}") for i in range(len(_ALPHABET))], other.alias("other")
    )
    s = F.aggregate(
        cl2,
        F.lit(0.0),
        lambda acc, c: acc
        + F.when(
            c > 0, c.cast("double") * F.log(c.cast("double"))
        ).otherwise(F.lit(0.0)),
    )
    nd = F.col("n").cast("double")
    return counted.select(
        "doc_id",
        "lang",
        F.col("n").alias("n_chars_lower"),
        F.round(F.log(nd) - s / nd, 9).alias("entropy_r9"),
    )
