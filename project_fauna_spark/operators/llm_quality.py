"""Corpus hygiene operators — the data-privacy / data-quality /
storage stages of a pre-training pipeline (north-star LLM-ops
surface; the reference ETL has no analogue): PII scrubbing, Gopher
repetition metrics, int8 embedding quantization, language-mix
rebalancing, tokenizer-vocab construction, URL component extraction,
and the dedup and labeling audits (survivorship, token savings,
near-dup rate per source, judge agreement).

Scale shapes:

* PII scrub and int8 quantization are pure per-row expression
  pipelines — no shuffle at all; they run at parquet-scan speed and
  parallelize embarrassingly at 100 TB.
* Repetition metrics are two map-side-combined hash aggregations
  keyed by ``doc_id`` (word counts, bigram counts) joined back on the
  same key — the join co-partitions with the aggregations, so the
  whole operator is effectively one shuffle of (doc_id, gram) pairs.

Float parity: every ratio here is a quotient of exact integers (or a
per-row IEEE expression), deterministic and bit-identical across
engines — no cross-row double accumulation anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from project_fauna_spark.functions.shingles import word_bigrams
from project_fauna_spark.io import load_table
from project_fauna_spark.operators._oracle_shared import (
    SQL_NGRAM_JACCARD,
    SQL_RARE_SHINGLES as _SQL_RARE_SHINGLES,
)
from project_fauna_spark.registry import register

# RE2-and-Java-compatible patterns (no backrefs, no lookaround) so the
# Spark (java.util.regex) and DuckDB (RE2) sides match the same spans.
_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PHONE = r"\b\d{3}-\d{4}\b"

# The synthetic corpus contains no PII, so each doc gets a
# deterministic PII suffix (same expression on both engines); the
# scrub then has real matches to find and redact.
_ORACLE_PII = """
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com ip 10.0.'
              || CAST(doc_id % 256 AS VARCHAR) || '.7 tel 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(aug, '__EMAIL__')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(regexp_replace(aug, '__EMAIL__', '<EMAIL>', 'g'),
                                   '__IPV4__')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(
           regexp_replace(regexp_replace(aug, '__EMAIL__', '<EMAIL>', 'g'),
                          '__IPV4__', '<IP>', 'g'),
           '__PHONE__')) AS BIGINT) AS n_phones,
       regexp_replace(
         regexp_replace(
           regexp_replace(aug, '__EMAIL__', '<EMAIL>', 'g'),
           '__IPV4__', '<IP>', 'g'),
         '__PHONE__', '<PHONE>', 'g') AS clean_text
FROM aug
""".replace("__EMAIL__", _EMAIL).replace("__IPV4__", _IPV4).replace("__PHONE__", _PHONE)


@register("llm_pii_scrub", oracle=_ORACLE_PII)
def llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII redaction (emails → IPs → phones) with match counts.

    Counts are staged the same way as the replacements (each pattern
    counted on the text with the previous patterns already redacted)
    so overlapping spans are attributed to exactly one category.
    """
    d = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 tel 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    x = d.select("doc_id", aug.alias("aug"))
    no_email = F.regexp_replace("aug", _EMAIL, "<EMAIL>")
    no_ip = F.regexp_replace(no_email, _IPV4, "<IP>")
    return x.select(
        "doc_id",
        F.regexp_count("aug", F.lit(_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count(no_email, F.lit(_IPV4)).cast("bigint").alias("n_ips"),
        F.regexp_count(no_ip, F.lit(_PHONE)).cast("bigint").alias("n_phones"),
        F.regexp_replace(no_ip, _PHONE, "<PHONE>").alias("clean_text"),
    )


@register(
    "llm_gopher_repetition",
    oracle="""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    wg AS (SELECT doc_id, unnest(ws) AS g FROM base),
    wc AS (SELECT doc_id, g, COUNT(*) AS c FROM wg GROUP BY doc_id, g),
    wt AS (SELECT doc_id, MAX(c) AS top_word_n,
                  CAST(SUM(c) AS BIGINT) AS n_words
           FROM wc GROUP BY doc_id),
    bg AS (SELECT doc_id,
                  unnest([array_to_string(ws[i:i+1], ' ')
                          for i in range(1, len(ws))]) AS g
           FROM base),
    bc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g),
    bt AS (SELECT doc_id, MAX(c) AS top_bigram_n FROM bc GROUP BY doc_id)
    SELECT w.doc_id, w.n_words, w.top_word_n, b.top_bigram_n,
           CAST(w.top_word_n AS DOUBLE) / w.n_words AS top_word_frac,
           CAST(b.top_bigram_n AS DOUBLE) / (w.n_words - 1) AS top_bigram_frac,
           (CAST(w.top_word_n AS DOUBLE) / w.n_words > 0.3
            OR CAST(b.top_bigram_n AS DOUBLE) / (w.n_words - 1) > 0.2)
             AS repetitive
    FROM wt w JOIN bt b ON w.doc_id = b.doc_id
    """,
)
def llm_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: top-word and top-bigram mass.

    A document dominated by one word or one bigram is boilerplate /
    spam; Rae et al. 2021 (Gopher) filter on exactly these fractions.
    Both metrics are count ratios — exact integers until the final
    per-row division, so cross-engine parity is bit-exact.

    Bigrams are built with the zipped-slice shape
    (:func:`project_fauna_spark.functions.shingles._zipped_trigrams`):
    the HOF lambda touches only its own element — no O(len²)
    re-evaluation of ``split`` inside the lambda.
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    base = d.filter(F.size(words) >= 2).select(
        "doc_id", words.alias("ws"), word_bigrams(F.col("text")).alias("bg")
    )

    wt = (
        base.select("doc_id", F.explode("ws").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_word_n"), F.sum("c").alias("n_words"))
    )
    bt = (
        base.select("doc_id", F.explode("bg").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_n"))
    )
    top_word_frac = F.col("top_word_n").cast("double") / F.col("n_words")
    top_bigram_frac = F.col("top_bigram_n").cast("double") / (F.col("n_words") - 1)
    return wt.join(bt, "doc_id").select(
        "doc_id",
        "n_words",
        "top_word_n",
        "top_bigram_n",
        top_word_frac.alias("top_word_frac"),
        top_bigram_frac.alias("top_bigram_frac"),
        ((top_word_frac > 0.3) | (top_bigram_frac > 0.2)).alias("repetitive"),
    )


@register(
    "sim_quantize_int8",
    oracle="""
    WITH e AS (
      SELECT vec_id, label,
             [CAST(x AS DOUBLE) for x in embedding] AS demb
      FROM embeddings
    ),
    m AS (
      SELECT vec_id, label, demb,
             list_max([abs(x) for x in demb]) AS scale_max
      FROM e
    )
    SELECT vec_id, label, scale_max,
           array_to_string([CAST(CAST(floor(x * 127.0 / scale_max) AS INTEGER) AS VARCHAR)
                            for x in demb], ',') AS q8
    FROM m
    WHERE scale_max > 0
    """,
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector absmax int8 quantization (the 4× storage/bandwidth
    cut every large ANN index applies before sharding).

    ``q = floor(x · 127 / absmax)`` in double — per-row IEEE ops, so
    both engines produce identical arrays.  The scalar ``scale_max``
    is zipped in via ``array_repeat`` rather than referenced inside
    the lambda: an outer expression inside a HOF lambda re-evaluates
    per element (the O(d²) trap), while the repeat evaluates it once
    per row.  Zero vectors are excluded (no defined scale).
    """
    e = load_table(spark, sf_dir, "embeddings")
    demb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    with_scale = e.select(
        "vec_id",
        "label",
        demb.alias("demb"),
    ).select(
        "vec_id",
        "label",
        "demb",
        F.array_max(F.transform(F.col("demb"), F.abs)).alias("scale_max"),
    )
    return with_scale.filter(F.col("scale_max") > 0).select(
        "vec_id",
        "label",
        "scale_max",
        F.array_join(
            F.zip_with(
                F.col("demb"),
                F.array_repeat(F.col("scale_max"), F.size(F.col("demb"))),
                lambda x, s: F.floor(x * F.lit(127.0) / s).cast("int").cast("string"),
            ),
            ",",
        ).alias("q8"),
    )


@register(
    "llm_balance_lang_mix",
    oracle="""
    WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
    t AS (SELECT MIN(cnt) AS target FROM c),
    r AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS mix_rank
      FROM documents
    )
    SELECT r.doc_id, r.lang, r.mix_rank
    FROM r, t
    WHERE r.mix_rank <= t.target
    """,
)
def llm_balance_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix rebalancing: cap every language at the smallest
    language's document count, selecting survivors by deterministic
    md5 rank (a seeded-shuffle-without-an-RNG — same subset on any
    cluster size, any partitioning, any engine).

    The target is computed as a 1-row aggregate and cross-joined
    (Catalyst broadcasts it); no ``.collect()`` round-trip.  The
    per-language rank window funnels a language through one task —
    at 100 TB, decompose it over (lang, doc_id div B) buckets with a
    broadcast offset table exactly as ``llm_pack_shards`` does; the
    md5-ordered rank makes the bucketed spelling value-identical.
    """
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    target = counts.agg(F.min("cnt").alias("target"))
    rank = F.row_number().over(
        W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    )
    ranked = d.select("doc_id", "lang", rank.cast("bigint").alias("mix_rank"))
    return ranked.crossJoin(F.broadcast(target)).filter(
        F.col("mix_rank") <= F.col("target")
    ).select("doc_id", "lang", "mix_rank")


@register(
    "llm_vocab_topk",
    oracle="""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    uni AS (
      SELECT unnest(ws) AS token, 'uni' AS kind FROM base
    ),
    bi AS (
      SELECT unnest([array_to_string(ws[i:i+1], ' ')
                     for i in range(1, len(ws))]) AS token,
             'bi' AS kind
      FROM base
    ),
    counts AS (
      SELECT token, kind, COUNT(*) AS n
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
      GROUP BY token, kind
    ),
    top AS (
      SELECT token, kind, n
      FROM counts ORDER BY n DESC, token LIMIT 1000
    )
    SELECT CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS token_id,
           token, kind, n
    FROM top
    """,
)
def llm_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary construction: top-1000 unigrams+bigrams by
    corpus frequency, with dense ids assigned in (count desc, token)
    order — the count-and-rank core of WordPiece/BPE vocab building.

    The count is one map-combined hash aggregate over the exploded
    gram stream; the top-K is ``TakeOrderedAndProject`` (no global
    sort), and the id-assigning window runs on K rows only — bounded
    regardless of corpus size.  Ties are broken by token text, so the
    vocab is deterministic across engines and cluster layouts.
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    base = d.filter(F.size(words) >= 2)
    uni = base.select(F.explode(words).alias("token"), F.lit("uni").alias("kind"))
    bi = base.select(
        F.explode(word_bigrams(F.col("text"))).alias("token"),
        F.lit("bi").alias("kind"),
    )
    counts = (
        uni.unionAll(bi)
        .groupBy("token", "kind")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), "token").limit(1000)
    rank = F.row_number().over(W.orderBy(F.col("n").desc(), "token"))
    return top.select(
        rank.cast("bigint").alias("token_id"), "token", "kind", "n"
    )


@register(
    "scalar_url_fns",
    oracle="""
    SELECT doc_id,
           'host' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host,
           '/' || lang || '/doc/' || CAST(doc_id AS VARCHAR) AS path,
           'ref=r' || CAST(doc_id % 3 AS VARCHAR) AS query,
           'r' || CAST(doc_id % 3 AS VARCHAR) AS ref_param,
           'https' AS protocol
    FROM documents
    """,
)
def scalar_url_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL component extraction (``parse_url``): host / path / query /
    single parameter / protocol from deterministically constructed
    URLs — the oracle reconstructs each component from the same parts,
    so the check certifies Spark's parser against ground truth.
    """
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://host"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("?ref=r"),
        (F.col("doc_id") % 3).cast("string"),
    )
    x = d.select("doc_id", url.alias("url"))
    return x.select(
        "doc_id",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("ref")).alias("ref_param"),
        F.parse_url("url", F.lit("PROTOCOL")).alias("protocol"),
    )


@register(
    "llm_blocklist_filter",
    oracle="""
    SELECT doc_id,
           coalesce(array_to_string(
             list_sort(list_intersect(list_distinct(string_split(text, ' ')),
                                      ['slow', 'crash', 'spark'])), '|'),
             '') AS matched_terms,
           len(list_intersect(list_distinct(string_split(text, ' ')),
                              ['slow', 'crash', 'spark'])) > 0 AS flagged
    FROM documents
    """,
)
def llm_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist screening: exact-term membership against a curated
    list, with the matched terms surfaced for audit — the first
    safety gate of a corpus pipeline (regex/classifier gates follow
    the same per-row shape).

    Pure array expressions per row, no shuffle; at 100 TB a large
    blocklist broadcasts and the intersect becomes a hash probe.
    """
    d = load_table(spark, sf_dir, "documents")
    blocklist = F.array(F.lit("slow"), F.lit("crash"), F.lit("spark"))
    words = F.array_distinct(F.split(F.col("text"), " "))
    matched = F.array_sort(F.array_intersect(words, blocklist))
    return d.select(
        "doc_id",
        F.array_join(matched, "|").alias("matched_terms"),
        (F.size(matched) > 0).alias("flagged"),
    )


@register(
    "llm_dataset_manifest",
    oracle="""
    WITH g AS (
      SELECT lang, source,
             COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM documents GROUP BY lang, source
    )
    SELECT lang, source, n_docs, n_tokens, n_chars,
           CAST(n_tokens AS DOUBLE)
             / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS token_share
    FROM g
    """,
)
def llm_dataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card manifest: per (lang, source) document / token /
    byte counts with each cell's share of total tokens — the datasheet
    every training-data release ships.

    One map-combined aggregate over the corpus; the share window runs
    on the (lang × source) grid, bounded by catalog size.  All counts
    exact; the share is a per-row ratio of exact integers.
    """
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
    )
    total = F.sum("n_tokens").over(W.partitionBy())
    return g.select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        "n_chars",
        (F.col("n_tokens").cast("double") / total.cast("double")).alias("token_share"),
    )


@register(
    "llm_dedup_survivorship_report",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, text,
             array_to_string(list_sort(list_distinct(string_split(
               trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                   ' +', ' ', 'g')), ' '))), ' ') AS fprint
      FROM documents
    ),
    exact_kept AS (
      SELECT MIN(doc_id) AS doc_id, ANY_VALUE(text) AS text
      FROM fp GROUP BY text
    ),
    sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(ws[i:i+2], ' ')
                            for i in range(1, len(ws) - 1)]) AS sgl
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM exact_kept)
    ),
    {_SQL_RARE_SHINGLES},
    neardup_b AS (
      SELECT DISTINCT b.doc_id
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      JOIN rare ar ON ar.doc_id = a.doc_id
      JOIN rare br ON br.doc_id = b.doc_id
      WHERE len(list_intersect(ar.rsgl, br.rsgl)) > 0
        AND CAST(len(list_intersect(ar.rsgl, br.rsgl)) AS DOUBLE)
            / (len(a.sgl) + len(b.sgl) - len(list_intersect(ar.rsgl, br.rsgl))) >= 0.5
    )
    SELECT (SELECT COUNT(*) FROM documents) AS n_total,
           (SELECT COUNT(*) FROM exact_kept) AS n_after_exact,
           (SELECT COUNT(DISTINCT fprint) FROM fp) AS n_distinct_fingerprints,
           (SELECT COUNT(*) FROM exact_kept)
             - (SELECT COUNT(*) FROM neardup_b) AS n_after_neardup
    """,
)
def llm_dedup_survivorship_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup funnel report: corpus size → after byte-exact dedup →
    distinct OpenRefine fingerprints → after greedy near-dup removal —
    the one-row survivorship summary every corpus drop ships with (how
    much did each dedup tier actually remove?).

    Each tier reuses the scale-safe primitive shapes: exact = one hash
    aggregate, fingerprints = one aggregate on a 16-byte digest, near-
    dup = the df-capped candidate join over exact survivors.  The four
    counts reduce to single scalars — output is one row regardless of
    corpus size.
    """
    from project_fauna_spark.functions.shingles import (
        drop_hot_shingles,
        shingle_hashes,
    )

    d = load_table(spark, sf_dir, "documents")
    squeezed = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    fprint = F.array_join(F.array_sort(F.array_distinct(F.split(squeezed, " "))), " ")
    fp = d.select("doc_id", "text", fprint.alias("fprint"))

    # Single consumer (the near-dup pipeline below) — the scalar
    # n_after_exact is derived arithmetically instead (COUNT(*) of
    # GROUP BY text == COUNT(DISTINCT text), NULL group spelled
    # explicitly), so the r12 corpus-text-sized cached() pin is gone.
    # Under cached-plan AQE that pin coalesced to a handful of
    # partitions and serialized the downstream shingle self-join
    # (measured +1.4 s, OPTIMIZATION_r13.md); at 100 TB it was a
    # corpus-sized MEMORY_AND_DISK materialization.
    exact_kept = fp.groupBy("text").agg(F.min("doc_id").alias("doc_id"))

    hashed = exact_kept.select("doc_id", shingle_hashes(F.col("text")).alias("hsgl"))
    # Pin moved from exact_kept (corpus TEXT) to the exploded shingle
    # index (three int64 columns).  ex has THREE consumers — the hot-df
    # aggregate inside drop_hot_shingles plus both self-join sides — so
    # this is the node where one pin caps the expensive fingerprint+
    # shingle build at exactly one pass, at full post-exchange
    # parallelism, instead of per consumer on an AQE-coalesced text pin
    # (r13; guide §5).  The downstream anti-join is a broadcast
    # (map-side) pass over the pin, cheap to run per consumer.
    from project_fauna_spark.cache import cached

    ex = cached(
        hashed.select("doc_id", F.size("hsgl").alias("n"), F.explode("hsgl").alias("h"))
    )
    exr = drop_hot_shingles(ex)
    a, b = exr.alias("a"), exr.alias("b")
    # Length-ratio prune (result-preserving): n_inter <= min(n_a, n_b),
    # so jaccard >= 0.5 forces n_a <= 2*n_b AND n_b <= 2*n_a (violate
    # either strictly and the ratio is < 0.5 strictly; equality can
    # reach exactly 0.5, so the bounds are inclusive).  Filtering in
    # the join condition drops those pairs before the pair aggregation
    # — fewer shuffled bytes, ~20% off the candidate stage (guide §2.3;
    # measured A/B in OPTIMIZATION_r13.md, identical n_nd).
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n") <= 2 * F.col("b.n"))
            & (F.col("b.n") <= 2 * F.col("a.n")),
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
    )
    n_dropped = cand.select(F.col("doc_b").alias("doc_id")).distinct().agg(
        F.count("*").alias("n_nd")
    )
    # The corpus scalars stay SEPARATE single-distinct aggregates
    # (crossJoined): n_after_exact == COUNT(*) of GROUP BY text ==
    # COUNT(DISTINCT text) plus one for a NULL-text group if present
    # (exact int64 identity — DuckDB's COUNT(DISTINCT) skips NULLs, the
    # GROUP BY keeps them).  A combined two-distinct aggregate plans an
    # Expand ×3 of the text column and measured 40% slower than the
    # three pruned scans (0.65 vs 0.47 s, OPTIMIZATION_r13.md).
    totals = d.agg(F.count(F.lit(1)).alias("n_total"))
    n_exact = d.agg(
        (
            F.countDistinct("text")
            + (F.count(F.lit(1)) > F.count("text")).cast("long")
        ).alias("n_after_exact")
    )
    n_fp = fp.agg(F.countDistinct("fprint").alias("n_distinct_fingerprints"))
    return (
        totals.crossJoin(n_exact)
        .crossJoin(n_fp)
        .crossJoin(n_dropped)
        .select(
            "n_total",
            "n_after_exact",
            "n_distinct_fingerprints",
            (F.col("n_after_exact") - F.col("n_nd")).alias("n_after_neardup"),
        )
    )


def _near_dup_rate_oracle() -> str:
    return f"""
    WITH pairs AS (SELECT doc_a, doc_b FROM ({SQL_NGRAM_JACCARD}) p),
    involved AS (
      SELECT doc_a AS doc_id FROM pairs UNION SELECT doc_b FROM pairs
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE i.doc_id IS NOT NULL) AS BIGINT)
             AS n_near_dup,
           CAST(COUNT(*) FILTER (WHERE i.doc_id IS NOT NULL) AS DOUBLE)
             / COUNT(*) AS near_dup_rate
    FROM documents d LEFT JOIN involved i ON i.doc_id = d.doc_id
    GROUP BY d.source
    """


@register(
    "llm_near_dup_rate_by_source",
    oracle=_near_dup_rate_oracle(),
)
def llm_near_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate rate per ingestion source: which feeds are
    polluting the corpus with near-copies?  This is the slice every
    curation dashboard leads with — the dedup pipeline's output joined
    back to provenance.

    The pair set is corpus-linear (df-capped candidates, verified
    pairs); involved doc ids are a tiny broadcast against the
    documents scan, and the rollup is one map-combined aggregate per
    source.  Oracle composed from the Jaccard oracle text.
    """
    from project_fauna_spark.operators.dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir)
    # ONE explode instead of union(pairs, pairs): the union spelling
    # executed the whole verified-pair plan twice (r12; the CC edge
    # build fix).  Identical id multiset → identical distinct set.
    involved = (
        pairs.select(
            F.explode(F.array(F.col("doc_a"), F.col("doc_b"))).alias("doc_id")
        )
        .distinct()
        .select("doc_id", F.lit(True).alias("_nd"))
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        d.join(F.broadcast(involved), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("_nd"), 1)).alias("n_near_dup"),
            (
                F.count(F.when(F.col("_nd"), 1)).cast("double") / F.count("*")
            ).alias("near_dup_rate"),
        )
    )


# --------------------------------------------------------------------------
# llm_judge_agreement_kappa — inter-annotator agreement
# --------------------------------------------------------------------------


@register(
    "llm_judge_agreement_kappa",
    oracle="""
    WITH r AS (
      SELECT (n_chars > 300) AS a,
             (len(string_split(text, ' ')) > 55) AS b
      FROM documents
    ),
    c AS (
      SELECT COUNT(*) AS n,
             CAST(COUNT(*) FILTER (WHERE a AND b) AS BIGINT) AS n11,
             CAST(COUNT(*) FILTER (WHERE a AND NOT b) AS BIGINT) AS n10,
             CAST(COUNT(*) FILTER (WHERE NOT a AND b) AS BIGINT) AS n01,
             CAST(COUNT(*) FILTER (WHERE NOT a AND NOT b) AS BIGINT) AS n00
      FROM r
    )
    SELECT n, n11, n10, n01, n00,
           CASE WHEN n * n - ((n11 + n10) * (n11 + n01)
                              + (n01 + n00) * (n10 + n00)) <> 0
                THEN CAST(n * (n11 + n00)
                          - ((n11 + n10) * (n11 + n01)
                             + (n01 + n00) * (n10 + n00)) AS DOUBLE)
                     / (n * n - ((n11 + n10) * (n11 + n01)
                                 + (n01 + n00) * (n10 + n00)))
           END AS kappa
    FROM c
    """,
)
def llm_judge_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic document judges (length
    rater: n_chars > 300; verbosity rater: n_tokens > 55, both near
    the corpus medians) — the inter-annotator-agreement statistic every
    labeling/LLM-judge pipeline reports before trusting its labels.

    κ = (N·po − pe·N²)/(N² − pe·N²) is evaluated in the all-integer
    form (N·agree − Σ margins)/(N² − Σ margins): exact BIGINTs until
    ONE division, NULL when the raters are degenerate (pe = 1).  One
    map-combined conditional aggregate — a single corpus pass, 1-row
    shuffle at any scale; swapping in real judge columns (model A/B
    verdicts) keeps the identical plan.
    """
    d = load_table(spark, sf_dir, "documents")
    a = F.col("n_chars") > 300
    b = F.size(F.split(F.col("text"), " ")) > 55
    c = d.select(a.alias("a"), b.alias("b")).agg(
        F.count("*").alias("n"),
        F.sum((F.col("a") & F.col("b")).cast("long")).cast("long").alias("n11"),
        F.sum((F.col("a") & ~F.col("b")).cast("long")).cast("long").alias("n10"),
        F.sum((~F.col("a") & F.col("b")).cast("long")).cast("long").alias("n01"),
        F.sum((~F.col("a") & ~F.col("b")).cast("long")).cast("long").alias("n00"),
    )
    pe_num = (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01")) + (
        F.col("n01") + F.col("n00")
    ) * (F.col("n10") + F.col("n00"))
    denom = F.col("n") * F.col("n") - pe_num
    kappa = (
        (F.col("n") * (F.col("n11") + F.col("n00")) - pe_num).cast("double") / denom
    )
    return c.select(
        "n", "n11", "n10", "n01", "n00", F.when(denom != 0, kappa).alias("kappa")
    )


# --------------------------------------------------------------------------
# llm_dedup_impact_on_mixture — does dedup bias the language mix?
# --------------------------------------------------------------------------


def _dedup_mixture_oracle() -> str:
    return f"""
    WITH raw AS (SELECT doc_id, lang, text FROM documents),
    exact_kept AS (
      SELECT MIN(doc_id) AS doc_id FROM raw GROUP BY text
    ),
    near_drops AS (
      SELECT DISTINCT doc_b AS doc_id FROM ({SQL_NGRAM_JACCARD}) t
    ),
    final_kept AS (
      SELECT e.doc_id FROM exact_kept e
      LEFT JOIN near_drops d ON d.doc_id = e.doc_id
      WHERE d.doc_id IS NULL
    ),
    tot AS (
      SELECT (SELECT COUNT(*) FROM raw) AS n_raw_total,
             (SELECT COUNT(*) FROM final_kept) AS n_final_total
    )
    SELECT r.lang,
           CAST(COUNT(*) AS BIGINT) AS n_raw,
           CAST(COUNT(f.doc_id) AS BIGINT) AS n_kept,
           CAST(COUNT(*) AS DOUBLE) / t.n_raw_total AS share_raw,
           CAST(COUNT(f.doc_id) AS DOUBLE) / t.n_final_total AS share_kept,
           (CAST(COUNT(f.doc_id) AS DOUBLE) / t.n_final_total)
             - (CAST(COUNT(*) AS DOUBLE) / t.n_raw_total) AS share_shift
    FROM raw r
    LEFT JOIN final_kept f ON f.doc_id = r.doc_id
    CROSS JOIN tot t
    GROUP BY r.lang, t.n_raw_total, t.n_final_total
    """


@register("llm_dedup_impact_on_mixture", oracle=_dedup_mixture_oracle())
def llm_dedup_impact_on_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup bias audit: per language, the corpus share BEFORE and
    AFTER the dedup stack (exact min-id survivorship, then the
    near-dup greedy drop set) — boilerplate concentrates in specific
    languages/sources, so dedup silently shifts the training mixture;
    this is the number that says whether ``llm_domain_mixture_weights``
    must be re-fit after dedup.

    Stages are the repo's canonical ones: exact survivors = min(doc_id)
    per text; near drops = distinct higher-id members of the exact
    df-capped Jaccard pair set (composed lazily from
    ``dedup_ngram_jaccard`` — its oracle text is spliced into this
    oracle).  Counts are exact; shares are one
    division each; the shift is a difference of two identically-derived
    doubles.  Scale: the pair plan is the df-capped inverted index;
    everything else is hash aggregates and an anti-join.
    """
    from project_fauna_spark.operators.dedup import dedup_ngram_jaccard

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    exact_kept = d.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select(
        "doc_id"
    )
    near_drops = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    final_kept = exact_kept.join(near_drops, "doc_id", "left_anti").withColumn(
        "kept", F.lit(1)
    )
    # r12: pin the |langs|-row aggregate, not the corpus.  The old
    # spelling cached `tagged` = corpus ⋈ final_kept WITH the full text
    # column (the cache pinned every byte of corpus text) and then ran
    # a SECOND full pass over it for the totals row.  The totals are
    # exact int64 sums of the per-language counts (Σ per-group COUNT(*)
    # == COUNT(*), Σ per-group kept-sums == global kept-sum — the
    # llm_ccnet_buckets totals-from-the-aggregate fix), so one
    # projected pass + a bytes-sized pin replaces a corpus-sized pin +
    # two passes; the dedup pair pipeline still runs exactly once.
    from project_fauna_spark.cache import cached

    tagged = d.select("doc_id", "lang").join(final_kept, "doc_id", "left")
    per_lang = cached(
        tagged.groupBy("lang").agg(
            F.count("*").alias("n_raw"),
            F.sum(F.coalesce("kept", F.lit(0))).cast("long").alias("n_kept"),
        )
    )
    tot = per_lang.agg(
        F.sum("n_raw").alias("n_raw_total"),
        F.sum("n_kept").alias("n_final_total"),
    )
    share_raw = F.col("n_raw").cast("double") / F.col("n_raw_total")
    share_kept = F.col("n_kept").cast("double") / F.col("n_final_total")
    return per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.col("n_raw").cast("long").alias("n_raw"),
        "n_kept",
        share_raw.alias("share_raw"),
        share_kept.alias("share_kept"),
        (share_kept - share_raw).alias("share_shift"),
    )


# --------------------------------------------------------------------------
# llm_dedup_token_savings — compute saved, measured in tokens not docs
# --------------------------------------------------------------------------


def _dedup_token_savings_oracle() -> str:
    return f"""
    WITH raw AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS toks, text
      FROM documents
    ),
    exact_kept AS (SELECT MIN(doc_id) AS doc_id FROM raw GROUP BY text),
    near_drops AS (
      SELECT DISTINCT doc_b AS doc_id FROM ({SQL_NGRAM_JACCARD}) t
    ),
    final_kept AS (
      SELECT e.doc_id FROM exact_kept e
      LEFT JOIN near_drops d ON d.doc_id = e.doc_id
      WHERE d.doc_id IS NULL
    )
    SELECT r.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_raw,
           CAST(SUM(r.toks) AS BIGINT) AS tokens_raw,
           CAST(SUM(CASE WHEN f.doc_id IS NOT NULL THEN r.toks ELSE 0 END)
                AS BIGINT) AS tokens_kept,
           CAST(SUM(CASE WHEN f.doc_id IS NULL THEN r.toks ELSE 0 END)
                AS BIGINT) AS tokens_saved,
           CAST(SUM(CASE WHEN f.doc_id IS NULL THEN r.toks ELSE 0 END)
                AS DOUBLE) / SUM(r.toks) AS save_frac
    FROM raw r
    LEFT JOIN final_kept f ON f.doc_id = r.doc_id
    GROUP BY r.source
    """


@register("llm_dedup_token_savings", oracle=_dedup_token_savings_oracle())
def llm_dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-compute savings from the dedup stack, measured in
    TOKENS per source — docs-dropped counts
    (``llm_dedup_survivorship_report``) understate the win when
    duplicates skew long; tokens are what the GPU bill is denominated
    in, so this is the number that justifies the dedup pipeline and
    names which ingestion feed pays for it.

    Stages are the repo's canonical dedup ones: exact survivors =
    min(doc_id) per text; near drops = distinct higher-id members of
    the df-capped exact-Jaccard pair set, composed LAZILY from
    ``dedup_ngram_jaccard`` (its oracle text spliced in; its
    DataFrame reused via the lazy-import convention).
    Token counts are exact whitespace-split integers computed in the
    scan projection; the save fraction is one integer division.
    Scale: the pair plan is the df-capped inverted index; the rest is
    hash aggregates, an anti-join, and one source-keyed rollup.
    """
    from project_fauna_spark.operators.dedup import dedup_ngram_jaccard

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("toks"),
        "text",
    )
    exact_kept = d.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select(
        "doc_id"
    )
    near_drops = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    final_kept = exact_kept.join(near_drops, "doc_id", "left_anti").withColumn(
        "kept", F.lit(1)
    )
    # r12: NO pin.  tagged has exactly one consumer (the rollup below),
    # so the old "persist for a hypothetical future consumer" cache was
    # pure cost: a corpus-length materialization barrier per invocation
    # with zero reuse (guide §5 — cache only when reused).
    tagged = d.join(final_kept, "doc_id", "left").select(
        "source", "toks", F.col("kept").isNotNull().alias("is_kept")
    )
    kept_toks = F.sum(F.when(F.col("is_kept"), F.col("toks")).otherwise(0))
    saved_toks = F.sum(F.when(~F.col("is_kept"), F.col("toks")).otherwise(0))
    return tagged.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs_raw"),
        F.sum("toks").cast("long").alias("tokens_raw"),
        kept_toks.cast("long").alias("tokens_kept"),
        saved_toks.cast("long").alias("tokens_saved"),
        (saved_toks.cast("double") / F.sum("toks")).alias("save_frac"),
    )
