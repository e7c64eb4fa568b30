"""Composed LLM-training-data pipeline operators.

The end-to-end shapes a pre-training corpus pipeline actually runs —
each one a single lazy plan composing the primitive operators.  Besides
the three below: chunking, splits, decontamination, sequence-length
and packing audits, microbatch padding, curriculum order, preference
pairs and FIM / span-corruption plans.

* corpus cleaning: quality gate → exact dedup → near-dup removal;
* shard packing: greedy token-budget packing into training shards;
* gap-fill: dense time grids with forward-filled values (the feature-
  store companion when event streams feed training features).

Scale notes: cleaning is filters + the (already candidate-bounded)
near-dup join; packing is one window cumsum per language partition —
a single shuffle; gap-fill generates the grid with ``sequence`` (no
driver loop) and fills with last-non-null windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from project_fauna_spark.cache import cached
from project_fauna_spark.functions.shingles import (
    GRAM_K as _GRAM_K,
    drop_hot_shingles,
    shingle_hashes,
    shingles,
    token_grams as _token_grams,
)
from project_fauna_spark.io import load_table
from project_fauna_spark.operators._oracle_shared import (
    SQL_RARE_SHINGLES as _SQL_RARE_SHINGLES,
    SQL_SHINGLES as _SQL_SHINGLES,
)
from project_fauna_spark.plans.registry import register


@register(
    "llm_corpus_clean",
    oracle=f"""
    WITH quality AS (
      SELECT doc_id, text, lang,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
      WHERE len(string_split(text, ' ')) >= 50
    ),
    keyed AS (
      SELECT *, row_number() OVER (
               PARTITION BY text ORDER BY doc_id) AS copy_rank
      FROM quality
    ),
    exact_kept AS (SELECT doc_id, text, lang, n_tokens FROM keyed WHERE copy_rank = 1),
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
    SELECT e.doc_id, e.lang, e.n_tokens
    FROM exact_kept e
    WHERE e.doc_id NOT IN (SELECT doc_id FROM neardup_b)
    """,
)
def llm_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cleaning: quality gate → exact dedup (min-id survivor)
    → greedy near-dup removal (drop the higher id of each pair).

    Greedy pair-drop is the scalable stand-in for connected-components
    clustering: one candidate-bounded join, no iteration.
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    quality = d.select(
        "doc_id", "text", "lang", F.size(words).cast("long").alias("n_tokens")
    ).filter(F.col("n_tokens") >= 50)

    w = W.partitionBy("text").orderBy("doc_id")
    exact_kept = (
        quality.withColumn("copy_rank", F.row_number().over(w))
        .filter(F.col("copy_rank") == 1)
        .drop("copy_rank")
    )
    # The cleaned set feeds BOTH sides of the near-dup self-join AND
    # the final anti-join — without persistence Spark recomputes the
    # scan+window 3× (verified via explain: 3 scans, 0 reuse).
    # Spark's cache manager dedupes by logical plan, so repeated query
    # invocations share one cache entry.
    from pyspark.storagelevel import StorageLevel

    exact_kept = cached(exact_kept, StorageLevel.MEMORY_AND_DISK)

    # Near-dup candidates over shingle hashes (same 2-phase shape as
    # dedup_ngram_jaccard), then drop every pair's doc_b.
    hashed = exact_kept.select("doc_id", shingle_hashes(F.col("text")).alias("hsgl"))
    ex = hashed.select("doc_id", F.size("hsgl").alias("n"), F.explode("hsgl").alias("h"))
    # df-cap the candidate index (dedup.MAX_SHINGLE_DF): hot shingles
    # fan out k²/2 join rows; the greedy gate below scores the capped
    # intersection against FULL set sizes, mirrored in the oracle.
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
            F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            >= 0.5
        )
    )
    drop_ids = cand.select(F.col("doc_b").alias("doc_id")).distinct()
    return exact_kept.join(drop_ids, "doc_id", "left_anti").select("doc_id", "lang", "n_tokens")


@register(
    "llm_pack_shards",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_tokens
      FROM toks
    )
    SELECT doc_id, lang, n_tokens,
           CAST(floor((cum_tokens - n_tokens) / 2048) AS BIGINT) AS shard_id,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM packed
    """,
)
def llm_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: assign docs to ~2048-token training
    shards per language.

    DuckDB widens a window SUM over BIGINT to HUGEINT, so the oracle
    casts that edge back to BIGINT.

    shard_id = floor(tokens-before-this-doc / budget) — the standard
    streaming-pack approximation (a doc may straddle a boundary; exact
    bin-packing is NP-hard and needless here).

    De-skewed cumsum: a bare ``PARTITION BY lang`` window funnels a
    whole language through ONE task at 100 TB.  Instead the running
    sum is decomposed over a composite key — (1) cumsum within
    (lang, doc_id div B) buckets of <= B rows, (2) a TINY per-bucket
    totals table (one row per bucket) gets its own per-lang cumsum to
    produce each bucket's starting offset, (3) broadcast-join the
    offsets back.  Token counts are integers, so the decomposition is
    exact — output identical to the single-window spelling the oracle
    uses.
    """
    bucket_rows = 8192  # <= B docs per window partition
    d = load_table(spark, sf_dir, "documents")
    from pyspark.storagelevel import StorageLevel

    # Both the local cumsum and the offsets table fold over the same
    # tokenized rows — persist the (narrow) token counts so the text
    # split runs once, not twice.
    toks = (
        d.select(
            "doc_id", "lang", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens")
        )
        .withColumn("bkt", F.expr(f"doc_id div {bucket_rows}"))
    )
    toks = cached(toks, StorageLevel.MEMORY_AND_DISK)

    w_local = (
        W.partitionBy("lang", "bkt").orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = toks.withColumn("local_cum", F.sum("n_tokens").over(w_local))

    from project_fauna_spark.functions.ranks import bucket_offsets

    offsets = bucket_offsets(toks, ["lang"], "bkt", F.col("n_tokens")).select(
        "lang", "bkt", "offset"
    )

    packed = local.join(F.broadcast(offsets), ["lang", "bkt"]).withColumn(
        "cum_tokens", F.col("local_cum") + F.col("offset")
    )
    return packed.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / 2048).cast("long").alias("shard_id"),
        "cum_tokens",
    )


@register(
    "llm_gap_fill_forward",
    oracle="""
    WITH hours AS (
      SELECT user_id,
             time_bucket(INTERVAL 1 HOUR, ts) AS hour,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(30,8))) AS DOUBLE) AS sum_value
      FROM events WHERE user_id < 30
      GROUP BY user_id, time_bucket(INTERVAL 1 HOUR, ts)
    ),
    spans AS (
      SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM hours GROUP BY user_id
    ),
    grid AS (
      SELECT s.user_id, unnest(generate_series(s.h0, s.h1, INTERVAL 1 HOUR)) AS hour
      FROM spans s
    ),
    joined AS (
      SELECT g.user_id, g.hour, h.n_events, h.sum_value
      FROM grid g LEFT JOIN hours h ON g.user_id = h.user_id AND g.hour = h.hour
    )
    SELECT user_id,
           strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
           COALESCE(n_events, 0) AS n_events,
           last_value(sum_value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_value_ffill
    FROM joined
    """,
)
def llm_gap_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly grid per user with forward-filled values.

    Grid generation via ``sequence()`` per user (no driver loop, no
    cross join with a calendar table); missing hours get count 0 and
    the last observed value (``last(..., ignorenulls)``) — the
    resample + ffill primitive for feature pipelines.
    """
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    hours = (
        e.groupBy("user_id", F.date_trunc("hour", "ts").alias("hour"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,8)")).cast("double").alias("sum_value"),
        )
    )
    spans = hours.groupBy("user_id").agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    grid = spans.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
    )
    joined = grid.join(hours, ["user_id", "hour"], "left")
    w = (
        W.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return joined.select(
        "user_id",
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.last("sum_value", ignorenulls=True).over(w).alias("sum_value_ffill"),
    )


@register(
    "llm_chunk_documents",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang, string_split(text, ' ') AS words
      FROM documents
    ),
    starts AS (
      SELECT doc_id, lang, words, unnest(range(0, len(words), 48)) AS start
      FROM w
    )
    SELECT doc_id, lang,
           CAST(start / 48 AS BIGINT) AS chunk_id,
           CAST(least(64, len(words) - start) AS INT) AS chunk_tokens,
           array_to_string(words[start + 1 : start + 64], ' ') AS chunk_text
    FROM starts
    """,
)
def llm_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping training-window chunking: 64-token windows, stride
    48 (16-token overlap) — the pretokenization chunker for context-
    window packing and RAG indexing.

    ``sequence()`` generates the start offsets per row and one
    ``posexplode`` fans out chunks — no self-join, no Python, output
    rows ≈ tokens/stride.  At 100 TB the fan-out multiplies rows
    ~1.33× before the heavy (tokenizer) stage, which is exactly when
    you want the parallelism.
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    w = d.select("doc_id", "lang", words.alias("words"))
    starts = w.select(
        "doc_id",
        "lang",
        "words",
        F.explode(F.sequence(F.lit(0), F.size("words") - 1, F.lit(48))).alias("start"),
    )
    return starts.select(
        "doc_id",
        "lang",
        F.expr("start div 48").alias("chunk_id"),
        F.least(F.lit(64), F.size("words") - F.col("start")).cast("int").alias("chunk_tokens"),
        F.array_join(F.slice("words", F.col("start") + 1, F.lit(64)), " ").alias("chunk_text"),
    )


@register(
    "llm_train_val_split",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, lang, substring(md5(text), 1, 2) AS hk
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN hk < 'cc' THEN 'train'
                WHEN hk < 'e6' THEN 'val'
                ELSE 'test' END AS split
    FROM keyed
    """,
)
def llm_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/val/test split (~80/10/10).

    Split key = first md5 hex byte of the text, thresholded
    lexicographically ('cc' = 204/256 ≈ 80%, 'e6' = 230/256 ≈ 90%) —
    identical lowercase-hex md5 in both engines makes the assignment
    portable and STABLE: re-ingesting the same document always lands
    in the same split (the property row-number sampling lacks), and
    exact duplicates land together, preventing train/test leakage
    through copies.  Pure expression — no shuffle at all.
    """
    d = load_table(spark, sf_dir, "documents")
    hk = F.substring(F.md5(F.encode(F.col("text"), "UTF-8")), 1, 2)
    return d.select(
        "doc_id",
        "lang",
        F.when(hk < "cc", F.lit("train"))
        .when(hk < "e6", F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


@register(
    "llm_decontaminate",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(ws[i:i+2], ' ')
                            for i in range(1, len(ws) - 1)]) AS sgl
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    ),
    ex AS (SELECT doc_id, unnest(sgl) AS g FROM sh),
    ev AS (SELECT doc_id AS eval_id, g FROM ex WHERE doc_id % 10 = 0),
    tr AS (SELECT doc_id AS train_id, g FROM ex WHERE doc_id % 10 <> 0),
    hits AS (
      SELECT ev.eval_id, tr.train_id, COUNT(*) AS n_shared
      FROM ev JOIN tr ON ev.g = tr.g
      GROUP BY ev.eval_id, tr.train_id
      HAVING COUNT(*) >= 5
    )
    SELECT eval_id, COUNT(*) AS n_contaminating_docs,
           CAST(MAX(n_shared) AS BIGINT) AS max_shared_shingles
    FROM hits GROUP BY eval_id
    """,
)
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: eval docs (doc_id % 10 == 0) that
    share ≥ 5 distinct 3-gram shingles with any training doc.

    The canonical pre-training hygiene pass (n-gram overlap against
    held-out benchmarks), shaped like the dedup candidate stage: one
    inverted shingle index, eval×train equi-join ON THE GRAM, pair
    aggregation with the overlap threshold — never eval×train
    all-pairs.  At 100 TB the eval side is tiny (benchmarks), so the
    gram join broadcasts the eval index.
    """
    d = load_table(spark, sf_dir, "documents")
    # The eval/train split is pushed BELOW the explode: the two sides
    # partition the corpus (10% / 90% by doc_id), so streaming each
    # side's own shingle build does the same 1× total shingle work the
    # r12 shared-explode spelling did — without that spelling's
    # corpus-sized cached() pin (at 100 TB a larger-than-corpus
    # MEMORY_AND_DISK materialization; VERDICT r12 item 3).  The
    # broadcast eval index materializes once inside the broadcast
    # exchange itself, so neither side needs a pin.
    ev = d.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("eval_id"), F.explode(shingles(F.col("text"))).alias("g")
    )
    tr = d.filter(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("train_id"), F.explode(shingles(F.col("text"))).alias("g")
    )
    hits = (
        tr.join(F.broadcast(ev), "g")
        .groupBy("eval_id", "train_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 5)
    )
    return hits.groupBy("eval_id").agg(
        F.count("*").alias("n_contaminating_docs"),
        F.max("n_shared").alias("max_shared_shingles"),
    )


@register(
    "llm_e2e_dataset_build",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text, lang,
             len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_words,
             n_chars
      FROM documents
    ),
    gated AS (
      SELECT * FROM base WHERE n_chars >= 100 AND n_words >= 20
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM gated
      ) WHERE rn = 1
    ),
    eval_docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0),
    eval_grams AS (
      SELECT DISTINCT array_to_string(ws[i:i+{_GRAM_K - 1}], ' ') AS gram
      FROM (SELECT string_split(text, ' ') AS ws FROM eval_docs),
           unnest(range(1, len(ws) - {_GRAM_K - 2})) AS t(i)
    ),
    contaminated AS (
      SELECT DISTINCT d.doc_id
      FROM (
        SELECT doc_id, array_to_string(ws[i:i+{_GRAM_K - 1}], ' ') AS gram
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM deduped),
             unnest(range(1, len(ws) - {_GRAM_K - 2})) AS t(i)
      ) d JOIN eval_grams g ON d.gram = g.gram
      WHERE d.doc_id % 97 <> 0
    ),
    clean AS (
      SELECT * FROM deduped
      WHERE doc_id % 97 <> 0
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    t AS (SELECT CAST(SUM(n_words) AS BIGINT) AS total_tokens FROM clean)
    SELECT c.lang,
           COUNT(*) AS n_docs,
           CAST(SUM(c.n_words) AS BIGINT) AS n_tokens,
           CAST(SUM(c.n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(c.n_words) AS DOUBLE) / t.total_tokens AS token_share
    FROM clean c CROSS JOIN t
    GROUP BY c.lang, t.total_tokens
    """,
)
def llm_e2e_dataset_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composed curation pipeline, ONE lazy plan: quality gate
    (length + token-count thresholds) → exact dedup (first doc per
    verbatim text) → eval-set decontamination (drop any training doc
    sharing an 8-token gram with the held-out eval slice, and the eval
    slice itself) → per-language dataset manifest with token shares —
    the minimal end-to-end shape of a real pretraining-data build.

    Every stage is the scale shape proven by its standalone operator:
    the gate is a pushed filter, dedup is a WindowGroupLimit on the
    text key, decontamination broadcasts the eval-gram set into an
    anti-join (eval sets are small by construction), and the manifest
    is a keyspace-sized aggregate.  Catalyst pipelines all four into
    one job; nothing materializes between stages.
    """
    d = load_table(spark, sf_dir, "documents")
    base = d.withColumn(
        "n_words",
        F.size(F.filter(F.split("text", " "), lambda w: w != F.lit(""))),
    )
    gated = base.filter((F.col("n_chars") >= 100) & (F.col("n_words") >= 20))
    w = W.partitionBy("text").orderBy("doc_id")
    deduped = (
        gated.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")
    )
    eval_docs = d.filter(F.col("doc_id") % 97 == 0)
    eval_grams = (
        eval_docs.select(F.explode(_token_grams(F.col("text"))).alias("gram"))
        .distinct()
    )
    train = deduped.filter(F.col("doc_id") % 97 != 0)
    train_grams = train.select(
        "doc_id", F.explode(_token_grams(F.col("text"))).alias("gram")
    )
    contaminated = (
        train_grams.join(F.broadcast(eval_grams), "gram").select("doc_id").distinct()
    )
    clean = train.join(contaminated, "doc_id", "left_anti")
    # r12: corpus token total from the per-language manifest itself,
    # not a second full pass over `clean` — the unpinned two-consumer
    # spelling ran the whole gate→dedup→decontaminate pipeline TWICE
    # (once for the scalar total, once for the manifest).  Σ per-lang
    # sum(n_words) == sum(n_words) over clean exactly (int64), so
    # token_share divides the identical values (the llm_ccnet_buckets
    # totals-from-the-aggregate identity).  The manifest is pinned
    # (|langs| rows) because the total now derives from it.
    manifest = cached(
        clean.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_tokens"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )
    t = manifest.agg(F.sum("n_tokens").alias("total_tokens"))
    return manifest.crossJoin(F.broadcast(t)).select(
        "lang",
        "n_docs",
        "n_tokens",
        "total_chars",
        (F.col("n_tokens").cast("double") / F.col("total_tokens")).alias(
            "token_share"
        ),
    )


@register(
    "llm_packing_efficiency",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT doc_id, lang, n_tokens,
             CAST(floor((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         - n_tokens) / 2048) AS BIGINT) AS shard_id
      FROM toks
    ),
    shards AS (
      SELECT lang, shard_id,
             COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS tokens_used
      FROM packed GROUP BY lang, shard_id
    )
    SELECT lang, shard_id, n_docs, tokens_used,
           CAST(tokens_used AS DOUBLE) / 2048 AS fill_ratio,
           shard_id = MAX(shard_id) OVER (PARTITION BY lang) AS is_final_shard
    FROM shards
    """,
)
def llm_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-packing audit: per (lang, shard) document count, token
    fill, fill ratio against the 2048 budget, and final-shard flag —
    the utilization report that tells you whether greedy packing is
    wasting training tokens.

    Reuses ``llm_pack_shards``'s de-skewed decomposed cumsum (no
    whole-language single-task window), then one keyspace-sized
    aggregate; the final-shard flag is a window over the tiny shard
    table.  fill_ratio is one double division of exact integers.
    """
    pack = llm_pack_shards(spark, sf_dir)
    shards = pack.groupBy("lang", "shard_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens_used"),
    )
    return shards.select(
        "lang",
        "shard_id",
        "n_docs",
        "tokens_used",
        (F.col("tokens_used").cast("double") / 2048).alias("fill_ratio"),
        (F.col("shard_id") == F.max("shard_id").over(W.partitionBy("lang"))).alias(
            "is_final_shard"
        ),
    )


@register(
    "llm_contamination_overlap",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    evalg AS (
      SELECT DISTINCT g FROM (SELECT doc_id, unnest(sgl) AS g FROM sh)
      WHERE doc_id % 97 = 0
    ),
    train AS (SELECT doc_id, sgl FROM sh WHERE doc_id % 97 <> 0),
    hits AS (
      SELECT t.doc_id, COUNT(*) AS n_overlap
      FROM (SELECT doc_id, unnest(sgl) AS g FROM train) t
      JOIN evalg USING (g)
      GROUP BY t.doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.sgl) AS BIGINT) AS n_grams,
           CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / len(t.sgl) AS overlap_frac
    FROM train t LEFT JOIN hits h ON h.doc_id = t.doc_id
    WHERE len(t.sgl) > 0
    """,
)
def llm_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded eval-set contamination: for every training document, the
    fraction of its distinct word 3-grams that appear anywhere in the
    held-out eval slice (doc_id ≡ 0 mod 97) — the dial behind the
    binary ``llm_decontaminate`` gate (report, threshold, or weight
    instead of drop).

    Eval-side grams are corpus-fraction-tiny (the eval set is fixed
    while the corpus grows) → broadcast hash join against the exploded
    training grams; the per-doc overlap count is map-combinable.  The
    score is one double division of two exact integers.
    """
    # The shingled frame feeds THREE branches (eval grams, the exploded
    # train side, the per-doc sizes) — recompute costs 3 scans + 3
    # shingle passes; persisting is a measured 6× win at sf0.1
    # (2.0 s → 0.3 s, A/B'd 2026-08-14).
    d = cached(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", shingles(F.col("text")).alias("sgl")
        )
    )
    is_eval = F.col("doc_id") % 97 == 0
    evalg = (
        d.filter(is_eval)
        .select(F.explode("sgl").alias("g"))
        .distinct()
    )
    train = d.filter(~is_eval).select("doc_id", "sgl", F.size("sgl").alias("n_grams"))
    hits = (
        train.select("doc_id", F.explode("sgl").alias("g"))
        .join(F.broadcast(evalg), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        train.filter(F.col("n_grams") > 0)
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias("n_overlap"),
            (
                F.coalesce(F.col("n_overlap"), F.lit(0)).cast("double") / F.col("n_grams")
            ).alias("overlap_frac"),
        )
    )


_SEQ_BUCKETS = [0, 64, 128, 256, 512, 1024]  # left edges; last is open-ended


def _bucket_case_sql() -> str:
    parts = []
    for i, lo in enumerate(_SEQ_BUCKETS):
        hi = _SEQ_BUCKETS[i + 1] if i + 1 < len(_SEQ_BUCKETS) else None
        cond = f"n_tokens < {hi}" if hi is not None else "TRUE"
        label = f"[{lo},{hi})" if hi is not None else f"[{lo},inf)"
        parts.append(f"WHEN {cond} THEN {i}")
        parts.append(f"-- {label}")
    return "CASE " + " ".join(p for p in parts if not p.startswith("--")) + " END"


@register(
    "llm_seq_len_histogram",
    oracle=f"""
    WITH toks AS (
      SELECT lang, len(string_split(text, ' ')) AS n_tokens FROM documents
    ),
    b AS (
      SELECT lang, {_bucket_case_sql()} AS bucket_ord, COUNT(*) AS n_docs
      FROM toks GROUP BY 1, 2
    ),
    t AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS total FROM b GROUP BY lang)
    SELECT b.lang, CAST(b.bucket_ord AS INT) AS bucket_ord,
           CAST(b.n_docs AS BIGINT) AS n_docs,
           CAST(CAST(SUM(b.n_docs) OVER (PARTITION BY b.lang ORDER BY b.bucket_ord
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS DOUBLE)
             / t.total AS cum_share
    FROM b JOIN t ON t.lang = b.lang
    """,
)
def llm_seq_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length histogram per language: power-of-two token-count
    buckets with cumulative share — the audit behind choosing a training
    context length (what fraction of the corpus fits in 256 tokens?).

    Bucketing is an explicit CASE ladder (NOT floor(log2(n)) — libm at
    exact powers of two is the one place engines may disagree on the
    floor edge); one map-combined aggregate to |langs|·|buckets| rows,
    then a keyspace-sized window for the cumulative share — one double
    division per row of two exact integers.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("lang", F.size(F.split(F.col("text"), " ")).alias("n_tokens"))
    bucket = F.lit(len(_SEQ_BUCKETS) - 1)
    for i in range(len(_SEQ_BUCKETS) - 2, -1, -1):
        bucket = F.when(
            F.col("n_tokens") < _SEQ_BUCKETS[i + 1], F.lit(i)
        ).otherwise(bucket)
    b = toks.groupBy("lang", bucket.cast("int").alias("bucket_ord")).agg(
        F.count("*").alias("n_docs")
    )
    t = b.groupBy(F.col("lang").alias("t_lang")).agg(
        F.sum("n_docs").cast("long").alias("total")
    )
    w = (
        W.partitionBy("lang")
        .orderBy("bucket_ord")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        b.join(F.broadcast(t), b.lang == F.col("t_lang"))
        .select(
            "lang",
            "bucket_ord",
            F.col("n_docs").cast("long").alias("n_docs"),
            (
                F.sum("n_docs").over(w).cast("long").cast("double") / F.col("total")
            ).alias("cum_share"),
        )
    )


# --------------------------------------------------------------------------
# llm_curriculum_schedule — quality-ordered token-budget epochs per lang
# --------------------------------------------------------------------------

_CURRICULUM_BUDGET = 4096  # tokens per curriculum epoch
_CURRICULUM_BAND = 100  # n_chars band width for the two-phase cumsum


@register(
    "llm_curriculum_schedule",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, n_chars,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ),
    cum AS (
      SELECT lang, n_chars, n_tok,
             SUM(n_tok) OVER (PARTITION BY lang
                              ORDER BY n_chars DESC, doc_id) AS cum_tok
      FROM tok
    )
    SELECT lang,
           CAST((cum_tok - n_tok) // {_CURRICULUM_BUDGET} AS BIGINT) AS epoch,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM cum
    GROUP BY lang, (cum_tok - n_tok) // {_CURRICULUM_BUDGET}
    """,
)
def llm_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum scheduler: per language, documents ordered
    quality-descending (n_chars as the proxy, doc_id tie-break) are
    packed into fixed 4096-token epochs by a running token cumsum —
    the data-loader plan for quality-curriculum training (highest
    quality first, every epoch a fixed token budget).

    The per-language cumsum is two-phase, never a single-partition
    window: quality bands (n_chars div 100) cumsum locally, band
    totals cumulate in a tiny broadcast offset table (dozens of rows),
    and a doc's epoch is its global starting offset div budget.
    Integer math end-to-end.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    # band index ascends as quality descends, so (band ASC, n_chars
    # DESC, doc_id ASC) is the curriculum order with banded prefixes
    d = d.withColumn(
        "band", (-F.floor(F.col("n_chars") / _CURRICULUM_BAND)).cast("long")
    )
    d = cached(d)
    w_local = W.partitionBy("lang", "band").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    local = d.withColumn(
        "local_cum",
        F.sum("n_tok").over(w_local.rowsBetween(W.unboundedPreceding, 0)),
    )
    band_tot = d.groupBy("lang", "band").agg(F.sum("n_tok").alias("bt"))
    w_off = W.partitionBy("lang").orderBy("band").rowsBetween(
        W.unboundedPreceding, -1
    )
    offsets = band_tot.select(
        "lang", "band", F.coalesce(F.sum("bt").over(w_off), F.lit(0)).alias("offset")
    )
    cum = local.join(F.broadcast(offsets), ["lang", "band"]).withColumn(
        "start_tok", F.col("offset") + F.col("local_cum") - F.col("n_tok")
    )
    return (
        cum.withColumn(
            "epoch", F.floor(F.col("start_tok") / _CURRICULUM_BUDGET).cast("long")
        )
        .groupBy("lang", "epoch")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
    )


# --------------------------------------------------------------------------
# llm_preference_pairs — per-source chosen/rejected pair mining (DPO prep)
# --------------------------------------------------------------------------


@register(
    "llm_preference_pairs",
    oracle="""
    WITH scored AS (
      SELECT source, doc_id,
             len(list_distinct(string_split(text, ' '))) AS score
      FROM documents
    ),
    ranked AS (
      SELECT source, doc_id, score,
             row_number() OVER (PARTITION BY source
                                ORDER BY score DESC, doc_id) AS rn_best,
             row_number() OVER (PARTITION BY source
                                ORDER BY score ASC, doc_id) AS rn_worst,
             COUNT(*) OVER (PARTITION BY source) AS n_docs
      FROM scored
    )
    SELECT b.source,
           b.doc_id AS chosen_doc_id,
           CAST(b.score AS BIGINT) AS chosen_score,
           w.doc_id AS rejected_doc_id,
           CAST(w.score AS BIGINT) AS rejected_score,
           CAST(b.score - w.score AS BIGINT) AS score_gap
    FROM (SELECT * FROM ranked WHERE rn_best = 1 AND n_docs >= 2) b
    JOIN (SELECT * FROM ranked WHERE rn_worst = 1) w USING (source)
    """,
)
def llm_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair mining for DPO/RLHF data prep: within each
    source, pair the highest-scoring document (chosen) with the
    lowest-scoring one (rejected), score = distinct-word count (an
    exact integer lexical-diversity proxy; swap in a reward model at
    production scale — the pairing plan is identical).

    Two row_number windows per source with deterministic (score,
    doc_id) tie-breaks; single-doc sources are excluded (no pair).
    Groups are source-sized — the groupBy shape, never a global
    window; integer math end-to-end.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(F.array_distinct(F.split(F.col("text"), " "))).cast("long").alias(
            "score"
        ),
    )
    d = cached(d)
    w_best = W.partitionBy("source").orderBy(F.col("score").desc(), "doc_id")
    w_worst = W.partitionBy("source").orderBy(F.col("score").asc(), "doc_id")
    ranked = (
        d.withColumn("rn_best", F.row_number().over(w_best))
        .withColumn("rn_worst", F.row_number().over(w_worst))
        .withColumn("n_docs", F.count("*").over(W.partitionBy("source")))
    )
    best = ranked.filter((F.col("rn_best") == 1) & (F.col("n_docs") >= 2)).select(
        "source",
        F.col("doc_id").alias("chosen_doc_id"),
        F.col("score").alias("chosen_score"),
    )
    worst = ranked.filter(F.col("rn_worst") == 1).select(
        "source",
        F.col("doc_id").alias("rejected_doc_id"),
        F.col("score").alias("rejected_score"),
    )
    return best.join(worst, "source").select(
        "source",
        "chosen_doc_id",
        "chosen_score",
        "rejected_doc_id",
        "rejected_score",
        (F.col("chosen_score") - F.col("rejected_score")).alias("score_gap"),
    )


# --------------------------------------------------------------------------
# llm_microbatch_padding — length-bucketed inference microbatches
# --------------------------------------------------------------------------

_MB_BUCKET_TOKENS = 64  # length-bucket width
_MB_BATCH = 32  # docs per microbatch
_MB_SUB_ROWS = 4096  # de-skew sub-bucket width (doc_id div)


@register(
    "llm_microbatch_padding",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ),
    r AS (
      SELECT doc_id, n_tokens, n_tokens // {_MB_BUCKET_TOKENS} AS len_bucket,
             row_number() OVER (PARTITION BY n_tokens // {_MB_BUCKET_TOKENS}
                                ORDER BY doc_id) AS rn
      FROM t
    )
    SELECT len_bucket,
           (rn - 1) // {_MB_BATCH} AS microbatch,
           COUNT(*) AS n_docs,
           CAST(MAX(n_tokens) AS BIGINT) AS max_len,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_len,
           CAST(COUNT(*) * MAX(n_tokens) AS BIGINT) AS padded_tokens,
           CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS DOUBLE)
             / (COUNT(*) * MAX(n_tokens)) AS pad_waste_frac
    FROM r GROUP BY len_bucket, (rn - 1) // {_MB_BATCH}
    """,
)
def llm_microbatch_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inference-side microbatching: bucket documents by length (64-token
    buckets), fill fixed-size microbatches of 32 in doc_id order, and
    audit the padding waste each batch pays to its longest member —
    the serving twin of ``llm_packing_efficiency`` (training packing).

    The per-bucket sequence number never uses a bare
    ``PARTITION BY len_bucket`` window (one task per bucket at 100 TB —
    most docs share a few buckets): local rank within
    (bucket, doc_id div 4096) sub-buckets + a tiny broadcast offset
    table, the ``llm_pack_shards`` two-phase decomposition.  Ranks are
    exact integers, so the result equals the oracle's single-window
    spelling bit-for-bit.  All compared columns are integer counts; the
    waste fraction is one double division (padded ≥ 1 always — every
    batch has ≥1 doc with ≥1 token slot; max(n_tokens) ≥ 1 because a
    split of any string yields ≥1 element).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens")
    ).withColumn(
        "len_bucket", F.expr(f"n_tokens div {_MB_BUCKET_TOKENS}")
    ).withColumn(
        "sub", F.expr(f"doc_id div {_MB_SUB_ROWS}")
    )
    toks = cached(toks)
    from project_fauna_spark.functions.ranks import bucket_offsets

    w_local = W.partitionBy("len_bucket", "sub").orderBy("doc_id")
    local = toks.withColumn("local_rn", F.row_number().over(w_local))
    offsets = bucket_offsets(toks, ["len_bucket"], "sub", F.lit(1)).select(
        "len_bucket", "sub", "offset"
    )
    ranked = local.join(F.broadcast(offsets), ["len_bucket", "sub"]).withColumn(
        "rn", F.col("offset") + F.col("local_rn")
    )
    grouped = ranked.withColumn(
        "microbatch", F.expr(f"(rn - 1) div {_MB_BATCH}")
    ).groupBy("len_bucket", "microbatch").agg(
        F.count("*").alias("n_docs"),
        F.max("n_tokens").cast("long").alias("max_len"),
        F.sum("n_tokens").cast("long").alias("sum_len"),
    )
    padded = F.col("n_docs") * F.col("max_len")
    return grouped.select(
        "len_bucket",
        "microbatch",
        "n_docs",
        "max_len",
        "sum_len",
        padded.cast("long").alias("padded_tokens"),
        ((padded - F.col("sum_len")).cast("double") / padded).alias(
            "pad_waste_frac"
        ),
    )


# --------------------------------------------------------------------------
# llm_span_corruption_plan — T5/UL2 denoising-objective accounting
# --------------------------------------------------------------------------


@register(
    "llm_span_corruption_plan",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    p AS (
      SELECT doc_id, lang, n_tokens,
             (n_tokens * 15) // 100 AS n_corrupt
      FROM t
    )
    SELECT doc_id, lang,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_corrupt AS BIGINT) AS n_corrupt,
           CAST(CASE WHEN n_corrupt > 0 THEN (n_corrupt + 2) // 3
                     ELSE 0 END AS BIGINT) AS n_spans,
           CAST(n_tokens - n_corrupt
                + CASE WHEN n_corrupt > 0 THEN (n_corrupt + 2) // 3 ELSE 0 END
                AS BIGINT) AS input_len,
           CAST(CASE WHEN n_corrupt > 0
                     THEN n_corrupt + (n_corrupt + 2) // 3 + 1
                     ELSE 0 END AS BIGINT) AS target_len
    FROM p
    """,
)
def llm_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption planning: per document, the corruption
    budget (15% of tokens), the span count (mean span length 3 →
    ⌈budget/3⌉ sentinels), and the resulting encoder/decoder sequence
    lengths (inputs keep uncorrupted tokens + one sentinel per span;
    targets carry corrupted tokens + sentinels + EOS).

    Pure integer arithmetic end-to-end — ``(n*15) div 100`` instead of
    ``floor(0.15*n)`` so neither engine evaluates an inexact binary
    fraction; a narrow map with no shuffle at all (the aggregate view
    is a follow-on groupBy for whoever needs corpus totals).  This is
    the sizing pass a denoising-objective data pipeline runs before
    packing (``llm_pack_shards`` consumes input_len downstream).
    """
    d = load_table(spark, sf_dir, "documents")
    n = F.size(F.split(F.col("text"), " ")).cast("long")
    plan = d.select("doc_id", "lang", n.alias("n_tokens")).withColumn(
        "n_corrupt", F.expr("(n_tokens * 15) div 100")
    )
    n_spans = F.when(
        F.col("n_corrupt") > 0, F.expr("(n_corrupt + 2) div 3")
    ).otherwise(F.lit(0).cast("long"))
    return plan.select(
        "doc_id",
        "lang",
        "n_tokens",
        "n_corrupt",
        n_spans.alias("n_spans"),
        (F.col("n_tokens") - F.col("n_corrupt") + n_spans).alias("input_len"),
        F.when(
            F.col("n_corrupt") > 0,
            F.col("n_corrupt") + n_spans + F.lit(1),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("target_len"),
    )


# --------------------------------------------------------------------------
# llm_fim_split_plan — prefix / middle / suffix for infilling training
# --------------------------------------------------------------------------


def _fim_oracle() -> str:
    from project_fauna_spark.operators._oracle_shared import sql_h32 as _sql_h32

    ha = _sql_h32("CAST(doc_id AS VARCHAR)", "fim_a:")
    hb = _sql_h32("CAST(doc_id AS VARCHAR)", "fim_b:")
    return f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS ws,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    c AS (
      SELECT doc_id, ws, n,
             LEAST({ha} % (n + 1), {hb} % (n + 1)) AS lo,
             GREATEST({ha} % (n + 1), {hb} % (n + 1)) AS hi
      FROM t
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(lo AS BIGINT) AS prefix_len,
           CAST(hi - lo AS BIGINT) AS middle_len,
           CAST(n - hi AS BIGINT) AS suffix_len,
           CAST(n + 3 AS BIGINT) AS psm_len,
           CAST(hi - lo AS DOUBLE) / n AS middle_frac,
           md5(COALESCE(array_to_string(ws[lo + 1 : hi], ' '), ''))
             AS middle_digest
    FROM c
    """


@register("llm_fim_split_plan", oracle_builder=_fim_oracle)
def llm_fim_split_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle (FIM/PSM) training-split plan: two
    hash-derived cut points per document define prefix / middle /
    suffix spans, and the record is re-serialized as
    ``[PRE] prefix [SUF] suffix [MID] middle`` (psm_len = n + 3
    sentinels) — the infilling transform code models train with,
    planned deterministically so every epoch and every engine cuts
    the SAME middles (``llm_span_corruption_plan`` is the T5-style
    multi-span sibling; FIM is the single-span, order-rotated one).

    Cut points come from the portable 32-bit md5 fold mod (n+1) —
    reproducible, data-independent of content drift in OTHER rows;
    the middle's md5 digest rides along so a downstream consumer can
    verify the slice byte-for-byte.  All expression-level; no
    shuffle at all.
    """
    from project_fauna_spark.functions.wordhash import h32 as _h32

    d = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    n = F.size(ws)
    ha = _h32(F.col("doc_id").cast("string"), "fim_a:") % (n + 1)
    hb = _h32(F.col("doc_id").cast("string"), "fim_b:") % (n + 1)
    lo, hi = F.least(ha, hb), F.greatest(ha, hb)
    c = d.select(
        "doc_id",
        ws.alias("ws"),
        n.alias("n"),
        lo.alias("lo"),
        hi.alias("hi"),
    )
    middle = F.array_join(
        F.slice(F.col("ws"), F.col("lo") + 1, F.col("hi") - F.col("lo")), " "
    )
    return c.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("lo").cast("long").alias("prefix_len"),
        (F.col("hi") - F.col("lo")).cast("long").alias("middle_len"),
        (F.col("n") - F.col("hi")).cast("long").alias("suffix_len"),
        (F.col("n") + 3).cast("long").alias("psm_len"),
        ((F.col("hi") - F.col("lo")).cast("double") / F.col("n")).alias(
            "middle_frac"
        ),
        F.md5(F.encode(middle, "UTF-8")).alias("middle_digest"),
    )
