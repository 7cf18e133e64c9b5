"""End-to-end corpus curation: the composed flagship of the training-data
operators (north-star extension; SURVEY §7).

One query chains the stages a real 100 TB pre-training pipeline runs —

    quality gate → exact dedup → near-dup removal → token accounting

— as a single declarative DataFrame plan, so Catalyst sees the whole
pipeline at once: the quality filter pushes into the scan feeding the exact-
dedup hash, the near-dup drop list (LSH candidate pairs, tiny by
construction) broadcasts into an anti-join, and the final accounting is one
partial-aggregated shuffle on (source, lang). Nothing materializes between
stages; at 100 TB each stage would checkpoint to parquet but keep the same
per-stage plan shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_explorer_spark.operators.dedup import (
    _cc_closure_sql,
    _LSH_CANDIDATES_SQL,
    shared_artifact,
    shared_lsh_candidates,
)
from iceberg_explorer_spark.operators.registry import query
from iceberg_explorer_spark.operators.text import _tokens
from iceberg_explorer_spark.sources.registry import (
    load_table,
    repartition_for_compute,
)

#: quality gate: minimum whitespace words per document
MIN_WORDS = 20


@query(
    "pipeline_clean_corpus",
    oracle=f"""
    WITH near_dups AS (
      SELECT DISTINCT doc_b AS doc_id FROM ({_LSH_CANDIDATES_SQL})
    ),
    quality AS (
      SELECT doc_id, text, lang, source,
             LEN(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_words
      FROM documents
      WHERE LENGTH(text) > 0
        AND LEN(regexp_split_to_array(lower(trim(text)), '\\s+')) >= {MIN_WORDS}
    ),
    exact_canon AS (
      SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY md5(text)
    ),
    kept AS (
      SELECT q.* FROM quality q
      JOIN exact_canon c ON q.doc_id = c.doc_id
      WHERE q.doc_id NOT IN (SELECT doc_id FROM near_dups)
    )
    SELECT source, lang,
           COUNT(*) AS n_docs_kept,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT)) AS BIGINT)
             AS est_bpe_tokens
    FROM kept
    GROUP BY source, lang
    """,
    doc="Composed curation pipeline: word-count quality gate → exact dedup "
    "(keep min doc_id per content digest) → near-dup removal (anti-join "
    "against the broadcast LSH candidate drop list) → per-(source, lang) "
    "token accounting. The whole pipeline is ONE Catalyst plan: the quality "
    "predicate pushes below the digest computation, only (digest, id) pairs "
    "shuffle for dedup, the drop list broadcasts, and accounting is one "
    "partial-aggregated shuffle.",
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    quality = (
        docs.filter(F.length("text") > 0)
        .withColumn("n_words", F.size(_tokens()))
        .filter(F.col("n_words") >= MIN_WORDS)
    )
    # exact dedup: survivors are the min doc_id per digest; only the
    # (digest, id) projection shuffles, never the text
    canon = (
        quality.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # near-dup drop list: every doc_b of an LSH candidate pair, read from
    # the session-shared candidate checkpoint (materialized once for the
    # whole dedup family). Σ bucket-collisions is small relative to the
    # corpus but GROWS with it, so the anti-join carries no compile-time
    # broadcast hint — AQE broadcasts it from measured size at test scale
    # and falls back to a shuffled join past the 8 GB broadcast limit.
    near_dups = (
        shared_lsh_candidates(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    kept = (
        quality.join(canon, "doc_id", "left_semi")
        .join(near_dups, "doc_id", "left_anti")
    )
    return kept.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.sum(F.ceil(F.length("text") / 4.0).cast("bigint"))
        .cast("bigint")
        .alias("est_bpe_tokens"),
    )


@query(
    "pipeline_stratified_sample",
    oracle="""
    WITH q AS (
      -- integral-suffix gate, same contract as the JSON ops: a fractional
      -- suffix ('src5.9') must fall back to the base quota on BOTH engines
      -- (Spark CAST truncates 5.9->5 where DuckDB TRY_CAST rounds to 6),
      -- and TRY_CAST still guards int32 overflow of a gated integral.
      SELECT source,
             doc_id,
             20 + (COALESCE(CASE WHEN regexp_matches(substr(source, 4),
                                                     '^-?[0-9]+$')
                                 THEN TRY_CAST(substr(source, 4) AS INTEGER)
                            END, 0) % 8) * 10 AS target_pct
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_total,
           COUNT(*) FILTER (
             WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % 100 < target_pct
           ) AS n_sampled,
           CAST(target_pct AS INTEGER) AS target_pct
    FROM q
    GROUP BY source, target_pct
    """,
    doc="Deterministic stratified sampling: per-source quota (derived here "
    "from the source id; a config map in production) applied by hashing the "
    "ROW KEY — reproducible across runs, engines, and cluster sizes, unlike "
    "TABLESAMPLE/rand() which change under repartitioning. Pure map-side "
    "predicate + one partial-aggregated shuffle; at 100 TB the sample "
    "decision never moves data, only the accounting does.",
)
def pipeline_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % 100"
    )
    # Integral-suffix gate + COALESCE(try-cast, 0): a source without an
    # INTEGRAL numeric suffix (the demo quota derivation) gets the base
    # 20% quota on BOTH engines. The rlike gate is load-bearing for
    # fractional suffixes ('src5.9'): Spark CAST('5.9' AS INT) truncates
    # to 5 while DuckDB TRY_CAST rounds to 6 — gated, both fall back to
    # the base quota. TRY_CAST-equivalent NULL still covers int32
    # overflow of a gated integral. substr(source, 4) with NO length
    # cap, exactly like the oracle: a capped substring would silently
    # read a PREFIX of a long numeric suffix (fitting int32 where the
    # full suffix overflows to NULL→0) and derive a different quota
    # than the oracle.
    suffix = F.expr("substr(source, 4)")
    target = (
        F.lit(20)
        + (
            F.coalesce(
                F.when(suffix.rlike("^-?[0-9]+$"), suffix.cast("int")),
                F.lit(0),
            )
            % 8
        )
        * F.lit(10)
    )
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(bucket < target, 1)).alias("n_sampled"),
        F.first(target).cast("int").alias("target_pct"),
    )


#: Domain-mix target: sample every source down toward 0.4 × the mean
#: per-source count (production: a per-domain token-budget config). The
#: keep decision hashes the row key against a 1/10000 rate grid.
MIX_FRACTION = 0.4
MIX_GRID = 10_000


@query(
    "pipeline_domain_mix",
    oracle=f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_total FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(CEIL({MIX_FRACTION} * SUM(n_total) / COUNT(*)) AS BIGINT)
        AS target_n
      FROM counts
    ),
    rates AS (
      SELECT source, n_total,
             CAST(FLOOR(LEAST(1.0, target_n * 1.0 / n_total) * {MIX_GRID})
                  AS BIGINT) AS thr
      FROM counts, tot
    )
    SELECT d.source,
           r.n_total,
           COUNT(*) FILTER (
             WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
                   % {MIX_GRID} < r.thr
           ) AS n_kept,
           r.thr * 1.0 / {MIX_GRID} AS target_rate
    FROM documents d JOIN rates r ON d.source = r.source
    GROUP BY d.source, r.n_total, r.thr
    """,
    doc="Domain-mixture rebalancing: per-source keep rates are COMPUTED from "
    "the data (rate = target/count, capped at 1) to pull every domain toward "
    "a target mixture, then applied as a deterministic row-key-hash "
    "predicate. Two-phase plan: per-source counts (one tiny aggregation) "
    "broadcast back onto the corpus as a map-side join + filterless "
    "conditional count — the full corpus is scanned once and never "
    "shuffled; the rate table is O(#domains). Differs from "
    "pipeline_stratified_sample, whose quotas are config constants: here "
    "the rates react to the observed distribution, the shape used to "
    "rebalance a crawl dump against a domain budget.",
)
def pipeline_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    target = counts.agg(
        F.ceil(MIX_FRACTION * F.sum("n_total") / F.count(F.lit(1)))
        .cast("bigint")
        .alias("target_n")
    )
    rates = counts.crossJoin(F.broadcast(target)).select(
        "source",
        "n_total",
        F.floor(
            F.least(F.lit(1.0), F.col("target_n") * 1.0 / F.col("n_total"))
            * MIX_GRID
        )
        .cast("bigint")
        .alias("thr"),
    )
    bucket = F.expr(
        f"CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"
        f" % {MIX_GRID}"
    )
    return (
        docs.join(F.broadcast(rates), "source")
        .groupBy("source", "n_total", "thr")
        .agg(F.count(F.when(bucket < F.col("thr"), 1)).alias("n_kept"))
        .select(
            "source",
            "n_total",
            "n_kept",
            (F.col("thr") * 1.0 / MIX_GRID).alias("target_rate"),
        )
    )


#: target tokens per training shard (tiny for test data; production ~100M)
SHARD_TOKENS = 4096


@query(
    "pipeline_token_shards",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id,
             len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT source, doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
                 PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS prev_tokens
      FROM t
    )
    SELECT source,
           CAST(FLOOR(prev_tokens / {SHARD_TOKENS}) AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
    FROM c
    GROUP BY source, shard_id
    """,
    doc="Token-budget shard packing: documents are laid out in a stable "
    "order (doc_id) and assigned to ~fixed-token training shards by an "
    "exclusive running token sum — floor(prefix/budget) — then summarized "
    "per (source, shard). The deterministic layout step every pre-training "
    "data build ends with. The prefix sum is the classic TWO-PHASE "
    "distributed shape (see token_shard_prefix): per-(source, doc_id-block) "
    "subtotals, running offsets over the tiny subtotal table, per-row "
    "rescan windowed on the high-cardinality (source, block) key — no "
    "window ever partitions the full corpus by the ~8-value source column, "
    "so one giant source cannot serialize the sort onto one reducer.",
)
def pipeline_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = _n_tokens().alias("n_tokens")
    t = docs.select("source", "doc_id", n_tokens)
    prefixed = token_shard_prefix(t)
    return (
        prefixed.withColumn(
            "shard_id", F.floor(F.col("prev_tokens") / F.lit(SHARD_TOKENS))
        )
        .groupBy("source", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
        )
    )


#: training-sequence token budget (tiny for test data; production 2k-8k)
SEQ_TOKENS = 512

def _n_tokens():
    """Whitespace-token count used by the packing/layout operators, matching
    the DuckDB oracle's len(list_filter(string_split(text, ' '), w -> w <> ''))
    (built lazily: Column construction needs an active session).

    NULL-safe: NULL text → NULL count. Spark's size(NULL) is -1, which
    would silently SUBTRACT from token totals; DuckDB's len(NULL) is NULL
    and every aggregate skips it — mirror NULL-in/NULL-out so both engines
    agree on corpora with missing text (exercised by the adversarial-corpus
    sweep in tests/test_properties.py)."""
    return F.when(
        F.col("text").isNotNull(),
        F.size(F.filter(F.split(F.col("text"), " "), lambda w: w != "")),
    )


@query(
    "pipeline_sequence_pack",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id,
             len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tokens
      FROM documents
    ),
    tt AS (SELECT * FROM t WHERE n_tokens > 0),
    c AS (
      SELECT source, doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
                 PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS prev_tokens
      FROM tt
    ),
    s AS (
      SELECT source, doc_id, n_tokens, prev_tokens,
             CAST(FLOOR(prev_tokens / {SEQ_TOKENS}) AS BIGINT) AS first_seq,
             CAST(FLOOR((prev_tokens + n_tokens - 1) / {SEQ_TOKENS}) AS BIGINT)
               AS last_seq
      FROM c
    ),
    e AS (
      SELECT source, doc_id, n_tokens, prev_tokens, first_seq, i AS seq_id
      FROM s, UNNEST(generate_series(first_seq, last_seq)) AS u(i)
    )
    SELECT source, seq_id,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE first_seq = seq_id) AS n_starting,
           CAST(SUM(LEAST(prev_tokens + n_tokens, (seq_id + 1) * {SEQ_TOKENS})
                    - GREATEST(prev_tokens, seq_id * {SEQ_TOKENS})) AS BIGINT)
             AS seq_tokens
    FROM e
    GROUP BY source, seq_id
    """,
    doc="Training-sequence packing: documents are concatenated in a stable "
    f"per-source order (doc_id) and cut into fixed {SEQ_TOKENS}-token "
    "sequences, documents spanning a cut carry over into the next sequence — "
    "the exact layout step that turns a curated corpus into fixed-length "
    "training examples. Built on the same two-phase distributed prefix sum "
    "as pipeline_token_shards (no corpus-wide window on the tiny source "
    "key); each doc then expands to only the sequences it overlaps "
    "(doc_tokens/budget + 1 rows, never a cross product) and per-sequence "
    "stats are one partial-aggregated shuffle on the high-cardinality "
    "(source, seq_id) key. Every full sequence must show seq_tokens == "
    f"{SEQ_TOKENS} — the packing invariant the gate checks.",
)
def pipeline_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("source", "doc_id", _n_tokens().alias("n_tokens")).filter(
        F.col("n_tokens") > 0
    )
    prefixed = token_shard_prefix(t)
    end = F.col("prev_tokens") + F.col("n_tokens")
    s = prefixed.select(
        "source",
        "doc_id",
        "n_tokens",
        "prev_tokens",
        F.floor(F.col("prev_tokens") / SEQ_TOKENS).alias("first_seq"),
        F.floor((end - 1) / SEQ_TOKENS).alias("last_seq"),
    )
    e = s.select(
        "source",
        "n_tokens",
        "prev_tokens",
        "first_seq",
        F.explode(F.sequence("first_seq", "last_seq")).alias("seq_id"),
    )
    seq_start = F.col("seq_id") * SEQ_TOKENS
    overlap = F.least(end, seq_start + SEQ_TOKENS) - F.greatest(
        F.col("prev_tokens"), seq_start
    )
    return e.groupBy("source", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("first_seq") == F.col("seq_id"), 1)).alias(
            "n_starting"
        ),
        F.sum(overlap).cast("bigint").alias("seq_tokens"),
    )


#: train/val/test percentage boundaries on the 100-bucket hash grid
SPLIT_TRAIN_PCT = 90
SPLIT_VAL_PCT = 95


@query(
    "pipeline_train_val_split",
    oracle=f"""
    WITH t AS (
      SELECT source,
             len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tokens,
             ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 100 AS bucket
      FROM documents
    )
    SELECT source,
           CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
                WHEN bucket < {SPLIT_VAL_PCT} THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM t
    GROUP BY source, split
    """,
    doc="Deterministic train/val/test split: each document lands in a split "
    "by hashing a SALTED row key ('split:' || doc_id) onto a 100-bucket "
    f"grid ({SPLIT_TRAIN_PCT}/{SPLIT_VAL_PCT - SPLIT_TRAIN_PCT}/"
    f"{100 - SPLIT_VAL_PCT}). The salt makes the split independent of every "
    "other hash-derived decision (sampling, shuffling) that keys the same "
    "doc_id — unsalted reuse would correlate the val set with the sample "
    "kept by pipeline_stratified_sample. Reproducible across runs, engines "
    "and cluster sizes; pure map-side predicate + one partial-aggregated "
    "shuffle on (source, split) — at 100 TB the split decision never moves "
    "data.",
)
def pipeline_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(
        "CAST(conv(substr(md5(concat('split:', CAST(doc_id AS STRING))), 1, 15),"
        " 16, 10) AS BIGINT) % 100"
    )
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    return (
        docs.select("source", split.alias("split"), _n_tokens().alias("n_tokens"))
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )


#: output shard count for the global shuffle (production: thousands)
SHUFFLE_SHARDS = 16


@query(
    "pipeline_global_shuffle",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id,
             md5(CAST(doc_id AS VARCHAR)) AS k,
             len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tokens
      FROM documents
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY k) - 1 AS rnk FROM t
    ),
    tot AS (SELECT COUNT(*) AS n FROM t)
    SELECT CAST(FLOOR(rnk / CEIL(n * 1.0 / {SHUFFLE_SHARDS})) AS BIGINT)
             AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           COUNT(DISTINCT source) AS n_sources,
           arg_min(doc_id, k) AS first_doc
    FROM r, tot
    GROUP BY shard_id
    """,
    doc="Deterministic global shuffle into equal-size training shards: the "
    "corpus is permuted by an md5 row key and cut into "
    f"{SHUFFLE_SHARDS} contiguous-rank shards, so every shard is a "
    "uniform random sample of the corpus (n_sources per shard shows the "
    "mixing) with sizes balanced to ±1 — the layout a dataloader reads "
    "sequentially. The global rank is the two-phase distributed shape: "
    "rows block on the first hash byte (256 deterministic blocks), "
    "per-block counts make a tiny offset table (one window over 256 rows), "
    "and each row's rank = block offset + within-block row_number — no "
    "corpus-wide single-partition ORDER BY, however large the corpus. "
    "first_doc (min-by-key) pins the permutation itself, not just the "
    "partition sizes, to the oracle.",
)
def pipeline_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("k"),
        _n_tokens().alias("n_tokens"),
    )
    tb = t.withColumn(
        "blk", F.conv(F.substring("k", 1, 2), 16, 10).cast("int")
    )
    counts = tb.groupBy("blk").agg(F.count(F.lit(1)).alias("blk_n"))
    # the offset window runs over <= 256 subtotal rows — single partition is
    # the POINT (tiny table), corpus rows never see this window
    w_blocks = W.orderBy("blk").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "blk",
        F.coalesce(F.sum("blk_n").over(w_blocks), F.lit(0)).alias("blk_offset"),
    )
    total = counts.agg(F.sum("blk_n").alias("n"))
    w_rows = W.partitionBy("blk").orderBy("k")
    ranked = (
        tb.join(offsets, "blk")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "rnk", F.col("blk_offset") + F.row_number().over(w_rows) - 1
        )
    )
    shard_id = F.floor(
        F.col("rnk") / F.ceil(F.col("n") * 1.0 / SHUFFLE_SHARDS)
    ).alias("shard_id")
    return ranked.groupBy(shard_id).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.countDistinct("source").alias("n_sources"),
        F.min_by("doc_id", "k").alias("first_doc"),
    )


#: doc_ids per prefix-sum block. A block holds AT MOST this many consecutive
#: doc_ids of one source, bounding every per-row window group; the subtotal
#: table is ~(max_doc_id / BLOCK) rows per source.
PREFIX_BLOCK = 1 << 16


def token_shard_prefix(t: DataFrame, block: int = PREFIX_BLOCK) -> DataFrame:
    """Exclusive per-source running token sum ordered by doc_id, as a
    two-phase distributed prefix sum. Input: (source, doc_id, n_tokens);
    output adds ``prev_tokens``.

    The naive shape — one window partitioned by ``source`` — serializes each
    source's ENTIRE data through one reducer (source cardinality is ~8;
    one hot source = the whole corpus sorted on one partition). Instead:

    1. block the doc_id axis (``blk = doc_id div block`` — deterministic,
       data-independent split points, unlike spark_partition_id() whose
       meaning depends on the range-sampler);
    2. phase 1: per-(source, blk) token subtotals — a partial-aggregated
       shuffle whose OUTPUT is tiny (#sources × #blocks rows);
    3. running offsets across blocks: a window per source over the subtotal
       table only — thousands of rows, never corpus rows. (For corpora
       whose doc_id range exceeds ~1e10 the same two-phase step recurses on
       the subtotal table; one level covers every realistic shard build.)
    4. phase 2: rescan — join the offsets back (Catalyst/AQE broadcasts the
       tiny side) and window the within-block exclusive running sum on
       (source, blk), a high-cardinality key whose groups are bounded by
       ``block`` consecutive doc_ids, so the sort spreads over the cluster
       however skewed the sources are.

    Output is exactly the single-window result (exact integer sums).
    """
    from pyspark.sql import Window as W

    tb = t.withColumn("blk", F.floor(F.col("doc_id") / F.lit(block)))
    sub = tb.groupBy("source", "blk").agg(F.sum("n_tokens").alias("blk_tokens"))
    w_blocks = (
        W.partitionBy("source").orderBy("blk").rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = sub.select(
        "source",
        "blk",
        F.coalesce(F.sum("blk_tokens").over(w_blocks), F.lit(0)).alias(
            "blk_offset"
        ),
    )
    w_rows = (
        W.partitionBy("source", "blk")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    in_block_prev = F.coalesce(F.sum("n_tokens").over(w_rows), F.lit(0))
    return (
        tb.join(offsets, ["source", "blk"])
        .withColumn("prev_tokens", F.col("blk_offset") + in_block_prev)
        .drop("blk", "blk_offset")
    )


#: fixed-point scale for the temperature weights. sqrt() is the one power
#: IEEE 754 requires to be EXACTLY rounded, so sqrt(T) is bit-identical on
#: the JVM and in DuckDB's libm; rounding it onto this grid once per source
#: makes every downstream sum/ratio exact-integer math.
TEMP_SCALE = 1_000_000


@query(
    "pipeline_temperature_mix",
    oracle=f"""
    WITH t AS (
      SELECT source,
             CAST(SUM(len(list_filter(string_split(text, ' '), w -> w <> '')))
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n_tokens,
             CAST(ROUND(sqrt(n_tokens) * {TEMP_SCALE}) AS BIGINT) AS w_q
      FROM t
    ),
    tot AS (
      SELECT CAST(SUM(w_q) AS BIGINT) AS tot_q,
             CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens
      FROM w
    )
    SELECT source, n_tokens,
           w_q * 1.0 / tot_q AS mix_weight,
           CAST(ROUND((w_q * 1.0 / tot_q) * tot_tokens) AS BIGINT)
             AS target_tokens,
           CAST(ROUND((w_q * 1.0 / tot_q) * tot_tokens) AS BIGINT) * 1.0
             / n_tokens AS oversample_ratio
    FROM w, tot
    """,
    doc="Temperature-scaled source mixing (alpha = 0.5): each source's "
    "sampling weight is sqrt(tokens_s) / sum_s sqrt(tokens_s) — the "
    "multilingual-LM upsampling rule that keeps big sources from drowning "
    "small ones while still favoring them. target_tokens redistributes the "
    "corpus token budget under those weights; oversample_ratio > 1 means "
    "the source repeats (epochs), < 1 means it is subsampled. sqrt is the "
    "one power IEEE requires exactly rounded, so quantizing sqrt(T) to the "
    "micro-grid once per source makes every sum and ratio exact integer "
    "math — bit-identical across engines and shuffle orders. Plan: ONE "
    "corpus scan and ONE partial-aggregated shuffle on source; the weight "
    "table is O(sources), so it is coalesced (narrow — no exchange) to a "
    "single partition where the corpus-wide totals are window aggregates. "
    "A separate global-aggregate side (the round-3 shape) re-ran the corpus "
    "subtree: lambda variables in the token-count expression get fresh IDs "
    "per plan copy, which defeats exchange-reuse canonicalization.",
)
def pipeline_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    t = (
        docs.select("source", _n_tokens().alias("d"))
        .groupBy("source")
        .agg(F.sum("d").cast("bigint").alias("n_tokens"))
    )
    w = t.select(
        "source",
        "n_tokens",
        F.round(F.sqrt(F.col("n_tokens")) * TEMP_SCALE)
        .cast("bigint")
        .alias("w_q"),
    )
    # O(sources) rows: a narrow coalesce to one partition satisfies the
    # window's all-tuples requirement, so Spark inserts NO second exchange
    # and the corpus aggregation subtree is planned exactly once.
    w_all = W.partitionBy()
    ww = w.coalesce(1).select(
        "source",
        "n_tokens",
        "w_q",
        F.sum("w_q").over(w_all).cast("bigint").alias("tot_q"),
        F.sum("n_tokens").over(w_all).cast("bigint").alias("tot_tokens"),
    )
    mix_weight = F.col("w_q") * 1.0 / F.col("tot_q")
    target = F.round(mix_weight * F.col("tot_tokens")).cast("bigint")
    return ww.select(
        "source",
        "n_tokens",
        mix_weight.alias("mix_weight"),
        target.alias("target_tokens"),
        (target * 1.0 / F.col("n_tokens")).alias("oversample_ratio"),
    )


#: context-window chunking geometry: 64-word chunks, stride 48 (16-word
#: overlap keeps boundary context in both neighbors — the standard RAG /
#: pretraining chunker shape, scaled down to the test corpus).
CHUNK_WORDS = 64
CHUNK_STRIDE = 48


@query(
    "pipeline_chunk_documents",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM documents
    ),
    c AS (
      SELECT doc_id, words,
             CASE WHEN len(words) <= {CHUNK_WORDS} THEN 1
                  ELSE ((len(words) - {CHUNK_WORDS} + {CHUNK_STRIDE} - 1)
                        // {CHUNK_STRIDE}) + 1 END AS n_chunks
      FROM w
    ),
    e AS (
      SELECT doc_id, words, UNNEST(range(n_chunks)) AS i FROM c
    )
    SELECT doc_id,
           i AS chunk_id,
           -- COALESCE: DuckDB joins an empty list to NULL, Spark to '' —
           -- the declared contract is '' (an existing chunk row never has
           -- NULL text; NULL documents produce no rows at all)
           COALESCE(array_to_string(
             words[i * {CHUNK_STRIDE} + 1 :
                   i * {CHUNK_STRIDE} + {CHUNK_WORDS}], ' '), '')
             AS chunk_text,
           len(words[i * {CHUNK_STRIDE} + 1 :
                     i * {CHUNK_STRIDE} + {CHUNK_WORDS}]) AS n_chunk_tokens
    FROM e
    """,
    doc="Overlapping context-window chunking: each document becomes "
    "ceil((n-64)/48)+1 chunks of <=64 words with a 16-word overlap — the "
    "preprocessing step that turns raw documents into training/RAG windows. "
    "Entirely narrow JVM work (split -> slice -> posexplode): NO shuffle, no "
    "Python, so at 100 TB it runs embarrassingly parallel at scan width and "
    "chains straight into sequence packing (pipeline_sequence_pack) without "
    "a repartition.",
)
def pipeline_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    n = F.size(F.col("words"))
    n_chunks = F.when(n <= CHUNK_WORDS, F.lit(1)).otherwise(
        (
            (n - CHUNK_WORDS + CHUNK_STRIDE - 1)
            / F.lit(CHUNK_STRIDE)
        ).cast("int")
        + 1
    )
    chunk = F.slice(
        F.col("words"), F.col("chunk_id") * CHUNK_STRIDE + 1, CHUNK_WORDS
    )
    # NULL text contributes NO chunks. The oracle gets this implicitly
    # (range(NULL) unnests to zero rows); Spark's size(NULL) = -1 would
    # instead fabricate one garbage chunk — filter explicitly.
    return (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", words.alias("words"))
        .select(
            "doc_id",
            "words",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        )
    )


@query(
    "pipeline_chunk_pack",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, words,
             CASE WHEN len(words) <= {CHUNK_WORDS} THEN 1
                  ELSE ((len(words) - {CHUNK_WORDS} + {CHUNK_STRIDE} - 1)
                        // {CHUNK_STRIDE}) + 1 END AS n_chunks
      FROM w
    ),
    e AS (
      SELECT doc_id, source, words, UNNEST(range(n_chunks)) AS i FROM c
    ),
    ch AS (
      SELECT source,
             doc_id * 1024 + i AS chunk_key,
             len(words[i * {CHUNK_STRIDE} + 1 :
                       i * {CHUNK_STRIDE} + {CHUNK_WORDS}]) AS n_tokens
      FROM e
    ),
    chh AS (SELECT * FROM ch WHERE n_tokens > 0),
    p AS (
      SELECT source, chunk_key, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
                 PARTITION BY source ORDER BY chunk_key
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS prev_tokens
      FROM chh
    )
    SELECT source,
           CAST(FLOOR(prev_tokens / {SEQ_TOKENS}) AS BIGINT) AS seq_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
    FROM p
    GROUP BY source, seq_id
    """,
    doc="Composed context-window prep: documents chunk into overlapping "
    "64-word windows (pipeline_chunk_documents's geometry) and the chunks "
    "greedy-pack into 512-token training sequences per source by exclusive "
    "prefix sum — the chunk→pack chain an LLM pretraining data build runs "
    "end-to-end. One Catalyst plan: the chunk explode is narrow (zero "
    "shuffle) and feeds the SAME two-phase distributed prefix sum the "
    "shard/sequence packers use (token_shard_prefix on a composite "
    "(doc, chunk) key — no window ever partitions the corpus by the "
    "~8-value source column), then one (source, seq) rollup. Demonstrates "
    "that the layout operators COMPOSE without materialization "
    "boundaries.",
)
def pipeline_chunk_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL text contributes no chunks (explicit filter: Spark's
    # size(NULL) = -1 would otherwise count a NULL doc as a 1-chunk doc;
    # its empty chunk is dropped by the n_tokens > 0 gate anyway, but the
    # semantics should not hang on that coincidence)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    n = F.size(F.col("words"))
    n_chunks = F.when(n <= CHUNK_WORDS, F.lit(1)).otherwise(
        ((n - CHUNK_WORDS + CHUNK_STRIDE - 1) / F.lit(CHUNK_STRIDE)).cast(
            "int"
        )
        + 1
    )
    chunk = F.slice(
        F.col("words"), F.col("i") * CHUNK_STRIDE + 1, CHUNK_WORDS
    )
    # chunk_key = doc_id * 1024 + i is mirrored in the oracle; it is only
    # injective while every document stays under 1024 chunks (~49k words at
    # the 48-word stride). A longer document would silently interleave its
    # keys into the next doc_id's range and corrupt the prefix-sum packing
    # order, so the bound FAILS LOUDLY instead: the explode bound raises
    # when n_chunks > 1024 (a >49k-word doc is upstream-filter territory,
    # not a packing input).
    # NULL-tolerant guard: a NULL text gives NULL n_chunks, which must fall
    # into the keep-branch (yielding NULL, so the explode drops the row —
    # matching the oracle's UNNEST(range(NULL))), NOT into raise_error
    guarded_last = F.when(
        n_chunks.isNull() | (n_chunks <= 1024), n_chunks - 1
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("pipeline_chunk_pack: doc_id "),
                F.col("doc_id").cast("string"),
                F.lit(" has "),
                n_chunks.cast("string"),
                F.lit(" chunks > 1024; chunk_key would collide"),
            )
        )
    )
    ch = (
        docs.select("doc_id", "source", words.alias("words"))
        .select(
            "doc_id",
            "source",
            "words",
            F.explode(F.sequence(F.lit(0), guarded_last)).alias("i"),
        )
        .select(
            "source",
            (F.col("doc_id") * 1024 + F.col("i")).alias("doc_id"),
            F.size(chunk).alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
    )
    prefixed = token_shard_prefix(ch)
    return (
        prefixed.withColumn(
            "seq_id",
            F.floor(F.col("prev_tokens") / F.lit(SEQ_TOKENS)).cast("bigint"),
        )
        .groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tokens").cast("bigint").alias("seq_tokens"),
        )
    )


#: repeat-budget grid for partial epochs (1/10000 of an epoch)
EPOCH_GRID = 10_000


@query(
    "pipeline_epoch_plan",
    oracle=f"""
    WITH t AS (
      SELECT source,
             CAST(SUM(len(list_filter(string_split(text, ' '), w -> w <> '')))
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n_tokens,
             CAST(ROUND(sqrt(n_tokens) * {TEMP_SCALE}) AS BIGINT) AS w_q
      FROM t
    ),
    tot AS (
      SELECT CAST(SUM(w_q) AS BIGINT) AS tot_q,
             CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens
      FROM w
    ),
    alloc AS (
      SELECT source, n_tokens,
             CAST(w_q * tot_tokens // tot_q AS BIGINT) AS target_tokens
      FROM w, tot
    )
    SELECT source, n_tokens, target_tokens,
           CAST(target_tokens // n_tokens AS BIGINT) AS full_epochs,
           CAST(((target_tokens % n_tokens) * {EPOCH_GRID})
                // n_tokens AS BIGINT) AS partial_epoch_bp
    FROM alloc
    """,
    doc="Epoch allocation plan from the temperature mixture: each source's "
    "token budget (w_q·total/Σw_q, computed in EXACT integer arithmetic — "
    "the floor of the true rational, identically on both engines) splits "
    "into whole-corpus repeats (full_epochs) plus a partial-epoch fraction "
    "quantized to 1/10000 — the (repeats, sample-rate) pair a training "
    "dataloader actually consumes, derived entirely from data. All "
    "divisions are integer ops on BIGINTs: no float enters the plan, so "
    "the allocation is bit-stable across engines, partitionings, and "
    "reruns — what you need when the epoch plan is the REPRODUCIBILITY "
    "CONTRACT of a training run. Plan: one partial-aggregated corpus "
    "shuffle; everything after runs on the O(sources) frame with the "
    "totals broadcast.",
)
def pipeline_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = (
        docs.select("source", _n_tokens().alias("d"))
        .groupBy("source")
        .agg(F.sum("d").cast("bigint").alias("n_tokens"))
    )
    w = t.select(
        "source",
        "n_tokens",
        F.round(F.sqrt(F.col("n_tokens")) * TEMP_SCALE)
        .cast("bigint")
        .alias("w_q"),
    )
    tot = w.agg(
        F.sum("w_q").cast("bigint").alias("tot_q"),
        F.sum("n_tokens").cast("bigint").alias("tot_tokens"),
    )
    target = F.expr("CAST(w_q * tot_tokens AS BIGINT) DIV tot_q")
    alloc = w.crossJoin(F.broadcast(tot)).select(
        "source", "n_tokens", target.alias("target_tokens")
    )
    return alloc.select(
        "source",
        "n_tokens",
        "target_tokens",
        F.expr("target_tokens DIV n_tokens").alias("full_epochs"),
        F.expr(
            f"((target_tokens % n_tokens) * {EPOCH_GRID}) DIV n_tokens"
        ).alias("partial_epoch_bp"),
    )


@query(
    "pipeline_dataset_card",
    oracle="""
    WITH d AS (
      SELECT source, lang, doc_id, n_chars, md5(text) AS h,
             len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS n_words
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(DISTINCT lang) AS n_langs,
           COUNT(*) - COUNT(DISTINCT h) AS n_exact_dups,
           (COUNT(*) - COUNT(DISTINCT h)) * 1.0 / COUNT(*) AS dup_rate,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS mean_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM d GROUP BY source
    """,
    doc="Per-source dataset card: the one-row-per-source summary a corpus "
    "release ships — volume (docs/words/chars), language spread, EXACT "
    "duplicate rate (docs minus distinct content digests), and length "
    "stats. Every metric is exact integer math or a ratio of exact "
    "integers, so the card is bit-identical across engines and reruns — a "
    "dataset card that changes between runs is worse than none. Plan: one "
    "corpus scan, digests computed map-side, one partial-aggregated "
    "shuffle on source (the two COUNT(DISTINCT)s expand to the standard "
    "two-phase distinct-aggregate plan Spark generates — still a single "
    "scan).",
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        "lang",
        "n_chars",
        F.md5("text").alias("h"),
        _n_tokens().alias("n_words"),  # NULL-safe (see _n_tokens)
    )
    n_docs = F.count(F.lit(1))
    n_dups = n_docs - F.countDistinct("h")
    return d.groupBy("source").agg(
        n_docs.alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        n_dups.alias("n_exact_dups"),
        (n_dups * 1.0 / n_docs).alias("dup_rate"),
        (F.sum("n_chars").cast("double") / n_docs).alias("mean_chars"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
    )


# ---------------------------------------------------------------------------
def _pack_efficiency_oracle() -> str:
    """CTE-wrap the ALREADY-REGISTERED chunk-pack oracle (module executes
    top-to-bottom) — single source of truth: a change to the packer's
    geometry flows into the efficiency report automatically."""
    from iceberg_explorer_spark.operators.registry import QUERIES as _Q

    pack = _Q["pipeline_chunk_pack"].oracle
    return f"""
    WITH pack AS ({pack})
    SELECT source,
           COUNT(*) AS n_sequences,
           CAST(SUM(seq_tokens) AS BIGINT) AS packed_tokens,
           CAST(COUNT(*) * {SEQ_TOKENS} AS BIGINT) AS capacity_tokens,
           CAST(SUM(GREATEST(seq_tokens - {SEQ_TOKENS}, 0)) AS BIGINT)
             AS overflow_tokens,
           CAST(SUM(GREATEST({SEQ_TOKENS} - seq_tokens, 0)) AS BIGINT)
             AS pad_tokens,
           COUNT(*) FILTER (WHERE seq_tokens > {SEQ_TOKENS}) AS n_overflow,
           ROUND(SUM(seq_tokens) * 1.0 / (COUNT(*) * {SEQ_TOKENS}), 6)
             AS utilization
    FROM pack GROUP BY source
    """


@query(
    "pipeline_pack_efficiency",
    oracle=_pack_efficiency_oracle(),
    doc="Packing-efficiency report over the chunk->sequence packer: per "
    "source, how full the fixed-budget training sequences actually are — "
    "capacity vs packed tokens, overflow tokens (chunks assigned by start "
    "offset that spill past the budget and get truncated or carried), pad "
    "tokens, and overall utilization. This is the sign-off metric for a "
    "packing strategy: a 2% utilization drop at 100 TB is 2 TB of wasted "
    "accelerator time per epoch, so the report belongs next to the packer "
    "(it composes pipeline_chunk_pack's exact output, Spark builder and "
    "oracle text both). Cost on top of the packer: one partial-aggregated "
    "shuffle of the O(sequences) frame onto the O(sources) key. All "
    "columns are exact integer math except utilization (exact-int "
    "division, rounded to 6dp in both engines).",
)
def pipeline_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_explorer_spark.operators.registry import QUERIES as _Q

    pack = _Q["pipeline_chunk_pack"].builder(spark, sf_dir)
    over = F.greatest(F.col("seq_tokens") - SEQ_TOKENS, F.lit(0))
    under = F.greatest(F.lit(SEQ_TOKENS) - F.col("seq_tokens"), F.lit(0))
    n_seq = F.count(F.lit(1))
    return pack.groupBy("source").agg(
        n_seq.alias("n_sequences"),
        F.sum("seq_tokens").cast("bigint").alias("packed_tokens"),
        (n_seq * SEQ_TOKENS).cast("bigint").alias("capacity_tokens"),
        F.sum(over).cast("bigint").alias("overflow_tokens"),
        F.sum(under).cast("bigint").alias("pad_tokens"),
        F.count(F.when(F.col("seq_tokens") > SEQ_TOKENS, 1)).alias(
            "n_overflow"
        ),
        F.round(
            F.sum("seq_tokens") * 1.0 / (n_seq * SEQ_TOKENS), 6
        ).alias("utilization"),
    )


@query(
    "pipeline_filter_funnel",
    oracle=f"""
    WITH nd AS (
      SELECT DISTINCT doc_b AS doc_id FROM ({_LSH_CANDIDATES_SQL})
    ),
    d AS (
      SELECT doc_id, text,
             (LENGTH(text) > 0) AS s1,
             (LENGTH(text) > 0 AND
              LEN(regexp_split_to_array(lower(trim(text)), '\\s+'))
                >= {MIN_WORDS}) AS s2
      FROM documents
    ),
    base AS (
      SELECT COUNT(*) AS n0,
             COUNT(CASE WHEN s1 THEN 1 END) AS n1,
             COUNT(CASE WHEN s2 THEN 1 END) AS n2,
             COUNT(DISTINCT CASE WHEN s2 THEN md5(text) END) AS n3
      FROM d
    ),
    canon AS (
      SELECT MIN(doc_id) AS doc_id FROM d WHERE s2 GROUP BY md5(text)
    ),
    kept AS (
      SELECT COUNT(*) AS n4 FROM canon
      WHERE doc_id NOT IN (SELECT doc_id FROM nd)
    ),
    onerow AS (SELECT * FROM base, kept),
    funnel AS (
      SELECT 0 AS stage_order, 'raw' AS stage,
             n0 AS n_docs, CAST(0 AS BIGINT) AS n_dropped, n0 FROM onerow
      UNION ALL
      SELECT 1, 'nonempty', n1, n0 - n1, n0 FROM onerow
      UNION ALL
      SELECT 2, 'min_words', n2, n1 - n2, n0 FROM onerow
      UNION ALL
      SELECT 3, 'exact_dedup', n3, n2 - n3, n0 FROM onerow
      UNION ALL
      SELECT 4, 'near_dedup', n4, n3 - n4, n0 FROM onerow
    )
    SELECT stage_order, stage,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_dropped AS BIGINT) AS n_dropped,
           CASE WHEN n0 = 0 THEN NULL
                ELSE CAST(n_docs AS DOUBLE) / n0 END AS survival_rate
    FROM funnel
    """,
    doc="Per-stage attrition funnel for the curation pipeline: how many "
    "documents survive each ordered stage of pipeline_clean_corpus "
    "(raw -> nonempty -> min-words quality gate -> exact dedup -> "
    "near-dup removal), with per-stage drop counts and cumulative "
    "survival rate — the observability report a production curation run "
    "publishes next to its output (a stage that silently drops 40% of a "
    "source is a bug report, not a statistic). Mirrors clean_corpus's "
    "stage predicates EXACTLY (same word tokenizer, same keep-min-per-"
    "digest rule, same LSH doc_b drop list read from the session-shared "
    "candidate checkpoint) so the funnel's final row reconciles with the "
    "summed clean-corpus output — pinned by tests/test_properties.py::"
    "test_filter_funnel_reconciles_with_clean_corpus. Plan: ONE corpus "
    "scan for the flag counts (conditional counts + one distinct-digest "
    "count, all partial-aggregated), a second digest groupBy for the "
    "canonical set, the anti-join against the cached drop list, then a "
    "5-row static explode — the funnel costs two aggregations over what "
    "clean_corpus already scans, and every count is exact integer math. "
    "reference: no analogue — training-pipeline extension.",
)
def pipeline_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    s1 = F.length("text") > 0
    s2 = s1 & (F.size(_tokens()) >= MIN_WORDS)
    base = docs.agg(
        F.count(F.lit(1)).alias("n0"),
        F.count(F.when(s1, 1)).alias("n1"),
        F.count(F.when(s2, 1)).alias("n2"),
        F.countDistinct(F.when(s2, F.md5("text"))).alias("n3"),
    )
    canon = (
        docs.filter(s2)
        .groupBy(F.md5("text"))
        .agg(F.min("doc_id").alias("doc_id"))
    )
    near_dups = (
        shared_lsh_candidates(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    kept = canon.join(near_dups, "doc_id", "left_anti").agg(
        F.count(F.lit(1)).alias("n4")
    )
    onerow = base.crossJoin(kept)

    def _stage(order: int, name: str, n, dropped):
        return F.struct(
            F.lit(order).alias("stage_order"),
            F.lit(name).alias("stage"),
            n.cast("bigint").alias("n_docs"),
            dropped.cast("bigint").alias("n_dropped"),
        )

    n0, n1, n2, n3, n4 = (F.col(c) for c in ("n0", "n1", "n2", "n3", "n4"))
    return (
        onerow.select(
            "n0",
            F.explode(
                F.array(
                    _stage(0, "raw", n0, F.lit(0)),
                    _stage(1, "nonempty", n1, n0 - n1),
                    _stage(2, "min_words", n2, n1 - n2),
                    _stage(3, "exact_dedup", n3, n2 - n3),
                    _stage(4, "near_dedup", n4, n3 - n4),
                )
            ).alias("s"),
        )
        .select(
            "s.stage_order",
            "s.stage",
            "s.n_docs",
            "s.n_dropped",
            F.when(F.col("n0") == 0, F.lit(None).cast("double"))
            .otherwise(F.col("s.n_docs").cast("double") / F.col("n0"))
            .alias("survival_rate"),
        )
    )


# ---------------------------------------------------------------------------
def _clean_corpus_oracle(with_simhash: bool) -> str:
    """THE flagship oracle, parameterized by the SimHash stage (the r14
    fold, prompted by the round's second review pass): v2 is the
    four-family text, v3 inserts the banded-Hamming component stage
    between near and semantic. ONE definition of every shared stage —
    base/quality, exact canon, near list, semantic closure, pair keys,
    the status precedence and the report tail — so a fix to any of
    them cannot fork the two flagships (the ``_incremental_status_sql``
    discipline applied to the batch capstones). Fragments imported at
    call time to keep module import order free of cycles."""
    from iceberg_explorer_spark.operators.dedup import (
        _cc_closure_sql,
        _simhash_cand_ham_sql,
        SIMHASH_HAM_MAX,
    )
    from iceberg_explorer_spark.operators.multimodal import _pair_keys_sql
    from iceberg_explorer_spark.operators.similarity import (
        _EMB_SQL,
        _srp_code_duckdb,
        NEAR_DUP_TAU,
    )

    # the v3-only CTE blocks; tag="v3" because _simhash_cand_ham_sql's
    # outer hashed/bands names collide with _LSH_CANDIDATES_SQL's
    # nested ones (DuckDB INTERNAL-errors on that shadowing under
    # WITH RECURSIVE — SCALE.md round-14)
    sim_ctes = (
        f"""{_simhash_cand_ham_sql(tag="v3")},
    hedges AS (
      SELECT doc_a AS id_a, doc_b AS id_b FROM hpairsv3
      WHERE hamming <= {SIMHASH_HAM_MAX}
    ),
    {_cc_closure_sql("hedges", "id_a", "id_b", "hcc", tag="sh")},
    """
        if with_simhash
        else ""
    )
    sim_stage = (
        """
    sim_drop AS (
      SELECT doc_id FROM (
        SELECT c.node AS doc_id,
               MIN(c.node) OVER (PARTITION BY c.cluster_id) AS keep_id
        FROM hcc c JOIN surv3 s ON s.doc_id = c.node
      ) WHERE doc_id <> keep_id
    ),
    surv3b AS (
      SELECT doc_id FROM surv3
      WHERE doc_id NOT IN (SELECT doc_id FROM sim_drop)
    ),"""
        if with_simhash
        else ""
    )
    surv_sem = "surv3b" if with_simhash else "surv3"
    sim_join = (
        "\n      LEFT JOIN sim_drop hd ON b.doc_id = hd.doc_id"
        if with_simhash
        else ""
    )
    sim_case = (
        "\n               WHEN hd.doc_id IS NOT NULL THEN 'simhash'"
        if with_simhash
        else ""
    )
    sim_col = (
        "\n           COUNT(*) FILTER (WHERE drop_stage = 'simhash')"
        " AS n_drop_simhash,"
        if with_simhash
        else ""
    )
    return f"""
    WITH RECURSIVE base AS (
      SELECT doc_id, text, lang, source,
             LEN(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_words,
             COALESCE(LENGTH(text) > 0
               AND LEN(regexp_split_to_array(lower(trim(text)), '\\s+'))
                   >= {MIN_WORDS}, FALSE) AS quality_ok
      FROM documents
    ),
    exact_canon AS (
      SELECT MIN(doc_id) AS doc_id FROM base WHERE quality_ok
      GROUP BY md5(text)
    ),
    near_dups AS (
      SELECT DISTINCT doc_b AS doc_id FROM ({_LSH_CANDIDATES_SQL})
    ),
    {sim_ctes}surv3 AS (
      SELECT b.doc_id FROM base b
      JOIN exact_canon ec ON b.doc_id = ec.doc_id
      LEFT JOIN near_dups nd ON b.doc_id = nd.doc_id
      WHERE b.quality_ok AND nd.doc_id IS NULL
    ),{sim_stage}
    coded AS (
      SELECT vec_id, embedding, {_srp_code_duckdb('embedding')} AS bucket
      FROM {_EMB_SQL}
    ),
    prs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6)
               AS cos_sim
      FROM coded a JOIN coded b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    sedges AS (SELECT id_a, id_b FROM prs WHERE cos_sim >= {NEAR_DUP_TAU}),
    {_cc_closure_sql("sedges", "id_a", "id_b", "scc")},
    sem_drop AS (
      SELECT doc_id FROM (
        SELECT c.node AS doc_id,
               MIN(c.node) OVER (PARTITION BY c.cluster_id) AS keep_id
        FROM scc c JOIN {surv_sem} s ON s.doc_id = c.node
      ) WHERE doc_id <> keep_id
    ),
    surv4 AS (
      SELECT doc_id FROM {surv_sem}
      WHERE doc_id NOT IN (SELECT doc_id FROM sem_drop)
    ),
    {_pair_keys_sql()},
    paired_drop AS (
      SELECT doc_id FROM (
        SELECT pk.doc_id,
               MIN(pk.doc_id) OVER (PARTITION BY pk.ahash, pk.caption_fp)
                 AS keep_id
        FROM pkeys pk JOIN surv4 s ON s.doc_id = pk.doc_id
      ) WHERE doc_id <> keep_id
    ),
    status AS (
      SELECT b.source, b.lang, b.n_words, b.text,
             CASE
               WHEN NOT b.quality_ok THEN 'quality'
               WHEN ec.doc_id IS NULL THEN 'exact'
               WHEN nd.doc_id IS NOT NULL THEN 'near'{sim_case}
               WHEN sd.doc_id IS NOT NULL THEN 'semantic'
               WHEN pd.doc_id IS NOT NULL THEN 'paired'
               ELSE 'kept'
             END AS drop_stage
      FROM base b
      LEFT JOIN exact_canon ec ON b.doc_id = ec.doc_id
      LEFT JOIN near_dups nd ON b.doc_id = nd.doc_id{sim_join}
      LEFT JOIN sem_drop sd ON b.doc_id = sd.doc_id
      LEFT JOIN paired_drop pd ON b.doc_id = pd.doc_id
    )
    SELECT source, lang,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE drop_stage = 'quality') AS n_drop_quality,
           COUNT(*) FILTER (WHERE drop_stage = 'exact') AS n_drop_exact,
           COUNT(*) FILTER (WHERE drop_stage = 'near') AS n_drop_near,{sim_col}
           COUNT(*) FILTER (WHERE drop_stage = 'semantic') AS n_drop_semantic,
           COUNT(*) FILTER (WHERE drop_stage = 'paired') AS n_drop_paired,
           COUNT(*) FILTER (WHERE drop_stage = 'kept') AS n_kept,
           CAST(COALESCE(SUM(n_words) FILTER (WHERE drop_stage = 'kept'), 0)
                AS BIGINT) AS total_words_kept,
           CAST(COALESCE(SUM(CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT))
                           FILTER (WHERE drop_stage = 'kept'), 0)
                AS BIGINT) AS est_bpe_tokens_kept
    FROM status
    GROUP BY source, lang
    """


def _clean_corpus_report(
    spark: SparkSession, sf_dir: str, with_simhash: bool
) -> DataFrame:
    """THE flagship builder, parameterized exactly like
    :func:`_clean_corpus_oracle` — pipeline_clean_corpus_v2 is the
    ``False`` instance (operation-for-operation the pre-fold v2 plan)
    and pipeline_clean_corpus_v3 the ``True`` instance. Single source
    for every shared stage; the inline comments carry each stage's
    standing rationale."""
    from iceberg_explorer_spark.operators.multimodal import shared_pair_keys
    from iceberg_explorer_spark.operators.similarity import (
        shared_semantic_labels,
    )

    docs = load_table(spark, sf_dir, "documents")
    # n_words first, quality_ok derived from the column: the regex split
    # is the expensive expression and must evaluate once per row, not
    # once per reference
    base = docs.select(
        "doc_id",
        "text",
        "lang",
        "source",
        F.size(_tokens()).alias("n_words"),
    ).withColumn(
        "quality_ok",
        F.coalesce(
            (F.length("text") > 0)
            & (F.col("n_words") >= F.lit(MIN_WORDS)),
            F.lit(False),
        ),
    )
    # exact: survivors are the min doc_id per digest among quality docs;
    # only (digest, id) shuffles
    exact_canon = (
        base.filter("quality_ok")
        .select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(True).alias("is_canon"))
        # referenced from TWO plan branches (the survivor id-list build
        # below and the status spine): checkpoint, so the full-corpus
        # digest shuffle runs once — this is the exact-stage keep-list
        # artifact a production run materializes anyway. The quality
        # gate itself is NOT shared this way on purpose: it is a
        # map-side regex over the scan both consumers already pay,
        # and replacing the recompute with a (doc_id, quality_ok) join
        # would shuffle the text-carrying corpus against the flag table
        # — strictly worse at any scale than evaluating the regex twice.
        .localCheckpoint(eager=True)
    )
    near_dups = (
        shared_lsh_candidates(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .select("doc_id", F.lit(True).alias("near_drop"))
    )
    # Canonical selection for the LATER stages is SURVIVOR-AWARE: a
    # group's representative is the min doc_id among members that
    # survived every EARLIER stage, not the global group min — otherwise
    # a pair/cluster whose min-id member already fell to quality/exact/
    # near would lose every copy from the keep-list instead of keeping
    # one (the exact stage has always had this property: exact_canon
    # above restricts to quality survivors). The survivor id-list is the
    # per-stage keep-list artifact a production run materializes anyway;
    # it feeds TWO branches, so one narrow localCheckpoint per the
    # standing multi-branch discipline.
    from pyspark.sql import Window as W

    surv3_ids = (
        base.filter("quality_ok")
        .join(exact_canon.select("doc_id"), "doc_id", "left_semi")
        .join(near_dups.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    if with_simhash:
        from iceberg_explorer_spark.operators.dedup import (
            shared_simhash_labels,
        )

        # SimHash stage (v3): min SURVIVING member per component of the
        # corpus-wide banded-Hamming graph. r18: the component labels
        # come from the SESSION-SHARED simhash_cc artifact — the same
        # per-modality label discipline as the semantic stage
        # (shared_semantic_labels); the report was re-running the
        # O(diameter)-round CC propagation in-plan per call (~10 s
        # summed executor time at sf0.1, its largest marginal cost
        # over v2) for labels a production run maintains as the stored
        # cluster assignment anyway.
        comp = shared_simhash_labels(spark, sf_dir)
        sim_members = comp.join(surv3_ids, "doc_id")
        hw = W.partitionBy("cluster_id")
        sim_drops = (
            sim_members.withColumn("keep_id", F.min("doc_id").over(hw))
            .filter(F.col("doc_id") != F.col("keep_id"))
            .select("doc_id", F.lit(True).alias("sim_drop"))
            .localCheckpoint(eager=True)
        )
        # NOT checkpointed (r18): both consumers re-derive this anti-join
        # from the surv3/sim_drops CHECKPOINTS within their own jobs — an
        # id-only join of two materialized tiny frames — which measured
        # faster than one more blocking eager job (interleaved min-of-4
        # at sf0.1/32: 0.566 s vs 0.599 s with the checkpoint; rows
        # identical). The checkpoint-count audit VERDICT r17 #1 asked
        # for: this one's multi-branch justification did not survive
        # once its inputs were themselves materialized.
        surv_sem_ids = surv3_ids.join(
            sim_drops.select("doc_id"), "doc_id", "left_anti"
        )
    else:
        sim_drops = None
        surv_sem_ids = surv3_ids
    # semantic: among SURVIVING members of each cluster, keep the min —
    # the member frame is tiny (only docs in multi-member clusters), so
    # the window partitions by cluster over a bounded frame
    sem_members = (
        shared_semantic_labels(spark, sf_dir)
        .join(surv_sem_ids, F.col("id_a") == F.col("doc_id"))
        .select("doc_id", "cluster_id")
    )
    cw = W.partitionBy("cluster_id")
    sem_drops = (
        sem_members.withColumn("keep_id", F.min("doc_id").over(cw))
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id", F.lit(True).alias("sem_drop"))
        # TWO consumers (the paired stage's survivor anti-join and the
        # status spine) — checkpoint the tiny drop list instead of
        # re-running the cluster-min window per branch
        .localCheckpoint(eager=True)
    )
    surv4_ids = surv_sem_ids.join(
        sem_drops.select("doc_id"), "doc_id", "left_anti"
    )
    # paired: min SURVIVING member per pair-key group, as a MIN window
    # over the pair-key partition — the groupBy+rejoin shape would
    # reference the pair-key frame from TWO plan branches (the
    # clean-manifest lesson); the window pays one pair-key shuffle of
    # the surviving digests and group sizes are bounded by the
    # duplication factor. r18: the keys come from the SESSION-SHARED
    # pair-key checkpoint — the same artifact discipline as every other
    # stage of this flagship (near = shared_lsh_candidates, semantic =
    # shared_semantic_labels, simhash = shared_simhash_hamming) and as
    # dedup_incremental_paired; the flagship was the ONE consumer still
    # re-running the aHash decode kernel in-plan per call (its single
    # heaviest stage: 7.5 s summed executor time at sf0.1, measured
    # r18), for keys a production run maintains as the persisted
    # 'pairs' artifact anyway (bench line item: pairs_build).
    pk = shared_pair_keys(spark, sf_dir).select(
        "doc_id", "ahash", "caption_fp"
    )
    pk_surv = pk.join(surv4_ids, "doc_id")
    pw = W.partitionBy("ahash", "caption_fp")
    paired_drops = (
        pk_surv.withColumn("keep_id", F.min("doc_id").over(pw))
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id", F.lit(True).alias("paired_drop"))
    )
    spine = base.join(exact_canon, "doc_id", "left").join(
        near_dups, "doc_id", "left"
    )
    if with_simhash:
        spine = spine.join(sim_drops, "doc_id", "left")
    spine = spine.join(sem_drops, "doc_id", "left").join(
        paired_drops, "doc_id", "left"
    )
    stage = F.when(~F.col("quality_ok"), F.lit("quality")).when(
        F.col("is_canon").isNull(), F.lit("exact")
    ).when(F.col("near_drop").isNotNull(), F.lit("near"))
    if with_simhash:
        stage = stage.when(F.col("sim_drop").isNotNull(), F.lit("simhash"))
    stage = (
        stage.when(F.col("sem_drop").isNotNull(), F.lit("semantic"))
        .when(F.col("paired_drop").isNotNull(), F.lit("paired"))
        .otherwise(F.lit("kept"))
    )
    status = spine.select(
        "source", "lang", "n_words", "text", stage.alias("drop_stage")
    )
    kept = F.col("drop_stage") == "kept"

    def _n(stage_name: str):
        return F.count(F.when(F.col("drop_stage") == stage_name, 1)).alias(
            f"n_drop_{stage_name}" if stage_name != "kept" else "n_kept"
        )

    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        _n("quality"),
        _n("exact"),
        _n("near"),
    ]
    if with_simhash:
        aggs.append(_n("simhash"))
    aggs += [
        _n("semantic"),
        _n("paired"),
        _n("kept"),
        F.coalesce(F.sum(F.when(kept, F.col("n_words"))), F.lit(0))
        .cast("bigint")
        .alias("total_words_kept"),
        F.coalesce(
            F.sum(
                F.when(kept, F.ceil(F.length("text") / 4.0).cast("bigint"))
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("est_bpe_tokens_kept"),
    ]
    return status.groupBy("source", "lang").agg(*aggs)


@query(
    "pipeline_clean_corpus_v2",
    oracle=_clean_corpus_oracle(False),
    doc="The v2 curation flagship: ALL FOUR dedup families composed into "
    "one keep-list with per-family drop attribution. Waterfall order — "
    "quality gate, exact (min doc per content digest), near (LSH "
    "candidate drop list), semantic (SemDeDup cosine clusters), "
    "cross-modal paired (aHash+caption-fingerprint pair groups) — each "
    "doc is claimed by its FIRST failing stage, so the per-(source, "
    "lang) report's n_drop_* columns partition n_docs exactly and "
    "n_kept is the v2 keep-list size (a strict subset of v1's: v1 stops "
    "at the near stage). Canonical selection in the semantic and paired "
    "stages is SURVIVOR-AWARE: each group keeps the min doc_id among "
    "members that passed every earlier stage, so a group whose global "
    "min already fell to quality/exact/near still keeps one "
    "representative instead of losing every copy (the same property "
    "the exact stage gets from restricting its canon to quality "
    "survivors). SCOPE: the survivor-aware property covers the two "
    "stages v2 ADDS; the near stage deliberately keeps v1's "
    "unconditional doc_b drop — near_dups IS v1's list, pinned by both "
    "v1 parity and the v2-subset-of-v1 invariant, so a near pair whose "
    "doc_a fell at quality/exact loses its last copy in v2 exactly as "
    "it does in v1 (disclosed, not fixed: changing it would fork the "
    "two flagships' near semantics). Zero new kernels: the near list "
    "reads the session- "
    "shared LSH candidate checkpoint, the semantic list reads the "
    "shared cluster-label checkpoint (embeddings vec_id == doc_id, the "
    "same identity dedup_semantic_keep_best uses), and the pair keys "
    "reuse the shared aHash kernel + capped caption fingerprint "
    "(multimodal.paired_pair_keys). One wide left-join spine over four "
    "TINY drop/keep lists (each a digest/id projection — AQE broadcasts "
    "them from measured size; at 100 TB each list is a parquet artifact "
    "and the spine is the only full-corpus pass), then ONE "
    "partial-aggregated shuffle on (source, lang). Since the r14 fold, "
    "v2 is the with_simhash=False instance of the ONE parameterized "
    "flagship chain (_clean_corpus_report/_clean_corpus_oracle) it "
    "shares with v3 — operation-for-operation the pre-fold plan. "
    "reference: no analogue — training-pipeline extension.",
)
def pipeline_clean_corpus_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _clean_corpus_report(spark, sf_dir, with_simhash=False)


@query(
    "pipeline_clean_corpus_v3",
    oracle=_clean_corpus_oracle(True),
    doc="The v3 curation flagship (r14): ALL FIVE dedup families "
    "composed into one keep-list with per-family drop attribution — v2 "
    "plus the SimHash modality, inserted between near and semantic "
    "(syntactic signature dedup before embedding-space dedup, the "
    "cheap-to-expensive waterfall rule); the with_simhash=True "
    "instance of the ONE parameterized flagship chain shared with v2. "
    "The SimHash stage is COMPONENT-based and SURVIVOR-AWARE like the "
    "two stages v2 added: connected components over the corpus-wide "
    "banded-Hamming graph (the session-shared dedup_simhash_hamming "
    "chain at HAM_MAX — the one candidate definition, so the flagship "
    "cannot fork from the standalone operator or its sweep), each "
    "component keeping the min doc_id among members that survived "
    "quality/exact/near. Versus v2: the three upstream stage counts "
    "are IDENTICAL by construction (pinned), and per (source, lang) "
    "the simhash+semantic+paired+kept columns partition exactly the "
    "population v2 splits into semantic+paired+kept (pinned). v3's "
    "keep-SET is NOT a subset of v2's, by design: dropping a simhash "
    "dup can promote a DIFFERENT surviving member as a downstream "
    "cluster's keeper — survivor-aware re-keeping working as intended, "
    "pinned by a crafted re-keeping case (the claim a naive subset "
    "invariant would get wrong; disproven by counterexample in the "
    "round's review pass). Every stage's drop list is a shared session "
    "artifact — zero new kernels; the spine is the same one wide "
    "left-join over tiny drop/keep lists plus ONE partial-aggregated "
    "(source, lang) shuffle. At 100 TB each drop list is a parquet "
    "artifact and the CC runs over the banded candidate graph (never "
    "all-pairs), the dedup_clusters argument applied to the fifth "
    "family. reference: no analogue — training-pipeline extension.",
)
def pipeline_clean_corpus_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _clean_corpus_report(spark, sf_dir, with_simhash=True)


def _incremental_status_sql() -> str:
    """The capstone oracle's CTE chain through ``status(doc_id, source,
    stage)`` — shared by pipeline_incremental_ingest (per-source stage
    report) and pipeline_incremental_artifact_delta (the write side:
    artifact rows appended for kept docs). Callers prepend
    ``WITH RECURSIVE`` and append their report tail."""
    from iceberg_explorer_spark.operators.dedup import (
        _cc_closure_sql,
        _incr_verify_be_sql,
        _incremental_cls_sql,
        _incremental_edges_sql,
        _incremental_exact_sql,
        _SHH_SQL,
        _SHINGLE_SQL,
        INCR_MOD,
    )
    from iceberg_explorer_spark.operators.similarity import (
        _EMB_SQL,
        _srp_code_duckdb,
        NEAR_DUP_TAU,
    )

    return f"""{_incremental_exact_sql()},
    batch AS MATERIALIZED (
      SELECT doc_id, source FROM bflags WHERE seen = 0 AND is_canon = 1
    ),
    cands AS ({_LSH_CANDIDATES_SQL}),
    bc AS (
      SELECT doc_a, doc_b FROM cands
      WHERE doc_a % {INCR_MOD} = 0 OR doc_b % {INCR_MOD} = 0
    ),
    sh AS ({_SHINGLE_SQL}),
    shh AS ({_SHH_SQL}),
    {_incr_verify_be_sql()},
    {_incremental_edges_sql()},
    {_cc_closure_sql("bb", "id_a", "id_b", "comp")},
    {_incremental_cls_sql()},
    near_drop AS MATERIALIZED (
      SELECT doc_id FROM cls WHERE vs_corpus = 1 OR in_batch = 1
    ),
    batch2 AS MATERIALIZED (
      SELECT b.doc_id, b.source FROM batch b
      JOIN {_EMB_SQL} e ON e.vec_id = b.doc_id
      WHERE b.doc_id NOT IN (SELECT doc_id FROM near_drop)
    ),
    coded AS (
      SELECT vec_id, embedding, {_srp_code_duckdb('embedding')} AS bucket
      FROM {_EMB_SQL}
    ),
    prs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6)
               AS cos_sim
      FROM coded a JOIN coded b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    be2 AS MATERIALIZED (
      SELECT id_a, id_b FROM prs
      WHERE cos_sim >= {NEAR_DUP_TAU}
        AND (id_a % {INCR_MOD} = 0 OR id_b % {INCR_MOD} = 0)
    ),
    {_incremental_edges_sql(tag="2", be="be2", batch="batch2")},
    {_cc_closure_sql("bb2", "id_a", "id_b", "comp2", tag="2")},
    {_incremental_cls_sql(tag="2", be="be2", batch="batch2")},
    sem_drop AS (
      SELECT doc_id FROM cls2 WHERE vs_corpus = 1 OR in_batch = 1
    ),
    status AS MATERIALIZED (
      SELECT b.doc_id, b.source,
             CASE WHEN b.seen = 1 OR b.is_canon = 0 THEN 'exact'
                  WHEN nd.doc_id IS NOT NULL THEN 'near'
                  WHEN sd.doc_id IS NOT NULL THEN 'semantic'
                  ELSE 'kept' END AS stage
      FROM bflags b
      LEFT JOIN near_drop nd ON nd.doc_id = b.doc_id
      LEFT JOIN sem_drop sd ON sd.doc_id = b.doc_id
    )"""


@query(
    "pipeline_incremental_ingest",
    oracle=f"""
    WITH RECURSIVE {_incremental_status_sql()}
    SELECT source,
           COUNT(*) AS n_batch,
           COUNT(*) FILTER (WHERE stage = 'exact') AS n_drop_exact,
           COUNT(*) FILTER (WHERE stage = 'near') AS n_drop_near,
           COUNT(*) FILTER (WHERE stage = 'semantic') AS n_drop_semantic,
           COUNT(*) FILTER (WHERE stage = 'kept') AS n_kept
    FROM status GROUP BY source
    """,
    doc="The incremental capstone: the full three-stage daily-batch "
    "waterfall a production ingest runs — exact (the shared "
    "incremental_exact_flags stage: digest vs history + min-doc canon "
    "within the batch), lexical near (LSH+Jaccard at INCR_NEAR_TAU), "
    "semantic (embedding cosine at NEAR_DUP_TAU) — with per-stage "
    "FIRST-claim attribution per source: n_drop_exact + n_drop_near + "
    "n_drop_semantic + n_kept = n_batch exactly. SURVIVOR-AWARE BY "
    "CONSTRUCTION: each stage classifies only the previous stage's "
    "survivors (the shared incremental_component_cls spine restriction "
    "— an edge to an earlier-stage drop cannot elect a ghost "
    "representative), and an exact-dropped doc's content remains "
    "reachable to later stages through the corpus side because its "
    "canonical twin has IDENTICAL shingles/signature (an edge to the "
    "dropped copy implies the same-weight edge to its kept twin). Docs "
    "without embeddings pass the semantic stage untouched (it has no "
    "opinion outside its domain — same rule as "
    "dedup_incremental_semantic). Zero new kernels and ZERO private "
    "stage logic: the exact stage, the classification tail, and every "
    "oracle fragment are the same single-source definitions the three "
    "standalone siblings run. At 100 TB this is the nightly job shape: "
    "history contributes only its persisted artifacts (digest table, "
    "band→bucket table, shingle table, SRP bucket assignment), each "
    "stage's drop list is an increment-sized parquet artifact, and the "
    "only batch-proportional passes are the digest scan and the stage "
    "classifications.",
)
def pipeline_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    status = shared_incremental_status(spark, sf_dir)

    def _n(stage: str, alias: str):
        return F.count(F.when(F.col("stage") == stage, 1)).alias(alias)

    return status.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_batch"),
        _n("exact", "n_drop_exact"),
        _n("near", "n_drop_near"),
        _n("semantic", "n_drop_semantic"),
        _n("kept", "n_kept"),
    )


@shared_artifact("incr_status", tables=("documents", "embeddings"))
def shared_incremental_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``incremental_status`` materialized ONCE per corpus per session
    through the keyed artifact cache — a MULTI-TABLE kind: the waterfall
    reads documents AND embeddings, so the entry fingerprints both and a
    rewrite of either re-materializes. Production shape: the nightly job
    computes the batch's status table once and BOTH its consumers — the
    stage report (pipeline_incremental_ingest) and the artifact append
    bill (pipeline_incremental_artifact_delta) — read that artifact;
    before round 11 each consumer re-ran the full exact→near→semantic
    waterfall per call (disclosed in SCALE.md round-10 as the known
    recompute). The increment-sized (doc_id, source, stage) frame is the
    cheapest checkpoint in the family."""
    return incremental_status(spark, sf_dir)


def incremental_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, stage) for every batch doc — the capstone's
    waterfall through first-claim attribution, shared by
    pipeline_incremental_ingest (stage report) and
    pipeline_incremental_artifact_delta (the write side; both consume it
    through the session-cached ``shared_incremental_status``). The
    executable twin of ``_incremental_status_sql``."""
    from iceberg_explorer_spark.operators.dedup import (
        INCR_MOD,
        INCR_NEAR_TAU,
        incremental_exact_flags,
        jaccard_verify,
        shared_hashed_shingles,
    )
    from iceberg_explorer_spark.operators.similarity import (
        _load_emb,
        shared_semantic_edges,
    )

    docs = load_table(spark, sf_dir, "documents")
    # the per-batch-doc exact flags feed TWO branches (the survivor
    # spine and the status attribution) — checkpoint the increment-sized
    # flag table once; every later stage reads columns off it instead of
    # re-running the digest shuffle
    flags = incremental_exact_flags(docs).localCheckpoint(eager=True)
    sh = shared_hashed_shingles(spark, sf_dir)
    cands = shared_lsh_candidates(spark, sf_dir).select("doc_a", "doc_b")
    bc = cands.filter(
        (F.col("doc_a") % INCR_MOD == 0) | (F.col("doc_b") % INCR_MOD == 0)
    )
    be = (
        jaccard_verify(bc, sh, threshold=INCR_NEAR_TAU)
        .select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"))
        .localCheckpoint(eager=True)
    )
    be2 = shared_semantic_edges(spark, sf_dir).filter(
        (F.col("id_a") % INCR_MOD == 0) | (F.col("id_b") % INCR_MOD == 0)
    ).select("id_a", "id_b")
    # fanout=False: a bare id projection — nothing to parallelize
    emb_ids = _load_emb(spark, sf_dir, fanout=False).select(
        F.col("vec_id").alias("doc_id")
    )
    return assemble_incremental_status(flags, be, be2, emb_ids)


def assemble_incremental_status(
    flags: DataFrame,
    be: DataFrame,
    be2: DataFrame,
    emb_ids: DataFrame,
    batch_members: DataFrame | None = None,
) -> DataFrame:
    """The waterfall tail shared by the in-session and persisted-artifact
    status paths: given the exact-stage ``flags``, the batch-touching
    verified near edges ``be (id_a, id_b)``, the batch-touching semantic
    edges ``be2`` and the embedded-doc id frame ``emb_ids``, produce
    (doc_id, source, stage). ONE definition — the two paths must only
    ever differ in WHERE history comes from (recomputation vs parquet
    artifacts), never in how stages compose. ``batch_members`` (a
    doc_id frame of the full batch population) switches edge-endpoint
    classification from the id-parity fixture to membership — the
    production rule the artifact path passes so day-2 edges to day-1
    appended docs read as corpus contact (see
    incremental_component_cls). It feeds both classification calls
    as given, so hand it in materialized and one row per id."""
    from iceberg_explorer_spark.operators.dedup import (
        incremental_component_cls,
    )

    exact_keep = (F.col("seen") == 0) & (F.col("is_canon") == 1)
    surv1 = flags.filter(exact_keep).select("doc_id", "source")
    # cls1 feeds TWO branches (the near drop list for the status join
    # and the stage-2 survivor spine) — one eager checkpoint of the
    # increment-sized classification, both consumers filter it
    cls1 = incremental_component_cls(
        be, surv1, batch_members=batch_members
    ).localCheckpoint(eager=True)
    dropped = (F.col("vs_corpus") == 1) | (F.col("in_batch") == 1)
    near_drops = cls1.filter(dropped).select(
        "doc_id", F.lit(True).alias("near_drop")
    )
    surv2 = cls1.filter(~dropped).select("doc_id", "source")
    batch2 = surv2.join(emb_ids, "doc_id")
    cls2 = incremental_component_cls(
        be2, batch2, batch_members=batch_members
    )
    sem_drops = cls2.filter(dropped).select(
        "doc_id", F.lit(True).alias("sem_drop")
    )
    return (
        flags.join(near_drops, "doc_id", "left")
        .join(sem_drops, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.when(~exact_keep, F.lit("exact"))
            .when(F.col("near_drop").isNotNull(), F.lit("near"))
            .when(F.col("sem_drop").isNotNull(), F.lit("semantic"))
            .otherwise(F.lit("kept"))
            .alias("stage"),
        )
    )


def _artifact_delta_tail_sql(
    status_cte: str = "status", pairs: bool = False
) -> str:
    """The delta report's CTE tail + SELECT over a (doc_id, source,
    stage) status CTE — ONE definition of the append bill, shared by the
    v1 oracle (three-stage ``status``) and the v2 oracle (four-stage
    ``status4``, which also bills the pair-key rows the v2 nightly
    appends; ``pairs=True`` requires the ``pkeys`` CTE in scope)."""
    from iceberg_explorer_spark.operators.dedup import N_BANDS
    from iceberg_explorer_spark.operators.similarity import _EMB_SQL

    kpair_cte = """,
    kpair AS (
      SELECT p.doc_id FROM pkeys p
      JOIN kept k ON k.doc_id = p.doc_id
    )""" if pairs else ""
    kpair_join = (
        "LEFT JOIN kpair q ON q.doc_id = k.doc_id" if pairs else ""
    )
    kpair_col = (
        ", CASE WHEN q.doc_id IS NOT NULL THEN 1 ELSE 0 END AS has_pair"
        if pairs
        else ""
    )
    pairs_out = (
        ", COUNT(*) FILTER (WHERE has_pair = 1) AS n_pair_rows"
        if pairs
        else ""
    )
    return f"""kept AS MATERIALIZED (
      SELECT doc_id, source FROM {status_cte} WHERE stage = 'kept'
    ),
    ksh AS (
      SELECT s.doc_id, COUNT(*) AS n_sh
      FROM (SELECT DISTINCT doc_id, hb FROM shh) s
      JOIN kept k ON k.doc_id = s.doc_id
      GROUP BY s.doc_id
    ),
    kemb AS (
      SELECT e.vec_id AS doc_id FROM {_EMB_SQL} e
      JOIN kept k ON k.doc_id = e.vec_id
    ){kpair_cte},
    per AS (
      SELECT k.doc_id, k.source, s.n_sh,
             CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END AS has_emb
             {kpair_col}
      FROM kept k
      LEFT JOIN ksh s ON s.doc_id = k.doc_id
      LEFT JOIN kemb m ON m.doc_id = k.doc_id
      {kpair_join}
    )
    SELECT source,
           COUNT(*) AS n_docs_appended,
           CAST(COALESCE(SUM(n_sh), 0) AS BIGINT) AS n_shingle_rows,
           COUNT(*) FILTER (WHERE n_sh IS NOT NULL) AS n_signature_rows,
           COUNT(*) FILTER (WHERE n_sh IS NOT NULL) * {N_BANDS}
             AS n_band_rows,
           COUNT(*) FILTER (WHERE has_emb = 1) AS n_embedding_rows
           {pairs_out}
    FROM per GROUP BY source
    """


def _artifact_delta_oracle() -> str:
    return f"""
    WITH RECURSIVE {_incremental_status_sql()},
    {_artifact_delta_tail_sql()}
    """


@query(
    "pipeline_incremental_artifact_delta",
    oracle=_artifact_delta_oracle(),
    doc="The WRITE side of the incremental ingest story: after the "
    "capstone's waterfall decides what survives, the nightly job "
    "APPENDS the kept docs to the corpus's persisted dedup artifacts — "
    "this report quantifies exactly those appends per source: one "
    "digest row per kept doc (n_docs_appended), the distinct "
    "shingle-hash rows (n_shingle_rows — what the (doc_id, hb) table "
    "grows by), one MinHash signature row per kept doc that HAS "
    "shingles (n_signature_rows — a kept doc under 3 words, e.g. NULL "
    "text, appends none), N_BANDS band→bucket rows per signature "
    "(n_band_rows), and one SRP bucket-assignment row per kept doc "
    "with a valid embedding (n_embedding_rows). Reuses the shared "
    "status waterfall (incremental_status) and the session shingle "
    "checkpoint — zero new kernels. At 100 TB these five counts ARE "
    "the nightly artifact-maintenance bill: every append is "
    "increment-sized, history is never rewritten, and the report is "
    "what a capacity planner watches to see artifact growth per "
    "source.",
)
def pipeline_incremental_artifact_delta(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # kept is a filter of the session-cached status checkpoint
    # (shared_incremental_status) — its three consumer branches (shingle
    # counts, embedding probe, the per-doc spine) all read the
    # materialized blocks, so the earlier per-call keep-list checkpoint
    # became a redundant eager job
    kept = (
        shared_incremental_status(spark, sf_dir)
        .filter(F.col("stage") == "kept")
        .select("doc_id", "source")
    )
    return _artifact_delta_report(spark, sf_dir, kept)


def _artifact_delta_report(
    spark: SparkSession, sf_dir: str, kept: DataFrame, pairs: bool = False
) -> DataFrame:
    """The per-source append bill over a (doc_id, source) keep-list —
    the Spark twin of ``_artifact_delta_tail_sql``, ONE definition
    shared by the v1 (three-stage kept) and v2 (four-stage kept +
    ``pairs=True`` for the pair-key column) deltas, so the five shared
    counts cannot fork between them."""
    from iceberg_explorer_spark.operators.dedup import (
        N_BANDS,
        shared_hashed_shingles,
    )
    from iceberg_explorer_spark.operators.similarity import _load_emb

    shc = (
        shared_hashed_shingles(spark, sf_dir)
        .join(kept.select("doc_id"), "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    # probe the corpus-sized embeddings table WITH the increment-sized
    # kept list (semi-join) before the left join — kept is the preserved
    # side there, so without the reduction the full embeddings table
    # would shuffle; this is the oracle's kemb shape
    emb = (
        # fanout=False: a bare id projection — nothing to parallelize
        _load_emb(spark, sf_dir, fanout=False)
        .select(F.col("vec_id").alias("doc_id"))
        .join(kept.select("doc_id"), "doc_id", "left_semi")
        .withColumn("has_emb", F.lit(1))
    )
    per = kept.join(shc, "doc_id", "left").join(emb, "doc_id", "left")
    extra_cols = []
    if pairs:
        from iceberg_explorer_spark.operators.multimodal import (
            shared_pair_keys,
        )

        pair = (
            shared_pair_keys(spark, sf_dir)
            .select("doc_id")
            .join(kept.select("doc_id"), "doc_id", "left_semi")
            .withColumn("has_pair", F.lit(1))
        )
        per = per.join(pair, "doc_id", "left")
        extra_cols = [
            F.count(F.when(F.col("has_pair") == 1, 1)).alias("n_pair_rows")
        ]
    n_sig = F.count(F.when(F.col("n_sh").isNotNull(), 1))
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_appended"),
        F.coalesce(F.sum("n_sh"), F.lit(0))
        .cast("bigint")
        .alias("n_shingle_rows"),
        n_sig.alias("n_signature_rows"),
        (n_sig * N_BANDS).alias("n_band_rows"),
        F.count(F.when(F.col("has_emb") == 1, 1)).alias("n_embedding_rows"),
        *extra_cols,
    )


def _incremental_status_v2_sql() -> str:
    """CTE chain from the three-stage ``status`` through the four-stage
    ``status4(doc_id, source, stage)`` — callers prepend
    ``WITH RECURSIVE {_incremental_status_sql()},`` and append their
    report tail. ONE definition shared by the v2 capstone and its
    artifact delta (the same single-source discipline as
    ``_incremental_status_sql``); requires the ``pkeys`` fragment,
    which it includes."""
    from iceberg_explorer_spark.operators.dedup import INCR_MOD
    from iceberg_explorer_spark.operators.multimodal import _pair_keys_sql

    return f"""{_pair_keys_sql()},
    vphist AS (
      SELECT DISTINCT ahash, caption_fp FROM pkeys
      WHERE doc_id % {INCR_MOD} <> 0
    ),
    vsk AS MATERIALIZED (
      SELECT st.doc_id, st.source, k.ahash, k.caption_fp
      FROM status st JOIN pkeys k ON k.doc_id = st.doc_id
      WHERE st.stage = 'kept'
    ),
    vsmin AS (
      SELECT ahash, caption_fp, MIN(doc_id) AS k FROM vsk
      GROUP BY ahash, caption_fp
    ),
    vpdrop AS (
      SELECT s.doc_id FROM vsk s
      JOIN vsmin m ON m.ahash = s.ahash AND m.caption_fp = s.caption_fp
      LEFT JOIN vphist hk
        ON hk.ahash = s.ahash AND hk.caption_fp = s.caption_fp
      WHERE hk.ahash IS NOT NULL OR s.doc_id <> m.k
    ),
    status4 AS MATERIALIZED (
      SELECT st.doc_id, st.source,
             CASE WHEN p.doc_id IS NOT NULL THEN 'paired'
                  ELSE st.stage END AS stage
      FROM status st LEFT JOIN vpdrop p ON p.doc_id = st.doc_id
    )"""


def _incremental_v2_oracle() -> str:
    return f"""
    WITH RECURSIVE {_incremental_status_sql()},
    {_incremental_status_v2_sql()}
    SELECT source,
           COUNT(*) AS n_batch,
           COUNT(*) FILTER (WHERE stage = 'exact') AS n_drop_exact,
           COUNT(*) FILTER (WHERE stage = 'near') AS n_drop_near,
           COUNT(*) FILTER (WHERE stage = 'semantic') AS n_drop_semantic,
           COUNT(*) FILTER (WHERE stage = 'paired') AS n_drop_paired,
           COUNT(*) FILTER (WHERE stage = 'kept') AS n_kept
    FROM status4 GROUP BY source
    """


@shared_artifact("incr_status_v2", tables=("documents", "embeddings"))
def shared_incremental_status_v2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``incremental_status_v2`` materialized ONCE per corpus per session
    (fingerprinting documents AND embeddings — the pair keys read
    documents, the inner status both): the v2 capstone and its artifact
    delta each consume the four-stage status; without this they would
    re-run the paired-stage probe per call — the same per-consumer
    recompute the three-stage ``shared_incremental_status`` exists to
    prevent."""
    return incremental_status_v2(spark, sf_dir)


def incremental_status_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, stage) for every batch doc under the FOUR-stage
    waterfall — stages 1-3 from the session-cached
    ``shared_incremental_status``, the paired stage from the shared
    exact-match rule over the third stage's survivors (see
    pipeline_incremental_ingest_v2's doc). Shared by the v2 capstone
    (stage report) and pipeline_incremental_artifact_delta_v2 (the
    write side; both consume it through the session-cached
    ``shared_incremental_status_v2``) — the executable twin of
    ``_incremental_status_v2_sql`` inside ``_incremental_v2_oracle``."""
    from iceberg_explorer_spark.operators.dedup import (
        INCR_MOD,
        incremental_seen_canon_flags,
    )
    from iceberg_explorer_spark.operators.multimodal import shared_pair_keys

    status = shared_incremental_status(spark, sf_dir)
    keys = shared_pair_keys(spark, sf_dir)
    is_b = F.col("doc_id") % INCR_MOD == 0
    # the paired stage = the shared exact-match rule instantiated over
    # the third stage's SURVIVORS (their keys are the rows; history is
    # the corpus side of the shared key table) — canonical selection is
    # therefore survivor-aware: the key-min is taken among survivors
    surv_keys = (
        status.filter(F.col("stage") == "kept")
        .select("doc_id")
        .join(keys.filter(is_b), "doc_id")
        .select("doc_id", "source", "ahash", "caption_fp")
    )
    pflags = incremental_seen_canon_flags(
        surv_keys,
        ["ahash", "caption_fp"],
        history_keys=keys.filter(~is_b).select("ahash", "caption_fp"),
    )
    pdrop = pflags.filter(
        (F.col("seen") == 1) | (F.col("is_canon") == 0)
    ).select("doc_id", F.lit(True).alias("paired_drop"))
    return status.join(pdrop, "doc_id", "left").select(
        "doc_id",
        "source",
        F.when(F.col("paired_drop").isNotNull(), F.lit("paired"))
        .otherwise(F.col("stage"))
        .alias("stage"),
    )


@query(
    "pipeline_incremental_ingest_v2",
    oracle=_incremental_v2_oracle(),
    doc="The v2 incremental capstone: the daily-batch waterfall across "
    "ALL FOUR dedup families — exact, lexical near, semantic, and the "
    "cross-modal PAIRED stage the three-stage capstone lacked — making "
    "the incremental story symmetric with pipeline_clean_corpus_v2's "
    "backfill (same four families, first-claim attribution, n_drop_* + "
    "n_kept partitions n_batch exactly). The paired stage reuses the "
    "shared exact-match rule (incremental_seen_canon_flags) over the "
    "THIRD stage's survivors: a surviving batch doc drops when its "
    "(ahash, caption_fp) key already exists in the corpus's pair-key "
    "history, or when a SMALLER-id survivor holds the same key — "
    "survivor-aware by construction, since the key-min is taken over "
    "survivors only (a pair group whose min fell at exact/near/semantic "
    "keeps its surviving member instead of losing every copy). Zero new "
    "kernels and zero private stage logic: stages 1-3 ARE "
    "shared_incremental_status (the session-cached waterfall both v1 "
    "capstones read) and the pair keys ARE shared_pair_keys (the "
    "session-cached mirror of the persisted 'pairs' artifact). At "
    "100 TB the marginal cost over the v1 capstone is one probe of the "
    "batch's survivor keys against the bucketed pair-key artifact — "
    "O(survivors), no history shuffle, image bytes never decoded for "
    "history (the artifact already holds its keys). reference: no "
    "analogue — training-pipeline extension.",
)
def pipeline_incremental_ingest_v2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    status4 = shared_incremental_status_v2(spark, sf_dir)

    def _n(stage: str, alias: str):
        return F.count(F.when(F.col("stage") == stage, 1)).alias(alias)

    return status4.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_batch"),
        _n("exact", "n_drop_exact"),
        _n("near", "n_drop_near"),
        _n("semantic", "n_drop_semantic"),
        _n("paired", "n_drop_paired"),
        _n("kept", "n_kept"),
    )


@query(
    "pipeline_incremental_artifact_delta_v2",
    oracle=f"""
    WITH RECURSIVE {_incremental_status_sql()},
    {_incremental_status_v2_sql()},
    {_artifact_delta_tail_sql(status_cte="status4", pairs=True)}
    """,
    doc="The WRITE side of the FOUR-stage incremental story: the rows "
    "the v2 nightly job appends per source for the docs that survive "
    "all four stages. Same five counts as the v1 delta (digest, "
    "distinct shingle, signature, band, SRP-assignment rows — shared "
    "tail definition, _artifact_delta_tail_sql) plus n_pair_rows (one "
    "(ahash, caption_fp) key row per kept doc in the pair-key domain — "
    "the history the paired stage itself probes tomorrow). The bill "
    "DIFFERS from v1's exactly where the fourth stage bites: a "
    "paired-dropped doc appends NOTHING, so each of its would-be rows "
    "leaves the bill — and closing this loop makes the append side "
    "consistent with incremental_artifacts.append_incremental_artifacts"
    "'s five files. Composition: kept list is a filter of the SHARED "
    "incremental_status_v2 (zero private stage logic), the pair probe "
    "reads the session-shared key table, and the corpus-sized shingle/"
    "embedding tables are semi-join-reduced to the increment before "
    "their left joins — the same scale-correct order as the v1 delta. "
    "At 100 TB every count is increment-sized; history is never "
    "rewritten. reference: no analogue — training-pipeline extension.",
)
def pipeline_incremental_artifact_delta_v2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # kept is a filter of the session-cached four-stage status — the
    # four consumer branches inside the shared report (shingle counts,
    # embedding probe, pair probe, per-doc spine) read the same
    # materialized blocks (the v1 delta's pattern, plus the pair branch)
    kept = (
        shared_incremental_status_v2(spark, sf_dir)
        .filter(F.col("stage") == "kept")
        .select("doc_id", "source")
    )
    return _artifact_delta_report(spark, sf_dir, kept, pairs=True)


@query(
    "pipeline_domain_caps",
    oracle="""
    WITH t AS (
      SELECT source,
             CAST(SUM(len(list_filter(string_split(text, ' '),
                                      w -> w <> ''))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    g AS (
      SELECT source, n_tokens,
             CAST(SUM(n_tokens) OVER () AS BIGINT) AS total,
             CAST(COUNT(*) OVER () AS BIGINT) AS n_src,
             CAST(ROW_NUMBER() OVER (ORDER BY n_tokens, source) AS BIGINT)
               AS rn,
             CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY n_tokens, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS below
      FROM t
    ),
    lv AS (
      SELECT *, total // 2 AS budget,
             CAST((total // 2) - below AS DOUBLE) / (n_src - rn + 1) AS cand
      FROM g
    ),
    pick AS (
      SELECT *, MIN(CASE WHEN cand <= n_tokens THEN rn END) OVER ()
                  AS pick_rn
      FROM lv
    ),
    tau AS (
      SELECT *, MAX(CASE WHEN rn = pick_rn THEN cand END) OVER () AS cap
      FROM pick
    )
    SELECT source, n_tokens,
           ROUND(CAST(n_tokens AS DOUBLE) / NULLIF(total, 0), 6)
             AS share_before,
           ROUND(cap, 6) AS cap_level,
           ROUND(LEAST(CAST(n_tokens AS DOUBLE), cap), 6)
             AS allocated_tokens,
           ROUND(LEAST(CAST(n_tokens AS DOUBLE), cap) / NULLIF(budget, 0), 6)
             AS share_after,
           n_tokens > cap AS capped
    FROM tau
    """,
    doc="Water-filling domain caps (r15) — the closed-form answer to "
    "'cap the over-represented domains so the mix fits a token budget "
    "without starving the small ones': find the unique level tau with "
    "sum_d min(tokens_d, tau) = budget (here budget = total DIV 2, the "
    "exact-integer half-corpus), allocate every domain min(its tokens, "
    "tau), and report before/after shares plus the capped flag. The "
    "classic iterative water-filling loop is replaced by its sorted "
    "closed form — ascending prefix sums give each rank a candidate "
    "level (budget - below)/k, and the FIRST candidate at or under its "
    "own domain's total is tau — so the whole optimization is one "
    "corpus-scan token aggregation plus windows over the O(|sources|) "
    "per-domain frame (coalesced to one partition: no second exchange, "
    "the temperature-mix plan discipline). Conservation holds by "
    "construction: allocations sum to the budget — uncapped domains "
    "contribute exact integers, the k capped ones k*tau = budget - "
    "below exactly in real arithmetic, within one double rounding of "
    "the final division in floats (the claims test bounds it). "
    "Determinism: "
    "BIGINT token sums, integer-DIV budget, tau derived from exact "
    "integers in one double division, round-6 outputs, (n_tokens, "
    "source) total order. At 100 TB the shape is unchanged — the heavy "
    "half is the token aggregation (map-side partial), the optimization "
    "runs on rows-per-domain, and tau feeds the downstream sampler as "
    "one broadcast scalar. reference: no analogue — training-pipeline "
    "extension (the budgeted complement of pipeline_domain_mix / "
    "temperature_mix, which reweight without a hard budget).",
)
def pipeline_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    t = (
        docs.select("source", _n_tokens().alias("d"))
        .groupBy("source")
        .agg(F.sum("d").cast("bigint").alias("n_tokens"))
    )
    w_all = W.partitionBy()
    w_ord = W.partitionBy().orderBy("n_tokens", "source")
    g = t.coalesce(1).select(
        "source",
        "n_tokens",
        F.sum("n_tokens").over(w_all).cast("bigint").alias("total"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n_src"),
        F.row_number().over(w_ord).cast("bigint").alias("rn"),
        F.coalesce(
            F.sum("n_tokens").over(
                w_ord.rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("below"),
    )
    lv = g.withColumn("budget", F.expr("total DIV 2")).withColumn(
        "cand",
        (F.col("budget") - F.col("below")).cast("double")
        / (F.col("n_src") - F.col("rn") + 1),
    )
    pick = lv.withColumn(
        "pick_rn",
        F.min(
            F.when(F.col("cand") <= F.col("n_tokens"), F.col("rn"))
        ).over(w_all),
    )
    tau = pick.withColumn(
        "cap",
        F.max(
            F.when(F.col("rn") == F.col("pick_rn"), F.col("cand"))
        ).over(w_all),
    )
    alloc = F.least(F.col("n_tokens").cast("double"), F.col("cap"))
    # degenerate-corpus guard (r16, ADVICE): an all-empty-text corpus has
    # total = 0 (and total = 1 has budget = 0) — the shares are then 0/0,
    # which Spark non-ANSI folds to NULL but DuckDB's IEEE doubles render
    # NaN. NULLIF on the oracle side + explicit NULL-denominator guards
    # here keep the two engines identical: both shares are NULL, the cap
    # algebra itself is well-defined (tau = 0, everything uncapped at 0).
    return tau.select(
        "source",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double")
            / F.nullif(F.col("total"), F.lit(0)),
            6,
        ).alias("share_before"),
        F.round(F.col("cap"), 6).alias("cap_level"),
        F.round(alloc, 6).alias("allocated_tokens"),
        F.round(alloc / F.nullif(F.col("budget"), F.lit(0)), 6).alias(
            "share_after"
        ),
        (F.col("n_tokens") > F.col("cap")).alias("capped"),
    )
