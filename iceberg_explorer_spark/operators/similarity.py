"""Similarity search over embedding columns (north-star extension).

Two tiers, as a 100 TB pipeline needs:

- brute-force cosine top-k: the exactness baseline. A broadcast of the query
  vector + one pass over the corpus; `aggregate`/`zip_with` keep the math
  JVM-side (no Python UDF in the hot path). TakeOrderedAndProject gives the
  global top-k without a full sort.
- SRP-LSH bucketed ANN: signed-random-projection codes shrink the candidate
  set; the bucket key becomes the shuffle/join key so the search never goes
  quadratic. Hyperplane signs are derived from md5 so Spark and the oracle
  share them deterministically (no RNG).

Determinism: both engines compute dot/norms over the list in order with
doubles; scores are rounded to 6 decimals (error ~1e-15 ≪ rounding grain)
and tie-broken by vec_id, so top-k membership is engine-independent.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_explorer_spark.operators.dedup import (
    _cc_closure_sql,
    _cc_labels,
    _incremental_edges_sql,
    _incremental_report_sql,
    incremental_component_report,
    INCR_MOD,
    shared_artifact,
)
from iceberg_explorer_spark.operators.registry import query
from iceberg_explorer_spark.sources.registry import (
    eager_checkpoints,
    load_table,
    repartition_for_compute,
)

DIM = 64
N_PLANES = 4  # 16 buckets; enough selectivity at test scale
QUERY_VEC_ID = 0
#: near-dup cosine threshold. Production pipelines run ~0.95; the synthetic
#: corpus has no true duplicates, so the threshold sits where the
#: distribution has mass to keep the operator exercised. MEASURED, not
#: asserted: the similarity_semantic_tau_sweep grid at sf0.1 (SCALE.md
#: "tau-sweep calibration record") shows 0.40 is the knee — 179 edges
#: (0.14% of bucketed pairs) vs 40 at 0.45 (too sparse for differential
#: evidence) and 649 at 0.35 (noise edges triple the graph); the corpus
#: has ZERO pairs >= 0.65, so a production ~0.9 setting would leave
#: nothing to cluster. Re-read this constant off the same sweep on any
#: real corpus.
NEAR_DUP_TAU = 0.4
IVF_K = 8  # coarse-quantizer lists
IVF_NPROBE = 2

#: Refine shortlist size: the ADC stage keeps its top REFINE_R
#: candidates (total-ordered: approx score DESC, vec_id), and ONLY
#: those R rows are re-ranked with exact cosines. Scale-independent by
#: construction — the exact stage's cost is O(R) raw-vector reads no
#: matter the corpus size. R > k by 3x so ADC quantization error has
#: room to misorder near-ties without pushing a true top-k row off the
#: shortlist entirely (the residual failure mode is documented, not
#: hidden: a true neighbor ADC-ranked below R stays lost).
REFINE_R = 30

#: The similarity input contract, as DuckDB SQL — the single source every
#: oracle interpolates (15 sites; a copy-pasted literal would let one
#: missed site silently run an older contract). Mirrored exactly by
#: ``_load_emb`` on the Spark side; see its docstring for the rationale
#: of each clause.
_EMB_SQL = (
    "(SELECT * FROM embeddings WHERE embedding IS NOT NULL"
    f" AND len(embedding) = {DIM}"  # from DIM, same constant as _load_emb
    " AND len(list_filter(embedding, x -> x IS NULL)) = 0"
    " AND len(list_filter(embedding, x -> x <> 0)) > 0)"
)


def _load_emb(
    spark: SparkSession, sf_dir: str, *, fanout: bool = True
) -> DataFrame:
    """The embeddings table with the similarity input contract applied:
    the vector is NOT NULL and has at least one nonzero element.

    ``fanout=True`` (default) spreads a narrow scan across the cluster via
    ``repartition_for_compute`` BEFORE the contract filter: the embedding
    family's per-row map work (normalization, centroid dots, sub-chunk
    explodes — all interpreted higher-order-lambda math at ~0.3-0.5 ms per
    64-dim dot) dominates its scan by orders of magnitude, so a
    single-split input file would otherwise serialize the whole chain on
    one core (measured at sf0.1, r17: the family sum dropped 25.7 s →
    21.4 s with the fan-out; similarity_ivf_topk's assignment stage alone
    0.87 s → 0.05 s). At real scale the scan is already wide and the guard
    no-ops — see ``repartition_for_compute``. The two single-pass cheap
    consumers (brute-force top-k, LSH ANN) opt out: their map work is one
    dot per row, where the extra exchange costs more than it buys.

    A row without a vector does not participate in similarity: Spark's
    array functions would propagate NULL quietly (surfacing NULL cosines
    inside top-k results), while DuckDB's list_* functions hard-error the
    whole query on one NULL. An all-zero vector is a degenerate embedding
    (failed upstream job): its cosine is 0/0, which Spark's double
    division turns into NULL and DuckDB's into NULL list elements that
    then hard-error — so BOTH engines exclude both cases explicitly; the
    nonzero test is exact (squares can't cancel). The vector must also be
    EXACTLY ``DIM`` long: DuckDB's list_* functions hard-error on length
    mismatches while Spark's fold would silently dot the common prefix —
    a ragged vector is a malformed embedding either way. A vector with a
    NULL ELEMENT is excluded for the same reason as a NULL vector
    (DuckDB hard-errors, Spark NULL-propagates). Every oracle reads FROM
    the ``_EMB_SQL`` subquery, the DuckDB mirror of exactly these four
    clauses. Exercised by the adversarial-embeddings sweep in
    tests/test_properties.py.

    (Perf note, measured at sf0.1: replacing the interpreted
    aggregate/zip_with fold with a 64-term unrolled element_at expression
    REGRESSED every consumer — e.g. similarity_ivf_topk 0.92 s → 1.78 s —
    the giant generated expression blows past codegen's method limits and
    evaluates element-by-element with per-access bounds checks. The fold
    stays.)
    """
    df = load_table(spark, sf_dir, "embeddings")
    if fanout:
        df = repartition_for_compute(df)
    return _apply_emb_contract(df)


def _apply_emb_contract(df: DataFrame) -> DataFrame:
    """The four input-contract clauses, factored so non-table frames
    (e.g. the IVF store's nightly append increment) apply the identical
    rule — see ``_load_emb`` for the rationale of each clause."""
    return df.filter(
        F.col("embedding").isNotNull()
        & (F.size("embedding") == DIM)
        # no NULL elements: DuckDB's list functions hard-error on them
        # while Spark's fold NULL-propagates — same class as a NULL vector
        & (
            F.size(F.filter(F.col("embedding"), lambda x: x.isNull())) == 0
        )
        & (
            F.size(F.filter(F.col("embedding"), lambda x: x != F.lit(0.0)))
            > 0
        )
    )


def _plane_signs(plane: int, dim: int = DIM) -> list[int]:
    """Deterministic ±1 hyperplane components from md5 (shared with oracle)."""
    return [
        1 if hashlib.md5(f"srp:{plane}:{i}".encode()).digest()[0] % 2 == 1 else -1
        for i in range(dim)
    ]


def _srp_code_sql(vec_sql: str) -> str:
    """Spark SQL for the SRP bucket code (element_at is 1-based)."""
    bits = []
    for p in range(N_PLANES):
        terms = " + ".join(
            f"({s} * CAST(element_at({vec_sql}, {i + 1}) AS DOUBLE))"
            for i, s in enumerate(_plane_signs(p))
        )
        bits.append(f"(CASE WHEN ({terms}) > 0 THEN {1 << p} ELSE 0 END)")
    return "CAST(" + " + ".join(bits) + " AS INT)"


def _srp_code_duckdb(vec_sql: str) -> str:
    bits = []
    for p in range(N_PLANES):
        terms = " + ".join(
            f"({s} * CAST({vec_sql}[{i + 1}] AS DOUBLE))"
            for i, s in enumerate(_plane_signs(p))
        )
        bits.append(f"(CASE WHEN ({terms}) > 0 THEN {1 << p} ELSE 0 END)")
    return "CAST(" + " + ".join(bits) + " AS INTEGER)"


_COS_SPARK = (
    "aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>), CAST({b} AS ARRAY<DOUBLE>),"
    " (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    " / (sqrt(aggregate(CAST({a} AS ARRAY<DOUBLE>), CAST(0 AS DOUBLE),"
    " (acc, v) -> acc + v * v))"
    " * sqrt(aggregate(CAST({b} AS ARRAY<DOUBLE>), CAST(0 AS DOUBLE),"
    " (acc, v) -> acc + v * v)))"
)

_DOT_SPARK = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
    " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)


def _seed_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Un-fanned, contract-filtered, normalized frame for the O(K) SEED
    subtrees (IVF centroids, PQ codebook/query rows, broadcast query
    vectors). The corpus fan-out spread has no business under a tiny
    broadcast subtree (VERDICT r17 #3): deriving seeds from the fanned
    corpus frame inherited a RoundRobin exchange + 32 tasks per seed
    job, while this frame's vec_id filters push into the parquet scan
    and each seed job is a single cheap task. Row-identical to filtering
    the fanned frame — the spread only moves rows."""
    return _with_normalized(_load_emb(spark, sf_dir, fanout=False))


def _with_normalized(df: DataFrame, out: str = "ne") -> DataFrame:
    """Add an L2-normalized copy of ``embedding`` as column ``out``.

    Normalizing once per VECTOR (linear work, before any join) turns every
    per-PAIR cosine into a bare dot product. Higher-order array lambdas are
    interpreted, not codegen'd, so cutting 3 aggregates/pair to 1 moves the
    bottleneck from the lambda back to the join itself. The norm is
    materialized as its own projected column first — inlining it into the
    transform lambda would re-evaluate the aggregate per element (O(dim²)).
    """
    return df.withColumn(
        "_nrm",
        F.expr(
            "sqrt(aggregate(CAST(embedding AS ARRAY<DOUBLE>),"
            " CAST(0 AS DOUBLE), (acc, e) -> acc + e * e))"
        ),
    ).withColumn(
        out,
        F.expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> x / _nrm)"),
    ).drop("_nrm")


@query(
    "similarity_bruteforce_topk",
    oracle=f"""
    WITH q AS MATERIALIZED (
      SELECT embedding AS qe FROM {_EMB_SQL} WHERE vec_id = {QUERY_VEC_ID}
    )
    SELECT e.vec_id, e.label,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.qe AS DOUBLE[])), 6) AS cos_sim
    FROM {_EMB_SQL} e, q
    WHERE e.vec_id <> {QUERY_VEC_ID}
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
    doc="Brute-force cosine top-k: broadcast the query vector, one JVM-side "
    "pass (aggregate/zip_with — no Python), TakeOrderedAndProject top-k. "
    "The exact baseline ANN variants are checked against.",
)
def similarity_bruteforce_topk(
    spark: SparkSession, sf_dir: str, *, emb: DataFrame | None = None
) -> DataFrame:
    # ``emb``: optional pre-built embeddings frame — the recall report
    # passes its session-scoped persisted scan so all variants share ONE
    # in-memory corpus without caching the bare table plan session-wide.
    # fanout=False: one dot per row is cheaper than the fan-out exchange.
    emb = emb if emb is not None else _load_emb(spark, sf_dir, fanout=False)
    qvec = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qe")
    )
    cos = F.expr(_COS_SPARK.format(a="embedding", b="qe"))
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(qvec))
        .select("vec_id", "label", F.round(cos, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


@query(
    "similarity_lsh_ann",
    oracle=f"""
    WITH coded AS (
      SELECT vec_id, embedding,
             {_srp_code_duckdb('embedding')} AS bucket
      FROM {_EMB_SQL}
    ),
    q AS MATERIALIZED (SELECT embedding AS qe, bucket AS qbucket FROM coded
          WHERE vec_id = {QUERY_VEC_ID})
    SELECT c.vec_id, c.bucket,
           ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                        CAST(q.qe AS DOUBLE[])), 6) AS cos_sim
    FROM coded c, q
    WHERE c.bucket = q.qbucket AND c.vec_id <> {QUERY_VEC_ID}
    ORDER BY cos_sim DESC, c.vec_id
    LIMIT 5
    """,
    doc="SRP-LSH approximate NN: md5-derived ±1 hyperplanes → 4-bit bucket "
    "code; candidates are the query's bucket only. At scale the bucket code "
    "is the shuffle key (join/groupBy on it) — candidate generation is "
    "linear, never pairwise.",
)
def similarity_lsh_ann(
    spark: SparkSession, sf_dir: str, *, emb: DataFrame | None = None
) -> DataFrame:
    # fanout=False: one SRP code + one dot per row — see _load_emb
    emb = emb if emb is not None else _load_emb(spark, sf_dir, fanout=False)
    coded = emb.withColumn("bucket", F.expr(_srp_code_sql("embedding")))
    qrow = coded.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qe"), F.col("bucket").alias("qbucket")
    )
    cos = F.expr(_COS_SPARK.format(a="embedding", b="qe"))
    return (
        coded.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(qrow), F.col("bucket") == F.col("qbucket"))
        .select("vec_id", "bucket", F.round(cos, 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(5)
    )


@query(
    "similarity_all_pairs_topk",
    oracle=f"""
    WITH coded AS (
      SELECT vec_id, embedding, {_srp_code_duckdb('embedding')} AS bucket
      FROM {_EMB_SQL}
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
    FROM coded a JOIN coded b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ORDER BY cos_sim DESC, vec_a, vec_b
    LIMIT 20
    """,
    doc="Embedding near-duplicate detection: all-pairs search restricted to "
    "LSH buckets (self-join on the bucket code), global top-20 most similar "
    "pairs. The bucketed self-join is the scalable all-pairs shape.",
)
def similarity_all_pairs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load_emb(spark, sf_dir)
    coded = _with_normalized(
        emb.withColumn("bucket", F.expr(_srp_code_sql("embedding")))
    ).select("vec_id", "ne", "bucket")
    a = coded.alias("a")
    b = coded.alias("b")
    cos = F.expr(_DOT_SPARK.format(a="a.ne", b="b.ne"))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_a", "vec_b")
        .limit(20)
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH coded AS (
      SELECT vec_id, embedding, {_srp_code_duckdb('embedding')} AS bucket
      FROM {_EMB_SQL}
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
      FROM coded a JOIN coded b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT id_b AS duplicate_vec_id,
           MIN(id_a) AS canonical_vec_id,
           COUNT(*) AS n_matches
    FROM pairs
    WHERE cos_sim >= {NEAR_DUP_TAU}
    GROUP BY id_b
    """,
    doc="Embedding-cosine near-dedup: SRP-bucketed self-join (candidates "
    "share a bucket, never n²), cosine threshold, one-hop canonicalization "
    "(duplicate → smallest-id neighbor). The bucket code is the only "
    "shuffle key; cosine is a single dot product over pre-normalized "
    "vectors.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pair generation via the per-bucket GEMM engine (2× the JVM-lambda
    # self-join at sf0.1); threshold + canonicalization stay JVM-side
    pairs = _bucket_pairs_gemm(spark, sf_dir).select(
        F.col("vec_a").alias("id_a"),
        F.col("vec_b").alias("id_b"),
        F.round("cos_sim", 6).alias("cos_sim"),
    )
    return (
        pairs.filter(F.col("cos_sim") >= NEAR_DUP_TAU)
        .groupBy(F.col("id_b").alias("duplicate_vec_id"))
        .agg(
            F.min("id_a").alias("canonical_vec_id"),
            F.count(F.lit(1)).alias("n_matches"),
        )
    )


def _ivf_assign_sql_duckdb() -> str:
    """Shared CTE text: rank every vector's centroids by rounded cosine."""
    return f"""
    cents AS (
      SELECT vec_id AS cid, embedding AS ce FROM {_EMB_SQL}
      WHERE vec_id < {IVF_K}
    ),
    ranked AS (
      SELECT e.vec_id, e.embedding, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY ROUND(list_cosine_similarity(
                          CAST(e.embedding AS DOUBLE[]),
                          CAST(c.ce AS DOUBLE[])), 6) DESC, c.cid
             ) AS rn
      FROM {_EMB_SQL} e CROSS JOIN cents c
    )"""


def _ivf_ranked(emb: DataFrame, cents: DataFrame | None = None) -> DataFrame:
    """Every vector's centroids ranked by rounded cosine (the shared IVF
    assignment): the K centroid rows collapse to ONE broadcast row
    carrying them as an array, each vector ranks them MAP-SIDE
    (``transform`` computes the K dots, ``array_sort`` orders them by the
    same (csim DESC, cid) total order, ``posexplode`` re-emits the K
    ranked rows) — so assignment costs ZERO exchanges and zero Window
    nodes. rn = 1 is the vector's list; rn ≤ nprobe are a query's probe
    lists. Shared by the top-k query and the balance report so the
    assignment has ONE definition (mirror of the oracle-side
    ``_ivf_assign_sql_duckdb``).

    (r17 optimization note: the previous form crossJoined the broadcast
    centroid ROWS and ranked with a row_number window partitioned by
    vec_id — an Exchange+Sort of corpus × K rows carrying the normalized
    vectors, ~1 MB and the slowest stage of every IVF query at sf0.1,
    and a corpus-sized shuffle at 100 TB. The array form computes the
    identical (csim, cid, rn) triples — same rounded-dot expression, same
    total order, unique cids make the sort deterministic — with the
    ranking fused into the scan-side map stage. Guide §2.4: remove
    shuffles outright.)

    ``cents``: optional (cid, ce) centroid frame. The default derives
    the centroids from ``emb`` itself (vec_id < IVF_K — the in-session
    queries' rule); the artifact append path passes the centroids read
    from the persisted list artifact instead, because a nightly
    increment need not contain the centroid vectors."""
    if cents is None:
        cents = emb.filter(F.col("vec_id") < IVF_K).select(
            F.col("vec_id").alias("cid"), F.col("ne").alias("ce")
        )
    # K rows → one broadcast row holding the centroid array (O(K),
    # scale-independent — the same legitimacy class as the old K-row
    # broadcast)
    carr = F.broadcast(
        cents.agg(F.collect_list(F.struct("cid", "ce")).alias("_cents"))
    )
    ranked_arr = F.expr(
        "array_sort(transform(_cents, c -> named_struct("
        f"'csim', round({_DOT_SPARK.format(a='ne', b='c.ce')}, 6), "
        "'cid', c.cid)), "
        "(l, r) -> CASE WHEN l.csim > r.csim THEN -1 "
        "WHEN l.csim < r.csim THEN 1 "
        "WHEN l.cid < r.cid THEN -1 WHEN l.cid > r.cid THEN 1 "
        "ELSE 0 END)"
    )
    emb_cols = emb.columns
    return (
        emb.crossJoin(carr)
        .withColumn("_ranked", ranked_arr)
        .select(
            *emb_cols, F.posexplode("_ranked").alias("_pos", "_s")
        )
        .select(
            *emb_cols,
            F.col("_s.csim").alias("csim"),
            F.col("_s.cid").alias("cid"),
            (F.col("_pos") + 1).alias("rn"),
        )
    )



@query(
    "similarity_ivf_topk",
    oracle=f"""
    WITH {_ivf_assign_sql_duckdb()},
    lists AS (SELECT vec_id, embedding, cid FROM ranked WHERE rn = 1),
    qprobe AS MATERIALIZED (SELECT cid FROM ranked
               WHERE vec_id = {QUERY_VEC_ID} AND rn <= {IVF_NPROBE}),
    q AS MATERIALIZED (SELECT embedding AS qe FROM {_EMB_SQL} WHERE vec_id = {QUERY_VEC_ID})
    SELECT l.vec_id, l.cid AS probe_list,
           ROUND(list_cosine_similarity(CAST(l.embedding AS DOUBLE[]),
                                        CAST(q.qe AS DOUBLE[])), 6) AS cos_sim
    FROM lists l JOIN qprobe p ON l.cid = p.cid, q
    WHERE l.vec_id <> {QUERY_VEC_ID}
    ORDER BY cos_sim DESC, l.vec_id
    LIMIT 10
    """,
    doc=f"IVF-style ANN: {IVF_K} deterministic coarse centroids (seed pick = "
    "k-means|| init step; production would iterate Lloyd's on a sample), "
    "every vector assigned to its nearest list map-side via a broadcast of "
    f"the centroids, query probes its {IVF_NPROBE} nearest lists. At scale "
    "the corpus is partitioned/bucketed BY list id, so a probe touches "
    "nprobe/K of the data — the classic IVF selectivity argument — and "
    "assignment never shuffles the corpus.",
)
def similarity_ivf_topk(
    spark: SparkSession, sf_dir: str, *, emb: DataFrame | None = None
) -> DataFrame:
    ext = emb is not None
    emb = _with_normalized(
        emb if ext else _load_emb(spark, sf_dir)
    )
    # seed subtrees (centroids, the query's probe ranking, the query
    # vector) read the un-fanned scan — see _seed_emb; with an external
    # emb (the recall report's shared persisted frame) they stay on it
    se = emb if ext else _seed_emb(spark, sf_dir)
    cents = se.filter(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("cid"), F.col("ne").alias("ce")
    )
    ranked = _ivf_ranked(emb, cents=cents)
    lists = ranked.filter(F.col("rn") == 1).select("vec_id", "ne", "cid")
    # qprobe filters the SHARED corpus ranking (a second _ivf_ranked
    # over the seed frame measured slower here: it duplicates the
    # centroid-array broadcast for a query this small — interleaved
    # min-of-6: 0.564 s this shape / 0.616 r17 / 0.675 two-ranked)
    qprobe = F.broadcast(
        ranked.filter(
            (F.col("vec_id") == QUERY_VEC_ID) & (F.col("rn") <= IVF_NPROBE)
        ).select("cid")
    )
    q = F.broadcast(
        se.filter(F.col("vec_id") == QUERY_VEC_ID).select(
            F.col("ne").alias("qe")
        )
    )
    cos = F.round(F.expr(_DOT_SPARK.format(a="ne", b="qe")), 6)
    return (
        lists.join(qprobe, "cid")
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(q)
        .select("vec_id", F.col("cid").alias("probe_list"), cos.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


#: micro-units for the exact-integer mean trick (1e-6 of a cosine)
_SIM_MICRO = 1_000_000


@query(
    "similarity_ivf_balance",
    oracle=f"""
    WITH {_ivf_assign_sql_duckdb()},
    lists AS (
      SELECT r.vec_id, r.cid,
             ROUND(list_cosine_similarity(CAST(r.embedding AS DOUBLE[]),
                                          CAST(c.ce AS DOUBLE[])), 6) AS csim
      FROM ranked r JOIN cents c ON r.cid = c.cid
      WHERE r.rn = 1
    ),
    t AS (SELECT COUNT(*) AS n_total FROM {_EMB_SQL}),
    per AS (
      SELECT cid, COUNT(*) AS n_vectors,
             SUM(CAST(ROUND(csim * {_SIM_MICRO}, 0) AS BIGINT)) AS sum_micro,
             MIN(csim) AS min_centroid_sim,
             MAX(csim) AS max_centroid_sim
      FROM lists GROUP BY cid
    )
    SELECT p.cid, p.n_vectors,
           p.n_vectors * {IVF_K} * 1.0 / t.n_total AS load_factor,
           p.sum_micro * 1.0 / (p.n_vectors * {_SIM_MICRO}.0)
             AS mean_centroid_sim,
           p.min_centroid_sim, p.max_centroid_sim
    FROM per p CROSS JOIN t
    """,
    doc=f"IVF index-health report: per coarse list, its population, load "
    f"factor (n_vectors × {IVF_K} / corpus — 1.0 = perfectly balanced), "
    "and centroid-coherence stats (mean/min/max cosine of members to "
    "their centroid). Cell-size skew is THE operational risk of an IVF "
    "index at scale: a hot list makes every probe touching it pay its "
    "size (probe cost is the sum of probed-list lengths, so one 10× list "
    "sets tail latency), and a low-coherence list recalls poorly — this "
    "is the report you read before re-training centroids or splitting "
    "lists. Determinism: the mean is derived from an EXACT BIGINT sum of "
    "6-dp-quantized cosines in micro-units (order-independent under any "
    "shuffle; same literal double expression both engines); min/max are "
    "over already-rounded values; load_factor is a ratio of exact "
    "integers. Scale: assignment is the same broadcast-centroids "
    "map-side pass the top-k query uses (the corpus never shuffles for "
    "assignment), then ONE partial-aggregated groupBy(cid) whose shuffle "
    "carries K×partitions tiny rows, and an O(K)-row join with the "
    "1-row total — output is K rows regardless of corpus size. "
    "reference: no analogue — training-pipeline extension.",
)
def similarity_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _with_normalized(_load_emb(spark, sf_dir))
    # centroid seed subtree on the un-fanned scan — see _seed_emb
    cents = _seed_emb(spark, sf_dir).filter(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("cid"), F.col("ne").alias("ce")
    )
    lists = (
        _ivf_ranked(emb, cents=cents)
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", "csim")
    )
    per = lists.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(F.round(F.col("csim") * _SIM_MICRO, 0).cast("long")).alias(
            "_sum_micro"
        ),
        F.min("csim").alias("min_centroid_sim"),
        F.max("csim").alias("max_centroid_sim"),
    )
    # every contract-passing vector lands in exactly one list, so the
    # total comes straight off the scan — counting `lists` instead would
    # re-execute the rank-window shuffle for a number already known
    total = emb.agg(F.count(F.lit(1)).alias("_n_total"))
    return per.crossJoin(F.broadcast(total)).select(
        "cid",
        "n_vectors",
        (F.col("n_vectors") * IVF_K * 1.0 / F.col("_n_total")).alias(
            "load_factor"
        ),
        (
            F.col("_sum_micro")
            * 1.0
            / (F.col("n_vectors") * float(_SIM_MICRO))
        ).alias("mean_centroid_sim"),
        "min_centroid_sim",
        "max_centroid_sim",
    )


#: exact two-stage top-k fan-in of the PQ geometry and MRL truncation
#: sweeps: local rank within (config, vec_id mod this) buckets first,
#: global rank over <= configs * buckets * 10 rows after — the global
#: top-k is a subset of the local winners for ANY row partition, so the
#: result is independent of the bucket rule.
_SWEEP_BUCKETS = 16


def _exact_hits(spark: SparkSession, sf_dir: str, emb: DataFrame) -> DataFrame:
    """(vec_id, hit=1) for the exact top-10 over ``emb``, built by the
    registered brute-force builder so every recall denominator measures
    the same baseline. Lazy: each caller materializes it its own way."""
    return (
        similarity_bruteforce_topk(spark, sf_dir, emb=emb)
        .select("vec_id")
        .withColumn("hit", F.lit(1))
    )


def _two_stage_topk(scored: DataFrame, key: str, score: str) -> DataFrame:
    """The top 10 rows of ``scored`` per ``key`` by (``score`` DESC,
    vec_id), as the exact two-stage fan-in of ``_SWEEP_BUCKETS``."""
    order = (F.col(score).desc(), "vec_id")
    wl = Window.partitionBy(
        key, F.pmod(F.col("vec_id"), F.lit(_SWEEP_BUCKETS))
    ).orderBy(*order)
    wg = Window.partitionBy(key).orderBy(*order)
    return (
        scored.withColumn("lrn", F.row_number().over(wl))
        .filter(F.col("lrn") <= 10)
        .withColumn("crn", F.row_number().over(wg))
        .filter(F.col("crn") <= 10)
    )


def _recall_tail(
    base: DataFrame, topk: DataFrame, bf: DataFrame, key: str, *extra
) -> DataFrame:
    """One row per ``base`` row: ``key``, the ``extra`` columns, then
    n_returned, n_hits and recall of that config's ``topk`` rows against
    the exact hits ``bf`` (``_exact_hits``). A config with no returned
    rows reads 0/0, and recall is 0.0 when the exact set is empty."""
    n_exact = bf.agg(F.count(F.lit(1)).alias("_n_exact"))
    hits = (
        topk.join(bf, "vec_id", "left")
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_returned"),
            F.count("hit").alias("n_hits"),
        )
    )
    n_hits = F.coalesce("n_hits", F.lit(0))
    return (
        base.join(hits, key, "left")
        .crossJoin(F.broadcast(n_exact))
        .select(
            key,
            *extra,
            F.coalesce("n_returned", F.lit(0))
            .cast("bigint")
            .alias("n_returned"),
            n_hits.cast("bigint").alias("n_hits"),
            F.when(F.col("_n_exact") == 0, F.lit(0.0))
            .otherwise(n_hits * 1.0 / F.col("_n_exact"))
            .alias("recall"),
        )
    )


#: nprobe grid for the IVF calibration sweep. The last entry equals
#: IVF_K deliberately: probing every list degenerates to the exact scan,
#: so that row is the sweep's built-in exactness anchor (recall must be
#: 1.0 there — pinned by the crafted-claims test, and the reason the
#: report needs no separate "ceiling" arm).
IVF_SWEEP_NPROBES = (1, 2, 4, 8)
_IVF_SWEEP_K = 10  # top-k per config, same k as the exact baseline

if max(IVF_SWEEP_NPROBES) != IVF_K:  # real raise — asserts vanish under -O
    raise AssertionError(
        f"max(IVF_SWEEP_NPROBES) ({max(IVF_SWEEP_NPROBES)}) must equal "
        f"IVF_K ({IVF_K}): the widest sweep config probes EVERY list, "
        "which is what anchors the curve's last row at recall 1.0 — the "
        "docstring claim and the crafted-claims test both assume it "
        "(ADVICE r13: a drifting IVF_K must fail loudly at import, not "
        "silently void the anchor)"
    )


def _ivf_probe_sweep_oracle() -> str:
    """Compose the sweep oracle from the ALREADY-REGISTERED brute-force
    spec (module executes top-to-bottom, so the spec exists here) — the
    same single-source rule as ``_recall_report_oracle``: a change to the
    exact baseline's definition flows into every recall denominator
    automatically."""
    from iceberg_explorer_spark.operators.registry import QUERIES as _Q

    bf = _Q["similarity_bruteforce_topk"].oracle
    values = ", ".join(f"({n})" for n in IVF_SWEEP_NPROBES)
    return f"""
    WITH {_ivf_assign_sql_duckdb()},
    lists AS (SELECT vec_id, embedding, cid FROM ranked WHERE rn = 1),
    qprobe AS MATERIALIZED (
      SELECT cid, rn AS probe_rank FROM ranked
      WHERE vec_id = {QUERY_VEC_ID} AND rn <= {max(IVF_SWEEP_NPROBES)}
    ),
    qv AS MATERIALIZED (
      SELECT embedding AS qe FROM {_EMB_SQL} WHERE vec_id = {QUERY_VEC_ID}
    ),
    cand AS MATERIALIZED (
      SELECT l.vec_id, p.probe_rank,
             ROUND(list_cosine_similarity(CAST(l.embedding AS DOUBLE[]),
                                          CAST(qv.qe AS DOUBLE[])), 6)
               AS cos_sim
      FROM lists l JOIN qprobe p ON l.cid = p.cid, qv
      WHERE l.vec_id <> {QUERY_VEC_ID}
    ),
    conf AS (SELECT * FROM (VALUES {values}) AS t(nprobe)),
    bill AS (
      SELECT c.nprobe,
             CAST(COUNT(x.vec_id) AS BIGINT) AS n_candidates
      FROM conf c LEFT JOIN cand x ON x.probe_rank <= c.nprobe
      GROUP BY c.nprobe
    ),
    gr AS (
      SELECT c.nprobe, x.vec_id,
             ROW_NUMBER() OVER (PARTITION BY c.nprobe
                                ORDER BY x.cos_sim DESC, x.vec_id) AS crn
      FROM conf c JOIN cand x ON x.probe_rank <= c.nprobe
    ),
    bf AS MATERIALIZED (SELECT vec_id FROM ({bf}) bf_full),
    hits AS (
      SELECT g.nprobe, CAST(COUNT(*) AS BIGINT) AS n_returned,
             CAST(COUNT(b.vec_id) AS BIGINT) AS n_hits
      FROM gr g LEFT JOIN bf b ON g.vec_id = b.vec_id
      WHERE g.crn <= {_IVF_SWEEP_K}
      GROUP BY g.nprobe
    )
    SELECT bl.nprobe, bl.n_candidates,
           CAST(COALESCE(h.n_returned, 0) AS BIGINT) AS n_returned,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CASE WHEN (SELECT COUNT(*) FROM bf) = 0 THEN 0.0
                ELSE COALESCE(h.n_hits, 0) * 1.0
                       / (SELECT COUNT(*) FROM bf)
           END AS recall
    FROM bill bl LEFT JOIN hits h ON bl.nprobe = h.nprobe
    """


@query(
    "similarity_ivf_probe_sweep",
    oracle=_ivf_probe_sweep_oracle(),
    doc=f"IVF nprobe calibration sweep: recall@{_IVF_SWEEP_K} against the "
    f"exact top-{_IVF_SWEEP_K} AND the probe bill (candidates scanned) "
    f"for every nprobe in {IVF_SWEEP_NPROBES}, all from ONE centroid "
    "assignment pass — the tuning curve you read to set "
    "similarity_ivf_topk's IVF_NPROBE, produced the way "
    "dedup_lsh_band_tuning prices its band layouts: score every config "
    "from one shared build instead of re-running the index per setting. "
    f"The {max(IVF_SWEEP_NPROBES)}-probe row probes all {IVF_K} lists — "
    "the exact scan — so its recall = 1.0 anchors the curve. Scale shape: "
    "assignment is the same broadcast-centroids map-side pass the top-k "
    "query uses (the corpus never shuffles to be assigned); each probed "
    f"list is cut to its LOCAL top-{_IVF_SWEEP_K} first (exact under the "
    "total order cos DESC, vec_id — a global top-k takes at most k rows "
    "from any one list), so the per-config merge ranks <= "
    f"{IVF_K}x{_IVF_SWEEP_K} rows, and the probe bill comes from the "
    "same window pass (count over the list partition at rank 1), never "
    "a second corpus scan. nprobe is monotone in recall by construction "
    "(configs are nested prefixes of the SAME probe ranking) — the "
    "crafted-claims test pins strict growth on a fixture whose true "
    "neighbors sit in the second-ranked list. "
    "reference: no analogue — training-pipeline extension.",
)
def similarity_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # (r18 measured-and-rejected: the one-materialization emb checkpoint
    # — see similarity_ivf_pq_topk's note — AND the un-fanned seed
    # sourcing that won elsewhere: both probe-sweep variants measured
    # at-or-above the r17 shape here, interleaved min-of-6 1.80 r17 /
    # 1.79 two-ranked / 1.98 shared-ranked — every seed subtree sits
    # inside the ONE cand-checkpoint job whose fan-out exchange is
    # already reused, so there is nothing to save. Kept at r17.)
    emb = _with_normalized(_load_emb(spark, sf_dir))
    ranked = _ivf_ranked(emb)
    lists = ranked.filter(F.col("rn") == 1).select("vec_id", "ne", "cid")
    # the query's probe ranking once, widest config's depth; O(K) rows
    qprobe = F.broadcast(
        ranked.filter(
            (F.col("vec_id") == QUERY_VEC_ID)
            & (F.col("rn") <= max(IVF_SWEEP_NPROBES))
        ).select("cid", F.col("rn").alias("probe_rank"))
    )
    q = F.broadcast(
        emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
            F.col("ne").alias("qe")
        )
    )
    cos = F.round(F.expr(_DOT_SPARK.format(a="ne", b="qe")), 6)
    # ONE window pass over the probed lists gives both the local
    # per-list top-k (exact pruning: the global top-k takes at most k
    # rows from any list under the same total order) and the per-list
    # candidate count the bill needs — same partitioning, no second
    # corpus scan. The k*K-row result feeds two branches (bill + merge),
    # so it is materialized once.
    wl = Window.partitionBy("cid").orderBy(F.col("cos_sim").desc(), "vec_id")
    cand_lazy = (
        lists.join(qprobe, "cid")
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(q)
        .select("vec_id", "cid", "probe_rank", cos.alias("cos_sim"))
        .withColumn("lrn", F.row_number().over(wl))
        .withColumn(
            "list_cands", F.count(F.lit(1)).over(Window.partitionBy("cid"))
        )
        .filter(F.col("lrn") <= _IVF_SWEEP_K)
    )
    # exact baseline built by the registered builder over the SAME
    # contract-filtered frame; k rows, two consumers (hit join + the
    # recall denominator). The candidate frame and the exact baseline
    # are INDEPENDENT — materialize both concurrently (guide §2.6; see
    # eager_checkpoints)
    cand, bf = eager_checkpoints(cand_lazy, _exact_hits(spark, sf_dir, emb))
    conf = spark.createDataFrame(
        [(n,) for n in IVF_SWEEP_NPROBES], "nprobe int"
    )
    # probe bill per config: sum the per-list counts carried on each
    # list's rank-1 row (an empty probed list has no row and correctly
    # adds 0); LEFT from conf so every config emits a row even with
    # zero candidates anywhere
    bill = (
        conf.join(
            cand.filter(F.col("lrn") == 1).select(
                "probe_rank", "list_cands"
            ),
            F.col("probe_rank") <= F.col("nprobe"),
            "left",
        )
        .groupBy("nprobe")
        .agg(
            F.coalesce(F.sum("list_cands"), F.lit(0))
            .cast("bigint")
            .alias("n_candidates")
        )
    )
    # per-config top-k merge over the <= K*k local survivors: configs
    # are nested prefixes of one probe ranking, so the expansion is a
    # tiny non-equi join, never a rebuild per setting
    wg = Window.partitionBy("nprobe").orderBy(
        F.col("cos_sim").desc(), "vec_id"
    )
    topk = (
        conf.join(cand, F.col("probe_rank") <= F.col("nprobe"))
        .withColumn("crn", F.row_number().over(wg))
        .filter(F.col("crn") <= _IVF_SWEEP_K)
    )
    return _recall_tail(bill, topk, bf, "nprobe", "n_candidates")


# ---------------------------------------------------------------------------
# The persisted IVF index: serve-time ANN over a BucketedArtifactStore.
#
# The in-session similarity_ivf_topk recomputes the corpus assignment per
# query — correct for an oracle-bearing registry query, wrong as a serving
# story: a production index is built ONCE (and appended to nightly, like
# the dedup artifacts) and every query reads only its probed lists. These
# functions are that story's executable witness, on the SAME
# BucketedArtifactStore the incremental-dedup family uses
# (pre-hash-partitioned appends, spec-preserving compaction, crash
# recovery, the backfill-first check, the serve read), built with the
# similarity family's own artifact spec:
# ``BucketedArtifactStore(spark, prefix, n, artifacts=IVF_STORE_ARTIFACTS)``.

#: The similarity family's artifact spec: the persisted IVF index is
#: TWO tables. ``ivf_lists`` — (vec_id, cid, nvec): every
#: contract-passing vector's list assignment plus its L2-normalized
#: vector — bucketed by ``cid``, the serve-time probe key: the serve
#: scan filters cid IN (<the nprobe probe lists>), so Spark's bucketed
#: scan reads only the files of the probed buckets
#: (SelectedBucketsCount in the plan) — nprobe/K of the INDEX FILES,
#: not just nprobe/K of the rows after a full scan. ``ivf_centroids``
#: — (cid, cvec): the K coarse centroids as their OWN tiny artifact,
#: so the probe ranking and the nightly append never touch the
#: corpus-sized list table just to fetch K rows (filtering the list
#: table by vec_id would full-scan it: vec_id is not its bucket key).
IVF_STORE_ARTIFACTS = {"ivf_lists": ("cid",), "ivf_centroids": ("cid",)}


def _write_centroids(store, emb: DataFrame) -> None:
    """Persist the K coarse centroids (the seed rows vec_id < IVF_K of a
    normalized frame) as ``ivf_centroids`` — the model artifact the IVF
    and IVF-PQ backfills write FIRST, before their commit marker."""
    store.write(
        "ivf_centroids",
        emb.filter(F.col("vec_id") < IVF_K).select(
            F.col("vec_id").alias("cid"), F.col("ne").alias("cvec")
        ),
    )


def _checked_increment(
    store, marker: str, new_emb: DataFrame
) -> "tuple[DataFrame, DataFrame]":
    """(increment, centroids) for an IVF or IVF-PQ append: the backfill
    must have committed ``marker``; the contract-filtered, normalized
    increment is materialized EAGERLY before the reserved-range check,
    so the check and the append read ONE snapshot (otherwise they are
    two jobs over the same lazy frame, and a non-deterministic or
    changing source could pass the limit(1) probe yet materialize
    reserved-range rows in the append — silently shadowing a persisted
    centroid). Increment vec_ids inside the reserved centroid range
    [0, IVF_K) are refused loudly: two vectors for one cid would
    corrupt the centroid set every later serve and append ranks
    against. Global id newness is the ingest pipeline's id-allocation
    invariant, as for the dedup artifacts' doc_ids."""
    store.require(marker)
    inc = _with_normalized(_apply_emb_contract(new_emb)).localCheckpoint(
        eager=True
    )
    # limit(1) short-circuits: one increment-sized probe, no full count
    if inc.filter(F.col("vec_id") < IVF_K).limit(1).count():
        raise ValueError(
            f"increment contains vec_ids in the reserved centroid range "
            f"[0, {IVF_K}) — appending them would shadow the persisted "
            "centroids"
        )
    cents = store.read("ivf_centroids").select(
        "cid", F.col("cvec").alias("ce")
    )
    return inc, cents


def ivf_backfill_lists(spark: SparkSession, sf_dir: str, store) -> None:
    """One-time index build: assign every contract-passing vector to its
    nearest coarse list (the SAME ``_ivf_ranked`` rule every in-session
    IVF query uses — the artifact and the queries cannot desync), write
    (vec_id, cid, nvec) bucketed by cid, and the K centroids to their
    own tiny artifact (the probe ranking's and the nightly append's
    K-row read, so neither ever scans the list table for them).

    Write order is the crash contract: centroids FIRST, the list table
    LAST — ``ivf_lists`` is the commit marker every consumer gates on,
    so a crash between the two writes reads as "backfill never ran"
    (re-run overwrites both) instead of an index whose serves and
    appends all fail on a missing centroid table."""
    emb = _with_normalized(_load_emb(spark, sf_dir))
    _write_centroids(store, emb)
    lists = (
        _ivf_ranked(emb)
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", F.col("ne").alias("nvec"))
    )
    store.write("ivf_lists", lists)


def ivf_append_lists(
    store, new_emb: DataFrame, batch_id: "str | None" = None
) -> bool:
    """Nightly index append: assign an increment of raw embeddings rows
    against the PERSISTED centroids (the K-row centroid artifact — a
    nightly batch need not contain the centroid vectors, unlike the
    in-session rule that derives them from the frame itself) and append
    their (vec_id, cid, nvec) rows through the store's hash-aligned
    writer — at most one new file per bucket per night, same bound as
    the dedup artifacts. History vectors are never re-read or
    re-assigned.

    Contract (``_checked_increment``): the backfill's commit marker
    ``ivf_lists`` exists, and increment vec_ids are globally NEW and
    outside the reserved centroid range [0, IVF_K).

    ``batch_id``: the night's stable ingest id, handed to the store's
    idempotent append — a RETRIED append of the same batch replays as
    a no-op (returns False; the store probes its provenance column for
    the id before landing rows) instead of double-counting list
    members. Without it the append is non-transactional (retries re-run
    from the pre-append snapshot); the Iceberg-native form of the store
    gets replace-by-filter for this. Returns True iff rows landed."""
    inc, cents = _checked_increment(store, "ivf_lists", new_emb)
    rows = (
        _ivf_ranked(inc, cents=cents)
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", F.col("ne").alias("nvec"))
    )
    return store.append("ivf_lists", rows, batch_id=batch_id)


def _validate_query_vec(v) -> None:
    """Loud contract check for a caller-supplied query vector — the
    literal-inlining serve path has no ``_apply_emb_contract`` scan to
    catch a malformed vector, and Spark's ``zip_with`` NULL-pads a
    length mismatch into an all-NULL dot product (k arbitrary rows with
    NULL cosines — silent garbage, the exact failure class the input
    contract exists to prevent)."""
    import math

    if len(v) != DIM or any(
        x is None or (isinstance(x, float) and x != x) for x in v
    ):
        raise ValueError(
            f"query_vec must be {DIM} non-NULL finite floats, got "
            f"len={len(v)}"
        )
    n = math.sqrt(sum(float(x) * float(x) for x in v))
    if not abs(n - 1.0) <= 1e-3:  # 'not <=' also catches NaN/inf norms
        raise ValueError(
            f"query_vec must be L2-normalized (|v| = {n!r}); the serve "
            "cosine is a bare dot product over pre-normalized vectors"
        )


def ivf_topk_from_store(
    store,
    query_vec_id: "int | None" = None,
    nprobe: int = IVF_NPROBE,
    k: int = 10,
    query_vec: "list[float] | None" = None,
) -> DataFrame:
    """Serve similarity_ivf_topk's semantics from the persisted index:
    row-identical to the in-session query (pinned by the round-trip
    test) with the serve plan a production index needs — no assignment
    pass (it is read, not recomputed: zero Window nodes), no shuffle
    and no broadcast (the query vector is inlined as a LITERAL array),
    and exactly ONE scan of the list table, bucket-PRUNED to the
    probed lists (SelectedBucketsCount <= nprobe buckets).

    ``query_vec``: the L2-normalized query vector. Production serving
    passes it (the vector arrives with the request — validated loudly,
    see ``_validate_query_vec``); when omitted, it is looked up from
    the index by ``query_vec_id`` (defaulting to the registry's demo
    query id) — a documented DEMO-path convenience that costs one
    pushed-filter scan of the list table, which is not bucket-prunable
    by vec_id.

    ``query_vec_id``: the stored id to EXCLUDE from results (the
    in-session query's exclude-the-query-doc rule). On the lookup path
    it is also the id looked up. On the direct-vector path it is
    optional: a request vector need not correspond to any stored row,
    and excluding the default demo id would silently drop an unrelated
    vector — pass it only when the query genuinely is a stored doc.

    The probe ranking runs over the K-row centroid artifact and
    collects nprobe ints — bounded driver work (the CC-convergence
    legitimacy class), and handing the cids back as LITERALS is
    precisely what lets Spark's bucketed scan prune at planning time;
    keeping them as a joined frame would read every bucket. The rank
    rule (round-6 cosine DESC, cid) and the verify cosine are the same
    expressions as ``_ivf_ranked``/``similarity_ivf_topk`` — dot
    commutativity is exact in FP (elementwise products commute, the
    fold order is the array order on both sides), and the literal
    doubles round-trip the stored doubles exactly.

    The serve frame reads the tables through
    :meth:`BucketedArtifactStore.serve_tables` (the cached clone session
    with forced bucketed scans, which restores SelectedBucketsCount at
    the cost of one read task per probed bucket — acceptable when
    n_buckets is sized to the workload width, the store's standing
    sizing rule; the Iceberg-native form gets file-level pruning with
    free parallelism from a bucket(N, cid) partition transform)."""
    art, cent_tbl = store.serve_tables("ivf_lists", "ivf_centroids")
    if query_vec is None:
        qid = QUERY_VEC_ID if query_vec_id is None else query_vec_id
        r = (
            store.read("ivf_lists")
            .filter(F.col("vec_id") == qid)
            .select("nvec")
            .collect()
        )
        query_vec = list(r[0]["nvec"]) if r else None
        query_vec_id = qid
    else:
        _validate_query_vec(query_vec)
    empty = art.filter(F.lit(False)).select(
        "vec_id",
        F.col("cid").alias("probe_list"),
        F.lit(0.0).alias("cos_sim"),
    )
    if query_vec is None:
        return empty  # unknown query id: empty result, contract schema
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    cents = cent_tbl.withColumn("qe", qlit)
    csim = F.round(F.expr(_DOT_SPARK.format(a="cvec", b="qe")), 6)
    probe_cids = [
        r["cid"]
        for r in cents.select("cid", csim.alias("csim"))
        .orderBy(F.col("csim").desc(), "cid")
        .limit(nprobe)
        .collect()
    ]
    if not probe_cids:
        return empty  # empty centroid artifact
    base = art.filter(F.col("cid").isin([int(c) for c in probe_cids]))
    if query_vec_id is not None:
        base = base.filter(F.col("vec_id") != query_vec_id)
    cos = F.round(F.expr(_DOT_SPARK.format(a="nvec", b="qe")), 6)
    return (
        base.withColumn("qe", qlit)
        .select(
            "vec_id", F.col("cid").alias("probe_list"), cos.alias("cos_sim")
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# The persisted IVF-PQ index: similarity_ivf_pq_topk's serving story.
#
# Where the persisted IVF index stores each list member's full normalized
# vector (256 bytes/row), this one stores its PQ CODES (PQ_M bytes of
# payload/row) — the layout the registered composed query's 100 TB note
# promises: a serve reads nprobe/K of the index files AND 64x smaller
# rows, and needs NO join at all (the query's LUT collapses to literal
# arrays indexed by the code columns — pure projection).

#: Artifact spec: ``ivfpq_codes`` — (vec_id, cid, c0..c{M-1}): each
#: vector's coarse list + its per-subspace PQ codes, bucketed by
#: ``cid`` (the serve-time probe key — same pruning argument as
#: ``ivf_lists``). ``ivf_centroids`` — the K coarse centroids (the
#: probe ranking's K-row read). ``pq_codebook`` — (code, m, ce): the
#: M x PQ_K codebook chunks, its own tiny artifact: the serve's LUT
#: and the nightly append's encode read it O(1) instead of deriving
#: codebooks from raw vectors the code table deliberately no longer
#: stores.
IVFPQ_STORE_ARTIFACTS = {
    "ivfpq_codes": ("cid",),
    "ivf_centroids": ("cid",),
    "pq_codebook": ("m",),
}


def _pq_codes_wide(codes: DataFrame) -> DataFrame:
    """(vec_id, c0..c{M-1}) from the long (m_subspaces, vec_id, m, code)
    encode frame — the storage pivot (exactly one code per (vec, m), so
    the conditional max is deterministic)."""
    return codes.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("m") == m, F.col("code")))
            .cast("int")
            .alias(f"c{m}")
            for m in range(PQ_M)
        ]
    )


def ivfpq_backfill(spark: SparkSession, sf_dir: str, store) -> None:
    """One-time IVF-PQ index build: coarse-assign and PQ-encode every
    contract-passing vector with the SAME shared rules the registered
    ``similarity_ivf_pq_topk`` runs (``_ivf_ranked`` / ``_pq_chunks`` /
    ``_pq_codes``), then persist codes bucketed by cid plus the two
    tiny model artifacts. Write order is the crash contract (the
    ``ivf_backfill_lists`` rule): model artifacts FIRST, the code
    table LAST as the commit marker — a crash in between reads as
    "backfill never ran", never as an index whose serves fail on a
    missing codebook."""
    emb = _with_normalized(_load_emb(spark, sf_dir))
    _write_centroids(store, emb)
    sub = _pq_chunks(emb, (PQ_M,))
    cb = sub.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("code"),
        "m_subspaces",
        "m",
        F.col("chunk").alias("ce"),
    )
    store.write("pq_codebook", cb.select("code", "m", "ce"))
    wide = _pq_codes_wide(_pq_codes(sub, F.broadcast(cb)))
    lists = (
        _ivf_ranked(emb).filter(F.col("rn") == 1).select("vec_id", "cid")
    )
    store.write("ivfpq_codes", lists.join(wide, "vec_id"))


def ivfpq_append(store, new_emb: DataFrame, batch_id: "str | None" = None) -> bool:
    """Nightly IVF-PQ append: coarse-assign and encode an increment
    against the PERSISTED centroid and codebook artifacts (two O(1)
    model reads; history code rows are never touched) and land its
    (vec_id, cid, c0..c{M-1}) rows hash-aligned through the store's
    idempotent append — same contract as ``ivf_append_lists``
    (``_checked_increment``, with the code table ``ivfpq_codes`` as the
    commit marker), and ``batch_id`` makes a crashed-and-retried night
    a no-op. Returns True iff rows landed."""
    inc, cents = _checked_increment(store, "ivfpq_codes", new_emb)
    cb = (
        store.read("pq_codebook")
        .withColumn("m_subspaces", F.lit(PQ_M))
        .select("code", "m_subspaces", "m", "ce")
    )
    wide = _pq_codes_wide(
        _pq_codes(_pq_chunks(inc, (PQ_M,)), F.broadcast(cb))
    )
    lists = (
        _ivf_ranked(inc, cents=cents)
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    return store.append(
        "ivfpq_codes", lists.join(wide, "vec_id"), batch_id=batch_id
    )


def _micro_half_up(x: float) -> int:
    """Spark ``F.round(x * 1e6)`` parity for the driver-side LUT:
    HALF_UP = ties away from zero (Python's ``round`` is banker's and
    would diverge at exact .5 micro boundaries)."""
    import math

    m = x * 1_000_000.0
    f = math.floor(m)
    r = m - f
    if r > 0.5:
        return int(f) + 1
    if r < 0.5:
        return int(f)
    return int(f) + 1 if m > 0 else int(f)


def ivfpq_codebook(store) -> "list[tuple[int, int, list[float]]]":
    """The collected (m, code, chunk) codebook rows — the per-PUBLISH
    half of the serve's driver work, hoisted (r14 serve measurement:
    the per-serve codebook collect was most of the code serve's fixed
    gap vs the vector serve at small SF). The codebook is immutable
    between index publishes, so a serving process collects it ONCE per
    publish and hands it to every ``ivfpq_topk_from_store`` call;
    O(M x PQ_K) rows, the bounded legitimacy class."""
    return [
        (r["m"], r["code"], list(r["ce"]))
        for r in store.read("pq_codebook").collect()
    ]


def ivfpq_topk_from_store(
    store,
    query_vec: "list[float]",
    query_vec_id: "int | None" = None,
    nprobe: int = IVF_NPROBE,
    k: int = 10,
    codebook: "list[tuple[int, int, list[float]]] | None" = None,
) -> DataFrame:
    """Serve similarity_ivf_pq_topk's semantics from the persisted
    code index — row-identical to the registered query (pinned by the
    round-trip test) with the plan the composed query's 100 TB note
    promises: a K-row centroid job ranks the probe lists, the query's
    (subspace, code) LUT is computed DRIVER-side from the O(M x PQ_K)
    codebook artifact and inlined as LITERAL arrays indexed by the
    code columns, and the result is ONE bucket-PRUNED scan of the code
    table with a pure projection — zero joins, zero shuffles, zero
    Window nodes, zero broadcasts. ``query_vec`` is REQUIRED (the
    code table deliberately stores no raw vectors to look one up in —
    that is the 64x row-width win); pass ``query_vec_id`` only to
    exclude a stored doc, the registered query's rule.

    Driver-side work is O(K + M x PQ_K) (the probe ranking collect and
    the codebook collect) — the bounded legitimacy class, same as
    ``ivf_topk_from_store``. ``codebook``: pass
    :func:`ivfpq_codebook`'s result to hoist the per-serve codebook
    collect to once-per-publish (the measured fixed-cost item; the
    LUT itself is per-query — it depends on the query vector — and
    stays in the serve). LUT float parity with the registered
    query is exact by construction: the dot is the same
    products-then-sequential-fold order as ``_DOT_SPARK`` over the
    identical stored doubles, and the micro quantization replicates
    Spark's HALF_UP (``_micro_half_up``). Read through
    :meth:`BucketedArtifactStore.serve_tables`, as
    ``ivf_topk_from_store``."""
    _validate_query_vec(query_vec)
    art, cent_tbl, cb_tbl = store.serve_tables(*IVFPQ_STORE_ARTIFACTS)
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    csim = F.round(F.expr(_DOT_SPARK.format(a="cvec", b="qe")), 6)
    probe_cids = [
        r["cid"]
        for r in cent_tbl.withColumn("qe", qlit)
        .select("cid", csim.alias("csim"))
        .orderBy(F.col("csim").desc(), "cid")
        .limit(nprobe)
        .collect()
    ]
    empty = art.filter(F.lit(False)).select(
        "vec_id",
        F.col("cid").alias("probe_list"),
        F.lit(0.0).alias("approx_cos_sim"),
    )
    if not probe_cids:
        return empty
    # the LUT: per subspace, PQ_K micro contributions — O(M x PQ_K)
    # driver work, inlined as literal arrays so scoring is projection
    sub_w = DIM // PQ_M
    contrib = [[0] * PQ_K for _ in range(PQ_M)]
    if codebook is None:
        codebook = [(r["m"], r["code"], r["ce"]) for r in cb_tbl.collect()]
    for m, code, ce in codebook:
        qchunk = query_vec[m * sub_w : (m + 1) * sub_w]
        # products first, then a sequential fold — _DOT_SPARK's order
        prods = [float(a) * float(b) for a, b in zip(qchunk, ce)]
        acc = 0.0
        for p in prods:
            acc += p
        contrib[m][code] = _micro_half_up(acc)
    arrs = [
        F.array(*[F.lit(int(c)) for c in contrib[m]]) for m in range(PQ_M)
    ]
    score_micro = None
    for m in range(PQ_M):
        term = F.element_at(arrs[m], F.col(f"c{m}") + 1).cast("bigint")
        score_micro = term if score_micro is None else score_micro + term
    base = art.filter(F.col("cid").isin([int(c) for c in probe_cids]))
    if query_vec_id is not None:
        base = base.filter(F.col("vec_id") != query_vec_id)
    return (
        base.select(
            "vec_id",
            F.col("cid").alias("probe_list"),
            (score_micro * 1.0 / 1_000_000.0).alias("approx_cos_sim"),
        )
        .orderBy(F.col("approx_cos_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


def ivfpq_refine_from_store(
    code_store,
    vector_store,
    query_vec: "list[float]",
    query_vec_id: "int | None" = None,
    nprobe: int = IVF_NPROBE,
    k: int = 10,
    r: int = REFINE_R,
    codebook: "list[tuple[int, int, list[float]]] | None" = None,
) -> DataFrame:
    """Serve similarity_ivf_pq_refine_topk's semantics from the two
    persisted indexes — row-identical to the registered query (pinned
    by the round-trip test) with the cascade's production plan:

    1. the code serve (``ivfpq_topk_from_store``) cut at the ADC
       top-``r`` shortlist and COLLECTED — R rows of (vec_id,
       probe_list, approx score), the bounded O(R) driver legitimacy
       class, exactly the ids-and-scores a serving tier hands its
       refine stage;
    2. the shared exact stage (``_rerank_shortlist``): ONE scan of the
       VECTOR index (``ivf_lists``), filtered to the shortlist's probe
       lists (bucket pruning) and vec_ids (pushed filter), with the
       shortlist's own probe_list / approx score carried as literal
       maps.

    The two stores hold the two physical forms of the same corpus
    (codes for selectivity, vectors for precision); probe_list and
    approx_cos_sim come from the CODE index's shortlist rather than
    re-derived from the vector rows. CONTRACT: both indexes must be
    published/appended from the same corpus snapshot — a shortlist
    vector the vector index lacks (or assigns to a different list)
    fails the pruned scan's filters and would DROP from the result,
    so keep the two appends in one ingest transaction (the round-trip
    test pins same-snapshot parity with the registered query,
    including through paired appends and per-store compactions). The
    exact stage's coverage check makes a violation LOUD (ValueError
    naming the missing vec_ids) instead of a silent short result.
    Float parity: the literal dot
    is ``_DOT_SPARK``'s fold order over the stored normalized doubles,
    identical to the in-session exact stage; the shortlist cut
    inherits the code serve's exact micro-unit ADC parity.

    ``query_vec`` is REQUIRED (validated by the code serve);
    ``codebook``: pass :func:`ivfpq_codebook`'s result to hoist the
    per-serve codebook collect, as with the plain code serve."""
    shortlist = ivfpq_topk_from_store(
        code_store,
        query_vec,
        query_vec_id=query_vec_id,
        nprobe=nprobe,
        k=r,
        codebook=codebook,
    ).collect()
    (art,) = vector_store.serve_tables("ivf_lists")
    if not shortlist:
        return art.filter(F.lit(False)).select(
            "vec_id",
            F.col("cid").alias("probe_list"),
            F.lit(0.0).alias("approx_cos_sim"),
            F.lit(0.0).alias("cos_sim"),
        )
    cids = sorted({int(row["probe_list"]) for row in shortlist})
    return _rerank_shortlist(
        art,
        shortlist,
        query_vec,
        k,
        {"probe_list": None, "approx_cos_sim": None},
        "ivfpq_refine_from_store",
        prune=F.col("cid").isin(cids),
    )


def _rerank_shortlist(
    art: DataFrame,
    shortlist: list,
    query_vec: "list[float]",
    k: int,
    carry: "dict[str, str | None]",
    serve: str,
    prune=None,
) -> DataFrame:
    """The exact stage shared by the refine, BQ and MRL serves: re-rank
    a COLLECTED shortlist (rows carrying ``vec_id`` and the ``carry``
    columns — R rows, the bounded O(R) driver legitimacy class) by
    exact cosine over ONE read of ``art`` filtered to the shortlist ids
    (and ``prune``, the refine serve's probe-list filter). Each carry
    column rides as a literal MAP keyed by vec_id (cast to its
    ``carry`` type when one is given) and the cosine is ``_DOT_SPARK``
    over an inlined literal query array, so the returned frame has zero
    joins, zero shuffles, zero Window nodes and zero broadcasts.

    Coverage check: the serve already holds the shortlist ids, so it
    runs the filtered read once as an id projection (<= R rows, one
    bounded job) and raises ValueError naming the missing vec_ids when
    it does not cover the shortlist. A gap means the two serve reads
    saw different snapshots — two stores published from different
    corpus snapshots, or a rewrite landing between the reads — and the
    result would otherwise be silently short. The check NARROWS that
    window rather than closing it: it runs eagerly at call time while
    the returned frame is lazy, so a caller needing a fully settled
    read materializes the result promptly, inside whatever quiesce
    window the ingest schedule provides."""
    ids = [int(row["vec_id"]) for row in shortlist]
    in_ids = F.col("vec_id").isin(ids)
    pruned = art.filter(in_ids if prune is None else prune & in_ids)
    found = {int(row["vec_id"]) for row in pruned.select("vec_id").collect()}
    missing = sorted(set(ids) - found)
    if missing:
        raise ValueError(
            f"{serve}: {len(missing)} shortlist vec_id(s) absent from the "
            f"exact-stage read (first few: {missing[:5]}) — the two serve "
            "reads saw different snapshots. Publish paired stores from one "
            "corpus snapshot, and retry against the settled snapshot."
        )
    carried = []
    for name, cast in carry.items():
        m = F.create_map(
            *[
                lit
                for row in shortlist
                for lit in (F.lit(int(row["vec_id"])), F.lit(row[name]))
            ]
        )[F.col("vec_id")]
        carried.append((m if cast is None else m.cast(cast)).alias(name))
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    cos = F.round(F.expr(_DOT_SPARK.format(a="nvec", b="qe")), 6)
    return (
        pruned.withColumn("qe", qlit)
        .select("vec_id", *carried, cos.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(k)
    )


def _serve_shortlist(
    art: DataFrame, stage1: DataFrame, order: tuple, r: int,
    query_vec: "list[float]", k: int, carry: "dict[str, str]", serve: str,
) -> DataFrame:
    """The two-stage serve shared by the BQ and MRL stores: heap-cut
    the stage-1 frame (vec_id and the ``carry`` score columns) to its
    top ``r`` by ``order``, COLLECT those r rows (the bounded O(R)
    driver legitimacy class) and re-rank them with
    ``_rerank_shortlist``. An empty shortlist returns an empty
    (vec_id, *carry, cos_sim) frame of the same column types, with no
    second read."""
    shortlist = stage1.orderBy(*order).limit(r).collect()
    if not shortlist:
        return art.filter(F.lit(False)).select(
            "vec_id",
            *[F.lit(0).cast(t).alias(c) for c, t in carry.items()],
            F.lit(0.0).alias("cos_sim"),
        )
    return _rerank_shortlist(art, shortlist, query_vec, k, carry, serve)


def _gemm_schema() -> str:
    return "vec_a long, vec_b long, cos_sim double"


#: Row-block edge for the per-bucket GEMM. A bucket of B vectors needs a
#: B×B similarity matrix (8·B² bytes of f64) if multiplied in one shot —
#: 80 GB at B = 100k, an executor OOM. Tiling caps the live intermediate at
#: 8·GEMM_TILE² bytes (32 MB) per block pair while doing the identical
#: flops through the same BLAS kernel.
GEMM_TILE = 2048


def gemm_upper_pairs(ids, m, tile: int = GEMM_TILE):
    """All (id_a < id_b) cosine pairs of normalized row matrix ``m`` via a
    BLOCKED M @ M.T — yields (vec_a, vec_b, cos_sim) numpy column triples.

    ``ids`` must be sorted ascending; upper-triangular blocking then
    guarantees id_a < id_b without any per-pair comparison: diagonal blocks
    take their own upper triangle, off-diagonal blocks (j0 > i0) take every
    cell.
    """
    import numpy as np

    n = len(ids)
    for i0 in range(0, n, tile):
        a = m[i0 : i0 + tile]
        for j0 in range(i0, n, tile):
            b = m[j0 : j0 + tile]
            sims = a @ b.T
            if i0 == j0:
                rows, cols = np.triu_indices(len(a), k=1)
            else:
                rows = np.repeat(np.arange(len(a)), len(b))
                cols = np.tile(np.arange(len(b)), len(a))
            if len(rows):
                yield ids[i0 + rows], ids[j0 + cols], sims[rows, cols]


def _bucket_pairs_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All within-bucket pairs with raw cosine, via per-bucket numpy GEMM.

    Shared engine for the GEMM-flavored all-pairs operators: SRP-code the
    corpus, groupBy(bucket) → applyInPandas → L2-normalize + blocked
    M @ M.T (gemm_upper_pairs — dense buckets are tiled, never materialized
    as one B×B matrix). Normalization happens INSIDE the bucket kernel with
    vectorized numpy, not via _with_normalized: each vector lives in exactly
    one bucket so the work is identical, but interpreted Catalyst
    higher-order lambdas cost ~40% of the whole query at sf0.1 (A/B in
    SCALE.md, 'Round-2 bench "regression": accounted': 0.99 s JVM-norm
    vs 0.60 s numpy-norm) and the
    raw-embedding Arrow transfer is no wider than the normalized one.
    Rounding is left to callers (JVM-side F.round, HALF_UP) so numpy's
    banker's rounding never touches the cross-engine contract.
    """
    # fanout=False: the GEMM chain's first real operator is the
    # groupBy(bucket) exchange, which re-shuffles immediately — a fan-out
    # spread before it is pure overhead (interleaved 5-iter min at sf0.1:
    # knn 1.05 vs 1.21 s, bucket_gemm 0.63 vs 0.74 s)
    return _bucket_pairs_gemm_coded(
        _coded_vectors(_load_emb(spark, sf_dir, fanout=False))
    )


def _coded_vectors(emb: DataFrame) -> DataFrame:
    """(vec_id, e, bucket): SRP-code a valid-embedding frame — the coding
    half of ``_bucket_pairs_gemm``, shared with the incremental artifact
    path (the persisted SRP assignment is exactly this frame for history;
    batch vectors are coded fresh by the SAME expression)."""
    return emb.withColumn(
        "bucket", F.expr(_srp_code_sql("embedding"))
    ).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"), "bucket"
    )


def _bucket_pairs_gemm_coded(coded: DataFrame) -> DataFrame:
    """The per-bucket GEMM kernel over a (vec_id, e, bucket) frame — the
    compute half of ``_bucket_pairs_gemm``. Restricting ``coded`` to a
    subset of buckets leaves every emitted pair's cosine bit-identical
    (the kernel sees whole buckets), which is what lets the incremental
    path run it over only batch-touched buckets."""
    import numpy as np
    import pandas as pd

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"vec_a": pd.Series(dtype="int64"),
             "vec_b": pd.Series(dtype="int64"),
             "cos_sim": pd.Series(dtype="float64")}
        )
        if len(pdf) < 2:
            return empty
        order = pdf["vec_id"].to_numpy().argsort()
        ids = pdf["vec_id"].to_numpy()[order]
        m = np.stack(pdf["e"].to_numpy()[order])
        m = m / np.sqrt((m * m).sum(axis=1, keepdims=True))
        blocks = [
            pd.DataFrame({"vec_a": va, "vec_b": vb, "cos_sim": cs})
            for va, vb, cs in gemm_upper_pairs(ids, m)
        ]
        return pd.concat(blocks, ignore_index=True) if blocks else empty

    return coded.groupBy("bucket").applyInPandas(per_bucket, _gemm_schema())


@query(
    "similarity_bucket_gemm",
    oracle=f"""
    WITH coded AS (
      SELECT vec_id, embedding, {_srp_code_duckdb('embedding')} AS bucket
      FROM {_EMB_SQL}
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
    FROM coded a JOIN coded b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ORDER BY cos_sim DESC, vec_a, vec_b
    LIMIT 20
    """,
    doc="All-pairs similarity as per-bucket GEMM: groupBy(bucket) → "
    "applyInPandas → numpy M @ M.T per bucket (Arrow batch transfer, "
    "vectorized f64). Same result as similarity_all_pairs_topk, but the "
    "per-pair work is a BLAS matrix multiply instead of an interpreted "
    "array lambda — the scale path when buckets are dense. At 100 TB the "
    "shuffle key is still the bucket code; pathological buckets get tiled "
    "(block the GEMM) rather than exploded into a pair join. Rounding "
    "happens JVM-side (F.round, HALF_UP) so numpy's banker's rounding "
    "never touches the contract.",
)
def similarity_bucket_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _bucket_pairs_gemm(spark, sf_dir)
    return (
        pairs.select("vec_a", "vec_b", F.round("cos_sim", 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_a", "vec_b")
        .limit(20)
    )


KNN_K = 3


@query(
    "similarity_knn_join",
    oracle=f"""
    WITH coded AS (
      SELECT vec_id, embedding, {_srp_code_duckdb('embedding')} AS bucket
      FROM {_EMB_SQL}
    ),
    pairs AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6)
               AS cos_sim
      FROM coded a JOIN coded b
        ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    )
    SELECT vec_id, neighbor_id, cos_sim, CAST(rn AS INTEGER) AS rn
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM pairs
    ) WHERE rn <= {KNN_K}
    """,
    doc=f"Batch k-NN join: top-{KNN_K} in-bucket neighbors for EVERY vector "
    "(the all-queries-at-once shape a dedup or retrieval-index build "
    "needs, vs the single-query ANN ops). Pairs come from the per-bucket "
    "GEMM engine symmetrized; ranking is one window over (vec_id) — so "
    "the whole join is bucket-local GEMMs plus one shuffle on vec_id. "
    "Recall is bucket-bounded exactly like the other LSH ops; more planes "
    "or multi-probe raise it without changing the plan shape.",
)
def similarity_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _bucket_pairs_gemm(spark, sf_dir)
    sym = pairs.unionByName(
        pairs.select(
            F.col("vec_b").alias("vec_a"),
            F.col("vec_a").alias("vec_b"),
            "cos_sim",
        )
    ).select(
        F.col("vec_a").alias("vec_id"),
        F.col("vec_b").alias("neighbor_id"),
        F.round("cos_sim", 6).alias("cos_sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        sym.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= KNN_K)
    )


#: product-quantization geometry: DIM=64 split into PQ_M=4 subspaces of
#: PQ_SUB=16 dims; PQ_K=16 codes per subspace → 4-byte codes (64× smaller
#: than the 256-byte f32 vector; an earlier comment said 16× — that is
#: the DIMENSION ratio 64/4, not the byte ratio). Codebooks are the sub-chunks of the first PQ_K
#: vectors — the same deterministic seed-pick the IVF coarse quantizer uses
#: (production would run Lloyd's per subspace on a sample).
PQ_M = 4
PQ_SUB = 16
PQ_K = 16

if PQ_SUB != DIM // PQ_M:  # a real raise — asserts vanish under python -O
    raise AssertionError(
        f"PQ_SUB ({PQ_SUB}) must equal DIM // PQ_M ({DIM // PQ_M}): the "
        "registered pq_adc oracle slices chunks of PQ_SUB while the shared "
        "_pq_scores chain slices DIM // M — a mismatch silently desyncs "
        "the two spellings of the same geometry"
    )


def _pq_chunks(emb: DataFrame, ms: "tuple[int, ...]") -> DataFrame:
    """(vec_id, m_subspaces, m, chunk): every config's sub-chunks of the
    normalized vectors, exploded from ONE pass — the head of the shared
    PQ chain, split out (r14) so the persisted-index paths can encode
    against a PERSISTED codebook instead of the frame's own seeds."""
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(m_cfg).alias("m_subspaces"),
                F.lit(m).alias("m"),
                F.expr(
                    f"slice(ne, {m * (DIM // m_cfg) + 1}, {DIM // m_cfg})"
                ).alias("chunk"),
            )
            for m_cfg in ms
            for m in range(m_cfg)
        ]
    )
    return emb.select("vec_id", F.explode(chunk_structs).alias("s")).select(
        "vec_id",
        F.col("s.m_subspaces").alias("m_subspaces"),
        F.col("s.m").alias("m"),
        F.col("s.chunk").alias("chunk"),
    )


def _pq_codes(
    sub: DataFrame, cb: DataFrame
) -> DataFrame:
    """(m_subspaces, vec_id, m, code): the per-(vector, subspace) argmax
    encode of a chunk frame against a (code, m_subspaces, m, ce)
    codebook — THE one encode rule (deterministic max-dot, min-code
    tie-break), shared by the in-session chain (codebook = the frame's
    own seeds) and the persisted-index append path (codebook = the
    artifact). The caller passes ``cb`` already broadcast-hinted (it is
    O(sum(ms) x PQ_K) rows everywhere) — hinting again here would nest
    ResolvedHint nodes and shift the pinned hint counts."""
    dot_r = F.round(F.expr(_DOT_SPARK.format(a="chunk", b="ce")), 6)
    return (
        sub.join(cb, ["m_subspaces", "m"])
        .withColumn("dot_r", dot_r)
        .groupBy("m_subspaces", "vec_id", "m")
        .agg(F.expr("max_by(code, struct(dot_r, -code))").alias("code"))
    )


def _pq_scores(
    emb: DataFrame,
    ms: "tuple[int, ...]",
    *,
    seed_emb: DataFrame | None = None,
) -> DataFrame:
    """The ONE PQ pipeline, geometry-parameterized — encode, LUT and ADC
    score for every config M in ``ms``, all from a single corpus pass.
    Returns (m_subspaces, vec_id, approx_cos_sim) for every non-query
    vector.

    Single source for the PQ rule since the r14 fold:
    ``similarity_pq_adc_topk`` is the ``(PQ_M,)`` instance of this chain
    and ``similarity_pq_geometry_sweep`` the ``PQ_SWEEP_MS`` instance, so
    the registered query and the calibration sweep cannot desync on what
    "encode then ADC-score" means — one definition of chunking, seed-pick
    codebooks (vec_id < PQ_K), deterministic argmax tie-break
    (round-6 dot DESC, code ASC), and the micro-unit BIGINT score sum.

    r17 shape (the ``_ivf_ranked`` de-windowing applied to PQ): the
    codebook and the query LUT collapse into ONE broadcast row carrying
    two lookup maps — ``cbm[ms*100+m] -> sorted (code, ce) entries`` and
    ``lutm[(ms*100+m)*100+code] -> contrib_micro`` — and each VECTOR
    computes its whole score map-side: per (config, m), argmax over the
    16 codebook entries via the same total order, then the exact BIGINT
    fold of the m LUT hits, in fixed expression order (BIGINT addition
    is associative/commutative, so the fold equals the old partial-agg
    sum bit-for-bit). The previous shape exploded corpus × codes rows
    through a join and paid TWO corpus-keyed partial-agg exchanges
    (encode argmax, score sum); this one pays ZERO — the corpus never
    shuffles to be scored, at any scale (guide §2.4). Row-identity with
    the old chain is pinned by the unchanged oracles and the pq_adc
    score-equality crafted test. The ``isNotNull`` filter reproduces the
    old inner-join semantics on degenerate corpora (no query row / no
    seed rows -> zero rows, not NULL scores).

    ``seed_emb``: optional un-fanned source for the seed/query rows
    (``_seed_emb``) — row-identical to ``emb``'s seed filter, minus the
    corpus fan-out exchange the broadcast subtree would otherwise
    inherit (VERDICT r17 #3). Callers whose ``emb`` is externally
    supplied leave it None.

    r18 shape for the map build itself: both maps derive from ONE
    collect_list aggregation over the O(sum(ms) x (PQ_K + 1))-row seed
    chunk frame, with the per-key codebook entries, the query chunk and
    the LUT contributions carved out as expressions over that single
    collected array (the (config, m) key set is static, so the carve-out
    is generated per key at plan-build time). The r17 form paid a
    groupBy(key) exchange + a key-join + TWO SinglePartition merges + a
     1-row x 1-row BroadcastNestedLoopJoin — four AQE stage jobs on
    seed-sized frames, pure scheduling floor at any scale (guide
    §2.4/§1.2: the map build is O(K) rows; its cost was job count, not
    data). Value semantics are identical: same array_sort total order on
    (code, ce), same round-6 dot / round-0 micro-unit LUT expressions,
    and a missing query row still yields NULL contributions -> NULL
    sums -> the isNotNull drop (the old empty-join shape)."""
    seeds = (seed_emb if seed_emb is not None else emb).filter(
        (F.col("vec_id") < PQ_K) | (F.col("vec_id") == QUERY_VEC_ID)
    ).select("vec_id", "ne")
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(mc * 100 + m).alias("key"),
                F.expr(
                    f"slice(ne, {m * (DIM // mc) + 1}, {DIM // mc})"
                ).alias("chunk"),
            )
            for mc in ms
            for m in range(mc)
        ]
    )
    sub = seeds.select("vec_id", F.explode(chunk_structs).alias("s")).select(
        "vec_id", F.col("s.key").alias("key"), F.col("s.chunk").alias("chunk")
    )
    keys = [mc * 100 + m for mc in ms for m in range(mc)]
    # one collected array of every (vec_id, key, chunk) seed row; the
    # per-key entry lists and query chunks are projections over it
    rows = sub.agg(
        F.collect_list(F.struct("vec_id", "key", "chunk")).alias("_rows")
    )
    per_key = rows.select(
        *[
            F.expr(
                f"array_sort(transform(filter(_rows, r -> r.key = {key}"
                f" AND r.vec_id < {PQ_K}),"
                " r -> named_struct('code', r.vec_id, 'ce', r.chunk)))"
            ).alias(f"_ent_{key}")
            for key in keys
        ],
        *[
            F.expr(
                f"filter(_rows, r -> r.key = {key}"
                f" AND r.vec_id = {QUERY_VEC_ID})[0].chunk"
            ).alias(f"_qc_{key}")
            for key in keys
        ],
    )
    cbm_expr = F.map_from_entries(
        F.array(
            *[
                F.struct(
                    F.lit(key).alias("key"),
                    F.col(f"_ent_{key}").alias("entries"),
                )
                for key in keys
            ]
        )
    ).alias("cbm")
    lut_arrays = [
        F.expr(
            f"transform(_ent_{key}, e -> named_struct("
            f"'lkey', CAST({key} AS BIGINT) * 100 + e.code, "
            "'contrib_micro', CAST(round(("
            + _DOT_SPARK.format(a=f"_qc_{key}", b="e.ce")
            + ") * 1000000, 0) AS BIGINT)))"
        )
        for key in keys
    ]
    lutm_expr = F.map_from_entries(F.flatten(F.array(*lut_arrays))).alias(
        "lutm"
    )
    maps = F.broadcast(per_key.select(cbm_expr, lutm_expr))

    def _score_expr(mc: int) -> str:
        terms = []
        for m in range(mc):
            key = mc * 100 + m
            chunk = f"slice(ne, {m * (DIM // mc) + 1}, {DIM // mc})"
            dot = _DOT_SPARK.format(a=chunk, b="e.ce")
            code = (
                f"array_sort(transform(element_at(cbm, {key}), e -> "
                f"named_struct('d', round({dot}, 6), 'code', e.code)), "
                "(l, r) -> CASE WHEN l.d > r.d THEN -1 "
                "WHEN l.d < r.d THEN 1 "
                "WHEN l.code < r.code THEN -1 WHEN l.code > r.code THEN 1 "
                "ELSE 0 END)[0].code"
            )
            terms.append(
                f"element_at(lutm, CAST({key} * 100 + ({code}) AS BIGINT))"
            )
        return "(" + " + ".join(terms) + ")"

    arms = F.array(
        *[
            F.struct(
                F.lit(mc).alias("m_subspaces"),
                F.expr(_score_expr(mc)).alias("sum_micro"),
            )
            for mc in ms
        ]
    )
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(maps)
        .select("vec_id", F.explode(arms).alias("a"))
        .select(
            F.col("a.m_subspaces").alias("m_subspaces"),
            "vec_id",
            (F.col("a.sum_micro").cast("bigint") * 1.0 / 1_000_000.0).alias(
                "approx_cos_sim"
            ),
        )
        .filter(F.col("approx_cos_sim").isNotNull())
    )


#: The PQ-ADC oracle pipeline as composable CTE text (r14): normalized
#: vectors -> PQ_SUB-wide sub-chunks -> seed codebook -> per-(vec, m)
#: argmax codes -> the query's (m, code) -> micro-unit LUT. Single SQL
#: source for the registered pq_adc oracle AND the composed IVF-PQ
#: oracle, mirroring the Spark side's one ``_pq_scores`` chain.
_PQ_ADC_CTES = f"""n AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> x / sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                                CAST(embedding AS DOUBLE[]))))
               AS ne
      FROM {_EMB_SQL}
    ),
    sub AS (
      SELECT vec_id, mm.i AS m,
             ne[mm.i * {PQ_SUB} + 1 : mm.i * {PQ_SUB} + {PQ_SUB}] AS chunk
      FROM n, (SELECT UNNEST(range({PQ_M})) AS i) mm
    ),
    cb AS (
      SELECT vec_id AS code, m, chunk AS ce FROM sub WHERE vec_id < {PQ_K}
    ),
    assign AS (
      SELECT s.vec_id, s.m, c.code,
             ROW_NUMBER() OVER (
               PARTITION BY s.vec_id, s.m
               ORDER BY ROUND(list_inner_product(s.chunk, c.ce), 6) DESC,
                        c.code
             ) AS rn
      FROM sub s JOIN cb c USING (m)
    ),
    codes AS (SELECT vec_id, m, code FROM assign WHERE rn = 1),
    lut AS (
      SELECT c.m, c.code,
             CAST(ROUND(list_inner_product(q.chunk, c.ce) * 1000000)
                  AS BIGINT) AS contrib_micro
      FROM cb c
      JOIN (SELECT m, chunk FROM sub WHERE vec_id = {QUERY_VEC_ID}) q
        USING (m)
    )"""


@query(
    "similarity_pq_adc_topk",
    oracle=f"""
    WITH {_PQ_ADC_CTES}
    SELECT codes.vec_id,
           CAST(SUM(l.contrib_micro) AS BIGINT) * 1.0 / 1000000.0
             AS approx_cos_sim
    FROM codes JOIN lut l USING (m, code)
    WHERE codes.vec_id <> {QUERY_VEC_ID}
    GROUP BY codes.vec_id
    ORDER BY approx_cos_sim DESC, codes.vec_id
    LIMIT 10
    """,
    doc=f"Product-quantization ANN with asymmetric distance computation: "
    f"vectors compress to {PQ_M} one-byte codes (argmax inner product per "
    f"subspace against a {PQ_K}-entry codebook, deterministic seed-pick "
    "codebooks shared with the oracle), the query builds a tiny "
    "(subspace, code) → contribution lookup table, and the approximate "
    "cosine is the SUM of table hits — the memory-bound trick behind "
    "FAISS-style billion-vector search. Per-subspace contributions are "
    "micro-unit BIGINTs so the 4-term sum is exact integer math (no "
    "float-order nondeterminism). Plan (r17): codebook and LUT ride ONE "
    "broadcast row as lookup maps and every vector encodes AND sums "
    "map-side — the corpus never shuffles to be scored (formerly two "
    "corpus-keyed partial-agg exchanges). At 100 TB the encode runs ONCE and "
    "persists 4-byte codes; every query after that scans codes + a "
    "broadcast LUT — 16× less IO than the raw vectors, no re-encode.",
)
def similarity_pq_adc_topk(
    spark: SparkSession, sf_dir: str, *, emb: DataFrame | None = None
) -> DataFrame:
    # the (PQ_M,) instance of the shared geometry-parameterized chain —
    # see _pq_scores for the r14 fold note (one encode/LUT definition
    # for the registered query AND the calibration sweep)
    ext = emb is not None
    emb = _with_normalized(
        emb if ext else _load_emb(spark, sf_dir)
    )
    return (
        _pq_scores(
            emb,
            (PQ_M,),
            # codebook/query seed rows from the un-fanned scan — see
            # _seed_emb; an external emb (the recall report) stays on it
            seed_emb=None if ext else _seed_emb(spark, sf_dir),
        )
        .select("vec_id", "approx_cos_sim")
        .orderBy(F.col("approx_cos_sim").desc(), "vec_id")
        .limit(10)
    )


#: geometry grid for the PQ calibration sweep: bytes-per-vector = M
#: (one byte per subspace at PQ_K=16 codes), so against the 256-byte
#: f32 vector (DIM=64 x 4 bytes) the grid prices the
#: compression-vs-recall tradeoff at 128x / 64x / 32x.
#: SUB = DIM // M per config; PQ_K codebook entries throughout.
PQ_SWEEP_MS = (2, 4, 8)


def _pq_sweep_oracle() -> str:
    """Compose the sweep oracle from the registered brute-force spec
    (the recall denominator's single source, the same rule as
    ``_recall_report_oracle``/``_ivf_probe_sweep_oracle``)."""
    from iceberg_explorer_spark.operators.registry import QUERIES as _Q

    bf = _Q["similarity_bruteforce_topk"].oracle
    values = ", ".join(f"({m})" for m in PQ_SWEEP_MS)
    return f"""
    WITH n AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> x / sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                                CAST(embedding AS DOUBLE[]))))
               AS ne
      FROM {_EMB_SQL}
    ),
    conf AS (SELECT * FROM (VALUES {values}) AS t(m_subspaces)),
    sub AS (
      SELECT c.m_subspaces, n.vec_id, mm.i AS m,
             n.ne[mm.i * ({DIM} / c.m_subspaces) + 1 :
                  (mm.i + 1) * ({DIM} / c.m_subspaces)] AS chunk
      FROM n
      CROSS JOIN conf c
      JOIN (SELECT UNNEST(range({max(PQ_SWEEP_MS)})) AS i) mm
        ON mm.i < c.m_subspaces
    ),
    cb AS (
      SELECT m_subspaces, vec_id AS code, m, chunk AS ce
      FROM sub WHERE vec_id < {PQ_K}
    ),
    assign AS (
      SELECT s.m_subspaces, s.vec_id, s.m, c.code,
             ROW_NUMBER() OVER (
               PARTITION BY s.m_subspaces, s.vec_id, s.m
               ORDER BY ROUND(list_inner_product(s.chunk, c.ce), 6) DESC,
                        c.code
             ) AS rn
      FROM sub s JOIN cb c USING (m_subspaces, m)
    ),
    codes AS (
      SELECT m_subspaces, vec_id, m, code FROM assign WHERE rn = 1
    ),
    lut AS (
      SELECT c.m_subspaces, c.m, c.code,
             CAST(ROUND(list_inner_product(q.chunk, c.ce) * 1000000)
                  AS BIGINT) AS contrib_micro
      FROM cb c
      JOIN (SELECT m_subspaces, m, chunk FROM sub
            WHERE vec_id = {QUERY_VEC_ID}) q
        USING (m_subspaces, m)
    ),
    scores AS (
      SELECT codes.m_subspaces, codes.vec_id,
             CAST(SUM(l.contrib_micro) AS BIGINT) * 1.0 / 1000000.0
               AS approx_cos_sim
      FROM codes JOIN lut l USING (m_subspaces, m, code)
      WHERE codes.vec_id <> {QUERY_VEC_ID}
      GROUP BY codes.m_subspaces, codes.vec_id
    ),
    topk AS (
      SELECT m_subspaces, vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY m_subspaces
               ORDER BY approx_cos_sim DESC, vec_id
             ) AS crn
      FROM scores
    ),
    bf AS MATERIALIZED (SELECT vec_id FROM ({bf}) bf_full),
    hits AS (
      SELECT t.m_subspaces, CAST(COUNT(*) AS BIGINT) AS n_returned,
             CAST(COUNT(b.vec_id) AS BIGINT) AS n_hits
      FROM topk t LEFT JOIN bf b ON t.vec_id = b.vec_id
      WHERE t.crn <= 10
      GROUP BY t.m_subspaces
    )
    SELECT c.m_subspaces,
           CAST(c.m_subspaces AS BIGINT) AS bytes_per_vec,
           CAST({DIM} * 4 / c.m_subspaces AS BIGINT) AS compression_x,
           CAST(COALESCE(h.n_returned, 0) AS BIGINT) AS n_returned,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CASE WHEN (SELECT COUNT(*) FROM bf) = 0 THEN 0.0
                ELSE COALESCE(h.n_hits, 0) * 1.0
                       / (SELECT COUNT(*) FROM bf)
           END AS recall
    FROM conf c LEFT JOIN hits h ON c.m_subspaces = h.m_subspaces
    """


@query(
    "similarity_pq_geometry_sweep",
    oracle=_pq_sweep_oracle(),
    doc=f"PQ geometry calibration sweep: recall@10 against the exact "
    f"top-10 for every code geometry M in {PQ_SWEEP_MS} (bytes-per-vector"
    f" = M at {PQ_K} codes/subspace, i.e. 128x/64x/32x compression of "
    "the 256-byte f32 vector) — the compression-vs-recall curve THE decision of a "
    "100 TB ANN build hangs on, priced from ONE corpus scan: every "
    "vector encodes and ADC-scores ALL configs map-side against one "
    "broadcast codebook+LUT map row (r17 — see _pq_scores; formerly the "
    "configs' chunks exploded through a join and two corpus-keyed "
    "exchanges), so the whole grid is one pipeline, never a rerun "
    "per geometry (the dedup_lsh_band_tuning rule applied to PQ). "
    "Per-config top-k is an EXACT two-stage fan-in: local rank inside "
    f"(config, vec_id mod {_SWEEP_BUCKETS}) buckets, then global "
    f"rank over <= {len(PQ_SWEEP_MS)}x{_SWEEP_BUCKETS}x10 survivors "
    "— a global top-k is a subset of local winners under any row "
    "partition, so a config's window never ranks the whole corpus in "
    "one partition (the skew a bare partitionBy(config) window has at "
    "scale). Approximate scores are exact micro-unit BIGINT sums (the "
    "pq_adc determinism rule); the recall denominator composes the "
    "registered brute-force spec. "
    "reference: no analogue — training-pipeline extension.",
)
def similarity_pq_geometry_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # (r18 measured-and-rejected: the one-materialization emb checkpoint
    # — see similarity_ivf_pq_topk's note; interleaved 3-way A/B here:
    # 1.987 old / 1.904 map-fold-only / 2.030 with the checkpoint.)
    emb = _with_normalized(_load_emb(spark, sf_dir))
    # the PQ_SWEEP_MS instance of the shared chain (see _pq_scores):
    # all configs' sub-chunks from one pass, every stage keyed on the
    # config column; seed rows from the un-fanned scan (_seed_emb)
    scores = _pq_scores(
        emb, PQ_SWEEP_MS, seed_emb=_seed_emb(spark, sf_dir)
    )
    bf = _exact_hits(spark, sf_dir, emb).localCheckpoint(eager=True)
    conf = spark.createDataFrame(
        [(m,) for m in PQ_SWEEP_MS], "m_subspaces int"
    )
    return _recall_tail(
        conf,
        _two_stage_topk(scores, "m_subspaces", "approx_cos_sim"),
        bf,
        "m_subspaces",
        F.col("m_subspaces").cast("bigint").alias("bytes_per_vec"),
        (F.lit(DIM * 4).cast("bigint") / F.col("m_subspaces"))
        .cast("bigint")
        .alias("compression_x"),
    )


def _ivf_pq_shortlist(
    spark: SparkSession, sf_dir: str, n: int
) -> "tuple[DataFrame, DataFrame, DataFrame]":
    """(emb, seed_emb, top-n) for the registered IVF-PQ queries: the
    normalized corpus, the un-fanned seed scan (``_seed_emb``) and the
    query's top-``n`` probed-list candidates by ADC score —
    (vec_id, probe_list, approx_cos_sim) in (score DESC, vec_id) order.
    ``similarity_ivf_pq_topk`` returns the top 10; the refine query cuts
    its REFINE_R shortlist here and re-ranks it exactly."""
    # (r18 measured-and-rejected: materializing the contract-filtered
    # (vec_id, ne) corpus as ONE eager localCheckpoint for the five emb
    # branches — interleaved same-session min-of-6: 1.892 s without vs
    # 2.172 s with in the plain query, 2.375 s vs 2.642 s in the refine
    # query. The blocking checkpoint SERIALIZES a pass that AQE's
    # concurrent broadcast-subtree jobs otherwise overlap on idle cores;
    # redundant branch recompute is parallel slack here, not wall time.)
    emb = _with_normalized(_load_emb(spark, sf_dir))
    # seed subtrees (centroids, probe ranking, codebook/query rows) on
    # the un-fanned scan — see _seed_emb
    se = _seed_emb(spark, sf_dir)
    cents = se.filter(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("cid"), F.col("ne").alias("ce")
    )
    ranked = _ivf_ranked(emb, cents=cents)
    qprobe = F.broadcast(
        _ivf_ranked(se, cents=cents).filter(
            (F.col("vec_id") == QUERY_VEC_ID) & (F.col("rn") <= IVF_NPROBE)
        ).select("cid")
    )
    # candidates = members of the probed lists; checkpointed once for
    # its TWO consumers (the encode-restriction semi-join and the final
    # probe_list join). Re-justified AFTER the r17 de-windowing removed
    # the original window-era reason (VERDICT r17 #1): dropping it
    # re-runs the whole map-side ranking chain (scan + centroid
    # broadcast + rank + probe join) once per branch and measured WORSE
    # in the refine query — 1.797 s vs 1.197 s, r18 interleaved min-of-5
    # at sf0.1/32, rows identical. The materialized frame is
    # probe-limited (nprobe/K of the corpus), so the checkpoint stays
    # cheap at any scale.
    cand = (
        ranked.filter(F.col("rn") == 1)
        .join(qprobe, "cid")
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", F.col("cid").alias("probe_list"))
        .localCheckpoint(eager=True)
    )
    # restrict the encode to candidates + the seed codebook rows + the
    # query row: codes depend only on a vector's own chunks and the
    # seed codebook, so the restricted encode is bit-identical to the
    # full-corpus one (doc) while scanning nprobe/K of the corpus
    ids = (
        cand.select("vec_id")
        .unionByName(
            se.filter(
                (F.col("vec_id") < PQ_K)
                | (F.col("vec_id") == QUERY_VEC_ID)
            ).select("vec_id")
        )
        .distinct()
    )
    scores = _pq_scores(
        emb.join(ids, "vec_id", "left_semi"), (PQ_M,), seed_emb=se
    )
    top = (
        cand.join(scores, "vec_id")
        .select("vec_id", "probe_list", "approx_cos_sim")
        .orderBy(F.col("approx_cos_sim").desc(), "vec_id")
        .limit(n)
    )
    return emb, se, top


@query(
    "similarity_ivf_pq_topk",
    oracle=f"""
    WITH {_ivf_assign_sql_duckdb()},
    {_PQ_ADC_CTES},
    qprobe AS MATERIALIZED (SELECT cid FROM ranked
               WHERE vec_id = {QUERY_VEC_ID} AND rn <= {IVF_NPROBE}),
    cand AS MATERIALIZED (
      SELECT r.vec_id, r.cid AS probe_list
      FROM ranked r JOIN qprobe p ON r.cid = p.cid
      WHERE r.rn = 1 AND r.vec_id <> {QUERY_VEC_ID}
    ),
    scores AS (
      SELECT codes.vec_id,
             CAST(SUM(l.contrib_micro) AS BIGINT) * 1.0 / 1000000.0
               AS approx_cos_sim
      FROM codes JOIN lut l USING (m, code)
      WHERE codes.vec_id <> {QUERY_VEC_ID}
      GROUP BY codes.vec_id
    )
    SELECT c.vec_id, c.probe_list, s.approx_cos_sim
    FROM cand c JOIN scores s ON c.vec_id = s.vec_id
    ORDER BY s.approx_cos_sim DESC, c.vec_id
    LIMIT 10
    """,
    doc=f"IVF-PQ composed ANN (r14) — the canonical billion-scale index "
    "architecture (FAISS IndexIVFPQ): the coarse quantizer prunes the "
    f"corpus to the query's {IVF_NPROBE} probed lists, and candidates "
    "are ranked by the PQ asymmetric-distance score over "
    f"{PQ_M}-byte codes instead of the raw vectors — so a serve reads "
    f"nprobe/{IVF_K} of the index AND {DIM * 4 // PQ_M}x less per "
    "candidate, the two selectivity arguments this repo's index "
    "families make individually, composed. Both halves are the shared "
    "single-source chains: assignment/probing = _ivf_ranked (the rule "
    "similarity_ivf_topk and the persisted index serve), scoring = "
    "_pq_scores at the registered PQ_M geometry (the r14-folded chain "
    "behind similarity_pq_adc_topk and the geometry sweep) — so this "
    "query cannot desync from either parent, and its encode is "
    "RESTRICTED to candidates + seeds + query (a vector's code depends "
    "only on its own chunks and the seed codebook, so restricted codes "
    "are bit-identical to full-corpus codes — the crafted test pins "
    "per-row score equality with pq_adc). Determinism: micro-unit "
    "BIGINT ADC sums, total-order tie-breaks. Plan: one assignment "
    "pass (broadcast K centroids), candidate frame checkpointed once "
    "for its two consumers, one restricted encode pass (broadcast "
    "codebook + LUT), TakeOrderedAndProject top-k. At 100 TB the "
    "in-session assignment+encode become the ONE-TIME build writing "
    "cid-bucketed code tables (ivf_backfill_lists's layout with "
    f"{PQ_M}-byte codes per row instead of {DIM * 4}-byte vectors); a "
    "serve is then a K-row centroid job + one bucket-pruned scan of "
    "probed code files + a broadcast LUT — ivf_topk_from_store's plan "
    "at PQ row width. reference: no analogue — training-pipeline "
    "extension.",
)
def similarity_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_pq_shortlist(spark, sf_dir, 10)[2]


@query(
    "similarity_ivf_pq_refine_topk",
    oracle=f"""
    WITH {_ivf_assign_sql_duckdb()},
    {_PQ_ADC_CTES},
    qprobe AS MATERIALIZED (SELECT cid FROM ranked
               WHERE vec_id = {QUERY_VEC_ID} AND rn <= {IVF_NPROBE}),
    cand AS MATERIALIZED (
      SELECT r.vec_id, r.cid AS probe_list
      FROM ranked r JOIN qprobe p ON r.cid = p.cid
      WHERE r.rn = 1 AND r.vec_id <> {QUERY_VEC_ID}
    ),
    scores AS (
      SELECT codes.vec_id,
             CAST(SUM(l.contrib_micro) AS BIGINT) * 1.0 / 1000000.0
               AS approx_cos_sim
      FROM codes JOIN lut l USING (m, code)
      WHERE codes.vec_id <> {QUERY_VEC_ID}
      GROUP BY codes.vec_id
    ),
    shortlist AS MATERIALIZED (
      SELECT c.vec_id, c.probe_list, s.approx_cos_sim
      FROM cand c JOIN scores s ON c.vec_id = s.vec_id
      ORDER BY s.approx_cos_sim DESC, c.vec_id
      LIMIT {REFINE_R}
    ),
    q AS MATERIALIZED (
      SELECT embedding AS qe FROM {_EMB_SQL} WHERE vec_id = {QUERY_VEC_ID}
    )
    SELECT sl.vec_id, sl.probe_list, sl.approx_cos_sim,
           ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.qe AS DOUBLE[])), 6)
             AS cos_sim
    FROM shortlist sl JOIN {_EMB_SQL} e ON sl.vec_id = e.vec_id, q
    ORDER BY cos_sim DESC, sl.vec_id
    LIMIT 10
    """,
    doc=f"IVF-PQ with exact refinement (r15) — the third stage of the "
    "canonical serving cascade (FAISS IndexRefineFlat over IndexIVFPQ): "
    "the coarse quantizer prunes to the probed lists, ADC over "
    f"{PQ_M}-byte codes ranks the candidates, the top {REFINE_R} "
    "shortlist is re-ranked with EXACT cosines against the raw "
    "vectors, and the final top-k is exact WITHIN the shortlist — "
    "recovering the orderings PQ quantization error scrambles among "
    "near-ties at the cost of O(R) raw-vector reads, independent of "
    "corpus size. Built from the same two shared chains as its parent "
    "(_ivf_ranked assignment, _pq_scores ADC at the registered "
    "geometry) plus one R-row broadcast join back to the vectors, so "
    "it cannot desync from the composed query it refines; rows carry "
    "BOTH scores so the quantization error the refine absorbed is "
    "auditable per result. Determinism: the shortlist cut is "
    "total-ordered (micro-unit ADC score DESC, vec_id), the exact "
    "score is the round-6 normalized dot. Plan: the parent's plan + "
    "the shortlist cut, its broadcast-R join, and the 1-row broadcast "
    "query vector; the ONE exchange the tail adds is the R-row "
    "SinglePartition shortlist materialization (scale-independent — "
    "nothing corpus-sized moves). At 100 TB: the "
    "shortlist is R rows regardless of scale; the refine stage's "
    "vector fetches are R point lookups against the vec_id-sorted "
    "vector table (Iceberg positional reads), which is why serving "
    "stacks run PQ-for-recall + refine-for-precision instead of wider "
    "PQ codes. The documented residual: a true neighbor that ADC "
    "ranks below R is not recoverable — recall is the parent's, only "
    "precision-at-ties improves. reference: no analogue — "
    "training-pipeline extension.",
)
def similarity_ivf_pq_refine_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb, se, shortlist = _ivf_pq_shortlist(spark, sf_dir, REFINE_R)
    qv = F.broadcast(
        se.filter(F.col("vec_id") == QUERY_VEC_ID).select(
            F.col("ne").alias("qe")
        )
    )
    return (
        F.broadcast(shortlist)
        .join(emb.select("vec_id", "ne"), "vec_id")
        .crossJoin(qv)
        .select(
            "vec_id",
            "probe_list",
            "approx_cos_sim",
            F.round(F.expr(_DOT_SPARK.format(a="ne", b="qe")), 6).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


#: Binary-quantization shortlist size (the Hamming stage's cut, re-ranked
#: exactly). Same magnitude as REFINE_R: the BQ sketch is coarser than PQ
#: codes (1 bit/dim vs 8), so it leans on the exact stage for precision.
BQ_R = 30

#: The sign-bit sketch packer, parameterized by the slice offset: bits
#: 0..31 of one BIGINT half from 32 consecutive dimensions of the
#: normalized vector (bit i set iff the dimension is > 0). Bit 63 is
#: deliberately never used — DuckDB's list_sum widens BIGINT to HUGEINT,
#: so a two's-complement-wrapped 1<<63 would diverge between engines;
#: two 32-bit halves keep every packed value exactly representable (and
#: positive) in BOTH integer models.
_BQ_PACK_SPARK = (
    "aggregate(zip_with(slice(ne, {off}, 32), sequence(0, 31),"
    " (x, i) -> IF(x > CAST(0 AS DOUBLE),"
    " shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),"
    " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)


@query(
    "similarity_bq_hamming_topk",
    oracle=f"""
    WITH n AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> x / sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                                CAST(embedding AS DOUBLE[]))))
               AS ne
      FROM {_EMB_SQL}
    ),
    sk AS (
      SELECT vec_id, ne,
             CAST(list_sum(list_transform(range(0, 32),
               i -> CASE WHEN ne[i + 1] > 0
                         THEN (CAST(1 AS BIGINT) << i) ELSE 0 END))
               AS BIGINT) AS lo,
             CAST(list_sum(list_transform(range(0, 32),
               i -> CASE WHEN ne[i + 33] > 0
                         THEN (CAST(1 AS BIGINT) << i) ELSE 0 END))
               AS BIGINT) AS hi
      FROM n
    ),
    q AS (SELECT lo AS qlo, hi AS qhi, ne AS qne FROM sk
          WHERE vec_id = {QUERY_VEC_ID}),
    h AS (
      SELECT s.vec_id, s.ne,
             CAST(bit_count(xor(s.lo, q.qlo))
                  + bit_count(xor(s.hi, q.qhi)) AS BIGINT) AS hamming_dist
      FROM sk s, q
      WHERE s.vec_id <> {QUERY_VEC_ID}
    ),
    sl AS (SELECT * FROM h ORDER BY hamming_dist, vec_id LIMIT {BQ_R})
    SELECT sl.vec_id, sl.hamming_dist,
           ROUND(list_inner_product(sl.ne, q.qne), 6) AS cos_sim
    FROM sl, q
    ORDER BY cos_sim DESC, sl.vec_id
    LIMIT 10
    """,
    doc=f"Binary-quantization ANN cascade (r16) — the 1-bit sibling of "
    "the PQ family and the serving shape modern vector stores ship as "
    "'BQ + rescore' (RaBitQ / Milvus BQ / pgvector binary_quantize): "
    "each vector collapses to its SIGN BITS (bit d = normalized dim d "
    f"> 0), packed here into two 32-bit BIGINT halves ({DIM} dims -> 8 "
    "bytes/vector, 32x smaller than the f32 row and codebook-free, "
    "unlike PQ); candidates are ranked by Hamming distance — two XORs "
    f"and two popcounts per pair — the top {BQ_R} shortlist is "
    "re-ranked with exact cosines, and ties break by vec_id at both "
    "stages. Recall is the sketch's (the crafted test pins a REAL "
    "residual: a better exact cosine outside the Hamming shortlist "
    "stays absent), precision inside the shortlist is exact — the "
    "IndexRefineFlat pattern at 1 bit. Determinism: sign bits are "
    "scale-invariant (sign(ne) == sign(raw), so engine ulp drift in "
    "the normalization cannot flip a bit), exact-integer Hamming, "
    "round-6 exact cosines, total-order tie-breaks. Plan: ONE corpus "
    "scan, zero shuffles and zero Window nodes — the 1-row query "
    "sketch broadcast-cross-joins in, both cuts are heap-based "
    "TakeOrderedAndProject (the shortlist carries its ne through, so "
    "the rerank needs NO second scan or join). At 100 TB the sketches "
    "persist as two BIGINT columns in the vector index (the ivf_lists "
    "store pattern: computed once at ingest, 16 bytes/row scanned "
    "instead of 256), the Hamming scan is SIMD popcount over packed "
    f"words, and the exact stage point-reads {BQ_R} raw rows — the "
    "refine-serve cascade with a 32x cheaper first stage. reference: "
    "no analogue — training-pipeline extension (the third compression "
    "point on the int8 -> PQ -> binary curve this repo's similarity "
    "family prices).",
)
def similarity_bq_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _with_normalized(_load_emb(spark, sf_dir))
    sk = emb.select(
        "vec_id",
        "ne",
        F.expr(_BQ_PACK_SPARK.format(off=1)).alias("lo"),
        F.expr(_BQ_PACK_SPARK.format(off=33)).alias("hi"),
    )
    q = F.broadcast(
        sk.filter(F.col("vec_id") == QUERY_VEC_ID).select(
            F.col("lo").alias("qlo"),
            F.col("hi").alias("qhi"),
            F.col("ne").alias("qne"),
        )
    )
    ham = (
        F.bit_count(F.expr("lo ^ qlo")) + F.bit_count(F.expr("hi ^ qhi"))
    ).cast("bigint")
    shortlist = (
        sk.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(q)
        .withColumn("hamming_dist", ham)
        .orderBy("hamming_dist", "vec_id")
        .limit(BQ_R)
    )
    return (
        shortlist.select(
            "vec_id",
            "hamming_dist",
            F.round(F.expr(_DOT_SPARK.format(a="ne", b="qne")), 6).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


def _shortlist_r_sweep(
    scored: DataFrame, candidates: DataFrame, order: tuple, rs: tuple, cut
) -> DataFrame:
    """Recall@10 of a shortlist-then-exact-re-rank cascade at every
    shortlist size in ``rs``, from one scored pass. The true top-10 is
    ``scored`` (vec_id, cos, ...) by (cos DESC, vec_id); the stage-1
    shortlist is ``candidates`` heap-cut to max(``rs``) rows by
    ``order`` and ranked in that order (the row_number Window runs on
    the cut frame, never the corpus); the explode over ``rs`` keeps
    everything after the heaps O(sum(rs)) rows. Returns (shortlist_r,
    n_candidates, ``cut`` — the aggregate reporting the stage-1 radius
    each size implies — n_hits, recall_at_10)."""
    t10 = F.broadcast(
        scored.orderBy(F.col("cos").desc(), "vec_id")
        .limit(10)
        .select("vec_id", F.lit(1).alias("hit"))
    )
    d = F.broadcast(t10.agg(F.count(F.lit(1)).cast("bigint").alias("nt")))
    ranked = (
        candidates.orderBy(*order)
        .limit(max(rs))
        .withColumn("rk", F.row_number().over(Window.orderBy(*order)))
        .join(t10, "vec_id", "left")
    )
    hit = F.coalesce(F.col("hit"), F.lit(0))
    return (
        ranked.withColumn(
            "shortlist_r", F.explode(F.array(*[F.lit(r) for r in rs]))
        )
        .filter(F.col("rk") <= F.col("shortlist_r"))
        .crossJoin(d)
        .groupBy("shortlist_r", "nt")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            cut,
            F.sum(hit).cast("bigint").alias("n_hits"),
            (F.sum(hit).cast("double") / F.first("nt")).alias("recall_at_10"),
        )
        .drop("nt")
    )


#: The BQ calibration grid: shortlist sizes priced by the sweep.
#: Unlike the IVF probe sweep there is NO structural saturation rung
#: (nprobe=K provably reaches recall 1.0; no fixed R does, because the
#: corpus grows with SF while R does not) — the sweep's recall column
#: is the finding itself, and n_candidates (min(shortlist_r,
#: corpus-1)) makes an unsaturated or exhausted curve readable as such. Measured on the sf0.01
#: corpus the curve is 0.3 / 0.6 / 0.9: a 64-bit sign sketch is COARSE,
#: which is exactly the number a BQ_R choice should be read against.
BQ_SWEEP_RS = (10, 30, 100)


@query(
    "similarity_bq_r_sweep",
    oracle=f"""
    WITH n AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> x / sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                                CAST(embedding AS DOUBLE[]))))
               AS ne
      FROM {_EMB_SQL}
    ),
    sk AS (
      SELECT vec_id, ne,
             CAST(list_sum(list_transform(range(0, 32),
               i -> CASE WHEN ne[i + 1] > 0
                         THEN (CAST(1 AS BIGINT) << i) ELSE 0 END))
               AS BIGINT) AS lo,
             CAST(list_sum(list_transform(range(0, 32),
               i -> CASE WHEN ne[i + 33] > 0
                         THEN (CAST(1 AS BIGINT) << i) ELSE 0 END))
               AS BIGINT) AS hi
      FROM n
    ),
    q AS (SELECT lo AS qlo, hi AS qhi, ne AS qne FROM sk
          WHERE vec_id = {QUERY_VEC_ID}),
    scored AS (
      SELECT s.vec_id,
             CAST(bit_count(xor(s.lo, q.qlo))
                  + bit_count(xor(s.hi, q.qhi)) AS BIGINT) AS ham,
             ROUND(list_inner_product(s.ne, q.qne), 6) AS cos
      FROM sk s, q
      WHERE s.vec_id <> {QUERY_VEC_ID}
    ),
    t10 AS (SELECT vec_id FROM scored ORDER BY cos DESC, vec_id LIMIT 10),
    d AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM t10),
    ranked AS (
      SELECT vec_id, ham, ROW_NUMBER() OVER (ORDER BY ham, vec_id) AS rk
      FROM (SELECT * FROM scored
            ORDER BY ham, vec_id LIMIT {max(BQ_SWEEP_RS)})
    )
    SELECT rs.shortlist_r,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(MAX(r.ham) AS BIGINT) AS hamming_cut,
           CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / d.nt AS recall_at_10
    FROM ranked r
    JOIN (VALUES {", ".join(f"({x})" for x in BQ_SWEEP_RS)})
      AS rs(shortlist_r) ON r.rk <= rs.shortlist_r
    LEFT JOIN t10 t USING (vec_id)
    CROSS JOIN d
    GROUP BY rs.shortlist_r, d.nt
    """,
    doc=f"BQ shortlist-size calibration sweep (r16) — the tuning leg the "
    "other two ANN families already carry (similarity_ivf_probe_sweep "
    "prices nprobe, similarity_pq_geometry_sweep prices code bytes; "
    f"this prices BQ_R): recall@10 of the BQ cascade at shortlist sizes "
    f"{BQ_SWEEP_RS}, from ONE scored pass. Because the exact re-rank "
    "keeps the best cosines WITHIN the shortlist, cascade recall@10 at "
    "size R equals |true top-10 ∩ Hamming top-R| / |true top-10| "
    "exactly (only 9 vectors can out-rank the 10th true neighbor, so "
    "shortlisted true neighbors always survive the re-rank) — the "
    "sweep never has to run the cascade R times. hamming_cut reports "
    "the Hamming radius each R implies — the quantity a threshold- "
    "based (radius) variant would tune instead. Unlike the probe "
    "sweep's nprobe=K rung there is NO structural recall-1.0 anchor "
    "(no fixed R saturates a growing corpus): the measured curve IS "
    "the finding — 0.3/0.6/0.9 on the sf0.01 corpus, a 64-bit sign "
    "sketch is honestly coarse — and n_candidates (min(shortlist_r, "
    "corpus-1)) keeps an unsaturated or exhausted curve readable as "
    "such. "
    "Determinism: round-6 cosines, exact-integer Hamming, "
    "(ham, vec_id) / (cos DESC, vec_id) total orders, integer hit "
    "counts divided once. Plan: the scored pass is scanned by two "
    "heap cuts (TakeOrderedAndProject — no corpus-wide Window "
    "anywhere); the true-top-10 and the candidate count are tiny "
    "broadcast sides; the per-R fan-out EXPLODES the 100-row ranked "
    "frame, so everything after the heaps is O(sum(Rs)) rows. At 100 "
    "TB both heaps are map-side partial top-k + one merge of "
    f"{max(BQ_SWEEP_RS)} rows/partition — the standard distributed "
    "top-k shape — and the sweep reads the persisted sketch columns "
    "(16 B/row) once. reference: no analogue — training-pipeline "
    "extension.",
)
def similarity_bq_r_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _with_normalized(_load_emb(spark, sf_dir))
    sk = emb.select(
        "vec_id",
        "ne",
        F.expr(_BQ_PACK_SPARK.format(off=1)).alias("lo"),
        F.expr(_BQ_PACK_SPARK.format(off=33)).alias("hi"),
    )
    q = F.broadcast(
        sk.filter(F.col("vec_id") == QUERY_VEC_ID).select(
            F.col("lo").alias("qlo"),
            F.col("hi").alias("qhi"),
            F.col("ne").alias("qne"),
        )
    )
    ham = (
        F.bit_count(F.expr("lo ^ qlo")) + F.bit_count(F.expr("hi ^ qhi"))
    ).cast("bigint")
    scored = (
        sk.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(q)
        .select(
            "vec_id",
            ham.alias("ham"),
            F.round(F.expr(_DOT_SPARK.format(a="ne", b="qne")), 6).alias(
                "cos"
            ),
        )
    )
    return _shortlist_r_sweep(
        scored,
        scored,
        ("ham", "vec_id"),
        BQ_SWEEP_RS,
        F.max("ham").cast("bigint").alias("hamming_cut"),
    )


#: The MRL serving prefix width and shortlist size: the d=16 rung of
#: similarity_mrl_truncation_sweep's curve (4x fewer scan bytes than the
#: full vector), refined through the same shortlist budget as the BQ
#: cascade so the two first stages price against each other directly.
MRL_SERVE_DIM = 16
MRL_R = 30


#: The MRL cascade's shortlist calibration grid — deliberately the BQ
#: sweep's rungs, so the two cheap stages' recall-vs-R curves read off
#: against each other at identical budgets.
MRL_SWEEP_RS = (10, 30, 100)


def _mrl_r_sweep_oracle() -> str:
    """The MRL shortlist sweep's oracle, composed from the same prefix
    rule as the cascade (d fixed at MRL_SERVE_DIM)."""
    values = ", ".join(f"({x})" for x in MRL_SWEEP_RS)
    return f"""
    WITH n AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> x / sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                                CAST(embedding AS DOUBLE[]))))
               AS ne
      FROM {{emb}}
    ),
    q AS (SELECT ne AS qne FROM n WHERE vec_id = {QUERY_VEC_ID}),
    scored AS (
      SELECT e.vec_id,
             CASE WHEN sqrt(list_inner_product(e.ne[1 : {MRL_SERVE_DIM}],
                                               e.ne[1 : {MRL_SERVE_DIM}]))
                     * sqrt(list_inner_product(q.qne[1 : {MRL_SERVE_DIM}],
                                               q.qne[1 : {MRL_SERVE_DIM}]))
                    > 0
                  THEN ROUND(
                    list_inner_product(e.ne[1 : {MRL_SERVE_DIM}],
                                       q.qne[1 : {MRL_SERVE_DIM}])
                    / (sqrt(list_inner_product(e.ne[1 : {MRL_SERVE_DIM}],
                                               e.ne[1 : {MRL_SERVE_DIM}]))
                       * sqrt(list_inner_product(q.qne[1 : {MRL_SERVE_DIM}],
                                                 q.qne[1 : {MRL_SERVE_DIM}]))),
                    6)
             END AS tcos,
             ROUND(list_inner_product(e.ne, q.qne), 6) AS cos
      FROM n e, q
      WHERE e.vec_id <> {QUERY_VEC_ID}
    ),
    t10 AS (SELECT vec_id FROM scored ORDER BY cos DESC, vec_id LIMIT 10),
    d AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM t10),
    ranked AS (
      SELECT vec_id, tcos,
             ROW_NUMBER() OVER (ORDER BY tcos DESC, vec_id) AS rk
      FROM (SELECT * FROM scored WHERE tcos IS NOT NULL
            ORDER BY tcos DESC, vec_id LIMIT {max(MRL_SWEEP_RS)})
    )
    SELECT rs.shortlist_r,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           MIN(r.tcos) AS prefix_cos_cut,
           CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hits,
           CAST(SUM(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / d.nt AS recall_at_10
    FROM ranked r
    JOIN (VALUES {values})
      AS rs(shortlist_r) ON r.rk <= rs.shortlist_r
    LEFT JOIN t10 t USING (vec_id)
    CROSS JOIN d
    GROUP BY rs.shortlist_r, d.nt
    """.format(emb=_EMB_SQL)


@query(
    "similarity_mrl_r_sweep",
    oracle=_mrl_r_sweep_oracle(),
    doc=f"MRL shortlist-size calibration sweep (r17) — the tuning leg "
    "for similarity_mrl_prefix_topk, completing the family symmetry "
    "(every cascade in this repo ships with the sweep that prices its "
    "budget knob: nprobe, code bytes, BQ_R, now MRL_R): recall@10 of "
    f"the d={MRL_SERVE_DIM} prefix cascade at shortlist sizes "
    f"{MRL_SWEEP_RS}, from ONE scored pass. The BQ sweep's membership "
    "identity holds verbatim — the exact re-rank keeps the best "
    "cosines within the shortlist, so cascade recall@10 at size R "
    "equals |true top-10 ∩ prefix top-R| / |true top-10| exactly, and "
    "the sweep never runs the cascade R times. prefix_cos_cut reports "
    "the prefix-cosine radius each R implies — the threshold a "
    "radius-based variant would tune instead. Two honest asymmetries "
    "vs the BQ sweep: (a) zero-prefix vectors are structurally "
    "UNREACHABLE at every R (they have no prefix score at all — the "
    "cascade's NULL filter), so a true neighbor with an all-zero "
    "prefix caps recall below 1.0 at EVERY rung, which the crafted "
    "test pins and n_candidates (min(R, non-null candidates)) makes "
    "readable; (b) as with BQ there is NO structural saturation rung "
    "— no fixed R saturates a growing corpus — so the measured curve "
    "IS the finding, and on the untrained synthetic corpus it is "
    "BLUNT: 0.1/0.3/0.7 at sf0.01, strictly below the BQ sketch's "
    "0.3/0.6/0.9 at identical budgets — an untrained 16-dim prefix "
    "is a WEAKER first stage than a 64-bit sign sketch that at least "
    "samples every dimension, which is the truncation sweep's "
    "never-truncate-untrained lesson priced at the cascade level "
    "(on an MRL-trained model the comparison is expected to invert; "
    "this sweep is the instrument that would show it). "
    "Determinism: round-6 scores, (tcos DESC, vec_id) / "
    "(cos DESC, vec_id) total orders, integer hit counts divided "
    "once. Plan: the scored pass is consumed by two heap cuts "
    "(TakeOrderedAndProject — no corpus-wide Window anywhere); the "
    "true-top-10 and the count are tiny broadcast sides; the one "
    f"row_number Window ranks the heap-cut {max(MRL_SWEEP_RS)}-row "
    "frame; the per-R fan-out explodes that frame, so everything "
    "after the heaps is O(sum(Rs)) rows. At 100 TB both heaps are "
    "map-side partial top-k + one merge, and the scored pass reads "
    f"the mrl_index's (vec_id, pvec) columns ({MRL_SERVE_DIM} dims/"
    "row) once. reference: no analogue — training-pipeline extension.",
)
def similarity_mrl_r_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _with_normalized(_load_emb(spark, sf_dir))
    q = F.broadcast(
        emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
            F.col("ne").alias("qne")
        )
    )
    scored = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(q)
        .select(
            "vec_id",
            F.expr(_mrl_prefix_cos_sql(MRL_SERVE_DIM)).alias("tcos"),
            F.round(F.expr(_DOT_SPARK.format(a="ne", b="qne")), 6).alias(
                "cos"
            ),
        )
    )
    # t10 comes from the unfiltered frame: a zero-prefix true neighbor
    # counts in the denominator but can never be shortlisted
    return _shortlist_r_sweep(
        scored,
        scored.filter(F.col("tcos").isNotNull()),
        (F.col("tcos").desc(), "vec_id"),
        MRL_SWEEP_RS,
        F.min("tcos").alias("prefix_cos_cut"),
    )


#: The MRL truncation grid: prefix lengths priced by the sweep. The last
#: rung is DIM itself — the structural saturation anchor (the probe
#: sweep's nprobe=K rule): at d = DIM the "truncated" cosine is the full
#: cosine up to one round-6 quantization of the ~1.0 norm ratio, so the
#: final row measures 1.0 recall everywhere we have run it.
MRL_DIMS = (8, 16, 32, DIM)


def _mrl_prefix_cos_sql(d: int, a: str = "ne", b: str = "qne") -> str:
    """Renormalized prefix cosine at ``d`` dims as a Spark SQL string —
    the MRL serving rule (prefixes are re-normalized before the dot, as
    Matryoshka-trained embeddings are used in practice). NULL when
    either prefix is all-zero (cosine undefined; both engines filter
    those rows rather than disagreeing on inf/NaN)."""
    pd_ = (
        f"aggregate(zip_with(slice({a}, 1, {d}), slice({b}, 1, {d}),"
        " (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    na = (
        f"sqrt(aggregate(slice({a}, 1, {d}), CAST(0 AS DOUBLE),"
        " (acc, e) -> acc + e * e))"
    )
    nb = (
        f"sqrt(aggregate(slice({b}, 1, {d}), CAST(0 AS DOUBLE),"
        " (acc, e) -> acc + e * e))"
    )
    return (
        f"CASE WHEN {na} * {nb} > CAST(0 AS DOUBLE)"
        f" THEN round({pd_} / ({na} * {nb}), 6) END"
    )


def _mrl_sweep_oracle() -> str:
    """Compose the sweep oracle from the registered brute-force spec
    (the recall denominator's single source — the geometry/probe sweep
    rule)."""
    from iceberg_explorer_spark.operators.registry import QUERIES as _Q

    bf = _Q["similarity_bruteforce_topk"].oracle
    values = ", ".join(f"({d})" for d in MRL_DIMS)
    return f"""
    WITH n AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> x / sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                                CAST(embedding AS DOUBLE[]))))
               AS ne
      FROM {_EMB_SQL}
    ),
    conf AS (SELECT * FROM (VALUES {values}) AS t(trunc_dim)),
    q AS (SELECT ne AS qne FROM n WHERE vec_id = {QUERY_VEC_ID}),
    scored AS (
      SELECT c.trunc_dim, e.vec_id,
             CASE WHEN sqrt(list_inner_product(e.ne[1 : c.trunc_dim],
                                               e.ne[1 : c.trunc_dim]))
                     * sqrt(list_inner_product(q.qne[1 : c.trunc_dim],
                                               q.qne[1 : c.trunc_dim])) > 0
                  THEN ROUND(
                    list_inner_product(e.ne[1 : c.trunc_dim],
                                       q.qne[1 : c.trunc_dim])
                    / (sqrt(list_inner_product(e.ne[1 : c.trunc_dim],
                                               e.ne[1 : c.trunc_dim]))
                       * sqrt(list_inner_product(q.qne[1 : c.trunc_dim],
                                                 q.qne[1 : c.trunc_dim]))),
                    6)
             END AS tcos
      FROM n e CROSS JOIN conf c, q
      WHERE e.vec_id <> {QUERY_VEC_ID}
    ),
    ranked AS (
      SELECT trunc_dim, vec_id,
             ROW_NUMBER() OVER (PARTITION BY trunc_dim
                                ORDER BY tcos DESC, vec_id) AS rn
      FROM scored WHERE tcos IS NOT NULL
    ),
    topk AS (SELECT trunc_dim, vec_id FROM ranked WHERE rn <= 10),
    bf AS ({bf}),
    bfids AS (SELECT vec_id FROM bf),
    ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM bfids),
    hits AS (
      SELECT t.trunc_dim,
             CAST(COUNT(*) AS BIGINT) AS n_returned,
             CAST(SUM(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_hits
      FROM topk t LEFT JOIN bfids b USING (vec_id)
      GROUP BY t.trunc_dim
    )
    SELECT c.trunc_dim,
           CAST(c.trunc_dim * 4 AS BIGINT) AS bytes_per_vec,
           CAST({DIM} / c.trunc_dim AS BIGINT) AS compression_x,
           CAST(COALESCE(h.n_returned, 0) AS BIGINT) AS n_returned,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CASE WHEN ex.n_exact = 0 THEN 0.0
                ELSE COALESCE(h.n_hits, 0) * 1.0 / ex.n_exact
           END AS recall
    FROM conf c LEFT JOIN hits h USING (trunc_dim) CROSS JOIN ex
    """


@query(
    "similarity_mrl_truncation_sweep",
    oracle=_mrl_sweep_oracle(),
    doc=f"Matryoshka (MRL) truncation calibration sweep (r16) — the "
    "FOURTH point on this repo's embedding-compression curve (int8 -> "
    "PQ codes -> binary sketches -> prefix truncation): recall@10 of "
    f"RENORMALIZED prefix-cosine retrieval at {MRL_DIMS} dims, the "
    "cost lever Matryoshka-trained embeddings exist for (serve on the "
    "first d dims at d/DIM of the scan bytes, no codebook, no "
    "re-encode — truncation is a projection). Each config's truncated "
    "cosine comes from ONE corpus pass (per-config prefix dots explode "
    "from the same normalized scan); all-zero prefixes have undefined "
    "cosine and are filtered identically on both engines (NULL, never "
    "an engine-specific inf/NaN). Per-config top-k is the EXACT "
    f"two-stage fan-in (local rank inside (config, vec_id mod "
    f"{_SWEEP_BUCKETS}) buckets, then global rank over <= "
    f"{len(MRL_DIMS)}x{_SWEEP_BUCKETS}x10 survivors) — no corpus-wide "
    "single-partition window; the recall denominator composes the "
    f"registered brute-force spec. The d = {DIM} rung is the "
    "STRUCTURAL saturation anchor (the probe sweep's nprobe=K rule): "
    "the full-prefix cosine equals the exact cosine up to one round-6 "
    "quantization of the ~1.0 norm ratio — measured 1.0 on the demo "
    "corpora and every generative seed. Degenerate honesty: the "
    "synthetic corpus is NOT Matryoshka-trained, so its prefixes carry "
    "no privileged information and low-d recall is near-random and "
    "even NON-monotone (sf0.001 measures 0.2/0.1/0.0/1.0) — which is "
    "itself the sweep's most useful lesson (never truncate embeddings "
    "that were not trained for it); the crafted fixture builds "
    "prefix-informative vectors and shows the curve an MRL model "
    "yields. Determinism: round-6 scores, "
    "(tcos DESC, vec_id) total order, exact integer hit counts divided "
    "once. At 100 TB the sweep reads the vector index once per config "
    "width it prices — and the PRODUCTION win it measures is that a "
    "d=16 serve reads 64 bytes/row instead of 256. reference: no "
    "analogue — training-pipeline extension.",
)
def similarity_mrl_truncation_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = _with_normalized(_load_emb(spark, sf_dir))
    q = F.broadcast(
        emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
            F.col("ne").alias("qne")
        )
    )
    structs = F.array(
        *[
            F.struct(
                F.lit(d).alias("trunc_dim"),
                F.expr(_mrl_prefix_cos_sql(d)).alias("tcos"),
            )
            for d in MRL_DIMS
        ]
    )
    scored = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(q)
        .select("vec_id", F.explode(structs).alias("s"))
        .select("vec_id", F.col("s.trunc_dim").alias("trunc_dim"),
                F.col("s.tcos").alias("tcos"))
        .filter(F.col("tcos").isNotNull())
    )
    bf = _exact_hits(spark, sf_dir, emb).localCheckpoint(eager=True)
    conf = spark.createDataFrame([(d,) for d in MRL_DIMS], "trunc_dim int")
    return _recall_tail(
        conf,
        _two_stage_topk(scored, "trunc_dim", "tcos"),
        bf,
        "trunc_dim",
        (F.col("trunc_dim") * 4).cast("bigint").alias("bytes_per_vec"),
        (F.lit(DIM) / F.col("trunc_dim"))
        .cast("bigint")
        .alias("compression_x"),
    )


@query(
    "similarity_mrl_prefix_topk",
    oracle=f"""
    WITH n AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> x / sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                                CAST(embedding AS DOUBLE[]))))
               AS ne
      FROM {_EMB_SQL}
    ),
    q AS (SELECT ne AS qne FROM n WHERE vec_id = {QUERY_VEC_ID}),
    t AS (
      SELECT e.vec_id, e.ne,
             CASE WHEN sqrt(list_inner_product(e.ne[1 : {MRL_SERVE_DIM}],
                                               e.ne[1 : {MRL_SERVE_DIM}]))
                     * sqrt(list_inner_product(q.qne[1 : {MRL_SERVE_DIM}],
                                               q.qne[1 : {MRL_SERVE_DIM}]))
                    > 0
                  THEN ROUND(
                    list_inner_product(e.ne[1 : {MRL_SERVE_DIM}],
                                       q.qne[1 : {MRL_SERVE_DIM}])
                    / (sqrt(list_inner_product(e.ne[1 : {MRL_SERVE_DIM}],
                                               e.ne[1 : {MRL_SERVE_DIM}]))
                       * sqrt(list_inner_product(q.qne[1 : {MRL_SERVE_DIM}],
                                                 q.qne[1 : {MRL_SERVE_DIM}]))),
                    6)
             END AS prefix_cos
      FROM n e, q
      WHERE e.vec_id <> {QUERY_VEC_ID}
    ),
    sl AS (SELECT * FROM t WHERE prefix_cos IS NOT NULL
           ORDER BY prefix_cos DESC, vec_id LIMIT {MRL_R}),
    ranked AS (
      SELECT sl.vec_id, sl.prefix_cos,
             ROUND(list_inner_product(sl.ne, q.qne), 6) AS cos_sim
      FROM sl, q
    )
    SELECT vec_id, prefix_cos, cos_sim FROM ranked
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
    doc=f"Matryoshka prefix-shortlist cascade (r17) — the SERVING form "
    "of the trade similarity_mrl_truncation_sweep prices (the sweep "
    "answers 'what does truncation cost'; this answers 'then retrieve "
    f"with it'): stage 1 ranks by RENORMALIZED d={MRL_SERVE_DIM} "
    f"prefix cosine (the sweep's exact scoring rule at its d="
    f"{MRL_SERVE_DIM} rung — one shared expression, so the two cannot "
    f"desync) and heap-cuts a {MRL_R}-row shortlist; stage 2 re-ranks "
    "the shortlist by exact full-dim cosine — the IndexRefineFlat "
    "pattern with truncation instead of quantization as the cheap "
    "stage (the BQ cascade's shape at the FOURTH compression point; "
    f"same {MRL_R}-row budget, so the two first stages price against "
    "each other directly). Recall is the prefix shortlist's (the "
    "documented residual: a better exact cosine outside the prefix "
    "top-R stays absent); precision inside the shortlist is exact. "
    "All-zero prefixes have undefined prefix cosine and are NULL-"
    "filtered out of stage 1 identically on both engines — such rows "
    "are unreachable at this rung, exactly as in the sweep. "
    "Determinism: round-6 scores at both stages, (prefix_cos DESC, "
    "vec_id) then (cos_sim DESC, vec_id) total orders. Plan: ONE "
    "corpus scan, zero shuffles and zero Window nodes — the 1-row "
    "query broadcast-cross-joins in, both cuts are heap-based "
    "TakeOrderedAndProject, and the shortlist carries its ne through "
    "so the rerank needs NO second scan or join. At 100 TB the prefix "
    "persists as its OWN column in the mrl_index store (Parquet "
    "cannot column-prune an array prefix — the sweep's stated "
    "unservable win, closed by mrl_topk_from_store below): stage 1 "
    f"column-prunes to (vec_id, pvec) = {MRL_SERVE_DIM * 8} payload "
    f"bytes/row instead of {64 * 8}, stage 2 point-reads the "
    "shortlist bucket-pruned. reference: no analogue — training-"
    "pipeline extension (the compression-curve family).",
)
def similarity_mrl_prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _with_normalized(_load_emb(spark, sf_dir))
    q = F.broadcast(
        emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
            F.col("ne").alias("qne")
        )
    )
    shortlist = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(q)
        .withColumn(
            "prefix_cos", F.expr(_mrl_prefix_cos_sql(MRL_SERVE_DIM))
        )
        .filter(F.col("prefix_cos").isNotNull())
        .orderBy(F.col("prefix_cos").desc(), "vec_id")
        .limit(MRL_R)
    )
    return (
        shortlist.select(
            "vec_id",
            "prefix_cos",
            F.round(F.expr(_DOT_SPARK.format(a="ne", b="qne")), 6).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# The persisted BQ index: similarity_bq_hamming_topk's serving story.
#
# The registered query recomputes sketches per query — correct for the
# oracle registry, wrong as a serving story: sign bits never change after
# ingest, so a production index computes them ONCE and every query scans
# 16 bytes/row. One artifact holds both physical forms of the corpus —
# the packed sketch halves (the Hamming stage's 16-byte read, via parquet
# COLUMN pruning) and the normalized vector (the exact stage's point
# read) — so unlike the two-store refine cascade there is no cross-store
# same-snapshot contract to violate: one table, one snapshot.

#: The BQ artifact spec: ``bq_index`` — (vec_id, lo, hi, nvec), bucketed
#: by ``vec_id``: the exact stage point-reads the shortlist ids, and a
#: vec_id bucket key makes those reads bucket-PRUNED (the ivf_lists
#: table cannot serve them pruned — its bucket key is cid).
BQ_STORE_ARTIFACTS = {"bq_index": ("vec_id",)}


def _bq_sketched(emb: DataFrame) -> DataFrame:
    """(vec_id, lo, hi, nvec) rows from a normalized frame — THE one
    sketch rule (the registered query's _BQ_PACK_SPARK expressions), so
    the artifact and the query cannot desync on what a sign bit is."""
    return emb.select(
        "vec_id",
        F.expr(_BQ_PACK_SPARK.format(off=1)).alias("lo"),
        F.expr(_BQ_PACK_SPARK.format(off=33)).alias("hi"),
        F.col("ne").alias("nvec"),
    )


def bq_backfill(spark: SparkSession, sf_dir: str, store) -> None:
    """One-time index build: pack every contract-passing vector's sign
    sketch next to its normalized vector, bucketed by vec_id. Single
    artifact — the write IS the commit marker."""
    store.write("bq_index", _bq_sketched(_with_normalized(_load_emb(spark, sf_dir))))


def bq_append(store, new_emb: DataFrame, batch_id: "str | None" = None) -> bool:
    """Nightly index append: sketch an increment of raw embedding rows
    and land them through the store's hash-aligned writer (at most one
    new file per bucket per night). Sign bits depend only on the row
    itself — no centroid or codebook artifact to read, so the append is
    a pure map over the increment. Backfill-first (the store's
    :meth:`~BucketedArtifactStore.require` on ``bq_index``, with or
    without ``batch_id``) and ``batch_id`` replay-idempotence come from
    the store layer. Increment vec_ids must be globally NEW
    — the ingest id-allocation invariant, as for every other artifact.
    Returns True iff rows landed."""
    return store.append(
        "bq_index",
        _bq_sketched(_with_normalized(_apply_emb_contract(new_emb))),
        batch_id=batch_id,
    )


def _bq_pack_py(v: "list[float]") -> "tuple[int, int]":
    """Driver-side sign-sketch pack of a query vector — the Python twin
    of _BQ_PACK_SPARK (bit i of each half set iff the dim is > 0; signs
    are scale-invariant under L2 normalization, so packing the caller's
    normalized vector equals packing the stored one bit-for-bit)."""
    lo = sum(1 << i for i in range(32) if v[i] > 0)
    hi = sum(1 << i for i in range(32) if v[i + 32] > 0)
    return lo, hi


def _bq_hamming_frame(art: DataFrame, qlo: int, qhi: int,
                      query_vec_id: "int | None") -> DataFrame:
    """Stage 1 of the BQ serve, pre-cut: the Hamming scan over the
    sketch columns ONLY — split out so the column-pruning pin can
    inspect exactly the frame the serve executes (ReadSchema must be
    (vec_id, lo, hi): 16 payload bytes/row, never the vectors)."""
    base = art.select("vec_id", "lo", "hi")
    if query_vec_id is not None:
        base = base.filter(F.col("vec_id") != int(query_vec_id))
    ham = (
        F.bit_count(F.expr(f"lo ^ CAST({int(qlo)} AS BIGINT)"))
        + F.bit_count(F.expr(f"hi ^ CAST({int(qhi)} AS BIGINT)"))
    ).cast("bigint")
    return base.select("vec_id", ham.alias("hamming_dist"))


def bq_topk_from_store(
    store,
    query_vec: "list[float]",
    query_vec_id: "int | None" = None,
    r: int = BQ_R,
    k: int = 10,
) -> DataFrame:
    """Serve similarity_bq_hamming_topk's semantics from the persisted
    index — row-identical to the registered query (pinned by the
    round-trip test) with the cascade's production plan:

    1. the Hamming stage: ONE scan of the index COLUMN-PRUNED to
       (vec_id, lo, hi) — 16 payload bytes/row, the whole point of BQ —
       against the query sketch packed driver-side (two literal BIGINTs,
       no job), heap-cut to the top-``r`` by (hamming, vec_id) and
       COLLECTED: r rows, the bounded O(R) driver legitimacy class;
    2. the shared exact stage (``_rerank_shortlist``): ONE bucket-pruned
       scan of the SAME artifact (vec_id is the bucket key, so the
       shortlist point-reads prune to the ids' buckets —
       SelectedBucketsCount in the plan), with the Hamming distances
       carried as a literal map.

    Both stages read the ONE artifact, so there is no cross-store
    same-snapshot contract (the refine cascade's failure class); the
    exact stage's coverage check still catches a compaction or append
    landing BETWEEN the two reads. ``query_vec`` is
    REQUIRED and must be L2-normalized (``_validate_query_vec`` — sign
    bits are normalization-invariant, the cosine is not);
    ``query_vec_id`` is the stored id to EXCLUDE (the registered
    query's exclude-the-query-doc rule) — omit it for request vectors
    that are not stored rows."""
    _validate_query_vec(query_vec)
    (art,) = store.serve_tables("bq_index")
    qlo, qhi = _bq_pack_py([float(x) for x in query_vec])
    return _serve_shortlist(
        art, _bq_hamming_frame(art, qlo, qhi, query_vec_id),
        ("hamming_dist", "vec_id"), r, query_vec, k,
        {"hamming_dist": "bigint"}, "bq_topk_from_store",
    )


# ---------------------------------------------------------------------------
# The persisted MRL index: similarity_mrl_prefix_topk's serving story
# (VERDICT r16 #6 — the one compression point without a serving leg).
#
# The sweep's doc states the production win honestly: a d=16 serve
# should read 16 dims/row, but Parquet cannot column-prune an ARRAY
# prefix — slicing nvec still reads all 64 dims. The index therefore
# materializes the prefix as its OWN column at ingest: one artifact
# holds (vec_id, pvec, nvec), so stage 1 column-prunes to (vec_id,
# pvec) and stage 2 point-reads nvec bucket-pruned — the BQ store's
# one-table/one-snapshot shape with truncation as the cheap stage.
# pvec is stored UN-renormalized (= slice(ne, 1, 16) verbatim): the
# prefix-cosine expression then evaluates the SAME doubles in the SAME
# fold order as the in-session query and the sweep's d=16 rung, so
# serve scores are bit-identical, not merely close (renormalizing at
# ingest would distribute the division per element and shift ulps).

#: The MRL artifact spec: ``mrl_index`` — (vec_id, pvec, nvec),
#: bucketed by ``vec_id`` so the exact stage's shortlist point-reads
#: prune to the ids' buckets, as in the BQ store.
MRL_STORE_ARTIFACTS = {"mrl_index": ("vec_id",)}


def _mrl_prefixed(emb: DataFrame) -> DataFrame:
    """(vec_id, pvec, nvec) rows from a normalized frame — pvec is the
    raw d=MRL_SERVE_DIM prefix of the normalized vector (the ONE slice
    rule the registered query and the sweep evaluate in-session, so the
    artifact cannot desync on what the prefix is)."""
    return emb.select(
        "vec_id",
        F.expr(f"slice(ne, 1, {MRL_SERVE_DIM})").alias("pvec"),
        F.col("ne").alias("nvec"),
    )


def mrl_backfill(spark: SparkSession, sf_dir: str, store) -> None:
    """One-time index build: persist every contract-passing vector's
    d=MRL_SERVE_DIM prefix next to its full normalized vector, bucketed
    by vec_id. Single artifact — the write IS the commit marker."""
    store.write(
        "mrl_index", _mrl_prefixed(_with_normalized(_load_emb(spark, sf_dir)))
    )


def mrl_append(store, new_emb: DataFrame, batch_id: "str | None" = None) -> bool:
    """Nightly index append: slice an increment of raw embedding rows
    and land them through the store's hash-aligned writer (at most one
    new file per bucket per night). Truncation is a projection — no
    centroid or codebook artifact to read, so the append is a pure map
    over the increment, as for the BQ store. Backfill-first and
    ``batch_id`` replay-idempotence come from the store layer, as for
    ``bq_append``.
    Increment vec_ids must be globally NEW — the ingest id-allocation
    invariant. Returns True iff rows landed."""
    return store.append(
        "mrl_index",
        _mrl_prefixed(_with_normalized(_apply_emb_contract(new_emb))),
        batch_id=batch_id,
    )


def _mrl_prefix_frame(art: DataFrame, query_vec: "list[float]",
                      query_vec_id: "int | None") -> DataFrame:
    """Stage 1 of the MRL serve, pre-cut: the prefix-cosine scan over
    (vec_id, pvec) ONLY — split out so the column-pruning pin can
    inspect exactly the frame the serve executes (ReadSchema must be
    (vec_id, pvec): 16 dims/row, never the full vectors). The query
    prefix rides as a literal array (no broadcast, no job); the scoring
    expression is the sweep's ``_mrl_prefix_cos_sql`` over the stored
    slice, so a stored query row scores bit-identically to the
    registered query's stage 1."""
    base = art.select("vec_id", "pvec")
    if query_vec_id is not None:
        base = base.filter(F.col("vec_id") != int(query_vec_id))
    qlit = F.array(
        *[F.lit(float(x)) for x in query_vec[:MRL_SERVE_DIM]]
    )
    return (
        base.withColumn("qpv", qlit)
        .select(
            "vec_id",
            F.expr(
                _mrl_prefix_cos_sql(MRL_SERVE_DIM, a="pvec", b="qpv")
            ).alias("prefix_cos"),
        )
        .filter(F.col("prefix_cos").isNotNull())
    )


def mrl_topk_from_store(
    store,
    query_vec: "list[float]",
    query_vec_id: "int | None" = None,
    r: int = MRL_R,
    k: int = 10,
) -> DataFrame:
    """Serve similarity_mrl_prefix_topk's semantics from the persisted
    index — row-identical to the registered query (pinned by the
    round-trip test) with the cascade's production plan:

    1. the prefix stage: ONE scan of the index COLUMN-PRUNED to
       (vec_id, pvec) — 16 dims/row instead of 64, the
       win Parquet's inability to prune an array prefix denies the
       in-session form — scored by the sweep's renormalized prefix
       cosine against the query prefix as a literal array, heap-cut to
       the top-``r`` by (prefix_cos DESC, vec_id) and COLLECTED: r
       rows, the bounded O(R) driver legitimacy class;
    2. the shared exact stage (``_rerank_shortlist``): ONE
       bucket-pruned scan of the SAME artifact (vec_id is the bucket
       key — SelectedBucketsCount in the plan), with the prefix scores
       carried as a literal map.

    Both stages read the ONE artifact, so there is no cross-store
    same-snapshot contract; the coverage check catches a rewrite
    landing between the two reads, as for the BQ serve.
    ``query_vec`` is REQUIRED and must be
    L2-normalized (``_validate_query_vec``); a query whose
    d=16 prefix is all-zero is REFUSED loudly (its prefix
    cosine is undefined, so stage 1 would return an arbitrary empty
    shortlist — the same honesty as the NULL filter, surfaced instead
    of silently served); ``query_vec_id`` is the stored id to EXCLUDE —
    omit it for request vectors that are not stored rows."""
    _validate_query_vec(query_vec)
    if not any(float(x) != 0.0 for x in query_vec[:MRL_SERVE_DIM]):
        raise ValueError(
            f"query_vec's first {MRL_SERVE_DIM} dims are all zero — the "
            "renormalized prefix cosine is undefined for this query at "
            "this rung; serve it with a full-width method instead"
        )
    (art,) = store.serve_tables("mrl_index")
    qv = [float(x) for x in query_vec]
    return _serve_shortlist(
        art, _mrl_prefix_frame(art, qv, query_vec_id),
        (F.col("prefix_cos").desc(), "vec_id"), r, query_vec, k,
        {"prefix_cos": "double"}, "mrl_topk_from_store",
    )


#: one Lloyd refinement step over the IVF seed centroids. Micro-unit
#: fixed-point per-dimension sums make the new centroids exact integer math
#: (a float mean would differ in final ulps across shuffle orders/engines).
KMEANS_K = IVF_K
KMEANS_SCALE = 1_000_000


@query(
    "similarity_kmeans_step",
    oracle=f"""
    WITH n AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> x / sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                                CAST(embedding AS DOUBLE[]))))
               AS ne
      FROM {_EMB_SQL}
    ),
    cents AS (SELECT vec_id AS cid, ne AS ce FROM n WHERE vec_id < {KMEANS_K}),
    assign AS (
      SELECT vec_id, cid, ne,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id
               ORDER BY ROUND(list_inner_product(ne, ce), 6) DESC, cid
             ) AS rn
      FROM n CROSS JOIN cents
    ),
    member AS (SELECT vec_id, cid, ne FROM assign WHERE rn = 1),
    dims AS (
      SELECT cid, d.i AS dim,
             CAST(ROUND(ne[d.i + 1] * {KMEANS_SCALE}) AS BIGINT) AS v_micro
      FROM member, (SELECT UNNEST(range({DIM})) AS i) d
    )
    SELECT cid, dim,
           COUNT(*) AS n_members,
           CAST(SUM(v_micro) AS BIGINT) AS sum_micro,
           CAST(SUM(v_micro) AS DOUBLE) / ({KMEANS_SCALE} * COUNT(*))
             AS centroid_val
    FROM dims GROUP BY cid, dim
    """,
    doc="One Lloyd refinement step of k-means over the embedding corpus — "
    "the training loop behind the IVF coarse quantizer and PQ codebooks "
    "(similarity_ivf_topk / similarity_pq_adc_topk consume exactly such "
    f"centroids). Assignment is map-side against {KMEANS_K} broadcast "
    "centroids (max-inner-product on normalized vectors, deterministic "
    "tie-break); the update sums per-dimension micro-unit BIGINTs so the "
    "new centroid is exact integer math divided once — bit-identical "
    "across engines and shuffle orders, where a naive float mean is not. "
    "Plan: broadcast-join + one partial-aggregated shuffle on (cid, dim); "
    "iterating = re-broadcasting the O(K×DIM) result, so per-iteration "
    "cost at 100 TB is one corpus scan, the CC-operator pattern "
    "(dedup_clusters) applied to centroids.",
)
def similarity_kmeans_step(
    spark: SparkSession, sf_dir: str, *, emb: DataFrame | None = None
) -> DataFrame:
    ext = emb is not None
    emb = _with_normalized(
        emb if ext else _load_emb(spark, sf_dir)
    )
    # centroid seed subtree on the un-fanned scan — see _seed_emb
    cents = F.broadcast(
        (emb if ext else _seed_emb(spark, sf_dir))
        .filter(F.col("vec_id") < KMEANS_K)
        .select(F.col("vec_id").alias("cid"), F.col("ne").alias("ce"))
    )
    sim = F.round(F.expr(_DOT_SPARK.format(a="ne", b="ce")), 6)
    member = (
        emb.crossJoin(cents)
        .withColumn("csim", sim)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.col("csim").desc(), F.col("cid")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", "ne")
    )
    dims = member.select(
        "cid",
        F.posexplode(
            F.expr(f"transform(ne, x -> CAST(ROUND(x * {KMEANS_SCALE}) AS BIGINT))")
        ).alias("dim", "v_micro"),
    )
    return dims.withColumn("dim", F.col("dim").cast("bigint")).groupBy(
        "cid", "dim"
    ).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("v_micro").cast("bigint").alias("sum_micro"),
        (
            F.sum("v_micro").cast("double")
            / (F.lit(KMEANS_SCALE) * F.count(F.lit(1)))
        ).alias("centroid_val"),
    )


@query(
    "dedup_semantic_keep_best",
    oracle=f"""
    WITH coded AS (
      SELECT vec_id, embedding, {_srp_code_duckdb('embedding')} AS bucket
      FROM {_EMB_SQL}
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6)
               AS cos_sim
      FROM coded a JOIN coded b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    judged AS (
      SELECT p.id_a, p.id_b, da.n_chars AS qa, db.n_chars AS qb,
             CASE WHEN da.n_chars > db.n_chars
                       OR (da.n_chars = db.n_chars AND p.id_a < p.id_b)
                  THEN p.id_a ELSE p.id_b END AS winner,
             CASE WHEN da.n_chars > db.n_chars
                       OR (da.n_chars = db.n_chars AND p.id_a < p.id_b)
                  THEN p.id_b ELSE p.id_a END AS loser,
             CASE WHEN da.n_chars > db.n_chars
                       OR (da.n_chars = db.n_chars AND p.id_a < p.id_b)
                  THEN da.n_chars ELSE db.n_chars END AS winner_q
      FROM pairs p
      JOIN documents da ON p.id_a = da.doc_id
      JOIN documents db ON p.id_b = db.doc_id
      WHERE p.cos_sim >= {NEAR_DUP_TAU}
    ),
    ranked AS (
      SELECT loser, winner, winner_q,
             ROW_NUMBER() OVER (PARTITION BY loser
                                ORDER BY winner_q DESC, winner) AS rn,
             COUNT(*) OVER (PARTITION BY loser) AS n_better_dups
      FROM judged
    )
    SELECT loser AS doc_id,
           CAST(n_better_dups AS BIGINT) AS n_better_dups,
           winner AS keep_doc_id
    FROM ranked WHERE rn = 1
    """,
    doc="Semantic keep-best dedup — the decision stage a curation pipeline "
    "runs AFTER candidate generation: embedding near-dup pairs (SRP-"
    "bucketed GEMM engine, cosine >= tau) join the 1:1 document metadata "
    "and the LOWER-quality side of each pair (fewer chars; id tie-break) "
    "is marked dropped, pointing at its best surviving duplicate. Differs "
    "from dedup_embedding_cosine, which canonicalizes by smallest id "
    "regardless of quality — keep-best is what production corpora actually "
    "do (keep the longest/cleanest copy). Plan: the pair table is tiny "
    "(bucketed candidates, never n²); it joins the slim (doc_id, n_chars) "
    "projection twice — column pruning keeps the corpus text out of both "
    "joins — then one window on loser. At 100 TB the quality join is "
    "broadcast-from-pairs or bucketed on doc_id; the corpus never "
    "shuffles.",
)
def dedup_semantic_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _bucket_pairs_gemm(spark, sf_dir).select(
        F.col("vec_a").alias("id_a"),
        F.col("vec_b").alias("id_b"),
        F.round("cos_sim", 6).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= NEAR_DUP_TAU)
    q = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    qa = q.select(F.col("doc_id").alias("id_a"), F.col("n_chars").alias("qa"))
    qb = q.select(F.col("doc_id").alias("id_b"), F.col("n_chars").alias("qb"))
    a_wins = (F.col("qa") > F.col("qb")) | (
        (F.col("qa") == F.col("qb")) & (F.col("id_a") < F.col("id_b"))
    )
    judged = (
        pairs.join(qa, "id_a")
        .join(qb, "id_b")
        .select(
            F.when(a_wins, F.col("id_a")).otherwise(F.col("id_b")).alias("winner"),
            F.when(a_wins, F.col("id_b")).otherwise(F.col("id_a")).alias("loser"),
            F.when(a_wins, F.col("qa")).otherwise(F.col("qb")).alias("winner_q"),
        )
    )
    wl = Window.partitionBy("loser")
    wr = wl.orderBy(F.col("winner_q").desc(), "winner")
    return (
        judged.withColumn("rn", F.row_number().over(wr))
        .withColumn("n_better_dups", F.count(F.lit(1)).over(wl))
        .filter(F.col("rn") == 1)
        .select(
            F.col("loser").alias("doc_id"),
            F.col("n_better_dups").cast("bigint").alias("n_better_dups"),
            F.col("winner").alias("keep_doc_id"),
        )
    )


def _recall_report_oracle() -> str:
    """Compose the recall-report oracle from the ALREADY-REGISTERED variant
    oracles (module executes top-to-bottom, so every spec exists here) —
    single source of truth: a change to any variant's oracle flows into
    the report automatically."""
    from iceberg_explorer_spark.operators.registry import QUERIES as _Q

    bf = _Q["similarity_bruteforce_topk"].oracle
    variants = {
        "lsh": _Q["similarity_lsh_ann"].oracle,
        "ivf": _Q["similarity_ivf_topk"].oracle,
        "pq_adc": _Q["similarity_pq_adc_topk"].oracle,
    }
    arms = " UNION ALL ".join(
        f"""
        SELECT '{name}' AS variant,
               (SELECT COUNT(*) FROM {name}_r) AS n_returned,
               (SELECT COUNT(*) FROM {name}_r v
                 JOIN bf_r b ON v.vec_id = b.vec_id) AS n_hits,
               (SELECT COUNT(*) FROM {name}_r v
                 JOIN bf_r b ON v.vec_id = b.vec_id) * 1.0
                 / (SELECT COUNT(*) FROM {name}_r) AS recall
        """
        for name in variants
    )
    ctes = ", ".join(
        [f"bf_r AS ({bf})"]
        + [f"{name}_r AS ({sql})" for name, sql in variants.items()]
    )
    return f"WITH {ctes} {arms}"


@query(
    "similarity_ann_recall_report",
    oracle=_recall_report_oracle(),
    doc="ANN recall report: every approximate variant (SRP-LSH, IVF, "
    "PQ-ADC) scored against the brute-force exact top-10 in ONE query — "
    "the evaluation harness that belongs NEXT TO the index, not in a "
    "notebook, because recall is what justifies running an ANN at all. "
    "Both sides compose from the registered per-variant definitions "
    "(builders on Spark, oracle texts on DuckDB), so the report always "
    "measures the code that actually serves queries. Counts are exact "
    "integers over top-k sets; all candidate frames are top-k-sized, so "
    "every join broadcasts.",
)
def similarity_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # All four variants run over ONE persisted embeddings frame, passed to
    # each builder explicitly (their registered definitions accept it as a
    # keyword) — the report scans the corpus once, the shape a 100 TB
    # evaluation run needs. The persisted plan is a projected copy, NOT the
    # bare load_table relation: caching the bare relation would make the
    # CacheManager silently substitute an in-memory scan into EVERY other
    # embeddings query for the rest of the session, contaminating their
    # plans and bench timings. (One bounded cache entry per session, keyed
    # by this projected plan, so repeated report runs reuse it.)
    # column order is deliberately REARRANGED from the table's native
    # (vec_id, embedding, label): a same-order full projection is
    # sameResult-equal to the bare relation, so caching it would still
    # substitute into every other embeddings query
    emb_shared = (
        _load_emb(spark, sf_dir)
        .select("embedding", "label", "vec_id")
        .persist()
    )
    # Shape matters here: the naive formulation references the brute-force
    # top-k in every recall join (3 builds) and each variant twice
    # (n_returned count + hit join), so the report runs EIGHT index builds
    # for four indexes. Instead each arm is built ONCE, tagged, and unioned,
    # and recall falls out of a single left join against the exact set with
    # a conditional count — one build per index, one broadcast join, one
    # O(variants x k)-row aggregation. (No result-frame persist: caching
    # the top-k outputs would memoize the report across runs and hide the
    # index cost the harness exists to measure.)
    bf = _exact_hits(spark, sf_dir, emb_shared)
    arms = None
    for name, fn in (
        ("lsh", similarity_lsh_ann),
        ("ivf", similarity_ivf_topk),
        ("pq_adc", similarity_pq_adc_topk),
    ):
        v = (
            fn(spark, sf_dir, emb=emb_shared)
            .select("vec_id")
            .withColumn("variant", F.lit(name))
        )
        arms = v if arms is None else arms.unionByName(v)
    return (
        arms.join(F.broadcast(bf), "vec_id", "left")
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_returned"),
            F.count("hit").alias("n_hits"),
        )
        .select(
            "variant",
            "n_returned",
            "n_hits",
            (F.col("n_hits") * 1.0 / F.col("n_returned")).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
@query(
    "similarity_int8_quantize",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {_EMB_SQL}
    ),
    s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM v
      WHERE list_max(list_transform(v, x -> abs(x))) > 0
    ),
    q AS MATERIALIZED (
      SELECT vec_id, v, scale,
             list_transform(v, x -> floor(x / scale + 0.5)) AS codes
      FROM s
    ),
    e AS (
      SELECT vec_id, scale, codes,
             list_transform(generate_series(1, len(v)),
                            i -> codes[i] * scale - v[i]) AS errs
      FROM q
    )
    SELECT vec_id,
           scale,
           CAST(len(list_filter(codes, c -> c = 0)) AS BIGINT) AS n_zero,
           list_max(list_transform(errs, x -> abs(x))) AS max_abs_err,
           list_reduce(list_transform(errs, x -> x * x),
                       (a, b) -> a + b) AS sq_err
    FROM e
    """,
    doc="Symmetric per-vector int8 quantization audit: each embedding gets "
    "scale = max|v|/127 and codes floor(v/scale + 0.5), and the report "
    "surfaces the quantities a serving/index build signs off on — code "
    "sparsity (n_zero), worst per-element reconstruction error, and total "
    "squared error. Entirely map-side (zero shuffles, pinned): the per-row "
    "array folds are JVM higher-order functions, so at 100 TB this runs at "
    "scan speed with perfect partition parallelism — the preprocessing "
    "shape for PQ/int8 index builds (similarity_pq_adc_topk consumes "
    "vectors prepared exactly like this). Determinism: both engines cast "
    "float32 -> double then run the SAME left-to-right fold, so every "
    "output double is bit-identical (floor(x+0.5) instead of round() "
    "because the engines disagree on round-half semantics).",
)
def similarity_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fanout=False: the op IS a pure map (scan → project, pinned by
    # test_int8_quantize_is_map_only) — a fan-out exchange would be its
    # only shuffle, all overhead
    emb = _load_emb(spark, sf_dir, fanout=False)
    dv = F.transform("embedding", lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform("v", F.abs))
    base = (
        emb.select("vec_id", dv.alias("v"))
        .filter(maxabs > 0)
        .withColumn("scale", maxabs / F.lit(127.0))
    )
    codes = F.transform(
        "v", lambda x: F.floor(x / F.col("scale") + F.lit(0.5))
    )
    q = base.withColumn("codes", codes)
    errs = F.zip_with(
        "codes", "v", lambda c, x: c * F.col("scale") - x
    )
    e = q.withColumn("errs", errs)
    return e.select(
        "vec_id",
        "scale",
        F.size(F.filter("codes", lambda c: c == 0))
        .cast("bigint")
        .alias("n_zero"),
        F.array_max(F.transform("errs", F.abs)).alias("max_abs_err"),
        F.aggregate(
            F.transform("errs", lambda x: x * x),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("sq_err"),
    )


# ---------------------------------------------------------------------------
#: fixed-point grid for drift centroids: element sums are exact BIGINTs
#: (|x| <= ~1, dim 64 — quantized units stay far inside 63 bits at any n)
DRIFT_SCALE = 1_048_576  # 2^20


@query(
    "similarity_centroid_drift",
    oracle=f"""
    WITH ex AS (
      SELECT label, vec_id % 2 AS batch, i,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * {DRIFT_SCALE} + 0.5)
               AS BIGINT) AS q
      FROM {_EMB_SQL}, UNNEST(generate_series(1, len(embedding))) AS t(i)
    ),
    d AS (
      SELECT label, batch, i, SUM(q) AS s, COUNT(*) AS cnt
      FROM ex GROUP BY label, batch, i
    ),
    c AS (
      SELECT label, batch, MAX(cnt) AS n,
             list(s * 1.0 / (cnt * {DRIFT_SCALE}) ORDER BY i) AS centroid
      FROM d GROUP BY label, batch
    )
    SELECT a.label, a.n AS n_a, b.n AS n_b,
           ROUND(sqrt(list_reduce(
             list_transform(generate_series(1, len(a.centroid)),
               i -> (a.centroid[i] - b.centroid[i])
                    * (a.centroid[i] - b.centroid[i])),
             (x, y) -> x + y)), 6) AS drift
    FROM c a JOIN c b ON a.label = b.label AND a.batch = 0 AND b.batch = 1
    """,
    doc="Embedding distribution-shift monitor: vectors hash-split into two "
    "ingest batches, per-(label, batch) centroids compared by L2 distance "
    "— the drift alarm a production embedding pipeline runs before mixing "
    "a new crawl into an index (model regressions, upstream preprocessing "
    "changes, and corpus composition shifts all show up here first). "
    "Shuffle-order determinism is the design point: naive float centroid "
    "sums differ run-to-run under Spark's nondeterministic partial-agg "
    f"order, so elements are fixed-point quantized (x{DRIFT_SCALE}) and "
    "summed as exact BIGINTs — commutative, bit-stable, and shard-"
    "MERGEABLE (per-shard (sum, count) pairs add; same contract as the "
    "MinHash sketch). Scale shape: the posexplode is a narrow map, the "
    "only corpus-sized shuffle is the (label, batch, dim)-keyed partial "
    "sum, and everything after operates on O(labels x dims) rows with a "
    "broadcast-sized self-pair join on O(labels) rows.",
)
def similarity_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load_emb(spark, sf_dir)
    ex = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("batch"),
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))),
    ).select(
        "label",
        "batch",
        (F.col("pos") + 1).alias("i"),
        F.floor(F.col("col") * DRIFT_SCALE + F.lit(0.5))
        .cast("bigint")
        .alias("q"),
    )
    d = ex.groupBy("label", "batch", "i").agg(
        F.sum("q").alias("s"), F.count(F.lit(1)).alias("cnt")
    )
    c = d.groupBy("label", "batch").agg(
        F.max("cnt").alias("n"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("i", "s", "cnt"))
            ),
            lambda t: t["s"] * 1.0 / (t["cnt"] * DRIFT_SCALE),
        ).alias("centroid"),
    )
    a = c.filter(F.col("batch") == 0).select(
        "label", F.col("n").alias("n_a"), F.col("centroid").alias("ca")
    )
    b = c.filter(F.col("batch") == 1).select(
        "label", F.col("n").alias("n_b"), F.col("centroid").alias("cb")
    )
    sq = F.aggregate(
        F.zip_with("ca", "cb", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return a.join(F.broadcast(b), "label").select(
        "label", "n_a", "n_b", F.round(F.sqrt(sq), 6).alias("drift")
    )


#: fixed-point grain for intra-cluster edge-cosine means: cos_sim is
#: already rounded to 6 decimals, so ×1e6 is EXACT integer micro-units —
#: the per-cluster mean becomes a ratio of exact BIGINTs divided once,
#: bit-identical across engines and shuffle orders (a double SUM of the
#: raw cosines would drift in final ulps with aggregation order).
_EDGE_COS_MICRO = 1_000_000


@shared_artifact("semantic", tables=("embeddings",))
def shared_semantic_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-cosine near-dup edge set (id_a, id_b, micro),
    materialized ONCE per session through the same keyed artifact cache
    as the LSH and probe generators (fingerprinting
    ``embeddings.parquet``). Production shape: edges to parquet once,
    every cluster/report reads the artifact — and in-session the eager
    checkpoint doubles as the multi-branch materialization (the CC loop
    and the intra-cluster stats join both consume this frame)."""
    return (
        _bucket_pairs_gemm(spark, sf_dir)
        .select(
            F.col("vec_a").alias("id_a"),
            F.col("vec_b").alias("id_b"),
            F.round("cos_sim", 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= NEAR_DUP_TAU)
        .withColumn(
            "micro",
            F.round(F.col("cos_sim") * _EDGE_COS_MICRO).cast("bigint"),
        )
        .select("id_a", "id_b", "micro")
    )


@shared_artifact("semantic_cc", tables=("embeddings",))
def shared_semantic_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster labels (id_a, cluster_id) over the semantic edge graph,
    materialized ONCE per corpus per session. SemDeDup's production
    shape is exactly this: cluster the corpus once, then every dedup
    decision and report reads the stored assignment — re-running the
    O(diameter)-round label propagation per report would dominate its
    cost (measured at sf0.1: the 5-round propagation is ~3 s/call; the
    materialized labels read in ~0.1 s). The checkpoint also IS the
    multi-branch materialization: the size rollup and the intra-cluster
    stats join both consume it."""
    edges = shared_semantic_edges(spark, sf_dir).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    return _cc_labels(edges, "id_a")


@query(
    "dedup_semantic_clusters",
    oracle=f"""
    WITH RECURSIVE coded AS (
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
    edges AS (
      SELECT id_a, id_b,
             CAST(ROUND(cos_sim * {_EDGE_COS_MICRO}) AS BIGINT) AS micro
      FROM prs WHERE cos_sim >= {NEAR_DUP_TAU}
    ),
    {_cc_closure_sql("edges", "id_a", "id_b", "cc")},
    sizes AS (
      SELECT cluster_id, COUNT(*) AS n_members FROM cc GROUP BY cluster_id
    ),
    intra AS (
      SELECT c.cluster_id, COUNT(*) AS n_edges, SUM(e.micro) AS sum_micro
      FROM edges e JOIN cc c ON e.id_a = c.node
      GROUP BY c.cluster_id
    )
    SELECT s.cluster_id,
           CAST(s.n_members AS BIGINT) AS n_members,
           CAST(s.n_members - 1 AS BIGINT) AS n_removable,
           CAST(i.n_edges AS BIGINT) AS n_edges,
           CAST(i.sum_micro AS DOUBLE) / ({_EDGE_COS_MICRO}.0 * i.n_edges)
             AS mean_edge_cos
    FROM sizes s JOIN intra i USING (cluster_id)
    """,
    doc="SemDeDup-style semantic clusters: connected components over the "
    "embedding-cosine near-dup graph (SRP-bucketed GEMM pairs, cosine >= "
    "tau), one row per multi-member cluster with its size, removable "
    "count, and mean intra-cluster edge cosine (exact micro-unit integer "
    "mean). The TRANSITIVE closure is the point: a chain a~b~c where "
    "cos(a,c) < tau is ONE duplicate group — pairwise canonicalization "
    "(dedup_embedding_cosine) or pairwise keep-best "
    "(dedup_semantic_keep_best) can mark a doc's designated keeper as "
    "itself dropped on such chains; cluster-level dedup cannot. Pinned by "
    "tests/test_properties.py::test_semantic_clusters_merge_chain_"
    "transitively. Plan: GEMM candidate pairs (bucketed, never n²) -> "
    "session-shared checkpoint (kind='semantic' in the keyed candidate "
    "cache: built once per corpus per session, and the materialized frame "
    "feeds the CC loop AND the intra-cluster stats join — multi-branch "
    "discipline) -> executor-side min-label "
    "propagation (O(component diameter) rounds, O(1) driver scalars) -> "
    "two partial-aggregated rollups + one O(clusters) join. The oracle's "
    "recursive-CTE closure is fine at oracle scale and quadratic at "
    "corpus scale — exactly why the Spark side iterates labels instead "
    "(same trade recorded on dedup_clusters). reference: no analogue — "
    "training-pipeline extension (SemDeDup, Abbas et al. 2023).",
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = shared_semantic_edges(spark, sf_dir)
    cc = shared_semantic_labels(spark, sf_dir)
    sizes = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    intra = (
        edges.join(cc, "id_a")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
            F.sum("micro").alias("sum_micro"),
        )
    )
    return sizes.join(intra, "cluster_id").select(
        "cluster_id",
        "n_members",
        (F.col("n_members") - 1).cast("bigint").alias("n_removable"),
        "n_edges",
        (
            F.col("sum_micro").cast("double")
            / (F.lit(float(_EDGE_COS_MICRO)) * F.col("n_edges"))
        ).alias("mean_edge_cos"),
    )


#: cross-split contamination threshold. Production eval-decontamination
#: runs ~0.9+; on the synthetic corpus (no true duplicates) the threshold
#: sits slightly BELOW the near-dup tau — decontamination is deliberately
#: higher-recall than dedup (a missed near-dup wastes tokens; a missed
#: contamination corrupts an eval), and 0.35 keeps a populated report at
#: every test scale (10 flagged evals at sf0.01 vs 1 at 0.40) so the
#: differential evidence is non-trivial. MEASURED on the
#: similarity_semantic_tau_sweep grid at sf0.1 (SCALE.md "tau-sweep
#: calibration record"): 649 edges at 0.35 vs 179 at 0.40 — one notch
#: more permissive than NEAR_DUP_TAU by design, per the recall argument
#: above. Re-read off the same sweep on any real corpus.
DECON_TAU = 0.35


@query(
    "similarity_semantic_decontaminate",
    oracle=f"""
    WITH coded AS (
      SELECT vec_id, label, embedding,
             {_srp_code_duckdb('embedding')} AS bucket
      FROM {_EMB_SQL}
    ),
    ev AS (SELECT * FROM coded WHERE label = 0),
    tr AS (SELECT * FROM coded WHERE label IS NOT NULL AND label <> 0),
    hits AS (
      SELECT e.vec_id AS eval_vec_id, t.vec_id AS train_vec_id,
             ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          CAST(t.embedding AS DOUBLE[])), 6)
               AS cos_sim
      FROM ev e JOIN tr t ON e.bucket = t.bucket
    ),
    qual AS (SELECT * FROM hits WHERE cos_sim >= {DECON_TAU}),
    ranked AS (
      SELECT eval_vec_id, train_vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY eval_vec_id
                                ORDER BY cos_sim DESC, train_vec_id) AS rn,
             COUNT(*) OVER (PARTITION BY eval_vec_id) AS n_contaminating,
             MAX(cos_sim) OVER (PARTITION BY eval_vec_id) AS max_cos
      FROM qual
    )
    SELECT eval_vec_id,
           CAST(n_contaminating AS BIGINT) AS n_contaminating,
           max_cos,
           train_vec_id AS nearest_train_vec_id
    FROM ranked WHERE rn = 1
    """,
    doc="Semantic train/eval decontamination report: for every held-out "
    "vector (label = 0, the synthetic proxy for a benchmark split) that "
    "has a training vector (label <> 0, NULL excluded from both splits by "
    "contract) within cosine >= tau in its SRP bucket, report how many "
    "training vectors contaminate it, the max cosine, and the nearest "
    "offender (cos desc, id tie-break) — the report a model card's "
    "contamination appendix is built from, and the SEMANTIC complement of "
    "text_decontaminate's exact n-gram matching (a paraphrased benchmark "
    "item shares no 8-gram but sits at cosine ~0.9). Asymmetric split "
    "join, not a self-join: the train side is one corpus scan, the eval "
    "side a second scan with the label predicate pushed down (an eval "
    "split is ~1e-4 of the corpus in production, so that scan is "
    "partition-prunable to nothing). Per-bucket join keyed on the SRP "
    "code — never n² — with the same recall scoping as every SRP "
    "operator here: cross-bucket contamination is missed by a single "
    "code; production raises recall with multi-probe or multiple code "
    "tables, trading candidate volume linearly. No broadcast hints "
    "(both sides grow with the corpus; AQE decides). "
    "reference: no analogue — training-pipeline extension.",
)
def similarity_semantic_decontaminate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    coded = _load_emb(spark, sf_dir).withColumn(
        "bucket", F.expr(_srp_code_sql("embedding"))
    )
    ev = coded.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("eval_vec_id"),
        F.col("embedding").alias("ee"),
        "bucket",
    )
    tr = coded.filter(
        F.col("label").isNotNull() & (F.col("label") != 0)
    ).select(
        F.col("vec_id").alias("train_vec_id"),
        F.col("embedding").alias("te"),
        "bucket",
    )
    cos = F.round(F.expr(_COS_SPARK.format(a="ee", b="te")), 6)
    qual = (
        ev.join(tr, "bucket")
        .select("eval_vec_id", "train_vec_id", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= DECON_TAU)
    )
    wp = Window.partitionBy("eval_vec_id")
    wr = wp.orderBy(F.col("cos_sim").desc(), "train_vec_id")
    return (
        qual.withColumn("rn", F.row_number().over(wr))
        .withColumn(
            "n_contaminating", F.count(F.lit(1)).over(wp).cast("bigint")
        )
        .withColumn("max_cos", F.max("cos_sim").over(wp))
        .filter(F.col("rn") == 1)
        .select(
            "eval_vec_id",
            "n_contaminating",
            "max_cos",
            F.col("train_vec_id").alias("nearest_train_vec_id"),
        )
    )


# ---------------------------------------------------------------------------
#: Tau grid for the semantic-threshold calibration sweep, in exact cosine
#: micro-units (see _EDGE_COS_MICRO): 0.30 .. 0.90 step 0.05 — wide
#: enough to bracket every tau this repo ships (NEAR_DUP_TAU 0.4,
#: DECON_TAU 0.35) AND the ~0.9 a production SemDeDup run would use, so
#: the same report calibrates both regimes. Integer thresholds compare
#: exactly on both engines; the tau doubles are formatted once in Python
#: and embedded as literals in both texts (IEEE round-trip).
_TAU_SWEEP_MIN_MICRO = 300_000
_TAU_SWEEP_STEP_MICRO = 50_000
_TAU_SWEEP_CELLS = 13
_TAU_SWEEP_GRID = [
    (k, (_TAU_SWEEP_MIN_MICRO + _TAU_SWEEP_STEP_MICRO * k) / 1e6)
    for k in range(_TAU_SWEEP_CELLS)
]


def _tau_cell_case(div: str) -> str:
    """Grid-cell assignment for one pair's micro cosine, shared by both
    engines (``div`` is the integer-division spelling: Spark ``DIV``,
    DuckDB ``//`` — both truncate toward zero; micro - min is
    non-negative on the only path that divides). Below-grid pairs land
    in cell -1: counted in the total, never in an n_edges sum."""
    top = _TAU_SWEEP_CELLS - 1
    return (
        f"CASE WHEN micro >= {_TAU_SWEEP_MIN_MICRO} THEN "
        f"LEAST((micro - {_TAU_SWEEP_MIN_MICRO}) {div} "
        f"{_TAU_SWEEP_STEP_MICRO}, {top}) ELSE -1 END"
    )


def _tau_grid_sql() -> str:
    vals = ", ".join(
        f"({k}, CAST({t!r} AS DOUBLE))" for k, t in _TAU_SWEEP_GRID
    )
    return f"SELECT * FROM (VALUES {vals}) AS t(cell, tau)"


@query(
    "similarity_semantic_tau_sweep",
    oracle=f"""
    WITH coded AS (
      SELECT vec_id, embedding, {_srp_code_duckdb('embedding')} AS bucket
      FROM {_EMB_SQL}
    ),
    pairs AS (
      SELECT ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])),
                   6) AS cos_sim
      FROM coded a JOIN coded b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    pm AS (
      SELECT CAST(ROUND(cos_sim * {_EDGE_COS_MICRO}) AS BIGINT) AS micro
      FROM pairs
    ),
    cells AS (SELECT {_tau_cell_case('//')} AS cell FROM pm),
    cell_counts AS (SELECT cell, COUNT(*) AS c FROM cells GROUP BY cell),
    tot AS (
      SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS t FROM cell_counts
    ),
    grid AS ({_tau_grid_sql()}),
    cum AS (
      SELECT g.cell, g.tau,
             CAST(COALESCE(SUM(cc.c), 0) AS BIGINT) AS n_edges
      FROM grid g
      LEFT JOIN cell_counts cc ON cc.cell >= g.cell
      GROUP BY g.cell, g.tau
    )
    SELECT c.tau, c.n_edges,
           CASE WHEN t.t > 0 THEN c.n_edges * 1.0 / t.t
           END AS share_of_pairs
    FROM cum c CROSS JOIN tot t
    """,
    doc="Semantic-threshold calibration sweep: for a 13-point tau grid "
    "(0.30..0.90 step 0.05), how many SRP-bucket pairs have cosine >= "
    "tau, and what share of all bucket pairs that is — the edge-weight "
    "distribution every cosine threshold in this repo (NEAR_DUP_TAU, "
    "DECON_TAU, a production SemDeDup ~0.9) should be read off instead "
    "of guessed. One GEMM pass over the SRP buckets (UNFILTERED — the "
    "cached semantic edge artifact is already cut at NEAR_DUP_TAU, so a "
    "below-tau sweep cannot be served from it), each pair assigned to "
    "ONE grid cell by exact integer micro-cosine, a <=14-row cell "
    "rollup checkpointed (multi-branch: the cumulative join and the "
    "total read it), then the per-tau cumulative is a 13x14 non-equi "
    "join on O(1) rows. Cost is one bucketed GEMM regardless of grid "
    "size; the corpus never shuffles except on the bucket code. "
    "reference: no analogue — training-pipeline extension.",
)
def similarity_semantic_tau_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pairs = _bucket_pairs_gemm(spark, sf_dir)
    micro = (
        F.round(F.round("cos_sim", 6) * _EDGE_COS_MICRO)
        .cast("bigint")
        .alias("micro")
    )
    cells = pairs.select(micro).select(
        F.expr(_tau_cell_case("DIV")).alias("cell")
    )
    # <=14 rows; eager-checkpointed because BOTH the cumulative join and
    # the total-count branch read it — without the checkpoint each branch
    # would re-run the whole bucketed GEMM
    cell_counts = (
        cells.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    tot = cell_counts.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("t")
    )
    grid = spark.createDataFrame(_TAU_SWEEP_GRID, "cell int, tau double")
    cum = (
        grid.join(cell_counts, cell_counts["cell"] >= grid["cell"], "left")
        .groupBy(grid["cell"], "tau")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("n_edges"))
    )
    return cum.crossJoin(tot).select(
        "tau",
        "n_edges",
        F.when(
            F.col("t") > 0, F.col("n_edges") * 1.0 / F.col("t")
        ).alias("share_of_pairs"),
    )


@query(
    "dedup_incremental_semantic",
    oracle=f"""
    WITH RECURSIVE coded AS (
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
    be AS MATERIALIZED (
      SELECT id_a, id_b FROM prs
      WHERE cos_sim >= {NEAR_DUP_TAU}
        AND (id_a % {INCR_MOD} = 0 OR id_b % {INCR_MOD} = 0)
    ),
    batch AS (
      SELECT e.vec_id AS doc_id, d.source
      FROM {_EMB_SQL} e JOIN documents d ON d.doc_id = e.vec_id
      WHERE e.vec_id % {INCR_MOD} = 0
    ),
    {_incremental_edges_sql()},
    {_cc_closure_sql("bb", "id_a", "id_b", "comp")},
    {_incremental_report_sql("semdup")}
    """,
    doc="Incremental SEMANTIC-dup ingest — the third sibling of the "
    "daily-batch family (exact: dedup_incremental_ingest; lexical near: "
    "dedup_incremental_near): today's batch of EMBEDDED documents "
    "(vec_id % INCR_MOD = 0 plays the increment; vec_id == doc_id, the "
    "same identity every semantic operator uses) is checked for "
    "embedding-cosine near-duplicates (NEAR_DUP_TAU, SemDeDup's "
    "threshold as shipped) against the already-ingested corpus and "
    "within itself. Classification is the family's shared component "
    "tail (incremental_component_report): corpus-tainted components "
    "drop vs_corpus, batch-only components keep their min-id member — "
    "every drop has a live representative. Edges are the session-shared "
    "SRP-bucketed GEMM artifact FILTERED to batch-touching pairs — zero "
    "new kernels, and 'semantic duplicate' means exactly what the "
    "backfill's dedup_semantic_clusters means. n_batch counts EMBEDDED "
    "batch docs only (a doc without a vector cannot be semantically "
    "deduped — it belongs to the lexical siblings' domains). At 100 TB "
    "the history side is the persisted (vec_id, srp_bucket, embedding) "
    "assignment a production SemDeDup pipeline already maintains: batch "
    "vectors are SRP-coded map-side against broadcast hyperplanes and "
    "probe ONLY their own buckets' history rows — per-batch cost is "
    "O(batch GEMM tiles + touched-bucket pairs + CC over the tiny "
    "batch-batch verified graph), never a corpus re-scan.",
)
def dedup_incremental_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the session-shared edge artifact is already an eager checkpoint —
    # the materialized form the shared tail requires; the filter to
    # batch-touching pairs is a scan of the checkpointed rows, exactly
    # what the persisted-edge-artifact plan does at scale
    be = shared_semantic_edges(spark, sf_dir).filter(
        (F.col("id_a") % INCR_MOD == 0) | (F.col("id_b") % INCR_MOD == 0)
    ).select("id_a", "id_b")
    batch = (
        # fanout=False: a bare id projection — nothing to parallelize
        _load_emb(spark, sf_dir, fanout=False)
        .filter(F.col("vec_id") % INCR_MOD == 0)
        .select(F.col("vec_id").alias("doc_id"))
        .join(
            load_table(spark, sf_dir, "documents").select(
                "doc_id", "source"
            ),
            "doc_id",
        )
    )
    return incremental_component_report(be, batch, "semdup")
