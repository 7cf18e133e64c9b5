"""Deduplication operators for training-data pipelines (north-star extension;
SURVEY §7 / BASELINE.json).

All four operators are pure DataFrame compositions — no UDFs — so they run
JVM-side under whole-stage codegen and scale linearly:

- exact:    hash-groupBy on a content digest. One shuffle on the digest.
- minhash:  shingle → 12 minhashes → 4 bands × 3 rows → bucket self-join.
            The self-join is on (band, band_key) — candidate pairs only, never
            a cartesian product. This is the 100 TB-safe shape: work scales
            with Σ bucket² not n².
- simhash:  60-bit signature from per-word hash bit votes; pure aggregation.
- ngram jaccard: exact verification via shingle equi-join (intersection
            counts) — again join-on-content-key, not pairwise loops.

Determinism: hashes are md5 (identical hex in Spark and DuckDB); minhash
hashes each shingle once (md5 → 60-bit int) then applies a universal-hash
family (a_i*h + b_i) mod 2^31-1 in exact BIGINT arithmetic, engine-
independent; all counts are exact integers so derived ratios are
bit-identical doubles.
"""

from __future__ import annotations

import functools
import threading
from collections import OrderedDict
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_explorer_spark.operators.registry import query
from iceberg_explorer_spark.sources.registry import (
    eager_checkpoints,
    load_table,
    table_fingerprint,
)

N_HASHES = 12
N_BANDS = 4  # 3 rows per band
SIMHASH_BITS = 60  # from 15 hex chars of md5 → fits a signed BIGINT
#: Banded-Hamming near-dup parameters (dedup_simhash_hamming): 4 bands
#: of 15 bits give EXACT recall at the HAM_MAX=3 bar by pigeonhole — 3
#: differing bits can touch at most 3 of the 4 bands, so every pair
#: within the bar shares at least one whole band and is emitted as a
#: candidate (unlike MinHash-LSH, whose recall is probabilistic).
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
SIMHASH_HAM_MAX = SIMHASH_BANDS - 1
#: same quadratic guard as LSH_MAX_BUCKET: a degenerate band value
#: shared by B docs would otherwise emit B² candidate pairs
SIMHASH_MAX_BUCKET = 256

#: Pathological-bucket frequency cap for LSH pair expansion. A bucket with B
#: members emits B(B-1)/2 pairs, so one boilerplate-flooded bucket (every
#: page sharing a cookie banner, a log-line template, ...) turns the
#: candidate stage quadratic and OOMs/straggles a single reducer at 100 TB.
#: Buckets above the cap are dropped: their members are (a) mutually
#: near-identical boilerplate better handled by exact dedup upstream and
#: (b) still pair-able through their other N_BANDS-1 band buckets.
#: 256 members ⇒ ≤ 32,640 pairs per bucket — bounded reducer work.
LSH_MAX_BUCKET = 256

#: Truncate the label-propagation lineage every k rounds: each round's plan
#: references the previous round's, so without a checkpoint the DAG (and
#: task re-computation on failure) grows linearly with rounds.
CC_CHECKPOINT_EVERY = 5

#: Convergence safety bound — propagation needs O(component diameter)
#: rounds; near-dup components are small/dense so real diameters are tiny.
CC_MAX_ROUNDS = 50
#: Edge-count gate for the local union-find fast path in
#: connected_components: a graph at or under this many edge rows is
#: collected (bounded: ~1 MB at the cap) and solved driver-side in
#: microseconds instead of paying the distributed loop's ~1 s/round
#: scheduling floor (measured sf0.1: a 6-edge batch graph cost 3.5 s for
#: 3 rounds — pure job latency, zero data). The same size-gating
#: discipline as broadcast thresholds and LSH_MAX_BUCKET: above the cap
#: the executor-side loop runs unchanged, which is the only path that
#: exists at 100 TB graph sizes.
CC_LOCAL_MAX_EDGES = 1 << 16

#: Rounds of PLAIN min-label propagation before pointer-doubling label
#: compression activates. Real dedup graphs are shallow, and for them the
#: doubling join is pure overhead (the r8 audit measured and rejected
#: always-on pointer jumping on exactly that ground). Deep components are
#: where O(diameter) rounds blow up — the r9 deep-chain stress measured a
#: diameter-32 chain at 19 s and extrapolated minutes at 128 — so past
#: this threshold each propagation round is followed by one
#: lbl := lbl[lbl] compression join, which doubles the compressed path
#: length per round and converges the whole loop in
#: CC_DOUBLE_AFTER + O(log diameter) rounds. The threshold is set one
#: past the DEEPEST measured real workload (sf0.1 LSH graph: 3 rounds;
#: sf0.1 semantic graph: 7 rounds — a threshold of 4 made the semantic
#: build pay compress joins in rounds 5-7 for zero round savings,
#: measured 2.9 → 4.2 s), so production-shaped graphs never pay and the
#: pathological deep corpus still converges logarithmically.
CC_DOUBLE_AFTER = 8


def _words(col: str = "text"):
    """Lowercased whitespace tokens (same regex both engines)."""
    return F.split(F.lower(F.trim(F.col(col))), r"\s+")


def _shingle_array(words_col: str = "w"):
    """3-word shingle array over a pre-materialized word-array column.

    Shared by every shingle consumer (_shingles_df, the per-source MinHash
    sketch, text_vocab_growth) so the shingle geometry has ONE definition.
    The words column must be projected first — see _shingles_df's docstring
    for why inlining the split() here would be O(words²) per document.
    """
    return F.when(
        F.size(words_col) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(words_col) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(words_col, i),
                F.element_at(words_col, i + 1),
                F.element_at(words_col, i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _bucket_pairs_expr(ids_col: str, a: str, b: str) -> str:
    """All unordered pairs within one bucket's SORTED id array (sorted
    input ⇒ emitted ``a`` < ``b``) — the ONE definition of the
    pair-emission lambda. The LSH bucket expansion, the per-source
    sketch agreement and the band-tuning sweep all emit pairs through
    this exact expression; a fix to the emission discipline lands in
    every candidate generator at once."""
    return (
        f"flatten(transform({ids_col}, (x, i) -> "
        f"transform(slice({ids_col}, i + 2, size({ids_col})), y -> "
        f"struct(x AS {a}, y AS {b}))))"
    )


def _minhash_min_aggs(n_hashes: int):
    """The universal-hash min-aggregate columns h0..h{n-1} over column
    ``hb`` — the one definition of the signature family, shared by the
    per-doc LSH pipeline and the per-source sketch."""
    mins = []
    for i in range(n_hashes):
        a, b = _lcg_params(i)
        mins.append(
            F.min(
                (F.lit(a) * F.col("hb") + F.lit(b)) % F.lit(MINHASH_P)
            ).alias(f"h{i}")
        )
    return mins


def _shingles_df(
    spark: SparkSession, sf_dir: str, distinct: bool = True
) -> DataFrame:
    """(doc_id, 3-word shingle) rows, optionally deduplicated.

    The word array is materialized as a projected column BEFORE the shingle
    transform references it. Inlining the split() expression into every
    element_at() makes codegen re-tokenize the full text per shingle term —
    O(words²) per document, measured 8× slower at sf0.1 and worse the longer
    the documents get.

    ``distinct=False`` skips the dedup shuffle entirely — for consumers whose
    downstream aggregate is idempotent over duplicates (minhash: min over a
    multiset equals min over its set), the distinct is a pure cost. The
    Jaccard intersection counts DO need set semantics and keep the default.
    """
    return shingles_from_docs(load_table(spark, sf_dir, "documents"), distinct)


def shingles_from_docs(docs: DataFrame, distinct: bool = True) -> DataFrame:
    """(doc_id, 3-word shingle) rows from an arbitrary documents frame —
    the transform half of ``_shingles_df``, exposed so the incremental
    artifact path can tokenize ONLY a batch slice (history is read from
    its persisted shingle artifact, never re-tokenized)."""
    dw = docs.select("doc_id", _words().alias("w"))
    out = dw.select("doc_id", F.explode(_shingle_array()).alias("s"))
    return out.distinct() if distinct else out


_SHINGLE_SQL = r"""
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
        FROM documents) words,
       UNNEST(generate_series(1, len(w) - 2)) AS t(i)
  WHERE len(w) >= 3
"""


# ---------------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    doc="Exact dedup: group by content digest, keep the smallest doc_id as "
    "canonical. At scale: one shuffle on the digest; digest is computed "
    "map-side so only (hash, id) ever shuffles, not the text.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .select(F.md5(F.col("text")).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
#: modulus for the universal-hash minhash family (2^31-1, prime). a*h stays
#: under 2^63 so both engines do exact BIGINT arithmetic — no overflow, no
#: floats, bit-identical mins.
MINHASH_P = 2_147_483_647


def _lcg_params(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for hash_i(x) = (a*x + b) mod P, from md5 bytes."""
    import hashlib

    d = hashlib.md5(f"minhash:{i}".encode()).digest()
    a = int.from_bytes(d[:8], "big") % (MINHASH_P - 1) + 1
    b = int.from_bytes(d[8:], "big") % MINHASH_P
    return a, b


def _minhash_agg_sql() -> str:
    """12 min-aggregates in ONE pass (shared text for Spark SQL and oracle).

    One groupBy(doc_id) with 12 mins — instead of exploding ×12 and grouping
    by (doc_id, seed) — keeps the shuffle at one row per doc per partition
    (map-side partial mins). 5× faster at sf0.1, and the difference grows
    with data size.

    Each shingle is md5'd ONCE into a 60-bit base hash ``hb``; the 12 family
    members are linear-congruential mixes (a_i*hb + b_i) mod P — the
    standard universal-hash minhash construction. 12 integer ops replace 12
    string md5s per shingle row, which was the dominant cost of the whole
    LSH pipeline."""
    terms = []
    for i in range(N_HASHES):
        a, b = _lcg_params(i)
        terms.append(f"MIN(({a} * hb + {b}) % {MINHASH_P}) AS h{i}")
    return ", ".join(terms)


def _bands_sql(rows_per_band: int = 3) -> str:
    """Band keys in fixed seed order (UNION ALL unpivot, shared text)."""
    selects = []
    for b in range(N_BANDS):
        cols = " || '|' || ".join(
            f"h{b * rows_per_band + r}" for r in range(rows_per_band)
        )
        selects.append(
            f"SELECT doc_id, {b} AS band, md5({cols}) AS bkey FROM sig"
        )
    return " UNION ALL ".join(selects)


#: The oracle mirrors LSH_MAX_BUCKET: buckets above the cap are dropped
#: before pair expansion on BOTH engines, so the declared semantics (and the
#: differential gate) agree on any corpus, not just ones without hot buckets.
_LSH_CANDIDATES_SQL = f"""
    WITH sh AS ({_SHINGLE_SQL}),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % {MINHASH_P} AS hb
      FROM sh
    ),
    sig AS (SELECT doc_id, {_minhash_agg_sql()} FROM hashed GROUP BY doc_id),
    bands AS ({_bands_sql()}),
    ok_buckets AS (
      SELECT band, bkey FROM bands GROUP BY band, bkey
      HAVING COUNT(*) BETWEEN 2 AND {LSH_MAX_BUCKET}
    ),
    capped AS (
      SELECT b.* FROM bands b
      JOIN ok_buckets k ON b.band = k.band AND b.bkey = k.bkey
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.band
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, COUNT(*) AS n_shared_bands
    FROM cand GROUP BY doc_a, doc_b
"""


#: 60-bit shingle identity (15 md5 hex chars) — the shuffle-friendly stand-in
#: for the shingle string: 8 bytes instead of a ~30-byte string on every
#: distinct/join, with collision probability ~n²/2^61 (≈4e-7 for a million
#: distinct shingles). All shingle-set math (minhash, Jaccard) runs on it.
_SHINGLE_HASH = "CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)"


def hashed_shingles(
    spark: SparkSession, sf_dir: str, distinct: bool = True
) -> DataFrame:
    """(doc_id, hb) rows: the 60-bit hash of each (optionally distinct)
    shingle. Distinct over the hash, never the string — the shuffle carries
    16 bytes/row however long the shingles are."""
    return hashed_shingles_from_docs(
        load_table(spark, sf_dir, "documents"), distinct
    )


def hashed_shingles_from_docs(
    docs: DataFrame, distinct: bool = True
) -> DataFrame:
    """(doc_id, hb) 60-bit shingle hashes from an arbitrary documents
    frame — identical per-doc output to ``hashed_shingles`` (same
    tokenizer, same hash), so a batch slice hashed here unions exactly
    with a persisted history shingle artifact."""
    sh = shingles_from_docs(docs, distinct=False).select(
        "doc_id", F.expr(_SHINGLE_HASH).alias("hb")
    )
    return sh.distinct() if distinct else sh


def lsh_candidates(
    spark: SparkSession,
    sf_dir: str,
    shingles: DataFrame | None = None,
    max_bucket: int | None = LSH_MAX_BUCKET,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs (doc_a, doc_b, n_shared_bands).

    Plan shape matters here: band rows come from ONE explode (a unionAll of
    per-band selects would recompute the shingle→minhash pipeline per
    branch), and pair generation is group-by-bucket + emit-pairs-in-bucket
    (a bands⋈bands self-join would recompute the pipeline twice more).
    Every stage is a single linear pass with one shuffle.

    ``shingles``: optional precomputed (doc_id, s) DataFrame — callers that
    also need the shingle set elsewhere (the Jaccard verifier) pass their
    persisted copy so the pipeline is computed once. min(hash) over a
    multiset equals min over its set, so distinct and non-distinct shingle
    inputs give identical signatures.

    ``max_bucket``: buckets with more members are dropped before pair
    expansion (see LSH_MAX_BUCKET) — the guard that keeps one hot bucket
    from going quadratic. ``None`` disables the cap (oracle-equivalent
    semantics at any size; only safe on bounded inputs).

    ``hashed``: optional precomputed (doc_id, hb) 60-bit shingle hashes
    (``hashed_shingles``) — the Jaccard verifier persists these once and
    shares them here, so the corpus is tokenized and hashed exactly once.
    """
    if hashed is None:
        # non-distinct shingles by default: the dedup shuffle the Jaccard
        # path needs is dead weight here (min over a multiset == min over
        # its set)
        sh = (
            shingles
            if shingles is not None
            else _shingles_df(spark, sf_dir, distinct=False)
        )
        hashed = sh.select("doc_id", F.expr(_SHINGLE_HASH).alias("hb"))
    return pairs_from_band_rows(minhash_band_rows(hashed), max_bucket)


def minhash_band_rows(hashed: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) LSH band rows from raw (doc_id, hb) shingle
    hashes — the signature + band-explode half of ``lsh_candidates``,
    extracted so the SAME definition produces the persisted band→bucket
    history artifact AND the fresh batch rows that probe it (a fork here
    would silently desynchronize incremental candidates from the batch
    pipeline's)."""
    hashed = hashed.select("doc_id", (F.col("hb") % MINHASH_P).alias("hb"))
    sig = hashed.groupBy("doc_id").agg(*_minhash_min_aggs(N_HASHES))
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws("|", *[F.col(f"h{b * 3 + r}") for r in range(3)])
                ).alias("bkey"),
            )
            for b in range(N_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", "bb.band", "bb.bkey"
    )


def pairs_from_band_rows(
    bands: DataFrame, max_bucket: int | None = LSH_MAX_BUCKET
) -> DataFrame:
    """(doc_a, doc_b, n_shared_bands) from band rows — the bucket-group +
    pair-emission half of ``lsh_candidates`` (same quadratic guard, same
    sorted-ids ordering), shared with the incremental artifact path."""
    buckets = (
        bands.groupBy("band", "bkey")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket)
    # all unordered pairs within a bucket (ids sorted → doc_a < doc_b)
    pairs = buckets.select(
        F.explode(
            F.expr(_bucket_pairs_expr("ids", "doc_a", "doc_b"))
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    return pairs.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_shared_bands")
    )


#: session-scoped materializations of shared artifacts, keyed by
#: (spark application id, sf_dir, kind) where kind names the declared
#: artifact (``@shared_artifact``); the value is (fingerprints of the
#: declared input tables, frame). One slot per (corpus, kind): a
#: rewritten input fails the fingerprint comparison, and the rebuild
#: replaces the stale frame in place. LRU-bounded: holding a strong
#: reference pins the checkpointed RDD blocks (ContextCleaner frees them
#: only after the DataFrame is garbage collected), so an unbounded dict
#: would grow block-manager memory monotonically in a long-lived session
#: that touches many corpora (the adversarial sweeps build a fresh tmp
#: corpus per run). The cap is two entries per declared kind: every
#: artifact of two corpora, so a session that alternates between two
#: corpora rebuilds nothing, while entries evicted past that become
#: collectable again.
_SHARED_CANDIDATES: OrderedDict[
    tuple[str, str, str], tuple[tuple[str, ...], DataFrame]
] = OrderedDict()
#: kind -> cached accessor, one entry per ``@shared_artifact`` declaration
_SHARED_ARTIFACTS: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
#: Guards the registry dict itself — held only for reads/inserts, NEVER
#: across a build. The service layer runs each query on its own daemon
#: thread (lifecycle/executor.py), so without dedup two concurrent
#: graph-family queries hitting a cold cache would BOTH run the
#: shingle→minhash→band pipeline and double-materialize the checkpoint;
#: that dedup lives in ``_SHARED_CANDIDATES_BUILDS``: the first thread to
#: miss a key registers an in-progress Event and builds OUTSIDE the lock,
#: same-key threads wait on the Event, and — the part a single
#: build-spanning global lock got wrong once the multi-second semantic
#: family joined the cache — threads after OTHER keys (a warm hit of a
#: different kind, a different corpus) proceed without ever blocking
#: behind the cold build.
_SHARED_CANDIDATES_LOCK = threading.Lock()
#: key -> Event for builds in flight; a failed build removes its entry
#: and sets the Event, so one of the waiters retakes the build on re-check
_SHARED_CANDIDATES_BUILDS: dict[tuple[str, str, str], threading.Event] = {}
#: invalidation generation: bumped by invalidate_shared_candidates. A
#: build snapshots it before running and declines to INSERT (still
#: returns its frame) if an invalidation happened meanwhile — otherwise
#: an in-flight build would resurrect an entry the caller explicitly
#: cleared (builds run outside the lock since the per-key dedup rework).
_SHARED_CANDIDATES_GEN = 0


def invalidate_shared_candidates(sf_dir: str | None = None) -> None:
    """Drop cached candidate materializations — all of them, or only the
    entries for one corpus directory. In-place rewrites are ALSO detected
    automatically (every lookup compares the input tables' content
    fingerprints); this helper is for explicit lifecycle control: tests,
    and long-lived sessions that want the checkpoint blocks collectable
    NOW rather than at LRU eviction. Builds in flight at the moment of
    invalidation complete but do NOT re-enter the cache (generation
    check) — an invalidated entry stays invalidated."""
    global _SHARED_CANDIDATES_GEN
    with _SHARED_CANDIDATES_LOCK:
        _SHARED_CANDIDATES_GEN += 1
        if sf_dir is None:
            _SHARED_CANDIDATES.clear()
        else:
            for k in [k for k in _SHARED_CANDIDATES if k[1] == sf_dir]:
                del _SHARED_CANDIDATES[k]


def _shared_candidates(
    spark: SparkSession,
    sf_dir: str,
    kind: str,
    build: Callable[[], DataFrame],
    tables: tuple[str, ...],
) -> DataFrame:
    """Keyed check-then-build for session-shared artifact checkpoints;
    reached only through ``shared_artifact`` accessors.

    A production 100 TB dedup run materializes each candidate set to
    parquet once and feeds every downstream consumer (verify, clusters,
    triangles, PageRank, overlap lineage, the overlap spectrum) from that
    artifact — it never re-runs the generator pipeline per report. This
    mirrors that with a session-scoped ``localCheckpoint``: the first
    caller pays the pipeline, every later consumer reads the checkpointed
    blocks. The registry is keyed by (application id, corpus dir, artifact
    kind) and each entry keeps the ``table_fingerprint`` of every table in
    ``tables`` beside its frame: a new session or a rewrite of ANY input
    table re-materializes, and the rebuild overwrites the stale slot.
    While an entry is cached its strong reference pins the checkpoint
    blocks; once evicted, ContextCleaner frees them when the DataFrame is
    garbage collected.
    Thread-safe with PER-KEY build dedup: the service layer runs queries
    on concurrent daemon threads; a cold-cache race on one key
    materializes exactly once (same-key threads wait on the in-progress
    Event), while every other key — a warm hit of a different kind, a
    different corpus — proceeds without blocking behind the build (the
    registry lock is held only for dict reads/inserts, never across the
    multi-second builds the semantic family added). A failed build
    releases its waiters, and the first to re-check retakes the build.
    The built frame is checkpointed eagerly unless the build already
    returned a checkpoint (``_cc_labels``).
    """

    def _fp() -> tuple[str, ...]:
        return tuple(table_fingerprint(sf_dir, t) for t in tables)

    key = (spark.sparkContext.applicationId, sf_dir, kind)
    while True:
        fp = _fp()
        with _SHARED_CANDIDATES_LOCK:
            entry = _SHARED_CANDIDATES.get(key)
            if entry is not None and entry[0] == fp:
                _SHARED_CANDIDATES.move_to_end(key)
                return entry[1]
            in_flight = _SHARED_CANDIDATES_BUILDS.get(key)
            if in_flight is None:
                in_flight = threading.Event()
                _SHARED_CANDIDATES_BUILDS[key] = in_flight
                i_build = True
            else:
                i_build = False
        if not i_build:
            # same-key build in progress: wait, then re-check (the
            # builder may have failed — the loop lets a waiter retake it)
            in_flight.wait()
            continue
        try:
            with _SHARED_CANDIDATES_LOCK:
                gen_at_start = _SHARED_CANDIDATES_GEN
            df = build()
            if not getattr(df, "is_checkpoint", False):
                df = df.localCheckpoint(eager=True)
            # Builds run OUTSIDE the lock, so two things can supersede
            # this result before it is inserted: an explicit
            # invalidation (generation bump) or an in-place rewrite of
            # an input (fingerprint change). In either case the frame
            # is still returned to THIS caller — it is correct for the
            # corpus state at build time — but it must not enter the
            # cache under a fingerprint that no longer holds.
            fresh = _fp() == fp
            with _SHARED_CANDIDATES_LOCK:
                if _SHARED_CANDIDATES_GEN != gen_at_start or not fresh:
                    return df
                _SHARED_CANDIDATES[key] = (fp, df)
                _SHARED_CANDIDATES.move_to_end(key)
                while len(_SHARED_CANDIDATES) > 2 * len(_SHARED_ARTIFACTS):
                    _SHARED_CANDIDATES.popitem(last=False)
            return df
        finally:
            with _SHARED_CANDIDATES_LOCK:
                _SHARED_CANDIDATES_BUILDS.pop(key, None)
            in_flight.set()


def shared_artifact(kind: str, tables: tuple[str, ...] = ("documents",)):
    """Declare ``build(spark, sf_dir) -> DataFrame`` as the session-shared
    artifact ``kind`` and return its cached accessor (same name and
    signature). The accessor serves the checkpoint from
    ``_SHARED_CANDIDATES`` keyed by (application id, corpus dir, ``kind``)
    while the content fingerprints of ``tables`` still match, and runs
    ``build`` only on a miss, so parent artifacts called inside ``build``
    are resolved only when the child is actually rebuilt. ``tables`` names
    every input table the build reads: a rewrite of any of them
    re-materializes the artifact."""

    def declare(build: Callable[[SparkSession, str], DataFrame]):
        if kind in _SHARED_ARTIFACTS:
            raise ValueError(f"shared artifact {kind!r} is declared twice")

        @functools.wraps(build)
        def accessor(spark: SparkSession, sf_dir: str) -> DataFrame:
            return _shared_candidates(
                spark, sf_dir, kind, lambda: build(spark, sf_dir), tables
            )

        _SHARED_ARTIFACTS[kind] = accessor
        return accessor

    return declare


@shared_artifact("shingles")
def shared_hashed_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTINCT (doc_id, hb) shingle-hash table, materialized ONCE per
    corpus per session.

    This is the tokenize-once artifact of a production dedup pipeline: at
    100 TB the corpus is tokenized+hashed exactly once, the 16-byte
    (doc_id, hb) table is written to parquet, and EVERY downstream stage —
    the MinHash-LSH signature build, the rare-shingle probe index, and all
    the containment/Jaccard verify joins — reads that artifact instead of
    re-running the corpus scan. In-session the checkpoint mirrors that:
    before round 9 each verify operator called
    ``hashed_shingles(...).persist()`` per invocation and the builds each
    re-tokenized on cold paths (bench r8 measured the probe build paying a
    full scan the LSH build had just paid); the shared checkpoint removes
    both, and the input fingerprint stored beside the frame gives it the
    same rewrite-detection contract as every other cached kind.
    min over a multiset equals min over its set, so the LSH signature
    build is unchanged by reading the distinct table."""
    # (r17: fanning this table out before the checkpoint was A/B'd —
    # interleaved, cache-invalidated, twice — and REJECTED: consumers
    # summed 8-10% slower with a 32-partition checkpoint; the verify
    # joins and signature aggs are shuffle-plumbing-bound here, and
    # extra partitions multiply per-stage task overhead)
    return hashed_shingles(spark, sf_dir)


@shared_artifact("lsh")
def shared_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_a, doc_b) LSH candidate set, materialized ONCE per session
    (see ``shared_artifact`` for the caching/consistency contract). A
    miss reads the session-shared shingle checkpoint
    (``shared_hashed_shingles``), so the corpus is tokenized at most once
    per session however the builds interleave.

    The checkpoint keeps the full (doc_a, doc_b, n_shared_bands) rows —
    exactly what the parquet artifact would hold — so the candidate-list
    query itself (``dedup_minhash_lsh``) serves from it too; graph
    consumers project the two id columns.
    """
    return lsh_candidates(
        spark, sf_dir, hashed=shared_hashed_shingles(spark, sf_dir)
    )


@query(
    "dedup_minhash_lsh",
    oracle=_LSH_CANDIDATES_SQL,
    doc="MinHash-LSH near-dup candidates: 3-word shingles → one md5 per "
    "shingle → 12 universal-hash mins in one grouped pass (map-side partial "
    "mins) → 4 bands × 3 rows → bucket grouping. Work = Σ bucket², never "
    "n²; shuffles on (band, bkey). Served from the session-shared "
    "candidate materialization (the pipeline's shuffle shape stays pinned "
    "on the raw builder in tests/test_plans.py).",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared_lsh_candidates(spark, sf_dir)


# ---------------------------------------------------------------------------
def _simhash_sql_terms(hash_col: str = "h", weight: str = "1") -> str:
    """±vote sums per bit, shared by the Spark expr and the oracle SQL."""
    return ", ".join(
        f"SUM(CASE WHEN (({hash_col} >> {j}) & 1) = 1 THEN {weight} ELSE -{weight} END)"
        f" AS s{j}"
        for j in range(SIMHASH_BITS)
    )


def _simhash_combine_sql() -> str:
    return (
        "CAST("
        + " + ".join(f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS))
        + " AS BIGINT)"
    )


def _simhash_sig_sql(tag: str = "") -> str:
    """Oracle fragment: the per-doc SimHash signature CTE chain ending
    in ``sigs{tag}(doc_id, simhash)`` — ONE definition shared by the
    fingerprint report (dedup_simhash) and the banded Hamming near-dup
    operator (dedup_simhash_hamming), so the signature rule cannot fork
    between them. ``sigs`` is MATERIALIZED: DuckDB inlines plain CTEs
    per reference site, and the Hamming operator reads it from six.
    ``tag`` suffixes every CTE name (the ``_cc_closure_sql`` rule) —
    needed when the chain shares a statement with a fragment whose
    NESTED WITH reuses a name: the v3 flagship found that an outer
    MATERIALIZED ``hashed``/``bands`` colliding with
    ``_LSH_CANDIDATES_SQL``'s inner ones makes DuckDB's planner fail
    with an INTERNAL 'Recursive CTE scan without recursive CTE node'
    instead of shadowing cleanly."""
    return f"""toks{tag} AS (
      SELECT doc_id, UNNEST(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
      FROM documents
    ),
    hashed{tag} AS (
      SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS h FROM toks{tag}
    ),
    votes{tag} AS (
      SELECT doc_id, {_simhash_sql_terms()} FROM hashed{tag} GROUP BY doc_id
    ),
    sigs{tag} AS MATERIALIZED (
      SELECT doc_id, {_simhash_combine_sql()} AS simhash FROM votes{tag}
    )"""


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — the 60-bit per-doc SimHash signature, the
    Spark twin of ``_simhash_sig_sql`` shared by dedup_simhash and
    dedup_simhash_hamming. One explode + one 60-term aggregation with
    map-side partial sums; everything stays in whole-stage codegen."""
    toks = docs.select(
        "doc_id", F.explode(_words()).alias("word")
    ).withColumn("h", F.expr("CAST(conv(substr(md5(word), 1, 15), 16, 10) AS BIGINT)"))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"((h >> {j}) & 1) = 1"), F.lit(1)).otherwise(F.lit(-1))
            ).alias(f"s{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    return votes.select("doc_id", F.expr(_simhash_combine_sql()).alias("simhash"))


@query(
    "dedup_simhash",
    oracle=f"""
    WITH {_simhash_sig_sql()}
    SELECT doc_id, simhash FROM sigs
    """,
    doc="SimHash document fingerprint: 60-bit signature from per-token md5 "
    "bit votes (token multiplicity = vote weight). Pure two-level "
    "aggregation — map-side partial sums make this cheap at any scale. "
    "The signature definition is the shared simhash_signatures /"
    "_simhash_sig_sql pair, consumed verbatim by dedup_simhash_hamming.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_signatures(load_table(spark, sf_dir, "documents"))


def simhash_band_rows(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, bkey) — each signature split into SIMHASH_BANDS
    contiguous bit bands (literal shifts inside one stack(), fully
    codegen'd; no column-amount shift, no explode of a helper array).
    Column contract matches ``pairs_from_band_rows``, so the banded
    Hamming operator reuses the SAME bucket-group + pair-emission +
    quadratic-guard code as MinHash-LSH instead of a private copy."""
    mask = (1 << SIMHASH_BAND_BITS) - 1
    return sigs.selectExpr(
        "doc_id",
        f"stack({SIMHASH_BANDS}, "
        + ", ".join(
            f"{i}, (simhash >> {SIMHASH_BAND_BITS * i}) & {mask}"
            for i in range(SIMHASH_BANDS)
        )
        + ") AS (band, bkey)",
    )


def _simhash_cand_ham_sql(tag: str = "") -> str:
    """Oracle fragment: signatures → banded buckets → candidate pairs →
    the MATERIALIZED ``hpairs{tag}(doc_a, doc_b, hamming)`` table of
    UN-thresholded candidate Hamming distances — ONE chain shared by
    dedup_simhash_hamming (filters at HAM_MAX),
    dedup_simhash_hamming_sweep (histograms every distance) and the v3
    flagship's component stage (tagged: its statement also inlines
    ``_LSH_CANDIDATES_SQL``, whose nested WITH reuses ``hashed`` and
    ``bands`` — see ``_simhash_sig_sql``'s tag note), so the candidate
    generation and the distance rule cannot fork between the operator,
    its calibration sweep and the flagship."""
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band,"
        f" (simhash >> {SIMHASH_BAND_BITS * i}) & {(1 << SIMHASH_BAND_BITS) - 1}"
        f" AS bkey FROM sigs{tag}"
        for i in range(SIMHASH_BANDS)
    )
    return f"""{_simhash_sig_sql(tag)},
    bands{tag} AS MATERIALIZED (
      {bands}
    ),
    buckets{tag} AS (
      SELECT band, bkey FROM bands{tag} GROUP BY band, bkey
      HAVING COUNT(*) BETWEEN 2 AND {SIMHASH_MAX_BUCKET}
    ),
    cands{tag} AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands{tag} a
      JOIN buckets{tag} k ON k.band = a.band AND k.bkey = a.bkey
      JOIN bands{tag} b ON b.band = a.band AND b.bkey = a.bkey
           AND b.doc_id > a.doc_id
    ),
    hpairs{tag} AS MATERIALIZED (
      SELECT c.doc_a, c.doc_b,
             CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT)
               AS hamming
      FROM cands{tag} c
      JOIN sigs{tag} sa ON sa.doc_id = c.doc_a
      JOIN sigs{tag} sb ON sb.doc_id = c.doc_b
    )"""


@query(
    "dedup_simhash_hamming",
    oracle=f"""
    WITH {_simhash_cand_ham_sql()}
    SELECT doc_a, doc_b, hamming FROM hpairs
    WHERE hamming <= {SIMHASH_HAM_MAX}
    """,
    doc="SimHash banded-Hamming near-dup pairs — completes the SimHash "
    "modality (the signature existed as a fingerprint report only; this "
    "is its candidate+verify path, the third near-dup generator next to "
    "MinHash-LSH and the rare-shingle probe index). Each 60-bit "
    "signature splits into 4 contiguous 15-bit bands (literal shifts in "
    "one stack(), fully codegen'd); docs sharing any (band, value) "
    "bucket become candidates via the SAME bucket-group/pair-emission/"
    "quadratic-guard code as MinHash-LSH (pairs_from_band_rows, "
    "SIMHASH_MAX_BUCKET cap mirrored in the oracle); candidates verify "
    "by popcount of the XOR'd signatures at HAM_MAX=3. The banding is "
    "EXACT at that bar by pigeonhole — 3 differing bits touch at most 3 "
    "of 4 bands, so every true pair shares a whole band and recall is "
    "100% among docs whose buckets are under the cap, a guarantee "
    "MinHash-LSH cannot make (model-based pin: "
    "test_simhash_banding_exact_recall). The cap is the disclosed "
    "boundary of that guarantee: a duplicate group larger than "
    "SIMHASH_MAX_BUCKET shares ALL four band values, overflows every "
    "bucket simultaneously, and emits ZERO pairs (contract-pinned by "
    "test_simhash_hamming_over_cap_contract) — its pair set is "
    "inherently quadratic. Exact dedup upstream removes the "
    "byte-identical case (pipeline_clean_corpus drops exact dups before "
    "any near-dup generator); a signature-identical group of "
    "NON-identical texts past the cap (mass templated boilerplate with "
    "distinct digests) stays outside the guarantee — the same disclosed "
    "quadratic-guard trade-off LSH_MAX_BUCKET makes for MinHash, where "
    "an over-cap boilerplate bucket likewise drops its candidates. At "
    "100 TB: the signature build "
    "is one map-side-partial aggregation over the token stream, the "
    "candidate stage shuffles 16-byte (band, bkey, doc_id) rows "
    "bucketed by band value (Σ bucket² bounded by the cap), and the "
    "verify is two id-joins against the 16-byte signature table — "
    "history text never re-read, nothing broadcast-forced. "
    "reference: no analogue — training-pipeline extension.",
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared_simhash_hamming(spark, sf_dir).filter(
        F.col("hamming") <= SIMHASH_HAM_MAX
    )


@shared_artifact("simhash")
def shared_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``simhash_candidate_hamming`` materialized ONCE per corpus per
    session: the pair operator and its calibration sweep consume the
    identical candidate+distance frame, so the second consumer reads the
    checkpoint instead of re-paying the signature build, the band
    shuffle and both verify joins — the same two-operators-one-
    candidate-set case the cache exists for (dedup_minhash_lsh)."""
    return simhash_candidate_hamming(spark, sf_dir)


@shared_artifact("simhash_cc")
def shared_simhash_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component labels (doc_id, cluster_id) over the corpus-wide
    banded-Hamming graph at the HAM_MAX contract, materialized ONCE per
    corpus per session — the SimHash member of the per-modality
    cluster-label artifact family (semantic_cc, lsh_cc).
    pipeline_clean_corpus_v3's simhash stage re-ran this O(diameter)-
    round propagation in-plan per call before r18 (its largest
    marginal cost over v2: ~10 s summed executor time per call at
    sf0.1); now the report reads the stored assignment like every
    other stage."""
    edges = shared_simhash_hamming(spark, sf_dir).filter(
        F.col("hamming") <= SIMHASH_HAM_MAX
    )
    return _cc_labels(edges.select("doc_a", "doc_b"), "doc_id")


def simhash_candidate_hamming(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(doc_a, doc_b, hamming) for every banded candidate pair,
    UN-thresholded — the Spark twin of ``_simhash_cand_ham_sql``'s
    ``hpairs``, the single chain behind the pair operator and its
    calibration sweep (both read it through the session-cached
    ``shared_simhash_hamming``)."""
    # the signature frame feeds THREE branches (band rows + both verify
    # sides) — checkpoint once per the standing multi-branch discipline
    sigs = simhash_signatures(
        load_table(spark, sf_dir, "documents")
    ).localCheckpoint(eager=True)
    cands = pairs_from_band_rows(
        simhash_band_rows(sigs), max_bucket=SIMHASH_MAX_BUCKET
    ).select("doc_a", "doc_b")
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"))
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr("CAST(bit_count(sig_a ^ sig_b) AS BIGINT)").alias(
                "hamming"
            ),
        )
    )


@query(
    "dedup_simhash_hamming_sweep",
    oracle=f"""
    WITH {_simhash_cand_ham_sql()},
    hist AS (
      SELECT hamming, COUNT(*) AS n_pairs FROM hpairs GROUP BY hamming
    )
    SELECT hamming, n_pairs,
           CAST(SUM(n_pairs) OVER (ORDER BY hamming) AS BIGINT)
             AS n_pairs_cum
    FROM hist
    """,
    doc="Hamming-threshold calibration sweep for the SimHash banded "
    "near-dup operator — the same relation to HAM_MAX that "
    "dedup_jaccard_threshold_sweep has to the 0.8 Jaccard bar and "
    "dedup_lsh_band_tuning to the band layouts: the distance histogram "
    "over ALL banded candidate pairs (un-thresholded), with a "
    "cumulative pair count per cutoff — n_pairs_cum at distance h IS "
    "the verify bill a HAM_MAX=h contract would pay, so the natural "
    "valley between the near-dup mass at small distances and the "
    "random-collision mass near 30 (the expected distance of unrelated "
    "60-bit signatures) is read directly off the result. Shares ONE "
    "candidate+distance chain with dedup_simhash_hamming "
    "(simhash_candidate_hamming / _simhash_cand_ham_sql), so the sweep "
    "can never disagree with the operator it calibrates. At 100 TB "
    "this is the operator's marginal cost plus a <=61-row aggregation: "
    "the histogram groupBy is map-side partial over the candidate "
    "table, and the cumulative sum is a single-partition window over "
    "at most 61 rows. reference: no analogue — training-pipeline "
    "extension.",
)
def dedup_simhash_hamming_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    hist = (
        shared_simhash_hamming(spark, sf_dir)
        .groupBy("hamming")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    # <= 61 distinct distances: the unpartitioned cumulative window is a
    # deliberate single-partition op over a tiny frame, same pattern as
    # the other calibration sweeps
    w = Window.orderBy("hamming").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return hist.select(
        "hamming",
        "n_pairs",
        F.sum("n_pairs").over(w).cast("bigint").alias("n_pairs_cum"),
    )


# ---------------------------------------------------------------------------
#: Per-doc shingle-set bound for the Jaccard verify stage. collect_list
#: materializes one array per doc; without a bound, a pathological document
#: (a 1 M-word concatenation, a log dump) makes that array — and the
#: array_intersect over it — arbitrarily large. Docs above the cap keep
#: their ``max_doc_shingles`` SMALLEST shingle hashes: a deterministic
#: bottom-k (KMV) sketch, mirrored exactly in the oracle SQL, under which
#: the verify becomes the standard bottom-k Jaccard estimate for oversized
#: docs and stays EXACT for every doc under the cap (any real corpus after
#: an upstream length filter).
JACCARD_MAX_DOC_SHINGLES = 1 << 16


def _candidate_shingle_sets(
    cands: DataFrame, sh: DataFrame, max_doc_shingles: int
) -> DataFrame:
    """(doc_id, sh_set) for every doc appearing in a candidate pair: the
    corpus shingle table semi-joined down to candidate docs (the only
    shuffle of shingle data), folded to one array per doc, bottom-k capped
    (see JACCARD_MAX_DOC_SHINGLES). Shared by the Jaccard and containment
    verifiers so the set build exists once."""
    cand_docs = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    return (
        sh.join(cand_docs, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_list("hb").alias("all_h"))  # rows are pre-distinct
        .select(
            "doc_id",
            F.when(
                F.size("all_h") > max_doc_shingles,
                F.slice(F.array_sort("all_h"), 1, max_doc_shingles),
            )
            .otherwise(F.col("all_h"))
            .alias("sh_set"),
        )
    )


def jaccard_verify(
    cands: DataFrame,
    sh: DataFrame,
    threshold: float = 0.8,
    max_doc_shingles: int = JACCARD_MAX_DOC_SHINGLES,
) -> DataFrame:
    """Pairwise shingle-set Jaccard for candidate pairs.

    ``cands``: (doc_a, doc_b) pairs — small relative to the corpus, but
    post-LSH candidates GROW with it (Σ bucket-collisions), so no
    compile-time ``broadcast()`` hint is placed on them: at test scale AQE
    converts the pair joins to broadcast from measured sizes (they are far
    under ``spark.sql.autoBroadcastJoinThreshold``), and at 100 TB — where
    a billions-of-rows pair frame would blow past the 8 GB broadcast hard
    limit — the same plan degrades gracefully to a shuffled hash join on
    doc keys. Runtime size gating, the join-side twin of the
    ``LSH_MAX_BUCKET`` discipline.
    ``sh``: (doc_id, hb) DISTINCT 60-bit shingle hashes for the corpus.

    Verify cost is ∝ Σ|candidate shingle sets|, independent of corpus size:
    the shingle table is semi-joined down to candidate docs (the ONLY
    shuffle of shingle data), folded to one array row per doc, capped, and
    |A∩B| is JVM-side array_intersect per pair. The cap is applied AFTER
    the fold, and only to oversized docs (``when(size > cap,
    slice(array_sort(...), 1, cap))``): for a normal corpus it is a single
    size check per doc — no extra job, window, or broadcast (an adaptive
    two-branch variant measured +3.5 s cold at sf0.1 from the extra
    count+broadcast pass). What it bounds is the PERSISTED set array and
    the per-pair ``array_intersect`` cost — the multiplicative side, since
    each doc's set is intersected once per candidate pair. The transient
    ``collect_list`` buffer stays linear in one doc's distinct shingles
    (8 MB per million — real protection against quadratic pair cost, while
    genuinely absurd single docs belong to the upstream length gate the
    curation pipeline always applies first). Hash sets stand in for string
    sets exactly (counts are over distinct identities; collision odds
    ~4e-7 per million shingles).
    """
    sets = _candidate_shingle_sets(cands, sh, max_doc_shingles)
    a = sets.select(F.col("doc_id").alias("_da"), F.col("sh_set").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("_db"), F.col("sh_set").alias("sh_b"))
    n_common = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    j = F.col("n_common") * 1.0 / (
        F.size("sh_a") + F.size("sh_b") - F.col("n_common")
    )
    return (
        cands.join(a, F.col("doc_a") == F.col("_da"))
        .join(b, F.col("doc_b") == F.col("_db"))
        .withColumn("n_common", n_common)
        .select("doc_a", "doc_b", "n_common", j.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH cands AS ({_LSH_CANDIDATES_SQL}),
    sh AS ({_SHINGLE_SQL}),
    shh AS (
      SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS hb FROM sh
    ),
    capped AS (
      SELECT doc_id, hb FROM (
        SELECT doc_id, hb,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hb) AS rn
        FROM shh
      ) WHERE rn <= {JACCARD_MAX_DOC_SHINGLES}
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cands c
      JOIN capped a ON a.doc_id = c.doc_a
      JOIN capped b ON b.doc_id = c.doc_b AND b.hb = a.hb
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b, i.n_common,
           i.n_common * 1.0 / (sa.n + sb.n - i.n_common) AS jaccard
    FROM inter i
    JOIN sz sa ON sa.doc_id = i.doc_a
    JOIN sz sb ON sb.doc_id = i.doc_b
    WHERE i.n_common * 1.0 / (sa.n + sb.n - i.n_common) >= 0.8
    """,
    doc="Exact n-gram Jaccard verification of the LSH candidates (threshold "
    "0.8) — the standard two-stage near-dup pipeline. A raw shingle "
    "self-join would be O(Σ shingle-freq²) and blows up when shingles are "
    "common; restricting the intersection join to candidate pairs keeps the "
    "verify stage proportional to |candidates|. Per-doc sets are bounded by "
    "the bottom-k cap (JACCARD_MAX_DOC_SHINGLES), mirrored in the oracle. "
    "Integer counts → bit-identical jaccard doubles.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the shingle-hash set feeds both the LSH signatures and the verify
    # stage — the session-shared checkpoint computes it once per corpus.
    # The checkpointed identity is the 60-bit hash, not the string: every
    # downstream join/intersect carries 8-byte ints however long the
    # shingles are. At 100 TB this is a checkpoint to parquet instead of a
    # memory cache, but the plan principle is the same: never recompute
    # the corpus scan.
    sh = shared_hashed_shingles(spark, sf_dir)
    # the candidate set feeds the pair join AND the candidate-doc semi-join
    # filter; the session-shared checkpoint materializes it exactly once
    # for the whole graph family (triangles/PageRank/overlap/sweep included)
    cands = shared_lsh_candidates(spark, sf_dir).select("doc_a", "doc_b")
    return jaccard_verify(cands, sh)


# ---------------------------------------------------------------------------
#: Containment threshold: |A∩B| / min(|A|,|B|) ≥ τ flags the pair. 0.9 is
#: the production-shaped "one side is essentially inside the other" bar.
CONTAINMENT_TAU = 0.9
#: Above this Jaccard a containment pair is just a near-duplicate; below
#: it the overlap is asymmetric (quote inclusion, doc + appended
#: boilerplate) — the class symmetric Jaccard dedup under-reports.
CONTAINMENT_NEAR_DUP_J = 0.8

#: Shared oracle fragments for the containment family (containment over
#: LSH candidates, the probe index, and the composed overlap spectrum):
#: ONE definition of the 60-bit shingle-hash projection and of the verify
#: tail, so the three oracles differ only in their candidate CTEs.
_SHH_SQL = "SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS hb FROM sh"


def _cc_closure_sql(edges: str, a: str, b: str, out: str, tag: str = "") -> str:
    """The recursive transitive-closure trio every CC oracle shares:
    bidirectional edge list → recursive ``reach`` → min-label component
    table ``{out}(node, cluster_id)``. ONE definition (the ``_SHH_SQL``
    / ``_caption_fp_sql`` discipline): a divergent copy in one oracle
    would silently fork the component semantics the five CC consumers
    are documented to share, and closure-level fixes must land
    everywhere at once — the round-10 lesson: DuckDB inlines
    non-MATERIALIZED CTEs into EVERY reference, so the recursion
    re-evaluated its whole feeder chain per step (212 s on a 13-doc
    corpus, 2 s with ``AS MATERIALIZED`` on the feeder and the output).
    Claims the ``und{tag}``/``reach{tag}`` CTE names — pass a unique
    ``tag`` when one statement needs TWO closures (the incremental
    capstone runs the near and semantic stages in one oracle)."""
    return f"""und{tag} AS MATERIALIZED (
      SELECT {a} AS s, {b} AS d FROM {edges}
      UNION
      SELECT {b}, {a} FROM {edges}
    ),
    reach{tag}(s, d) AS (
      SELECT s, d FROM und{tag}
      UNION
      SELECT r.s, u.d FROM reach{tag} r JOIN und{tag} u ON r.d = u.s
    ),
    {out} AS MATERIALIZED (
      SELECT s AS node, LEAST(s, MIN(d)) AS cluster_id
      FROM reach{tag} GROUP BY s
    )"""

#: Verify CTEs (reference ``cands``/``shh`` from the enclosing WITH).
_CONTAINMENT_VERIFY_CTES_SQL = """
    capped AS (
      SELECT doc_id, hb FROM (
        SELECT doc_id, hb,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hb) AS rn
        FROM shh
      ) WHERE rn <= {cap}
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cands c
      JOIN capped a ON a.doc_id = c.doc_a
      JOIN capped b ON b.doc_id = c.doc_b AND b.hb = a.hb
      GROUP BY c.doc_a, c.doc_b
    )
"""

#: Final verify projection; ``{extra_cols}``/``{extra_joins}`` let the
#: spectrum oracle add its lineage column without forking the tail.
_CONTAINMENT_SELECT_SQL = """
    SELECT i.doc_a, i.doc_b, sa.n AS n_a, sb.n AS n_b, i.n_common,
           i.n_common * 1.0 / LEAST(sa.n, sb.n) AS containment,
           CASE WHEN i.n_common * 1.0 / (sa.n + sb.n - i.n_common)
                     >= {near_dup_j}
                THEN 'near_duplicate' ELSE 'containment' END AS relation
           {extra_cols}
    FROM inter i
    JOIN sz sa ON sa.doc_id = i.doc_a
    JOIN sz sb ON sb.doc_id = i.doc_b
    {extra_joins}
    WHERE i.n_common * 1.0 / LEAST(sa.n, sb.n) >= {tau}
"""


def containment_verify(
    cands: DataFrame,
    sh: DataFrame,
    threshold: float = CONTAINMENT_TAU,
    max_doc_shingles: int = JACCARD_MAX_DOC_SHINGLES,
) -> DataFrame:
    """Pairwise shingle-set CONTAINMENT for candidate pairs:
    c = |A∩B| / min(|A|,|B|) — 1.0 when one doc's shingle set sits inside
    the other's however much extra the bigger doc carries, where Jaccard
    divides by the union and dilutes toward |A|/|B|. Same plan discipline
    as jaccard_verify (shared set build, candidate-pair joins only, AQE
    decides broadcast); each surviving pair is labeled ``near_duplicate``
    (Jaccard also high — symmetric copy) or ``containment`` (asymmetric
    inclusion). Integer count ratios → bit-identical doubles."""
    sets = _candidate_shingle_sets(cands, sh, max_doc_shingles)
    a = sets.select(F.col("doc_id").alias("_da"), F.col("sh_set").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("_db"), F.col("sh_set").alias("sh_b"))
    n_a = F.size("sh_a").cast("long")
    n_b = F.size("sh_b").cast("long")
    n_common = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    paired = (
        cands.join(a, F.col("doc_a") == F.col("_da"))
        .join(b, F.col("doc_b") == F.col("_db"))
        .select(
            "doc_a",
            "doc_b",
            n_a.alias("n_a"),
            n_b.alias("n_b"),
            n_common.alias("n_common"),
        )
    )
    containment = F.col("n_common") * 1.0 / F.least("n_a", "n_b")
    jaccard = F.col("n_common") * 1.0 / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return (
        paired.withColumn("containment", containment)
        .filter(F.col("containment") >= threshold)
        .withColumn(
            "relation",
            F.when(jaccard >= CONTAINMENT_NEAR_DUP_J, F.lit("near_duplicate"))
            .otherwise(F.lit("containment")),
        )
    )


@query(
    "dedup_containment",
    oracle=f"""
    WITH cands AS ({_LSH_CANDIDATES_SQL}),
    sh AS ({_SHINGLE_SQL}),
    shh AS ({_SHH_SQL}),
    {_CONTAINMENT_VERIFY_CTES_SQL.format(cap=JACCARD_MAX_DOC_SHINGLES)}
    {_CONTAINMENT_SELECT_SQL.format(near_dup_j=CONTAINMENT_NEAR_DUP_J,
                                    tau=CONTAINMENT_TAU,
                                    extra_cols="", extra_joins="")}
    """,
    doc="Asymmetric containment verification of the LSH candidates: "
    "c = |A∩B| / min(|A|,|B|) flags quote-inclusion and doc+boilerplate "
    "pairs whose union-diluted Jaccard stays under the near-dup bar — the "
    "overlap class symmetric dedup under-reports; each surviving pair is "
    "labeled near_duplicate vs containment. Scope note (honest recall "
    "claim): candidates come from Jaccard-tuned MinHash bands, which "
    "recall moderate-Jaccard asymmetric pairs (appended boilerplate, "
    "half-overlap) but NOT a tiny doc embedded in a huge one — that class "
    "needs a rare-shingle inverted index or suffix-array pass upstream. "
    "Same verify-stage scale shape as dedup_ngram_jaccard: cost ∝ "
    "candidate sets, one shingle semi-join shuffle, AQE-gated pair joins, "
    "bottom-k doc cap. reference: no analogue — training-pipeline "
    "extension.",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shared_hashed_shingles(spark, sf_dir)
    cands = shared_lsh_candidates(spark, sf_dir).select("doc_a", "doc_b")
    return containment_verify(cands, sh)


# ---------------------------------------------------------------------------
#: Rare-shingle probe index (the containment CANDIDATE generator LSH can't
#: be): a probe shingle must appear in at most DF_CAP documents, each doc
#: probes with its PROBE_K rarest, and a pair must share at least
#: PROBE_MIN_SHARED probed shingles. Fanout per probe row is bounded by
#: DF_CAP, so candidate volume is ≤ corpus_docs × PROBE_K × DF_CAP however
#: skewed the shingle distribution — boilerplate shingles (df > cap) never
#: enter the index at all.
PROBE_DF_CAP = 64
PROBE_K = 8
PROBE_MIN_SHARED = 2


def probe_candidates(
    spark: SparkSession, sf_dir: str, hashed: DataFrame | None = None
) -> DataFrame:
    """RAW rare-shingle probe candidate pairs (doc_a, doc_b), unmaterialized.

    One df aggregation over the distinct shingle hashes, a per-doc
    rarest-K window, then the bounded probe join (fanout ≤ PROBE_DF_CAP per
    probe row by construction — boilerplate shingles never enter the
    index). Consumers that reference the pair frame from multiple plan
    branches must go through ``shared_probe_candidates`` — the verify
    stage references candidates from THREE branches, and without a
    checkpoint each branch re-executes this pipeline concurrently
    (measured: heap thrash and a blown 3× point at sf0.1).

    ``hashed``: optional precomputed DISTINCT (doc_id, hb) shingle hashes
    (``hashed_shingles``) — callers that persist the shingle scan for
    their own verify stage pass it so the corpus is tokenized once.
    """
    from pyspark.sql.window import Window as W

    sh = hashed if hashed is not None else hashed_shingles(spark, sf_dir)
    freq = sh.groupBy("hb").agg(F.count(F.lit(1)).alias("df"))
    rare = sh.join(freq, "hb").filter(F.col("df") <= PROBE_DF_CAP)
    w = W.partitionBy("doc_id").orderBy("df", "hb")
    probes = (
        rare.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PROBE_K)
        .select("doc_id", "hb")
    )
    hits = (
        probes.alias("p")
        .join(sh.alias("s"), "hb")
        .filter(F.col("p.doc_id") != F.col("s.doc_id"))
        .select(
            F.least("p.doc_id", "s.doc_id").alias("doc_a"),
            F.greatest("p.doc_id", "s.doc_id").alias("doc_b"),
            "hb",
        )
    )
    return (
        hits.groupBy("doc_a", "doc_b")
        .agg(F.countDistinct("hb").alias("n_shared_rare"))
        .filter(F.col("n_shared_rare") >= PROBE_MIN_SHARED)
        .select("doc_a", "doc_b")
    )


@shared_artifact("probe")
def shared_probe_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rare-shingle probe candidate set, materialized ONCE per session —
    the probe-index twin of ``shared_lsh_candidates`` (same keyed cache,
    consistency contract in ``shared_artifact``). Production shape:
    candidates to parquet, every verify/report reads the artifact.

    Cold builds read the session-shared shingle checkpoint
    (``shared_hashed_shingles``): the probe plan references the shingle
    table from THREE branches (df aggregation, rare filter join, probe
    hits join), and the checkpoint means no branch — and no sibling
    build — ever re-runs tokenize+hash+distinct (r8 persisted a
    build-scoped copy instead, measured 2.17 → 1.86 s cold; r9's shared
    checkpoint removes the scan from this build entirely whenever any
    shingle consumer ran first, the normal case — see SCALE.md round-9
    probe_build audit for the stage numbers). Do NOT re-introduce a
    build-scoped shingle persist on this path.
    """
    return probe_candidates(
        spark, sf_dir, hashed=shared_hashed_shingles(spark, sf_dir)
    )


#: Probe-candidate CTEs (reference ``shh``; yield ``probe_c``) — shared by
#: the probe oracle and the overlap-spectrum oracle.
_PROBE_CANDS_CTES_SQL = f"""
    freq AS (SELECT hb, COUNT(*) AS df FROM shh GROUP BY hb),
    probes AS (
      SELECT doc_id, hb FROM (
        SELECT s.doc_id, s.hb,
               ROW_NUMBER() OVER (PARTITION BY s.doc_id
                                  ORDER BY f.df, s.hb) AS rn
        FROM shh s JOIN freq f ON s.hb = f.hb
        WHERE f.df <= {PROBE_DF_CAP}
      ) WHERE rn <= {PROBE_K}
    ),
    probe_c AS (
      SELECT doc_a, doc_b FROM (
        SELECT LEAST(p.doc_id, s.doc_id) AS doc_a,
               GREATEST(p.doc_id, s.doc_id) AS doc_b,
               COUNT(DISTINCT p.hb) AS n_shared_rare
        FROM probes p JOIN shh s ON p.hb = s.hb AND p.doc_id <> s.doc_id
        GROUP BY 1, 2
      ) WHERE n_shared_rare >= {PROBE_MIN_SHARED}
    )
"""


@query(
    "dedup_containment_probe",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    shh AS ({_SHH_SQL}),
    {_PROBE_CANDS_CTES_SQL},
    cands AS (SELECT doc_a, doc_b FROM probe_c),
    {_CONTAINMENT_VERIFY_CTES_SQL.format(cap=JACCARD_MAX_DOC_SHINGLES)}
    {_CONTAINMENT_SELECT_SQL.format(near_dup_j=CONTAINMENT_NEAR_DUP_J,
                                    tau=CONTAINMENT_TAU,
                                    extra_cols="", extra_joins="")}
    """,
    doc="Containment dedup with a RARE-SHINGLE probe index as the candidate "
    "generator — the recall path Jaccard-tuned MinHash bands cannot be: a "
    "tiny document fully embedded in a huge one has near-zero Jaccard (so "
    "LSH bands never collide) but shares the small doc's rare shingles, "
    "which the probe join finds directly. Bounded by construction at any "
    "scale: only shingles with document frequency ≤ PROBE_DF_CAP enter the "
    "index (boilerplate never does), each doc probes its PROBE_K rarest, "
    "so per-probe fanout ≤ DF_CAP and candidate volume ≤ docs × K × cap — "
    "no bucket can go quadratic. Plan: one df aggregation, one bounded "
    "probe join, then the shared containment verify (candidate-only "
    "joins, bottom-k cap). The standard pairing: LSH for symmetric "
    "near-dups (dedup_containment), the inverted probe index for "
    "asymmetric inclusion — together they cover the overlap spectrum. "
    "reference: no analogue — training-pipeline extension.",
)
def dedup_containment_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shared_hashed_shingles(spark, sf_dir)
    # Session-shared checkpoint, same discipline as the LSH family: the
    # verify references the pair frame from THREE plan branches (cand_docs
    # union ×2 + the pair join), and without a checkpoint each branch
    # re-executes the probe pipeline concurrently (measured: heap thrash
    # and a blown 3× point at sf0.1). The shared cache additionally makes
    # repeat invocations steady-state (build once per corpus per session).
    cands = shared_probe_candidates(spark, sf_dir)
    return containment_verify(cands, sh)


# ---------------------------------------------------------------------------
@query(
    "dedup_overlap_spectrum",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    shh AS ({_SHH_SQL}),
    {_PROBE_CANDS_CTES_SQL},
    lsh_c AS (SELECT doc_a, doc_b FROM ({_LSH_CANDIDATES_SQL})),
    u AS (
      SELECT doc_a, doc_b, 'lsh' AS src FROM lsh_c
      UNION ALL
      SELECT doc_a, doc_b, 'probe' AS src FROM probe_c
    ),
    srcs AS (
      SELECT doc_a, doc_b,
             CASE WHEN MAX(CASE WHEN src = 'lsh' THEN 1 ELSE 0 END) = 1
                       AND MAX(CASE WHEN src = 'probe' THEN 1 ELSE 0 END) = 1
                  THEN 'both'
                  WHEN MAX(CASE WHEN src = 'lsh' THEN 1 ELSE 0 END) = 1
                  THEN 'lsh' ELSE 'probe' END AS sources
      FROM u GROUP BY doc_a, doc_b
    ),
    cands AS (SELECT doc_a, doc_b FROM srcs),
    {_CONTAINMENT_VERIFY_CTES_SQL.format(cap=JACCARD_MAX_DOC_SHINGLES)}
    {_CONTAINMENT_SELECT_SQL.format(
        near_dup_j=CONTAINMENT_NEAR_DUP_J,
        tau=CONTAINMENT_TAU,
        extra_cols=", u2.sources",
        extra_joins="JOIN srcs u2 ON u2.doc_a = i.doc_a "
        "AND u2.doc_b = i.doc_b",
    )}
    """,
    doc="The composed overlap-spectrum report: union of BOTH candidate "
    "generators — Jaccard-tuned MinHash bands (symmetric near-dups) and "
    "the rare-shingle probe index (asymmetric tiny-in-huge inclusion) — "
    "deduplicated and pushed through ONE containment verify pass, with a "
    "candidate-source lineage column (lsh / probe / both) recording which "
    "generator found each surviving pair. This is the production shape "
    "the two single-generator reports each gesture at: one verify over "
    "the union costs one shingle semi-join + one pair join instead of "
    "two of each, and the lineage column is the recall diagnostic (pairs "
    "only LSH finds = moderate-Jaccard near-dups; only the probe finds = "
    "low-Jaccard containment; both = high-overlap copies). Scale: both "
    "candidate sets come from their session-shared checkpoints (built "
    "once per corpus), the union/dedup shuffle is candidate-volume "
    "bounded (Σ bucket² + docs × K × DF_CAP), and the verify keeps the "
    "candidate-only join + bottom-k cap discipline; the tiny lineage "
    "groupBy is checkpointed because the verify references the pair "
    "frame from multiple branches. reference: no analogue — "
    "training-pipeline extension.",
)
def dedup_overlap_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shared_hashed_shingles(spark, sf_dir)
    lsh = (
        shared_lsh_candidates(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("src", F.lit("lsh"))
    )
    probe = shared_probe_candidates(spark, sf_dir).withColumn(
        "src", F.lit("probe")
    )
    srcs = (
        lsh.unionByName(probe)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max(F.when(F.col("src") == "lsh", 1).otherwise(0)).alias(
                "has_lsh"
            ),
            F.max(F.when(F.col("src") == "probe", 1).otherwise(0)).alias(
                "has_probe"
            ),
        )
        .select(
            "doc_a",
            "doc_b",
            F.when(
                (F.col("has_lsh") == 1) & (F.col("has_probe") == 1),
                F.lit("both"),
            )
            .when(F.col("has_lsh") == 1, F.lit("lsh"))
            .otherwise(F.lit("probe"))
            .alias("sources"),
        )
        # Referenced from FOUR plan branches (the verify's three + the
        # lineage join below). Unlike the corpus pipelines this only
        # re-aggregates already-checkpointed candidate blocks, but the
        # multi-branch discipline stands: checkpoint once, every branch
        # reads the materialized pairs.
        .localCheckpoint(eager=True)
    )
    verified = containment_verify(srcs.select("doc_a", "doc_b"), sh)
    return verified.join(srcs, ["doc_a", "doc_b"])


# ---------------------------------------------------------------------------
@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE cands AS ({_LSH_CANDIDATES_SQL}),
    {_cc_closure_sql("cands", "doc_a", "doc_b", "cc")}
    SELECT node AS doc_id, cluster_id FROM cc
    """,
    doc="Near-dup clusters: connected components over the LSH candidate "
    "graph via iterative min-label propagation — each iteration is one "
    "distributed join+groupBy, converging in O(component diameter) rounds "
    "(near-dup components are small and dense, so diameters are tiny). The "
    "driver only reads a monotone convergence SUM; all data work is executor-side, "
    "labels cached per round and localCheckpoint'ed every "
    "CC_CHECKPOINT_EVERY rounds so lineage stays bounded however many "
    "rounds a deep component needs. The oracle is the recursive-CTE "
    "transitive closure — fine for the oracle's candidate-graph size, "
    "quadratic blowup at scale, which is exactly why the Spark side "
    "iterates labels instead.",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared_lsh_labels(spark, sf_dir)


@shared_artifact("lsh_cc")
def shared_lsh_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster labels (doc_id, cluster_id) over the LSH candidate graph,
    materialized ONCE per corpus per session — the MinHash twin of
    ``shared_semantic_labels`` and the same production shape: cluster
    the corpus once, then every dedup decision and report reads the
    stored assignment. THREE registered queries consumed this label
    table and each re-ran the CC loop per call before r18
    (dedup_clusters, dedup_keep_best, dedup_cluster_stats); now the
    propagation runs once per corpus."""
    edges = shared_lsh_candidates(spark, sf_dir).select("doc_a", "doc_b")
    return _cc_labels(edges, "doc_id")


def _cc_labels(edges: DataFrame, node_alias: str) -> DataFrame:
    """(node_alias, cluster_id) component labels of a (doc_a, doc_b) edge
    frame, eagerly checkpointed. connected_components returns its final
    label table persisted (the loop's own caching); once the checkpoint
    holds a copy that persist is dead weight, so it is released here —
    after the checkpoint, and also when the checkpoint fails. unpersist
    must target the frame that was actually persisted (CacheManager
    matches exact plans; releasing the projection is a silent no-op),
    which connected_components exposes as ``cc_persisted_labels``. The
    result carries ``is_checkpoint`` so the shared-artifact cache does
    not checkpoint it a second time."""
    cc = connected_components(edges)
    try:
        labels = cc.select(
            F.col("node").alias(node_alias),
            F.col("component").alias("cluster_id"),
        ).localCheckpoint(eager=True)
    finally:
        cc.cc_persisted_labels.unpersist()
    labels.is_checkpoint = True
    return labels


def connected_components(
    edges: DataFrame,
    max_rounds: int = CC_MAX_ROUNDS,
    local_max_edges: int = CC_LOCAL_MAX_EDGES,
) -> DataFrame:
    """Connected components of an undirected graph given as directed
    (doc_a, doc_b) edge rows — min-label propagation.

    Each round: every node adopts the minimum label among itself and its
    neighbors (one join + one groupBy, all executor-side; the driver sees
    only the convergence count). Plain propagation converges after
    O(component diameter) rounds — optimal for the shallow components real
    dedup graphs have (measured d ≈ 5) — and after CC_DOUBLE_AFTER rounds
    each propagation is followed by a pointer-doubling compression join
    (lbl := lbl[lbl]), so deep components converge in
    CC_DOUBLE_AFTER + O(log diameter) rounds instead of O(diameter)
    (r9 deep-chain stress: diameter 32 took 19 s / 33 rounds before, see
    SCALE.md round-9 for the after numbers). Two scale guards:

    - every ``CC_CHECKPOINT_EVERY`` rounds the label table is
      ``localCheckpoint(eager=False)``'d — LAZY, because the convergence
      count in the same round is the materializing action, so lineage
      truncation costs no extra job. Without it the logical plan, scheduler
      re-plan cost, and failure-recovery recomputation all grow linearly
      with rounds;
    - ``max_rounds`` bounds the loop; hitting it raises rather than
      silently returning half-merged components (with ``und`` and the last
      label table unpersisted first — no cache leak in a long-lived
      session);
    - convergence is checked after the FIRST round (trivial graphs exit
      with one action), then every 2 propagation rounds. The check itself
      is a SUM of the label column, not a self-join diff: labels only
      ever DECREASE per node, so the total is strictly monotone and
      "sum unchanged" is exactly "no label changed" — one partial-
      aggregated scan of the new label table replaces a join of old and
      new labels (the join shuffled BOTH label tables every check; the
      sum shuffles 1 row per partition). Exact BIGINT arithmetic, no
      overflow: labels are doc ids, so the sum is bounded by
      n·max_doc_id ≪ 2^63 for any corpus this graph stage can hold —
      and the loop still compares successive values, never magnitudes.
      Checks fire after the FIRST round (seeded with the identity-
      labeling sum, so trivial graphs exit with one propagation) and
      every 2 rounds after: "no change across a 2-round span" still
      implies convergence; the price is at most ONE overshoot
      propagation round, which at any scale costs
      less than the check it replaces.

    ``local_max_edges``: graphs at or under this many edge rows take a
    LOCAL union-find fast path — one bounded ``limit(cap+1)`` collect
    (~1 MB at the default cap), solved in microseconds driver-side,
    returned as the same (node, component) frame with ``cc_rounds = 0``
    and ``cc_local = True``. Measured motivation: the distributed loop
    costs ~1.2 s/round in pure job-scheduling latency regardless of
    size (a 6-edge increment graph paid 3.5 s for 3 rounds), which
    dominates every tiny-graph consumer (the incremental family runs
    TWO classifications per call). Size-gated exactly like a broadcast
    threshold: pass 0 to force the distributed loop (the stress tests
    do), and above the cap nothing changes — the executor-side loop is
    the only path that exists at 100 TB graph sizes. Union-by-min +
    path compression gives bit-identical labels (component minimum).
    """
    if local_max_edges and (
        edges.schema["doc_a"].dataType != edges.schema["doc_b"].dataType
    ):
        # mismatched endpoint types: the distributed path widens them via
        # unionByName coercion, which the local path's single-type schema
        # cannot reproduce — skip the gate so both sizes behave alike
        local_max_edges = 0
    if local_max_edges:
        # persist BEFORE the probe: the limit cannot push through the
        # joins that typically build the edge frame, so an above-cap
        # graph would otherwise materialize the whole pipeline for the
        # probe and then recompute it for the distributed loop —
        # persisting makes the probe's partitions reusable by `und`
        # (below-cap graphs release the cache before returning). The
        # probe and the local solve run under a release-on-error guard:
        # a raising collect must not leak the cache registration.
        edges = edges.persist()
        try:
            head = (
                edges.select("doc_a", "doc_b")
                .limit(local_max_edges + 1)
                .collect()
            )
        except BaseException:
            edges.unpersist()
            raise
        if len(head) <= local_max_edges:
            parent: dict = {}

            def find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:
                    parent[x], x = r, parent[x]
                return r

            for row in head:
                a, b = row[0], row[1]
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
            # schema follows the input id type so the two paths stay
            # type-identical, not just value-identical
            id_t = edges.schema["doc_a"].dataType.simpleString()
            try:
                out = edges.sparkSession.createDataFrame(
                    [(n, find(n)) for n in parent],
                    f"node {id_t}, component {id_t}",
                ).persist()
            finally:
                # release the probe persist on success AND failure
                edges.unpersist()
            out.cc_persisted_labels = out
            out.cc_rounds = 0
            out.cc_compressions = 0
            out.cc_local = True
            return out
    und = edges.unionByName(
        edges.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).persist()
    labels = (
        und.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("lbl", F.col("doc_id"))
        .persist()
    )

    def propagate(lbls: DataFrame) -> DataFrame:
        neighbor_min = (
            und.join(lbls, und.doc_a == lbls.doc_id)
            .groupBy(F.col("doc_b").alias("nid"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        return lbls.join(
            neighbor_min, lbls.doc_id == F.col("nid"), "left"
        ).select(
            "doc_id",
            F.least(
                F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
            ).alias("lbl"),
        )

    def compress(lbls: DataFrame) -> DataFrame:
        # pointer doubling: lbl := lbl[lbl]. Every label IS a node id in
        # the label table (initially self; propagation only adopts other
        # nodes' labels), so the self-join matches every row — the
        # coalesce covers it anyway. Labels stay within the component and
        # monotone non-increasing, so both the convergence sum and the
        # component-min fixed point are untouched; the only effect is that
        # the distance-to-min shrinks geometrically instead of by one hop
        # per round.
        l2 = lbls.select(
            F.col("doc_id").alias("p_id"), F.col("lbl").alias("p_lbl")
        )
        return lbls.join(l2, lbls.lbl == F.col("p_id"), "left").select(
            "doc_id",
            F.least(
                F.col("lbl"), F.coalesce(F.col("p_lbl"), F.col("lbl"))
            ).alias("lbl"),
        )

    new_labels = labels
    converged = False
    try:
        rounds_done = 0
        compressions = 0
        # seed with the identity-labeling sum so the FIRST check can fire
        # (an already-converged graph exits after one propagation round,
        # as documented) — one cheap aggregate that doubles as the action
        # materializing the persisted label table
        prev_sum = labels.agg(F.sum("lbl")).collect()[0][0]
        if local_max_edges:
            # the probe persist is dead weight once `und` (2x edges,
            # itself persisted) has materialized through the seed
            # aggregate — release it now instead of after convergence;
            # the finally below stays as the error-path backstop
            edges.unpersist()
        while rounds_done < max_rounds:
            steps = 1 if rounds_done == 0 else 2
            steps = min(steps, max_rounds - rounds_done)
            new_labels = labels
            doubling = False
            for s in range(steps):
                new_labels = propagate(new_labels)
                if rounds_done + s + 1 > CC_DOUBLE_AFTER:
                    # deep-graph insurance: see CC_DOUBLE_AFTER
                    new_labels = compress(new_labels)
                    doubling = True
                    compressions += 1
            rounds_done += steps
            if doubling or rounds_done % CC_CHECKPOINT_EVERY < steps:
                # lazy: the convergence count below is the materializing
                # action, so lineage truncation costs no extra job. In the
                # doubling regime truncation happens EVERY span, not every
                # CC_CHECKPOINT_EVERY rounds: compress() is a label-table
                # self-join, so each compressed round references the prior
                # plan TWICE and the logical plan grows 4× per span —
                # exponential by the second checkpoint window (measured:
                # plan-stringification OOM at chain diameter 128). With a
                # per-span truncation the live plan never exceeds one
                # span's 4 checkpoint-scan references.
                new_labels = new_labels.localCheckpoint(eager=False)
            else:
                new_labels = new_labels.persist()
            # monotone-sum convergence: labels only decrease, so the sum
            # is unchanged iff NO label changed (see docstring) — one
            # cheap aggregate action instead of an old⋈new label join
            new_sum = new_labels.agg(F.sum("lbl")).collect()[0][0]
            labels.unpersist()
            labels = new_labels
            if new_sum == prev_sum:
                out = labels.select(
                    F.col("doc_id").alias("node"),
                    F.col("lbl").alias("component"),
                )
                # Dataset.unpersist matches the EXACT cached plan — the
                # projection returned here never matches the persisted
                # label table, so a caller calling out.unpersist() gets a
                # silent no-op. Expose the actually-persisted frame for
                # callers (``_cc_labels``) that checkpoint a copy and
                # then want these blocks released rather than pinned
                # until session end.
                out.cc_persisted_labels = labels
                # measured-convergence telemetry for tests and the
                # SCALE.md deep-diameter stress (not part of the schema)
                out.cc_rounds = rounds_done
                out.cc_compressions = compressions
                out.cc_local = False
                converged = True
                return out
            prev_sum = new_sum
        labels.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    finally:
        und.unpersist()
        if local_max_edges:
            edges.unpersist()
        if not converged:
            # error-path backstop: a raising action mid-loop would leave
            # the current (and possibly the in-flight) label table
            # registered in the CacheManager for the session's lifetime;
            # on success the live table is returned via
            # cc_persisted_labels and must NOT be released here.
            # unpersist is idempotent, so overlap with the
            # non-convergence path's explicit release is harmless.
            labels.unpersist()
            if new_labels is not labels:
                new_labels.unpersist()


# ---------------------------------------------------------------------------
@query(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE cands AS ({_LSH_CANDIDATES_SQL}),
    {_cc_closure_sql("cands", "doc_a", "doc_b", "clusters")},
    members AS (
      SELECT c.cluster_id, d.doc_id, LENGTH(d.text) AS n_chars
      FROM clusters c JOIN documents d ON d.doc_id = c.node
    ),
    ranked AS (
      SELECT cluster_id, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
      FROM members
    )
    SELECT cluster_id, doc_id AS keep_doc_id, n_chars AS keep_chars,
           n_members, n_members - 1 AS n_dropped
    FROM ranked
    WHERE rn = 1
    """,
    doc="Representative selection per near-dup cluster: keep the longest "
    "member (tie-break lowest doc_id) — the final step of the standard "
    "dedup pipeline (cluster → keep one, drop the rest). One window "
    "shuffle on cluster_id, which is high-cardinality by construction "
    "(clusters are small), so it spreads evenly at any corpus size; the "
    "per-cluster sort is bounded by cluster size, not corpus size. "
    "Deterministic: LENGTH + doc_id ordering is engine-exact.",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    clusters = dedup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("bigint").alias("n_chars")
    )
    members = clusters.join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    ranked = members.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_members", F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
    )
    return ranked.filter(F.col("rn") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("keep_doc_id"),
        F.col("n_chars").alias("keep_chars"),
        "n_members",
        (F.col("n_members") - 1).alias("n_dropped"),
    )


#: boilerplate detection: non-overlapping span width (words). Small enough
#: to catch repeated headers/footers/licenses, big enough that natural
#: language rarely collides by chance.
SPAN_WORDS = 8


@query(
    "dedup_span_boilerplate",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM documents
    ),
    e AS (
      SELECT doc_id, words, UNNEST(range(len(words) // {SPAN_WORDS})) AS i
      FROM w WHERE len(words) >= {SPAN_WORDS}
    ),
    sd AS (
      SELECT DISTINCT doc_id,
             array_to_string(
               words[i * {SPAN_WORDS} + 1 : i * {SPAN_WORDS} + {SPAN_WORDS}],
               ' ') AS span
      FROM e
    ),
    f AS (
      SELECT doc_id, COUNT(*) OVER (PARTITION BY span) AS df FROM sd
    )
    SELECT doc_id,
           COUNT(*) AS n_spans,
           COUNT(*) FILTER (WHERE df >= 2) AS n_common_spans,
           COUNT(*) FILTER (WHERE df >= 2) * 1.0 / COUNT(*)
             AS boilerplate_ratio
    FROM f GROUP BY doc_id
    """,
    doc="Span-level boilerplate detection: each document's non-overlapping "
    "8-word spans are scored by cross-document frequency; the per-doc ratio "
    "of spans shared with ANY other document flags boilerplate-heavy pages "
    "(headers, licenses, templated text) that document-level dedup keeps "
    "because the documents differ overall. Three partial-aggregated "
    "shuffles — (doc, span) distinct, doc-frequency window on span, per-doc "
    "rollup — and the span identity is the join/shuffle key, so nothing "
    "quadratic: at 100 TB the span would be xxhash64-ed to 8 bytes before "
    "the shuffle exactly as dedup_exact hashes text (string spans kept here "
    "so the DuckDB oracle computes the identical thing).",
)
def dedup_span_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    span = F.array_join(
        F.slice(
            F.col("words"), F.col("i") * SPAN_WORDS + 1, SPAN_WORDS
        ),
        " ",
    )
    sd = (
        docs.select("doc_id", words.alias("words"))
        .filter(F.size("words") >= SPAN_WORDS)
        .select(
            "doc_id",
            "words",
            F.explode(
                F.sequence(
                    F.lit(0), (F.size("words") / SPAN_WORDS).cast("int") - 1
                )
            ).alias("i"),
        )
        .select("doc_id", span.alias("span"))
        .distinct()
    )
    doc_freq = F.count(F.lit(1)).over(W.partitionBy("span"))
    common = F.col("df") >= 2
    return (
        sd.select("doc_id", doc_freq.alias("df"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count(F.when(common, 1)).alias("n_common_spans"),
            (F.count(F.when(common, 1)) * 1.0 / F.count(F.lit(1))).alias(
                "boilerplate_ratio"
            ),
        )
    )


#: incremental-ingest batch selector: docs with doc_id % INCR_MOD == 0 play
#: "today's batch"; the rest play the already-ingested corpus. Production
#: replaces the selector with the actual ingest partition.
INCR_MOD = 10


def parity_batch_predicate(col):
    """The synthetic batch-membership fixture: ``col % INCR_MOD == 0``
    plays "today's batch", the rest plays the already-ingested corpus.
    This is the DEFAULT everywhere a ``batch_pred`` parameter appears —
    every oracle bakes the same convention in, so the defaults are
    byte-identical to the pre-parameter behavior. Production hands in
    its real ingest-partition predicate instead (the two-day artifact
    test runs id-range predicates through the same parameter); the
    persisted-artifact path additionally decides CORPUS contact by
    artifact membership, not by any id rule — see
    incremental_artifacts."""
    return col % INCR_MOD == 0


def content_digest():
    """The content-digest expression — THE single definition shared by
    the exact-stage probe (``incremental_exact_flags``) and the persisted
    digest artifact (``incremental_artifacts._artifact_frames``), so an
    edit to one side cannot silently desync the artifact from the probe.
    NULL text is one content group: md5(NULL) is NULL in both engines and
    NULL equi-join keys never match, so without the sentinel a NULL-text
    history doc would vanish from the digest artifact and its batch twin
    would read as "never seen"."""
    return F.coalesce(F.md5("text"), F.lit("null-text"))


def _incremental_exact_sql() -> str:
    """Oracle fragment: the exact-stage batch classification shared by
    dedup_incremental_ingest and pipeline_incremental_ingest — ONE
    definition of what "exact duplicate" means for an increment (the
    ``_cc_closure_sql`` discipline). Emits ``bflags(doc_id, source,
    seen, is_canon)``: ``seen`` = the digest already exists in history;
    ``is_canon`` = the min-doc_id holder of its digest within the
    batch. A batch doc survives the stage iff seen = 0 AND
    is_canon = 1. NULL text is one content group (digest sentinel):
    md5(NULL) is NULL in both engines and NULL equi-join keys never
    match, so without the sentinel NULL-text batch docs would vanish
    from n_batch and the capstone's attribution partition."""
    return f"""cdig AS (
      SELECT DISTINCT COALESCE(md5(text), 'null-text') AS h FROM documents
      WHERE doc_id % {INCR_MOD} <> 0
    ),
    bdig AS MATERIALIZED (
      SELECT doc_id, source, COALESCE(md5(text), 'null-text') AS h
      FROM documents
      WHERE doc_id % {INCR_MOD} = 0
    ),
    bmin AS (SELECT h, MIN(doc_id) AS k FROM bdig GROUP BY h),
    bflags AS MATERIALIZED (
      SELECT b.doc_id, b.source,
             CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END AS seen,
             CASE WHEN b.doc_id = m.k THEN 1 ELSE 0 END AS is_canon
      FROM bdig b
      JOIN bmin m ON m.h = b.h
      LEFT JOIN cdig c ON c.h = b.h
    )"""


def incremental_exact_flags(
    docs: DataFrame,
    history_digests: DataFrame | None = None,
    batch_pred=parity_batch_predicate,
) -> DataFrame:
    """(doc_id, source, seen, is_canon) for every batch doc — the Spark
    twin of ``_incremental_exact_sql``, shared by
    dedup_incremental_ingest and the capstone so the exact-stage rule
    cannot fork between them. The historical corpus contributes nothing
    but its digest column: only (hash, id) ever shuffles, and at 100 TB
    the digest table is a bucketed parquet artifact the batch probes
    with no shuffle of history — ``history_digests`` IS that path: a
    (h) digest frame (the persisted artifact) that replaces the
    in-session derivation from history document rows, so history text
    is never re-read."""
    # content_digest() is the shared NULL-sentinel rule — a bare md5
    # would silently drop NULL-text batch docs from n_batch entirely
    # (caught by an earlier review pass — the differential gate cannot
    # see it because both engines encode the same hole)
    return incremental_seen_canon_flags(
        docs.select("doc_id", "source", content_digest().alias("h")),
        ["h"],
        history_keys=(
            history_digests.select("h") if history_digests is not None else None
        ),
        batch_pred=batch_pred,
    )


def incremental_seen_canon_flags(
    rows: DataFrame,
    key_cols: list[str],
    history_keys: DataFrame | None = None,
    batch_pred=parity_batch_predicate,
) -> DataFrame:
    """(doc_id, source, seen, is_canon) for the batch rows of a keyed
    (doc_id, source, *key_cols) frame — the exact-match incremental rule
    abstracted over its key: ``seen`` = the key already exists in
    history (derived from the frame's non-batch rows, or probed against
    the ``history_keys`` artifact when given); ``is_canon`` = the
    min-doc_id holder of its key within the batch. One definition serves
    the content-digest instance (``incremental_exact_flags``) and the
    cross-modal pair-key instance (``dedup_incremental_paired``) — key
    columns must never be NULL (NULL equi-join keys silently drop rows;
    the digest instance guarantees this with its sentinel, the pair-key
    instance by construction of ahash/caption_fp). ``batch_pred`` is the
    batch-membership predicate over the doc_id column (default: the
    ``parity_batch_predicate`` fixture every oracle bakes in); the
    persisted-artifact path hands in an all-true predicate because its
    ``rows`` frame IS the batch by construction."""
    # internal aliases are name-mangled: a caller's key column named
    # "k" or "seen_f" would otherwise make the min/flag references
    # ambiguous (found by the model-based property test, which sweeps
    # arbitrary key-column names through the helper). The mangled
    # prefix itself is the one remaining reserved name — reject it
    # rather than risk a silently ambiguous flag reference.
    bad = [c for c in key_cols if c.startswith("__incr_")]
    if bad:
        raise ValueError(
            f"key_cols may not use the reserved '__incr_' prefix: {bad}"
        )
    is_b = batch_pred(F.col("doc_id"))
    hist = (
        (
            history_keys
            if history_keys is not None
            else rows.filter(~is_b).select(*key_cols)
        )
        .distinct()
        .withColumn("__incr_seen", F.lit(1))
    )
    b = rows.filter(is_b).select("doc_id", "source", *key_cols)
    bmin = b.groupBy(*key_cols).agg(F.min("doc_id").alias("__incr_min"))
    # HISTORY joins first: when ``history_keys`` is a bucketed artifact
    # (BucketedArtifactStore — hash-partitioned by exactly these key
    # columns), anchoring the join tree on it lets the increment-sized
    # batch side shuffle INTO the artifact's partitioning and the
    # corpus-sized history side move nothing (plan-pinned by
    # tests/test_plans.py::test_bucketed_digest_probe_no_history_shuffle);
    # joined b⋈bmin-first, the first join fixes the session shuffle
    # width and history gets re-shuffled to match. Join order is
    # result-neutral (bmin's inner join matches every b row by
    # construction) and path-layout plans keep the same shuffle count.
    return (
        b.join(hist, key_cols, "left")
        .join(bmin, key_cols)
        .select(
            "doc_id",
            "source",
            F.when(F.col("__incr_seen").isNotNull(), 1)
            .otherwise(0)
            .alias("seen"),
            F.when(F.col("doc_id") == F.col("__incr_min"), 1)
            .otherwise(0)
            .alias("is_canon"),
        )
    )


@query(
    "dedup_incremental_ingest",
    oracle=f"""
    WITH {_incremental_exact_sql()}
    SELECT source,
           COUNT(*) AS n_batch,
           COUNT(*) FILTER (WHERE seen = 1) AS n_already_ingested,
           COUNT(*) FILTER (WHERE seen = 0 AND is_canon = 1) AS n_new_kept
    FROM bflags GROUP BY source
    """,
    doc="Incremental-ingest dedup — the shape a DAILY pipeline actually "
    "runs: the new batch is checked against the EXISTING corpus's digest "
    "set (left join on content hash) and within itself (min-doc_id "
    "canonicalization), and only never-seen canonical docs survive. The "
    "stage definition is the shared incremental_exact_flags — ONE rule "
    "for what 'exact duplicate' means, consumed verbatim by the "
    "pipeline_incremental_ingest capstone. The full corpus contributes "
    "nothing but its digest column: at 100 TB the historical digests "
    "live as a compact (hash) table — bucketed by hash so tomorrow's "
    "batch joins it with NO shuffle of history — and the whole corpus "
    "is never re-read, which is the entire point versus re-running "
    "dedup_exact over corpus+batch. Per-batch work is "
    "O(batch + digest-table probe).",
)
def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_ingest_report(
        incremental_exact_flags(load_table(spark, sf_dir, "documents"))
    )


def exact_ingest_report(flags: DataFrame) -> DataFrame:
    """Per-source (n_batch, n_already_ingested, n_new_kept) over a
    seen/canon flag frame — ONE report tail shared by
    dedup_incremental_ingest and dedup_incremental_two_day_exact, so the
    three driver-contract metrics cannot fork between the one-day and
    two-day operators."""
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.count(F.when(F.col("seen") == 1, 1)).alias("n_already_ingested"),
        F.count(
            F.when((F.col("seen") == 0) & (F.col("is_canon") == 1), 1)
        ).alias("n_new_kept"),
    )


#: second-generation remainder for the two-day operator: doc_id % 10 == 5
#: plays "tomorrow's batch" next to the standard == 0 "today" fixture.
INCR_DAY2_REM = 5


@query(
    "dedup_incremental_two_day_exact",
    oracle=f"""
    WITH keyed AS MATERIALIZED (
      SELECT doc_id, source, COALESCE(md5(text), 'null-text') AS h
      FROM documents
    ),
    cdig AS MATERIALIZED (
      SELECT DISTINCT h FROM keyed
      WHERE doc_id % {INCR_MOD} <> 0 AND doc_id % {INCR_MOD} <> {INCR_DAY2_REM}
    ),
    b1 AS MATERIALIZED (
      SELECT doc_id, source, h FROM keyed WHERE doc_id % {INCR_MOD} = 0
    ),
    m1 AS (SELECT h, MIN(doc_id) AS k FROM b1 GROUP BY h),
    f1 AS MATERIALIZED (
      SELECT b.doc_id, b.source,
             CASE WHEN c.h IS NOT NULL THEN 1 ELSE 0 END AS seen,
             CASE WHEN b.doc_id = m.k THEN 1 ELSE 0 END AS is_canon,
             b.h
      FROM b1 b JOIN m1 m ON m.h = b.h LEFT JOIN cdig c ON c.h = b.h
    ),
    grown AS MATERIALIZED (
      SELECT h FROM cdig
      UNION
      SELECT h FROM f1 WHERE seen = 0 AND is_canon = 1
    ),
    b2 AS MATERIALIZED (
      SELECT doc_id, source, h FROM keyed
      WHERE doc_id % {INCR_MOD} = {INCR_DAY2_REM}
    ),
    m2 AS (SELECT h, MIN(doc_id) AS k FROM b2 GROUP BY h),
    f2 AS (
      SELECT b.doc_id, b.source,
             CASE WHEN g.h IS NOT NULL THEN 1 ELSE 0 END AS seen,
             CASE WHEN b.doc_id = m.k THEN 1 ELSE 0 END AS is_canon
      FROM b2 b JOIN m2 m ON m.h = b.h LEFT JOIN grown g ON g.h = b.h
    )
    SELECT 1 AS ingest_day, source, COUNT(*) AS n_batch,
           COUNT(*) FILTER (WHERE seen = 1) AS n_already_ingested,
           COUNT(*) FILTER (WHERE seen = 0 AND is_canon = 1) AS n_new_kept
    FROM f1 GROUP BY source
    UNION ALL
    SELECT 2 AS ingest_day, source, COUNT(*) AS n_batch,
           COUNT(*) FILTER (WHERE seen = 1) AS n_already_ingested,
           COUNT(*) FILTER (WHERE seen = 0 AND is_canon = 1) AS n_new_kept
    FROM f2 GROUP BY source
    """,
    doc="TWO-generation exact ingest — the oracle-bearing witness of the "
    "multi-day semantics round 12 made pluggable: day 1 "
    "(doc_id % 10 = 0) classifies against the history digest set and "
    "day 2 (doc_id % 10 = 5, a DISTINCT batch) against history GROWN by "
    "day 1's keeps — exactly the digest-artifact append a nightly job "
    "performs between the two ingests (the file-backed twin is "
    "test_incremental_artifacts_two_day_operation). Both days are the "
    "SAME shared rule (incremental_seen_canon_flags) instantiated "
    "purely by batch predicate — zero day-specific logic; the day-2 "
    "history is one distinct-union of digest columns. Invariant this "
    "encodes: EVERY day-1 digest ends up in day-2's history (a seen "
    "doc's digest was already there; an in-batch dup's canon holder "
    "appended it), so any day-2 duplicate of any day-1 doc is "
    "n_already_ingested — pinned by the crafted test. At 100 TB "
    "nothing but (digest, id) ever shuffles; day 2 probes the grown "
    "digest table exactly as day 1 probed the original — per-day cost "
    "is O(batch + digest probe) with history text never re-read. "
    "reference: no analogue — training-pipeline extension.",
)
def dedup_incremental_two_day_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    day1 = parity_batch_predicate
    day2 = lambda c: c % INCR_MOD == INCR_DAY2_REM  # noqa: E731
    # the keyed frame feeds FOUR branches (history digests, both days'
    # flag builds, the day-1 kept-digest lookup) — one digest pass over
    # the corpus, checkpointed
    keyed = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", content_digest().alias("h"))
        .localCheckpoint(eager=True)
    )
    hist_dig = (
        keyed.filter(~day1(F.col("doc_id")) & ~day2(F.col("doc_id")))
        .select("h")
        .distinct()
    )
    f1 = incremental_seen_canon_flags(
        keyed, ["h"], history_keys=hist_dig, batch_pred=day1
    ).localCheckpoint(eager=True)  # two consumers: kept digests + report
    kept1 = f1.filter(
        (F.col("seen") == 0) & (F.col("is_canon") == 1)
    ).select("doc_id")
    grown = hist_dig.unionByName(
        keyed.join(kept1, "doc_id").select("h")
    ).distinct()
    f2 = incremental_seen_canon_flags(
        keyed, ["h"], history_keys=grown, batch_pred=day2
    )

    def _report(flags: DataFrame, day: int) -> DataFrame:
        # the shared report tail, day-stamped
        return exact_ingest_report(flags).select(
            F.lit(day).alias("ingest_day"), "*"
        )

    return _report(f1, 1).unionByName(_report(f2, 2))


@query(
    "dedup_candidate_triangles",
    oracle=f"""
    WITH pairs AS ({_LSH_CANDIDATES_SQL}),
    e AS (SELECT DISTINCT doc_a AS a, doc_b AS b FROM pairs),
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM e e1
      JOIN e e2 ON e1.b = e2.a
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT COUNT(*) AS n_triangles,
           (SELECT COUNT(*) FROM e) AS n_edges,
           COUNT(DISTINCT a) AS n_apex_docs
    FROM tri
    """,
    doc="Triangle count over the near-dup candidate graph — the cluster-"
    "DENSITY diagnostic: many triangles per edge means the LSH candidates "
    "form tight cliques (true duplicate groups), few means chains/noise "
    "(threshold too loose). The classic distributed-graph statistic beyond "
    "connected components. Edges are canonically ordered (a < b), so each "
    "triangle is counted exactly once as a < b < c; the two-hop join keys "
    "on node ids over the TINY candidate edge set — at 100 TB this runs "
    "after LSH banding, so the graph is Σ bucket-collisions, never "
    "corpus-sized, and the standard mitigation for a hot node (split "
    "high-degree vertices) is the same cap dedup already applies at the "
    "bucket stage.",
)
def dedup_candidate_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the edge set feeds three join branches plus the edge count, so it
    # must materialize exactly once — the session-shared candidate
    # checkpoint (shared_lsh_candidates) provides that, and shares the
    # materialization with PageRank/overlap/sweep instead of rebuilding the
    # LSH pipeline per report. Checkpoint blocks stay RDD-level and
    # ContextCleaner-managed, same lifetime story as before; candidate
    # pairs are already distinct (one row per (doc_a, doc_b) from the
    # bucket rollup), so no extra distinct pass is needed.
    e = shared_lsh_candidates(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    e1 = e.select(F.col("a"), F.col("b"))
    e2 = e.select(F.col("a").alias("b2a"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("t_a"), F.col("b").alias("t_c"))
    tri = (
        e1.join(e2, e1.b == e2.b2a)
        .join(e3, (F.col("a") == F.col("t_a")) & (F.col("c") == F.col("t_c")))
        .select("a", "b", "c")
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        tri.agg(
            F.count(F.lit(1)).alias("n_triangles"),
            F.countDistinct("a").alias("n_apex_docs"),
        )
        .crossJoin(F.broadcast(n_edges))
        .select("n_triangles", "n_edges", "n_apex_docs")
    )


#: fixed-point scale for PageRank mass — integer rank units make the
#: power-iteration step exact BIGINT math (identical truncating division in
#: both engines), where float ranks would drift with shuffle order.
PR_SCALE = 1_000_000_000_000
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as an exact fraction


@query(
    "dedup_pagerank_step",
    oracle=f"""
    WITH pairs AS ({_LSH_CANDIDATES_SQL}),
    e AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
    n AS (SELECT COUNT(*) AS n_nodes FROM deg),
    contrib AS (
      SELECT e.dst,
             ({PR_DAMP_NUM} * ({PR_SCALE} // n.n_nodes))
               // ({PR_DAMP_DEN} * d.deg) AS c
      FROM e JOIN deg d ON e.src = d.src CROSS JOIN n
    ),
    r1 AS (SELECT dst AS doc_id, SUM(c) AS in_mass FROM contrib GROUP BY dst)
    SELECT r.doc_id,
           CAST(d.deg AS BIGINT) AS degree,
           CAST(({PR_DAMP_DEN} - {PR_DAMP_NUM}) * {PR_SCALE}
                  // ({PR_DAMP_DEN} * n.n_nodes) + r.in_mass AS BIGINT)
             AS rank_scaled
    FROM r1 r JOIN deg d ON r.doc_id = d.src CROSS JOIN n
    """,
    doc="One damped PageRank power-iteration step over the near-dup "
    "candidate graph, from the uniform start vector — centrality for the "
    "duplicate-cluster graph (hub documents that near-duplicate MANY "
    "others are crawl templates / mirrors; rank separates them from leaf "
    "copies, which pure degree cannot do once clusters chain). The "
    "ITERATIVE-GRAPH shape at scale, paired with similarity_kmeans_step: "
    "one step = one Spark job (join edges to degrees, one aggregation "
    "shuffle of in-flowing mass), the driver loop re-runs it to a fixed "
    "point checkpointing between rounds exactly like dedup_clusters' "
    "label propagation. Rank mass is integer-scaled (PR_SCALE units) with "
    "truncating division written identically in both engines, so the "
    "step is bit-exact under any shuffle order — a float rank vector is "
    "not. Edges are the post-LSH candidate set: Σ bucket-collisions "
    "(bucket-capped), never corpus-sized.",
)
def dedup_pagerank_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    # session-shared candidate materialization: the undirected edge list is
    # read twice (both directions) and the driver loop re-runs the step to
    # a fixed point — the checkpoint makes every read O(|edges|), never a
    # pipeline rebuild.
    pairs = shared_lsh_candidates(spark, sf_dir).select("doc_a", "doc_b")
    e = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    contrib = (
        e.join(deg, "src")
        .crossJoin(F.broadcast(n))
        .select(
            "dst",
            F.expr(
                f"({PR_DAMP_NUM} * ({PR_SCALE} div n_nodes))"
                f" div ({PR_DAMP_DEN} * deg)"
            ).alias("c"),
        )
    )
    r1 = contrib.groupBy("dst").agg(F.sum("c").alias("in_mass"))
    return (
        r1.join(deg, r1.dst == deg.src)
        .crossJoin(F.broadcast(n))
        .select(
            F.col("dst").alias("doc_id"),
            F.col("deg").cast("bigint").alias("degree"),
            F.expr(
                f"({PR_DAMP_DEN} - {PR_DAMP_NUM}) * cast({PR_SCALE} as bigint)"
                f" div ({PR_DAMP_DEN} * n_nodes) + in_mass"
            )
            .cast("bigint")
            .alias("rank_scaled"),
        )
    )


@query(
    "dedup_source_overlap_matrix",
    oracle=f"""
    WITH pairs AS ({_LSH_CANDIDATES_SQL}),
    lab AS (
      SELECT LEAST(da.source, db.source) AS source_x,
             GREATEST(da.source, db.source) AS source_y
      FROM pairs p
      JOIN documents da ON p.doc_a = da.doc_id
      JOIN documents db ON p.doc_b = db.doc_id
    ),
    m AS (
      SELECT source_x, source_y, COUNT(*) AS n_pairs
      FROM lab GROUP BY source_x, source_y
    ),
    tot AS (SELECT SUM(n_pairs) AS total FROM m)
    SELECT source_x, source_y, n_pairs,
           CAST(n_pairs AS DOUBLE) / tot.total AS pair_share
    FROM m CROSS JOIN tot
    """,
    doc="Cross-source near-duplicate overlap matrix: every LSH candidate "
    "pair labeled with its two documents' sources, rolled up to a "
    "canonically-ordered (source_x <= source_y) grid — the contamination-"
    "lineage diagnostic a training-data build runs before mixing corpora "
    "(off-diagonal mass = sources duplicating EACH OTHER: mirrors, "
    "cross-posts, benchmark leakage between a train and an eval crawl; "
    "diagonal mass = within-source boilerplate). Plan: the candidate set "
    "is Σ bucket-collisions — bucket-capped but GROWING with the corpus — "
    "so the two doc→source labeling joins carry NO compile-time broadcast "
    "hint: AQE broadcasts the pair side from measured runtime sizes at "
    "test scale, and past the 8 GB broadcast limit the same plan runs as "
    "a shuffled hash join on doc keys (the docs side is a 2-column "
    "projection). The grid aggregation is O(sources²); pair_share divides "
    "exact counts once at the end.",
)
def dedup_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = shared_lsh_candidates(spark, sf_dir).select("doc_a", "doc_b")
    # No broadcast hints on the pair-sized sides: candidates grow with the
    # corpus, so the broadcast-vs-shuffle choice is left to AQE's runtime
    # size gate (the join-side LSH_MAX_BUCKET discipline). Broadcasting
    # docs itself would ship the corpus to every executor — the pin in
    # tests/test_plans.py asserts the corpus scan never sits under a
    # BroadcastExchange.
    sa_pairs = (
        docs.join(pairs, docs.doc_id == pairs.doc_a)
        .select(F.col("source").alias("sa"), "doc_b")
    )
    lab = (
        docs.alias("d2")
        .join(sa_pairs, F.col("doc_b") == F.col("d2.doc_id"))
        .select(
            F.least("sa", F.col("d2.source")).alias("source_x"),
            F.greatest("sa", F.col("d2.source")).alias("source_y"),
        )
    )
    m = lab.groupBy("source_x", "source_y").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    tot = m.agg(F.sum("n_pairs").alias("total"))
    return m.crossJoin(F.broadcast(tot)).select(
        "source_x",
        "source_y",
        "n_pairs",
        (F.col("n_pairs").cast("double") / F.col("total")).alias("pair_share"),
    )


# ---------------------------------------------------------------------------
#: dedup-threshold sweep grid, in percent (exact ints shared with the oracle)
JACCARD_SWEEP_PCTS = (50, 80, 90, 95, 98)


@query(
    "dedup_jaccard_threshold_sweep",
    oracle=f"""
    WITH cands AS ({_LSH_CANDIDATES_SQL}),
    sh AS ({_SHINGLE_SQL}),
    shh AS (
      SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS hb FROM sh
    ),
    capped AS (
      SELECT doc_id, hb FROM (
        SELECT doc_id, hb,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hb) AS rn
        FROM shh
      ) WHERE rn <= {JACCARD_MAX_DOC_SHINGLES}
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cands c
      JOIN capped a ON a.doc_id = c.doc_a
      JOIN capped b ON b.doc_id = c.doc_b AND b.hb = a.hb
      GROUP BY c.doc_a, c.doc_b
    ),
    pairs AS (
      SELECT i.doc_a, i.doc_b,
             i.n_common * 1.0 / (sa.n + sb.n - i.n_common) AS jaccard
      FROM inter i
      JOIN sz sa ON sa.doc_id = i.doc_a
      JOIN sz sb ON sb.doc_id = i.doc_b
    ),
    grid AS (SELECT UNNEST([{", ".join(str(t) for t in JACCARD_SWEEP_PCTS)}])
             AS threshold_pct)
    SELECT g.threshold_pct,
           COUNT(*) AS n_pairs,
           COUNT(DISTINCT p.doc_b) AS n_docs_dropped
    FROM grid g JOIN pairs p ON p.jaccard >= g.threshold_pct / 100.0
    GROUP BY g.threshold_pct
    """,
    doc="Dedup-threshold tuning sweep: the exact Jaccard of every LSH "
    "candidate pair is computed ONCE, then swept across the "
    f"{JACCARD_SWEEP_PCTS} percent grid to report, per threshold, how many "
    "near-dup pairs fire and how many documents a drop-the-higher-id "
    "policy would remove. Choosing the dedup threshold is a real curation "
    "decision (too low deletes legitimate boilerplate-sharing docs, too "
    "high ships duplicates); this report is the evidence, produced at the "
    "cost of ONE verify stage plus a grid-expansion of the candidate-sized "
    "pair frame (|pairs| x 5 rows — never corpus-shaped). Same two-stage "
    "shape as dedup_ngram_jaccard: shingle scan persisted once, candidates "
    "read from the session-shared checkpoint, pair joins size-gated by AQE "
    "(no compile-time broadcast of a corpus-growing frame), all per-pair "
    "math JVM-side; the sweep adds one partial-aggregated shuffle on the "
    "5-value threshold key over the tiny pair frame. At 100 TB the verify "
    "stage dominates and is unchanged; the sweep itself is free.",
)
def dedup_jaccard_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    sh = shared_hashed_shingles(spark, sf_dir)
    cands = shared_lsh_candidates(spark, sf_dir).select("doc_a", "doc_b")
    # threshold=0.0 keeps every candidate pair with its exact jaccard; the
    # grid filter below is the only thresholding
    pairs = jaccard_verify(cands, sh, threshold=0.0)
    swept = pairs.select(
        "doc_a",
        "doc_b",
        "jaccard",
        F.explode(
            F.array(*[F.lit(t) for t in JACCARD_SWEEP_PCTS])
        ).alias("threshold_pct"),
    ).filter(F.col("jaccard") >= F.col("threshold_pct") / 100.0)
    return swept.groupBy("threshold_pct").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("doc_b").alias("n_docs_dropped"),
    )


# ---------------------------------------------------------------------------
#: hash-family width for the per-source corpus sketch (est. granularity 1/48)
N_SOURCE_HASHES = 48


def _source_minhash_sig_sql() -> str:
    terms = []
    for i in range(N_SOURCE_HASHES):
        a, b = _lcg_params(i)
        terms.append(f"MIN(({a} * hb + {b}) % {MINHASH_P}) AS h{i}")
    return ", ".join(terms)


@query(
    "dedup_source_minhash_similarity",
    oracle=f"""
    WITH ws AS (
      SELECT source, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
      FROM documents
    ),
    sh AS (
      SELECT source, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      FROM ws, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
      WHERE len(w) >= 3
    ),
    hashed AS (
      SELECT source,
             ('0x' || substr(md5(s), 1, 15))::BIGINT % {MINHASH_P} AS hb
      FROM sh
    ),
    sig AS (SELECT source, {{SIG}} FROM hashed GROUP BY source)
    SELECT * FROM (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST({{AGREE}} AS BIGINT) AS n_agree,
             CAST({{AGREE}} AS BIGINT) * 1.0 / {N_SOURCE_HASHES}
               AS est_jaccard
      FROM sig a JOIN sig b ON a.source < b.source
    ) WHERE n_agree > 0
    """.replace("{SIG}", _source_minhash_sig_sql()).replace(
        "{AGREE}",
        "("
        + " + ".join(
            f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END"
            for i in range(N_SOURCE_HASHES)
        )
        + ")",
    ),
    doc="Per-source corpus MinHash sketch + pairwise similarity estimate: "
    f"each source collapses to a {N_SOURCE_HASHES}-hash signature (min is "
    "commutative/associative, so the sketch is map-side partial, shuffle-"
    "order independent, AND mergeable — shard sketches min-merge into "
    "corpus sketches, the property that lets a 100 TB build sketch every "
    "shard independently and combine at O(sources) cost). Pairwise "
    "agreement estimates shingle-set Jaccard between sources WITHOUT any "
    "doc-level pair work — the cheap first look before the exact "
    "dedup_source_overlap_matrix. The Spark side carries `source` through "
    "the shingle explode (no corpus-keyed doc->source join), and pair "
    "emission is the same group-by-bucket trick as lsh_candidates: the "
    "melted (hash_i, value) frame is O(sources x hashes), so no self-join "
    "ever recomputes the corpus scan. All math exact BIGINT.",
)
def dedup_source_minhash_similarity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dw = docs.select("source", _words().alias("w"))
    sh = dw.select("source", F.explode(_shingle_array()).alias("s"))
    hashed = sh.select(
        "source", (F.expr(_SHINGLE_HASH) % MINHASH_P).alias("hb")
    )
    sig = hashed.groupBy("source").agg(*_minhash_min_aggs(N_SOURCE_HASHES))
    melted = sig.select(
        "source",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), F.col(f"h{i}").alias("hv")
                    )
                    for i in range(N_SOURCE_HASHES)
                ]
            )
        ).alias("x"),
    ).select("source", "x.i", "x.hv")
    buckets = (
        melted.groupBy("i", "hv")
        .agg(F.array_sort(F.collect_list("source")).alias("ss"))
        .filter(F.size("ss") > 1)
    )
    pairs = buckets.select(
        F.explode(
            F.expr(_bucket_pairs_expr("ss", "source_a", "source_b"))
        ).alias("p")
    ).select("p.source_a", "p.source_b")
    return pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_agree"),
        (F.count(F.lit(1)) * 1.0 / N_SOURCE_HASHES).alias("est_jaccard"),
    )


# ---------------------------------------------------------------------------
def _cluster_stats_oracle() -> str:
    """CTE-wrap the ALREADY-REGISTERED connected-components oracle — the
    stats always describe the clusters the registered operator produces."""
    from iceberg_explorer_spark.operators.registry import QUERIES as _Q

    cc = _Q["dedup_clusters"].oracle
    return f"""
    WITH cc AS ({cc}),
    sizes AS (
      SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_id
    )
    SELECT cluster_size,
           COUNT(*) AS n_clusters,
           CAST(COUNT(*) * cluster_size AS BIGINT) AS n_docs,
           CAST(COUNT(*) * (cluster_size - 1) AS BIGINT) AS n_removable
    FROM sizes GROUP BY cluster_size
    """


@query(
    "dedup_cluster_stats",
    oracle=_cluster_stats_oracle(),
    doc="Dedup-yield report: the size distribution of the near-dup "
    "clusters and, per size, how many documents a keep-one-per-cluster "
    "policy removes — the ONE number (sum of n_removable) a curation run "
    "reports as its dedup rate, and the distribution that distinguishes "
    "healthy pairwise duplication from a boilerplate blob (one giant "
    "cluster). Composes dedup_clusters' exact output (builder and oracle "
    "text both); on top of the CC pipeline it adds two tiny partial-"
    "aggregated rollups: O(docs-in-clusters) -> O(clusters) -> O(distinct "
    "sizes). Exact integer math throughout.",
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_explorer_spark.operators.registry import QUERIES as _Q

    cc = _Q["dedup_clusters"].builder(spark, sf_dir)
    sizes = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.count(F.lit(1)) * F.col("cluster_size"))
        .cast("bigint")
        .alias("n_docs"),
        (F.count(F.lit(1)) * (F.col("cluster_size") - 1))
        .cast("bigint")
        .alias("n_removable"),
    )


# ---------------------------------------------------------------------------
#: Band layouts for the LSH tuning report: the MULTI-BAND (b >= 2)
#: factorizations of the SAME N_HASHES=12-value signature, each
#: partitioning a prefix in seed order. (1, 12) — the equal-signatures
#: divisor layout — is excluded: s* = 1.0 means it only pairs docs whose
#: entire signatures are equal, which is exact dedup's job, not a
#: near-dup recall setting anyone tunes toward. (12, 1) — the other
#: degenerate divisor — was dropped from the REGISTERED contract in
#: round 11: its S-curve threshold s* = 1/12 ≈ 0.083 sits an order of
#: magnitude below the 0.8 Jaccard verify bar, so it candidates nearly
#: every pair with ANY single shared min-hash — at sf0.1 it contributed
#: ~120k low-precision candidates that alone set the whole sweep's
#: verify bill (SCALE.md round-11 note) while informing no (b, r)
#: decision a 0.8-target pipeline would make. It remains available via
#: the builder's ``configs`` parameter (``_TUNING_CONFIGS_FULL``) and is
#: differential-tested locally. One signature pass serves however many
#: layouts are requested — re-hashing the corpus per config is the naive
#: tuning loop this operator exists to replace.
_TUNING_CONFIGS = [(6, 2), (4, 3), (3, 4), (2, 6)]

#: The registered four plus the loose (12, 1) recall-ceiling layout —
#: the opt-in full sweep (local differential coverage:
#: tests/test_properties.py::test_lsh_band_tuning_layout_semantics).
_TUNING_CONFIGS_FULL = [(12, 1), *_TUNING_CONFIGS]


def _tuning_rows(configs: list[tuple[int, int]]) -> list[tuple]:
    """(bands, rows_per_band, s_star) — s* = (1/b)^(1/r), the layout's
    S-curve threshold. Formatted ONCE in Python and embedded as literals
    in both the Spark config frame and the oracle VALUES list, so the
    doubles are bit-identical by IEEE round-trip."""
    return [(b, r, (1.0 / b) ** (1.0 / r)) for b, r in configs]


def _tuning_bands_sql(configs: list[tuple[int, int]]) -> str:
    """Band keys for every tuning layout (UNION ALL unpivot over ``sig``),
    mirroring the Spark explode band-for-band: layout (b, r)'s band i
    hashes signature values h[i*r] .. h[i*r + r - 1]."""
    selects = []
    for b_cfg, r_cfg in configs:
        for band in range(b_cfg):
            # explicit ::VARCHAR: DuckDB's md5 takes only VARCHAR, and the
            # r=1 layouts have no concatenation to coerce the BIGINT
            cols = " || '|' || ".join(
                f"h{band * r_cfg + r}::VARCHAR" for r in range(r_cfg)
            )
            selects.append(
                f"SELECT doc_id, {b_cfg} AS bands, {r_cfg} AS rows_per_band,"
                f" {band} AS band, md5({cols}) AS bkey FROM sig"
            )
    return " UNION ALL ".join(selects)


def _tuning_cfgs_sql(configs: list[tuple[int, int]]) -> str:
    """The static layout table as a VALUES list (see ``_tuning_rows``):
    the report LEFT-JOINs the per-layout aggregate against it so a layout
    that pruned EVERY candidate still appears with zero counts — the
    over-strict layout is the most decision-relevant row of a tuning
    sweep, and an inner-join shape would silently drop it."""
    vals = ", ".join(
        f"({b}, {r}, CAST({s!r} AS DOUBLE))"
        for b, r, s in _tuning_rows(configs)
    )
    return (
        f"SELECT * FROM (VALUES {vals})"
        " AS t(bands, rows_per_band, s_star)"
    )


def _band_tuning_oracle_sql(configs: list[tuple[int, int]]) -> str:
    """The tuning-report oracle for an arbitrary layout set — the
    registered query pins ``_TUNING_CONFIGS``; the local full-sweep test
    instantiates it with ``_TUNING_CONFIGS_FULL`` so the opt-in (12, 1)
    path keeps differential coverage after leaving the driver contract."""
    return f"""
    WITH sh AS ({_SHINGLE_SQL}),
    shh AS ({_SHH_SQL}),
    hashed AS (SELECT doc_id, hb % {MINHASH_P} AS hb FROM shh),
    sig AS (SELECT doc_id, {_minhash_agg_sql()} FROM hashed GROUP BY doc_id),
    bands_all AS ({_tuning_bands_sql(configs)}),
    ok AS (
      SELECT bands, rows_per_band, band, bkey FROM bands_all
      GROUP BY bands, rows_per_band, band, bkey
      HAVING COUNT(*) BETWEEN 2 AND {LSH_MAX_BUCKET}
    ),
    capped AS (
      SELECT b.* FROM bands_all b
      JOIN ok k ON b.bands = k.bands AND b.rows_per_band = k.rows_per_band
               AND b.band = k.band AND b.bkey = k.bkey
    ),
    pairs AS (
      SELECT DISTINCT a.bands, a.rows_per_band,
             a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a
      JOIN capped b
        ON a.bands = b.bands AND a.rows_per_band = b.rows_per_band
       AND a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ),
    upairs AS (SELECT DISTINCT doc_a, doc_b FROM pairs),
    cappedsh AS (
      SELECT doc_id, hb FROM (
        SELECT doc_id, hb,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hb) AS rn
        FROM shh
      ) WHERE rn <= {JACCARD_MAX_DOC_SHINGLES}
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM cappedsh GROUP BY doc_id),
    inter AS (
      SELECT u.doc_a, u.doc_b, COUNT(*) AS n_common
      FROM upairs u
      JOIN cappedsh a ON a.doc_id = u.doc_a
      JOIN cappedsh b ON b.doc_id = u.doc_b AND b.hb = a.hb
      GROUP BY u.doc_a, u.doc_b
    ),
    dups AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sz sa ON sa.doc_id = i.doc_a
      JOIN sz sb ON sb.doc_id = i.doc_b
      WHERE i.n_common * 1.0 / (sa.n + sb.n - i.n_common) >= 0.8
    ),
    agg AS (
      SELECT p.bands, p.rows_per_band,
             COUNT(*) AS n_candidates,
             CAST(COALESCE(SUM(CASE WHEN d.doc_a IS NOT NULL THEN 1 ELSE 0
                                    END), 0) AS BIGINT) AS n_true_dups
      FROM pairs p
      LEFT JOIN dups d ON d.doc_a = p.doc_a AND d.doc_b = p.doc_b
      GROUP BY p.bands, p.rows_per_band
    ),
    cfgs AS ({_tuning_cfgs_sql(configs)})
    SELECT c.bands, c.rows_per_band, c.s_star,
           CAST(COALESCE(a.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(a.n_true_dups, 0) AS BIGINT) AS n_true_dups,
           CASE WHEN COALESCE(a.n_candidates, 0) > 0
                THEN a.n_true_dups * 1.0 / a.n_candidates
           END AS dup_precision
    FROM cfgs c
    LEFT JOIN agg a
      ON a.bands = c.bands AND a.rows_per_band = c.rows_per_band
    """


@query(
    "dedup_lsh_band_tuning",
    oracle=_band_tuning_oracle_sql(_TUNING_CONFIGS),
    doc="LSH band-layout tuning report: candidate volume and verified "
    "precision for four production (bands, rows-per-band) layouts of the "
    "SAME 12-min signature — the parameter sweep every production dedup "
    "pipeline runs before committing a (b, r) choice, as one query "
    "instead of one pipeline rerun per layout. The corpus is "
    "tokenized+hashed once (session-shared shingle checkpoint), the "
    "signature is computed once (one grouped pass, map-side partial "
    "mins), and ONE explode emits all 15 band rows per doc; per-layout "
    "buckets stay under the LSH_MAX_BUCKET quadratic guard. Exact "
    "Jaccard is verified ONCE over the distinct union of all layouts' "
    "pairs (candidate-only joins, bottom-k cap) and each layout's "
    "precision is a join against that single verdict set, not a verify "
    "per config. s* = (1/b)^(1/r) is the layout's S-curve threshold — "
    "the knob the report exists to calibrate against measured precision; "
    "the registered grid spans s* 0.41-0.89, bracketing the 0.8 Jaccard "
    "verify bar from both sides. The degenerate (12,1) layout "
    "(s* = 0.083 — it candidates nearly every pair sharing ANY single "
    "min-hash, and at sf0.1 its ~120k low-precision candidates alone set "
    "the sweep's verify bill) left the registered contract in r11; it "
    "stays available via the configs parameter (_TUNING_CONFIGS_FULL) "
    "with local differential coverage. At 100 TB the sweep runs on a "
    "deterministic doc sample (sample_mod: keep a doc when "
    "xxhash64(doc_id) % mod == 0 — the verify bill scales with the "
    "sample, and tuning curves are stable under uniform sampling); the "
    "registered query runs UNSAMPLED (sample_mod=1, the oracle "
    "contract). reference: no analogue — training-pipeline extension.",
)
def dedup_lsh_band_tuning(
    spark: SparkSession,
    sf_dir: str,
    sample_mod: int = 1,
    configs: list[tuple[int, int]] | None = None,
) -> DataFrame:
    if sample_mod < 1:
        # loud, not silent: a sign/zero bug upstream would otherwise run
        # the full-corpus sweep (the exact verify bill the parameter
        # exists to avoid) while reporting numbers labeled as sampled
        raise ValueError(f"sample_mod must be >= 1, got {sample_mod}")
    if configs is None:
        configs = _TUNING_CONFIGS
    sh = shared_hashed_shingles(spark, sf_dir)
    if sample_mod > 1:
        # Deterministic 1/mod doc sample: hash-mod on doc_id, applied to
        # the shingle checkpoint BEFORE the signature pass, so every
        # downstream stage (bands, buckets, candidate pairs, the union
        # verify — the sweep's dominant cost) runs on the sample. The
        # same docs are selected on every run and for every layout, so
        # per-layout numbers stay comparable within a sweep, and the
        # sampled report is EXACTLY the unsampled report over the
        # restricted corpus (pinned by
        # test_band_tuning_sample_agrees_with_subcorpus). Default OFF:
        # the driver row and the DuckDB oracle pin the unsampled report.
        sh = sh.filter(
            F.pmod(F.xxhash64(F.col("doc_id")), F.lit(sample_mod)) == 0
        )
    hashed = sh.select("doc_id", (F.col("hb") % MINHASH_P).alias("hb"))
    sig = hashed.groupBy("doc_id").agg(*_minhash_min_aggs(N_HASHES))
    layouts = []
    for b_cfg, r_cfg in configs:
        for band in range(b_cfg):
            cols = [F.col(f"h{band * r_cfg + r}") for r in range(r_cfg)]
            layouts.append(
                F.struct(
                    F.lit(b_cfg).alias("bands"),
                    F.lit(r_cfg).alias("rows_per_band"),
                    F.lit(band).alias("band"),
                    F.md5(F.concat_ws("|", *cols)).alias("bkey"),
                )
            )
    bands = sig.select(
        "doc_id", F.explode(F.array(*layouts)).alias("bb")
    ).select("doc_id", "bb.bands", "bb.rows_per_band", "bb.band", "bb.bkey")
    buckets = (
        bands.groupBy("bands", "rows_per_band", "band", "bkey")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= LSH_MAX_BUCKET))
    )
    pairs = (
        buckets.select(
            "bands",
            "rows_per_band",
            F.explode(
                F.expr(_bucket_pairs_expr("ids", "doc_a", "doc_b"))
            ).alias("p"),
        )
        .select("bands", "rows_per_band", "p.doc_a", "p.doc_b")
        .distinct()
        # Referenced from FIVE plan branches (the verify's three via the
        # distinct-union pairs, plus the per-layout aggregation's pair
        # side and its dup join): checkpoint once, every branch reads the
        # materialized candidate rows — the same multi-branch discipline
        # as the overlap spectrum.
        .localCheckpoint(eager=True)
    )
    upairs = pairs.select("doc_a", "doc_b").distinct()
    dups = (
        jaccard_verify(upairs, sh)
        .select("doc_a", "doc_b")
        .withColumn("is_dup", F.lit(1))
    )
    agg = (
        pairs.join(dups, ["doc_a", "doc_b"], "left")
        .groupBy("bands", "rows_per_band")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.coalesce(F.sum("is_dup"), F.lit(0))
            .cast("bigint")
            .alias("n_true_dups"),
        )
    )
    # LEFT JOIN from the static layout table: a layout whose candidates
    # were all pruned (or that never collided) still reports a zero row —
    # see _tuning_cfgs_sql. O(layouts) local rows; AQE broadcasts unhinted.
    cfgs = spark.createDataFrame(
        _tuning_rows(configs), "bands int, rows_per_band int, s_star double"
    )
    joined = cfgs.join(agg, ["bands", "rows_per_band"], "left")
    n_cands = F.coalesce(F.col("n_candidates"), F.lit(0)).cast("bigint")
    n_dups = F.coalesce(F.col("n_true_dups"), F.lit(0)).cast("bigint")
    return joined.select(
        "bands",
        "rows_per_band",
        "s_star",
        n_cands.alias("n_candidates"),
        n_dups.alias("n_true_dups"),
        F.when(
            n_cands > 0,
            F.col("n_true_dups") * 1.0 / F.col("n_candidates"),
        ).alias("dup_precision"),
    )


# ---------------------------------------------------------------------------
#: Jaccard bar for the incremental near-dup check — the same 0.8 the batch
#: pipeline verifies at (dedup_ngram_jaccard), so "near-duplicate" means the
#: same thing whether a document arrived in the backfill or in today's batch.
INCR_NEAR_TAU = 0.8


def _incr_verify_be_sql() -> str:
    """Oracle fragment: the INCR_NEAR_TAU Jaccard-verify CTE chain —
    ``cdocs``/``capped``/``sz``/``inter`` over a caller-provided
    ``bc(doc_a, doc_b)`` and the enclosing ``shh``, ending in the
    MATERIALIZED ``be(id_a, id_b)`` verified-edge table. ONE definition
    (the ``_cc_closure_sql`` discipline) shared by
    dedup_incremental_near, dedup_incremental_two_day_near and the
    incremental capstone's status oracle — a cap/threshold/ordering fix
    applied to one copy must not silently fork verify semantics between
    the one-day, two-day and capstone operators."""
    return f"""cdocs AS (SELECT doc_a AS doc_id FROM bc UNION SELECT doc_b FROM bc),
    capped AS (
      SELECT doc_id, hb FROM (
        SELECT doc_id, hb,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hb) AS rn
        FROM shh WHERE doc_id IN (SELECT doc_id FROM cdocs)
      ) WHERE rn <= {JACCARD_MAX_DOC_SHINGLES}
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM bc c
      JOIN capped a ON a.doc_id = c.doc_a
      JOIN capped b ON b.doc_id = c.doc_b AND b.hb = a.hb
      GROUP BY c.doc_a, c.doc_b
    ),
    be AS MATERIALIZED (
      SELECT i.doc_a AS id_a, i.doc_b AS id_b FROM inter i
      JOIN sz sa ON sa.doc_id = i.doc_a
      JOIN sz sb ON sb.doc_id = i.doc_b
      WHERE i.n_common * 1.0 / (sa.n + sb.n - i.n_common) >= {INCR_NEAR_TAU}
    )"""


def _incremental_edges_sql(
    tag: str = "", be: str = "be", batch: str = "batch", rem: int = 0
) -> str:
    """Oracle fragment: the batch-batch edge subset RESTRICTED to the
    batch spine — both endpoints must be rows of ``batch(doc_id,
    source)``, not merely batch-parity ids, so the component min a drop
    is attributed to is always a LIVE report row (a semantic edge can
    reference an orphan embedding whose document is absent; an edge to
    a ghost must not elect the ghost as the kept representative).
    Emits ``bb{tag}`` over the caller-named ``be``/``batch`` CTEs for
    ``_cc_closure_sql`` — the names are parameters so the incremental
    capstone can instantiate the fragment once per stage, and ``rem``
    selects the batch generation (the default 0 renders byte-identical
    text to the pre-parameter fragment; the two-day near operator
    instantiates a second generation with rem=INCR_DAY2_REM)."""
    return f"""bb{tag} AS (
      SELECT e.id_a, e.id_b FROM {be} e
      JOIN {batch} p ON p.doc_id = e.id_a
      JOIN {batch} q ON q.doc_id = e.id_b
      WHERE e.id_a % {INCR_MOD} = {rem} AND e.id_b % {INCR_MOD} = {rem}
    )"""


def _incremental_cls_sql(
    tag: str = "", be: str = "be", batch: str = "batch", rem: int = 0
) -> str:
    """Oracle fragment: the per-doc classification CTE chain shared by
    the incremental ingest family — ``contact{tag}``/``tainted{tag}``/
    ``cls{tag}(doc_id, source, vs_corpus, in_batch)`` over the
    caller-named ``be(id_a, id_b)``, ``batch(doc_id, source)`` and the
    ``comp{tag}`` component table (from ``_cc_closure_sql`` over
    ``bb{tag}``). ONE definition (the ``_cc_closure_sql`` discipline):
    corpus taint, component-min keep and the three-way partition must
    stay identical across the family and the capstone's two stages. The
    batch-side contact endpoint is restricted to the spine (same ghost
    rule as ``_incremental_edges_sql``); the CORPUS side deliberately is
    not — for the semantic variant the historical embedding store is
    authoritative for "content already represented" even when the
    matching corpus document row is absent from this slice."""
    return f"""contact{tag} AS MATERIALIZED (
      SELECT DISTINCT doc_id FROM (
        SELECT CASE WHEN id_a % {INCR_MOD} = {rem} THEN id_a ELSE id_b END
                 AS doc_id
        FROM {be}
        WHERE (id_a % {INCR_MOD} = {rem}) <> (id_b % {INCR_MOD} = {rem})
      ) WHERE doc_id IN (SELECT doc_id FROM {batch})
    ),
    tainted{tag} AS (
      SELECT DISTINCT c.cluster_id
      FROM comp{tag} c JOIN contact{tag} k ON k.doc_id = c.node
    ),
    cls{tag} AS (
      SELECT b.doc_id, b.source,
             CASE WHEN k.doc_id IS NOT NULL OR t.cluster_id IS NOT NULL
                  THEN 1 ELSE 0 END AS vs_corpus,
             CASE WHEN k.doc_id IS NULL AND t.cluster_id IS NULL
                  AND c.cluster_id IS NOT NULL AND c.cluster_id <> b.doc_id
                  THEN 1 ELSE 0 END AS in_batch
      FROM {batch} b
      LEFT JOIN contact{tag} k ON k.doc_id = b.doc_id
      LEFT JOIN comp{tag} c ON c.node = b.doc_id
      LEFT JOIN tainted{tag} t ON t.cluster_id = c.cluster_id
    )"""


def _incremental_report_sql(kind: str) -> str:
    """Oracle tail of the standalone incremental operators: the shared
    classification chain (``_incremental_cls_sql``) plus the per-source
    report. ``kind`` is the report column infix (n_{kind}_vs_corpus /
    n_{kind}_in_batch)."""
    return f"""{_incremental_cls_sql()}
    SELECT source,
           COUNT(*) AS n_batch,
           COUNT(*) FILTER (WHERE vs_corpus = 1) AS n_{kind}_vs_corpus,
           COUNT(*) FILTER (WHERE in_batch = 1) AS n_{kind}_in_batch,
           COUNT(*) FILTER (WHERE vs_corpus = 0 AND in_batch = 0)
             AS n_novel_kept
    FROM cls GROUP BY source"""


def endpoint_member_flags(
    pairs: DataFrame, members: DataFrame, ca: str, cb: str
) -> DataFrame:
    """``pairs`` with nullable 1-flags ``__incr_a``/``__incr_b`` marking
    each endpoint's membership in the (doc_id) ``members`` frame — THE
    single membership-join idiom shared by ``incremental_component_cls``
    and the artifact path's batch-touching filters (one definition, so
    null-handling/distinct/broadcast decisions cannot fork). ``members``
    must be one-row-per-id and SHOULD be a materialized checkpoint when
    it feeds multiple branches; increment-sized, so both joins broadcast
    at scale."""
    clash = {"__incr_a", "__incr_b"} & set(pairs.columns)
    if clash:  # a frame passed through twice would otherwise fail later
        # with an ambiguous-column AnalysisException far from the cause —
        # same reserved-prefix guard as incremental_seen_canon_flags
        raise ValueError(
            f"pairs already carries reserved columns {sorted(clash)}"
        )
    return pairs.join(
        members.select(F.col("doc_id").alias(ca), F.lit(1).alias("__incr_a")),
        ca,
        "left",
    ).join(
        members.select(F.col("doc_id").alias(cb), F.lit(1).alias("__incr_b")),
        cb,
        "left",
    )


def _spine_bb(be, ids: DataFrame | None, a_b, b_b) -> DataFrame:
    """(doc_a, doc_b) batch-batch edges: both endpoints batch by the
    ``a_b``/``b_b`` predicates AND present in the ``ids`` spine — the
    component-edge rule of ``incremental_component_cls``, factored so
    the two-day operator can fuse both generations' edges into ONE
    connected-components pass (disjoint id sets, so components never
    mix). ``ids=None`` skips the spine semi-joins — ONLY valid when the
    spine IS the full predicate population (the two-day operator's
    batches are unfiltered ``docs.filter(pred)``, and edge endpoints
    are documents ids by construction, so the restriction is an
    identity there; the semantic/capstone paths pass real sub-spines
    and must keep the joins)."""
    bb = be.filter(a_b & b_b)
    if ids is not None:
        bb = bb.join(
            ids, F.col("id_a") == F.col("doc_id"), "left_semi"
        ).join(ids, F.col("id_b") == F.col("doc_id"), "left_semi")
    return bb.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )


def _spine_contact(be, ids: DataFrame | None, a_b, b_b) -> DataFrame:
    """(doc_id, direct=1) spine docs with a DIRECT verified corpus
    neighbor — the taint seeds of ``incremental_component_cls``,
    factored for the same fused two-day consumer. No checkpoint here:
    the single-generation path checkpoints it (two consumers over a
    non-trivial producing pipeline), the fused path deliberately does
    not (its inputs are already checkpoints, so per-consumer recompute
    is a within-job filter+distinct — cheaper than another eager
    driver-synchronized job, the round-10 scheduling-floor lesson).
    ``ids=None`` skips the spine semi-join under the same
    spine-equals-population condition as ``_spine_bb``."""
    contact = be.filter(a_b != b_b).select(
        F.when(a_b, F.col("id_a")).otherwise(F.col("id_b")).alias("doc_id")
    ).distinct()
    if ids is not None:
        contact = contact.join(ids, "doc_id", "left_semi")
    return contact.withColumn("direct", F.lit(1))


def _cls_assemble(
    batch: DataFrame, comp: DataFrame, contact: DataFrame
) -> DataFrame:
    """The classification tail of ``incremental_component_cls``: given
    the (doc_id, source) spine, the (doc_id, cluster_id) component
    labels and the (doc_id, direct) contact seeds, emit one row per
    spine doc with the 0/1 ``vs_corpus``/``in_batch`` flags. ONE
    definition — the single-generation path and the fused two-day path
    must agree on taint propagation and min-id keep election by
    construction."""
    tainted = (
        comp.join(contact.select("doc_id"), "doc_id")
        .select("cluster_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    cls = (
        batch.join(contact, "doc_id", "left")
        .join(comp, "doc_id", "left")
        .join(tainted, "cluster_id", "left")
    )
    vs_corpus = F.col("direct").isNotNull() | F.col("hit").isNotNull()
    in_batch = (
        (~vs_corpus)
        & F.col("cluster_id").isNotNull()
        & (F.col("doc_id") != F.col("cluster_id"))
    )
    return cls.select(
        "doc_id",
        "source",
        F.when(vs_corpus, 1).otherwise(0).alias("vs_corpus"),
        F.when(in_batch, 1).otherwise(0).alias("in_batch"),
    )


def incremental_component_cls(
    be: DataFrame,
    batch: DataFrame,
    batch_members: DataFrame | None = None,
) -> DataFrame:
    """Spark classification stage shared by the incremental ingest family
    — the executable twin of ``_incremental_cls_sql``: returns one row
    per spine doc (doc_id, source, vs_corpus, in_batch), both flags 0/1
    ints, novel-kept being the all-zero row.

    ``be``: (id_a, id_b) batch-touching VERIFIED edges. The caller must
    hand this in MATERIALIZED form (an eager checkpoint or a session
    artifact): the stage reads it from two branches and the CC loop
    re-reads the batch-batch subset every round. ``batch``: (doc_id,
    source) — the increment's population, which also defines the
    classification domain (the semantic variant restricts it to embedded
    docs with a documents row; the capstone passes each stage's survivor
    spine); checkpointed here because it feeds FOUR branches (two edge
    semi-joins, the contact restriction, the cls spine).

    Component semantics, same as dedup_clusters: CC over the batch-batch
    edges RESTRICTED to spine members on both endpoints (an edge to an
    orphan — e.g. a semantic edge to an embedding whose document row is
    absent, or the capstone's edge to an earlier-stage drop — must not
    elect a ghost as the kept representative); a component is
    corpus-tainted when ANY member has a direct verified corpus neighbor
    (taint needs no corpus-corpus edges — a component touches history
    iff some member touches it directly; the corpus side is NOT
    spine-restricted: history's store is authoritative for "already
    represented"). Tainted members drop vs_corpus; a batch-only
    component keeps its min-id member and drops the rest — every drop
    has a LIVE representative (the corpus or the kept min), never an
    already-dropped neighbor or a ghost.

    ``batch_members``: optional (doc_id) frame holding the FULL batch
    population (a superset of the spine). When given, an edge
    endpoint's batch-ness is decided by MEMBERSHIP in it — the
    production rule the persisted-artifact path needs: on day 2 an
    edge to a day-1 KEPT doc (now appended to the artifacts) must read
    as corpus contact, which the default id-parity fixture cannot
    express (a day-1 doc keeps its batch parity forever). It is used
    as given, so it must be one row per id and SHOULD be materialized:
    it feeds both the batch-batch and the contact branches (every
    production caller hands in an eager checkpoint). When None the
    parity fixture applies, byte-identical to every oracle (both
    spellings pinned by test_batch_membership_generalizes_parity)."""
    batch = batch.localCheckpoint(eager=True)
    ids = batch.select("doc_id")
    if batch_members is None:
        a_b = parity_batch_predicate(F.col("id_a"))
        b_b = parity_batch_predicate(F.col("id_b"))
    else:
        be = endpoint_member_flags(
            be, batch_members.select("doc_id"), "id_a", "id_b"
        )
        a_b = F.col("__incr_a").isNotNull()
        b_b = F.col("__incr_b").isNotNull()
    bb = _spine_bb(be, ids, a_b, b_b)
    # TWO consumers (the tainted-component build and the cls spine) —
    # checkpoint the tiny contact list instead of re-running its
    # distinct per branch (the oracle marks the same CTE MATERIALIZED)
    contact = _spine_contact(be, ids, a_b, b_b).localCheckpoint(eager=True)
    # comp feeds TWO branches (tainted + cls); the eager checkpoint is
    # the multi-branch materialization AND lets the loop's interim label
    # persist be released immediately
    comp = _cc_labels(bb, "doc_id")
    return _cls_assemble(batch, comp, contact)


def incremental_component_report(
    be: DataFrame, batch: DataFrame, kind: str
) -> DataFrame:
    """Per-source report over ``incremental_component_cls`` under the
    parity rule — the tail of the standalone incremental operators (the
    capstone consumes the cls rows directly instead)."""
    return component_cls_report(incremental_component_cls(be, batch), kind)


def component_cls_report(cls: DataFrame, kind: str) -> DataFrame:
    """The per-source aggregation over a (doc_id, source, vs_corpus,
    in_batch) classification frame — split out so callers that already
    HOLD a cls frame (the two-day near operator reports each
    generation's checkpointed cls without re-running the component
    stage) consume the SAME report definition."""
    vs = F.col("vs_corpus") == 1
    ib = F.col("in_batch") == 1
    return cls.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.count(F.when(vs, 1)).alias(f"n_{kind}_vs_corpus"),
        F.count(F.when(ib, 1)).alias(f"n_{kind}_in_batch"),
        F.count(F.when(~vs & ~ib, 1)).alias("n_novel_kept"),
    )


@query(
    "dedup_incremental_near",
    oracle=f"""
    WITH RECURSIVE cands AS ({_LSH_CANDIDATES_SQL}),
    bc AS (
      SELECT doc_a, doc_b FROM cands
      WHERE doc_a % {INCR_MOD} = 0 OR doc_b % {INCR_MOD} = 0
    ),
    sh AS ({_SHINGLE_SQL}),
    shh AS ({_SHH_SQL}),
    {_incr_verify_be_sql()},
    batch AS (
      SELECT doc_id, source FROM documents WHERE doc_id % {INCR_MOD} = 0
    ),
    {_incremental_edges_sql()},
    {_cc_closure_sql("bb", "id_a", "id_b", "comp")},
    {_incremental_report_sql("neardup")}
    """,
    doc="Incremental NEAR-dup ingest — the companion to "
    "dedup_incremental_ingest (exact digests) for the same daily-batch "
    "shape: today's batch (doc_id % INCR_MOD = 0 plays the increment) is "
    "checked for near-duplicates against the already-ingested corpus and "
    "within itself. Classification is COMPONENT-based, the same "
    "transitive semantics as dedup_clusters (see "
    "incremental_component_report, the tail shared with the semantic "
    "sibling): a doc in a corpus-tainted component (or with a direct "
    "corpus match) is n_neardup_vs_corpus — its content family is "
    "already represented in history; a batch-only component keeps its "
    "min-id member (n_novel_kept) and drops the rest "
    "(n_neardup_in_batch) — so every drop has a LIVE representative, "
    "never an already-dropped neighbor (a pairwise smaller-id rule has "
    "exactly the dead-canonical hole pipeline_clean_corpus_v2's "
    "survivor-aware fix closed: in a chain a-b-c the middle drop "
    "orphans c). Candidates are the session-shared LSH pairs FILTERED "
    "to batch-touching pairs, verified at INCR_NEAR_TAU=0.8 (the batch "
    "pipeline's own bar) over the shared shingle checkpoint — zero new "
    "kernels. At 100 TB the history side is the persisted artifact pair "
    "a production pipeline already maintains: the band→bucket table "
    "(bucketed by bkey, so batch signatures probe it with NO shuffle of "
    "history) and the (doc_id, hb) shingle table (point-fetched by "
    "candidate id for verify). Per-batch cost is O(batch signatures + "
    "touched-bucket collisions + candidate verify + CC over the tiny "
    "batch-batch verified graph) — the historical corpus is never "
    "re-scanned, which is the entire point versus re-running the full "
    "near-dup build over corpus+batch.",
)
def dedup_incremental_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shared_hashed_shingles(spark, sf_dir)
    cands = shared_lsh_candidates(spark, sf_dir).select("doc_a", "doc_b")
    bc = cands.filter(
        (F.col("doc_a") % INCR_MOD == 0) | (F.col("doc_b") % INCR_MOD == 0)
    )
    # the verified pairs feed the shared tail's multiple consumers:
    # checkpoint once per the standing multi-branch discipline (the
    # semantic sibling hands in its session-shared edge artifact instead)
    be = (
        jaccard_verify(bc, sh, threshold=INCR_NEAR_TAU)
        .select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"))
        .localCheckpoint(eager=True)
    )
    batch = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % INCR_MOD == 0)
        .select("doc_id", "source")
    )
    return incremental_component_report(be, batch, "neardup")


@query(
    "dedup_incremental_simhash",
    oracle=f"""
    WITH RECURSIVE {_simhash_cand_ham_sql()},
    be AS MATERIALIZED (
      SELECT doc_a AS id_a, doc_b AS id_b FROM hpairs
      WHERE hamming <= {SIMHASH_HAM_MAX}
        AND (doc_a % {INCR_MOD} = 0 OR doc_b % {INCR_MOD} = 0)
    ),
    batch AS (
      SELECT doc_id, source FROM documents WHERE doc_id % {INCR_MOD} = 0
    ),
    {_incremental_edges_sql()},
    {_cc_closure_sql("bb", "id_a", "id_b", "comp")},
    {_incremental_report_sql("simdup")}
    """,
    doc="Incremental SimHash ingest — the FIFTH incremental sibling "
    "(exact digests, MinHash-LSH near, SRP-semantic, cross-modal "
    "paired, and now banded-Hamming SimHash), completing VERDICT r12 "
    "#4's integration of the SimHash modality into the incremental "
    "story: today's batch (doc_id % INCR_MOD = 0) is checked for "
    "signature near-duplicates against the already-ingested corpus and "
    "within itself. Edges are the session-shared simhash "
    "candidate+distance chain (shared_simhash_hamming — the SAME frame "
    "the pair operator and the calibration sweep read, so this stage "
    "can never disagree with them) filtered to batch-touching pairs at "
    "HAM_MAX; classification is the shared component tail "
    "(incremental_component_report — corpus taint, component-min keep), "
    "identical semantics to the near/semantic siblings. The banding's "
    "pigeonhole guarantee carries over: recall of the HAM_MAX=3 "
    "contract is EXACT among under-cap buckets, which neither the "
    "MinHash nor the SRP incremental stage can promise. WHY MinHash "
    "remains pipeline_clean_corpus_v2's composed near stage (the "
    "registry-visible scope note VERDICT r12 #4 asks for): the "
    "calibration sweeps measure DIFFERENT detection bands — the Hamming "
    "histogram's near-dup mass sits at <=3 bits (13 pairs at sf0.01, "
    "template-grade signature matches) while the Jaccard sweep's 0.8 "
    "bar admits a strictly broader lexical-overlap family (the same "
    "corpus verifies hundreds of pairs); composing SimHash INSTEAD of "
    "MinHash would silently shrink the capstone's near stage to the "
    "high-precision band, and composing BOTH would double-verify one "
    "family for no marginal drop at the measured overlap. SimHash "
    "therefore enters the incremental family as its own modality "
    "(this operator + the persisted signature artifact), not as a "
    "replacement inside the frozen v2 capstone. At 100 TB: history "
    "contributes only its 8-byte-signature artifact (bucketed by "
    "doc_id for the verify probe; band rows derive from it in one "
    "map), per-batch cost is O(batch signatures + touched-bucket "
    "collisions + popcount verify + CC over the batch-batch graph) — "
    "history text is never re-read. reference: no analogue — "
    "training-pipeline extension.",
)
def dedup_incremental_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the edge frame is filters over the session-cached simhash chain —
    # already a materialized checkpoint, so the shared tail's CC loop
    # re-reads cheap in-job filters, not a recomputed signature build
    # (the multi-branch discipline's "session artifact" form)
    be = (
        shared_simhash_hamming(spark, sf_dir)
        .filter(F.col("hamming") <= SIMHASH_HAM_MAX)
        .filter(
            (F.col("doc_a") % INCR_MOD == 0)
            | (F.col("doc_b") % INCR_MOD == 0)
        )
        .select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"))
    )
    batch = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % INCR_MOD == 0)
        .select("doc_id", "source")
    )
    return incremental_component_report(be, batch, "simdup")


@query(
    "dedup_incremental_two_day_near",
    oracle=f"""
    WITH RECURSIVE cands AS ({_LSH_CANDIDATES_SQL}),
    bc AS (
      SELECT doc_a, doc_b FROM cands
      WHERE doc_a % {INCR_MOD} IN (0, {INCR_DAY2_REM})
         OR doc_b % {INCR_MOD} IN (0, {INCR_DAY2_REM})
    ),
    sh AS ({_SHINGLE_SQL}),
    shh AS ({_SHH_SQL}),
    {_incr_verify_be_sql()},
    batch1 AS (
      SELECT doc_id, source FROM documents WHERE doc_id % {INCR_MOD} = 0
    ),
    be1 AS MATERIALIZED (
      SELECT id_a, id_b FROM be
      WHERE id_a % {INCR_MOD} <> {INCR_DAY2_REM}
        AND id_b % {INCR_MOD} <> {INCR_DAY2_REM}
    ),
    {_incremental_edges_sql("1", "be1", "batch1")},
    {_cc_closure_sql("bb1", "id_a", "id_b", "comp1", tag="1")},
    {_incremental_cls_sql("1", "be1", "batch1")},
    drops1 AS MATERIALIZED (
      SELECT doc_id FROM cls1 WHERE vs_corpus = 1 OR in_batch = 1
    ),
    batch2 AS (
      SELECT doc_id, source FROM documents
      WHERE doc_id % {INCR_MOD} = {INCR_DAY2_REM}
    ),
    be2 AS MATERIALIZED (
      SELECT id_a, id_b FROM be
      WHERE (id_a % {INCR_MOD} = {INCR_DAY2_REM}
             OR id_b % {INCR_MOD} = {INCR_DAY2_REM})
        AND id_a NOT IN (SELECT doc_id FROM drops1)
        AND id_b NOT IN (SELECT doc_id FROM drops1)
    ),
    {_incremental_edges_sql("2", "be2", "batch2", rem=INCR_DAY2_REM)},
    {_cc_closure_sql("bb2", "id_a", "id_b", "comp2", tag="2")},
    {_incremental_cls_sql("2", "be2", "batch2", rem=INCR_DAY2_REM)}
    SELECT 1 AS ingest_day, source,
           COUNT(*) AS n_batch,
           COUNT(*) FILTER (WHERE vs_corpus = 1) AS n_neardup_vs_corpus,
           COUNT(*) FILTER (WHERE in_batch = 1) AS n_neardup_in_batch,
           COUNT(*) FILTER (WHERE vs_corpus = 0 AND in_batch = 0)
             AS n_novel_kept
    FROM cls1 GROUP BY source
    UNION ALL
    SELECT 2 AS ingest_day, source,
           COUNT(*) AS n_batch,
           COUNT(*) FILTER (WHERE vs_corpus = 1) AS n_neardup_vs_corpus,
           COUNT(*) FILTER (WHERE in_batch = 1) AS n_neardup_in_batch,
           COUNT(*) FILTER (WHERE vs_corpus = 0 AND in_batch = 0)
             AS n_novel_kept
    FROM cls2 GROUP BY source
    """,
    doc="TWO-generation NEAR-dup ingest — the component-stage sibling of "
    "dedup_incremental_two_day_exact, putting this round's multi-day "
    "semantics in oracle-bearing form for the HARD stage (transitive "
    "components, not digest equality). Day 1 (doc_id % 10 = 0) runs the "
    "standard incremental near classification against history; day 2 "
    "(doc_id % 10 = 5, a DISTINCT generation) classifies against "
    "history GROWN by day 1's keeps: a day-2 near-dup of a day-1 KEPT "
    "doc is n_neardup_vs_corpus (the kept doc's band/shingle rows were "
    "appended — its content is corpus now), while a day-2 near-dup of a "
    "day-1 DROPPED doc is NOT tainted by it (the drop appended nothing; "
    "its edges are excluded from day 2's universe) — both directions "
    "pinned by the crafted chain test. Both days run the classification "
    "tail incremental_component_cls uses, over ONE connected-components "
    "pass (the two days' batch-batch edges live on disjoint ids); on "
    "day 2 'corpus' = history PLUS day-1 keeps, so day-1 drops' edges "
    "are removed from day 2's edges before its contacts are read. "
    "ONE signature pass and ONE "
    "Jaccard verify cover both generations (candidates touching either "
    "batch, verified once, split per generation by endpoint filters). "
    "At 100 TB: per-day cost is O(batch signatures + touched-bucket "
    "collisions + one candidate verify + CC over two tiny batch-batch "
    "graphs); the day-2 probe reads the band/shingle artifacts exactly "
    "as day 1 did, grown by the append. reference: no analogue — "
    "training-pipeline extension.",
)
def dedup_incremental_two_day_near(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d1 = parity_batch_predicate
    d2 = lambda c: c % INCR_MOD == INCR_DAY2_REM  # noqa: E731
    sh = shared_hashed_shingles(spark, sf_dir)
    cands = shared_lsh_candidates(spark, sf_dir).select("doc_a", "doc_b")
    # ONE verify over candidates touching EITHER generation; the
    # verified edge table feeds both days' classifications — checkpoint
    bc = cands.filter(
        d1(F.col("doc_a")) | d1(F.col("doc_b"))
        | d2(F.col("doc_a")) | d2(F.col("doc_b"))
    )
    be_lazy = (
        jaccard_verify(bc, sh, threshold=INCR_NEAR_TAU)
        .select(F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"))
    )
    docs = load_table(spark, sf_dir, "documents")
    # ONE spine checkpoint serves both generations (filters over it are
    # within-job); the two days' id sets are DISJOINT (%10==0 vs ==5).
    # The edge table and the spine are INDEPENDENT — materialize both
    # concurrently (guide §2.6; see eager_checkpoints)
    batch_lazy = docs.filter(
        d1(F.col("doc_id")) | d2(F.col("doc_id"))
    ).select("doc_id", "source")
    be, batch = eager_checkpoints(be_lazy, batch_lazy)
    batch1 = batch.filter(d1(F.col("doc_id")))
    batch2 = batch.filter(d2(F.col("doc_id")))
    a1, b1 = d1(F.col("id_a")), d1(F.col("id_b"))
    a2, b2 = d2(F.col("id_a")), d2(F.col("id_b"))
    # day 1: day-2 docs do not exist yet — drop every edge touching one
    be1 = be.filter(~d2(F.col("id_a")) & ~d2(F.col("id_b")))
    # ONE connected-components pass for both generations: day-1's
    # batch-batch edges (both endpoints %10==0) and day-2's (both
    # ==5) live on disjoint node sets, so components never mix and the
    # fused labels equal the two per-day runs exactly; day-2's
    # batch-batch edges cannot touch a day-1 drop (no day-1 endpoint),
    # so they are independent of day-1's outcome and need no exclusion.
    # Fusing halves the eager-job bill — the previous two
    # incremental_component_cls calls paid ~10 driver-synchronized
    # checkpoint/CC jobs on increment-sized frames (the round-10
    # scheduling floor, ~0.3 s each; measured 3.4-4.4 s steady); the
    # fused shape pays 6 (be, batch, CC, comp, cls1, the sink),
    # measured 2.2-2.5 s. ids=None: both spines are the FULL predicate
    # populations here (see _spine_bb), so the semi-join restriction is
    # an identity — skipped to keep the sink action's exchange count
    # down (every join is an AQE stage with a fixed scheduling cost).
    bb = _spine_bb(be1, None, a1, b1).unionByName(_spine_bb(be, None, a2, b2))
    comp = _cc_labels(bb, "doc_id")
    # per-generation contact seeds + the shared classification tail
    # (_cls_assemble — the same taint/min-keep rule the single-
    # generation path runs). Contacts are NOT checkpointed here: both
    # consumers re-derive them from the be/batch checkpoints within the
    # consuming job, cheaper than two more eager jobs. cls1 IS
    # checkpointed — it feeds the day-1 report AND the day-2 exclusion
    # list, and letting the sink action re-derive its whole join tree
    # twice measured ~0.4 s worse than the one eager job.
    cls1 = _cls_assemble(
        batch1, comp, _spine_contact(be1, None, a1, b1)
    ).localCheckpoint(eager=True)
    dropped = (F.col("vs_corpus") == 1) | (F.col("in_batch") == 1)
    drops1 = cls1.filter(dropped).select("doc_id")
    # day 2: corpus = history + day-1 KEEPS — membership no id rule can
    # express. A day-1 drop appended nothing, so its edges are excluded
    # from day-2's contact universe (anti-joins against the
    # increment-sized drop list; broadcast at scale).
    be2 = (
        be.filter(a2 | b2)
        .join(
            drops1.select(F.col("doc_id").alias("id_a")), "id_a", "left_anti"
        )
        .join(
            drops1.select(F.col("doc_id").alias("id_b")), "id_b", "left_anti"
        )
    )
    cls2 = _cls_assemble(batch2, comp, _spine_contact(be2, None, a2, b2))

    def _day(cls: DataFrame, day: int) -> DataFrame:
        return component_cls_report(cls, "neardup").select(
            F.lit(day).alias("ingest_day"), "*"
        )

    return _day(cls1, 1).unionByName(_day(cls2, 2))
