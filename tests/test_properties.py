"""Property-based tests (hypothesis) for the custom operators — a layer the
reference's test strategy lacks entirely (SURVEY §5: no property testing).

Each property pits a Spark operator against an independently-written
brute-force oracle on randomized input, so the operator's *algorithm* is
checked, not just its behavior on the fixed test corpus. Examples are kept
few (Spark round-trips are ~seconds) but each example is adversarial:
hypothesis shrinks failures to minimal cases.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from iceberg_explorer_spark.gate import validate_sql_lexical
from iceberg_explorer_spark.errors import InvalidSQLError
from iceberg_explorer_spark.operators.dedup import N_BANDS, lsh_candidates
from iceberg_explorer_spark.operators.incremental_artifacts import (
    BucketedArtifactStore,
)
from iceberg_explorer_spark.operators.joins import asof_join
from tests.conftest import SF_DIR_SMALL

SPARK_SETTINGS = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


# ---------------------------------------------------------------------------
# as-of join ≡ brute force
# ---------------------------------------------------------------------------
events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),      # key
        st.integers(min_value=0, max_value=50),     # time
        st.booleans(),                              # is_left
        st.integers(min_value=0, max_value=99),     # value (right rows)
    ),
    min_size=1,
    max_size=30,
)


@SPARK_SETTINGS
@given(rows=events_strategy)
def test_asof_join_matches_bruteforce(spark, rows):
    lefts = [
        (i, k, t) for i, (k, t, is_l, _v) in enumerate(rows) if is_l
    ]
    rights = [
        (k, t, v) for (k, t, is_l, v) in rows if not is_l
    ]
    if not lefts or not rights:
        return
    ldf = spark.createDataFrame(lefts, "lid long, k long, t long")
    rdf = spark.createDataFrame(rights, "k long, t long, v long")
    got = {
        r["lid"]: r["asof_v"]
        for r in asof_join(
            ldf, rdf, on="k", left_time="t", right_time="t",
            right_values=["v"], tie_breaker="v",
        ).collect()
    }
    for lid, k, t in lefts:
        cands = [(rt, v) for (rk, rt, v) in rights if rk == k and rt <= t]
        # operator contract: latest right row wins; among simultaneous
        # right rows the max tie_breaker wins
        want = max(cands, key=lambda c: (c[0], c[1]))[1] if cands else None
        assert got[lid] == want, (lid, k, t, cands)


# ---------------------------------------------------------------------------
# MinHash-LSH: identical documents are ALWAYS candidates, with all bands
# ---------------------------------------------------------------------------
words = st.lists(
    st.sampled_from("alpha beta gamma delta epsilon zeta eta theta".split()),
    min_size=3,
    max_size=12,
)


@SPARK_SETTINGS
@given(docs=st.lists(words, min_size=2, max_size=6), dup_of=st.integers(0, 5))
def test_lsh_identical_docs_share_all_bands(spark, docs, dup_of):
    dup_of %= len(docs)
    texts = [" ".join(w) for w in docs]
    texts.append(texts[dup_of])  # exact duplicate of one document
    dup_id = len(texts) - 1
    rows = []
    for i, t in enumerate(texts):
        toks = t.split()
        rows += [
            (i, " ".join(toks[j : j + 3])) for j in range(len(toks) - 2)
        ]
    sh = spark.createDataFrame(rows, "doc_id long, s string")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_shared_bands"]
        for r in lsh_candidates(spark, SF_DIR_SMALL, shingles=sh).collect()
    }
    # identical shingle sets → identical signatures → all bands collide
    assert pairs.get((dup_of, dup_id)) == N_BANDS, pairs


# ---------------------------------------------------------------------------
# SQL gate: forbidden keywords are rejected in ANY casing / position
# ---------------------------------------------------------------------------
@given(
    kw=st.sampled_from(["INSERT", "DROP", "MERGE", "ATTACH", "VACUUM", "COPY"]),
    casing=st.sampled_from([str.lower, str.upper, str.title]),
    position=st.sampled_from(
        ["{kw} INTO t VALUES (1)",
         "SELECT * FROM t; {kw} TABLE t",
         "WITH x AS (SELECT 1) {kw} TABLE t",
         "SELECT {kw}(a) FROM t"]
    ),
)
@settings(max_examples=40, deadline=None)
def test_gate_rejects_forbidden_keyword_everywhere(kw, casing, position):
    sql = position.format(kw=casing(kw))
    with pytest.raises(InvalidSQLError):
        validate_sql_lexical(sql)


@given(
    cols=st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=3, unique=True),
    n=st.integers(min_value=0, max_value=9),
)
@settings(max_examples=20, deadline=None)
def test_gate_admits_plain_selects(cols, n):
    sql = f"SELECT {', '.join(cols)} FROM t WHERE a > {n}"
    assert validate_sql_lexical(sql) == sql.strip()


def test_salted_join_equals_plain_join(spark):
    """The salted join must be multiset-identical to the plain join for
    inner and left — salting changes the partitioning, never the result."""
    from iceberg_explorer_spark.operators.joins import salted_join
    from iceberg_explorer_spark.sources.registry import load_table
    from tests.conftest import SF_DIR_SMALL

    li = load_table(spark, SF_DIR_SMALL, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    orders = load_table(spark, SF_DIR_SMALL, "orders").select(
        "o_orderkey", "o_orderpriority"
    ).withColumnRenamed("o_orderkey", "l_orderkey")

    for how in ("inner", "left"):
        got = salted_join(li, orders, on=["l_orderkey"], num_salts=8, how=how)
        want = li.join(orders, on=["l_orderkey"], how=how)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), how

    import pytest

    with pytest.raises(ValueError):
        salted_join(li, orders, on=["l_orderkey"], how="full")


def test_token_shards_partition_invariants(spark):
    """Shard packing is a partition of the corpus: token totals are
    conserved, every document lands in exactly one shard, and shard ids are
    contiguous from 0 within each source."""
    from pyspark.sql import functions as F

    from iceberg_explorer_spark.operators.pipeline import pipeline_token_shards
    from iceberg_explorer_spark.sources.registry import load_table
    from tests.conftest import SF_DIR_SMALL

    shards = pipeline_token_shards(spark, SF_DIR_SMALL).collect()
    docs = load_table(spark, SF_DIR_SMALL, "documents")
    totals = docs.select(
        F.sum(
            F.size(F.filter(F.split(F.col("text"), " "), lambda w: w != ""))
        ).alias("tokens"),
        F.count(F.lit(1)).alias("docs"),
    ).collect()[0]

    assert sum(r["shard_tokens"] for r in shards) == totals["tokens"]
    assert sum(r["n_docs"] for r in shards) == totals["docs"]
    by_source = {}
    for r in shards:
        by_source.setdefault(r["source"], []).append(r["shard_id"])
    for source, ids in by_source.items():
        assert sorted(ids) == list(range(len(ids))), source


# ---------------------------------------------------------------------------
# scale guards: LSH hot-bucket cap, component checkpointing, GEMM tiling
# ---------------------------------------------------------------------------
def test_lsh_hot_bucket_cap_drops_pathological_bucket(spark):
    """300 identical docs share one bucket per band; the frequency cap must
    drop those buckets (0 candidate pairs) instead of emitting C(300,2)
    pairs ×4 bands — the guard that keeps one boilerplate bucket from going
    quadratic at scale. Uncapped, the same input must yield every pair."""
    n = 300
    shingles = spark.createDataFrame(
        [(d, s) for d in range(n) for s in ("a b c", "b c d")],
        "doc_id long, s string",
    )
    capped = lsh_candidates(spark, SF_DIR_SMALL, shingles=shingles)
    assert capped.count() == 0
    uncapped = lsh_candidates(
        spark, SF_DIR_SMALL, shingles=shingles, max_bucket=None
    )
    row = uncapped.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("n_shared_bands").alias("min_bands"),
    ).collect()[0]
    assert row["n_pairs"] == n * (n - 1) // 2
    assert row["min_bands"] == N_BANDS


def test_connected_components_deep_chain_checkpoints(spark):
    """A path graph needs O(diameter) label-propagation rounds — deep enough
    here to cross CC_CHECKPOINT_EVERY twice, exercising the lineage
    truncation. Components and min-labels must still be exact."""
    from iceberg_explorer_spark.operators.dedup import (
        CC_CHECKPOINT_EVERY,
        connected_components,
    )

    chain_a = [(i, i + 1) for i in range(100, 112)]  # diameter 12
    chain_b = [(i, i + 1) for i in range(200, 203)]
    edges = spark.createDataFrame(chain_a + chain_b, "doc_a long, doc_b long")
    assert 12 > 2 * CC_CHECKPOINT_EVERY  # the test must cross checkpoints
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, local_max_edges=0).collect()
    }
    assert got == {**{i: 100 for i in range(100, 113)},
                   **{i: 200 for i in range(200, 204)}}


def test_connected_components_log_diameter_convergence(spark):
    """The r9 hybrid: past CC_DOUBLE_AFTER plain rounds, each propagation
    is followed by a pointer-doubling compression (lbl := lbl[lbl]), so a
    deep chain converges in CC_DOUBLE_AFTER + O(log d) rounds instead of
    O(d) — diameter 128 measured 11 rounds vs 129+ plain (SCALE.md r9).
    Labels must still be the exact component minimum, and the lineage must
    stay bounded (the compress self-join doubles the plan per round;
    without the per-span truncation this exact case OOM'd the JVM on
    plan stringification). Also pins that compression never fires before
    CC_DOUBLE_AFTER: the telemetry on a trivially shallow graph shows
    plain-propagation round counts."""
    from iceberg_explorer_spark.operators.dedup import (
        CC_DOUBLE_AFTER,
        connected_components,
    )

    d = 128
    chain = [(i, i + 1) for i in range(d)]
    out = connected_components(
        spark.createDataFrame(chain, "doc_a long, doc_b long"),
        local_max_edges=0,
    )
    got = {r["node"]: r["component"] for r in out.collect()}
    assert got == {i: 0 for i in range(d + 1)}
    # log-diameter bound with slack: CC_DOUBLE_AFTER plain rounds +
    # ~2*log2(128) compressed + span overshoot (measured: 15 rounds) —
    # far below the 129 plain propagation would need
    assert out.cc_rounds <= CC_DOUBLE_AFTER + 20, out.cc_rounds
    assert out.cc_compressions > 0  # the deep path really engaged
    out.cc_persisted_labels.unpersist()

    # shallow graph: converges well inside the threshold, so the
    # compress join NEVER fires — zero, not "at most one": the r8
    # audit's rejection of always-on jumping is honored exactly for the
    # graphs real dedup produces (sf0.1's LSH graph measures
    # cc_rounds == 3, semantic graph 7: compression never activates)
    shallow = connected_components(
        spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long"),
        local_max_edges=0,
    )
    assert shallow.cc_rounds <= CC_DOUBLE_AFTER
    assert shallow.cc_compressions == 0
    shallow.cc_persisted_labels.unpersist()


def test_connected_components_round_bound_raises(spark):
    from iceberg_explorer_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_rounds=3, local_max_edges=0)


def test_gemm_tiling_matches_untiled():
    """Blocked upper-triangular GEMM must produce the exact pair SET of the
    one-shot M @ M.T, with cosines equal to ~1e-12 (BLAS picks different
    kernels per matrix shape, so last-bit equality across blockings is not
    guaranteed; downstream rounds to 6 decimals)."""
    import numpy as np

    from iceberg_explorer_spark.operators.similarity import gemm_upper_pairs

    rng = np.random.default_rng(7)
    n, dim = 23, 8
    m = rng.normal(size=(n, dim))
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    ids = np.arange(10, 10 + n)

    tiled = {}
    for va, vb, cs in gemm_upper_pairs(ids, m, tile=6):
        for x, y, c in zip(va, vb, cs):
            tiled[(int(x), int(y))] = float(c)

    full = m @ m.T
    iu = np.triu_indices(n, k=1)
    want = {
        (int(ids[i]), int(ids[j])): float(full[i, j])
        for i, j in zip(iu[0], iu[1])
    }
    assert set(tiled) == set(want)
    for k in want:
        assert abs(tiled[k] - want[k]) < 1e-12, (k, tiled[k], want[k])


def test_frame_sample_short_payload_emits_no_frames(spark, tmp_path):
    """Payloads shorter than FRAME_BYTES must emit ZERO frames (Spark's
    sequence(0,-1) is a descending two-element array — ungated it emits a
    spurious frame 0 that DuckDB's empty generate_series never produces)."""
    from iceberg_explorer_spark.operators.multimodal import (
        FRAME_BYTES,
        multimodal_frame_sample,
    )

    d = str(tmp_path / "frames_sf")
    spark.createDataFrame(
        [(1, "short"), (2, "x" * (FRAME_BYTES * 2 + 3))],
        "doc_id long, text string",
    ).write.parquet(f"{d}/documents.parquet")
    rows = multimodal_frame_sample(spark, d).collect()
    assert all(r["doc_id"] != 1 for r in rows)  # len("short") < FRAME_BYTES
    assert sorted(r["frame_idx"] for r in rows if r["doc_id"] == 2) == [0]


def test_token_shard_prefix_matches_single_window_under_skew(spark):
    """Two-phase distributed prefix sum == the naive one-window answer,
    on a corpus where one source holds 90% of the rows (the shape that
    serializes the naive window onto one reducer). Tiny block size forces
    the multi-block path: in-block sums, cross-block offsets, and the
    block-boundary handoff are all exercised."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from iceberg_explorer_spark.operators.pipeline import token_shard_prefix

    rows = []
    for i in range(1000):
        src = "web" if i % 10 != 0 else f"src{i % 3}"
        rows.append((src, i * 7 % 997 + i, (i * 31 + 7) % 50 + 1))
    t = spark.createDataFrame(rows, "source string, doc_id long, n_tokens int")

    got = {
        (r.source, r.doc_id): r.prev_tokens
        for r in token_shard_prefix(t, block=8).collect()
    }
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, -1
    )
    expected = {
        (r.source, r.doc_id): r.prev_tokens
        for r in t.withColumn(
            "prev_tokens", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        ).collect()
    }
    assert got == expected


def test_jaccard_verify_bounds_pathological_doc(spark):
    """A 1M-shingle document (log dump, concatenated crawl page) must not
    materialize a 1M-element array in the verify stage: the bottom-k cap
    keeps each per-doc set at max_doc_shingles. Pairs of docs under the cap
    stay EXACT; the oversized doc degrades to the bottom-k Jaccard estimate
    instead of an OOM."""
    from pyspark.sql import functions as F

    from iceberg_explorer_spark.operators.dedup import jaccard_verify

    cap = 1024
    # doc 1: 1M distinct shingle hashes; docs 2 and 3: 600 hashes, 400 shared
    big = spark.range(1_000_000).select(
        F.lit(1).alias("doc_id"), (F.col("id") * 7 + 3).alias("hb")
    )
    d2 = spark.range(600).select(
        F.lit(2).alias("doc_id"), (F.col("id") * 11).alias("hb")
    )
    d3 = spark.range(600).select(
        F.lit(3).alias("doc_id"),
        F.when(F.col("id") < 400, F.col("id") * 11)  # 400 shared with d2
        .otherwise(F.col("id") * 13 + 1_000_000_007)
        .alias("hb"),
    )
    sh = big.unionByName(d2).unionByName(d3)
    cands = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    out = jaccard_verify(cands, sh, threshold=0.0, max_doc_shingles=cap)
    rows = {(r.doc_a, r.doc_b): r for r in out.collect()}
    # the under-cap pair is exact: |A∩B|=400, |A∪B|=800
    exact = rows[(2, 3)]
    assert exact.n_common == 400 and abs(exact.jaccard - 0.5) < 1e-12
    # the oversized doc was capped: its set can contribute at most `cap`
    # elements, so n_common is bounded by the cap, not by 1M
    assert rows[(1, 2)].n_common <= cap


def test_sequence_pack_packing_invariants(spark):
    """Sequence packing is a token-interval partition: every sequence except
    each source's last carries exactly SEQ_TOKENS tokens, token totals are
    conserved, seq ids are contiguous from 0, and carried-over docs
    (n_docs - n_starting) never exceed 1 per boundary."""
    from pyspark.sql import functions as F

    from iceberg_explorer_spark.operators.pipeline import (
        SEQ_TOKENS,
        pipeline_sequence_pack,
    )
    from iceberg_explorer_spark.sources.registry import load_table
    from tests.conftest import SF_DIR_SMALL

    rows = pipeline_sequence_pack(spark, SF_DIR_SMALL).collect()
    docs = load_table(spark, SF_DIR_SMALL, "documents")
    total_tokens = docs.select(
        F.sum(
            F.size(F.filter(F.split(F.col("text"), " "), lambda w: w != ""))
        ).alias("t")
    ).collect()[0]["t"]

    assert sum(r["seq_tokens"] for r in rows) == total_tokens
    by_source = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    for source, seqs in by_source.items():
        seqs.sort(key=lambda r: r["seq_id"])
        assert [r["seq_id"] for r in seqs] == list(range(len(seqs))), source
        for r in seqs[:-1]:
            assert r["seq_tokens"] == SEQ_TOKENS, (source, r)
        assert 0 < seqs[-1]["seq_tokens"] <= SEQ_TOKENS, source
        for r in seqs:
            # at most one doc can straddle into a sequence from the left
            assert r["n_docs"] - r["n_starting"] <= 1, (source, r)


def test_global_shuffle_shards_are_balanced_and_exhaustive(spark):
    """The hash permutation must cut into SHUFFLE_SHARDS contiguous-rank
    shards whose sizes differ by at most the ceil/floor rounding, cover
    every document exactly once, and mix sources (every shard sees more
    than one source on this corpus)."""
    import math

    from iceberg_explorer_spark.operators.pipeline import (
        SHUFFLE_SHARDS,
        pipeline_global_shuffle,
    )
    from iceberg_explorer_spark.sources.registry import load_table
    from tests.conftest import SF_DIR_SMALL

    rows = pipeline_global_shuffle(spark, SF_DIR_SMALL).collect()
    n_docs = load_table(spark, SF_DIR_SMALL, "documents").count()
    size = math.ceil(n_docs / SHUFFLE_SHARDS)
    n_full = n_docs // size

    assert sum(r["n_docs"] for r in rows) == n_docs
    assert sorted(r["shard_id"] for r in rows) == list(range(len(rows)))
    for r in rows:
        if r["shard_id"] < n_full:
            assert r["n_docs"] == size, r
        else:
            assert 0 < r["n_docs"] <= size, r
        assert r["n_sources"] > 1, r


def test_chunk_documents_reconstruction_invariants(spark):
    """Every document must be exactly reconstructible from its chunks:
    chunk i covers words [i*48, i*48+64), so doc = concat of each chunk's
    first 48 words + the final chunk's tail. Also pins: per-doc chunk ids
    are dense from 0, all chunks but the last are full when the doc is
    longer than one window, and overlap between consecutive chunks is
    16 words."""
    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.pipeline import (
        CHUNK_STRIDE,
        CHUNK_WORDS,
    )
    from iceberg_explorer_spark.sources.registry import load_table

    docs = {
        r["doc_id"]: [w for w in r["text"].split(" ") if w != ""]
        for r in load_table(spark, SF_DIR_SMALL, "documents").collect()
    }
    out: dict[int, dict[int, list[str]]] = {}
    for r in QUERIES["pipeline_chunk_documents"].builder(
        spark, SF_DIR_SMALL
    ).collect():
        out.setdefault(r["doc_id"], {})[r["chunk_id"]] = (
            [w for w in r["chunk_text"].split(" ") if w != ""]
        )
        assert r["n_chunk_tokens"] == len(out[r["doc_id"]][r["chunk_id"]])
    assert set(out) == {d for d in docs}
    for doc_id, chunks in out.items():
        words = docs[doc_id]
        ids = sorted(chunks)
        assert ids == list(range(len(ids)))  # dense from 0
        rebuilt: list[str] = []
        for i in ids[:-1]:
            assert len(chunks[i]) == CHUNK_WORDS  # only the tail is short
            rebuilt.extend(chunks[i][:CHUNK_STRIDE])
            # 16-word overlap with the next chunk
            assert chunks[i][CHUNK_STRIDE:] == chunks[i + 1][
                : CHUNK_WORDS - CHUNK_STRIDE
            ]
        rebuilt.extend(chunks[ids[-1]])
        assert rebuilt == words, doc_id


def test_span_boilerplate_crafted_duplicates(spark):
    """Two documents sharing one exact 8-word span (and nothing else) must
    each report exactly that span as common; an unrelated doc reports
    zero."""
    from iceberg_explorer_spark.operators.dedup import (
        SPAN_WORDS,
        dedup_span_boilerplate,
    )

    shared = " ".join(f"s{i}" for i in range(SPAN_WORDS))
    rows = [
        (1, shared + " " + " ".join(f"a{i}" for i in range(SPAN_WORDS))),
        (2, shared + " " + " ".join(f"b{i}" for i in range(SPAN_WORDS))),
        (3, " ".join(f"c{i}" for i in range(2 * SPAN_WORDS))),
    ]
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).write.parquet(os.path.join(d, "documents.parquet"))
        got = {
            r["doc_id"]: (r["n_spans"], r["n_common_spans"])
            for r in dedup_span_boilerplate(spark, d).collect()
        }
    assert got == {1: (2, 1), 2: (2, 1), 3: (2, 0)}


def test_chunk_pack_key_guard_raises_on_monster_doc(spark, monkeypatch):
    """chunk_key = doc_id * 1024 + i is only injective below 1024 chunks per
    document; past that the keys would interleave across documents and
    silently corrupt the packing order, so the plan must FAIL LOUDLY
    instead (ADVICE r4). A ~49k-word document is the smallest violator."""
    import pytest as _pytest

    from iceberg_explorer_spark.operators import pipeline as P

    text = " ".join(["w"] * (48 * 1025 + 64))  # 1026 chunks > 1024
    fake = spark.createDataFrame(
        [(1, "web", text)], ["doc_id", "source", "text"]
    )
    monkeypatch.setattr(P, "load_table", lambda spark, sf_dir, name: fake)
    df = P.pipeline_chunk_pack(spark, "unused")
    with _pytest.raises(Exception, match="chunk_key would collide"):
        df.count()


# ---------------------------------------------------------------------------
# round-5 operator invariants
# ---------------------------------------------------------------------------
def test_source_minhash_sketch_is_mergeable(spark):
    """The 100 TB design claim for the source sketch is mergeability:
    min-merging two sources' signatures must equal the signature of their
    unioned shingle sets. Verified through the operator's own hash family
    over the real corpus: relabel src0+src1 into one merged source and
    assert its signature is the element-wise min of the originals."""
    from iceberg_explorer_spark.operators.dedup import (
        MINHASH_P,
        N_SOURCE_HASHES,
        _lcg_params,
        _SHINGLE_HASH,
        _words,
    )
    from iceberg_explorer_spark.sources.registry import load_table

    docs = load_table(spark, SF_DIR_SMALL, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    dw = docs.select("source", _words().alias("w")).filter(F.size("w") >= 3)
    sh = dw.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("w", i),
                    F.element_at("w", i + 1),
                    F.element_at("w", i + 2),
                ),
            )
        ).alias("s"),
    )
    hashed = sh.select(
        "source", (F.expr(_SHINGLE_HASH) % MINHASH_P).alias("hb")
    )
    mins = []
    for i in range(N_SOURCE_HASHES):
        a, b = _lcg_params(i)
        mins.append(
            F.min((F.lit(a) * F.col("hb") + F.lit(b)) % F.lit(MINHASH_P)).alias(
                f"h{i}"
            )
        )
    per_source = {
        r["source"]: r
        for r in hashed.groupBy("source").agg(*mins).collect()
    }
    merged = (
        hashed.withColumn("source", F.lit("merged"))
        .groupBy("source")
        .agg(*mins)
        .collect()[0]
    )
    for i in range(N_SOURCE_HASHES):
        assert merged[f"h{i}"] == min(
            per_source["src0"][f"h{i}"], per_source["src1"][f"h{i}"]
        )


def test_int8_quantize_error_bounds(spark):
    """Quantization semantics tie the audit columns together: every
    element's reconstruction error is at most scale/2 (floor(x+0.5) is
    nearest-integer), so max_abs_err <= scale * (0.5 + eps), sq_err <=
    dim * max_abs_err^2, and scale > 0 for every surviving vector."""
    from iceberg_explorer_spark.operators import QUERIES

    rows = (
        QUERIES["similarity_int8_quantize"]
        .builder(spark, SF_DIR_SMALL)
        .collect()
    )
    assert rows
    for r in rows:
        assert r["scale"] > 0
        assert r["max_abs_err"] <= r["scale"] * 0.5000001
        assert 0 <= r["n_zero"]
        assert r["sq_err"] <= 64 * r["max_abs_err"] ** 2 + 1e-12


def test_pack_efficiency_conservation_identity(spark):
    """Token conservation: capacity - packed == pad - overflow holds per
    source by construction (packed = sum seq_tokens, both sides telescope
    over the same sequences), and utilization is exactly the rounded
    packed/capacity ratio."""
    from iceberg_explorer_spark.operators import QUERIES

    rows = (
        QUERIES["pipeline_pack_efficiency"]
        .builder(spark, SF_DIR_SMALL)
        .collect()
    )
    assert rows
    for r in rows:
        assert (
            r["capacity_tokens"] - r["packed_tokens"]
            == r["pad_tokens"] - r["overflow_tokens"]
        )
        # half-up reference (python round() is banker's; the engines agree
        # with each other on half-up, which is the contract under test)
        import math

        ref = (
            math.floor(r["packed_tokens"] / r["capacity_tokens"] * 1e6 + 0.5)
            / 1e6
        )
        assert abs(r["utilization"] - ref) < 1e-9


def test_vocab_growth_totals_match_distinct_shingles(spark):
    """The saturation curve must account for every distinct shingle exactly
    once: the final cumulative value equals an independently computed
    distinct-shingle count, and per-batch novelty sums telescope into the
    cumulative column."""
    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.dedup import _shingles_df

    rows = sorted(
        QUERIES["text_vocab_growth"].builder(spark, SF_DIR_SMALL).collect(),
        key=lambda r: r["batch"],
    )
    assert rows
    total = 0
    for r in rows:
        total += r["n_new_ngrams"]
        assert r["cum_ngrams"] == total
    distinct = (
        _shingles_df(spark, SF_DIR_SMALL, distinct=True)
        .select("s")
        .distinct()
        .count()
    )
    assert total == distinct


def test_centroid_drift_nonnegative_and_counts_partition(spark):
    """Drift is an L2 distance (>= 0) and the two batch counts partition
    each label's vectors exactly."""
    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.sources.registry import load_table

    rows = (
        QUERIES["similarity_centroid_drift"]
        .builder(spark, SF_DIR_SMALL)
        .collect()
    )
    assert rows
    totals = {
        r["label"]: r["cnt"]
        for r in load_table(spark, SF_DIR_SMALL, "embeddings")
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for r in rows:
        assert r["drift"] >= 0
        assert r["n_a"] + r["n_b"] == totals[r["label"]]


def test_abc_pareto_partitions_and_shares(spark):
    """The three classes partition all parts; revenue shares sum to 1;
    class A's cumulative share is within one part's revenue of the 80%
    cut by construction."""
    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.sources.registry import load_table

    rows = {
        r["abc_class"]: r
        for r in QUERIES["parts_abc_pareto"]
        .builder(spark, SF_DIR_SMALL)
        .collect()
    }
    n_parts = (
        load_table(spark, SF_DIR_SMALL, "lineitem")
        .select("l_partkey")
        .distinct()
        .count()
    )
    assert sum(r["n_parts"] for r in rows.values()) == n_parts
    assert abs(sum(r["revenue_share"] for r in rows.values()) - 1.0) < 1e-9
    # two-sided: A stops at the 80% cut AND reaches within one part's
    # revenue of it (the by-construction greedy-prefix property)
    from iceberg_explorer_spark.functions.deterministic import dec

    li = load_table(spark, SF_DIR_SMALL, "lineitem")
    rev = (dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast(
        "decimal(18,4)"
    )
    per_part = li.groupBy("l_partkey").agg(F.sum(rev).alias("r"))
    top = per_part.agg(
        F.max("r").cast("double").alias("mx"),
        F.sum("r").cast("double").alias("tot"),
    ).collect()[0]
    max_share = top["mx"] / top["tot"]
    assert "A" in rows
    assert rows["A"]["revenue_share"] <= 0.8 + 1e-9
    assert rows["A"]["revenue_share"] + max_share >= 0.8 - 1e-9


def test_funnel_latency_orderings(spark):
    """Stage invariants: converted <= entered, 0 <= rate <= 1, and
    min <= avg <= max for every stage with conversions."""
    from iceberg_explorer_spark.operators import QUERIES

    rows = (
        QUERIES["events_funnel_latency"].builder(spark, SF_DIR_SMALL).collect()
    )
    assert len(rows) == 2
    for r in rows:
        assert 0 <= r["n_converted"] <= r["n_entered"]
        assert 0.0 <= r["conv_rate"] <= 1.0
        if r["n_converted"]:
            assert r["min_us"] <= r["avg_us"] <= r["max_us"]


def test_ngram_entropy_bounds(spark):
    """Shannon bounds: 0 <= H <= log2(vocab) (+ micro-grid slack), and the
    n-gram count dominates the vocabulary size."""
    import math

    from iceberg_explorer_spark.operators import QUERIES

    rows = (
        QUERIES["text_ngram_entropy"].builder(spark, SF_DIR_SMALL).collect()
    )
    assert rows
    for r in rows:
        assert r["n_ngrams"] >= r["vocab_ngrams"] >= 1
        assert -1e-4 <= r["entropy_bits"] <= math.log2(r["vocab_ngrams"]) + 1e-4


def test_ahash_dedup_hash_domain_and_totals(spark):
    """Hashes live in the 16-bit domain and group counts sum to the number
    of decodable images."""
    from iceberg_explorer_spark.operators import QUERIES

    rows = (
        QUERIES["multimodal_ahash_dedup"].builder(spark, SF_DIR_SMALL).collect()
    )
    assert rows
    for r in rows:
        assert 0 <= r["ahash"] < (1 << 16)
    assert sum(r["n_images"] for r in rows) <= 500  # decodable subset


def test_cluster_stats_reconciles_with_cc(spark):
    """The yield report's totals reconcile exactly with the CC output it
    composes: sum(n_docs) equals the number of clustered docs and
    n_removable is n_docs minus one per cluster."""
    from iceberg_explorer_spark.operators import QUERIES

    cc_rows = QUERIES["dedup_clusters"].builder(spark, SF_DIR_SMALL).count()
    rows = (
        QUERIES["dedup_cluster_stats"].builder(spark, SF_DIR_SMALL).collect()
    )
    assert sum(r["n_docs"] for r in rows) == cc_rows
    for r in rows:
        assert r["n_removable"] == r["n_docs"] - r["n_clusters"]


def test_incremental_rollup_equals_full_recompute(spark):
    """The IVM contract: merging the history aggregate with the delta
    aggregate must be bit-identical to aggregating the full stream —
    every state component (count, exact-decimal sum, max) is
    commutative-associative, so the split point cannot matter."""
    from iceberg_explorer_spark.functions.deterministic import dec
    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.sources.registry import load_table

    merged = {
        r["event_type"]: (r["n_events"], r["total_value"], r["last_seen_us"])
        for r in QUERIES["events_incremental_rollup"]
        .builder(spark, SF_DIR_SMALL)
        .collect()
    }
    full = {
        r["event_type"]: (r["n"], r["v"], r["last_us"])
        for r in load_table(spark, SF_DIR_SMALL, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).cast("double").alias("v"),
            F.max(F.unix_micros("ts")).cast("bigint").alias("last_us"),
        )
        .collect()
    }
    assert merged == full


def test_event_ops_null_type_semantics(spark, tmp_path):
    """NULL event_type rows must not corrupt the round-5 event operators:
    the IVM merge keeps ONE null-key row (null-safe join), path mining
    drops null segments entirely (no phantom 2-step paths), and the
    drift monitor carries the null type as its own category. Run against
    a crafted corpus with NULLs split across both hash batches — the
    exact case the synthetic fixture never exercises."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES

    rows = []
    types = ["view", "click", None]
    for i in range(60):
        # ts spread over minutes; event_id drives both hash splits
        rows.append((i, f"2024-01-01 00:{i:02d}:00", i % 7, types[i % 3], 1.5))
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string, value double"
    ).select(
        "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    )
    d = str(tmp_path / "nulls")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet/*.parquet')"
    )
    from tests.conftest import assert_matches_oracle

    for name in (
        "events_incremental_rollup",
        "events_path_topk",
        "events_categorical_drift",
    ):
        spec = QUERIES[name]
        assert_matches_oracle(spec.builder(spark, d), con, spec.oracle, name)

    # and the specific shapes: exactly one NULL-key row in the IVM merge
    ivm = QUERIES["events_incremental_rollup"].builder(spark, d).collect()
    assert sum(1 for r in ivm if r["event_type"] is None) == 1
    # no path contains a null-skipped 2-step form
    paths = QUERIES["events_path_topk"].builder(spark, d).collect()
    assert all(p["path"].count(">") == 2 for p in paths)
    # drift output still covers the NULL category
    drift = QUERIES["events_categorical_drift"].builder(spark, d).collect()
    assert any(r["event_type"] is None for r in drift)


def test_connected_components_first_round_exit(spark):
    """An already-converged graph (self-loops only) must exit after ONE
    propagation round — the seeded identity-sum check, not a spurious
    non-convergence raise at small max_rounds."""
    from iceberg_explorer_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(5, 5), (9, 9)], "doc_a long, doc_b long"
    )
    out = {
        (r["node"], r["component"])
        for r in connected_components(
            edges, max_rounds=1, local_max_edges=0
        ).collect()
    }
    assert out == {(5, 5), (9, 9)}


# ---------------------------------------------------------------------------
# ADVICE r5 / VERDICT r5 #7: overflow bounds and zero-division edges,
# exercised at adversarial magnitudes instead of asserted in comments
# ---------------------------------------------------------------------------
def test_funnel_latency_empty_funnel_yields_nulls(spark):
    """On an EMPTY funnel every denominator is 0: both engines must report
    NULL rates — unguarded, Spark's integer path yields NULL while DuckDB's
    IEEE double division yields NaN, a latent oracle divergence (ADVICE
    r5). Pin the Spark side on a zero-row funnel and DuckDB's CASE-guard
    semantics directly."""
    import duckdb
    import math

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.events import _funnel_latency_report

    empty = QUERIES["events_funnel"].builder(spark, SF_DIR_SMALL).limit(0)
    rows = _funnel_latency_report(empty).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["n_entered"] == 0 and r["n_converted"] == 0
        # NULL, not NaN — and not a crash
        assert r["conv_rate"] is None
        assert r["avg_us"] is None
    # the oracle's guard produces the same NULL regardless of how the
    # engine's bare x/0 behaves (NULL in this DuckDB build, NaN in IEEE
    # mode — the guard makes the edge engine-independent either way)
    con = duckdb.connect()
    guarded, unguarded = con.execute(
        "SELECT CASE WHEN n = 0 THEN NULL ELSE CAST(c AS DOUBLE) / n END,"
        "       CAST(c AS DOUBLE) / n FROM (SELECT 0 AS n, 0 AS c)"
    ).fetchone()
    assert guarded is None
    assert unguarded is None or math.isnan(unguarded)


def test_abc_cut_exact_at_adversarial_magnitudes(spark):
    """The A/B/C class cut must stay exact when cum*100 overflows BIGINT
    (any total revenue past ~9e12 currency units = 9.2e16 1e-4-units).
    The widened DECIMAL(38,0) cut classifies correctly at the int64 edge;
    the DuckDB oracle's HUGEINT cut agrees (ADVICE r5: the old BIGINT cut
    wrapped silently in Spark ~100x below the sums' own headroom)."""
    import duckdb

    from iceberg_explorer_spark.operators.relational import _abc_class_expr

    total = 9_000_000_000_000_000_000  # 9e18: near the int64 max
    cases = [
        (total * 80 // 100 - 1, "A"),
        (total * 80 // 100, "A"),        # boundary: cum*100 == 80*total*...
        (total * 80 // 100 + 1, "B"),
        (total * 95 // 100, "B"),
        (total * 95 // 100 + 1, "C"),
        (total, "C"),
    ]
    df = spark.createDataFrame(
        [(c, total, want) for c, want in cases],
        "cum long, total long, want string",
    ).select(_abc_class_expr(F.col("cum"), F.col("total")).alias("got"), "want")
    for r in df.collect():
        assert r["got"] == r["want"], r
    # exact-Python ground truth + the oracle's HUGEINT arithmetic
    con = duckdb.connect()
    for cum, want in cases:
        py = "A" if cum * 100 <= 80 * total else (
            "B" if cum * 100 <= 95 * total else "C")
        assert py == want
        (duck,) = con.execute(
            f"SELECT CASE WHEN CAST({cum} AS HUGEINT) * 100"
            f"              <= 80 * CAST({total} AS HUGEINT) THEN 'A'"
            f"            WHEN CAST({cum} AS HUGEINT) * 100"
            f"              <= 95 * CAST({total} AS HUGEINT) THEN 'B'"
            f"            ELSE 'C' END"
        ).fetchone()
        assert duck == want


def test_ngram_entropy_decimal_path_exact_past_int64(spark):
    """The entropy rollup's cnt*q products must survive counts where they
    exceed int64 (the >2e11-ngrams-per-source regime the operator doc
    claims): DECIMAL(38,0) intermediates in Spark and HUGEINT sums in
    DuckDB must both match exact-Python integer-grid arithmetic."""
    import duckdb
    import math

    from iceberg_explorer_spark.operators.text import (
        ENTROPY_SCALE,
        _entropy_from_counts,
    )

    # counts big enough that cnt*q > 2^63 (q ~ 39e6 at these magnitudes)
    cnts = [600_000_000_000, 300_000_000_000, 7]
    rows = [
        ("s", c, int(round(math.log2(c) * ENTROPY_SCALE))) for c in cnts
    ]
    for _, c, q in rows:
        if c > 1e11:
            assert c * q > 2**63  # the test is actually adversarial
    got = _entropy_from_counts(
        spark.createDataFrame(rows, "source string, cnt long, q long")
    ).collect()[0]
    n = sum(cnts)
    s_micro = sum(c * q for _, c, q in rows)  # exact (Python bigint)
    qn = int(round(math.log2(n) * ENTROPY_SCALE))
    want = float(qn * n - s_micro) / (float(n) * ENTROPY_SCALE)
    assert got["n_ngrams"] == n
    assert got["entropy_bits"] == pytest.approx(want, rel=1e-12)
    # DuckDB's side of the same arithmetic (HUGEINT via DECIMAL(38,0))
    vals = ", ".join(f"({c}, {q})" for _, c, q in rows)
    con_row = duckdb.connect().execute(
        f"SELECT CAST(SUM(CAST(cnt AS DECIMAL(38,0)) * q) AS DECIMAL(38,0))"
        f" FROM (VALUES {vals}) t(cnt, q)"
    ).fetchone()
    assert int(con_row[0]) == s_micro


def test_bm25_integer_product_exact_at_63bit_edge(spark):
    """The BM25 numerator idf_q*22*corpus_len*tf is exact BIGINT math up to
    its documented 63-bit envelope. Drive it AT the edge (product within a
    factor ~1.02 of 2^63) and check the quantized score against exact
    Python — if Spark widened to double early or wrapped, the rounded
    score would differ."""
    from iceberg_explorer_spark.operators.text import _bm25_term_score_q

    idf_q = 24_000_000          # ln-grid ceiling from the helper's doc
    corpus_len = 17_000_000_000  # 1.7e10 tokens: the stated envelope edge
    tf, dl, n_docs = 1, 2_000, 8_000_000
    num = idf_q * 22 * corpus_len * tf
    assert 2**62 < num < 2**63  # adversarial but within the envelope
    den = 10 * corpus_len * tf + 3 * corpus_len + 9 * dl * n_docs
    want = int(round(num / den))
    df = spark.createDataFrame(
        [(idf_q, corpus_len, tf, dl, n_docs)],
        "idf_q long, corpus_len long, tf long, dl long, n_docs long",
    ).select(_bm25_term_score_q().alias("score_q"))
    assert df.collect()[0]["score_q"] == want


# ---------------------------------------------------------------------------
# Shuffle-order invariance: the determinism-grid operators claim BIT-exact
# results under any partitioning (fixed-point PageRank mass, quantized-log2
# entropy, 2^20 fixed-point centroid sums, integer BM25 scores, merge-state
# rollup, two-phase block ranks). Claim it by running each under two very
# different partitionings — split sizes and shuffle widths — and requiring
# the exact canonical form (floats compared by repr, not approx).
# ---------------------------------------------------------------------------
DETERMINISM_GRID_OPS = [
    "dedup_pagerank_step",
    "similarity_centroid_drift",
    "text_ngram_entropy",
    "text_bm25_topk",
    "events_incremental_rollup",
    "rfm_customer_segments",
    # decimal-money / integer-plan reproducibility contracts
    "pricing_summary",
    "pipeline_epoch_plan",
    "dedup_simhash",
    # round-7 additions: integer count ratios must be partition-invariant
    "dedup_containment_probe",
    # round-9 addition: per-layout precision doubles from integer counts
    "dedup_lsh_band_tuning",
    # round-9 addition: micro-int grid counts and share ratios
    "similarity_semantic_tau_sweep",
    # round-12 additions: pure-integer signatures/popcounts and digest
    # counts must be partition-invariant
    "dedup_simhash_hamming",
    "dedup_incremental_two_day_exact",
    "dedup_simhash_hamming_sweep",
    # round-13 additions: integer bills/hit counts and ratios of exact
    # integers (recall = hits/exact) must be partition-invariant; the
    # PQ sweep's micro-unit BIGINT ADC sums likewise
    "similarity_ivf_probe_sweep",
    "similarity_pq_geometry_sweep",
]


@pytest.mark.parametrize("name", DETERMINISM_GRID_OPS)
def test_shuffle_order_invariance(spark, name):
    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.dedup import (
        invalidate_shared_candidates,
    )
    from tests.conftest import _canonical

    spec = QUERIES[name]

    def run():
        # drop the session-shared candidate materialization so graph-family
        # ops (PageRank) re-run the minhash/banding pipeline under the new
        # partitioning — otherwise the second run would read the first
        # run's checkpoint and only test the downstream math
        invalidate_shared_candidates()
        return _canonical(spec.builder(spark, SF_DIR_SMALL).toArrow())

    keys = ("spark.sql.shuffle.partitions", "spark.sql.files.maxPartitionBytes")
    try:
        for k, v in zip(keys, ("3", "65536")):
            spark.conf.set(k, v)
        narrow = run()
        for k, v in zip(keys, ("29", "134217728")):
            spark.conf.set(k, v)
        wide = run()
    finally:
        for k in keys:
            spark.conf.unset(k)
    assert narrow == wide


# ---------------------------------------------------------------------------
# Adversarial documents corpus: every documents-only oracle op, differentially
# ---------------------------------------------------------------------------
def test_document_ops_adversarial_corpus(spark, tmp_path):
    """Run EVERY oracle-bearing operator whose SQL touches only the
    documents table against a crafted corpus of the edges the synthetic
    fixture never exercises — empty text, whitespace-only, sub-shingle
    lengths, exact duplicates, repeated shingles, unicode (diacritics +
    CJK), punctuation mass, long repetition, and NULL text — and require
    the DuckDB oracle to match exactly. This is the same engine-divergence
    net as the events NULL fixture, pointed at the text/dedup/pipeline
    families."""
    import re as _re

    import duckdb

    from iceberg_explorer_spark.operators import QUERIES

    texts = [
        "",
        "   ",
        "one",
        "two words",
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dog",   # exact duplicate
        "foo bar baz foo bar baz foo bar baz",           # repeated shingles
        "Füßgänger überqueren die Straße heute",
        "漢字 かな カナ 漢字 かな",
        "a.b,c;d:e!f?g(h)i[j]k{l}m",                     # punctuation mass
        ("word " * 50).strip(),                          # long repetition
        None,                                            # NULL text
    ]
    rows = [
        (
            i,
            t,
            ["en", "de", "ja"][i % 3],
            # third source: int32-overflowing numeric suffix (the quota
            # derivation must agree on it — no silent prefix reads);
            # fourth: FRACTIONAL suffix (Spark CAST truncates 5.9->5,
            # DuckDB TRY_CAST rounds to 6 — the integral gate must make
            # both fall back to the base quota)
            ["web", "books", "src21474836470", "src5.9"][i % 4],
            len(t) if t is not None else 0,
        )
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "adv")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    other_tables = (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "embeddings",
    )
    doc_ops = [
        name
        for name, spec in QUERIES.items()
        if spec.oracle
        and _re.search(r"\bdocuments\b", spec.oracle)
        and not any(
            _re.search(rf"\b{t}\b", spec.oracle) for t in other_tables
        )
    ]
    assert len(doc_ops) >= 25, doc_ops  # the sweep must stay broad
    from tests.conftest import assert_all_match_oracle

    assert_all_match_oracle(
        spark, con,
        [(n, QUERIES[n].oracle) for n in doc_ops],
        lambda n: QUERIES[n].builder(spark, d),
    )


def test_embedding_ops_adversarial_corpus(spark, tmp_path):
    """The similarity twin of the documents sweep: every oracle-bearing
    operator whose SQL touches only the embeddings table, run against a
    crafted table with the edges the synthetic fixture never has — an
    all-zero vector (zero norm: cosine denominators), exact duplicate
    vectors, near-zero magnitudes, sign flips, and a NULL embedding —
    differentially against DuckDB."""
    import re as _re

    import duckdb

    from iceberg_explorer_spark.operators import QUERIES

    import numpy as np

    rng = np.random.RandomState(7)
    dim = 64
    vecs = []
    base = rng.randn(dim).astype("float32")
    vecs.append(base)                                    # the query vector
    vecs.append(np.zeros(dim, dtype="float32"))          # zero norm
    vecs.append(base.copy())                             # exact duplicate
    vecs.append(-base)                                   # antipodal
    vecs.append((base * 1e-6).astype("float32"))         # near-zero norm
    for _ in range(7):
        vecs.append(rng.randn(dim).astype("float32"))
    rows = [
        (i, [float(x) for x in v], i % 3) for i, v in enumerate(vecs)
    ]
    rows.append((len(rows), None, 0))                    # NULL embedding
    rows.append((len(rows), [1.0, 2.0, 3.0], 1))         # ragged (dim 3)
    holed = [float(x) for x in rng.randn(dim)]
    holed[7] = None
    rows.append((len(rows), holed, 2))                   # NULL element
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = str(tmp_path / "advemb")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet/*.parquet')"
    )
    other_tables = (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents",
    )
    emb_ops = [
        name
        for name, spec in QUERIES.items()
        if spec.oracle
        and _re.search(r"\bembeddings\b", spec.oracle)
        and not any(
            _re.search(rf"\b{t}\b", spec.oracle) for t in other_tables
        )
    ]
    assert len(emb_ops) >= 8, emb_ops
    from tests.conftest import assert_all_match_oracle

    assert_all_match_oracle(
        spark, con,
        [(n, QUERIES[n].oracle) for n in emb_ops],
        lambda n: QUERIES[n].builder(spark, d),
    )


def test_event_ops_adversarial_corpus(spark, tmp_path):
    """The events twin of the documents/embeddings sweeps: every
    oracle-bearing operator whose SQL touches only the events table, run
    against a crafted log with NULL event types, NULL and extreme values,
    malformed / empty / NULL JSON props, duplicate event ids, same-
    timestamp ties, and a single-event user — differentially against
    DuckDB. (ts and user_id stay NOT NULL: an event without identity or
    time is malformed at ingest, the contract the synthetic corpus
    declares.)"""
    import re as _re

    import duckdb

    from iceberg_explorer_spark.operators import QUERIES

    types = ["view", "click", "purchase", None]
    props = [
        '{"k": 1, "device": "ios"}',
        '{"device": "android", "nested": {"a": [1, 2]}}',
        "not json at all",
        "",
        None,
        "{}",
        '{"device": null}',
        '{"k": "abc"}',     # valid JSON, non-numeric k
        '{"k": 1.5}',       # fractional k (engine casts disagree)
        '{"k": "-70"}',     # quoted integral k (counts)
        '{"k": true}',      # boolean k (variant cast would coerce)
        '{"k": null}',
        '{"k": 9999999999}',  # integral, overflows INT32 (CAST vs TRY_CAST)
        '{"k": 99999999999999999999}',  # >19 digits, overflows INT64 too
        '{"k": "9999999999"}',  # quoted int32-overflowing integral
    ]
    values = [0.0, -1.5, 1e12, None, 0.25]
    rows = []
    for i in range(80):
        rows.append(
            (
                i if i != 41 else 40,                     # one duplicate id
                f"2024-03-0{1 + i % 7} 0{i % 10}:{(i * 7) % 60:02d}:11",
                (i % 9) + 1 if i < 79 else 99,            # user 99: 1 event
                types[i % len(types)],
                values[i % len(values)],
                props[i % len(props)],
            )
        )
    # same-timestamp tie pair for one user (order must come from event_id)
    rows.append((200, "2024-03-01 00:00:11", 1, "view", 1.0, "{}"))
    rows.append((201, "2024-03-01 00:00:11", 1, "click", 2.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts_s string, user_id long, event_type string,"
        " value double, props string",
    ).select(
        "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    d = str(tmp_path / "advev")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{d}/events.parquet/*.parquet')"
    )
    other_tables = (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings",
    )
    ev_ops = [
        name
        for name, spec in QUERIES.items()
        if spec.oracle
        and _re.search(r"\bevents\b", spec.oracle)
        and not any(
            _re.search(rf"\b{t}\b", spec.oracle) for t in other_tables
        )
    ]
    assert len(ev_ops) >= 12, ev_ops
    from tests.conftest import assert_all_match_oracle

    assert_all_match_oracle(
        spark, con,
        [(n, QUERIES[n].oracle) for n in ev_ops],
        lambda n: QUERIES[n].builder(spark, d),
    )


def test_relational_ops_adversarial_corpus(spark, tmp_path):
    """The TPC-H twin of the corpus sweeps: every oracle-bearing operator
    whose SQL touches only the relational tables, run against crafted
    tables with schema-valid extremes — zero/negative/huge account
    balances and prices, 100% discounts, 3-decimal money values (rounding
    ties), year-boundary and leap-day dates, end-of-day timestamps, a
    customer with no orders, an order with no lineitems, heavy key skew,
    empty-string segments, and unicode names — differentially against
    DuckDB."""
    import re as _re
    from datetime import datetime

    import duckdb

    from iceberg_explorer_spark.operators import QUERIES

    region = [(i, n) for i, n in enumerate(
        ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])]
    nation = [(i, f"NATION{i}" if i != 7 else "CÔTE D'IVOIRE", i % 5)
              for i in range(10)]
    segs = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", ""]
    customer = [
        (1, "Customer#1", 0, -999.99, "BUILDING"),     # negative balance
        (2, "Customer#2", 1, 0.0, "AUTOMOBILE"),       # zero balance
        (3, "Customer#3", 2, 9_999_999.99, "BUILDING"),
        (4, "Customer#4", 3, 2.675, "MACHINERY"),      # repr-hostile double
        (5, "Customer#5", 4, 0.125, ""),               # empty segment
        (6, "Cüstomer#6", 7, 42.0, "HOUSEHOLD"),       # unicode name
        (7, "Customer#7", 5, 1.0, "BUILDING"),         # NO orders
        (8, "Customer#8", 6, -0.01, "AUTOMOBILE"),
    ]
    supplier = [(i, f"Supplier#{i}", i % 10, [-5.0, 0.0, 123.456][i % 3])
                for i in range(1, 5)]
    part = [
        (i, f"part {i}", f"Brand#{i % 3}", ["SMALL BRASS", "LARGE COPPER",
         "PROMO STEEL"][i % 3], [0, 1, 50][i % 3], [0.01, 900.009, 1.0][i % 3])
        for i in range(1, 7)
    ]
    statuses = ["F", "O", "P"]
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    orders, lineitem = [], []
    ok = 1
    for year in (1992, 1996, 1996, 1997, 1998):
        for month in (1, 2, 6, 12):
            cust = (ok % 6) + 1              # skew onto customers 1..6
            day = 29 if (month == 2 and year == 1996) else 1  # leap day
            ts = datetime(year, month, day,
                          23 if ok % 3 == 0 else 0, 59, 59,
                          999999 if ok % 3 == 0 else 0)
            orders.append((
                ok, cust, statuses[ok % 3],
                [0.0, 0.015, 123456.789, 1e9][ok % 4],
                ts, prios[ok % 5],
            ))
            if ok % 7 != 0:                  # every 7th order: NO lineitems
                for ln in range(1, (ok % 4) + 2):
                    lineitem.append((
                        ok, (ok + ln) % 6 + 1, (ok + ln) % 4 + 1, ln,
                        [0.0, 1.0, 50.0][ln % 3],          # zero quantity
                        [0.01, 2.675, 90000.45][ln % 3],   # rounding tie
                        [0.0, 1.0, 0.05][ln % 3],          # 100% discount
                        [0.0, 0.08, 0.125][ln % 3],
                        ["A", "N", "R"][(ok + ln) % 3],
                        ["F", "O"][(ok + ln) % 2],
                        datetime(year, month, day, 12, 0, 0),
                    ))
            ok += 1
    d = str(tmp_path / "advrel")
    specs = {
        "region": (region, "r_regionkey int, r_name string"),
        "nation": (nation, "n_nationkey int, n_name string, n_regionkey int"),
        "customer": (customer, "c_custkey long, c_name string,"
                     " c_nationkey int, c_acctbal double, c_mktsegment string"),
        "supplier": (supplier, "s_suppkey long, s_name string,"
                     " s_nationkey int, s_acctbal double"),
        "part": (part, "p_partkey long, p_name string, p_brand string,"
                 " p_type string, p_size int, p_retailprice double"),
        "orders": (orders, "o_orderkey long, o_custkey long,"
                   " o_orderstatus string, o_totalprice double,"
                   " o_orderdate timestamp, o_orderpriority string"),
        "lineitem": (lineitem, "l_orderkey long, l_partkey long,"
                     " l_suppkey long, l_linenumber int, l_quantity double,"
                     " l_extendedprice double, l_discount double,"
                     " l_tax double, l_returnflag string,"
                     " l_linestatus string, l_shipdate timestamp"),
    }
    con = duckdb.connect()
    for t, (rows, schema) in specs.items():
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/{t}.parquet")
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{d}/{t}.parquet/*.parquet')"
        )
    other_tables = ("events", "documents", "embeddings")
    rel = ("region", "nation", "customer", "supplier", "part", "orders",
           "lineitem")
    rel_ops = [
        name
        for name, spec in QUERIES.items()
        if spec.oracle
        and any(_re.search(rf"\b{t}\b", spec.oracle) for t in rel)
        and not any(_re.search(rf"\b{t}\b", spec.oracle) for t in other_tables)
    ]
    assert len(rel_ops) >= 35, rel_ops
    from tests.conftest import assert_all_match_oracle

    assert_all_match_oracle(
        spark, con,
        [(n, QUERIES[n].oracle) for n in rel_ops],
        lambda n: QUERIES[n].builder(spark, d),
    )


def test_cross_table_ops_adversarial_corpus(spark, tmp_path):
    """Completes sweep coverage: the one oracle-bearing operator that
    joins documents AND embeddings (dedup_semantic_keep_best) runs on the
    combined adversarial fixtures — NULL/zero vectors meeting NULL/empty
    texts on shared ids — differentially against DuckDB. Together with
    the four single-family sweeps this exercises all 122 oracle-bearing
    operators on adversarial data."""
    import duckdb
    import numpy as np

    from iceberg_explorer_spark.operators import QUERIES

    texts = ["", "the quick brown fox", "the quick brown fox",
             "Füßgänger überqueren", None, "boilerplate text " * 10]
    docs = [
        (i, t, "en", ["web", "books"][i % 2], len(t) if t else 0)
        for i, t in enumerate(texts * 2)
    ]
    rng = np.random.RandomState(11)
    base = rng.randn(64).astype("float32")
    vecs = [base, np.zeros(64, dtype="float32"), base.copy(), -base]
    for _ in range(7):
        vecs.append(rng.randn(64).astype("float32"))
    emb = [(i, [float(x) for x in v], i % 3) for i, v in enumerate(vecs)]
    emb.append((len(emb), None, 0))
    d = str(tmp_path / "advx")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        emb, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{d}/{t}.parquet/*.parquet')"
        )
    from tests.conftest import assert_matches_oracle

    spec = QUERIES["dedup_semantic_keep_best"]
    assert_matches_oracle(spec.builder(spark, d), con, spec.oracle,
                          "dedup_semantic_keep_best")


def test_timezone_invariance(spark):
    """The engine declares naive-calendar semantics: results must not
    depend on the caller session's timezone (the correctness harness
    passes its own default-conf session, which inherits the machine tz).
    load_table pins spark.sql.session.timeZone to UTC at the single choke
    point every builder uses — flip the session to a -05:00/-04:00 zone
    before building and the calendar rollups must come out identical."""
    from iceberg_explorer_spark.operators import QUERIES

    ops = ["orders_yoy_growth", "orders_seasonality_index",
           "events_tumbling_window", "cohort_retention"]
    baseline = {}
    for name in ops:
        baseline[name] = sorted(
            map(tuple, QUERIES[name].builder(spark, SF_DIR_SMALL).collect())
        )
    try:
        for name in ops:
            spark.conf.set(
                "spark.sql.session.timeZone", "America/New_York"
            )
            got = sorted(
                map(tuple, QUERIES[name].builder(spark, SF_DIR_SMALL).collect())
            )
            assert got == baseline[name], name
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_ansi_mode_invariance(spark):
    """PySpark 4 defaults spark.sql.ansi.enabled=true, but the engine's
    declared semantics are permissive SQL (the oracles encode
    NULL-on-div-0 / NULL-on-bad-cast). load_table pins ANSI off at the
    choke point, so a default-conf caller session (the correctness
    harness's own) gets identical results — flip ANSI on before building
    and nothing may change or raise."""
    from iceberg_explorer_spark.operators import QUERIES

    ops = ["parts_abc_pareto", "pipeline_stratified_sample",
           "events_funnel_latency", "text_token_count"]
    baseline = {}
    for name in ops:
        baseline[name] = sorted(
            map(tuple, QUERIES[name].builder(spark, SF_DIR_SMALL).collect())
        )
    try:
        for name in ops:
            spark.conf.set("spark.sql.ansi.enabled", "true")
            got = sorted(
                map(tuple, QUERIES[name].builder(spark, SF_DIR_SMALL).collect())
            )
            assert got == baseline[name], name
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")


def test_shared_candidates_cache_isolated_by_corpus(spark, tmp_path):
    """The session-shared candidate materialization is keyed by
    (application id, sf_dir): two different corpora in one session must
    get DIFFERENT materializations — a keying bug here would silently
    serve one corpus's near-dup pairs to another's dedup run."""
    from iceberg_explorer_spark.operators.dedup import shared_lsh_candidates

    base = "dup dup dup words words words shared shingle text here"
    def write(dirname, texts):
        d = str(tmp_path / dirname)
        rows = [(i, t, "en", "web", len(t)) for i, t in enumerate(texts)]
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string,"
            " n_chars long"
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        return d

    d1 = write("corpus1", [base, base, "totally different text one two"])
    d2 = write("corpus2", ["nothing alike here at all", "unrelated words"])
    c1 = shared_lsh_candidates(spark, d1)
    c2 = shared_lsh_candidates(spark, d2)
    assert c1 is not c2
    assert c1.count() >= 1        # the duplicated doc pair
    assert c2.count() == 0        # no near-dups in corpus2
    # and the cache HIT path returns the same materialization per corpus
    assert shared_lsh_candidates(spark, d1) is c1


def test_shared_cc_labels_match_direct_propagation(spark):
    """The r18 per-modality cluster-label artifacts (lsh_cc, simhash_cc)
    must be row-identical to the direct connected_components run their
    consumers performed per call before — the shared checkpoint changes
    WHEN the propagation runs, never what it labels. Checked on the
    real sf0.01 corpus for both graphs, plus the cache-hit identity
    (second call returns the same materialization, not a rebuild)."""
    from pyspark.sql import functions as F

    from iceberg_explorer_spark.operators.dedup import (
        SIMHASH_HAM_MAX,
        connected_components,
        shared_lsh_candidates,
        shared_lsh_labels,
        shared_simhash_hamming,
        shared_simhash_labels,
    )
    from tests.conftest import SF_DIR

    for shared_fn, edges in (
        (
            shared_lsh_labels,
            shared_lsh_candidates(spark, SF_DIR).select("doc_a", "doc_b"),
        ),
        (
            shared_simhash_labels,
            shared_simhash_hamming(spark, SF_DIR)
            .filter(F.col("hamming") <= SIMHASH_HAM_MAX)
            .select("doc_a", "doc_b"),
        ),
    ):
        got = shared_fn(spark, SF_DIR)
        cc = connected_components(edges)
        want = {
            (r["node"], r["component"]) for r in cc.collect()
        }
        cc.cc_persisted_labels.unpersist()
        assert {
            (r["doc_id"], r["cluster_id"]) for r in got.collect()
        } == want
        assert shared_fn(spark, SF_DIR) is got


def test_containment_flags_asymmetric_inclusion(spark):
    """The containment verifier's reason to exist: a short document whose
    text is fully embedded in a longer one must score containment 1.0
    while its union-diluted Jaccard stays under the near-dup bar — so the
    pair is labeled 'containment', the class symmetric Jaccard dedup
    under-reports. Driven directly through containment_verify with an
    explicit candidate pair (LSH recall of low-Jaccard pairs is
    probabilistic and out of scope here — documented in the operator)."""
    from pyspark.sql import functions as F

    from iceberg_explorer_spark.operators.dedup import (
        _SHINGLE_HASH,
        _shingle_array,
        _words,
        containment_verify,
    )

    short = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    longer = (
        short
        + " lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi "
        "omega one two three four five six seven eight nine ten eleven "
        "twelve thirteen fourteen fifteen sixteen"
    )
    docs = spark.createDataFrame(
        [(1, short), (2, longer), (3, "unrelated words entirely different")],
        ["doc_id", "text"],
    )
    words = docs.select("doc_id", _words().alias("w"))
    sh = (
        words.select("doc_id", F.explode(_shingle_array()).alias("s"))
        .select("doc_id", F.expr(_SHINGLE_HASH).alias("hb"))
        .distinct()
    )
    cands = spark.createDataFrame([(1, 2), (1, 3)], ["doc_a", "doc_b"])
    out = {
        (r["doc_a"], r["doc_b"]): r
        for r in containment_verify(cands, sh).collect()
    }
    assert (1, 2) in out, out
    r = out[(1, 2)]
    assert r["containment"] == 1.0  # short's shingles all inside longer
    assert r["relation"] == "containment"  # jaccard is diluted: n_a/n_b
    assert r["n_common"] == r["n_a"] and r["n_b"] > r["n_a"]
    assert (1, 3) not in out  # unrelated pair does not survive the bar


def test_containment_probe_recalls_tiny_doc_in_huge_doc(spark, tmp_path):
    """The probe index's reason to exist: a 12-word document embedded
    verbatim in a ~200-word one has Jaccard ≈ 0.05 — MinHash bands
    essentially never collide, so the LSH route (dedup_containment)
    misses the pair — but they share the tiny doc's rare shingles, so
    the rare-shingle probe join finds it and the verify scores
    containment 1.0 / relation 'containment'. Checked end-to-end through
    the registered builder AND its DuckDB oracle on the same crafted
    corpus."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import assert_matches_oracle

    tiny = "quantum flux harmonics destabilize the auxiliary dampener " \
           "array beyond rated tolerance today"
    filler = " ".join(f"word{i} common{i % 7} text{i % 13}" for i in range(70))
    huge = filler + " " + tiny + " " + filler.replace("word", "other")
    rows = [
        (1, tiny, "en", "web", len(tiny)),
        (2, huge, "en", "web", len(huge)),
        (3, "completely unrelated content about gardening and weather "
            "patterns in coastal regions", "en", "books", 80),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "probe")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    spec = QUERIES["dedup_containment_probe"]
    out = {
        (r["doc_a"], r["doc_b"]): r
        for r in spec.builder(spark, d).collect()
    }
    assert (1, 2) in out, out
    r = out[(1, 2)]
    assert r["containment"] == 1.0
    assert r["relation"] == "containment"
    assert r["n_b"] > 10 * r["n_a"]  # genuinely asymmetric sizes

    # the LSH route does NOT claim this pair (recall scope is real):
    lsh_spec = QUERIES["dedup_containment"]
    lsh_pairs = {
        (r["doc_a"], r["doc_b"]) for r in lsh_spec.builder(spark, d).collect()
    }
    assert (1, 2) not in lsh_pairs

    # and the oracle agrees exactly on this corpus too
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle, "dedup_containment_probe"
    )


def test_ivf_balance_flags_hot_cell(spark, tmp_path):
    """The balance report's reason to exist: a skewed corpus — most
    vectors clustered around one centroid's direction — must surface as
    that cell's load_factor ≫ 1 (the probe-latency hot spot an IVF
    operator re-trains centroids over), while the report's integer
    invariants hold: populations sum to the corpus, load factors sum to
    K, and per-cell coherence stats are ordered. Oracle-checked on the
    same crafted corpus."""
    import duckdb
    import numpy as np

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.similarity import IVF_K
    from tests.conftest import assert_matches_oracle

    rng = np.random.RandomState(11)
    dim = 64
    cents = [rng.randn(dim).astype("float32") for _ in range(IVF_K)]
    vecs = list(cents)  # vec_id < IVF_K are the centroid seeds
    for _ in range(24):  # hot: tight cloud around centroid 0
        vecs.append((cents[0] + 0.05 * rng.randn(dim)).astype("float32"))
    for i in range(1, 4):  # a few sparse members elsewhere
        vecs.append((cents[i] + 0.05 * rng.randn(dim)).astype("float32"))
    rows = [(i, [float(x) for x in v], i % 3) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    d = str(tmp_path / "ivfbal")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    spec = QUERIES["similarity_ivf_balance"]
    out = {r["cid"]: r for r in spec.builder(spark, d).collect()}
    n_corpus = len(vecs)
    assert sum(r["n_vectors"] for r in out.values()) == n_corpus
    assert abs(sum(r["load_factor"] for r in out.values()) - IVF_K) < 1e-9
    # the hot cell: 24 members + its own seed vs a balanced share of ~4
    hot = out[0]
    assert hot["n_vectors"] >= 25
    assert hot["load_factor"] > 4.0
    assert hot["load_factor"] == max(r["load_factor"] for r in out.values())
    for r in out.values():
        assert (
            -1.0 - 1e-9
            <= r["min_centroid_sim"]
            <= r["mean_centroid_sim"]
            <= r["max_centroid_sim"]
            <= 1.0 + 1e-9
        )
    # the tight cloud is coherent: members sit close to their centroid
    assert hot["mean_centroid_sim"] > 0.95

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle, "similarity_ivf_balance"
    )


def test_overlap_spectrum_lineage_and_union_semantics(spark, tmp_path):
    """The spectrum's distinguishing claims: (1) its pair set is EXACTLY
    the union of the two single-generator reports (one verify pass loses
    nothing), with identical metric values for every shared pair; (2) the
    lineage column attributes each pair to the generator(s) that found it
    — the tiny-in-huge pair only the probe index recalls is labeled
    'probe', a symmetric near-dup pair the bands catch is 'lsh' or
    'both'. Checked end-to-end through the registered builder AND its
    DuckDB oracle on the same crafted corpus."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import assert_matches_oracle

    tiny = (
        "quantum flux harmonics destabilize the auxiliary dampener "
        "array beyond rated tolerance today"
    )
    filler = " ".join(f"word{i} common{i % 7} text{i % 13}" for i in range(70))
    huge = filler + " " + tiny + " " + filler.replace("word", "other")
    neardup_a = " ".join(f"alpha{i} beta{i % 5} gamma{i % 11}" for i in range(60))
    neardup_b = neardup_a + " trailing edit"
    rows = [
        (1, tiny, "en", "web", len(tiny)),
        (2, huge, "en", "web", len(huge)),
        (3, neardup_a, "en", "books", len(neardup_a)),
        (4, neardup_b, "en", "books", len(neardup_b)),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "spectrum")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    spec = QUERIES["dedup_overlap_spectrum"]
    out = {
        (r["doc_a"], r["doc_b"]): r for r in spec.builder(spark, d).collect()
    }

    # lineage: the low-Jaccard inclusion pair is probe-only; the
    # symmetric near-dup pair was found by the bands (probe may or may
    # not also claim it, depending on its rare shingles)
    assert (1, 2) in out and out[(1, 2)]["sources"] == "probe", out
    assert (3, 4) in out and out[(3, 4)]["sources"] in ("lsh", "both"), out
    assert out[(1, 2)]["relation"] == "containment"
    assert out[(3, 4)]["relation"] == "near_duplicate"

    # union semantics: spectrum rows = containment rows ∪ probe rows,
    # metrics identical wherever a pair appears in a single-generator run
    metric_cols = ("n_a", "n_b", "n_common", "containment", "relation")
    single = {}
    for qname in ("dedup_containment", "dedup_containment_probe"):
        for r in QUERIES[qname].builder(spark, d).collect():
            single[(r["doc_a"], r["doc_b"])] = tuple(
                r[c] for c in metric_cols
            )
    assert set(out) == set(single)
    for pair, metrics in single.items():
        assert tuple(out[pair][c] for c in metric_cols) == metrics, pair

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle, "dedup_overlap_spectrum"
    )


def test_semantic_clusters_merge_chain_transitively(spark, tmp_path):
    """The cluster operator's reason to exist: a chain a~b~c where
    cos(a,b) and cos(b,c) clear tau but cos(a,c) does NOT is ONE
    duplicate group under the transitive closure — while the pairwise
    one-hop canonicalization (dedup_embedding_cosine) marks c's keeper
    as b, a document that is ITSELF a duplicate of a (the artifact
    cluster-level dedup removes). Vectors are crafted so all three share
    one SRP bucket (both candidate pairs exist) with cosines 0.707 /
    0.707 / 0.0; a fourth anti-aligned vector lands in another bucket
    with no qualifying edge. Oracle-checked on the same corpus."""
    import duckdb
    import numpy as np

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.similarity import (
        DIM,
        N_PLANES,
        NEAR_DUP_TAU,
        _plane_signs,
    )
    from tests.conftest import assert_matches_oracle

    planes = np.array(
        [_plane_signs(p) for p in range(N_PLANES)], dtype="float64"
    )
    rng = np.random.RandomState(7)
    while True:
        u = rng.randn(DIM)
        u /= np.linalg.norm(u)
        w = rng.randn(DIM)
        w -= (w @ u) * u
        w /= np.linalg.norm(w)
        if (planes @ u > 0.5).all() and (planes @ w > 0.5).all():
            break
    b = (u + w) / np.sqrt(2.0)
    assert 0.70 < u @ b < 0.72 < NEAR_DUP_TAU * 2  # chain edges clear tau
    assert abs(u @ w) < 1e-9  # chain ends do NOT
    vecs = [(1, u), (2, b), (3, w), (4, -u)]
    emb = [(i, [float(x) for x in v.astype("float32")], 0) for i, v in vecs]
    d = str(tmp_path / "chain")
    spark.createDataFrame(
        emb, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    spec = QUERIES["dedup_semantic_clusters"]
    rows = {r["cluster_id"]: r for r in spec.builder(spark, d).collect()}
    assert set(rows) == {1}, rows  # ONE cluster, labeled by its min id
    r = rows[1]
    assert r["n_members"] == 3 and r["n_removable"] == 2
    assert r["n_edges"] == 2  # a-b and b-c; a-c never qualified
    assert abs(r["mean_edge_cos"] - (u @ b + b @ w) / 2) < 1e-4

    # the pairwise route's artifact on the same corpus: c's designated
    # canonical is b — which the same report marks as a duplicate itself
    canon = {
        r["duplicate_vec_id"]: r["canonical_vec_id"]
        for r in QUERIES["dedup_embedding_cosine"].builder(spark, d).collect()
    }
    assert canon == {2: 1, 3: 2}
    assert canon[3] in canon  # keeper-is-itself-dropped chain artifact

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle, "dedup_semantic_clusters"
    )


def test_filter_funnel_reconciles_with_clean_corpus(spark, tmp_path):
    """The funnel's claim: its stages are the SAME predicates
    pipeline_clean_corpus applies, in order — so on a corpus crafted to
    lose exactly one known document per stage, each stage's n_dropped is
    1, and the final near_dedup row equals the summed clean-corpus
    output. A funnel that drifts from the pipeline it describes is worse
    than none. Oracle-checked on the same corpus."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.pipeline import MIN_WORDS
    from tests.conftest import assert_matches_oracle

    good = " ".join(f"tok{i} unique{i * 7 % 13}" for i in range(MIN_WORDS))
    near_a = good + " trailing shared shingle run one two three four five"
    rows = [
        (1, "", "en", "web", 0),                     # dropped: nonempty
        (2, "too short", "en", "web", 9),            # dropped: min_words
        (3, near_a, "en", "web", len(near_a)),       # survives everything
        (4, near_a, "en", "web", len(near_a)),       # dropped: exact dup of 3
        (5, near_a + " six", "en", "books",
         len(near_a) + 4),                           # dropped: near-dup (LSH)
    ]
    d = str(tmp_path / "funnel")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    spec = QUERIES["pipeline_filter_funnel"]
    stages = {r["stage"]: r for r in spec.builder(spark, d).collect()}
    assert [stages[s]["n_docs"] for s in
            ("raw", "nonempty", "min_words", "exact_dedup", "near_dedup")] \
        == [5, 4, 3, 2, 1]
    assert all(
        stages[s]["n_dropped"] == 1
        for s in ("nonempty", "min_words", "exact_dedup", "near_dedup")
    )
    assert stages["near_dedup"]["survival_rate"] == 1 / 5

    # reconciliation: final funnel count == summed clean-corpus output
    kept = (
        QUERIES["pipeline_clean_corpus"].builder(spark, d)
        .agg({"n_docs_kept": "sum"})
        .collect()[0][0]
    )
    assert kept == stages["near_dedup"]["n_docs"] == 1

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle, "pipeline_filter_funnel"
    )


def test_semantic_decontaminate_flags_paraphrase_class_neighbor(spark, tmp_path):
    """The decontamination report's distinguishing claims, on a crafted
    split: (1) an eval vector with an in-bucket training neighbor above
    tau is flagged with the right count/nearest; (2) an in-bucket
    training vector BELOW tau does not count; (3) an eval vector alone in
    its bucket is absent (clean); (4) a NULL-label row joins NEITHER
    split — an exact duplicate of the eval vector with NULL label must
    not contaminate it (max_cos stays at the 0.707 neighbor, not 1.0).
    Oracle-checked on the same corpus."""
    import duckdb
    import numpy as np

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.similarity import (
        DIM,
        N_PLANES,
        _plane_signs,
    )
    from tests.conftest import assert_matches_oracle

    planes = np.array(
        [_plane_signs(p) for p in range(N_PLANES)], dtype="float64"
    )
    rng = np.random.RandomState(7)
    while True:
        u = rng.randn(DIM)
        u /= np.linalg.norm(u)
        w = rng.randn(DIM)
        w -= (w @ u) * u
        w /= np.linalg.norm(w)
        if (planes @ u > 0.5).all() and (planes @ w > 0.5).all():
            break
    b = (u + w) / np.sqrt(2.0)
    rows = [
        (1, u, 0),      # eval: contaminated by 2 (cos .707), not by 3 (cos 0)
        (2, b, 1),      # train neighbor above tau, same bucket
        (3, w, 2),      # train in-bucket but below tau
        (4, -u, 0),     # eval alone in its bucket: clean, absent
        (5, u, None),   # NULL label: in NEITHER split (else max_cos were 1.0)
    ]
    emb = [(i, [float(x) for x in v.astype("float32")], lb) for i, v, lb in rows]
    d = str(tmp_path / "decon")
    spark.createDataFrame(
        emb, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    spec = QUERIES["similarity_semantic_decontaminate"]
    out = {r["eval_vec_id"]: r for r in spec.builder(spark, d).collect()}
    assert set(out) == {1}, out
    r = out[1]
    assert r["n_contaminating"] == 1
    assert r["nearest_train_vec_id"] == 2
    assert abs(r["max_cos"] - 1 / np.sqrt(2)) < 1e-4  # NOT the NULL-label 1.0

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle,
        "similarity_semantic_decontaminate",
    )


def test_clean_manifest_attributes_perceptual_dups_per_source(spark, tmp_path):
    """The manifest's claims on a crafted corpus: (1) a pixel-identical
    image in a SECOND source is dropped there (canonical lives in the
    first source) — dup_rate 1.0 for the losing source; (2) an
    undecodable (too-short) document never enters the report; (3) the
    summed drop count reconciles with multimodal_ahash_dedup's group
    sizes (sum of n_images - 1). Oracle-checked on the same corpus."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import assert_matches_oracle

    uniform = "A" * 100          # every pixel equal -> one aHash bucket
    textured = ("Az" * 50)       # alternating bytes -> different hash
    rows = [
        (1, uniform, "en", "web", 100),
        (2, uniform, "en", "books", 100),   # perceptual dup, other source
        (3, textured, "en", "web", 100),    # distinct image, kept
        (4, "hi", "en", "tiny", 2),         # undecodable: absent entirely
    ]
    d = str(tmp_path / "manifest")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    spec = QUERIES["multimodal_clean_manifest"]
    out = {r["source"]: r for r in spec.builder(spark, d).collect()}
    assert set(out) == {"web", "books"}  # 'tiny' never decodes
    assert out["web"]["n_valid_images"] == 2
    assert out["web"]["n_kept"] == 2     # canonical uniform + textured
    assert out["books"]["n_dup_dropped"] == 1
    assert out["books"]["dup_rate"] == 1.0

    groups = QUERIES["multimodal_ahash_dedup"].builder(spark, d).collect()
    assert sum(g["n_images"] - 1 for g in groups) == sum(
        r["n_dup_dropped"] for r in out.values()
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle, "multimodal_clean_manifest"
    )


def test_paired_dedup_pair_key_semantics(spark, tmp_path):
    """multimodal_paired_dedup's distinguishing claims on a crafted
    corpus: (1) the SAME caption+image pair scraped into two sources
    collapses into one cross_source group with the min doc as canonical;
    (2) a within-source repost groups with cross_source = false; (3) a
    RE-CAPTIONED image (same 48-byte pixel prefix, different caption
    fingerprint) is NOT a pair duplicate — the pair key needs both sides;
    (4) a unique pair never appears. Oracle-checked on the same corpus."""
    import hashlib

    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import assert_matches_oracle

    def winnow_fp(text: str) -> str:
        return min(
            hashlib.md5(text[i : i + 8].encode()).hexdigest()
            for i in range(len(text) - 7)
        )

    pair_a = "A" * 48 + " the shared caption of the scraped pair"
    repost = "B" * 48 + " reposted inside one source twice over"
    image_c = "C" * 48
    cap1, cap2 = " first caption here", None
    # search a second caption whose winnowing fingerprint provably
    # differs from the first (md5 is opaque; pick deterministically)
    for i in range(100):
        cand = f" alt caption number {i}"
        if winnow_fp(image_c + cand) != winnow_fp(image_c + cap1):
            cap2 = cand
            break
    assert cap2 is not None
    rows = [
        (1, pair_a, "en", "web", len(pair_a)),
        (2, pair_a, "en", "books", len(pair_a)),  # cross-source pair dup
        (3, repost, "en", "web", len(repost)),
        (4, repost, "en", "web", len(repost)),    # same-source pair dup
        (5, image_c + cap1, "en", "web", 67),     # same image...
        (6, image_c + cap2, "en", "books", 67),   # ...re-captioned: no dup
        (7, "unique document body with its own image bytes here", "en",
         "web", 49),
    ]
    d = str(tmp_path / "paired")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    spec = QUERIES["multimodal_paired_dedup"]
    got = spec.builder(spark, d).collect()
    by_canon = {r["canonical_doc_id"]: r for r in got}
    assert set(by_canon) == {1, 3}, got  # docs 5/6/7 never form a group
    assert by_canon[1]["n_pairs"] == 2
    assert by_canon[1]["n_sources"] == 2
    assert by_canon[1]["cross_source"] is True
    assert by_canon[3]["n_pairs"] == 2
    assert by_canon[3]["n_sources"] == 1
    assert by_canon[3]["cross_source"] is False

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle, "multimodal_paired_dedup"
    )


def test_fingerprint_gram_cap_bounds_work_and_mirrors_oracle(spark, tmp_path):
    """FINGERPRINT_MAX_CHARS pins the per-row gram-transform transient:
    (1) two documents sharing their first FINGERPRINT_MAX_CHARS chars but
    diverging after the cap fingerprint IDENTICALLY (the suffix is never
    tokenized — bounded work per row, the OOM guard's observable
    behavior); (2) a doc differing INSIDE the cap still separates; (3)
    the cap is mirrored engine-for-engine in the oracle at a document
    length the test corpora never reach (their max is ~577 chars). Covers
    text_fingerprint directly and multimodal_paired_dedup's caption side
    by the shared constant."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.text import FINGERPRINT_MAX_CHARS
    from tests.conftest import assert_matches_oracle

    base = ("lorem ipsum dolor sit amet " * 400)[:FINGERPRINT_MAX_CHARS]
    assert len(base) == FINGERPRINT_MAX_CHARS
    rows = [
        (1, base + " tail-one past the cap", "en", "web", 1),
        (2, base + " a COMPLETELY different suffix", "en", "web", 2),
        (3, "x" + base[1:] + " tail-one past the cap", "en", "web", 3),
        (4, "short doc under the cap", "en", "web", 4),
    ]
    d = str(tmp_path / "capfp")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    spec = QUERIES["text_fingerprint"]
    got = {r["doc_id"]: r for r in spec.builder(spark, d).collect()}
    # (1) same prefix, different post-cap suffix: identical fingerprint
    # AND identical distinct-gram count — the suffix was never tokenized
    assert got[1]["fingerprint"] == got[2]["fingerprint"]
    assert got[1]["n_distinct_grams"] == got[2]["n_distinct_grams"]
    # (2) an in-cap difference still separates
    assert got[3]["fingerprint"] != got[1]["fingerprint"] or (
        got[3]["n_distinct_grams"] != got[1]["n_distinct_grams"]
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    assert_matches_oracle(spec.builder(spark, d), con, spec.oracle,
                          "text_fingerprint")
    paired = QUERIES["multimodal_paired_dedup"]
    assert_matches_oracle(paired.builder(spark, d), con, paired.oracle,
                          "multimodal_paired_dedup")


def test_band_tuning_sample_agrees_with_subcorpus(spark, tmp_path):
    """The deterministic doc-sample parameter (sample_mod) is EXACTLY
    corpus restriction: the sampled sweep over the full corpus equals the
    unsampled sweep over the corpus physically restricted to the same
    hash-mod selection — so a production tuning run on a 1/16 sample
    measures precisely what the same layouts would report on that
    sub-corpus, not an approximation of it. Also pins that the DEFAULT
    call (the registered oracle-bearing query) takes the sample_mod=1
    path with an unchanged plan."""
    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.dedup import dedup_lsh_band_tuning
    from iceberg_explorer_spark.sources.registry import load_table
    from tests.conftest import SF_DIR

    sampled = dedup_lsh_band_tuning(spark, SF_DIR, sample_mod=4)
    sub = load_table(spark, SF_DIR, "documents").filter(
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(4)) == 0
    )
    d = str(tmp_path / "subcorpus")
    sub.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    unsampled = dedup_lsh_band_tuning(spark, d)

    def rows(df):
        return sorted(
            (r.asDict() for r in df.collect()),
            key=lambda r: (r["bands"], r["rows_per_band"]),
        )

    assert rows(sampled) == rows(unsampled)
    # the registered query is the unsampled report: identical plan to an
    # explicit sample_mod=1 call (the sample filter is absent, not a
    # pass-through predicate)
    import re

    def norm(df):
        # expression IDs (#123) differ per instantiation; the shape is
        # what must match
        return re.sub(
            r"#\d+", "#", df._jdf.queryExecution().analyzed().toString()
        )

    spec = QUERIES["dedup_lsh_band_tuning"]
    assert norm(spec.builder(spark, SF_DIR)) == norm(
        dedup_lsh_band_tuning(spark, SF_DIR, sample_mod=1)
    )


def test_lsh_band_tuning_layout_semantics(spark, tmp_path):
    """dedup_lsh_band_tuning's distinguishing claims on a crafted corpus.
    Registered contract (the strict four layouts, r11): (1) an
    identical-text pair shares ALL 12 signature values, so it is a
    candidate AND a verified duplicate under EVERY layout — all four
    report rows exist with n_true_dups >= 1; (2) s_star is the layout's
    S-curve threshold (1/b)^(1/r), strictly increasing with
    rows-per-band; (3) dup_precision is exactly n_true_dups /
    n_candidates; (4) on a corpus with NO collisions at all, every
    layout still reports a zero row with NULL precision (the over-strict
    layout that pruned everything is the most decision-relevant row).
    Opt-in full sweep (configs=_TUNING_CONFIGS_FULL — the path that left
    the driver contract in r11 but must stay correct): (5) the (12,1)
    single-hash layout's candidates form the per-layout MAXIMUM (a pair
    matching an r-row band shares each row hash individually, so every
    layout's pairs are a subset of (12,1)'s); (6) the loose (12,1)
    layout reports a FALSE POSITIVE (the far pair collides in
    single-hash bands but fails the 0.8 Jaccard verify) — the S-curve
    discrimination the sweep exists to surface — while the strict four
    rows are IDENTICAL to the registered report (adding a layout to the
    sweep must not perturb the others' numbers: the shared verify is a
    superset, but each layout's precision joins only its own pairs).
    Oracle-checked on both corpora AND for the full-sweep variant via
    _band_tuning_oracle_sql(_TUNING_CONFIGS_FULL)."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.dedup import (
        _TUNING_CONFIGS_FULL,
        _band_tuning_oracle_sql,
        dedup_lsh_band_tuning,
    )
    from tests.conftest import assert_matches_oracle

    dup = " ".join(f"alpha{i} beta{i % 5} gamma{i % 11}" for i in range(40))
    base = " ".join(f"delta{i} epsilon{i % 7} zeta{i % 13}" for i in range(40))
    # replace ~22 of 120 words (the bare "delta1"/"delta2" prefixes also
    # match delta10..delta29 — intentional): Jaccard ≈ 0.28, far below
    # the 0.8 verify bar but plenty of shared shingles for single-hash
    # bands to collide on — the false-positive class for loose layouts
    near = base.replace("delta1", "CHANGED").replace("delta2", "ALTERED")
    rows = [
        (1, dup, "en", "web", len(dup)),
        (2, dup, "en", "cc", len(dup)),
        (3, base, "en", "web", len(base)),
        (4, near, "en", "books", len(near)),
        (5, "entirely different words about tides and migratory birds "
            "across hemispheres", "en", "books", 70),
    ]
    d = str(tmp_path / "tuning")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    spec = QUERIES["dedup_lsh_band_tuning"]
    got = {r["bands"]: r for r in spec.builder(spark, d).collect()}
    # every layout reports: the identical pair collides in every band of
    # every layout (all 12 mins equal), and its bucket has exactly 2 docs
    assert set(got) == {6, 4, 3, 2}, got
    for r in got.values():
        assert r["n_true_dups"] >= 1, r
        assert r["n_candidates"] >= r["n_true_dups"], r
        assert r["dup_precision"] == r["n_true_dups"] / r["n_candidates"], r
    # s* rises with rows-per-band (stricter bands need higher Jaccard)
    by_r = sorted(got.values(), key=lambda r: r["rows_per_band"])
    stars = [r["s_star"] for r in by_r]
    assert stars == sorted(stars) and len(set(stars)) == 4, stars

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle, "dedup_lsh_band_tuning"
    )

    # --- the opt-in full sweep: (12,1) stays correct off-contract ---
    full = {
        r["bands"]: r
        for r in dedup_lsh_band_tuning(
            spark, d, configs=_TUNING_CONFIGS_FULL
        ).collect()
    }
    assert set(full) == {12, 6, 4, 3, 2}, full
    # (12,1) is the superset layout
    assert all(
        full[12]["n_candidates"] >= full[b]["n_candidates"]
        for b in (6, 4, 3, 2)
    ), {b: r["n_candidates"] for b, r in full.items()}
    # the loose layout pays for its recall: the far pair (J ≈ 0.28)
    # collides in at least one single-hash band but fails the verify, so
    # (12,1) reports a candidate that is NOT a true dup
    assert full[12]["n_candidates"] > full[12]["n_true_dups"], full[12]
    assert full[12]["dup_precision"] < 1.0, full[12]
    # adding (12,1) to the sweep must not move the strict four's numbers
    keys = ("rows_per_band", "s_star", "n_candidates", "n_true_dups",
            "dup_precision")
    for b in (6, 4, 3, 2):
        assert {k: full[b][k] for k in keys} == {
            k: got[b][k] for k in keys
        }, (b, full[b], got[b])
    assert_matches_oracle(
        dedup_lsh_band_tuning(spark, d, configs=_TUNING_CONFIGS_FULL),
        con,
        _band_tuning_oracle_sql(_TUNING_CONFIGS_FULL),
        "dedup_lsh_band_tuning_full",
    )

    # no-collision corpus: the report must still have all four layout
    # rows — zero counts, NULL precision — on BOTH engines
    lone = [
        (i, " ".join(f"u{i}w{j} v{i}x{j % 7} y{i}z{j % 13}"
                     for j in range(30)), "en", "web", 100)
        for i in range(1, 5)
    ]
    d2 = str(tmp_path / "tuning_empty")
    spark.createDataFrame(
        lone, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d2}/documents.parquet")
    empty = {r["bands"]: r for r in spec.builder(spark, d2).collect()}
    assert set(empty) == {6, 4, 3, 2}, empty
    for r in empty.values():
        assert r["n_candidates"] == 0 and r["n_true_dups"] == 0, r
        assert r["dup_precision"] is None, r
    con2 = duckdb.connect()
    con2.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d2}/documents.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d2), con2, spec.oracle, "dedup_lsh_band_tuning"
    )


def test_semantic_tau_sweep_exact_grid_counts(spark, tmp_path):
    """The tau sweep's distinguishing claims on a crafted one-bucket
    corpus with KNOWN pairwise cosines — u, (u+w)/sqrt(2), w, and an
    exact duplicate of u give six pairs at cosines {1.0, 0.707 x3,
    0.0 x2}: (1) the full 13-row grid always comes back; (2) counts are
    the exact cumulative — taus <= 0.70 see 4 edges (the dup + the three
    0.707 pairs), taus 0.75..0.90 see only the exact-duplicate pair;
    (3) share_of_pairs is exactly
    n_edges/6 (the below-grid zero-cos pairs count in the denominator);
    (4) a no-pair corpus still reports all 13 rows with zero counts and
    NULL share. Oracle-checked on both corpora."""
    import duckdb
    import numpy as np

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.similarity import (
        DIM,
        N_PLANES,
        _plane_signs,
    )
    from tests.conftest import assert_matches_oracle

    planes = np.array(
        [_plane_signs(p) for p in range(N_PLANES)], dtype="float64"
    )
    rng = np.random.RandomState(7)
    while True:
        u = rng.randn(DIM)
        u /= np.linalg.norm(u)
        w = rng.randn(DIM)
        w -= (w @ u) * u
        w /= np.linalg.norm(w)
        if (planes @ u > 0.5).all() and (planes @ w > 0.5).all():
            break
    b = (u + w) / np.sqrt(2.0)
    vecs = [(1, u), (2, b), (3, w), (4, u)]  # 4 is an exact dup of 1
    emb = [(i, [float(x) for x in v.astype("float32")], 0) for i, v in vecs]
    d = str(tmp_path / "tau")
    spark.createDataFrame(
        emb, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    spec = QUERIES["similarity_semantic_tau_sweep"]
    got = {
        int(round(r["tau"] * 100)): r for r in spec.builder(spark, d).collect()
    }
    assert set(got) == set(range(30, 95, 5)), sorted(got)
    for t, r in got.items():
        expect = 1 if t >= 75 else 4
        assert r["n_edges"] == expect, (t, r)
        assert r["share_of_pairs"] == expect / 6, (t, r)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle,
        "similarity_semantic_tau_sweep",
    )

    # single-vector corpus: no pairs at all — the grid still reports,
    # with NULL share (0/0 is not 0) on BOTH engines
    d2 = str(tmp_path / "tau_empty")
    spark.createDataFrame(
        emb[:1], "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d2}/embeddings.parquet")
    empty = {r["tau"]: r for r in spec.builder(spark, d2).collect()}
    assert len(empty) == 13
    for r in empty.values():
        assert r["n_edges"] == 0 and r["share_of_pairs"] is None, r
    con2 = duckdb.connect()
    con2.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d2}/embeddings.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d2), con2, spec.oracle,
        "similarity_semantic_tau_sweep",
    )


def test_clean_corpus_v2_waterfall_attribution(spark, tmp_path):
    """pipeline_clean_corpus_v2's distinguishing claims on a crafted
    corpus: (1) attribution is a WATERFALL — an identical-text pair is
    in the exact, near (LSH candidate) AND paired (same aHash + caption
    fingerprint) drop lists, but is claimed by 'exact' alone; (2) a
    high-Jaccard rewrite is claimed by 'near'; (3) an embedding
    duplicate with distinct text is claimed by 'semantic' (and docs
    without embeddings are never semantic-dropped); (4) the n_drop_*
    columns + n_kept partition n_docs exactly; (5) the v2 keep-list is
    a strict subset of v1's on the same corpus (v1 stops at the near
    stage); (6) canonical selection is SURVIVOR-AWARE — a semantic
    cluster whose min-id member fails the quality gate keeps its
    surviving member instead of losing every copy. Oracle-checked on
    the same corpus."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import assert_matches_oracle

    words = [f"token{i} " for i in range(25)]
    t_dup = "".join(words).strip()
    t_near = t_dup.replace("token3 ", "swapped ")
    t5 = " ".join(f"alpha{i} beta{i % 7}" for i in range(15))
    t6 = " ".join(f"gamma{i} delta{i % 5}" for i in range(15))
    t7 = " ".join(f"omega{i} sigma{i % 3}" for i in range(15))
    rows = [
        (1, t_dup, "en", "web", len(t_dup)),
        (2, t_dup, "en", "web", len(t_dup)),   # exact dup (also near+paired)
        (3, t_near, "en", "web", len(t_near)),  # near-dup candidate
        (4, "too short", "en", "web", 9),       # quality fail
        (5, t5, "en", "cc", len(t5)),
        (6, t6, "en", "cc", len(t6)),           # semantic dup of 5 (embedding)
        (7, t7, "en", "cc", len(t7)),           # kept, no embedding
        (8, "tiny", "en", "books", 4),          # quality fail, cluster MIN...
        (9, " ".join(f"kappa{i} rho{i % 4}" for i in range(15)),
         "en", "books", 60),                    # ...so 9 must survive
    ]
    d = str(tmp_path / "v2corpus")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    vec = [1.0] + [0.0] * 63
    vec2 = [0.0, 1.0] + [0.0] * 62
    emb = [(5, vec, 0), (6, vec, 0), (8, vec2, 0), (9, vec2, 0)]
    spark.createDataFrame(
        emb, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    spec = QUERIES["pipeline_clean_corpus_v2"]
    got = {(r["source"], r["lang"]): r for r in spec.builder(spark, d).collect()}
    web = got[("web", "en")]
    assert web["n_docs"] == 4
    assert web["n_drop_quality"] == 1   # doc 4
    assert web["n_drop_exact"] == 1     # doc 2, NOT double-claimed
    assert web["n_drop_near"] == 1      # doc 3
    assert web["n_drop_semantic"] == 0 and web["n_drop_paired"] == 0
    assert web["n_kept"] == 1           # doc 1
    cc = got[("cc", "en")]
    assert cc["n_docs"] == 3
    assert cc["n_drop_semantic"] == 1   # doc 6 (5 is the cluster min)
    assert cc["n_drop_quality"] == 0 and cc["n_drop_exact"] == 0
    assert cc["n_drop_near"] == 0 and cc["n_drop_paired"] == 0
    assert cc["n_kept"] == 2            # docs 5 and 7
    # (6) survivor-aware canonicals: cluster {8, 9} has min member 8,
    # which fails the quality gate — doc 9 must be KEPT, not
    # semantic-dropped against an already-dead canonical
    books = got[("books", "en")]
    assert books["n_docs"] == 2
    assert books["n_drop_quality"] == 1  # doc 8
    assert books["n_drop_semantic"] == 0
    assert books["n_kept"] == 1          # doc 9 survives
    # (4) partition property on every row
    for r in got.values():
        assert (
            r["n_drop_quality"] + r["n_drop_exact"] + r["n_drop_near"]
            + r["n_drop_semantic"] + r["n_drop_paired"] + r["n_kept"]
            == r["n_docs"]
        ), r
    # (5) v2 kept strictly below v1 kept (v1 keeps the semantic dup)
    v1 = QUERIES["pipeline_clean_corpus"].builder(spark, d).collect()
    assert sum(r["n_docs_kept"] for r in v1) == 5  # 1, 5, 6, 7, 9
    assert sum(r["n_kept"] for r in got.values()) == 4

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{d}/{t}.parquet/*.parquet')"
        )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle, "pipeline_clean_corpus_v2"
    )


def test_incremental_near_classification(spark, tmp_path):
    """dedup_incremental_near's distinguishing claims on a crafted corpus
    (doc_id % 10 == 0 plays today's batch): (1) a batch doc whose
    verified component touches the corpus is n_neardup_vs_corpus — the
    content family is already represented in history — whether the
    corpus contact is its own edge or ANOTHER member's (taint is
    transitive: doc 100 never matches corpus doc 9 directly); (2) a
    batch-only component keeps exactly its min-id member (novel) and
    drops the rest as n_neardup_in_batch, TRANSITIVELY — in the verified
    chain 60-70-80 (J(60,80) < 0.8, no direct edge) doc 80 still drops
    against kept 60's component, so every drop has a LIVE representative
    (a pairwise smaller-id rule would drop 80 against 70, which itself
    dropped — the dead-canonical hole); (3) a batch doc with no verified
    neighbor is n_novel_kept; (4) the three columns partition n_batch.
    Oracle-checked on the same corpus (recursive-CTE closure vs the
    Spark CC loop)."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import assert_matches_oracle

    t_a = " ".join(f"alpha{i} beta{i % 5} gamma{i % 11}" for i in range(40))
    t_c = " ".join(f"delta{i} epsilon{i % 7} zeta{i % 13}" for i in range(40))
    t_d = " ".join(f"eta{i} theta{i % 3} iota{i % 17}" for i in range(40))
    t_h = " ".join(f"kappa{i} lambda{i % 9} mu{i % 4}" for i in range(40))

    # verified chain: 60-70 and 70-80 at J = 0.8125 (2 of 60 words
    # swapped per hop), 60-80 at J ≈ 0.66 (4 words apart — an LSH
    # candidate that FAILS the verify, so the only 60-80 connection is
    # transitive through 70)
    w = " ".join(f"nu{i} xi{i % 6} omicron{i % 13}" for i in range(20)).split(" ")

    def rep(ws, idxs, tag):
        w2 = list(ws)
        for j, i in enumerate(idxs):
            w2[i] = f"CHANGED{tag}{j}"
        return " ".join(w2)

    t60 = " ".join(w)
    t70 = rep(w, [10, 34], "a")
    t80 = rep(t70.split(" "), [22, 46], "b")
    # corpus taint: 9 (history) - 90 verified; 90 - 100 verified;
    # 9 - 100 candidate but J ≈ 0.66 fails verify
    wf = " ".join(f"pi{i} sigma{i % 5} tau{i % 11}" for i in range(20)).split(" ")
    t9 = " ".join(wf)
    t90 = rep(wf, [8, 32], "c")
    t100 = rep(t90.split(" "), [20, 44], "d")

    rows = [
        # history (doc_id % 10 != 0)
        (3, t_a, "en", "web", len(t_a)),
        (5, t_h, "en", "web", len(t_h)),
        (9, t9, "en", "web", len(t9)),
        # batch
        (10, t_a, "en", "s1", len(t_a)),   # direct corpus match (doc 3)
        (20, t_c, "en", "s2", len(t_c)),   # batch-only component min: kept
        (30, t_c, "en", "s2", len(t_c)),   # non-min member: in-batch dup
        (40, t_d, "en", "s3", len(t_d)),   # novel
        (50, t_a, "en", "s4", len(t_a)),   # matches corpus 3 AND batch 10
        (60, t60, "en", "s5", len(t60)),   # chain min: kept
        (70, t70, "en", "s5", len(t70)),   # chain middle: in-batch dup
        (80, t80, "en", "s5", len(t80)),   # chain end: TRANSITIVE in-batch
        (90, t90, "en", "s6", len(t90)),   # direct corpus match (doc 9)
        (100, t100, "en", "s6", len(t100)),  # TRANSITIVELY tainted via 90
    ]
    d = str(tmp_path / "incr")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    spec = QUERIES["dedup_incremental_near"]
    got = {r["source"]: r for r in spec.builder(spark, d).collect()}
    assert set(got) == {"s1", "s2", "s3", "s4", "s5", "s6"}, got
    assert got["s1"]["n_neardup_vs_corpus"] == 1 and got["s1"]["n_batch"] == 1
    assert got["s2"]["n_batch"] == 2
    assert got["s2"]["n_neardup_in_batch"] == 1    # doc 30
    assert got["s2"]["n_novel_kept"] == 1          # doc 20 (component min)
    assert got["s3"]["n_novel_kept"] == 1 and got["s3"]["n_batch"] == 1
    assert got["s4"]["n_neardup_vs_corpus"] == 1   # corpus wins over in-batch
    assert got["s4"]["n_neardup_in_batch"] == 0
    # (2) transitive in-batch drop: 80 has no verified edge to kept 60,
    # but shares its component through 70
    assert got["s5"]["n_batch"] == 3
    assert got["s5"]["n_novel_kept"] == 1          # doc 60
    assert got["s5"]["n_neardup_in_batch"] == 2    # docs 70 AND 80
    # (1) transitive corpus taint: 100 never matches doc 9 directly
    assert got["s6"]["n_batch"] == 2
    assert got["s6"]["n_neardup_vs_corpus"] == 2   # docs 90 AND 100
    # (4) partition property on every row
    for r in got.values():
        assert (
            r["n_neardup_vs_corpus"]
            + r["n_neardup_in_batch"]
            + r["n_novel_kept"]
            == r["n_batch"]
        ), r

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle, "dedup_incremental_near"
    )


def _srp_chain_vectors(seed):
    """Deterministic a-b-c chain sharing ONE SRP bucket with
    cos(a,b) = cos(b,c) = 0.6 (>= NEAR_DUP_TAU) and cos(a,c) < 0.37
    (< NEAR_DUP_TAU): the transitive shape for the semantic incremental
    family, constructed against the real hyperplanes so bucket
    co-location is by design, not luck."""
    import numpy as np

    from iceberg_explorer_spark.operators.similarity import (
        DIM,
        N_PLANES,
        _plane_signs,
    )

    planes = np.array([_plane_signs(p) for p in range(N_PLANES)])

    def unit(v):
        return v / np.linalg.norm(v)

    rng = np.random.default_rng(seed)
    for _ in range(500):
        a = unit(rng.normal(size=DIM))
        o1 = rng.normal(size=DIM)
        o1 = unit(o1 - (o1 @ a) * a)
        b = 0.6 * a + 0.8 * o1          # unit: a ⟂ o1, 0.36 + 0.64 = 1
        o2 = rng.normal(size=DIM)
        o2 = unit(o2 - (o2 @ b) * b)
        c = 0.6 * b + 0.8 * o2
        same_bucket = len({tuple((planes @ v) > 0) for v in (a, b, c)}) == 1
        if same_bucket and abs(a @ c) < 0.37:
            return a, b, c
    raise AssertionError(f"no bucket-sharing chain for seed {seed}")


def test_incremental_semantic_classification(spark, tmp_path):
    """dedup_incremental_semantic's distinguishing claims on a crafted
    corpus (vec_id % 10 == 0 plays today's batch; vec_id == doc_id):
    (1) corpus taint is TRANSITIVE — in the chain 9-210-220 (each hop
    cos 0.6 >= tau, skip cos 0.32 < tau) doc 220 never matches corpus
    doc 9 directly but drops vs_corpus through 210's contact; (2) a
    batch-only chain 310-320-330 keeps exactly its min member and drops
    330 TRANSITIVELY (no direct 310-330 edge); (3) an identical-vector
    batch/corpus pair is a direct contact; (4) a doc with no qualifying
    neighbor is novel; (5) n_batch counts EMBEDDED batch docs only — a
    batch doc with no embedding row contributes nothing (semantic dedup
    has no opinion on it); (6) the three columns partition n_batch.
    Chain vectors are constructed against the real SRP hyperplanes so
    every claimed edge is a same-bucket pair by design. Oracle-checked
    on the same corpus."""
    import duckdb
    import numpy as np

    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import assert_matches_oracle
    from iceberg_explorer_spark.operators.similarity import DIM

    p, q, r = _srp_chain_vectors(11)    # 9 (corpus) - 210 - 220
    a, b, c = _srp_chain_vectors(7)     # 310 - 320 - 330 (all batch)
    rng = np.random.default_rng(3)

    def _unit():
        v = rng.normal(size=DIM)
        return v / np.linalg.norm(v)

    novel, u, w1, w2 = _unit(), _unit(), _unit(), _unit()
    emb = [
        (9, p), (210, q), (220, r),
        (310, a), (320, b), (330, c),
        (400, novel),
        (7, u), (500, u),
        # doc 600 is in documents but has NO embedding row
        (700, w1), (710, w1),   # 700 is an ORPHAN (no documents row)
        (701, w2), (720, w2),   # 701 is an orphan CORPUS embedding
    ]
    d = str(tmp_path / "semincr")
    spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in emb],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    docs = [
        (9, "web"), (7, "web"),
        (210, "s6"), (220, "s6"),
        (310, "s5"), (320, "s5"), (330, "s5"),
        (400, "s3"), (500, "s1"), (600, "s0"),
        (710, "s7"), (720, "s8"),
    ]
    spark.createDataFrame(
        [(i, f"doc {i} text body", "en", s, 20) for i, s in docs],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    spec = QUERIES["dedup_incremental_semantic"]
    got = {row["source"]: row for row in spec.builder(spark, d).collect()}
    # (5) doc 600 has no vector: source s0 must be absent entirely
    assert set(got) == {"s1", "s3", "s5", "s6", "s7", "s8"}, got
    # (7) a batch edge to an ORPHAN embedding (700 has no documents row)
    # must not elect the ghost as kept representative: 710 is NOVEL,
    # not in-batch-dropped against a doc that exists nowhere
    assert got["s7"]["n_novel_kept"] == 1 and got["s7"]["n_batch"] == 1
    # (8) the CORPUS side is deliberately NOT spine-restricted: the
    # history embedding store is authoritative for "already
    # represented", so 720 drops vs_corpus against orphan embedding 701
    assert got["s8"]["n_semdup_vs_corpus"] == 1 and got["s8"]["n_batch"] == 1
    # (3) identical-vector contact
    assert got["s1"]["n_semdup_vs_corpus"] == 1 and got["s1"]["n_batch"] == 1
    # (4) novel
    assert got["s3"]["n_novel_kept"] == 1 and got["s3"]["n_batch"] == 1
    # (2) batch-only chain: min kept, BOTH others dropped in-batch
    assert got["s5"]["n_batch"] == 3
    assert got["s5"]["n_novel_kept"] == 1          # 310
    assert got["s5"]["n_semdup_in_batch"] == 2     # 320 AND 330 (transitive)
    # (1) transitive corpus taint: 220 has no direct edge to doc 9
    assert got["s6"]["n_batch"] == 2
    assert got["s6"]["n_semdup_vs_corpus"] == 2    # 210 AND 220
    # (6) partition property
    for row in got.values():
        assert (
            row["n_semdup_vs_corpus"]
            + row["n_semdup_in_batch"]
            + row["n_novel_kept"]
            == row["n_batch"]
        ), row

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{d}/{t}.parquet/*.parquet')"
        )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle, "dedup_incremental_semantic"
    )


def test_pipeline_incremental_ingest_waterfall(spark, tmp_path):
    """pipeline_incremental_ingest's distinguishing claims on a crafted
    corpus (doc_id % 10 == 0 plays today's batch): (1) FIRST-claim
    attribution — an identical-text batch doc is claimed by 'exact'
    even though it is also a trivial near/semantic duplicate; (2) exact
    covers both directions: digest already in history AND non-min
    within the batch digest group; (3) near claims both a direct corpus
    near-match and the non-min member of a batch-only verified pair;
    (4) semantic claims the non-min member of an identical-embedding
    pair whose TEXTS are not lexical near-dups; (5) SURVIVOR-AWARENESS
    across stages — doc 110 shares its embedding with doc 100, but 100
    fell at the exact stage, so 110 is KEPT (a global semantic grouping
    would drop it against a ghost); (6) the four columns partition
    n_batch; (7) NULL-text batch docs stay in the accounting as ONE
    content group (the digest sentinel — a bare md5 inner join would
    silently drop them from n_batch in BOTH engines). Oracle-checked on
    the same corpus."""
    import duckdb
    import numpy as np

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.similarity import DIM
    from tests.conftest import assert_matches_oracle

    t_a = " ".join(f"alpha{i} beta{i % 5} gamma{i % 11}" for i in range(40))
    t_b = " ".join(f"delta{i} epsilon{i % 7} zeta{i % 13}" for i in range(40))
    t_c = " ".join(f"eta{i} theta{i % 3} iota{i % 17}" for i in range(20))

    def swap2(text, i, j, tag):
        w = text.split(" ")
        w[i], w[j] = f"CHANGED{tag}0", f"CHANGED{tag}1"
        return " ".join(w)

    t_c_near = swap2(t_c, 10, 34, "a")           # J = 0.8125 vs t_c
    t_d = " ".join(f"kappa{i} lambda{i % 9} mu{i % 4}" for i in range(20))
    t_d_near = swap2(t_d, 12, 40, "b")
    t_e = " ".join(f"nu{i} xi{i % 6} omicron{i % 13}" for i in range(40))
    t_f = " ".join(f"pi{i} rho{i % 5} sigma{i % 11}" for i in range(40))
    t_g = " ".join(f"tau{i} upsilon{i % 7} phi{i % 13}" for i in range(40))
    t_h = " ".join(f"chi{i} psi{i % 3} omega{i % 17}" for i in range(40))

    docs = [
        (3, t_a, "web"), (5, t_c, "web"),        # history
        (10, t_a, "s1"),                          # exact vs corpus
        (20, t_b, "s2"), (30, t_b, "s2"),        # exact in-batch: 30 drops
        (40, t_c_near, "s3"),                     # near vs corpus (doc 5)
        (50, t_d, "s4"), (60, t_d_near, "s4"),   # near in-batch: 60 drops
        (70, t_e, "s5"), (80, t_f, "s5"),        # semantic pair: 80 drops
        (90, t_g, "s6"),                          # novel
        (100, t_a, "s7"), (110, t_h, "s7"),      # survivor-aware pin
        (120, None, "s9"), (130, None, "s9"),    # NULL-text digest group
    ]
    rng = np.random.default_rng(19)

    def _unit():
        v = rng.normal(size=DIM)
        return [float(x) for x in v / np.linalg.norm(v)]

    v1, v2, v3 = _unit(), _unit(), _unit()
    emb = [(70, v1), (80, v1), (100, v2), (110, v2), (90, v3)]
    d = str(tmp_path / "incrcap")
    spark.createDataFrame(
        [(i, t, "en", s, len(t) if t else 0) for i, t, s in docs],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        [(i, v, 0) for i, v in emb],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    spec = QUERIES["pipeline_incremental_ingest"]
    got = {row["source"]: row for row in spec.builder(spark, d).collect()}
    assert set(got) == {"s1", "s2", "s3", "s4", "s5", "s6", "s7", "s9"}, got
    assert got["s1"]["n_drop_exact"] == 1 and got["s1"]["n_batch"] == 1
    assert got["s2"]["n_drop_exact"] == 1 and got["s2"]["n_kept"] == 1
    assert got["s3"]["n_drop_near"] == 1 and got["s3"]["n_batch"] == 1
    assert got["s4"]["n_drop_near"] == 1 and got["s4"]["n_kept"] == 1
    assert got["s5"]["n_drop_semantic"] == 1 and got["s5"]["n_kept"] == 1
    assert got["s6"]["n_kept"] == 1 and got["s6"]["n_batch"] == 1
    # (5) the survivor-aware pin: 100 fell at exact; 110 must be KEPT,
    # not semantic-dropped against the ghost
    assert got["s7"]["n_drop_exact"] == 1      # doc 100
    assert got["s7"]["n_drop_semantic"] == 0
    assert got["s7"]["n_kept"] == 1            # doc 110
    # (7) NULL text is ONE content group and stays IN the accounting:
    # md5(NULL) is NULL in both engines and NULL equi-join keys never
    # match, so without the digest sentinel docs 120/130 would vanish
    # from n_batch entirely; with it the group keeps its min (120) and
    # drops 130 at the exact stage
    assert got["s9"]["n_batch"] == 2
    assert got["s9"]["n_drop_exact"] == 1      # doc 130
    assert got["s9"]["n_kept"] == 1            # doc 120
    # (6) partition property
    for row in got.values():
        assert (
            row["n_drop_exact"]
            + row["n_drop_near"]
            + row["n_drop_semantic"]
            + row["n_kept"]
            == row["n_batch"]
        ), row

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{d}/{t}.parquet/*.parquet')"
        )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle, "pipeline_incremental_ingest"
    )


def test_connected_components_local_fast_path_matches_distributed(spark):
    """The size-gated local union-find path (CC_LOCAL_MAX_EDGES) must be
    label-for-label identical to the distributed min-label loop —
    including self-loops, multi-component graphs, chains longer than the
    checkpoint span, and reversed-order edges — and must declare itself
    in the telemetry (cc_local, zero rounds). One row above the cap the
    distributed loop must engage."""
    from iceberg_explorer_spark.operators.dedup import connected_components

    edges_rows = (
        [(i, i + 1) for i in range(100, 112)]   # 12-chain
        + [(205, 203), (203, 204)]              # reversed-order edges
        + [(300, 300)]                          # self-loop singleton
        + [(400, 402), (401, 402)]              # star
    )
    edges = spark.createDataFrame(edges_rows, "doc_a long, doc_b long")
    local = connected_components(edges)
    dist = connected_components(edges, local_max_edges=0)
    assert local.cc_local is True and local.cc_rounds == 0
    assert dist.cc_local is False
    l = {(r["node"], r["component"]) for r in local.collect()}
    d = {(r["node"], r["component"]) for r in dist.collect()}
    assert l == d, (l ^ d)
    # the gate is exact at cap±1: exactly-at-cap -> local path,
    # one-below -> distributed loop
    at_cap = connected_components(edges, local_max_edges=len(edges_rows))
    assert at_cap.cc_local is True
    forced = connected_components(edges, local_max_edges=len(edges_rows) - 1)
    assert forced.cc_local is False
    for out in (local, dist, at_cap, forced):
        out.cc_persisted_labels.unpersist()


def test_connected_components_mixed_type_edges_skip_local_gate(spark):
    """Endpoint columns of DIFFERENT types must bypass the local
    union-find gate: the distributed path widens them through the
    unionByName coercion, which the local path's single-type schema
    cannot reproduce — so a mixed-type graph must take the distributed
    loop even under the default cap, with correct widened labels."""
    from iceberg_explorer_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "doc_a int, doc_b long"
    )
    out = connected_components(edges)
    assert out.cc_local is False
    got = {(r["node"], r["component"]) for r in out.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}
    out.cc_persisted_labels.unpersist()


def test_incremental_family_exact_stage_consistency(spark):
    """The capstone's exact stage IS dedup_incremental_ingest — one
    shared definition (incremental_exact_flags), so on the same corpus
    the two must agree per source: identical n_batch, and the
    capstone's n_drop_exact equals the sibling's n_batch - n_new_kept
    (a doc fails the exact stage iff it is seen in history or
    non-canonical within the batch — exactly the complement of the
    sibling's kept count). A drift between them would mean the shared
    definition forked."""
    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import SF_DIR_SMALL

    sf = SF_DIR_SMALL
    sib = {
        r["source"]: r
        for r in QUERIES["dedup_incremental_ingest"].builder(spark, sf).collect()
    }
    cap = {
        r["source"]: r
        for r in QUERIES["pipeline_incremental_ingest"].builder(spark, sf).collect()
    }
    assert set(sib) == set(cap)
    for s in sib:
        assert cap[s]["n_batch"] == sib[s]["n_batch"], s
        assert (
            cap[s]["n_drop_exact"]
            == sib[s]["n_batch"] - sib[s]["n_new_kept"]
        ), (s, cap[s], sib[s])


def test_artifact_delta_append_accounting(spark, tmp_path):
    """pipeline_incremental_artifact_delta's distinguishing claims on a
    crafted corpus: (1) a kept doc appends one digest row, its distinct
    shingle-hash rows, ONE signature row and N_BANDS band rows, and one
    embedding row when it has a valid vector; (2) a kept NULL-text doc
    appends a digest row but ZERO shingle/signature/band rows (nothing
    to tokenize) and zero embedding rows; (3) EVERY drop stage is
    excluded from the append bill — exact, near (a verified pair with a
    kept doc), and semantic (shares a kept doc's vector) dropped docs
    all append nothing, so their sources are absent. Oracle-checked on
    the same corpus."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.dedup import N_BANDS
    from tests.conftest import assert_matches_oracle

    t_a = " ".join(f"alpha{i} beta{i % 5} gamma{i % 11}" for i in range(40))
    t_b = " ".join(f"delta{i} epsilon{i % 7} zeta{i % 13}" for i in range(40))
    w50 = t_b.split(" ")
    w50[10], w50[34] = "CHANGEDd0", "CHANGEDd1"   # J = 0.875 vs t_b
    t_50 = " ".join(w50)
    t_60 = " ".join(f"eta{i} theta{i % 3} iota{i % 17}" for i in range(40))
    docs = [
        (3, t_a, "web"),                 # history
        (10, t_a, "s3"),                 # exact drop -> s3 absent
        (20, t_b, "s1"),                 # kept, embedded
        (40, None, "s2"),                # kept, NULL text, no embedding
        (50, t_50, "s4"),                # near drop (vs kept 20) -> absent
        (60, t_60, "s5"),                # semantic drop (shares 20's vec)
    ]
    d = str(tmp_path / "delta")
    spark.createDataFrame(
        [(i, t, "en", s, len(t) if t else 0) for i, t, s in docs],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    vec = [1.0] + [0.0] * 63
    spark.createDataFrame(
        [(20, vec, 0), (60, vec, 0)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    spec = QUERIES["pipeline_incremental_artifact_delta"]
    got = {r["source"]: r for r in spec.builder(spark, d).collect()}
    # (3) EVERY drop stage is excluded from the append bill: exact (s3),
    # near (s4, verified pair with kept 20), semantic (s5, shares 20's
    # vector) — only genuinely kept docs append
    assert set(got) == {"s1", "s2"}, got
    s1 = got["s1"]
    assert s1["n_docs_appended"] == 1
    assert s1["n_shingle_rows"] == 118            # 120 words -> 118 distinct 3-grams
    assert s1["n_signature_rows"] == 1
    assert s1["n_band_rows"] == N_BANDS
    assert s1["n_embedding_rows"] == 1
    s2 = got["s2"]
    assert s2["n_docs_appended"] == 1             # the digest row still appends
    assert s2["n_shingle_rows"] == 0
    assert s2["n_signature_rows"] == 0 and s2["n_band_rows"] == 0
    assert s2["n_embedding_rows"] == 0

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{d}/{t}.parquet/*.parquet')"
        )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle,
        "pipeline_incremental_artifact_delta",
    )


def test_multitable_ops_adversarial_corpus(spark, tmp_path):
    """Run EVERY oracle-bearing operator whose SQL touches BOTH the
    documents and embeddings tables (and nothing else) — the
    semantic/incremental/curation compositions the single-table sweeps
    exclude by construction — against the union of both adversarial
    fixtures: pathological text (empty, whitespace, sub-shingle, exact
    dups, unicode, NULL) × pathological vectors (NULL vector, ragged,
    all-zero, NULL element, duplicate vectors, an ORPHAN vec_id with no
    document row, an embedding on a NULL-text doc), with doc_ids
    straddling the batch/corpus parity the incremental family splits
    on. DuckDB must match exactly."""
    import re as _re

    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.similarity import DIM
    from tests.conftest import assert_matches_oracle

    texts = [
        "",
        "   ",
        "one",
        "two words",
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dog",   # exact duplicate
        "foo bar baz foo bar baz foo bar baz",
        "Füßgänger überqueren die Straße heute",
        "漢字 かな カナ 漢字 かな",
        "a.b,c;d:e!f?g(h)i[j]k{l}m",
        ("word " * 50).strip(),
        None,                                            # NULL text
    ]
    rows = [
        (
            i,
            t,
            ["en", "de", "ja"][i % 3],
            ["web", "books", "cc"][i % 3],
            len(t) if t is not None else 0,
        )
        for i, t in enumerate(texts)
    ]
    d = str(tmp_path / "madv")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    v1 = [1.0] + [0.0] * (DIM - 1)
    v2 = [0.0, 1.0] + [0.0] * (DIM - 2)
    v3 = [0.0, 0.0, 1.0] + [0.0] * (DIM - 3)
    emb = [
        (0, v1, 0),                       # batch-parity doc, empty text
        (4, v1, 0),                       # corpus doc sharing 0's vector
        (5, None, 0),                     # NULL vector (contract-excluded)
        (6, [1.0, 2.0, 3.0], 0),          # ragged
        (7, [0.0] * DIM, 0),              # all-zero
        (8, [None] + [1.0] * (DIM - 1), 0),  # NULL element
        (10, v2, 1),                      # batch doc
        (100, v2, 1),                     # ORPHAN vec_id (no doc row)
        (11, v3, 2),                      # embedding on a NULL-text doc
    ]
    spark.createDataFrame(
        emb, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{d}/{t}.parquet/*.parquet')"
        )
    other_tables = (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events",
    )
    ops = [
        name
        for name, spec in QUERIES.items()
        if spec.oracle
        and _re.search(r"\bdocuments\b", spec.oracle)
        and _re.search(r"\bembeddings\b", spec.oracle)
        and not any(
            _re.search(rf"\b{t}\b", spec.oracle) for t in other_tables
        )
    ]
    assert len(ops) >= 4, ops  # the sweep must stay broad
    from tests.conftest import assert_all_match_oracle

    assert_all_match_oracle(
        spark, con,
        [(n, QUERIES[n].oracle) for n in ops],
        lambda n: QUERIES[n].builder(spark, d),
    )


def test_incremental_artifact_round_trip(spark, tmp_path, request):
    """The persisted-artifact witness for the incremental family's 100 TB
    claim (history contributes ONLY its persisted artifacts; the nightly
    job appends, never rewrites): (1) the four history artifacts —
    digests, (doc_id, hb) shingles, band rows, SRP assignment — are
    written to a store; (2) with the session caches for the corpus
    CLEARED, the full exact→near→semantic waterfall rerun reading history
    only from those tables produces row-for-row the SAME (doc_id, source,
    stage) table as the in-session path, on a crafted corpus where every
    stage fires (exact vs corpus + in-batch, near vs corpus + in-batch,
    semantic, NULL-text digest group, survivor-aware keep); (3) the rows
    appended for kept docs equal pipeline_incremental_artifact_delta's
    per-source bill exactly (digest/shingle/band/embedding rows, with
    signature rows = band rows / N_BANDS); (4) after the append, every
    day-1 kept doc is claimed by the EXACT stage on a rerun — the
    append is what makes re-ingesting the same batch idempotent."""
    import numpy as np

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.dedup import (
        N_BANDS,
        invalidate_shared_candidates,
    )
    from iceberg_explorer_spark.operators.incremental_artifacts import (
        ARTIFACT_NAMES,
        append_incremental_artifacts,
        incremental_status_from_artifacts,
        write_incremental_artifacts,
    )
    from iceberg_explorer_spark.operators.pipeline import incremental_status
    from iceberg_explorer_spark.operators.similarity import DIM

    t_a = " ".join(f"alpha{i} beta{i % 5} gamma{i % 11}" for i in range(40))
    t_b = " ".join(f"delta{i} epsilon{i % 7} zeta{i % 13}" for i in range(40))
    t_c = " ".join(f"eta{i} theta{i % 3} iota{i % 17}" for i in range(20))

    def swap2(text, i, j, tag):
        w = text.split(" ")
        w[i], w[j] = f"CHANGED{tag}0", f"CHANGED{tag}1"
        return " ".join(w)

    t_c_near = swap2(t_c, 10, 34, "a")           # J = 0.8125 vs t_c
    t_d = " ".join(f"kappa{i} lambda{i % 9} mu{i % 4}" for i in range(20))
    t_d_near = swap2(t_d, 12, 40, "b")
    t_e = " ".join(f"nu{i} xi{i % 6} omicron{i % 13}" for i in range(40))
    t_f = " ".join(f"pi{i} rho{i % 5} sigma{i % 11}" for i in range(40))
    t_g = " ".join(f"tau{i} upsilon{i % 7} phi{i % 13}" for i in range(40))
    t_h = " ".join(f"chi{i} psi{i % 3} omega{i % 17}" for i in range(40))
    docs = [
        (3, t_a, "web"), (5, t_c, "web"),        # history
        (10, t_a, "s1"),                          # exact vs corpus
        (20, t_b, "s2"), (30, t_b, "s2"),        # exact in-batch
        (40, t_c_near, "s3"),                     # near vs corpus (doc 5)
        (50, t_d, "s4"), (60, t_d_near, "s4"),   # near in-batch
        (70, t_e, "s5"), (80, t_f, "s5"),        # semantic pair
        (90, t_g, "s6"),                          # novel
        (100, t_a, "s7"), (110, t_h, "s7"),      # survivor-aware keep
        (120, None, "s9"), (130, None, "s9"),    # NULL-text digest group
    ]
    rng = np.random.default_rng(23)

    def _unit():
        v = rng.normal(size=DIM)
        return [float(x) for x in v / np.linalg.norm(v)]

    v1, v2, v3 = _unit(), _unit(), _unit()
    # 140 is an ORPHAN batch embedding (batch-parity vec, no documents
    # row) sharing doc 70/80's vector: both paths must treat it as a
    # BATCH member — the edges (70,140)/(80,140) are batch-batch and
    # the spine restriction drops them — not as corpus content that
    # would taint docs 70/80 vs_corpus (r12 review finding: the
    # artifact path's membership frame must include batch vec ids)
    emb = [(70, v1), (80, v1), (100, v2), (110, v2), (90, v3), (140, v1)]
    d = str(tmp_path / "roundtrip")
    spark.createDataFrame(
        [(i, t, "en", s, len(t) if t else 0) for i, t, s in docs],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        [(i, v, 0) for i, v in emb],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    # (1) backfill the history artifacts
    art = BucketedArtifactStore(spark, "t_art_incr_rt", n_buckets=2)
    request.addfinalizer(art.drop)
    counts = write_incremental_artifacts(spark, d, art)
    assert counts["digests"] == 2          # t_a, t_c
    assert counts["bands"] == 2 * N_BANDS  # one signature per history doc
    assert counts["srp"] == 0              # no history vectors here
    assert counts["shingles"] > 0

    # the in-session reference BEFORE clearing anything
    in_session = sorted(
        tuple(r) for r in incremental_status(spark, d).collect()
    )
    kept_day1 = {r[0] for r in in_session if r[2] == "kept"}
    assert kept_day1  # the corpus is built so several docs survive
    delta = {
        r["source"]: r
        for r in QUERIES["pipeline_incremental_artifact_delta"]
        .builder(spark, d)
        .collect()
    }

    # (2) fresh start: drop every session-shared materialization for the
    # corpus, then rerun the waterfall with history read ONLY from tables
    invalidate_shared_candidates(d)
    from_files = sorted(
        tuple(r)
        for r in incremental_status_from_artifacts(spark, d, art).collect()
    )
    assert from_files == in_session

    # (3) the append bill equals the delta report, count for count.
    # The bill is counted from the increment frames (the production
    # shape — O(batch), no artifact re-scan); the before/after ROW
    # counts here are the witness that the append physically landed.
    before_rows = {n: art.read(n).count() for n in ARTIFACT_NAMES}
    status = incremental_status_from_artifacts(spark, d, art)
    appended = append_incremental_artifacts(spark, d, art, status)
    for n in ARTIFACT_NAMES:
        assert art.read(n).count() == before_rows[n] + appended[n], n
    assert appended["digests"] == sum(
        r["n_docs_appended"] for r in delta.values()
    )
    assert appended["shingles"] == sum(
        r["n_shingle_rows"] for r in delta.values()
    )
    assert appended["bands"] == sum(r["n_band_rows"] for r in delta.values())
    assert appended["bands"] == N_BANDS * sum(
        r["n_signature_rows"] for r in delta.values()
    )
    assert appended["srp"] == sum(
        r["n_embedding_rows"] for r in delta.values()
    )

    # (4) idempotence for kept docs: with their rows appended, a rerun of
    # the same batch claims every day-1 keeper at the EXACT stage
    day2 = {
        r["doc_id"]: r["stage"]
        for r in incremental_status_from_artifacts(spark, d, art).collect()
    }
    assert all(day2[doc_id] == "exact" for doc_id in kept_day1), {
        k: v for k, v in day2.items() if k in kept_day1
    }


def test_bucketed_artifact_store_round_trip_with_compaction(spark, tmp_path):
    """The bucketed artifact store (VERDICT r12 #3 — makes the operator
    docstrings' 'bucketed digest artifact' claim executable): (1) the
    backfill through BucketedArtifactStore writes the history rows, and
    the full waterfall and the paired report read from the bucketed
    tables are row-for-row identical to the in-session
    pipeline.incremental_status and dedup_incremental_paired; (2) a nightly append
    lands through the same bucket spec (row growth equals the appended
    bill; at most one new file per bucket thanks to the writer's
    hash-aligned repartition); (3) ONE COMPACTION CYCLE rewrites every
    artifact back to one file per non-empty bucket in the SAME spec —
    rows, waterfall results and the paired sibling's report are all
    unchanged across it, and the kept-doc idempotence claim (day-1
    keepers re-ingest as exact) holds over the compacted store."""
    import numpy as np

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.dedup import (
        invalidate_shared_candidates,
    )
    from iceberg_explorer_spark.operators.incremental_artifacts import (
        ARTIFACT_NAMES,
        BucketedArtifactStore,
        append_incremental_artifacts,
        incremental_paired_from_artifacts,
        incremental_status_from_artifacts,
        write_incremental_artifacts,
    )
    from iceberg_explorer_spark.operators.pipeline import incremental_status
    from iceberg_explorer_spark.operators.similarity import DIM

    t_a = " ".join(f"alpha{i} beta{i % 5} gamma{i % 11}" for i in range(40))
    t_b = " ".join(f"delta{i} epsilon{i % 7} zeta{i % 13}" for i in range(40))

    def swap2(text, i, j, tag):
        w = text.split(" ")
        w[i], w[j] = f"CHANGED{tag}0", f"CHANGED{tag}1"
        return " ".join(w)

    t_a_near = swap2(t_a, 10, 100, "a")  # near-dup of history t_a
    t_c = " ".join(f"eta{i} theta{i % 3} iota{i % 17}" for i in range(40))
    docs = [
        (3, t_a, "web"),                       # history
        (10, t_a, "s1"),                       # exact vs corpus
        (20, t_b, "s2"), (30, t_b, "s2"),      # exact in-batch
        (40, t_a_near, "s3"),                  # near vs corpus
        (70, t_c, "s5"), (80, swap2(t_c, 2, 50, "c"), "s5"),  # near in-batch
        (90, " ".join(f"nu{i} xi{i % 6}" for i in range(40)), "s6"),  # novel
    ]
    rng = np.random.default_rng(31)

    def _unit():
        v = rng.normal(size=DIM)
        return [float(x) for x in v / np.linalg.norm(v)]

    v1, v2 = _unit(), _unit()
    emb = [(90, v1), (70, v2)]
    d = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, t, "en", s, len(t) if t else 0) for i, t, s in docs],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        [(i, v, 0) for i, v in emb],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    store = BucketedArtifactStore(spark, "t_art_rt", n_buckets=4)
    try:
        # (1) backfill: history is doc 3 alone (one digest, one
        # signature's band rows, no vectors); the waterfall and paired
        # reports read from the store equal the in-session references
        counts_store = write_incremental_artifacts(spark, d, store)
        assert counts_store["digests"] == 1
        assert counts_store["bands"] == N_BANDS
        assert counts_store["srp"] == 0
        assert counts_store["shingles"] > 0
        in_session = sorted(
            tuple(r) for r in incremental_status(spark, d).collect()
        )
        paired_in_session = sorted(
            tuple(r)
            for r in QUERIES["dedup_incremental_paired"]
            .builder(spark, d)
            .collect()
        )
        invalidate_shared_candidates(d)
        from_store = sorted(
            tuple(r)
            for r in incremental_status_from_artifacts(
                spark, d, store
            ).collect()
        )
        assert from_store == in_session and from_store
        paired_store = sorted(
            tuple(r)
            for r in incremental_paired_from_artifacts(
                spark, d, store
            ).collect()
        )
        assert paired_store == paired_in_session

        # (2) nightly append through the bucket spec
        rows_before = {n: store.read(n).count() for n in ARTIFACT_NAMES}
        files_before = {n: store.n_files(n) for n in ARTIFACT_NAMES}
        status = incremental_status_from_artifacts(spark, d, store)
        kept_day1 = {
            r["doc_id"] for r in status.collect() if r["stage"] == "kept"
        }
        assert kept_day1
        appended = append_incremental_artifacts(spark, d, store, status)
        for n in ARTIFACT_NAMES:
            assert store.read(n).count() == rows_before[n] + appended[n], n
            # hash-aligned writes: at most one new file per bucket
            assert store.n_files(n) <= files_before[n] + store.n_buckets, n
        assert any(
            store.n_files(n) > files_before[n]
            for n in ARTIFACT_NAMES
            if appended[n]
        )

        # (3) one compaction cycle: same rows, same results, and the
        # file count lands EXACTLY at one file per non-empty bucket —
        # computed independently via Spark SQL hash() (the same Murmur3
        # the bucket id uses), so the documented no-op failure mode
        # (autoBucketedScan elision: one file read per file written)
        # cannot pass — under it the grown artifacts keep their
        # backfill+append file counts, which exceed the non-empty
        # bucket count for every artifact the append touched
        rows_grown = {n: store.read(n).count() for n in ARTIFACT_NAMES}
        files_grown = {n: store.n_files(n) for n in ARTIFACT_NAMES}
        from iceberg_explorer_spark.operators.incremental_artifacts import (
            ARTIFACT_BUCKET_KEYS,
        )

        expected_buckets = {
            n: store.read(n)
            .selectExpr(
                "pmod(hash("
                + ", ".join(ARTIFACT_BUCKET_KEYS[n])
                + f"), {store.n_buckets}) AS b"
            )
            .distinct()
            .count()
            for n in ARTIFACT_NAMES
        }
        grown_status = sorted(
            tuple(r)
            for r in incremental_status_from_artifacts(
                spark, d, store
            ).collect()
        )
        compacted_files = store.compact()
        assert any(
            files_grown[n] > expected_buckets[n] for n in ARTIFACT_NAMES
        )  # the cycle genuinely had something to compact
        for n in ARTIFACT_NAMES:
            assert store.read(n).count() == rows_grown[n], n
            assert compacted_files[n] == expected_buckets[n], (
                n, compacted_files[n], expected_buckets[n], files_grown[n],
            )
            assert store.n_files(n) == expected_buckets[n], n
            # the spec survived: a further append still lands (loudly
            # verified by Spark against the existing bucket spec)
        post = sorted(
            tuple(r)
            for r in incremental_status_from_artifacts(
                spark, d, store
            ).collect()
        )
        assert post == grown_status
        day2 = {
            r[0]: r[2] for r in post
        }
        assert all(day2[doc_id] == "exact" for doc_id in kept_day1), day2
    finally:
        store.drop()
        invalidate_shared_candidates(d)


def test_clean_corpus_v2_near_stage_lost_last_copy_contract(spark, tmp_path):
    """Pins the v2 flagship's DISCLOSED near-stage semantics as contract
    (pipeline_clean_corpus_v2 doc: the near stage keeps v1's
    unconditional doc_b drop, so — unlike the survivor-aware semantic
    and paired stages — a near pair whose doc_a fell at an earlier stage
    loses its LAST copy). Crafted: doc 1 has 19 words (quality-fail,
    MIN_WORDS = 20) and doc 2 is doc 1's text plus two filler words
    (quality-ok, LSH candidate of doc 1, shingle Jaccard ≈ 0.89): doc 1
    drops 'quality', doc 2 drops 'near' as the pair's doc_b, and the
    group keeps ZERO copies — its content is absent from the keep list.
    The CONTROL group is the same shape with a quality-OK min: exactly
    one copy survives. Oracle-checked, so the behavior is the CONTRACT
    of both engines, not a Spark accident. Measured at sf0.1 this mode
    loses zero docs (every near component's min survives quality+exact
    there — SCALE.md round-11); this pin is what the number refers to,
    and the starting point for a survivor-aware near variant if a real
    corpus measures the loss material."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import assert_matches_oracle

    t19 = " ".join(f"lost{i} copy{i % 5}" for i in range(9)) + " endword"
    assert len(t19.split()) == 19
    t21 = t19 + " filler0 filler1"
    u21 = " ".join(f"ctrl{i} word{i % 7}" for i in range(10)) + " tailword"
    assert len(u21.split()) == 21
    u23 = u21 + " filler2 filler3"
    rows = [
        (1, t19, "en", "lost", len(t19)),    # quality-fail group min
        (2, t21, "en", "lost", len(t21)),    # near doc_b -> group loses all
        (11, u21, "en", "ctrl", len(u21)),   # quality-OK group min: kept
        (12, u23, "en", "ctrl", len(u23)),   # near doc_b
    ]
    d = str(tmp_path / "lostcopy")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    # precondition: the crafted pairs really are LSH candidates (else the
    # test would pass vacuously with doc 2/12 kept)
    from iceberg_explorer_spark.operators.dedup import (
        invalidate_shared_candidates,
        shared_lsh_candidates,
    )

    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in shared_lsh_candidates(spark, d).collect()
    }
    assert (1, 2) in pairs and (11, 12) in pairs, pairs

    spec = QUERIES["pipeline_clean_corpus_v2"]
    got = {r["source"]: r for r in spec.builder(spark, d).collect()}
    lost = got["lost"]
    assert lost["n_docs"] == 2
    assert lost["n_drop_quality"] == 1      # doc 1
    assert lost["n_drop_near"] == 1         # doc 2 — unconditional doc_b
    assert lost["n_kept"] == 0              # the group lost its LAST copy
    ctrl = got["ctrl"]
    assert ctrl["n_drop_near"] == 1         # doc 12
    assert ctrl["n_kept"] == 1              # doc 11 — the boundary case
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{d}/{t}.parquet/*.parquet')"
        )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle, "pipeline_clean_corpus_v2"
    )
    invalidate_shared_candidates(d)


def test_clean_corpus_v2_lost_last_copy_skewed_sweep(spark, tmp_path):
    """Quantifies the lost-last-copy trigger on a SKEWED corpus (VERDICT
    r11 #6): the zero-loss measurement at sf0.1 rests on near-component
    mins rarely failing quality — this sweep builds a corpus where
    near-dup groups SYSTEMATICALLY pair a quality-failing min with
    passing rewrites, and the loss rate is 100% OF THE ADVERSARIAL
    GROUPS (8/8 here, including three-member groups — 18 of the
    corpus's 26 docs lose their content entirely),
    while every control group (passing min) keeps exactly one
    copy. Conclusion written to SCALE.md: the zero at sf0.1 is
    FIXTURE-SHAPED, not a property of the operator — the disclosed
    trigger condition for the survivor-aware near variant (a real
    corpus measuring material loss) stands, and this corpus is the
    measuring instrument."""
    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.dedup import (
        invalidate_shared_candidates,
        shared_lsh_candidates,
    )

    rows = []
    n_adv, n_ctrl = 8, 4
    for g in range(n_adv):
        # 19-word min (quality-fail) + passing near rewrites; groups 0-1
        # get a THIRD member to show loss is not a two-doc artifact
        t19 = " ".join(f"adv{g}w{i} adv{g}x{i % 5}" for i in range(9))
        t19 += f" adv{g}end"
        assert len(t19.split()) == 19
        rows.append((100 + 10 * g, t19, f"a{g}"))
        rows.append((101 + 10 * g, t19 + " fillA fillB", f"a{g}"))
        if g < 2:
            rows.append((102 + 10 * g, t19 + " fillC fillD", f"a{g}"))
    for g in range(n_ctrl):
        u21 = " ".join(f"ctl{g}w{i} ctl{g}x{i % 7}" for i in range(10))
        u21 += f" ctl{g}tail"
        assert len(u21.split()) == 21
        rows.append((300 + 10 * g, u21, f"c{g}"))
        rows.append((301 + 10 * g, u21 + " fillE fillF", f"c{g}"))
    d = str(tmp_path / "skewed")
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    # precondition: every group's (min, rewrite) pair is an LSH candidate
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in shared_lsh_candidates(spark, d).collect()
    }
    for g in range(n_adv):
        assert (100 + 10 * g, 101 + 10 * g) in pairs, g
    for g in range(n_ctrl):
        assert (300 + 10 * g, 301 + 10 * g) in pairs, g

    got = {
        r["source"]: r
        for r in QUERIES["pipeline_clean_corpus_v2"]
        .builder(spark, d)
        .collect()
    }
    lost_docs = 0
    for g in range(n_adv):
        r = got[f"a{g}"]
        n = 3 if g < 2 else 2
        assert r["n_kept"] == 0, (g, r)            # last copy lost
        assert r["n_drop_quality"] == 1, (g, r)    # the failing min
        assert r["n_drop_near"] == n - 1, (g, r)   # every rewrite
        lost_docs += r["n_docs"]
    for g in range(n_ctrl):
        r = got[f"c{g}"]
        assert r["n_kept"] == 1, (g, r)            # min survives quality
        assert r["n_drop_near"] == 1, (g, r)
    # the headline number for SCALE.md: 8/8 adversarial groups lose ALL
    # copies — 18 of the corpus's 26 docs (2 three-member + 6 two-member)
    assert lost_docs == 18
    invalidate_shared_candidates(d)


def test_incremental_paired_classification(spark, tmp_path):
    """dedup_incremental_paired's distinguishing claims on a crafted
    corpus (doc_id % 10 == 0 plays the batch): (1) DOMAIN — a batch doc
    without a pair key (payload under the decode minimum, or NULL text)
    is outside n_batch entirely, same rule as the semantic sibling's
    unembedded docs; (2) a batch doc whose (ahash, caption_fp) key
    already exists in history is pairdup-vs-corpus; (3) two batch docs
    sharing a new key keep only the min doc_id (pairdup-in-batch);
    (4) the LAION distinguishing rule — SAME image, NEW caption
    survives: interleaving a non-ASCII char every few characters leaves
    the ascii-stripped image bytes (and so the aHash) IDENTICAL to a
    history doc's while replacing every raw caption 8-gram, and the doc
    classifies novel-kept (asserted against a precondition check of the
    keys, so the claim cannot pass vacuously). Oracle-checked on the
    same corpus."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.multimodal import paired_pair_keys
    from iceberg_explorer_spark.sources.registry import load_table
    from tests.conftest import assert_matches_oracle

    t = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    u = "kilo lima mike november oscar papa quebec romeo sierra tango"
    assert len(t) >= 48 and len(u) >= 48
    # same ascii bytes as t (so same fake-image aHash), every raw 8-gram
    # changed: a middle dot every 6 chars keeps no 8-char window clean
    t_recap = "·".join(t[i: i + 6] for i in range(0, len(t), 6))
    rows = [
        (7, t, "web", len(t)),           # history pair key
        (10, t, "s1", len(t)),           # batch: key seen -> vs_corpus
        (20, u, "s2", len(u)),           # batch: new key, min -> novel
        (30, u, "s2", len(u)),           # batch: same key -> in_batch
        (40, t_recap, "s3", len(t_recap)),  # same image, new caption
        (50, "tiny text", "s4", 9),      # no payload -> outside domain
        (60, None, "s4", 0),             # NULL text -> outside domain
    ]
    d = str(tmp_path / "incrpaired")
    spark.createDataFrame(
        [(i, txt, "en", s, n) for i, txt, s, n in rows],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    # precondition: doc 40 really is the same-image/new-caption case
    keys = {
        r["doc_id"]: (r["ahash"], r["caption_fp"])
        for r in paired_pair_keys(
            load_table(spark, d, "documents")
        ).collect()
    }
    assert set(keys) == {7, 10, 20, 30, 40}  # 50/60 emit no key
    assert keys[40][0] == keys[7][0]         # same aHash
    assert keys[40][1] != keys[7][1]         # every caption gram changed

    spec = QUERIES["dedup_incremental_paired"]
    got = {r["source"]: r for r in spec.builder(spark, d).collect()}
    assert set(got) == {"s1", "s2", "s3"}, got  # s4 outside the domain
    assert got["s1"]["n_batch"] == 1
    assert got["s1"]["n_pairdup_vs_corpus"] == 1
    assert got["s2"]["n_batch"] == 2
    assert got["s2"]["n_novel_kept"] == 1       # doc 20 (key min)
    assert got["s2"]["n_pairdup_in_batch"] == 1  # doc 30
    assert got["s3"]["n_batch"] == 1
    assert got["s3"]["n_novel_kept"] == 1       # re-captioned image lives
    for r in got.values():
        assert (
            r["n_pairdup_vs_corpus"]
            + r["n_pairdup_in_batch"]
            + r["n_novel_kept"]
            == r["n_batch"]
        ), r

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle, "dedup_incremental_paired"
    )


def test_incremental_paired_artifact_round_trip(spark, tmp_path, request):
    """The paired sibling's persisted-artifact witness, completing the
    family's file-path coverage: (1) write_incremental_artifacts now
    also persists the (doc_id, source, ahash, caption_fp) pair-key
    table for history docs that emit a key; (2) the file-probed variant
    (incremental_paired_from_artifacts — batch keys decoded from the
    increment alone, history from the artifact, shared classification
    and report tails) equals the in-session dedup_incremental_paired
    row-for-row; (3) the nightly append writes kept docs' pair keys,
    and a day-2 rerun classifies every batch doc whose key was kept (or
    already present) as pairdup-vs-corpus — append idempotence on the
    pair modality."""
    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.dedup import (
        invalidate_shared_candidates,
    )
    from iceberg_explorer_spark.operators.incremental_artifacts import (
        append_incremental_artifacts,
        incremental_paired_from_artifacts,
        incremental_status_from_artifacts,
        write_incremental_artifacts,
    )

    t = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    u = "kilo lima mike november oscar papa quebec romeo sierra tango"
    t_recap = "·".join(t[i: i + 6] for i in range(0, len(t), 6))
    rows = [
        (7, t, "web", len(t)),           # history pair key
        (10, t, "s1", len(t)),           # key seen -> vs_corpus
        (20, u, "s2", len(u)),           # new key, min -> novel
        (30, u, "s2", len(u)),           # same new key -> in_batch
        (40, t_recap, "s3", len(t_recap)),  # same image, new caption
        (50, "tiny text", "s4", 9),      # no pair key
        (60, None, "s4", 0),             # no pair key
    ]
    d = str(tmp_path / "pairedrt")
    spark.createDataFrame(
        [(i, txt, "en", s, n) for i, txt, s, n in rows],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    art = BucketedArtifactStore(spark, "t_art_paired_rt", n_buckets=2)
    request.addfinalizer(art.drop)
    counts = write_incremental_artifacts(spark, d, art)
    assert counts["pairs"] == 1  # doc 7 is the only keyed history doc

    def rows_of(df):
        return sorted(tuple(r) for r in df.collect())

    in_session = rows_of(QUERIES["dedup_incremental_paired"].builder(spark, d))
    invalidate_shared_candidates(d)
    from_files = rows_of(incremental_paired_from_artifacts(spark, d, art))
    assert from_files == in_session

    # nightly append: the waterfall keeps 20 (u min), 40 (unique digest),
    # 50 and 60 (no shingles/embedding to match) — kept docs 20 and 40
    # carry pair keys, so the pairs artifact gains exactly those two
    status = incremental_status_from_artifacts(spark, d, art)
    appended = append_incremental_artifacts(spark, d, art, status)
    assert appended["pairs"] == 2, appended
    # day 2: every keyed batch doc's key is now history -> vs_corpus
    day2 = {
        r["source"]: r
        for r in incremental_paired_from_artifacts(spark, d, art).collect()
    }
    assert day2["s1"]["n_pairdup_vs_corpus"] == 1 == day2["s1"]["n_batch"]
    assert day2["s2"]["n_pairdup_vs_corpus"] == 2 == day2["s2"]["n_batch"]
    assert day2["s3"]["n_pairdup_vs_corpus"] == 1 == day2["s3"]["n_batch"]
    invalidate_shared_candidates(d)


def test_incremental_artifacts_two_day_operation(spark, tmp_path, request):
    """TRUE multi-day operation over the persisted artifacts (VERDICT
    r11 #2): batch membership is a pluggable predicate (id ranges here,
    not the parity fixture), corpus contact is decided by ARTIFACT
    membership, and a second DISTINCT day-2 batch is ingested against
    the artifacts GROWN by day-1's append. Pins, per stage:
    (exact) a day-2 doc duplicating a day-1 KEPT doc is claimed by the
    digest probe — the artifact, not the original corpus, is what makes
    it a duplicate; (near) a day-2 near-dup of a day-1 kept doc is
    n_near vs_corpus — under the old parity convention the day-1 doc
    kept batch parity forever, the edge read batch-batch, the spine
    restriction dropped it and the doc would have scored NOVEL;
    (semantic) a day-2 vector twin of a day-1 kept doc's embedding
    drops at the semantic stage; (paired) a day-2 pair-key twin of a
    day-1 kept doc is pairdup-vs-corpus; (bill) day-2's append bill is
    exactly its kept docs' artifact rows and the files grow by exactly
    the bill; (idempotence) after day-2's append, re-ingesting day 2
    claims every day-2 keeper at the exact stage."""
    import numpy as np

    from iceberg_explorer_spark.operators.dedup import N_BANDS
    from iceberg_explorer_spark.operators.incremental_artifacts import (
        ARTIFACT_NAMES,
        append_incremental_artifacts,
        incremental_paired_from_artifacts,
        incremental_status_from_artifacts,
        write_incremental_artifacts,
    )
    from iceberg_explorer_spark.operators.similarity import DIM

    def swap2(text, i, j, tag):
        w = text.split(" ")
        w[i], w[j] = f"CHANGED{tag}0", f"CHANGED{tag}1"
        return " ".join(w)

    t_a = " ".join(f"alpha{i} beta{i % 5} gamma{i % 11}" for i in range(40))
    t_b = " ".join(f"delta{i} epsilon{i % 7} zeta{i % 13}" for i in range(20))
    t_b_near = swap2(t_b, 10, 34, "a")           # J ≈ 0.81 vs t_b
    t_c = " ".join(f"eta{i} theta{i % 3} iota{i % 17}" for i in range(40))
    t_d = " ".join(f"kappa{i} lambda{i % 9} mu{i % 4}" for i in range(40))
    t_e = " ".join(f"nu{i} xi{i % 6} omicron{i % 13}" for i in range(40))
    t_f = " ".join(f"pi{i} rho{i % 5} sigma{i % 11}" for i in range(40))
    t_g = " ".join(f"tau{i} upsilon{i % 7} phi{i % 13}" for i in range(20))
    t_g_near = swap2(t_g, 12, 40, "b")
    docs = [
        # history: ids < 100
        (1, t_a, "h"), (2, t_c, "h"),
        # day 1: 100 <= id < 200
        (100, t_b, "d1"),      # novel -> kept, then APPENDED
        (110, t_a, "d1"),      # exact vs original history
        (120, t_d, "d1"),      # novel + embedding v2 -> kept, APPENDED
        (130, t_e, "d1"),      # novel -> kept, pair key APPENDED
        # day 2: id >= 200 (a DISTINCT batch against the grown artifacts)
        (200, t_b, "s200"),        # exact dup of DAY-1 KEPT 100
        (210, t_b_near, "s210"),   # near-dup of DAY-1 KEPT 100
        (220, t_f, "s220"),        # vector twin of DAY-1 KEPT 120
        (230, " ".join(f"fresh{i} novel{i % 6}" for i in range(40)), "s230"),
        (240, t_c, "s240"),        # exact dup of original history
        (250, t_g, "s250"),        # near in-batch pair, min -> kept
        (260, t_g_near, "s260"),   # near in-batch pair -> dropped
    ]
    rng = np.random.default_rng(37)

    def _unit():
        v = rng.normal(size=DIM)
        return [float(x) for x in v / np.linalg.norm(v)]

    v2, v3 = _unit(), _unit()
    emb = [(120, v2), (220, v2), (230, v3)]
    d = str(tmp_path / "twoday")
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in docs],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        [(i, v, 0) for i, v in emb],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    day1 = lambda c: (c >= 100) & (c < 200)      # noqa: E731
    day2 = lambda c: c >= 200                     # noqa: E731
    any_batch = lambda c: c >= 100                # noqa: E731

    # backfill: history = NOT any_batch = ids < 100
    art = BucketedArtifactStore(spark, "t_art_two_day", n_buckets=2)
    request.addfinalizer(art.drop)
    counts = write_incremental_artifacts(spark, d, art, batch_pred=any_batch)
    assert counts["digests"] == 2  # t_a, t_c only

    # day 1: ingest + append through the SAME predicate
    st1 = {
        r["doc_id"]: r["stage"]
        for r in incremental_status_from_artifacts(
            spark, d, art, batch_pred=day1
        ).collect()
    }
    assert st1 == {100: "kept", 110: "exact", 120: "kept", 130: "kept"}, st1
    a1 = append_incremental_artifacts(
        spark,
        d,
        art,
        incremental_status_from_artifacts(spark, d, art, batch_pred=day1),
        batch_pred=day1,
    )
    assert a1["digests"] == 3 and a1["srp"] == 1 and a1["pairs"] == 3, a1

    # day 2 against the GROWN artifacts
    st2 = {
        r["doc_id"]: r["stage"]
        for r in incremental_status_from_artifacts(
            spark, d, art, batch_pred=day2
        ).collect()
    }
    assert st2[200] == "exact", st2      # dup of a day-1 KEPT doc
    assert st2[210] == "near", st2       # near-dup of day-1 kept: corpus
    assert st2[220] == "semantic", st2   # vector twin of day-1 kept
    assert st2[240] == "exact", st2      # dup of original history
    assert st2[230] == "kept" and st2[250] == "kept", st2
    assert st2[260] == "near", st2       # in-batch near pair, min kept

    # (paired) day-2 key twin of day-1 kept doc 100 -> vs_corpus
    p2 = {
        r["source"]: r
        for r in incremental_paired_from_artifacts(
            spark, d, art, batch_pred=day2
        ).collect()
    }
    assert p2["s200"]["n_pairdup_vs_corpus"] == 1, p2

    # (bill) day-2 append = exactly its keepers' artifact rows, and the
    # tables grow by exactly the bill
    before = {n: art.read(n).count() for n in ARTIFACT_NAMES}
    a2 = append_incremental_artifacts(
        spark,
        d,
        art,
        incremental_status_from_artifacts(spark, d, art, batch_pred=day2),
        batch_pred=day2,
    )
    assert a2["digests"] == 2, a2        # keepers 230, 250
    assert a2["bands"] == 2 * N_BANDS, a2
    assert a2["srp"] == 1, a2            # only 230 has an embedding
    assert a2["pairs"] == 2, a2
    for n in ARTIFACT_NAMES:
        assert art.read(n).count() == before[n] + a2[n], n

    # (idempotence) day-2 keepers are now history: a re-ingest claims
    # them at the exact stage
    st2b = {
        r["doc_id"]: r["stage"]
        for r in incremental_status_from_artifacts(
            spark, d, art, batch_pred=day2
        ).collect()
    }
    assert st2b[230] == "exact" and st2b[250] == "exact", st2b


def test_incremental_ingest_v2_paired_stage(spark, tmp_path):
    """pipeline_incremental_ingest_v2's distinguishing claims on a
    crafted corpus (batch = doc_id % 10 == 0; all fp-preserving tails
    verified by precondition asserts on the real pair keys, so no claim
    can pass vacuously): (1) PAIRED VS CORPUS — a batch doc that
    survives exact (unique digest), near (J ≈ 0.44 vs everything) and
    semantic (no embedding) but whose (ahash, caption_fp) key equals a
    history doc's drops at the NEW fourth stage; (2) SURVIVOR-AWARE
    in-batch canon — a pair-key group whose global min doc near-dropped
    keeps its surviving member (a naive global key-min would drop the
    group's last live copy against a ghost); (3) paired in-batch — two
    surviving batch docs with one key keep only the min; (4) a batch doc
    outside the pair-key domain is untouched by the stage; (5) the first
    three stage columns equal pipeline_incremental_ingest's on the same
    corpus, and v1's n_kept = v2's n_kept + n_drop_paired per source
    (the fourth stage only ever splits 'kept'). Oracle-checked."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.multimodal import shared_pair_keys
    from tests.conftest import assert_matches_oracle

    t1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    b1 = t1 + " nectar osprey panther quartz ridge summit tundra umbra vertex wisp"
    t2 = " ".join(f"veris{i} lumen{i % 7} orbis{i % 13}" for i in range(13)) + " finis"
    c_w = t2.split(); c_w[0] = "ALTERED0"
    c = " ".join(c_w)                     # J(t2, c) ≈ 0.949, different ahash
    y = t2 + " brume cinder dorsal ember fjord glyph harrow inlet jasper knoll"
    u = "kudzu lantern meadow nimbus ossify prairie quasar riddle saffron tulip"
    u2 = u + " anvil bugle cobalt karma lagoon mosaic opal pivot quench ramble"
    rows = [
        (7, t1, "web"),    # history: holds b1's pair key
        (9, c, "web"),     # history: t2's near-twin, DIFFERENT pair key
        (10, b1, "s1"),    # survives 1-3, key seen -> paired vs corpus
        (20, t2, "s2"),    # near-drops vs doc 9 (global key min of {20,30})
        (30, y, "s2"),     # survivor-aware: sole surviving key holder, KEPT
        (40, u, "s3"),     # in-batch pair: min survivor, kept
        (50, u2, "s3"),    # same key, not min -> paired in-batch
        (60, "short", "s4"),  # no pair key: stage 4 never touches it
    ]
    d = str(tmp_path / "v2incr")
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    # preconditions: the crafted key relationships actually hold
    keys = {
        r["doc_id"]: (r["ahash"], r["caption_fp"])
        for r in shared_pair_keys(spark, d).collect()
    }
    assert keys[10] == keys[7], "b1 must share history doc 7's pair key"
    assert keys[30] == keys[20], "y must share t2's pair key"
    assert keys[9] != keys[20], "history near-twin must have its own key"
    assert keys[50] == keys[40], "u2 must share u's pair key"
    assert 60 not in keys

    v2 = {
        r["source"]: r
        for r in QUERIES["pipeline_incremental_ingest_v2"]
        .builder(spark, d)
        .collect()
    }
    # (1) paired vs corpus
    assert v2["s1"]["n_drop_paired"] == 1 and v2["s1"]["n_kept"] == 0
    # (2) survivor-aware: 20 claimed by near, 30 KEPT (not ghost-dropped)
    assert v2["s2"]["n_drop_near"] == 1
    assert v2["s2"]["n_drop_paired"] == 0
    assert v2["s2"]["n_kept"] == 1
    # (3) paired in-batch: min survivor kept, other dropped
    assert v2["s3"]["n_drop_paired"] == 1 and v2["s3"]["n_kept"] == 1
    # (4) outside the pair domain: untouched
    assert v2["s4"]["n_kept"] == 1 and v2["s4"]["n_drop_paired"] == 0
    for r in v2.values():  # the five columns partition n_batch
        assert (
            r["n_drop_exact"] + r["n_drop_near"] + r["n_drop_semantic"]
            + r["n_drop_paired"] + r["n_kept"] == r["n_batch"]
        ), r
    # (5) stages 1-3 identical to the v1 capstone; paired only splits kept
    v1 = {
        r["source"]: r
        for r in QUERIES["pipeline_incremental_ingest"]
        .builder(spark, d)
        .collect()
    }
    assert set(v1) == set(v2)
    for s in v1:
        for col in ("n_batch", "n_drop_exact", "n_drop_near",
                    "n_drop_semantic"):
            assert v1[s][col] == v2[s][col], (s, col)
        assert v1[s]["n_kept"] == v2[s]["n_kept"] + v2[s]["n_drop_paired"], s

    spec = QUERIES["pipeline_incremental_ingest_v2"]
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{d}/{t}.parquet/*.parquet')"
        )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle,
        "pipeline_incremental_ingest_v2",
    )
    from iceberg_explorer_spark.operators.dedup import (
        invalidate_shared_candidates,
    )

    invalidate_shared_candidates(d)


def test_incremental_artifact_delta_v2_paired_billing(spark, tmp_path):
    """The v2 delta's distinguishing claims on the v2 capstone's crafted
    corpus: (1) a PAIRED-dropped doc appends NOTHING — its source is
    absent from the v2 bill while the V1 delta (which cannot see the
    fourth stage) bills it as kept, the exact divergence the v2 report
    exists to close; (2) per-source counts are exact for kept docs —
    digest/signature/band rows from the shingle table, n_pair_rows for
    keyed docs, zero embedding rows on an embedding-less corpus; (3) a
    kept doc with NO shingles and NO pair key (1-word text) bills one
    digest row and nothing else. Oracle-checked on the same corpus."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.dedup import (
        N_BANDS,
        invalidate_shared_candidates,
    )
    from tests.conftest import assert_matches_oracle

    t1 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    b1 = t1 + " nectar osprey panther quartz ridge summit tundra umbra vertex wisp"
    u = "kudzu lantern meadow nimbus ossify prairie quasar riddle saffron tulip"
    rows = [
        (7, t1, "web"),      # history: holds b1's pair key
        (10, b1, "s1"),      # survives 1-3, paired-drops vs corpus
        (40, u, "s3"),       # kept: shingles + pair key
        (60, "short", "s4"),  # kept: no shingles, no pair key
    ]
    d = str(tmp_path / "v2delta")
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    v2 = {
        r["source"]: r
        for r in QUERIES["pipeline_incremental_artifact_delta_v2"]
        .builder(spark, d)
        .collect()
    }
    v1 = {
        r["source"]: r
        for r in QUERIES["pipeline_incremental_artifact_delta"]
        .builder(spark, d)
        .collect()
    }
    # (1) the paired-dropped doc: billed by v1, ABSENT from v2
    assert "s1" in v1 and v1["s1"]["n_docs_appended"] == 1
    assert "s1" not in v2, v2
    # (2) kept keyed doc: 1 digest, 8 shingles (10 words), 1 signature,
    # N_BANDS band rows, 0 embeddings, 1 pair row
    s3 = v2["s3"]
    assert s3["n_docs_appended"] == 1
    assert s3["n_shingle_rows"] == 8
    assert s3["n_signature_rows"] == 1
    assert s3["n_band_rows"] == N_BANDS
    assert s3["n_embedding_rows"] == 0
    assert s3["n_pair_rows"] == 1
    # (3) shingle-less, key-less keeper: one digest row, nothing else
    s4 = v2["s4"]
    assert s4["n_docs_appended"] == 1
    assert s4["n_shingle_rows"] == 0 and s4["n_signature_rows"] == 0
    assert s4["n_band_rows"] == 0 and s4["n_pair_rows"] == 0
    # v1 and v2 agree wherever the fourth stage did not bite
    for s in ("s3", "s4"):
        for col in ("n_docs_appended", "n_shingle_rows",
                    "n_signature_rows", "n_band_rows", "n_embedding_rows"):
            assert v1[s][col] == v2[s][col], (s, col)

    spec = QUERIES["pipeline_incremental_artifact_delta_v2"]
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{d}/{t}.parquet/*.parquet')"
        )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle,
        "pipeline_incremental_artifact_delta_v2",
    )
    invalidate_shared_candidates(d)


def test_seen_canon_flags_model_based(spark):
    """Model-based pin of incremental_seen_canon_flags — the ONE
    exact-match incremental rule now backing three operators (the
    digest instance, the pair-key sibling, the v2 capstone's paired
    stage): for generated keyed row sets spanning duplicate keys within
    the batch, across batch/history, and history-only keys, the Spark
    flags must equal a direct Python evaluation of the written rule
    (seen = key in history; is_canon = min batch doc_id of the key),
    both with the history derived from the frame's non-batch rows AND
    with the same history supplied via the history_keys artifact path —
    the two paths must be indistinguishable."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from iceberg_explorer_spark.operators.dedup import (
        INCR_MOD,
        incremental_seen_canon_flags,
    )

    ids = st.lists(
        st.integers(min_value=0, max_value=120),
        min_size=1, max_size=14, unique=True,
    )
    keys = st.lists(
        st.sampled_from(["k0", "k1", "k2", "k3"]),
        min_size=14, max_size=14,
    )

    @settings(max_examples=12, deadline=None)
    @given(ids=ids, keys=keys)
    def run(ids, keys):
        rows = [
            (i, f"s{i % 3}", keys[n]) for n, i in enumerate(ids)
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, source string, k string"
        )
        batch = [(i, s, k) for i, s, k in rows if i % INCR_MOD == 0]
        hist_keys = {k for i, _, k in rows if i % INCR_MOD != 0}
        kmin = {}
        for i, _, k in batch:
            kmin[k] = min(kmin.get(k, i), i)
        want = sorted(
            (i, s, 1 if k in hist_keys else 0, 1 if kmin[k] == i else 0)
            for i, s, k in batch
        )
        got = sorted(
            (r["doc_id"], r["source"], r["seen"], r["is_canon"])
            for r in incremental_seen_canon_flags(df, ["k"]).collect()
        )
        assert got == want, (got, want)
        # the artifact path with the SAME history must be identical
        hist_df = spark.createDataFrame(
            [(k,) for k in sorted(hist_keys)] or [("never-a-key",)],
            "k string",
        )
        got_art = sorted(
            (r["doc_id"], r["source"], r["seen"], r["is_canon"])
            for r in incremental_seen_canon_flags(
                df, ["k"], history_keys=hist_df
            ).collect()
        )
        assert got_art == want, (got_art, want)

    run()


def test_batch_membership_generalizes_parity(spark):
    """The round-12 pluggability contract: handing the named parity
    fixture explicitly equals the default on the flag helper, and
    membership-based classification (batch_members) equals the parity
    default whenever the member frame holds exactly the parity ids —
    membership strictly GENERALIZES the fixture, it never diverges from
    it on the fixture's own domain (the reason every oracle stays
    byte-identical)."""
    from iceberg_explorer_spark.operators.dedup import (
        incremental_component_cls,
        incremental_exact_flags,
        parity_batch_predicate,
    )
    from iceberg_explorer_spark.sources.registry import load_table

    docs = load_table(spark, SF_DIR_SMALL, "documents")
    a = sorted(tuple(r) for r in incremental_exact_flags(docs).collect())
    b = sorted(
        tuple(r)
        for r in incremental_exact_flags(
            docs, batch_pred=parity_batch_predicate
        ).collect()
    )
    assert a == b and a  # identical, and non-vacuously so

    # classification: members = the parity ids -> identical three-way
    # partition (edges 10-20/30-40 batch-batch, 20-3/50-7 corpus contact)
    be = spark.createDataFrame(
        [(10, 20), (20, 3), (30, 40), (50, 7)], "id_a long, id_b long"
    )
    batch = spark.createDataFrame(
        [(i, "s") for i in (10, 20, 30, 40, 50)],
        "doc_id long, source string",
    )
    default = sorted(
        tuple(r) for r in incremental_component_cls(be, batch).collect()
    )
    via_members = sorted(
        tuple(r)
        for r in incremental_component_cls(
            be, batch, batch_members=batch.select("doc_id")
        ).collect()
    )
    assert default == via_members, (default, via_members)
    # and the crafted edges exercise all three outcomes
    by_id = {r[0]: (r[2], r[3]) for r in default}
    assert by_id[20] == (1, 0) and by_id[50] == (1, 0)  # direct contact
    assert by_id[10] == (1, 0)   # tainted via 20's component
    assert by_id[30] == (0, 0)   # batch-only component min: novel kept
    assert by_id[40] == (0, 1)   # its in-batch drop


def test_simhash_banding_exact_recall(spark):
    """Model-based pin of dedup_simhash_hamming's distinguishing claim:
    with 4 bands over 60 bits, banding has PERFECT recall at the
    HAM_MAX=3 verify bar — 3 differing bits touch at most 3 of the 4
    bands (pigeonhole), so every pair within the bar shares a whole
    band and MUST be emitted as a candidate. Swept over generated
    signature populations biased toward near-collisions (random bases
    with 0-6 bit flips applied), with the quadratic bucket guard
    disabled to isolate the banding math; also cross-checks the Spark
    popcount against Python's."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from iceberg_explorer_spark.operators.dedup import (
        SIMHASH_HAM_MAX,
        pairs_from_band_rows,
        simhash_band_rows,
    )

    bases = st.lists(
        st.integers(min_value=0, max_value=(1 << 60) - 1),
        min_size=1, max_size=4, unique=True,
    )
    flips = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # which base
            st.sets(st.integers(min_value=0, max_value=59), max_size=6),
        ),
        min_size=1, max_size=8,
    )

    @settings(max_examples=10, deadline=None)
    @given(bases=bases, flips=flips)
    def run(bases, flips):
        sigs = list(bases)
        for base_i, bits in flips:
            v = bases[base_i % len(bases)]
            for b in bits:
                v ^= 1 << b
            sigs.append(v)
        rows = [(i, s) for i, s in enumerate(dict.fromkeys(sigs))]
        df = spark.createDataFrame(rows, "doc_id long, simhash long")
        got = {
            (r["doc_a"], r["doc_b"])
            for r in pairs_from_band_rows(
                simhash_band_rows(df), max_bucket=None
            ).collect()
        }
        for i, si in rows:
            for j, sj in rows:
                if i < j and bin(si ^ sj).count("1") <= SIMHASH_HAM_MAX:
                    assert (i, j) in got, (i, j, bin(si ^ sj))

    run()


def test_simhash_hamming_end_to_end(spark, tmp_path):
    """dedup_simhash_hamming end-to-end on a crafted corpus: identical
    texts share a signature (hamming 0 pair emitted), token-multiset
    permutations share a signature too (SimHash is order-blind — votes
    sum per token), and unrelated texts emit nothing. Oracle-checked so
    the pair set is the contract of both engines."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import assert_matches_oracle

    t1 = " ".join(f"orange{i} plum{i % 7} pear{i % 3}" for i in range(30))
    words = t1.split(" ")
    t1_perm = " ".join(words[::-1])        # same multiset, same signature
    t2 = " ".join(f"slate{i} basalt{i % 5} gneiss{i % 11}" for i in range(30))
    rows = [
        (1, t1, "a"), (2, t1, "a"),        # identical -> hamming 0
        (3, t1_perm, "a"),                  # permutation -> hamming 0
        (4, t2, "b"),                       # unrelated
    ]
    d = str(tmp_path / "simham")
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).selectExpr(
        "doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS LONG) AS n_chars",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    spec = QUERIES["dedup_simhash_hamming"]
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in spec.builder(spark, d).collect()
    }
    assert got == {(1, 2): 0, (1, 3): 0, (2, 3): 0}, got

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{d}/{t}.parquet/*.parquet')"
        )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle, "dedup_simhash_hamming"
    )

    # the calibration sweep shares the chain: same corpus, the
    # histogram must put exactly the three hamming-0 pairs in its
    # first bucket with a correct cumulative bill, oracle-checked
    sweep = QUERIES["dedup_simhash_hamming_sweep"]
    rows_sweep = {
        r["hamming"]: (r["n_pairs"], r["n_pairs_cum"])
        for r in sweep.builder(spark, d).collect()
    }
    assert rows_sweep[0] == (3, 3), rows_sweep
    assert_matches_oracle(
        sweep.builder(spark, d), con, sweep.oracle,
        "dedup_simhash_hamming_sweep",
    )


def test_incremental_two_day_near_claims(spark, tmp_path):
    """dedup_incremental_two_day_near's distinguishing claims on a
    crafted chain corpus (one doc per source; LSH candidacy of every
    load-bearing pair precondition-asserted so no claim passes
    vacuously): (1) a day-2 near-dup of a day-1 KEPT doc is
    neardup-vs-corpus — the keep's band/shingle rows are corpus content
    on day 2; (2) a day-2 near-dup of a day-1 DROPPED doc is NOT
    tainted by it (the drop appended nothing, its edges are excluded
    from day 2's universe) and, being below the bar against the
    ORIGINAL history doc two swaps away, is novel-kept; (3) day-2
    in-batch pairs keep their min; (4) a day-2 near-dup of original
    history is vs_corpus; (5) day-1 rows equal the standard one-day
    classification (day-2 docs do not exist yet). Oracle-checked."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.dedup import (
        invalidate_shared_candidates,
        shared_lsh_candidates,
    )
    from tests.conftest import assert_matches_oracle

    def swap2(text, i, j, tag):
        w = text.split(" ")
        w[i], w[j] = f"CHG{tag}0", f"CHG{tag}1"
        return " ".join(w)

    t_k = " ".join(f"keep{i} kbit{i % 5} kfur{i % 11}" for i in range(20))
    t_d = " ".join(f"drop{i} dbit{i % 7} dfur{i % 13}" for i in range(20))
    t_g = " ".join(f"pair{i} pbit{i % 3} pfur{i % 17}" for i in range(20))
    t_h = " ".join(f"hist{i} hbit{i % 9} hfur{i % 4}" for i in range(20))
    t_m = " ".join(f"mine{i} mbit{i % 6} mfur{i % 13}" for i in range(20))
    d30 = swap2(t_d, 10, 34, "a")   # day-1 near-dup of history t_d
    docs = [
        (1, t_d, "h1"), (2, t_h, "h2"),                 # history
        # day 1 (% 10 == 0)
        (20, t_k, "b20"),                                # novel -> KEPT
        (30, d30, "b30"),                                # vs_corpus drop
        (40, " ".join(f"solo{i} sbit{i % 8}" for i in range(30)), "b40"),
        (50, t_m, "b50"),                                # in-batch min
        (60, swap2(t_m, 10, 34, "b"), "b60"),            # in-batch drop
        # day 2 (% 10 == 5)
        (15, swap2(t_k, 10, 34, "c"), "q15"),   # near-dup of day-1 KEEP
        (25, swap2(d30, 5, 50, "d"), "q25"),    # near-dup of day-1 DROP
        (35, t_g, "q35"),                        # day-2 in-batch min
        (45, swap2(t_g, 10, 34, "e"), "q45"),    # day-2 in-batch drop
        (55, swap2(t_h, 10, 34, "f"), "q55"),    # near-dup of history
        (65, " ".join(f"new{i} nbit{i % 5}" for i in range(30)), "q65"),
    ]
    d = str(tmp_path / "twodaynear")
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in docs],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    # preconditions: every load-bearing pair is an LSH candidate
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in shared_lsh_candidates(spark, d).collect()
    }
    for need in [(15, 20), (25, 30), (35, 45), (1, 30), (2, 55), (50, 60)]:
        assert need in pairs, (need, pairs)

    spec = QUERIES["dedup_incremental_two_day_near"]
    got = {
        (r["ingest_day"], r["source"]): (
            r["n_batch"], r["n_neardup_vs_corpus"],
            r["n_neardup_in_batch"], r["n_novel_kept"],
        )
        for r in spec.builder(spark, d).collect()
    }
    want = {
        # (5) day 1 = the standard one-day classification
        (1, "b20"): (1, 0, 0, 1), (1, "b30"): (1, 1, 0, 0),
        (1, "b40"): (1, 0, 0, 1), (1, "b50"): (1, 0, 0, 1),
        (1, "b60"): (1, 0, 1, 0),
        # (1) near-dup of a day-1 KEEP -> corpus; (2) near-dup of a
        # day-1 DROP -> untainted, novel-kept; (3) in-batch min keep;
        # (4) near-dup of original history -> corpus
        (2, "q15"): (1, 1, 0, 0), (2, "q25"): (1, 0, 0, 1),
        (2, "q35"): (1, 0, 0, 1), (2, "q45"): (1, 0, 1, 0),
        (2, "q55"): (1, 1, 0, 0), (2, "q65"): (1, 0, 0, 1),
    }
    assert got == want, got

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{d}/{t}.parquet/*.parquet')"
        )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle,
        "dedup_incremental_two_day_near",
    )
    invalidate_shared_candidates(d)


def test_simhash_hamming_over_cap_contract(spark, tmp_path):
    """Pins the DISCLOSED boundary of dedup_simhash_hamming's exact-
    recall guarantee: a duplicate group larger than SIMHASH_MAX_BUCKET
    shares ALL four band values, overflows every bucket simultaneously,
    and emits ZERO pairs — while the same group at exactly the cap
    emits its full pair set. Oracle-checked on the over-cap corpus so
    the behavior is the contract of both engines (the quadratic guard
    is mirrored as HAVING COUNT BETWEEN 2 AND cap); the production
    answer for such groups is the EXACT dedup stage that runs before
    any near-dup generator in the flagship pipelines."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.dedup import SIMHASH_MAX_BUCKET
    from tests.conftest import assert_matches_oracle

    t = " ".join(f"copy{i} paste{i % 7}" for i in range(20))

    def _write(n_dups: int, d: str):
        rows = [(i, t, "en", "mass", len(t)) for i in range(1, n_dups + 1)]
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{d}/documents.parquet"
        )
        spark.createDataFrame(
            [], "vec_id long, embedding array<float>, label int"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{d}/embeddings.parquet"
        )

    spec = QUERIES["dedup_simhash_hamming"]

    d_over = str(tmp_path / "overcap")
    _write(SIMHASH_MAX_BUCKET + 1, d_over)
    assert spec.builder(spark, d_over).count() == 0  # the whole group gone
    con = duckdb.connect()
    for tab in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {tab} AS SELECT * FROM "
            f"read_parquet('{d_over}/{tab}.parquet/*.parquet')"
        )
    assert_matches_oracle(
        spec.builder(spark, d_over), con, spec.oracle,
        "dedup_simhash_hamming_over_cap",
    )

    d_at = str(tmp_path / "atcap")
    _write(SIMHASH_MAX_BUCKET, d_at)
    n = SIMHASH_MAX_BUCKET
    assert spec.builder(spark, d_at).count() == n * (n - 1) // 2


def test_incremental_simhash_claims_and_artifact_twin(spark, tmp_path, request):
    """dedup_incremental_simhash's distinguishing claims on a crafted
    corpus, plus its persisted-artifact twin (the SIXTH artifact —
    VERDICT r12 #4): (1) a batch doc whose signature matches history is
    n_simdup_vs_corpus; (2) a signature-identical in-batch group keeps
    its min and drops the rest (component semantics, same tail as the
    near/semantic siblings); (3) a novel doc is kept; (4) the artifact
    twin (history = the (doc_id, simhash) signature artifact ONLY)
    reproduces the in-session report row-for-row through the bucketed
    store; (5) the two-day machinery is generic
    for the sixth artifact — after append_incremental_artifacts, a
    day-2 signature-dup of a day-1 KEPT doc reads as corpus contact
    (membership, which no id-parity rule can express), while a day-2
    dup of day-1 DROPPED-BUT-CANON-HELD content is claimed via the
    canon holder's appended signature. Oracle-checked on the operator
    itself (differential-style assert)."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.dedup import (
        invalidate_shared_candidates,
    )
    from iceberg_explorer_spark.operators.incremental_artifacts import (
        BucketedArtifactStore,
        append_incremental_artifacts,
        incremental_simhash_from_artifacts,
        incremental_status_from_artifacts,
        write_incremental_artifacts,
    )
    from tests.conftest import assert_matches_oracle

    t_a = " ".join(f"ash{i} oak{i % 5}" for i in range(25))
    t_b = " ".join(f"elm{i} fir{i % 7}" for i in range(25))
    t_c = " ".join(f"yew{i} may{i % 3}" for i in range(25))
    docs = [
        (3, t_a, "web"),                      # history
        (10, t_b, "s1"),                      # day-1 novel -> kept
        (20, t_a, "s2"),                      # day-1 sig-dup of history
        (30, t_b, "s3"),                      # day-1 in-batch dup of 10
        (15, t_b, "q1"),                      # day-2 dup of day-1 KEEP
        (25, t_c, "q2"),                      # day-2 novel (group min)
        (35, t_c, "q3"), (45, t_c, "q4"),     # day-2 in-batch dups
    ]
    d = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in docs],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    try:
        # (1)-(3): the in-session operator (day-1 = parity %10==0;
        # day-2 ids are corpus under parity, so 15 claims 10's family
        # here too — the day-SPLIT claims are part (5))
        spec = QUERIES["dedup_incremental_simhash"]
        got = {
            r["source"]: (
                r["n_batch"], r["n_simdup_vs_corpus"],
                r["n_simdup_in_batch"], r["n_novel_kept"],
            )
            for r in spec.builder(spark, d).collect()
        }
        want = {
            "s1": (1, 1, 0, 0),  # 10's family also contains day-2 15 (corpus under parity)
            "s2": (1, 1, 0, 0),  # sig-dup of history
            "s3": (1, 1, 0, 0),  # 30: component tainted via 15 too
        }
        assert got == want, got
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{d}/{t}.parquet/*.parquet')"
            )
        assert_matches_oracle(
            spec.builder(spark, d), con, spec.oracle,
            "dedup_incremental_simhash_crafted",
        )

        # (4) the artifact twin reproduces the in-session report —
        # history = the signature artifact only
        in_session = sorted(tuple(r) for r in spec.builder(spark, d).collect())
        store = BucketedArtifactStore(spark, "t_art_sim", n_buckets=4)
        try:
            write_incremental_artifacts(spark, d, store)
            from_store = sorted(
                tuple(r)
                for r in incremental_simhash_from_artifacts(
                    spark, d, store
                ).collect()
            )
            assert from_store == in_session
        finally:
            store.drop()

        # (5) two-day generically, with TRUE day semantics via the
        # batch_pred parameter (the parity fixture can't express them:
        # under parity the day-2 ids are already history at backfill):
        # history = {3} only, day-1 = %10==0, then a DAY-2 simhash
        # ingest (%10==5) against artifacts grown by day-1's keeps
        art2 = BucketedArtifactStore(spark, "t_art_sim_two_day", n_buckets=2)
        request.addfinalizer(art2.drop)
        d1 = lambda c: c % 10 == 0  # noqa: E731
        d2 = lambda c: c % 10 == 5  # noqa: E731
        write_incremental_artifacts(
            spark, d, art2, batch_pred=lambda c: c >= 10
        )
        day1 = incremental_status_from_artifacts(
            spark, d, art2, batch_pred=d1
        )
        kept = {r["doc_id"] for r in day1.collect() if r["stage"] == "kept"}
        assert kept == {10}  # the novel day-1 doc survived the waterfall
        append_incremental_artifacts(spark, d, art2, day1, batch_pred=d1)
        day2 = {
            r["source"]: (
                r["n_batch"], r["n_simdup_vs_corpus"],
                r["n_simdup_in_batch"], r["n_novel_kept"],
            )
            for r in incremental_simhash_from_artifacts(
                spark, d, art2, batch_pred=d2
            ).collect()
        }
        assert day2 == {
            "q1": (1, 1, 0, 0),  # sig-dup of day-1 KEPT 10 — membership
            "q2": (1, 0, 0, 1),  # novel group min kept
            "q3": (1, 0, 1, 0),  # in-batch dup of 25
            "q4": (1, 0, 1, 0),
        }, day2
    finally:
        invalidate_shared_candidates(d)


def test_bucketed_store_recovers_interrupted_compaction(spark, tmp_path):
    """compact()'s one non-atomic window (DROP of the old table before
    RENAME of the rewritten one) must SELF-HEAL, never read as
    'backfill never ran' — that misread would advise the operator to
    re-run the backfill in OVERWRITE mode against appended history that
    still exists (r13 review finding). Simulates the crash state
    directly: the artifact table gone, a complete __compacting rewrite
    present — every store entry point (exists/read/n_files) recovers it
    by the metadata-only rename, preserving all rows."""
    from pyspark.sql import functions as F

    from iceberg_explorer_spark.operators.incremental_artifacts import (
        BucketedArtifactStore,
    )

    store = BucketedArtifactStore(spark, "t_art_crash", n_buckets=2)
    try:
        df = spark.range(0, 50).select(
            F.md5(F.col("id").cast("string")).alias("h")
        )
        store.write("digests", df)
        t = store.table_name("digests")
        # the crash window: rewrite landed in __compacting, old table
        # already dropped, rename never ran
        (
            spark.table(t)
            .write.mode("overwrite")
            .bucketBy(2, "h")
            .sortBy("h")
            .saveAsTable(f"{t}__compacting")
        )
        spark.sql(f"DROP TABLE {t}")
        assert store.exists("digests")  # recovery, not "backfill never ran"
        assert store.read("digests").count() == 50
        assert not spark.catalog.tableExists(f"{t}__compacting")
    finally:
        store.drop()


def test_incremental_two_day_exact_claims(spark, tmp_path):
    """dedup_incremental_two_day_exact's distinguishing claims on a
    crafted corpus (one doc per source so every row isolates one case):
    (1) a day-2 dup of a day-1 KEPT doc is already-ingested — day-2's
    history is GROWN by day-1's keeps; (2) a day-2 dup of a day-1
    IN-BATCH-DROPPED doc is already-ingested too (its canon holder
    appended the digest) — together with (3) dup-of-history these pin
    the invariant that EVERY day-1 digest reaches day-2's history;
    (4) the NULL-text sentinel flows through the grown union (a day-2
    NULL-text doc is claimed by day-1's kept NULL-text doc); (5) day-2
    in-batch dups keep only their min; (6) a day-2 novel doc is kept.
    Oracle-checked."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import assert_matches_oracle

    t_a = " ".join(f"ash{i} oak{i % 5}" for i in range(15))
    t_c = " ".join(f"elm{i} fir{i % 7}" for i in range(15))
    t_d = " ".join(f"yew{i} may{i % 3}" for i in range(15))
    t_e = " ".join(f"ivy{i} fig{i % 4}" for i in range(15))
    t_f = " ".join(f"lime{i} sloe{i % 6}" for i in range(15))
    rows = [
        (1, t_a, "h1"),                  # history
        # day 1 (% 10 == 0)
        (10, t_a, "p10"),                # dup of history -> already
        (20, t_c, "p20"),                # kept (canon of t_c)
        (30, t_c, "p30"),                # in-batch dup -> dropped
        (40, t_d, "p40"),                # kept
        (120, None, "p120"),             # NULL text -> kept (sentinel)
        # day 2 (% 10 == 5)
        (15, t_c, "q15"),                # dup of day-1 KEPT -> already
        (25, t_c, "q25"),                # second copy -> already too
        (35, t_a, "q35"),                # dup of history -> already
        (45, t_d, "q45"),                # dup of day-1 kept -> already
        (55, t_e, "q55"),                # in-batch min -> kept
        (65, t_e, "q65"),                # in-batch dup -> dropped
        (75, None, "q75"),               # NULL text: claimed via day-1 keep
        (85, t_f, "q85"),                # novel -> kept
    ]
    d = str(tmp_path / "twodayexact")
    spark.createDataFrame(
        [(i, t, "en", s, len(t) if t else 0) for i, t, s in rows],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    spec = QUERIES["dedup_incremental_two_day_exact"]
    got = {
        (r["ingest_day"], r["source"]): (
            r["n_batch"], r["n_already_ingested"], r["n_new_kept"]
        )
        for r in spec.builder(spark, d).collect()
    }
    want = {
        (1, "p10"): (1, 1, 0), (1, "p20"): (1, 0, 1),
        (1, "p30"): (1, 0, 0), (1, "p40"): (1, 0, 1),
        (1, "p120"): (1, 0, 1),
        (2, "q15"): (1, 1, 0), (2, "q25"): (1, 1, 0),
        (2, "q35"): (1, 1, 0), (2, "q45"): (1, 1, 0),
        (2, "q55"): (1, 0, 1), (2, "q65"): (1, 0, 0),
        (2, "q75"): (1, 1, 0), (2, "q85"): (1, 0, 1),
    }
    assert got == want, got

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{d}/{t}.parquet/*.parquet')"
        )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle,
        "dedup_incremental_two_day_exact",
    )


def test_seen_canon_flags_rejects_reserved_key_prefix(spark):
    """The helper mangles its internal aliases to __incr_seen/__incr_min;
    a caller key column in that namespace would make the flag references
    ambiguous, so the reserved prefix is rejected loudly (ADVICE r11 —
    the model-based sweep above only covers k0-k3 names)."""
    from iceberg_explorer_spark.operators.dedup import (
        incremental_seen_canon_flags,
    )

    df = spark.createDataFrame(
        [(10, "s", "x")], "doc_id long, source string, __incr_seen string"
    )
    with pytest.raises(ValueError, match="__incr_"):
        incremental_seen_canon_flags(df, ["__incr_seen"])


def test_append_before_backfill_fails_clearly(spark, tmp_path):
    """append_incremental_artifacts called before the one-time backfill
    must fail with a message naming the missing artifact tables — not an
    opaque error from an append (ADVICE r11) — and land nothing."""
    from iceberg_explorer_spark.operators.incremental_artifacts import (
        append_incremental_artifacts,
    )

    status = spark.createDataFrame(
        [(10, "s", "kept")], "doc_id long, source string, stage string"
    )
    store = BucketedArtifactStore(spark, "t_art_noart", n_buckets=2)
    try:
        with pytest.raises(FileNotFoundError, match="t_art_noart_digests"):
            append_incremental_artifacts(spark, SF_DIR_SMALL, store, status)
        assert not any(store.exists(n) for n in store.artifacts)
    finally:
        store.drop()


def test_ivf_probe_sweep_claims(spark, tmp_path):
    """similarity_ivf_probe_sweep's distinguishing claims on a crafted
    corpus whose true neighbors straddle the probe ranking: (1) recall
    grows STRICTLY from nprobe=1 to nprobe=2 — the second-ranked list
    holds five of the exact top-10, so a sweep that ignores nprobe (all
    configs scored on the same candidate set) cannot pass; (2) the
    probe bill is the exact per-config candidate count (5 / 12 / 16 /
    24), including the +1-per-list centroid members and excluding the
    query itself; (3) the nprobe=1 row returns FEWER than k rows
    (n_returned=5) — the short-list path; (4) the nprobe=IVF_K row is
    the exactness anchor: full-corpus bill and recall 1.0.
    Oracle-checked end to end on the same fixture.

    Fixture geometry (64-dim, vec_id<8 are the centroids): the query is
    centroid e0; its probe ranking is list 0 (cos 1) then lists 1..7
    (cos 0, cid tie-break). List 0 holds 5 vectors at cos~0.98 to the
    query; list 1 holds 6 vectors at cos~0.44-0.48 (distinct e0
    weights — no tie at the top-10 cut) PLUS centroid e1; lists 2..7
    hold their centroid and one orthogonal filler each. Exact top-10 =
    the 5 list-0 vectors + the 5 highest-weight list-1 vectors."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import assert_matches_oracle

    def unit(parts):
        v = [0.0] * 64
        for i, w in parts:
            v[i] = w
        n = sum(x * x for x in v) ** 0.5
        return [x / n for x in v]

    rows = [(i, unit([(i, 1.0)]), 0) for i in range(8)]  # centroids e0..e7
    # list-0 members: near-query, distinct tie-break dims
    rows += [
        (10 + j, unit([(0, 1.0), (8 + j, 0.2)]), 0) for j in range(5)
    ]
    # list-1 members: assigned to e1 (cos~0.89), cos to query 0.44-0.48
    rows += [
        (20 + j, unit([(0, 0.5 + 0.01 * j), (1, 1.0), (30 + j, 0.1)]), 0)
        for j in range(6)
    ]
    # lists 2..7: one orthogonal filler each
    rows += [(40 + i, unit([(i, 1.0), (50 + i, 0.1)]), 0) for i in range(2, 8)]

    d = str(tmp_path / "ivfsweep")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    spec = QUERIES["similarity_ivf_probe_sweep"]
    got = {
        r["nprobe"]: (
            r["n_candidates"], r["n_returned"], r["n_hits"], r["recall"],
        )
        for r in spec.builder(spark, d).collect()
    }
    assert got == {
        1: (5, 5, 5, 0.5),     # list 0 only: all 5 hit, half the exact set
        2: (12, 10, 10, 1.0),  # + list 1 (6 members + centroid e1)
        4: (16, 10, 10, 1.0),  # + lists 2,3 (centroid + filler each)
        8: (24, 10, 10, 1.0),  # full corpus minus the query: exact scan
    }, got

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle,
        "similarity_ivf_probe_sweep",
    )


def test_ivf_store_round_trip_pruned_serve(spark):
    """The persisted IVF index through the similarity family's
    BucketedArtifactStore spec: (1) serve parity — ivf_topk_from_store
    returns ROW-IDENTICAL results to the in-session
    similarity_ivf_topk, through BOTH query paths (id lookup and the
    production direct-vector path); (2) the serve plan is the one a
    100 TB index needs — exactly ONE scan of the list table, zero
    shuffles, zero Window nodes (assignment is read, not recomputed),
    zero broadcasts (the query vector is inlined as literals), and the
    probe scan BUCKET-PRUNES to at most nprobe of the index's buckets
    (SelectedBucketsCount); (3) nightly append assigns new vectors
    against the PERSISTED centroid artifact — an appended exact
    duplicate of the query vector takes over the top slot at cosine
    1.0 from inside a probed list — and rejects increments that would
    shadow the reserved centroid id range; (4) compaction rewrites
    back to one file per non-empty bucket and the served results are
    unchanged through the whole cycle. Also: a bare-string bucket key
    in the artifacts spec is rejected at construction, not at write
    time."""
    import re

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.incremental_artifacts import (
        BucketedArtifactStore,
    )
    from iceberg_explorer_spark.operators.similarity import (
        IVF_K,
        IVF_NPROBE,
        ivf_append_lists,
        ivf_backfill_lists,
        IVF_STORE_ARTIFACTS,
        ivf_topk_from_store,
    )
    from iceberg_explorer_spark.plans import inspect as pi

    with pytest.raises(ValueError, match="tuple of column names"):
        BucketedArtifactStore(
            spark, "t_ivf_badspec", artifacts={"ivf_lists": "cid"}
        )

    d = "/root/testdata/sf0.01"
    n_buckets = 4
    store = BucketedArtifactStore(
        spark, "t_ivf_store", n_buckets=n_buckets,
        artifacts=IVF_STORE_ARTIFACTS,
    )
    try:
        ivf_backfill_lists(spark, d, store)
        served = ivf_topk_from_store(store)
        got = [tuple(r) for r in served.collect()]
        want = [
            tuple(r)
            for r in QUERIES["similarity_ivf_topk"].builder(spark, d).collect()
        ]
        assert got == want and got

        # the production path: the query vector arrives with the
        # request — same rows when the caller also names the stored id
        # to exclude, and NO lookup scan anywhere
        qv = list(
            store.read("ivf_lists")
            .filter(F.col("vec_id") == 0)
            .collect()[0]["nvec"]
        )
        direct = ivf_topk_from_store(store, query_vec_id=0, query_vec=qv)
        assert [tuple(r) for r in direct.collect()] == got

        # without an id, nothing is excluded: a request vector need not
        # be a stored row, and vector 0 (an exact self-match here) must
        # NOT be silently dropped just because it wears the demo id
        no_excl = ivf_topk_from_store(store, query_vec=qv).collect()
        assert no_excl[0]["vec_id"] == 0 and no_excl[0]["cos_sim"] == 1.0
        assert [tuple(r) for r in no_excl[1:]] == got[: len(no_excl) - 1]

        # malformed request vectors fail loudly, never NULL-pad into
        # silent garbage cosines
        with pytest.raises(ValueError, match="non-NULL finite floats"):
            ivf_topk_from_store(store, query_vec=qv[: len(qv) // 2])
        with pytest.raises(ValueError, match="L2-normalized"):
            ivf_topk_from_store(store, query_vec=[2.0 * x for x in qv])

        plan = pi.physical_plan(direct)
        assert pi.shuffle_count(direct) == 0
        assert "Window" not in plan
        assert "BroadcastExchange" not in plan
        assert plan.count("Scan parquet") == 1  # the pruned probe scan
        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m, plan
        assert int(m.group(1)) <= IVF_NPROBE
        assert int(m.group(2)) == n_buckets

        # nightly append: a new exact copy of the query vector must be
        # assigned to the query's own (probed) list by the PERSISTED
        # centroid artifact and take the top slot at rounded cosine 1.0
        files_before = store.n_files("ivf_lists")
        new_id = 10_000_000
        increment = (
            spark.read.parquet(f"{d}/embeddings.parquet")
            .filter(F.col("vec_id") == 0)
            .withColumn("vec_id", F.lit(new_id).cast("long"))
        )
        ivf_append_lists(store, increment)
        assert store.n_files("ivf_lists") <= files_before + n_buckets
        served2 = [tuple(r) for r in ivf_topk_from_store(store).collect()]
        assert served2[0][0] == new_id and served2[0][2] == 1.0
        # previous results shift down one slot, none disappear early
        assert served2[1:] == got[: len(served2) - 1]

        # an increment carrying a reserved centroid-range id is refused
        # loudly — it would silently shadow a persisted centroid
        bad = increment.withColumn(
            "vec_id", F.lit(IVF_K - 1).cast("long")
        )
        with pytest.raises(ValueError, match="reserved centroid range"):
            ivf_append_lists(store, bad)

        # compaction: back to one file per non-empty bucket, spec
        # preserved (pruned serve still works), results unchanged
        store.compact()
        assert store.n_files("ivf_lists") <= n_buckets
        served3 = ivf_topk_from_store(store)
        assert [tuple(r) for r in served3.collect()] == served2
        m3 = re.search(
            r"SelectedBucketsCount: (\d+) out of (\d+)",
            pi.physical_plan(ivf_topk_from_store(store, query_vec=qv)),
        )
        assert m3 and int(m3.group(1)) <= IVF_NPROBE
    finally:
        store.drop()


def test_pq_geometry_sweep_claims(spark, tmp_path):
    """similarity_pq_geometry_sweep's distinguishing claims: (1) the
    config column is REAL — on the standard corpus, the sweep's M=4 row
    must report exactly the hit count of the registered single-geometry
    similarity_pq_adc_topk (same codes, same LUT, same micro-unit sums)
    scored against the registered brute-force baseline, so a sweep that
    cross-contaminates configs or re-derives the geometry differently
    from the registered op cannot pass; (2) on a crafted corpus of 16
    DENSE near-orthogonal codebook vectors (md5-derived sign vectors —
    deliberately no zero chunks: an all-zero chunk ties every codebook
    dot at 0 and the min-code tie-break hands it the QUERY's own code
    with its maximal LUT contribution, a phantom-score trap the first
    cut of this test fell into with disjoint-support vectors) plus ten
    EXACT duplicates of the query, every geometry's recall is 1.0 with
    n_returned=10 — an exact duplicate quantizes to the query's own
    codes under ANY geometry, so its ADC score is the per-subspace
    maximum, while each non-duplicate assigns to its own
    near-orthogonal codes whose query-chunk dots sit far below
    self-dot; (3) the bytes/compression columns are the literal
    geometry arithmetic. Oracle-checked on the crafted corpus."""
    import hashlib

    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import assert_matches_oracle

    d_std = "/root/testdata/sf0.01"
    bf = {
        r["vec_id"]
        for r in QUERIES["similarity_bruteforce_topk"]
        .builder(spark, d_std)
        .collect()
    }
    adc = {
        r["vec_id"]
        for r in QUERIES["similarity_pq_adc_topk"]
        .builder(spark, d_std)
        .collect()
    }
    sweep_rows = {
        r["m_subspaces"]: r
        for r in QUERIES["similarity_pq_geometry_sweep"]
        .builder(spark, d_std)
        .collect()
    }
    assert sweep_rows[4]["n_hits"] == len(adc & bf)
    assert sweep_rows[4]["n_returned"] == len(adc)

    # crafted corpus: dense deterministic ±1 sign vectors (normalized);
    # ids 100..109 are exact duplicates of the query (vec 0)
    def vec(i):
        v = [
            1.0
            if hashlib.md5(f"pqgeo:{i}:{d}".encode()).digest()[0] % 2
            else -1.0
            for d in range(64)
        ]
        n = sum(x * x for x in v) ** 0.5
        return [x / n for x in v]

    rows = [(i, vec(i), 0) for i in range(16)]
    rows += [(100 + j, vec(0), 0) for j in range(10)]
    d = str(tmp_path / "pqsweep")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    spec = QUERIES["similarity_pq_geometry_sweep"]
    got = {
        r["m_subspaces"]: (
            r["bytes_per_vec"], r["compression_x"],
            r["n_returned"], r["n_hits"], r["recall"],
        )
        for r in spec.builder(spark, d).collect()
    }
    assert got == {
        2: (2, 128, 10, 10, 1.0),
        4: (4, 64, 10, 10, 1.0),
        8: (8, 32, 10, 10, 1.0),
    }, got

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle,
        "similarity_pq_geometry_sweep",
    )


def test_artifact_store_custom_spec_lifecycle(spark):
    """The store's round-13 spec generality carries the WHOLE machinery,
    not just table naming: a custom two-artifact spec (composite and
    single bucket keys, neither a dedup artifact name) goes through
    backfill -> hash-aligned append (<=1 new file per bucket) ->
    spec-preserving compaction (back to <=1 file per non-empty bucket,
    rows intact) -> crash recovery (a compaction interrupted between
    DROP and RENAME heals on the next entry-point touch). Unknown
    artifact names are rejected against the INSTANCE spec — 'digests',
    valid for the default store, is unknown here."""
    from iceberg_explorer_spark.operators.incremental_artifacts import (
        BucketedArtifactStore,
    )

    spec = {"edges": ("src", "dst"), "props": ("node",)}
    store = BucketedArtifactStore(
        spark, "t_art_custom", n_buckets=2, artifacts=spec
    )
    try:
        edges = spark.range(0, 40).select(
            (F.col("id") % 8).alias("src"),
            (F.col("id") % 5).alias("dst"),
            F.col("id").alias("w"),
        )
        props = spark.range(0, 30).select(
            F.col("id").alias("node"), (F.col("id") * 2).alias("deg")
        )
        store.write("edges", edges)
        store.write("props", props)
        with pytest.raises(KeyError):
            store.read("digests")

        files0 = {n: store.n_files(n) for n in spec}
        store.append("edges", edges.limit(10))
        store.append("props", props.limit(7))
        assert store.read("edges").count() == 50
        assert store.read("props").count() == 37
        for n in spec:
            assert store.n_files(n) <= files0[n] + store.n_buckets, n

        out = store.compact()
        assert set(out) == set(spec)
        for n in spec:
            assert store.n_files(n) <= store.n_buckets, n
        assert store.read("edges").count() == 50
        assert store.read("props").count() == 37

        # crash window on a custom-spec artifact: rewrite landed in
        # __compacting, old table dropped, rename never ran
        t = store.table_name("props")
        (
            spark.table(t)
            .write.mode("overwrite")
            .bucketBy(2, "node")
            .sortBy("node")
            .saveAsTable(f"{t}__compacting")
        )
        spark.sql(f"DROP TABLE {t}")
        assert store.exists("props")
        assert store.read("props").count() == 37
        assert not spark.catalog.tableExists(f"{t}__compacting")
    finally:
        store.drop()


def test_ivf_pq_topk_claims(spark, tmp_path):
    """similarity_ivf_pq_topk's distinguishing claims on a crafted
    one-hot corpus (centroids c_j = e_{4j}, codebook entry k = e_{4k},
    query = vec 0 = e_0, so the query probes lists {0, 1}): (1) IVF
    pruning is REAL — vec 200 = 0.8*e_16 + 0.6*e_0 carries the MAXIMAL
    ADC score 1.0 (its subspace-0 chunk argmaxes to the query's own
    code) but assigns to UNPROBED list 4, so the registered global
    similarity_pq_adc_topk returns it while the composed op does not;
    (2) an exact duplicate of the query (vec 100) in the probed list
    scores the per-subspace-max ADC 1.0 and ranks first; (3) restricted
    -encode parity — every returned row's score equals the FULL-corpus
    _pq_scores value for that vec_id (a code depends only on the
    vector's own chunks and the seed codebook, so restricting the
    encode to candidates+seeds+query changes nothing); (4) results sit
    only in probed lists {0, 1} and ranking is (score DESC, vec_id).
    Fixture notes: seeds 1..15 carry a 0.25*e_1 anchor so NO non-query
    row has an all-zero subspace-0 chunk aligned with the query's code
    (the zero-chunk phantom the sweep's doc records would otherwise
    hand seeds 4..15 the query's own code 0 and its maximal 1.0
    contribution — the first cut of this fixture hit exactly that);
    the anchor also puts seeds 8..15 into probed list 1 via exact
    delta^2 centroid ties broken by min cid, all of which the expected
    output pins. Oracle-checked on the crafted corpus."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.similarity import (
        PQ_M,
        _load_emb,
        _pq_scores,
        _with_normalized,
    )
    from tests.conftest import assert_matches_oracle

    def vec(*parts):
        v = [0.0] * 64
        for d_, a_ in parts:
            v[d_] = a_
        return v

    rows = [(0, vec((0, 1.0)), 0)]  # the query/centroid/codebook seed 0
    # seeds 1..15: main one-hot at 4k + the 0.25*e_1 anchor
    rows += [
        (k, vec((4 * k, 1.0), (1, 0.25)), 0) for k in range(1, 16)
    ]
    rows.append((100, vec((0, 1.0)), 0))       # exact dup of the query
    rows.append((200, vec((16, 0.8), (0, 0.6)), 0))  # max ADC, unprobed list 4
    rows.append((300, vec((4, 0.8), (5, 0.6)), 0))   # probed-list filler
    rows.append((301, vec((4, 0.6), (5, 0.8)), 0))   # probed-list filler
    d = str(tmp_path / "ivfpq")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    spec = QUERIES["similarity_ivf_pq_topk"]
    got = [tuple(r) for r in spec.builder(spark, d).collect()]
    # candidates (lists 0 and 1, query excluded): dup 100 (list 0) +
    # seed 1 + seeds 8..15 (anchor-tied into list 1) + fillers 300/301;
    # scores: 1.0 for the dup only, 0.0 for the rest; rank = score
    # DESC, vec_id ASC, cut at 10 (fillers fall off). Vec 200 (ADC 1.0
    # but list 4) absent.
    assert got == [
        (100, 0, 1.0), (1, 1, 0.0), (8, 1, 0.0), (9, 1, 0.0),
        (10, 1, 0.0), (11, 1, 0.0), (12, 1, 0.0), (13, 1, 0.0),
        (14, 1, 0.0), (15, 1, 0.0),
    ], got
    assert all(pl in (0, 1) for _, pl, _s in got)

    # (1) the registered GLOBAL pq_adc returns 200; the composed op
    # prunes it away with its unprobed list
    adc = {
        r["vec_id"]: r["approx_cos_sim"]
        for r in QUERIES["similarity_pq_adc_topk"].builder(spark, d).collect()
    }
    assert adc[200] == 1.0
    assert 200 not in {v for v, _pl, _s in got}

    # (3) restricted-encode parity vs the full-corpus chain
    full = {
        r["vec_id"]: r["approx_cos_sim"]
        for r in _pq_scores(
            _with_normalized(_load_emb(spark, d)), (PQ_M,)
        ).collect()
    }
    for v, _pl, s in got:
        assert s == full[v], (v, s, full[v])

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle,
        "similarity_ivf_pq_topk_crafted",
    )


def test_bigram_lm_score_claims(spark, tmp_path):
    """text_bigram_lm_score's distinguishing claims on a crafted corpus:
    (1) the add-one arithmetic is exact — on six "alpha beta" docs the
    model is fully hand-computable and each doc's score is
    ln((C+1)/(ctx+V)) to the micro-unit; (2) word ORDER is the signal —
    two docs with the IDENTICAL token multiset but opposite orderings
    score differently (the common-bigram doc higher), while
    text_unigram_logfreq (order-blind by construction) scores them
    identically; (3) docs with < 2 tokens (single-token, empty, NULL
    text) have no bigrams and are ABSENT from the output in both
    engines. Oracle-checked on the crafted corpus."""
    import math

    import duckdb
    import pytest

    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import assert_matches_oracle

    rows = [(i, "alpha beta", "en", "s", 10) for i in range(1, 7)]
    rows.append((10, "alpha beta alpha beta", "en", "s", 21))
    rows.append((11, "beta alpha beta alpha", "en", "s", 21))
    rows.append((20, "solo", "en", "s", 4))
    rows.append((21, "", "en", "s", 0))
    rows.append((22, None, "en", "s", 0))
    d = str(tmp_path / "bigram")
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    spec = QUERIES["text_bigram_lm_score"]
    got = {r["doc_id"]: r for r in spec.builder(spark, d).collect()}

    # (3) short/empty/NULL docs absent
    assert set(got) == {1, 2, 3, 4, 5, 6, 10, 11}

    # (1) hand-computed model: tokens = {alpha, beta, solo} -> V = 3;
    # bigram counts: (alpha,beta) = 6 + 2 + 1 = 9, (beta,alpha) = 1 + 2
    # = 3; contexts: alpha = 9, beta = 3.
    p_ab = (9 + 1) / (9 + 3)   # P(beta | alpha)
    p_ba = (3 + 1) / (3 + 3)   # P(alpha | beta)
    q_ab = round(math.log(p_ab) * 1_000_000)
    q_ba = round(math.log(p_ba) * 1_000_000)
    r1 = got[1]
    assert r1["n_bigrams"] == 1
    assert r1["sum_logprob_micro"] == q_ab
    assert r1["avg_bigram_logprob"] == pytest.approx(
        math.log(p_ab), abs=2e-6
    )
    r10, r11 = got[10], got[11]
    assert r10["n_bigrams"] == 3 and r11["n_bigrams"] == 3
    assert r10["sum_logprob_micro"] == 2 * q_ab + q_ba
    assert r11["sum_logprob_micro"] == q_ab + 2 * q_ba

    # (2) order sensitivity: same multiset, opposite scores — and the
    # order-blind unigram op CANNOT tell them apart
    assert r10["avg_bigram_logprob"] > r11["avg_bigram_logprob"]
    uni = {
        r["doc_id"]: r["avg_token_logfreq"]
        for r in QUERIES["text_unigram_logfreq"].builder(spark, d).collect()
    }
    assert uni[10] == uni[11]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle,
        "text_bigram_lm_score_crafted",
    )


def test_ivfpq_store_round_trip_pruned_serve(spark):
    """The persisted IVF-PQ code index (r14 — the composed query's
    serving story): (1) serve parity — ivfpq_topk_from_store returns
    ROW-IDENTICAL results to the registered similarity_ivf_pq_topk
    (same probe lists, same micro-quantized ADC scores: the
    driver-side LUT replicates _DOT_SPARK's fold order and Spark's
    HALF_UP); (2) the serve plan is pure projection over ONE
    bucket-pruned scan of the code table — zero shuffles, zero Window
    nodes, zero broadcasts, zero JOINS (the LUT is literal arrays
    indexed by the code columns), SelectedBucketsCount <= nprobe;
    (3) nightly append encodes an increment against the PERSISTED
    centroid+codebook artifacts — an appended exact duplicate of the
    query takes the per-subspace-max ADC score from inside a probed
    list — refuses reserved-range ids, and a replayed batch_id append
    is a no-op; (4) compaction preserves results through the full
    cycle."""
    import re

    import pyspark.sql.functions as F

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.similarity import (
        IVF_K,
        IVF_NPROBE,
        _load_emb,
        _with_normalized,
        ivfpq_append,
        ivfpq_backfill,
        IVFPQ_STORE_ARTIFACTS,
        ivfpq_topk_from_store,
    )
    from iceberg_explorer_spark.plans import inspect as pi

    d = "/root/testdata/sf0.01"
    n_buckets = 4
    store = BucketedArtifactStore(
        spark, "t_ivfpq_store", n_buckets=n_buckets,
        artifacts=IVFPQ_STORE_ARTIFACTS,
    )
    try:
        ivfpq_backfill(spark, d, store)
        emb = _with_normalized(_load_emb(spark, d))
        qv = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 0).first()["ne"]
        ]
        served = ivfpq_topk_from_store(store, qv, query_vec_id=0)
        got = [tuple(r) for r in served.collect()]
        want = [
            tuple(r)
            for r in QUERIES["similarity_ivf_pq_topk"]
            .builder(spark, d)
            .collect()
        ]
        assert got == want, (got, want)
        # the hoisted-codebook production path (ivfpq_codebook collected
        # once per publish, handed to every serve) is row-identical
        from iceberg_explorer_spark.operators.similarity import (
            ivfpq_codebook,
        )

        cb = ivfpq_codebook(store)
        assert [
            tuple(r)
            for r in ivfpq_topk_from_store(
                store, qv, query_vec_id=0, codebook=cb
            ).collect()
        ] == got

        # (2) the pure-projection serve plan
        plan = pi.physical_plan(served)
        assert pi.shuffle_count(served) == 0
        assert "Window" not in plan
        assert "BroadcastExchange" not in plan
        assert "Join" not in plan
        assert plan.count("Scan parquet") == 1
        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m, plan
        assert int(m.group(1)) <= IVF_NPROBE
        assert int(m.group(2)) == n_buckets

        # (3) append: an exact copy of the query encodes to the
        # query's own per-subspace argmax codes against the PERSISTED
        # codebook, so its ADC score is the maximum any vector can
        # carry; it lands in the query's own (probed) list
        files_before = store.n_files("ivfpq_codes")
        new_id = 10_000_000
        increment = (
            spark.read.parquet(f"{d}/embeddings.parquet")
            .filter(F.col("vec_id") == 0)
            .withColumn("vec_id", F.lit(new_id).cast("long"))
        )
        assert ivfpq_append(store, increment, batch_id="night-1") is True
        assert store.n_files("ivfpq_codes") <= files_before + n_buckets
        served2 = [
            tuple(r)
            for r in ivfpq_topk_from_store(
                store, qv, query_vec_id=0
            ).collect()
        ]
        max_score = max(s for _v, _pl, s in served2)
        by_id = {v: (pl, s) for v, pl, s in served2}
        assert new_id in by_id
        assert by_id[new_id][1] == max_score
        # a REPLAYED night is a no-op: same rows served
        assert ivfpq_append(store, increment, batch_id="night-1") is False
        assert [
            tuple(r)
            for r in ivfpq_topk_from_store(
                store, qv, query_vec_id=0
            ).collect()
        ] == served2

        # reserved centroid range refused loudly
        bad = increment.withColumn(
            "vec_id", F.lit(IVF_K - 1).cast("long")
        )
        with pytest.raises(ValueError, match="reserved centroid range"):
            ivfpq_append(store, bad)

        # (4) compaction: results identical through the cycle, files
        # bounded back to one per non-empty bucket
        counts = store.compact()
        assert counts["ivfpq_codes"] <= n_buckets
        assert [
            tuple(r)
            for r in ivfpq_topk_from_store(
                store, qv, query_vec_id=0
            ).collect()
        ] == served2
    finally:
        store.drop()


def test_index_append_requires_backfill(spark):
    """The commit-marker gate on both persisted-index append paths
    (review r14 finding): appending to a store whose code/list table
    is absent must raise loudly instead of saveAsTable-CREATING an
    increment-only table that every later serve silently treats as
    the whole index — including the half-backfilled crash state where
    the model artifacts exist but the marker table does not."""
    import pyspark.sql.functions as F

    from iceberg_explorer_spark.operators.similarity import (
        _load_emb,
        _with_normalized,
        ivf_append_lists,
        IVF_STORE_ARTIFACTS,
        ivfpq_append,
        IVFPQ_STORE_ARTIFACTS,
    )

    d = "/root/testdata/sf0.001"
    inc = (
        spark.read.parquet(f"{d}/embeddings.parquet")
        .filter(F.col("vec_id") == 20)
        .withColumn("vec_id", F.lit(20_000_000).cast("long"))
    )
    s1 = BucketedArtifactStore(
        spark, "t_ivf_nobackfill", n_buckets=2,
        artifacts=IVF_STORE_ARTIFACTS,
    )
    s2 = BucketedArtifactStore(
        spark, "t_ivfpq_nobackfill", n_buckets=2,
        artifacts=IVFPQ_STORE_ARTIFACTS,
    )
    try:
        with pytest.raises(
            FileNotFoundError, match="t_ivf_nobackfill_ivf_lists"
        ):
            ivf_append_lists(s1, inc)
        # the half-backfilled crash state: models landed, marker absent
        emb = _with_normalized(_load_emb(spark, d))
        s2.write(
            "ivf_centroids",
            emb.filter(F.col("vec_id") < 8).select(
                F.col("vec_id").alias("cid"), F.col("ne").alias("cvec")
            ),
        )
        with pytest.raises(
            FileNotFoundError, match="t_ivfpq_nobackfill_ivfpq_codes"
        ):
            ivfpq_append(s2, inc)
    finally:
        s1.drop()
        s2.drop()


def test_bq_mrl_append_without_backfill_refuses(spark):
    """The backfill-first check covers id-less appends too: on a fresh
    store, bq_append and mrl_append with no backfill and no batch_id
    must raise FileNotFoundError naming the index table and create
    nothing — a created table would hold only the increment, and every
    later serve would take it for the whole corpus."""
    from iceberg_explorer_spark.operators.similarity import (
        BQ_STORE_ARTIFACTS,
        MRL_STORE_ARTIFACTS,
        bq_append,
        mrl_append,
    )

    inc = spark.read.parquet(f"{SF_DIR_SMALL}/embeddings.parquet").limit(5)
    cases = (
        ("t_bq_nobackfill", BQ_STORE_ARTIFACTS, bq_append, "bq_index"),
        ("t_mrl_nobackfill", MRL_STORE_ARTIFACTS, mrl_append, "mrl_index"),
    )
    for prefix, spec, append, table in cases:
        st = BucketedArtifactStore(spark, prefix, n_buckets=2, artifacts=spec)
        try:
            with pytest.raises(FileNotFoundError, match=f"{prefix}_{table}"):
                append(st, inc)
            assert not st.exists(table)
        finally:
            st.drop()


def test_clean_corpus_v3_claims(spark, tmp_path):
    """pipeline_clean_corpus_v3's distinguishing claims: (1) the
    SimHash stage catches what NO earlier family can — three docs that
    are permutations of one 25-word multiset have IDENTICAL SimHash
    signatures (bag-of-token votes are order-insensitive) but distinct
    digests (exact blind), disjoint word-trigram shingle sets (LSH
    near blind — asserted, not assumed), and no embeddings (semantic
    blind): v2's only partial catch is the cross-modal pair key
    (order-insensitive caption fingerprint — it happens to claim ONE
    of the two dups), so v2 keeps two of the three while v3 keeps
    exactly the min and the simhash stage claims BOTH dups (upstream
    of paired, which then claims nothing); (2) waterfall ordering — a
    byte-identical pair still drops at EXACT (the simhash stage never
    steals an earlier stage's claim even though identical texts are
    also signature-identical, and the kept twin is the component's
    surviving min); (3) on the standard corpus
    the three upstream stage counts (quality/exact/near) are IDENTICAL
    to v2's per (source, lang) and v3's
    simhash+semantic+paired+kept columns partition exactly the
    population v2 splits into semantic+paired+kept; (4) v3's keep-SET
    is deliberately NOT a subset of v2's — survivor-aware RE-KEEPING:
    when the simhash stage drops the doc v2 used as a semantic
    cluster's keeper, v3's semantic stage keeps a DIFFERENT surviving
    member that v2 dropped (the round's review pass disproved the
    naive subset claim by this exact counterexample; the behavior is
    the survivor-aware property working as designed, so it is pinned,
    not patched away). Oracle-checked on the crafted corpora."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.dedup import (
        shared_lsh_candidates,
        shared_simhash_hamming,
        SIMHASH_HAM_MAX,
    )
    from tests.conftest import assert_matches_oracle

    words = [f"word{i:02d}" for i in range(25)]
    perm_a = " ".join(words)
    perm_b = " ".join(reversed(words))
    perm_c = " ".join(words[0::2] + words[1::2])
    t_x = " ".join(f"other{i} body{i % 5}" for i in range(25))
    rows = [
        (1, t_x, "en", "bg", len(t_x)),         # normal doc
        (30, perm_a, "en", "sg", len(perm_a)),  # perm group: min, kept
        (40, perm_b, "en", "sg", len(perm_b)),  # -> simhash drop
        (50, perm_c, "en", "sg", len(perm_c)),  # -> simhash drop
        (60, " ".join(f"uniq{i:02d}" for i in range(25)), "en", "se", 0),
        (61, " ".join(f"uniq{i:02d}" for i in range(25)), "en", "se", 0),
        (70, "too short", "en", "sq", 9),       # -> quality drop
    ]
    d = str(tmp_path / "v3corpus")
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

    # the fixture's premises, asserted not assumed: the perm group is
    # invisible to the LSH near stage (disjoint trigram shingles) and
    # fully connected at Hamming 0 for the simhash stage
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in shared_lsh_candidates(spark, d).collect()
    }
    assert not {p for p in lsh if p[0] in (30, 40, 50) or p[1] in (30, 40, 50)}
    ham = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in shared_simhash_hamming(spark, d)
        .filter(f"hamming <= {SIMHASH_HAM_MAX}")
        .collect()
    }
    assert ham[(30, 40)] == 0 and ham[(30, 50)] == 0

    def report(name):
        return {
            (r["source"], r["lang"]): r
            for r in QUERIES[name].builder(spark, d).collect()
        }

    v2 = report("pipeline_clean_corpus_v2")
    v3 = report("pipeline_clean_corpus_v3")
    sg2, sg3 = v2[("sg", "en")], v3[("sg", "en")]
    # (1) the family-only catch: v2's near/semantic are blind, its
    # paired key coincidentally claims one dup, two of three stay;
    # v3's simhash stage (upstream of paired) claims both dups
    assert (
        sg2["n_kept"], sg2["n_drop_near"],
        sg2["n_drop_semantic"], sg2["n_drop_paired"],
    ) == (2, 0, 0, 1)
    assert (
        sg3["n_kept"], sg3["n_drop_simhash"], sg3["n_drop_paired"]
    ) == (1, 2, 0)
    # (2) identical texts still drop at exact, never simhash
    se3 = v3[("se", "en")]
    assert (se3["n_drop_exact"], se3["n_drop_simhash"], se3["n_kept"]) == (1, 0, 1)
    assert v3[("sq", "en")]["n_drop_quality"] == 1

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{d}/{t}.parquet/*.parquet')"
        )
    spec = QUERIES["pipeline_clean_corpus_v3"]
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle,
        "pipeline_clean_corpus_v3_crafted",
    )

    # (3) upstream-stage equality + keep-subset on the standard corpus
    d_std = "/root/testdata/sf0.001"
    v2s = {
        (r["source"], r["lang"]): r
        for r in QUERIES["pipeline_clean_corpus_v2"].builder(spark, d_std).collect()
    }
    v3s = {
        (r["source"], r["lang"]): r
        for r in QUERIES["pipeline_clean_corpus_v3"].builder(spark, d_std).collect()
    }
    assert set(v2s) == set(v3s)
    for key in v2s:
        a, b = v2s[key], v3s[key]
        assert a["n_docs"] == b["n_docs"]
        assert a["n_drop_quality"] == b["n_drop_quality"]
        assert a["n_drop_exact"] == b["n_drop_exact"]
        assert a["n_drop_near"] == b["n_drop_near"]
        # the post-near population per group is identical in both, so
        # v3's four downstream columns partition exactly what v2's
        # three do (NOTE: no n_kept <= assertion — the keep-set is
        # deliberately not a subset, see claim (4) below)
        assert (
            b["n_drop_simhash"] + b["n_drop_semantic"]
            + b["n_drop_paired"] + b["n_kept"]
        ) == (
            a["n_drop_semantic"] + a["n_drop_paired"] + a["n_kept"]
        )

    # (4) survivor-aware RE-KEEPING, the reason keep-subset is NOT an
    # invariant: docs 3/5 are simhash dups (word perms), docs 5/9 are
    # semantic dups (identical embeddings, vec_id == doc_id), doc 9
    # isolated in its own source. v2 keeps 5 as the semantic keeper
    # and drops 9; v3 drops 5 at simhash, so its semantic stage keeps
    # 9 — a doc v2 dropped, and source-y's n_kept EXCEEDS v2's.
    t_z = " ".join(f"zeta{i} leaf{i % 6}" for i in range(25))
    rows2 = [
        (3, perm_a, "en", "p", len(perm_a)),
        (5, perm_b, "en", "p", len(perm_b)),
        (9, t_z, "en", "y", len(t_z)),
    ]
    vec = [1.0] + [0.5] * 63
    d2 = str(tmp_path / "v3rekeep")
    spark.createDataFrame(
        rows2,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d2}/documents.parquet")
    spark.createDataFrame(
        [(5, vec, 0), (9, vec, 0)],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d2}/embeddings.parquet")
    v2r = {
        (r["source"]): r
        for r in QUERIES["pipeline_clean_corpus_v2"].builder(spark, d2).collect()
    }
    v3r = {
        (r["source"]): r
        for r in QUERIES["pipeline_clean_corpus_v3"].builder(spark, d2).collect()
    }
    assert (v2r["y"]["n_kept"], v2r["y"]["n_drop_semantic"]) == (0, 1)
    assert (v3r["y"]["n_kept"], v3r["y"]["n_drop_semantic"]) == (1, 0)
    assert v3r["p"]["n_drop_simhash"] == 1
    assert v3r["y"]["n_kept"] > v2r["y"]["n_kept"]  # non-subset, pinned
    # both flagships oracle-checked on the re-keeping corpus too
    con2 = duckdb.connect()
    for t in ("documents", "embeddings"):
        con2.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{d2}/{t}.parquet/*.parquet')"
        )
    for name in ("pipeline_clean_corpus_v2", "pipeline_clean_corpus_v3"):
        sp = QUERIES[name]
        assert_matches_oracle(
            sp.builder(spark, d2), con2, sp.oracle, f"{name}_rekeep"
        )


def test_index_store_generative_schedules(spark, tmp_path):
    """Generative hammer for the persisted ANN index stores (VERDICT
    r14 #4 — the dedup store got its md5-seeded schedules in r14; the
    two INDEX stores rested on crafted round-trips): two deterministic
    pseudo-random SCHEDULES of interleaved operations — land a new
    nightly batch (on BOTH stores + the corpus), REPLAY a uniformly
    chosen earlier batch, or COMPACT one store — driven against the
    IN-SESSION registered queries over the evolving corpus as the
    model. After EVERY step, both serve forms are row-parity-checked:
    the vector serve (ivf_topk_from_store, demo-lookup path) against
    similarity_ivf_topk, and the code serve (ivfpq_topk_from_store,
    alternating per-serve and hoisted-codebook paths) against
    similarity_ivf_pq_topk. This reaches shapes the crafted sequences
    cannot: serves interleaved with compactions of the OTHER store,
    replay-after-compact chains, and repeated serve-clone reuse across
    table rewrites — the stale-clone-cache / refresh-ordering class
    the r14 review caught twice by hand.

    r16 (VERDICT r15 #4): the REFINE cascade joins the step mix —
    after every step ivfpq_refine_from_store (alternating per-serve
    and hoisted-codebook paths, coverage check always on) is
    row-parity-checked against similarity_ivf_pq_refine_topk over the
    evolving corpus, so the cascade's same-snapshot contract is
    exercised across paired appends, replays, and per-store
    compactions under the same random interleavings (its crafted
    round-trip covers only the straight-line sequence).

    r16 (the round's own serve): the BQ store joins too — every
    nightly batch lands on all the stores (paired), replays replay
    everywhere, the compact step picks among the stores, and
    bq_topk_from_store is row-parity-checked against
    similarity_bq_hamming_topk after every step.

    r17 (the round's own serve): the MRL store is the FOURTH member —
    mrl_append rides every nightly batch and replay, compaction picks
    among four stores, and mrl_topk_from_store is row-parity-checked
    against similarity_mrl_prefix_topk after every step."""
    import hashlib

    import pyspark.sql.functions as F

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.similarity import (
        IVF_K,
        _load_emb,
        _with_normalized,
        bq_append,
        bq_backfill,
        BQ_STORE_ARTIFACTS,
        bq_topk_from_store,
        ivf_append_lists,
        ivf_backfill_lists,
        IVF_STORE_ARTIFACTS,
        ivf_topk_from_store,
        ivfpq_append,
        ivfpq_backfill,
        ivfpq_codebook,
        ivfpq_refine_from_store,
        IVFPQ_STORE_ARTIFACTS,
        ivfpq_topk_from_store,
        mrl_append,
        mrl_backfill,
        MRL_STORE_ARTIFACTS,
        mrl_topk_from_store,
    )

    def h(*parts) -> int:
        return hashlib.md5(":".join(map(str, parts)).encode()).digest()[0]

    base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base_rows = [
        (r["vec_id"], [float(x) for x in r["embedding"]], r["label"])
        for r in base.collect()
        if r["embedding"] is not None
    ]
    inc_schema = "vec_id long, embedding array<float>, label int"

    # seeds screened (offline, same hash) so the two schedules jointly
    # cover: compaction of EACH store, replays issued AFTER a
    # compaction, and back-to-back replay chains — the generative
    # driver is the hash, the seed choice just guarantees the mix:
    #   ix5:  append append c-pq append replay append replay
    #   ix13: append replay c-ivf c-pq append append replay
    # The two schedules are fully independent (own stores, own corpus
    # dir, own model) — run them CONCURRENTLY (guide §2.6): each
    # schedule's internal order is untouched, only the two independent
    # sagas overlap, same assertions per step.
    def run_schedule(seed):
        corpus_dir = str(tmp_path / f"corpus_{seed}")
        base.write.mode("overwrite").parquet(f"{corpus_dir}/embeddings.parquet")
        ivf_s = BucketedArtifactStore(
            spark, f"t_ivf_gen_{seed}", n_buckets=4,
            artifacts=IVF_STORE_ARTIFACTS,
        )
        pq_s = BucketedArtifactStore(
            spark, f"t_ivfpq_gen_{seed}", n_buckets=4,
            artifacts=IVFPQ_STORE_ARTIFACTS,
        )
        bq_s = BucketedArtifactStore(
            spark, f"t_bq_gen_{seed}", n_buckets=4,
            artifacts=BQ_STORE_ARTIFACTS,
        )
        mrl_s = BucketedArtifactStore(
            spark, f"t_mrl_gen_{seed}", n_buckets=4,
            artifacts=MRL_STORE_ARTIFACTS,
        )
        from concurrent.futures import ThreadPoolExecutor

        # The five model queries / five serves are independent actions
        # on tiny data: their cost is the sequential job-scheduling
        # floor, not compute — submit them concurrently (guide §2.6;
        # the same overlap the service layer and eager_checkpoints
        # use). Results are unchanged: each collect is its own action
        # on an immutable corpus snapshot.
        pool = ThreadPoolExecutor(max_workers=5)
        try:
            ivf_backfill_lists(spark, corpus_dir, ivf_s)
            ivfpq_backfill(spark, corpus_dir, pq_s)
            bq_backfill(spark, corpus_dir, bq_s)
            mrl_backfill(spark, corpus_dir, mrl_s)
            cb = ivfpq_codebook(pq_s)  # hoisted once per publish
            qv = [
                float(x)
                for x in _with_normalized(_load_emb(spark, corpus_dir))
                .filter(F.col("vec_id") == 0)
                .first()["ne"]
            ]

            def expected():
                futs = [
                    pool.submit(
                        lambda n=n: [
                            tuple(r)
                            for r in QUERIES[n]
                            .builder(spark, corpus_dir)
                            .collect()
                        ]
                    )
                    for n in (
                        "similarity_ivf_topk",
                        "similarity_ivf_pq_topk",
                        "similarity_ivf_pq_refine_topk",
                        "similarity_bq_hamming_topk",
                        "similarity_mrl_prefix_topk",
                    )
                ]
                return tuple(f.result() for f in futs)

            def increment_df(pairs):
                return spark.createDataFrame(
                    [
                        (new_id, base_rows[src][1], base_rows[src][2])
                        for new_id, src in pairs
                    ],
                    inc_schema,
                )

            exp_ivf, exp_pq, exp_ref, exp_bq, exp_mrl = expected()
            assert exp_ivf and exp_pq and exp_ref and exp_bq and exp_mrl
            model = {}  # batch_id -> [(new_id, src_row_index)]
            landed_order = []
            next_id = 10_000_000
            n_ops = 5 + h(seed, "ops") % 3
            for step in range(n_ops):
                kind = h(seed, step, "kind") % 4
                if kind == 0 and landed_order:
                    bid = landed_order[
                        h(seed, step, "pick") % len(landed_order)
                    ]
                    inc = increment_df(model[bid])
                    assert ivf_append_lists(ivf_s, inc, batch_id=bid) is False
                    assert ivfpq_append(pq_s, inc, batch_id=bid) is False
                    assert bq_append(bq_s, inc, batch_id=bid) is False
                    assert mrl_append(mrl_s, inc, batch_id=bid) is False
                elif kind == 1:
                    (ivf_s, pq_s, bq_s, mrl_s)[
                        h(seed, step, "which") % 4
                    ].compact()
                else:
                    bid = f"night-{step}"
                    n = 2 + h(seed, step, "n") % 3
                    pairs = [
                        (
                            next_id + i,
                            (IVF_K + h(seed, step, "src", i))
                            % len(base_rows),
                        )
                        for i in range(n)
                    ]
                    next_id += 100
                    inc = increment_df(pairs)
                    assert ivf_append_lists(ivf_s, inc, batch_id=bid) is True
                    assert ivfpq_append(pq_s, inc, batch_id=bid) is True
                    assert bq_append(bq_s, inc, batch_id=bid) is True
                    assert mrl_append(mrl_s, inc, batch_id=bid) is True
                    inc.write.mode("append").parquet(
                        f"{corpus_dir}/embeddings.parquet"
                    )
                    model[bid] = pairs
                    landed_order.append(bid)
                    exp_ivf, exp_pq, exp_ref, exp_bq, exp_mrl = expected()
                # serve row-parity after EVERY step, all five forms —
                # collected concurrently (same §2.6 overlap as
                # expected(); the serve DataFrames are built serially
                # below, only the independent collect actions overlap)
                serve_ivf = ivf_topk_from_store(ivf_s)
                serve_pq = ivfpq_topk_from_store(
                    pq_s,
                    qv,
                    query_vec_id=0,
                    codebook=cb if h(seed, step, "hoist") % 2 else None,
                )
                # r16: the refine cascade over BOTH stores, same
                # alternation, same-snapshot coverage check ON — paired
                # appends keep the contract satisfiable at every step
                serve_ref = ivfpq_refine_from_store(
                    pq_s,
                    ivf_s,
                    qv,
                    query_vec_id=0,
                    codebook=cb
                    if h(seed, step, "hoist-ref") % 2
                    else None,
                )
                # r16/r17: the BQ and MRL serves over their artifacts
                serve_bq = bq_topk_from_store(bq_s, qv, query_vec_id=0)
                serve_mrl = mrl_topk_from_store(mrl_s, qv, query_vec_id=0)
                futs = [
                    pool.submit(
                        lambda d=d: [tuple(r) for r in d.collect()]
                    )
                    for d in (
                        serve_ivf,
                        serve_pq,
                        serve_ref,
                        serve_bq,
                        serve_mrl,
                    )
                ]
                got_ivf, got_pq, got_ref, got_bq, got_mrl = (
                    f.result() for f in futs
                )
                assert got_ivf == exp_ivf, (seed, step, kind)
                assert got_pq == exp_pq, (seed, step, kind)
                assert got_ref == exp_ref, (seed, step, kind)
                assert got_bq == exp_bq, (seed, step, kind)
                assert got_mrl == exp_mrl, (seed, step, kind)
        finally:
            pool.shutdown()
            ivf_s.drop()
            pq_s.drop()
            bq_s.drop()
            mrl_s.drop()

    from concurrent.futures import ThreadPoolExecutor as _TPE

    with _TPE(max_workers=2) as sched_pool:
        list(sched_pool.map(run_schedule, ("ix5", "ix13")))


def test_ivf_pq_refine_topk_claims(spark, tmp_path):
    """similarity_ivf_pq_refine_topk's distinguishing claims. On the
    STANDARD corpus, against an in-test model (numpy exact cosines +
    the shared ADC chain): (1) the result is EXACTLY the exact-cosine
    re-rank of the ADC top-REFINE_R shortlist — every returned row sits
    in the shortlist, approx_cos_sim equals the chain's ADC score, and
    cos_sim equals the round-6 normalized dot; (2) refine genuinely
    reorders — the top-10 differs from the parent's, and rows the
    parent's ADC cut left below rank 10 surface (the precision win);
    (3) the documented RESIDUAL is real, not hypothetical: a candidate
    OUTSIDE the shortlist (vec 423 here) carries a higher exact cosine
    than a returned row and is still absent — recall stays the
    parent's. On a CRAFTED corpus: (4) two candidates sharing every PQ
    code (identical ADC score 1.0) but different exact cosines come
    back exact-DESC (the parent orders the tie by vec_id ASC) — the
    quantization-blindness refine exists to fix, pinned at the row
    level; oracle-checked on the crafted corpus too."""
    import duckdb
    import numpy as np
    import pyspark.sql.functions as F

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.similarity import (
        IVF_NPROBE,
        PQ_M,
        QUERY_VEC_ID,
        REFINE_R,
        _ivf_ranked,
        _load_emb,
        _pq_scores,
        _with_normalized,
    )
    from tests.conftest import assert_matches_oracle

    d = "/root/testdata/sf0.01"
    spec = QUERIES["similarity_ivf_pq_refine_topk"]
    got = [tuple(r) for r in spec.builder(spark, d).collect()]
    parent = [
        tuple(r)
        for r in QUERIES["similarity_ivf_pq_topk"].builder(spark, d).collect()
    ]

    # the in-test model: candidates -> ADC -> top-R -> exact re-rank
    emb = _with_normalized(_load_emb(spark, d))
    ranked = _ivf_ranked(emb)
    qprobe = ranked.filter(
        (F.col("vec_id") == QUERY_VEC_ID) & (F.col("rn") <= IVF_NPROBE)
    ).select("cid")
    cand = {
        r["vec_id"]: r["cid"]
        for r in ranked.filter(F.col("rn") == 1)
        .join(qprobe, "cid")
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .collect()
    }
    adc = {
        r["vec_id"]: r["approx_cos_sim"]
        for r in _pq_scores(emb, (PQ_M,)).collect()
        if r["vec_id"] in cand
    }
    assert len(adc) > REFINE_R  # the shortlist cut is exercised
    shortlist = [
        v for v, _s in sorted(adc.items(), key=lambda kv: (-kv[1], kv[0]))
    ][:REFINE_R]
    ne = {
        r["vec_id"]: np.asarray(r["ne"], dtype=np.float64)
        for r in emb.select("vec_id", "ne").collect()
    }
    q = ne[QUERY_VEC_ID]
    exact = {v: round(float(np.add.reduce(ne[v] * q)), 6) for v in adc}
    model = sorted(
        ((v, cand[v], adc[v], exact[v]) for v in shortlist),
        key=lambda t: (-t[3], t[0]),
    )[:10]
    # (1) the operator IS the model, row for row (scores included)
    assert got == model
    # (2) the reorder is real: different top-10 than the parent, and
    # pulled-up rows the parent's cut had below rank 10
    got_ids = [g[0] for g in got]
    assert got_ids != [p[0] for p in parent]
    assert set(got_ids) - {p[0] for p in parent}
    # (3) the residual: the best exact cosine OUTSIDE the shortlist
    # beats a returned row yet is absent (recall is the parent's)
    outside_best_id = max(
        (v for v in adc if v not in shortlist), key=lambda v: (exact[v], -v)
    )
    # derived from the data above, NOT pinned to a literal: under the
    # committed sf0.01 corpus this is vec 423, but the claim is the
    # BEHAVIOR (a better exact cosine exists outside the shortlist and
    # is absent from the result), which survives testdata regeneration.
    assert exact[outside_best_id] > min(g[3] for g in got)
    assert outside_best_id not in got_ids

    # (4) crafted same-code tie: X=400 (0.6*e0+0.8*e5) and Y=401
    # (0.8*e0+0.6*e5) take IDENTICAL codes (chunk0 argmaxes to the
    # query's own code; zero chunks tie to code 0 whose LUT
    # contribution is 0 — the documented zero-chunk phantom is inert
    # here because the query's other chunks are zero too), so ADC ties
    # at 1.0 and the parent orders X first (vec_id); exact cosines are
    # 0.6 vs 0.8, so refine returns Y first.
    def vec(*parts):
        v = [0.0] * 64
        for d_, a_ in parts:
            v[d_] = a_
        return v

    rows = [(0, vec((0, 1.0)), 0)]
    rows += [(k, vec((4 * k, 1.0), (1, 0.25)), 0) for k in range(1, 16)]
    rows.append((400, vec((0, 0.6), (5, 0.8)), 0))
    rows.append((401, vec((0, 0.8), (5, 0.6)), 0))
    cd = str(tmp_path / "refine_crafted")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{cd}/embeddings.parquet")
    crafted = [tuple(r) for r in spec.builder(spark, cd).collect()]
    assert [c[0] for c in crafted[:2]] == [401, 400]
    assert crafted[0][2] == crafted[1][2] == 1.0  # the ADC tie
    assert crafted[0][3] == 0.8 and crafted[1][3] == 0.6
    crafted_parent = [
        tuple(r)
        for r in QUERIES["similarity_ivf_pq_topk"].builder(spark, cd).collect()
    ]
    assert [c[0] for c in crafted_parent[:2]] == [400, 401]  # id order
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{cd}/embeddings.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, cd), con, spec.oracle,
        "ivf_pq_refine_crafted",
    )


def test_scd2_intervals_claims(spark, tmp_path):
    """events_scd2_intervals' distinguishing claims on a crafted event
    log: (1) RUN semantics, not distinct-type — u1's A,A,B,A stream
    compacts to THREE intervals (A n=2, B n=1, A n=1), the re-visit
    opening a new interval; (2) the intervals are half-open and
    exhaustive — valid_to equals the NEXT interval's valid_from,
    exactly one NULL-ended current row per user, and per-user
    n_events sums to the user's event count; (3) a ts TIE is broken
    by event_id (u2's two same-timestamp events order C before D, so
    C's interval closes at the tied timestamp — zero-width, the
    honest rendering of simultaneous changes); (4) consecutive
    NULL-typed events collapse into ONE NULL run (IS DISTINCT FROM
    semantics on both engines) — including a user whose FIRST event is
    NULL-typed, whose leading run the pre-fix rule silently dropped in
    both engines (the r15 generative find, pinned here by name); (5)
    users never leak runs into each
    other (u3's A stream is one interval despite u1's interleaved
    flips); (6) the docstring's incrementalization claim is EXECUTED,
    not asserted: re-compacting each user's OPEN day-1 interval as a
    weighted pseudo-event together with the day-2 events reproduces
    the full recompute row-for-row (closed day-1 intervals untouched,
    counts summing weights). Oracle-checked on the crafted corpus."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import assert_matches_oracle

    US = 1_000_000
    T0 = 1704067200  # 2024-01-01T00:00:00Z epoch seconds

    def ts(sec):
        return f"2024-01-01 00:{sec // 60:02d}:{sec % 60:02d}"

    rows = [
        # u1: A A B A  (interleaved with u3 in event_id order)
        (1, ts(0), 1, "A", 1.0), (3, ts(60), 1, "A", 1.0),
        (5, ts(120), 1, "B", 1.0), (7, ts(180), 1, "A", 1.0),
        # u2: tie at ts(10): event_id 10 (C) before 11 (D), then D again
        (10, ts(10), 2, "C", 1.0), (11, ts(10), 2, "D", 1.0),
        (12, ts(70), 2, "D", 1.0),
        # u3: steady A (+ two NULL-typed events collapsing to one run)
        (2, ts(30), 3, "A", 1.0), (4, ts(90), 3, "A", 1.0),
        (6, ts(150), 3, None, 1.0), (8, ts(210), 3, None, 1.0),
        # u4: FIRST event NULL-typed — the r15 generative find: without
        # the first-row clause this leading NULL run vanishes in BOTH
        # engines (lag NULL IS NOT DISTINCT FROM type NULL)
        (20, ts(5), 4, None, 1.0), (21, ts(65), 4, None, 1.0),
        (22, ts(125), 4, "E", 1.0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts_s string, user_id long, event_type string,"
        " value double",
    ).select(
        "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value",
        F.lit("{}").alias("props"),
    )
    d = str(tmp_path / "scd2")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")

    spec = QUERIES["events_scd2_intervals"]
    got = sorted(
        (tuple(r) for r in spec.builder(spark, d).collect()),
        key=lambda t: (t[0], t[2]),
    )

    def u(sec):
        return (T0 + sec) * US

    # (1) + (5): u1 three intervals, u3 unbroken by u1's flips
    assert [g for g in got if g[0] == 1] == [
        (1, "A", u(0), u(120), 2, False),
        (1, "B", u(120), u(180), 1, False),
        (1, "A", u(180), None, 1, True),
    ]
    # (3) the tie: C opens at ts(10) and closes at the SAME instant
    # (event_id orders C first), D runs from the tie onward (n=2)
    assert [g for g in got if g[0] == 2] == [
        (2, "C", u(10), u(10), 1, False),
        (2, "D", u(10), None, 2, True),
    ]
    # (4): one A run, then ONE collapsed NULL-typed run
    assert [g for g in got if g[0] == 3] == [
        (3, "A", u(30), u(150), 2, False),
        (3, None, u(150), None, 2, True),
    ]
    # the NULL-FIRST user keeps its leading NULL run (r15 find)
    assert [g for g in got if g[0] == 4] == [
        (4, None, u(5), u(125), 2, False),
        (4, "E", u(125), None, 1, True),
    ]
    # (2) half-open exhaustiveness, one current row per user, counts
    for uid, n_total in ((1, 4), (2, 3), (3, 4), (4, 3)):
        iv = [g for g in got if g[0] == uid]
        assert sum(g[4] for g in iv) == n_total
        assert [g[5] for g in iv].count(True) == 1
        assert iv[-1][3] is None
        for a, b in zip(iv, iv[1:]):
            assert a[3] == b[2]  # valid_to chains to next valid_from

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{d}/events.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle, "scd2_crafted"
    )

    # (6) incrementalization, executed: day 1 = events before sec 100,
    # day 2 = the rest. Python-merge day-1's intervals with day-2's
    # events (open interval -> weighted pseudo-event) and compare to
    # the full recompute above.
    d1dir = str(tmp_path / "scd2_day1")
    df.filter(F.col("event_id").isin([e for e in (1, 3, 2, 4, 10, 11, 12,
                                                   20, 21)
                                      ])).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{d1dir}/events.parquet")
    day1_rows = sorted(
        (tuple(r) for r in spec.builder(spark, d1dir).collect()),
        key=lambda t: (t[0], t[2]),
    )
    day2_events = {  # user -> [(ts_us, event_id, type, weight)]
        1: [(u(120), 5, "B", 1), (u(180), 7, "A", 1)],
        3: [(u(150), 6, None, 1), (u(210), 8, None, 1)],
        4: [(u(125), 22, "E", 1)],
    }
    merged = []
    for uid in sorted({g[0] for g in got}):
        ivs = [g for g in day1_rows if g[0] == uid]
        closed = [g for g in ivs if g[3] is not None]
        open_iv = [g for g in ivs if g[3] is None]
        stream = [
            (iv[2], -1, iv[1], iv[4]) for iv in open_iv  # pseudo-event
        ] + day2_events.get(uid, [])
        stream.sort(key=lambda t: (t[0], t[1]))
        if uid not in day2_events:  # untouched user: intervals as-is
            merged.extend(ivs)
            continue
        merged.extend(closed)
        runs = []
        for ts_us, _eid, typ, wt in stream:
            if runs and runs[-1][1] == typ:
                runs[-1][2] += wt
            else:
                runs.append([ts_us, typ, wt])
        for i, (start, typ, wt) in enumerate(runs):
            nxt = runs[i + 1][0] if i + 1 < len(runs) else None
            merged.append(
                (uid, typ, start, nxt, wt, nxt is None)
            )
    assert sorted(merged, key=lambda t: (t[0], t[2])) == got


def test_domain_caps_claims(spark, tmp_path):
    """pipeline_domain_caps' distinguishing claims on a skewed crafted
    corpus (token totals 100/200/400/800/1600/3200; budget = total DIV
    2 = 3150): (1) the closed form finds the TRUE water level — tau =
    825, verified against an independent bisection model, with the
    four small domains UNCAPPED (allocation == own tokens, exact
    integers) and the two big ones capped at the same tau; (2)
    conservation is exact: allocations sum to the budget; (3) the
    level separates: every uncapped total <= tau < every capped
    total; (4) capped domains EQUALIZE (identical post-cap shares)
    while uncapped ones keep their natural share — the property that
    distinguishes water-filling from proportional scaling, which
    would shrink small domains too. Oracle-checked on the crafted
    corpus. (The standard corpus is near-uniform, so the differential
    evidence exercises the everything-capped branch; this fixture is
    the mixed regime.)"""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import assert_matches_oracle

    totals = {"s100": 100, "s200": 200, "s400": 400,
              "s800": 800, "s1600": 1600, "s3200": 3200}
    rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(n)), "en", src, n * 6)
        for i, (src, n) in enumerate(sorted(totals.items()))
    ]
    d = str(tmp_path / "caps")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    spec = QUERIES["pipeline_domain_caps"]
    got = {r["source"]: r.asDict() for r in spec.builder(spark, d).collect()}
    total = sum(totals.values())
    budget = total // 2
    assert budget == 3150

    # the independent model: bisection on sum(min(t, tau)) == budget
    lo, hi = 0.0, float(max(totals.values()))
    for _ in range(200):
        mid = (lo + hi) / 2
        if sum(min(t, mid) for t in totals.values()) < budget:
            lo = mid
        else:
            hi = mid
    assert abs(hi - 825.0) < 1e-6

    # (1) tau and the cap split
    for src, t in totals.items():
        r = got[src]
        assert r["cap_level"] == 825.0
        assert r["n_tokens"] == t
        if t <= 825:
            assert r["capped"] is False and r["allocated_tokens"] == float(t)
        else:
            assert r["capped"] is True and r["allocated_tokens"] == 825.0
    # (2) conservation: allocations sum to the budget exactly
    assert abs(sum(r["allocated_tokens"] for r in got.values()) - budget) < 1e-6
    # (3) the level separates the two classes
    uncapped = [t for t in totals.values() if t <= 825]
    capped = [t for t in totals.values() if t > 825]
    assert max(uncapped) <= 825 < min(capped) and len(capped) == 2
    # (4) capped domains equalize; uncapped keep natural proportions
    shares = {s: got[s]["share_after"] for s in totals}
    assert shares["s1600"] == shares["s3200"]
    assert abs(shares["s400"] / shares["s200"] - 2.0) < 1e-3

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle, "domain_caps_crafted"
    )

    # (5) degenerate corpus (r16, ADVICE): all-empty text -> every
    # n_tokens is 0, total = 0, budget = 0 DIV 2 = 0. The shares are
    # 0/0 — without the NULLIF guards Spark non-ANSI folds them to NULL
    # while DuckDB's IEEE doubles render NaN, a differential-gate
    # mismatch. Both engines must now agree on NULL shares, a
    # well-defined cap of 0.0, and 0 allocations.
    d0 = str(tmp_path / "caps_zero")
    spark.createDataFrame(
        [(1, "", "en", "a", 0), (2, "  ", "en", "b", 2)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d0}/documents.parquet")
    zero = {r["source"]: r.asDict() for r in spec.builder(spark, d0).collect()}
    assert set(zero) == {"a", "b"}
    for r in zero.values():
        assert r["n_tokens"] == 0
        assert r["share_before"] is None and r["share_after"] is None
        assert r["cap_level"] == 0.0 and r["allocated_tokens"] == 0.0
        assert r["capped"] is False
    con0 = duckdb.connect()
    con0.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d0}/documents.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d0), con0, spec.oracle, "domain_caps_zero"
    )


def test_ivfpq_refine_store_round_trip(spark):
    """The refine cascade's serving story (r15 — pairing
    similarity_ivf_pq_refine_topk with its persisted-index serve, the
    same discipline as the r13/r14 serves): (1) serve parity —
    ivfpq_refine_from_store returns ROW-IDENTICAL results to the
    registered query, through both the per-serve and hoisted-codebook
    paths; (2) the returned frame is the cascade's production plan —
    ONE bucket-pruned scan of the VECTOR index (SelectedBucketsCount
    <= nprobe) with the exact cosine inlined as a literal dot and the
    code index's shortlist attached as literal maps: zero joins, zero
    shuffles, zero Window nodes, zero broadcasts (the shortlist stage
    is the code serve collected at O(R) driver rows — the bounded
    legitimacy class); (3) a nightly append landed on BOTH stores
    surfaces in the serve — an exact duplicate of the query takes
    rank 1 at cosine 1.0 with the maximal ADC score — and replayed
    appends plus compaction of EACH store leave the served rows
    identical."""
    import re

    import pyspark.sql.functions as F

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.similarity import (
        IVF_NPROBE,
        _load_emb,
        _with_normalized,
        ivf_append_lists,
        ivf_backfill_lists,
        IVF_STORE_ARTIFACTS,
        ivfpq_append,
        ivfpq_backfill,
        ivfpq_codebook,
        ivfpq_refine_from_store,
        IVFPQ_STORE_ARTIFACTS,
    )
    from iceberg_explorer_spark.plans import inspect as pi

    d = "/root/testdata/sf0.01"
    n_buckets = 4
    cs = BucketedArtifactStore(
        spark, "t_refine_codes", n_buckets=n_buckets,
        artifacts=IVFPQ_STORE_ARTIFACTS,
    )
    vs = BucketedArtifactStore(
        spark, "t_refine_vecs", n_buckets=n_buckets,
        artifacts=IVF_STORE_ARTIFACTS,
    )
    try:
        ivfpq_backfill(spark, d, cs)
        ivf_backfill_lists(spark, d, vs)
        emb = _with_normalized(_load_emb(spark, d))
        qv = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 0).first()["ne"]
        ]
        served = ivfpq_refine_from_store(cs, vs, qv, query_vec_id=0)
        got = [tuple(r) for r in served.collect()]
        want = [
            tuple(r)
            for r in QUERIES["similarity_ivf_pq_refine_topk"]
            .builder(spark, d)
            .collect()
        ]
        assert got == want and got
        cb = ivfpq_codebook(cs)
        assert [
            tuple(r)
            for r in ivfpq_refine_from_store(
                cs, vs, qv, query_vec_id=0, codebook=cb
            ).collect()
        ] == got

        # (2) the production plan of the returned frame
        plan = pi.physical_plan(served)
        assert pi.shuffle_count(served) == 0
        assert "Join" not in plan
        assert "Window" not in plan
        assert "BroadcastExchange" not in plan
        assert plan.count("Scan parquet") == 1
        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m, plan
        assert int(m.group(1)) <= IVF_NPROBE
        assert int(m.group(2)) == n_buckets

        # (3) nightly append on BOTH stores, replay, compaction
        new_id = 11_000_000
        inc = (
            spark.read.parquet(f"{d}/embeddings.parquet")
            .filter(F.col("vec_id") == 0)
            .withColumn("vec_id", F.lit(new_id).cast("long"))
        )
        assert ivfpq_append(cs, inc, batch_id="night-1") is True
        assert ivf_append_lists(vs, inc, batch_id="night-1") is True
        served2 = [
            tuple(r)
            for r in ivfpq_refine_from_store(
                cs, vs, qv, query_vec_id=0
            ).collect()
        ]
        assert served2[0][0] == new_id
        assert served2[0][3] == 1.0  # exact cosine of the duplicate
        assert served2[0][2] == max(s_[2] for s_ in served2)  # max ADC
        assert ivfpq_append(cs, inc, batch_id="night-1") is False
        assert ivf_append_lists(vs, inc, batch_id="night-1") is False
        cs.compact()
        vs.compact()
        assert [
            tuple(r)
            for r in ivfpq_refine_from_store(
                cs, vs, qv, query_vec_id=0
            ).collect()
        ] == served2
    finally:
        cs.drop()
        vs.drop()


def test_ivfpq_refine_store_snapshot_guard(spark):
    """r16 hardening (VERDICT r15 'what's wrong' #2 / ADVICE): a
    same-snapshot contract violation between the two refine-serve
    stores must be LOUD, not a silent short result. Crafted
    cross-snapshot state: an increment appended to the CODE store only
    — its vec lands in the ADC shortlist (exact duplicate of the query
    -> maximal ADC score) but the VECTOR index has no such row, so
    before r16 the pruned scan silently dropped it. Pins: (1) the
    serve raises ValueError naming the missing vec_id; (2) landing
    the SAME increment on the vector store heals the serve, the
    duplicate takes rank 1 at cosine 1.0, and the coverage check
    passes quietly again."""
    import pytest

    from iceberg_explorer_spark.operators.similarity import (
        _load_emb,
        _with_normalized,
        ivf_append_lists,
        ivf_backfill_lists,
        IVF_STORE_ARTIFACTS,
        ivfpq_append,
        ivfpq_backfill,
        ivfpq_refine_from_store,
        IVFPQ_STORE_ARTIFACTS,
    )

    d = "/root/testdata/sf0.01"
    cs = BucketedArtifactStore(
        spark, "t_refine_guard_codes", n_buckets=4,
        artifacts=IVFPQ_STORE_ARTIFACTS,
    )
    vs = BucketedArtifactStore(
        spark, "t_refine_guard_vecs", n_buckets=4,
        artifacts=IVF_STORE_ARTIFACTS,
    )
    try:
        ivfpq_backfill(spark, d, cs)
        ivf_backfill_lists(spark, d, vs)
        emb = _with_normalized(_load_emb(spark, d))
        qv = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 0).first()["ne"]
        ]
        new_id = 12_000_000
        inc = (
            spark.read.parquet(f"{d}/embeddings.parquet")
            .filter(F.col("vec_id") == 0)
            .withColumn("vec_id", F.lit(new_id).cast("long"))
        )
        # desync: the code store sees the increment, the vector store
        # does not — exactly the state one crashed half of an ingest
        # transaction leaves behind
        assert ivfpq_append(cs, inc, batch_id="half-night") is True
        with pytest.raises(ValueError, match=str(new_id)):
            ivfpq_refine_from_store(cs, vs, qv, query_vec_id=0).collect()
        # heal: land the same increment on the vector store
        assert ivf_append_lists(vs, inc, batch_id="half-night") is True
        healed = [
            tuple(r)
            for r in ivfpq_refine_from_store(
                cs, vs, qv, query_vec_id=0
            ).collect()
        ]
        assert healed[0][0] == new_id and healed[0][3] == 1.0
    finally:
        cs.drop()
        vs.drop()


def test_scd2_generative_parity(spark, tmp_path):
    """Generative hammer for events_scd2_intervals: three md5-seeded
    random event logs — skewed user populations, deliberate timestamp
    TIES (1-in-4 events reuse the previous second), NULL-typed events,
    and single-event users — each checked (a) against the DuckDB
    oracle (full engine parity on shapes the crafted fixture cannot
    enumerate) and (b) against the structural invariants that define
    SCD2 output regardless of input: per user, intervals chain
    half-open (valid_to == next valid_from), exactly one NULL-ended
    current row, n_events sums to the user's event count, and
    consecutive intervals never repeat a type (IS DISTINCT FROM — a
    repeat would mean a run was split)."""
    import duckdb
    import hashlib

    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import assert_matches_oracle

    def h(*parts) -> int:
        return hashlib.md5(":".join(map(str, parts)).encode()).digest()[0]

    types = ["A", "B", "C", None]
    spec = QUERIES["events_scd2_intervals"]
    for seed in ("sg1", "sg2", "sg3"):
        n = 80 + h(seed, "n") % 40
        rows, sec = [], 0
        for i in range(n):
            if h(seed, i, "tie") % 4 != 0:
                sec += 1 + h(seed, i, "gap") % 50
            uid = h(seed, i, "u") % (3 + h(seed, "users") % 5)
            typ = types[h(seed, i, "t") % len(types)]
            rows.append(
                (i, f"2024-01-01 {sec // 3600:02d}:{sec // 60 % 60:02d}:"
                    f"{sec % 60:02d}", uid, typ, 1.0)
            )
        df = spark.createDataFrame(
            rows, "event_id long, ts_s string, user_id long,"
            " event_type string, value double",
        ).select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
            "user_id", "event_type", "value", F.lit("{}").alias("props"),
        )
        d = str(tmp_path / f"scd2_{seed}")
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{d}/events.parquet/*.parquet')"
        )
        assert_matches_oracle(
            spec.builder(spark, d), con, spec.oracle, f"scd2_gen_{seed}"
        )
        got = sorted(
            (tuple(r) for r in spec.builder(spark, d).collect()),
            key=lambda t: (t[0], t[2]),
        )
        per_user = {}
        for g in got:
            per_user.setdefault(g[0], []).append(g)
        n_by_user = {}
        for _eid, _ts, uid, _t, _v in rows:
            n_by_user[uid] = n_by_user.get(uid, 0) + 1
        assert set(per_user) == set(n_by_user), seed
        for uid, ivs in per_user.items():
            assert sum(g[4] for g in ivs) == n_by_user[uid], (seed, uid)
            assert [g[5] for g in ivs].count(True) == 1
            assert ivs[-1][3] is None and ivs[-1][5] is True
            for a, b in zip(ivs, ivs[1:]):
                assert a[3] == b[2], (seed, uid)
                assert a[1] != b[1] or (a[1] is None) != (b[1] is None), (
                    seed, uid,
                )


def test_domain_caps_generative(spark, tmp_path):
    """Generative hammer for pipeline_domain_caps: three md5-seeded
    random source-size profiles (heavy-tailed, near-uniform, and
    one-giant-many-tiny) checked against (a) the DuckDB oracle and
    (b) an independent bisection model of the water level, plus the
    definitional invariants: allocations sum to the budget (1e-5 of
    budget — round-6 outputs), every uncapped domain keeps exactly its
    own tokens, every capped domain gets exactly tau, and tau
    separates the two classes."""
    import duckdb
    import hashlib

    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import assert_matches_oracle

    def h(*parts) -> int:
        return hashlib.md5(":".join(map(str, parts)).encode()).digest()[0]

    spec = QUERIES["pipeline_domain_caps"]
    profiles = {
        "heavy": lambda i, s: 10 + h(s, i) ** 2 // 8,
        "uniform": lambda i, s: 40 + h(s, i) % 9,
        "giant": lambda i, s: 2000 if i == 0 else 5 + h(s, i) % 20,
    }
    for pname, size in profiles.items():
        n_src = 5 + h(pname, "n") % 6
        totals = {f"s{i:02d}": max(1, size(i, pname)) for i in range(n_src)}
        rows = [
            (i, " ".join(f"t{pname}{i}w{j}" for j in range(t)), "en",
             src, t * 7)
            for i, (src, t) in enumerate(sorted(totals.items()))
        ]
        d = str(tmp_path / f"caps_{pname}")
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{d}/documents.parquet"
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{d}/documents.parquet/*.parquet')"
        )
        assert_matches_oracle(
            spec.builder(spark, d), con, spec.oracle, f"caps_gen_{pname}"
        )
        got = {r["source"]: r.asDict() for r in spec.builder(spark, d).collect()}
        budget = sum(totals.values()) // 2
        lo, hi = 0.0, float(max(totals.values()))
        for _ in range(200):
            mid = (lo + hi) / 2
            if sum(min(t, mid) for t in totals.values()) < budget:
                lo = mid
            else:
                hi = mid
        tau = hi
        for src, t in totals.items():
            r = got[src]
            assert abs(r["cap_level"] - tau) < 1e-5, (pname, src, tau)
            if r["capped"]:
                assert t > r["cap_level"] - 1e-9
                assert abs(r["allocated_tokens"] - r["cap_level"]) < 1e-9
            else:
                assert r["allocated_tokens"] == float(t)
        assert (
            abs(sum(r["allocated_tokens"] for r in got.values()) - budget)
            < 1e-5 * max(budget, 1)
        ), pname


def test_ivf_pq_topk_generative_parity(spark, tmp_path):
    """Generative hammer for similarity_ivf_pq_topk (r16 — VERDICT r15
    #3 backfill: the composed chain rested on crafted fixtures only,
    and the r15 scd2 lesson is that operator and oracle can share a
    blind formulation the differential gate cannot see). Three
    md5-seeded random corpora (values on a 1/64 float32 grid, which
    MANUFACTURES round-6 dot ties so the min-cid / min-code / vec_id
    tie-breaks are genuinely exercised) are each checked against (a)
    an INDEPENDENT pure-Python IVF-PQ model — sequential-fold dots,
    decimal HALF_UP rounding, argmax encode, micro-unit LUT, the whole
    cascade re-derived from the definition rather than from the
    operator's code — and (b) the DuckDB oracle (engine parity on the
    same corpus). Structural invariants hold regardless of seed: every
    returned row's probe_list is one of the query's nprobe lists,
    scores descend with vec_id tie-break, and the ADC score equals the
    model's code-table lookup exactly (micro-integer, no float
    drift)."""
    import duckdb
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.similarity import (
        DIM,
        IVF_K,
        IVF_NPROBE,
        PQ_K,
        PQ_M,
        PQ_SUB,
        QUERY_VEC_ID,
    )
    from tests.conftest import assert_matches_oracle

    def h(*parts) -> int:
        return hashlib.md5(":".join(map(str, parts)).encode()).digest()[0]

    def sdot(a, b):  # the _DOT_SPARK left fold, exactly
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def r6(x):  # Spark F.round(double, 6): BigDecimal HALF_UP on the
        # shortest decimal repr (Double.toString == Python repr)
        return float(
            Decimal(repr(float(x))).quantize(
                Decimal("0.000001"), ROUND_HALF_UP
            )
        )

    def micro(x):  # F.round(double) .cast(bigint)
        return int(
            Decimal(repr(float(x))).quantize(Decimal("1"), ROUND_HALF_UP)
        )

    spec = QUERIES["similarity_ivf_pq_topk"]
    for seed in ("pq1", "pq2", "pq3"):
        n = 48 + h(seed, "n") % 16
        vecs = {}
        for i in range(n):
            v = [(h(seed, i, d) - 128) / 64.0 for d in range(DIM)]
            if all(x == 0.0 for x in v):  # _load_emb excludes all-zero
                v[0] = 1.0 / 64.0
            vecs[i] = v
        d = str(tmp_path / f"ivfpq_{seed}")
        spark.createDataFrame(
            [(i, v, i % 3) for i, v in vecs.items()],
            "vec_id long, embedding array<float>, label int",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{d}/embeddings.parquet"
        )

        # ---- the independent model (pure Python, from the definition)
        ne = {}
        for i, v in vecs.items():
            nrm = sdot(v, v) ** 0.5
            ne[i] = [x / nrm for x in v]
        cents = {c: ne[c] for c in range(IVF_K)}
        assign, ranked_q = {}, []
        for i in range(n):
            order = sorted(
                ((r6(sdot(ne[i], ce)), -c) for c, ce in cents.items()),
                reverse=True,
            )
            assign[i] = -order[0][1]
            if i == QUERY_VEC_ID:
                ranked_q = [-t[1] for t in order[:IVF_NPROBE]]
        cand = {
            i: assign[i]
            for i in range(n)
            if assign[i] in ranked_q and i != QUERY_VEC_ID
        }
        chunks = {
            (i, m): ne[i][m * PQ_SUB : (m + 1) * PQ_SUB]
            for i in range(n)
            for m in range(PQ_M)
        }
        codes = {}
        for i in range(n):
            for m in range(PQ_M):
                best = max(
                    range(PQ_K),
                    key=lambda c: (r6(sdot(chunks[i, m], chunks[c, m])), -c),
                )
                codes[i, m] = best
        lut = {
            (m, c): micro(
                sdot(chunks[QUERY_VEC_ID, m], chunks[c, m]) * 1_000_000
            )
            for m in range(PQ_M)
            for c in range(PQ_K)
        }
        adc = {
            i: sum(lut[m, codes[i, m]] for m in range(PQ_M)) / 1_000_000.0
            for i in cand
        }
        model = sorted(
            ((i, cand[i], adc[i]) for i in cand), key=lambda t: (-t[2], t[0])
        )[:10]

        got = [tuple(r) for r in spec.builder(spark, d).collect()]
        assert got == model, (seed, got[:3], model[:3])
        # structural invariants, seed-independent
        assert got and all(g[1] in ranked_q for g in got)
        assert all(
            (a[2], -a[0]) >= (b[2], -b[0]) for a, b in zip(got, got[1:])
        )

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{d}/embeddings.parquet/*.parquet')"
        )
        assert_matches_oracle(
            spec.builder(spark, d), con, spec.oracle, f"ivfpq_gen_{seed}"
        )


def test_bigram_lm_generative_parity(spark, tmp_path):
    """Generative hammer for text_bigram_lm_score (r16 — VERDICT r15 #3
    backfill, same rationale as the IVF-PQ one): three md5-seeded
    random token streams over a 10-word vocabulary — short docs, EMPTY
    docs and 1-token docs (must be absent: no bigrams), heavy repeats
    (the add-one smoothing and context marginals get real mass) — each
    checked against an INDEPENDENT Python counter model (Counter-built
    bigram/context/vocab tables, decimal HALF_UP micro quantization of
    ln P, exact integer per-doc sums) and against the DuckDB oracle.
    Invariants: output docs are exactly those with >= 2 tokens,
    n_bigrams == len(tokens) - 1, and sum_logprob_micro is the exact
    integer the model's q-table predicts."""
    import duckdb
    import hashlib
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.text import LOGFREQ_SCALE
    from tests.conftest import assert_matches_oracle

    def h(*parts) -> int:
        return hashlib.md5(":".join(map(str, parts)).encode()).digest()[0]

    def micro(x):
        return int(
            Decimal(repr(float(x))).quantize(Decimal("1"), ROUND_HALF_UP)
        )

    vocab = [f"w{k}" for k in range(10)]
    spec = QUERIES["text_bigram_lm_score"]
    for seed in ("lm1", "lm2", "lm3"):
        n_docs = 14 + h(seed, "docs") % 6
        toks = {}
        for i in range(n_docs):
            ln = h(seed, i, "len") % 24  # includes 0- and 1-token docs
            words = []
            for j in range(ln):
                if words and h(seed, i, j, "rep") % 3 == 0:
                    words.append(words[-1])  # runs: repeated bigrams
                else:
                    words.append(vocab[h(seed, i, j, "w") % len(vocab)])
            toks[i] = words
        rows = [
            (i, " ".join(w) if w else "", "en", "gen", len(" ".join(w)))
            for i, w in toks.items()
        ]
        d = str(tmp_path / f"lm_{seed}")
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{d}/documents.parquet"
        )

        # ---- the independent model
        bg, per_doc = Counter(), {}
        for i, w in toks.items():
            pairs = list(zip(w, w[1:]))
            bg.update(pairs)
            if pairs:
                per_doc[i] = Counter(pairs)
        ctx = Counter()
        for (w1, _w2), c in bg.items():
            ctx[w1] += c
        vs = len({w for ws in toks.values() for w in ws})
        q = {
            p: micro(math.log((c + 1.0) / (ctx[p[0]] + vs)) * LOGFREQ_SCALE)
            for p, c in bg.items()
        }
        model = {}
        for i, tf in per_doc.items():
            nb = sum(tf.values())
            s = sum(cnt * q[p] for p, cnt in tf.items())
            model[i] = (nb, s, s / (LOGFREQ_SCALE * nb))

        got = {
            r["doc_id"]: (
                r["n_bigrams"],
                r["sum_logprob_micro"],
                r["avg_bigram_logprob"],
            )
            for r in spec.builder(spark, d).collect()
        }
        assert set(got) == set(model), seed  # >=2-token docs, exactly
        for i in model:
            assert got[i][0] == model[i][0] == len(toks[i]) - 1, (seed, i)
            assert got[i][1] == model[i][1], (seed, i)
            assert got[i][2] == model[i][2], (seed, i)

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{d}/documents.parquet/*.parquet')"
        )
        assert_matches_oracle(
            spec.builder(spark, d), con, spec.oracle, f"lm_gen_{seed}"
        )


def _r16_micro(x):
    """Spark F.round(double).cast(bigint): BigDecimal HALF_UP over the
    shortest decimal repr (Double.toString == Python repr)."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(Decimal(repr(float(x))).quantize(Decimal("1"), ROUND_HALF_UP))


def _r16_r6(x):
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(x))).quantize(Decimal("0.000001"), ROUND_HALF_UP)
    )


def _r16_sdot(a, b):
    """The _DOT_SPARK left fold, exactly."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _bq_model(vecs, query_vec_id=0, r=30, k=10):
    """Independent BQ cascade model: sign-bit pack, XOR/popcount Hamming,
    (hamming, vec_id) shortlist cut, exact-cosine re-rank."""
    ne = {}
    for i, v in vecs.items():
        nrm = _r16_sdot(v, v) ** 0.5
        ne[i] = [x / nrm for x in v]

    def pack(vals):
        lo = sum(1 << i for i in range(32) if vals[i] > 0)
        hi = sum(1 << i for i in range(32) if vals[i + 32] > 0)
        return lo, hi

    sk = {i: pack(n) for i, n in ne.items()}
    qlo, qhi = sk[query_vec_id]
    ham = {
        i: bin((s[0] ^ qlo)).count("1") + bin((s[1] ^ qhi)).count("1")
        for i, s in sk.items()
        if i != query_vec_id
    }
    shortlist = sorted(ham, key=lambda i: (ham[i], i))[:r]
    rer = [
        (i, ham[i], _r16_r6(_r16_sdot(ne[i], ne[query_vec_id])))
        for i in shortlist
    ]
    return sorted(rer, key=lambda t: (-t[2], t[0]))[:k], ham


def test_bq_hamming_topk_claims(spark, tmp_path):
    """similarity_bq_hamming_topk's distinguishing claims. Fixture 1 —
    32 vectors sharing the QUERY'S EXACT SKETCH (same sign pattern,
    different magnitudes, deliberately non-monotone cosines): (1) the
    Hamming stage ties at 0 and cuts by vec_id, so ids 10..39 form the
    shortlist and ids 40/41 are out; (2) the recall residual is REAL —
    vec 41 carries the best exact cosine in the family yet is absent
    (recall is the sketch's, the cascade's defining trade); (3) the
    exact re-rank genuinely reorders (result order != shortlist/vec_id
    order); (4) row-for-row parity with the independent model. Fixture
    2 — tiny corpus where every row returns: a clone at Hamming 0 /
    cosine 1.0, the NEGATION at Hamming 16 (its 8 positive and the
    query's 8 positive dims all flip; zero dims contribute nothing —
    sign(0) is not a bit), an orthogonal positive vector also at 16,
    pinning the sketch geometry end-to-end. Oracle-checked on both."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.similarity import DIM
    from tests.conftest import assert_matches_oracle

    spec = QUERIES["similarity_bq_hamming_topk"]

    def vec(pairs):
        v = [0.0] * DIM
        for d, a in pairs:
            v[d] = a
        return v

    # fixture 1: the query's sign pattern is +: dims 0..7, -: dims 8..15
    q = vec([(d, 1.0) for d in range(8)] + [(d, -1.0) for d in range(8, 16)])
    vecs = {0: q}
    for j, i in enumerate(range(10, 42)):
        # same SIGNS as the query but never parallel to it: magnitudes
        # differ across the two sign blocks and wobble with j so the
        # cosine is NON-monotone in vec_id
        a = 2.0 + (j % 7) * 0.25
        b = 0.25 + (j % 5) * 0.5
        vecs[i] = vec(
            [(d, a) for d in range(4)]
            + [(d, 0.5) for d in range(4, 8)]
            + [(d, -b) for d in range(8, 12)]
            + [(d, -3.0) for d in range(12, 16)]
        )
    vecs[41] = [2.0 * x for x in q]  # exact direction: cosine 1.0, id 41
    d1 = str(tmp_path / "bq_family")
    spark.createDataFrame(
        [(i, v, 0) for i, v in vecs.items()],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d1}/embeddings.parquet")

    model, ham = _bq_model(vecs)
    got = [tuple(r) for r in spec.builder(spark, d1).collect()]
    assert got == model  # (4) row-for-row with the independent model
    got_ids = [g[0] for g in got]
    assert all(h == 0 for h in ham.values())  # the family really ties
    assert 41 not in got_ids and 40 not in got_ids  # (1) vec_id cut
    exact41 = _r16_r6(1.0)
    assert exact41 > min(g[2] for g in got)  # (2) residual is real
    assert got_ids != sorted(got_ids)  # (3) re-rank reorders

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d1}/embeddings.parquet/*.parquet')"
    )
    assert_matches_oracle(spec.builder(spark, d1), con, spec.oracle, "bq_f1")

    # fixture 2: sketch geometry, every row visible
    tiny = {
        0: q,
        5: [-x for x in q],                      # negation
        6: vec([(d, 1.0) for d in range(16, 24)]),  # orthogonal positives
        7: [0.5 * x for x in q],                 # clone (scaled)
    }
    d2 = str(tmp_path / "bq_tiny")
    spark.createDataFrame(
        [(i, v, 0) for i, v in tiny.items()],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d2}/embeddings.parquet")
    got2 = [tuple(r) for r in spec.builder(spark, d2).collect()]
    assert got2 == [(7, 0, 1.0), (6, 16, 0.0), (5, 16, -1.0)]
    con2 = duckdb.connect()
    con2.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d2}/embeddings.parquet/*.parquet')"
    )
    assert_matches_oracle(spec.builder(spark, d2), con2, spec.oracle, "bq_f2")


def test_bq_hamming_generative_parity(spark, tmp_path):
    """Seeded generative hammer for similarity_bq_hamming_topk (the
    r16 pre-freeze rigging requirement): md5-driven corpora on the
    1/64 float32 grid (plenty of genuine sign collisions and Hamming
    ties) against the independent pack/popcount/re-rank model and the
    DuckDB oracle. Invariants: Hamming values returned lie in [0, 64],
    rows order by (cos_sim desc, vec_id), and every returned id is in
    the model's shortlist."""
    import duckdb
    import hashlib

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.similarity import BQ_R, DIM
    from tests.conftest import assert_matches_oracle

    def h(*parts) -> int:
        return hashlib.md5(":".join(map(str, parts)).encode()).digest()[0]

    spec = QUERIES["similarity_bq_hamming_topk"]
    for seed in ("bq1", "bq2", "bq3"):
        n = 44 + h(seed, "n") % 20
        vecs = {}
        for i in range(n):
            v = [(h(seed, i, d) - 128) / 64.0 for d in range(DIM)]
            if all(x == 0.0 for x in v):
                v[0] = 1.0 / 64.0
            vecs[i] = v
        d = str(tmp_path / f"bqg_{seed}")
        spark.createDataFrame(
            [(i, v, i % 2) for i, v in vecs.items()],
            "vec_id long, embedding array<float>, label int",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{d}/embeddings.parquet"
        )
        model, ham = _bq_model(vecs, r=BQ_R)
        got = [tuple(r) for r in spec.builder(spark, d).collect()]
        assert got == model, (seed, got[:3], model[:3])
        assert all(0 <= g[1] <= 64 for g in got), seed
        assert all(
            (a[2], -a[0]) >= (b[2], -b[0]) for a, b in zip(got, got[1:])
        ), seed
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{d}/embeddings.parquet/*.parquet')"
        )
        assert_matches_oracle(
            spec.builder(spark, d), con, spec.oracle, f"bq_gen_{seed}"
        )


def _heldout_model(toks, mod=5, alpha=0.4, scale=1_000_000):
    """Independent stupid-backoff model: Counter tables, decimal HALF_UP
    micro quantization, exact integer per-doc sums."""
    import math
    from collections import Counter

    tr = {i: w for i, w in toks.items() if i % mod != 0}
    he = {i: w for i, w in toks.items() if i % mod == 0}
    bg, uni = Counter(), Counter()
    for w in tr.values():
        bg.update(zip(w, w[1:]))
        uni.update(w)
    ctx = Counter()
    for (w1, _), c in bg.items():
        ctx[w1] += c
    t, v = sum(uni.values()), len(uni)
    qs = {p: _r16_micro(math.log(c / ctx[p[0]]) * scale) for p, c in bg.items()}
    qu = (
        {w: _r16_micro(math.log(alpha * (u + 1.0) / (t + v)) * scale)
         for w, u in uni.items()}
        if t + v
        else {}
    )
    qoov = _r16_micro(math.log(alpha * 1.0 / (t + v)) * scale) if t + v else None
    out = {}
    for i, w in he.items():
        pairs = list(zip(w, w[1:]))
        if not pairs:
            continue
        qm = [qs.get(p, qu.get(p[1], qoov)) for p in pairs]
        nb = len(pairs)
        backoff = sum(1 for p in pairs if p not in qs)
        s = None if any(x is None for x in qm) else sum(qm)
        out[i] = (
            nb,
            s,
            None if s is None else s / (scale * nb),
            backoff / nb,
        )
    return out


def test_heldout_perplexity_claims(spark, tmp_path):
    """text_heldout_perplexity's distinguishing claims on a crafted
    corpus whose train split (doc_ids 1,2,3) is 'a b a b a c' + 'a b'
    + 'c a' and heldout split (doc_ids 0,5,10,15) exercises every
    scoring path: (1) a seen bigram scores the RAW ratio ln(C(ab)/C(a·))
    — stupid backoff does not discount the seen path; (2) an unseen
    pair of seen words (b,c) backs off to ln(0.4 * (C(c)+1)/(T+V)) —
    and the score is INDEPENDENT of w1 (same value under a different
    left context, pinned); (3) an OOV w2 ('zzz') takes the add-one
    floor ln(0.4 * 1/(T+V)); (4) backoff_ratio counts backed-off
    OCCURRENCES over bigram occurrences; (5) word ORDER distinguishes:
    'b a' scores differently from 'a b' (same multiset); (6) heldout
    docs with < 2 tokens are absent; (7) an EMPTY train split (every
    doc_id % 5 == 0) yields NULL scores on both engines, not
    Spark-NULL vs DuckDB-inf. Oracle-checked on both fixtures, parity
    with the independent model on the main one."""
    import math

    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import assert_matches_oracle

    spec = QUERIES["text_heldout_perplexity"]
    toks = {
        1: ["a", "b", "a", "b", "a", "c"],
        2: ["a", "b"],
        3: ["c", "a"],
        0: ["a", "b", "c"],        # seen pair (a,b) + unseen pair (b,c)
        5: ["c", "b", "zzz"],      # unseen (c,b): w1-independence; OOV zzz
        10: ["b", "a"],            # order flip of the seen (a,b)
        15: ["solo"],              # < 2 tokens: absent
    }
    rows = [
        (i, " ".join(w), "en", "s", len(" ".join(w)))
        for i, w in toks.items()
    ]
    d = str(tmp_path / "heldout")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    model = _heldout_model(toks)
    got = {
        r["doc_id"]: (
            r["n_bigrams"],
            r["sum_logscore_micro"],
            r["avg_bigram_logscore"],
            r["backoff_ratio"],
        )
        for r in spec.builder(spark, d).collect()
    }
    assert set(got) == {0, 5, 10} == set(model)  # (6)
    for i in model:
        assert got[i] == model[i], i

    # hand-derived checks: train model is C(a,b)=3, C(b,a)=2, C(a,c)=1,
    # C(c,a)=1; C(a·)=4, C(b·)=2, C(c·)=1; uni a=4,b=3,c=2; T=10, V=3
    q_ab = _r16_micro(math.log(3 / 4) * 1_000_000)
    q_bc = _r16_micro(math.log(0.4 * (2 + 1) / 13) * 1_000_000)
    q_ba = _r16_micro(math.log(2 / 2) * 1_000_000)
    q_cb = _r16_micro(math.log(0.4 * (3 + 1) / 13) * 1_000_000)
    q_oov = _r16_micro(math.log(0.4 * 1 / 13) * 1_000_000)
    assert got[0] == (2, q_ab + q_bc, (q_ab + q_bc) / 2e6, 0.5)  # (1)(2)(4)
    assert got[5] == (2, q_cb + q_oov, (q_cb + q_oov) / 2e6, 1.0)  # (2)(3)
    assert got[10] == (1, q_ba, q_ba / 1e6, 0.0)
    assert got[10][1] != got[0][1] and q_ba == 0  # (5): ln(2/2) == 0

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle, "heldout_crafted"
    )

    # (7) empty train: every doc_id is a multiple of 5
    d0 = str(tmp_path / "heldout_empty_train")
    spark.createDataFrame(
        [(0, "a b c", "en", "s", 5), (5, "b a", "en", "s", 3)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d0}/documents.parquet")
    got0 = {
        r["doc_id"]: tuple(r)[1:] for r in spec.builder(spark, d0).collect()
    }
    assert set(got0) == {0, 5}
    for i, (nb, s, avg, ratio) in got0.items():
        assert s is None and avg is None, i
        assert ratio == 1.0 and nb >= 1, i
    con0 = duckdb.connect()
    con0.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d0}/documents.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d0), con0, spec.oracle, "heldout_empty_train"
    )


def test_heldout_perplexity_generative_parity(spark, tmp_path):
    """Seeded generative hammer for text_heldout_perplexity (r16
    pre-freeze rigging): md5-driven corpora with a deliberately THIN
    train split (only doc_ids 1 and 2 train) and a heldout vocabulary
    that half-overlaps the train one — so seen, backed-off and OOV
    paths all carry real mass — against the independent counter model
    and the DuckDB oracle. Invariants: n_bigrams == tokens - 1,
    backoff_ratio in [0, 1], and every score is <= 0 (probabilities
    and 0.4-discounted probabilities never exceed 1)."""
    import duckdb
    import hashlib

    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import assert_matches_oracle

    def h(*parts) -> int:
        return hashlib.md5(":".join(map(str, parts)).encode()).digest()[0]

    train_vocab = [f"t{k}" for k in range(6)]
    held_vocab = train_vocab[:3] + ["x0", "x1", "x2"]  # half OOV
    spec = QUERIES["text_heldout_perplexity"]
    for seed in ("hp1", "hp2", "hp3"):
        toks = {}
        for i in (1, 2):  # the thin train split
            toks[i] = [
                train_vocab[h(seed, i, j) % len(train_vocab)]
                for j in range(12 + h(seed, i, "n") % 8)
            ]
        for i in (0, 5, 10, 15):  # heldout, incl. possible tiny docs
            ln = h(seed, i, "len") % 12
            toks[i] = [
                held_vocab[h(seed, i, j, "w") % len(held_vocab)]
                for j in range(ln)
            ]
        rows = [
            (i, " ".join(w), "en", "g", len(" ".join(w)))
            for i, w in toks.items()
        ]
        d = str(tmp_path / f"hpg_{seed}")
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{d}/documents.parquet"
        )
        model = _heldout_model(toks)
        got = {
            r["doc_id"]: (
                r["n_bigrams"],
                r["sum_logscore_micro"],
                r["avg_bigram_logscore"],
                r["backoff_ratio"],
            )
            for r in spec.builder(spark, d).collect()
        }
        assert set(got) == set(model), seed
        for i in model:
            assert got[i] == model[i], (seed, i)
            assert got[i][0] == len(toks[i]) - 1, (seed, i)
            assert 0.0 <= got[i][3] <= 1.0, (seed, i)
            assert got[i][1] <= 0, (seed, i)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{d}/documents.parquet/*.parquet')"
        )
        assert_matches_oracle(
            spec.builder(spark, d), con, spec.oracle, f"hp_gen_{seed}"
        )


def _watermark_model(events):
    """Independent lateness model: per event_type, running max of event
    time over strictly earlier event_id arrivals; report tuple per type.
    ``events``: list of (event_id, ts_us, event_type)."""
    out = {}
    for et in {e[2] for e in events}:
        stream = sorted((e for e in events if e[2] == et), key=lambda e: e[0])
        hw, lates = None, []
        for _eid, ts_us, _et in stream:
            lates.append(0 if hw is None else max(hw - ts_us, 0))
            hw = ts_us if hw is None else max(hw, ts_us)
        n = len(lates)
        out[et] = (
            n,
            sum(1 for x in lates if x > 0),
            max(lates),
            sum(lates) / (1_000_000.0 * n),
            sum(1 for x in lates if x > 60_000_000),
            sum(1 for x in lates if x > 3_600_000_000),
        )
    return out


def _watermark_lateness_per_event(events, global_wm):
    """Per-EVENT lateness map {event_id: late_us} under either scope:
    ``global_wm=False`` tracks one running max per event_type (the
    audit's per-stream scope); ``global_wm=True`` tracks Spark's ONE
    query-wide watermark — the running max over ALL strictly earlier
    arrivals regardless of type."""
    lates, hw = {}, {}
    for eid, ts_us, et in sorted(events):
        key = None if global_wm else et
        prev = hw.get(key)
        lates[eid] = 0 if prev is None else max(prev - ts_us, 0)
        hw[key] = ts_us if prev is None else max(prev, ts_us)
    return lates


def _global_watermark_audit(spark, sf_dir):
    """The audit with the partition key REMOVED — the mixed-query form
    the operator's doc describes: lateness vs Spark's one GLOBAL
    watermark (running max over ALL earlier arrivals), still reported
    per type. Test-only: the unpartitioned Window is a deliberate
    single-partition plan, fine on crafted/generative logs."""
    from pyspark.sql import Window as W

    from iceberg_explorer_spark.operators.events import WM_1H_US, WM_1M_US
    from iceberg_explorer_spark.sources.registry import load_table

    ev = load_table(spark, sf_dir, "events")
    w = W.orderBy("event_id").rowsBetween(W.unboundedPreceding, -1)
    prev_max = F.max(F.unix_micros("ts")).over(w)
    late = F.when(prev_max.isNull(), F.lit(0)).otherwise(
        F.greatest(prev_max - F.unix_micros("ts"), F.lit(0))
    )
    return (
        ev.select("event_type", late.alias("late_us"))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("late_us") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_out_of_order"),
            F.sum(F.when(F.col("late_us") > WM_1M_US, 1).otherwise(0))
            .cast("bigint")
            .alias("dropped_wm_1m"),
            F.sum(F.when(F.col("late_us") > WM_1H_US, 1).otherwise(0))
            .cast("bigint")
            .alias("dropped_wm_1h"),
        )
    )


def test_watermark_lateness_audit_claims(spark, tmp_path):
    """events_watermark_lateness_audit's distinguishing claims on a
    crafted arrival log: (1) lateness is measured against the
    high-watermark of STRICTLY EARLIER arrivals — the first arrival
    per type is 0, an arrival equal to the current watermark is 0
    (clamped, not negative), and the watermark never retreats (after a
    late event, lateness is still measured against the old max); (2)
    the drop thresholds are STRICT (>): an event late by exactly 60 s
    survives the 1-minute watermark, 61 s does not, 3601 s crosses
    both; (3) a NULL event_type is its own stream; (4) an in-order
    type reports all zeros. Hand-derived expectations + the
    independent model + the DuckDB oracle."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import assert_matches_oracle

    spec = QUERIES["events_watermark_lateness_audit"]
    base = 1_700_000_000  # seconds
    # (event_id, ts_sec_offset, event_type)
    raw = [
        (1, 100, "A"),    # first: 0
        (2, 50, "A"),     # 50 s late
        (3, 200, "A"),    # in order: 0
        (4, 200, "A"),    # equals watermark: clamped 0
        (5, 140, "A"),    # 60 s late EXACTLY: survives wm_1m
        (6, 139, "A"),    # 61 s late: dropped at 1m, kept at 1h
        (7, 300, "A"),    # advances
        (8, -3301, "A"),  # 3601 s late vs 300: dropped at both
        (10, 10, "B"),    # in-order stream: all zeros
        (11, 20, "B"),
        (12, 30, "B"),
        (20, 500, None),  # NULL type is its own stream
        (21, 400, None),  # 100 s late
    ]
    rows = [
        (eid, base + off, i % 3, et, 1.0, "{}")
        for i, (eid, off, et) in enumerate(raw)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts_s long, user_id long, event_type string,"
        " value double, props string",
    ).select(
        "event_id",
        F.timestamp_seconds(F.col("ts_s")).alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    d = str(tmp_path / "wm_crafted")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")

    model = _watermark_model(
        [(eid, (base + off) * 1_000_000, et) for eid, off, et in raw]
    )
    got = {
        r["event_type"]: (
            r["n_events"], r["n_out_of_order"], r["max_lateness_us"],
            r["avg_lateness_sec"], r["dropped_wm_1m"], r["dropped_wm_1h"],
        )
        for r in spec.builder(spark, d).collect()
    }
    assert got == model
    # hand-derived: type A lates are 0,50,0,0,60,61,0,3601 (seconds)
    lates_a = [0, 50, 0, 0, 60, 61, 0, 3601]
    assert got["A"] == (
        8, 4, 3_601_000_000,
        sum(lates_a) / 8.0, 2, 1,
    )
    assert got["B"] == (3, 0, 0, 0.0, 0, 0)
    assert got[None] == (2, 1, 100_000_000, 50.0, 1, 0)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{d}/events.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle, "wm_crafted"
    )

    # (5) the doc's LOWER-BOUND claim, EXECUTED (VERDICT r16 #5): under
    # Spark's one GLOBAL watermark (partition key removed) another
    # type's arrivals can only advance the watermark, so per-event
    # global lateness dominates per-stream lateness and every per-type
    # drop count is >= the per-stream audit's.
    events_us = [(eid, (base + off) * 1_000_000, et) for eid, off, et in raw]
    per_stream = _watermark_lateness_per_event(events_us, global_wm=False)
    per_global = _watermark_lateness_per_event(events_us, global_wm=True)
    for eid in per_stream:  # per-EVENT domination
        assert per_stream[eid] <= per_global[eid], eid
    glob = {
        r["event_type"]: (
            r["n_out_of_order"], r["dropped_wm_1m"], r["dropped_wm_1h"]
        )
        for r in _global_watermark_audit(spark, d).collect()
    }
    for et, (ne, ooo, _mx, _avg, d1m, d1h) in got.items():
        assert ooo <= glob[et][0], et
        assert d1m <= glob[et][1], et
        assert d1h <= glob[et][2], et
    # the crafted arrivals where the bound is STRICT: type B's in-order
    # stream (per-stream all zeros) arrives AFTER type A advanced the
    # global watermark to +300 s, so globally all three B events are
    # 270-290 s late — the global watermark drops at 1m what B's own
    # stream would keep (the per-source-job layout's whole argument)
    assert got["B"][4] == 0 and glob["B"][1] == 3
    assert glob["B"] == (3, 3, 0)
    # spark global audit == the independent global model, per type
    for et in got:
        ids = [e[0] for e in events_us if e[2] == et]
        assert glob[et] == (
            sum(1 for i in ids if per_global[i] > 0),
            sum(1 for i in ids if per_global[i] > 60_000_000),
            sum(1 for i in ids if per_global[i] > 3_600_000_000),
        ), et


def test_watermark_lateness_generative_parity(spark, tmp_path):
    """Seeded generative hammer for events_watermark_lateness_audit
    (r16 pre-freeze rigging): md5-driven event logs whose ARRIVAL
    order (event_id) is decoupled from event time — random timestamps
    with second-level ties, several types including NULL, skewed
    stream sizes — against the independent running-max model and the
    DuckDB oracle. Invariants: dropped_wm_1h <= dropped_wm_1m <=
    n_out_of_order <= n_events, and max_lateness_us == 0 iff
    n_out_of_order == 0."""
    import duckdb
    import hashlib

    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import assert_matches_oracle

    def h(*parts) -> int:
        return hashlib.md5(":".join(map(str, parts)).encode()).digest()[0]

    types = ["A", "B", "C", None]
    spec = QUERIES["events_watermark_lateness_audit"]
    base = 1_700_000_000
    for seed in ("wm1", "wm2", "wm3"):
        n = 90 + h(seed, "n") % 40
        raw = []
        for i in range(n):
            et = types[h(seed, i, "t") % len(types)]
            # event time jumps around arrival order: mix small steps,
            # big forward leaps and deep backward drops (hour+ scale)
            off = (
                h(seed, i, "a") * 97
                + h(seed, i, "b") * 31
                - h(seed, i, "c") * 64
            )
            raw.append((i, base + off, et))
        rows = [
            (eid, ts_s, eid % 7, et, 1.0, "{}")
            for eid, ts_s, et in raw
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, ts_s long, user_id long, event_type string,"
            " value double, props string",
        ).select(
            "event_id",
            F.timestamp_seconds(F.col("ts_s")).alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        d = str(tmp_path / f"wmg_{seed}")
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")

        model = _watermark_model(
            [(eid, ts_s * 1_000_000, et) for eid, ts_s, et in raw]
        )
        got = {
            r["event_type"]: (
                r["n_events"], r["n_out_of_order"], r["max_lateness_us"],
                r["avg_lateness_sec"], r["dropped_wm_1m"],
                r["dropped_wm_1h"],
            )
            for r in spec.builder(spark, d).collect()
        }
        assert got == model, seed
        for et, (ne, ooo, mx, _avg, d1m, d1h) in got.items():
            assert d1h <= d1m <= ooo <= ne, (seed, et)
            assert (mx == 0) == (ooo == 0), (seed, et)
        # the generator really produced out-of-order mass
        assert any(v[1] > 0 for v in got.values()), seed
        # the lower-bound claim holds on every seed (VERDICT r16 #5):
        # per-stream drop counts never exceed the global-watermark
        # audit's, per type and threshold
        events_us = [(eid, ts_s * 1_000_000, et) for eid, ts_s, et in raw]
        per_stream = _watermark_lateness_per_event(events_us, global_wm=False)
        per_global = _watermark_lateness_per_event(events_us, global_wm=True)
        assert all(
            per_stream[eid] <= per_global[eid] for eid in per_stream
        ), seed
        glob = {
            r["event_type"]: (
                r["n_out_of_order"], r["dropped_wm_1m"], r["dropped_wm_1h"]
            )
            for r in _global_watermark_audit(spark, d).collect()
        }
        for et, (_ne, ooo, _mx, _avg, d1m, d1h) in got.items():
            assert ooo <= glob[et][0], (seed, et)
            assert d1m <= glob[et][1], (seed, et)
            assert d1h <= glob[et][2], (seed, et)

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{d}/events.parquet/*.parquet')"
        )
        assert_matches_oracle(
            spec.builder(spark, d), con, spec.oracle, f"wm_gen_{seed}"
        )


def _wm_delay_sweep_model(events, delays=(0, 10, 60, 600, 3600)):
    """Independent model for events_watermark_delay_sweep: per-stream
    lateness (the audit's rule), then per-delay counters."""
    lates = list(
        _watermark_lateness_per_event(events, global_wm=False).values()
    )
    n = len(lates)
    out = []
    for d in delays:
        us = d * 1_000_000
        dropped = sum(1 for x in lates if x > us)
        kept = sum(1 for x in lates if 0 < x <= us)
        out.append((d, dropped, kept, dropped / n))
    return sorted(out)


def test_watermark_delay_sweep_claims(spark, tmp_path):
    """events_watermark_delay_sweep's distinguishing claims on the
    audit claims test's crafted arrival log: (1) row parity with the
    independent model; (2) the CROSS-OPERATOR identities are executed
    — rung 0 equals the audit's summed n_out_of_order (the structural
    anchor: a zero watermark drops exactly the out-of-order events)
    and rungs 60/3600 equal the audit's summed dropped_wm_1m /
    dropped_wm_1h; (3) conservation — every out-of-order event sits in
    exactly one counter per rung (n_dropped + n_late_kept == rung 0's
    n_dropped at every delay), n_dropped monotone non-increasing and
    n_late_kept monotone non-decreasing in the delay; (4) the strict
    (>) threshold carries over — the crafted 60-s-late arrival is KEPT
    at the 60 s rung; (5) oracle-checked."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import assert_matches_oracle

    spec = QUERIES["events_watermark_delay_sweep"]
    base = 1_700_000_000
    raw = [
        (1, 100, "A"), (2, 50, "A"), (3, 200, "A"), (4, 200, "A"),
        (5, 140, "A"), (6, 139, "A"), (7, 300, "A"), (8, -3301, "A"),
        (10, 10, "B"), (11, 20, "B"), (12, 30, "B"),
        (20, 500, None), (21, 400, None),
    ]
    rows = [
        (eid, base + off, i % 3, et, 1.0, "{}")
        for i, (eid, off, et) in enumerate(raw)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts_s long, user_id long, event_type string,"
        " value double, props string",
    ).select(
        "event_id",
        F.timestamp_seconds(F.col("ts_s")).alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    d = str(tmp_path / "wds_crafted")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")

    events_us = [(eid, (base + off) * 1_000_000, et) for eid, off, et in raw]
    model = _wm_delay_sweep_model(events_us)
    got = sorted(tuple(r) for r in spec.builder(spark, d).collect())
    assert got == model  # (1)
    by_d = {g[0]: g for g in got}
    # (2) cross-operator identities vs the registered audit
    audit = QUERIES["events_watermark_lateness_audit"].builder(
        spark, d
    ).collect()
    assert by_d[0][1] == sum(r["n_out_of_order"] for r in audit)
    assert by_d[60][1] == sum(r["dropped_wm_1m"] for r in audit)
    assert by_d[3600][1] == sum(r["dropped_wm_1h"] for r in audit)
    # (3) conservation + monotonicity
    for d_ in (0, 10, 60, 600, 3600):
        assert by_d[d_][1] + by_d[d_][2] == by_d[0][1]
    ds = sorted(by_d)
    for a, b in zip(ds, ds[1:]):
        assert by_d[a][1] >= by_d[b][1]
        assert by_d[a][2] <= by_d[b][2]
    # (4) strict threshold: lates are 0,50,0,0,60,61,0,3601,0,0,0,0,100
    # — at 60 s exactly two drop (61 and 3601; the 60-s-late one KEPT)
    assert by_d[60][1] == 3  # 61, 3601, 100
    assert by_d[60][2] == 2  # 50 and 60 are late but kept
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{d}/events.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle, "wds_crafted"
    )


def test_watermark_delay_sweep_generative_parity(spark, tmp_path):
    """Seeded generative hammer for events_watermark_delay_sweep: the
    audit generative test's arrival-log generator vs the independent
    model and the oracle, plus per-seed invariants — conservation
    (n_dropped + n_late_kept == the out-of-order total at every rung),
    monotone counters, drop_rate in [0, 1], and the rung-0/60/3600
    cross-operator identities vs the registered audit."""
    import duckdb
    import hashlib

    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import assert_matches_oracle

    def h(*parts) -> int:
        return hashlib.md5(":".join(map(str, parts)).encode()).digest()[0]

    types = ["A", "B", "C", None]
    spec = QUERIES["events_watermark_delay_sweep"]
    base = 1_700_000_000
    for seed in ("wd1", "wd2", "wd3"):
        n = 90 + h(seed, "n") % 40
        raw = []
        for i in range(n):
            et = types[h(seed, i, "t") % len(types)]
            off = (
                h(seed, i, "a") * 97
                + h(seed, i, "b") * 31
                - h(seed, i, "c") * 64
            )
            raw.append((i, base + off, et))
        rows = [
            (eid, ts_s, eid % 7, et, 1.0, "{}") for eid, ts_s, et in raw
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, ts_s long, user_id long, event_type string,"
            " value double, props string",
        ).select(
            "event_id",
            F.timestamp_seconds(F.col("ts_s")).alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        d = str(tmp_path / f"wdsg_{seed}")
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")

        events_us = [(eid, ts_s * 1_000_000, et) for eid, ts_s, et in raw]
        model = _wm_delay_sweep_model(events_us)
        got = sorted(tuple(r) for r in spec.builder(spark, d).collect())
        assert got == model, seed
        by_d = {g[0]: g for g in got}
        for d_, dropped, kept, rate in got:
            assert dropped + kept == by_d[0][1], (seed, d_)
            assert 0.0 <= rate <= 1.0, (seed, d_)
        ds = sorted(by_d)
        for a, b in zip(ds, ds[1:]):
            assert by_d[a][1] >= by_d[b][1], seed
            assert by_d[a][2] <= by_d[b][2], seed
        audit = QUERIES["events_watermark_lateness_audit"].builder(
            spark, d
        ).collect()
        assert by_d[0][1] == sum(r["n_out_of_order"] for r in audit), seed
        assert by_d[60][1] == sum(r["dropped_wm_1m"] for r in audit), seed
        assert by_d[3600][1] == sum(r["dropped_wm_1h"] for r in audit), seed
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{d}/events.parquet/*.parquet')"
        )
        assert_matches_oracle(
            spec.builder(spark, d), con, spec.oracle, f"wds_gen_{seed}"
        )


def _session_gap_sweep_model(events, gaps=(60, 600, 1800, 3600, 86400)):
    """Independent model for events_session_gap_sweep: per-user sorted
    inter-event deltas, per-gap session counts via the
    n_users + |deltas > G| identity. ``events``: list of (event_id,
    ts_us, user_id)."""
    by_user = {}
    for eid, ts_us, uid in events:
        by_user.setdefault(uid, []).append((ts_us, eid))
    deltas = []
    for uid, evs in by_user.items():
        evs.sort()
        for (a, _), (b, _) in zip(evs, evs[1:]):
            deltas.append(b - a)
    n_users, n_events = len(by_user), len(events)
    out = []
    for g in gaps:
        us = g * 1_000_000
        b = sum(1 for d in deltas if d > us)
        out.append((g, n_users + b, b, n_events / (n_users + b)))
    return sorted(out)


def test_session_gap_sweep_claims(spark, tmp_path):
    """events_session_gap_sweep's distinguishing claims on a crafted
    log: (1) row parity with the independent model; (2) the
    CROSS-OPERATOR identity is executed — the 600 s rung's n_sessions
    equals events_session_window's row count exactly (same strict
    boundary rule, same per-user total order); (3) the boundary is
    STRICT — a crafted delta of exactly 60 s does NOT split at the
    60 s rung (the sessionizer's own `>` comparison); (4)
    n_boundaries == n_sessions - n_users at every rung, n_sessions
    monotone non-increasing and avg_session_events monotone
    non-decreasing in the gap; (5) the widest rung saturates on this
    crafted log (every delta <= 1 day -> n_sessions == n_users);
    (6) oracle-checked."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import assert_matches_oracle

    spec = QUERIES["events_session_gap_sweep"]
    base = 1_700_000_000
    # (event_id, ts_off_sec, user_id): user 1 has deltas of exactly
    # 60 s (strict edge: no split at the 60 rung), 61 s (splits at 60,
    # not at 600), and 1801 s (splits at 60/600/1800); user 2 is a
    # single event; user 3 has two simultaneous events (delta 0:
    # never split).
    raw = [
        (1, 0, 1), (2, 60, 1), (3, 121, 1), (4, 1922, 1),
        (10, 50, 2),
        (20, 100, 3), (21, 100, 3),
    ]
    rows = [
        (eid, base + off, uid, "click", 1.0, "{}")
        for eid, off, uid in raw
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts_s long, user_id long, event_type string,"
        " value double, props string",
    ).select(
        "event_id",
        F.timestamp_seconds(F.col("ts_s")).alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    d = str(tmp_path / "sgs_crafted")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")

    events_us = [
        (eid, (base + off) * 1_000_000, uid) for eid, off, uid in raw
    ]
    model = _session_gap_sweep_model(events_us)
    got = sorted(tuple(r) for r in spec.builder(spark, d).collect())
    assert got == model  # (1)
    by_g = {g[0]: g for g in got}
    # (2) the registered sessionizer agrees at its own knob
    n_sessions_600 = QUERIES["events_session_window"].builder(
        spark, d
    ).count()
    assert by_g[600][1] == n_sessions_600
    # (3) strict boundary: deltas are 60/61/1801 (u1), none (u2), 0
    # (u3) -> at 60 s only 61 and 1801 split: 3 users + 2 = 5 sessions
    assert by_g[60][1] == 5 and by_g[60][2] == 2
    # at 600: only 1801 splits
    assert by_g[600][1] == 4 and by_g[600][2] == 1
    # at 1800: 1801 still splits; at 3600 nothing does
    assert by_g[1800][1] == 4 and by_g[3600][1] == 3
    # (4) invariants
    n_users = 3
    for g, ns, nb, avg in got:
        assert nb == ns - n_users, g
    gs = sorted(by_g)
    for a, b in zip(gs, gs[1:]):
        assert by_g[a][1] >= by_g[b][1]
        assert by_g[a][3] <= by_g[b][3]
    # (5) saturation: every delta <= 1 day
    assert by_g[86400][1] == n_users and by_g[86400][2] == 0
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{d}/events.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d), con, spec.oracle, "sgs_crafted"
    )


def test_session_gap_sweep_generative_parity(spark, tmp_path):
    """Seeded generative hammer for events_session_gap_sweep: md5
    arrival logs with second-level ties, bursty and sparse users vs
    the independent model and the oracle; per-seed invariants —
    n_boundaries == n_sessions - n_users at every rung, monotone
    counters, and the 600 s cross-operator identity vs the registered
    sessionizer."""
    import duckdb
    import hashlib

    from iceberg_explorer_spark.operators import QUERIES
    from tests.conftest import assert_matches_oracle

    def h(*parts) -> int:
        return hashlib.md5(":".join(map(str, parts)).encode()).digest()[0]

    spec = QUERIES["events_session_gap_sweep"]
    base = 1_700_000_000
    for seed in ("sg1", "sg2", "sg3"):
        n = 90 + h(seed, "n") % 40
        raw = []
        t = base
        for i in range(n):
            uid = h(seed, i, "u") % 7
            # mixed inter-arrival scales: seconds, minutes, hours
            t += (h(seed, i, "d") % 5) * (10 ** (h(seed, i, "m") % 4))
            raw.append((i, t, uid))
        rows = [
            (eid, ts_s, uid, "click", 1.0, "{}") for eid, ts_s, uid in raw
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, ts_s long, user_id long, event_type string,"
            " value double, props string",
        ).select(
            "event_id",
            F.timestamp_seconds(F.col("ts_s")).alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        d = str(tmp_path / f"sgsg_{seed}")
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")

        events_us = [(eid, ts_s * 1_000_000, uid) for eid, ts_s, uid in raw]
        model = _session_gap_sweep_model(events_us)
        got = sorted(tuple(r) for r in spec.builder(spark, d).collect())
        assert got == model, seed
        by_g = {g[0]: g for g in got}
        n_users = len({uid for _, _, uid in raw})
        for g, ns, nb, avg in got:
            assert nb == ns - n_users, (seed, g)
            assert avg > 0, (seed, g)
        gs = sorted(by_g)
        for a, b in zip(gs, gs[1:]):
            assert by_g[a][1] >= by_g[b][1], seed
            assert by_g[a][3] <= by_g[b][3], seed
        assert by_g[600][1] == QUERIES["events_session_window"].builder(
            spark, d
        ).count(), seed
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{d}/events.parquet/*.parquet')"
        )
        assert_matches_oracle(
            spec.builder(spark, d), con, spec.oracle, f"sgs_gen_{seed}"
        )


def test_bq_store_round_trip(spark):
    """The BQ cascade's serving story (r16 — pairing
    similarity_bq_hamming_topk with its persisted index, the same
    discipline as the IVF/PQ/refine serves): (1) serve parity —
    bq_topk_from_store returns ROW-IDENTICAL results to the registered
    query; (2) the
    returned frame is the cascade's production plan — ONE scan of the
    single artifact, bucket-PRUNED to the shortlist ids' buckets
    (SelectedBucketsCount < total at a small r), Hamming distances as
    literal maps, the exact cosine inlined: zero joins, zero shuffles,
    zero Window nodes, zero broadcasts; (3) stage 1's Hamming frame is
    COLUMN-PRUNED to (vec_id, lo, hi) — the 16-byte read that is BQ's
    whole point, never the vectors; (4) a nightly append surfaces in
    the serve (an exact duplicate of the query takes rank 1 at Hamming
    0 / cosine 1.0), a replayed append is dropped, and compaction
    leaves the served rows identical; (5) a malformed or unnormalized
    query vector is refused loudly."""
    import re

    import pytest

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.similarity import (
        _bq_hamming_frame,
        _bq_pack_py,
        _load_emb,
        _with_normalized,
        bq_append,
        bq_backfill,
        BQ_STORE_ARTIFACTS,
        bq_topk_from_store,
    )
    from iceberg_explorer_spark.plans import inspect as pi

    d = "/root/testdata/sf0.01"
    n_buckets = 4
    st = BucketedArtifactStore(
        spark, "t_bq_rt", n_buckets=n_buckets,
        artifacts=BQ_STORE_ARTIFACTS,
    )
    try:
        # backfill-first gate at the store layer: an idempotent append
        # before the backfill must refuse
        inc0 = spark.range(0).selectExpr(
            "id AS vec_id",
            "CAST(array() AS array<float>) AS embedding",
            "CAST(0 AS int) AS label",
        )
        with pytest.raises(FileNotFoundError, match="t_bq_rt_bq_index"):
            bq_append(st, inc0, batch_id="too-early")

        bq_backfill(spark, d, st)
        emb = _with_normalized(_load_emb(spark, d))
        qv = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 0).first()["ne"]
        ]
        served = bq_topk_from_store(st, qv, query_vec_id=0)
        got = [tuple(r) for r in served.collect()]
        want = [
            tuple(r)
            for r in QUERIES["similarity_bq_hamming_topk"]
            .builder(spark, d)
            .collect()
        ]
        assert got == want and got

        # (2) the production plan of the returned frame
        plan = pi.physical_plan(served)
        assert pi.shuffle_count(served) == 0
        assert "Join" not in plan
        assert "Window" not in plan
        assert "BroadcastExchange" not in plan
        assert plan.count("Scan parquet") == 1
        # bucket pruning bites at a small shortlist: 3 ids cover at
        # most 3 of the 4 buckets
        small = bq_topk_from_store(st, qv, query_vec_id=0, r=3, k=3)
        m = re.search(
            r"SelectedBucketsCount: (\d+) out of (\d+)",
            pi.physical_plan(small),
        )
        assert m, pi.physical_plan(small)
        assert int(m.group(1)) <= 3 < int(m.group(2)) == n_buckets

        # (3) stage 1 reads sketches only
        (art,) = st.serve_tables("bq_index")
        qlo, qhi = _bq_pack_py(qv)
        h_plan = pi.physical_plan(_bq_hamming_frame(art, qlo, qhi, 0))
        mm = h_plan[h_plan.index("ReadSchema"):].splitlines()[0]
        assert set(
            c.split(":")[0]
            for c in mm.split("struct<")[1].split(">")[0].split(",")
        ) == {"vec_id", "lo", "hi"}

        # (4) nightly append, replay, compaction
        new_id = 14_000_000
        inc = (
            spark.read.parquet(f"{d}/embeddings.parquet")
            .filter(F.col("vec_id") == 0)
            .withColumn("vec_id", F.lit(new_id).cast("long"))
        )
        assert bq_append(st, inc, batch_id="night-1") is True
        served2 = [
            tuple(r)
            for r in bq_topk_from_store(st, qv, query_vec_id=0).collect()
        ]
        assert served2[0] == (new_id, 0, 1.0)
        assert bq_append(st, inc, batch_id="night-1") is False
        st.compact()
        assert [
            tuple(r)
            for r in bq_topk_from_store(st, qv, query_vec_id=0).collect()
        ] == served2

        # (5) loud input contract
        with pytest.raises(ValueError, match="normalized"):
            bq_topk_from_store(st, [2.0] * 64)
        with pytest.raises(ValueError, match="finite"):
            bq_topk_from_store(st, [float("nan")] * 64)
    finally:
        st.drop()


def _mrl_r_sweep_model(vecs, rs=(10, 30, 100), query_vec_id=0, d=16):
    """Independent model for similarity_mrl_r_sweep: renormalized
    d-prefix cosine ranking (zero prefixes excluded), per-R prefix
    shortlist membership vs the exact top-10."""
    ne = {}
    for i, v in vecs.items():
        nrm = _r16_sdot(v, v) ** 0.5
        ne[i] = [x / nrm for x in v]
    cand = [i for i in vecs if i != query_vec_id]
    qp = ne[query_vec_id][:d]
    nq = _r16_sdot(qp, qp) ** 0.5
    tcos = {}
    for i in cand:
        p = ne[i][:d]
        na = _r16_sdot(p, p) ** 0.5
        if na * nq > 0:
            tcos[i] = _r16_r6(_r16_sdot(p, qp) / (na * nq))
    cos = {i: _r16_r6(_r16_sdot(ne[i], ne[query_vec_id])) for i in cand}
    t10 = set(sorted(cand, key=lambda i: (-cos[i], i))[:10])
    by_t = sorted(tcos, key=lambda i: (-tcos[i], i))
    out = []
    for r in rs:
        prefix = by_t[:r]
        if not prefix:
            continue
        hits = sum(1 for i in prefix if i in t10)
        out.append(
            (r, len(prefix), min(tcos[i] for i in prefix), hits,
             hits / len(t10))
        )
    return sorted(out), tcos, cos, t10


def test_mrl_r_sweep_claims(spark, tmp_path):
    """similarity_mrl_r_sweep's distinguishing claims on the cascade
    claims test's crafted corpus (every stage decides something there
    too): (1) row parity with the independent model; (2) recall steps
    UP at the widest rung for a real reason — the orthogonal-prefix
    true neighbor (vec 21, prefix_cos 0.0) ranks below all 36
    positive-prefix candidates, is missed at R=10 and R=30, and is
    captured at R=100: the exact recall-vs-R trade the sweep prices;
    (3) the zero-prefix blind spot CAPS recall below 1.0 at EVERY rung
    — vec 22 is in the true top-10 but has no prefix score, so even
    the R that exhausts every scored candidate cannot reach it (the
    honest asymmetry vs the BQ sweep, where every vector has a
    sketch); (4) recall is monotone in R and n_candidates ==
    min(R, |non-null candidates|); (5) prefix_cos_cut is the MIN
    prefix cosine inside each shortlist, non-increasing in R.
    Oracle-checked."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.similarity import DIM
    from tests.conftest import assert_matches_oracle

    spec = QUERIES["similarity_mrl_r_sweep"]

    def vec(pairs):
        v = [0.0] * DIM
        for d_, a in pairs:
            v[d_] = a
        return v

    q = vec([(d, 1.0) for d in range(4)] + [(d, 1.0) for d in range(24, 32)])
    vecs = {0: q}
    vecs[20] = vec(
        [(d, 1.0) for d in range(4)] + [(d, -1.0) for d in range(24, 32)]
    )
    vecs[21] = vec(
        [(d, 0.25) for d in range(4, 8)] + [(d, 1.0) for d in range(24, 32)]
    )
    vecs[22] = vec([(d, 1.0) for d in range(24, 32)])
    for j, i in enumerate(range(30, 65)):
        vecs[i] = vec(
            [(0, 1.0), (1, 0.5), (2, 0.25 + 0.25 * (j % 3)), (3, 0.125)]
            + [(d, 1.0) for d in range(32 + (j % 4) * 8,
                                       32 + (j % 4) * 8 + 8)]
        )
    d1 = str(tmp_path / "mrlrs_crafted")
    spark.createDataFrame(
        [(i, v, 0) for i, v in vecs.items()],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d1}/embeddings.parquet")

    rows, tcos, cos, t10 = _mrl_r_sweep_model(vecs)
    got = sorted(tuple(r) for r in spec.builder(spark, d1).collect())
    assert got == rows  # (1)
    by_r = {g[0]: g for g in got}
    # (2) vec 21: true neighbor, prefix rank below every positive filler
    assert 21 in t10 and tcos[21] == 0.0
    rank21 = sorted(tcos, key=lambda i: (-tcos[i], i)).index(21) + 1
    assert 30 < rank21 <= 100
    assert by_r[100][3] > by_r[30][3]
    # (3) vec 22: in the true top-10, structurally unreachable
    assert 22 in t10 and 22 not in tcos
    n_scored = len(tcos)
    assert by_r[100][1] == min(100, n_scored)  # R=100 exhausts the scored
    assert by_r[100][4] < 1.0  # ...and still cannot reach 1.0
    # (4) monotone recall, candidate counts
    assert by_r[10][4] <= by_r[30][4] <= by_r[100][4]
    for r in (10, 30, 100):
        assert by_r[r][1] == min(r, n_scored)
    # (5) the cut is the shortlist's min prefix cosine, non-increasing
    assert by_r[10][2] >= by_r[30][2] >= by_r[100][2]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d1}/embeddings.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d1), con, spec.oracle, "mrlrs_crafted"
    )


def test_mrl_r_sweep_generative_parity(spark, tmp_path):
    """Seeded generative hammer for similarity_mrl_r_sweep: md5 grid
    corpora (1/64 grid — float32-exact) vs the independent model and
    the oracle. Invariants per seed: recall monotone non-decreasing in
    R, n_candidates == min(R, scored candidates), prefix_cos_cut
    non-increasing in R, recall values in [0, 1], and the membership
    identity against the registered CASCADE at its own R: the
    cascade's returned ids ∩ exact top-10 == n_hits at the cascade's
    shortlist size (the sweep never runs the cascade — this executes
    the identity it relies on)."""
    import duckdb
    import hashlib

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.similarity import DIM, MRL_R
    from tests.conftest import assert_matches_oracle

    def h(*parts) -> int:
        return hashlib.md5(":".join(map(str, parts)).encode()).digest()[0]

    spec = QUERIES["similarity_mrl_r_sweep"]
    for seed in ("mr_r1", "mr_r2", "mr_r3"):
        n = 40 + h(seed, "n") % 20
        vecs = {}
        for i in range(n):
            v = [(h(seed, i, d) - 128) / 64.0 for d in range(DIM)]
            if all(x == 0.0 for x in v):
                v[0] = 1.0 / 64.0
            vecs[i] = v
        d = str(tmp_path / f"mrlrsg_{seed}")
        spark.createDataFrame(
            [(i, v, i % 2) for i, v in vecs.items()],
            "vec_id long, embedding array<float>, label int",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{d}/embeddings.parquet"
        )
        rows, tcos, cos, t10 = _mrl_r_sweep_model(vecs)
        got = sorted(tuple(r) for r in spec.builder(spark, d).collect())
        assert got == rows, (seed, got, rows)
        by_r = {g[0]: g for g in got}
        rs = sorted(by_r)
        for a, b in zip(rs, rs[1:]):
            assert by_r[a][4] <= by_r[b][4], seed
            assert by_r[a][2] >= by_r[b][2], seed
        for r in rs:
            assert by_r[r][1] == min(r, len(tcos)), seed
            assert 0.0 <= by_r[r][4] <= 1.0, seed
        # the membership identity, EXECUTED vs the literal cascade
        cascade_ids = {
            r["vec_id"]
            for r in QUERIES["similarity_mrl_prefix_topk"]
            .builder(spark, d)
            .collect()
        }
        assert len(cascade_ids & t10) == by_r[MRL_R][3], seed
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{d}/embeddings.parquet/*.parquet')"
        )
        assert_matches_oracle(
            spec.builder(spark, d), con, spec.oracle, f"mrlrsg_{seed}"
        )


def test_bq_mrl_serve_empty_shortlist(spark):
    """An index whose only row is the excluded query_vec_id leaves
    stage 1 with nothing to shortlist: both store serves return an
    empty frame with the registered cascade's columns and types, and
    never reach the exact stage."""
    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.similarity import (
        _bq_sketched,
        _load_emb,
        _mrl_prefixed,
        _with_normalized,
        BQ_STORE_ARTIFACTS,
        bq_topk_from_store,
        MRL_STORE_ARTIFACTS,
        mrl_topk_from_store,
    )

    d = "/root/testdata/sf0.01"
    only = _with_normalized(_load_emb(spark, d)).filter(F.col("vec_id") == 0)
    qv = [float(x) for x in only.first()["ne"]]
    cases = (
        ("bq", BQ_STORE_ARTIFACTS, _bq_sketched, bq_topk_from_store,
         "similarity_bq_hamming_topk", ("hamming_dist", "bigint")),
        ("mrl", MRL_STORE_ARTIFACTS, _mrl_prefixed, mrl_topk_from_store,
         "similarity_mrl_prefix_topk", ("prefix_cos", "double")),
    )
    for kind, spec, rows, serve, registered, score in cases:
        st = BucketedArtifactStore(
            spark, f"t_{kind}_empty", n_buckets=2, artifacts=spec
        )
        try:
            (name,) = spec
            st.write(name, rows(only))
            served = serve(st, qv, query_vec_id=0)
            assert served.collect() == []
            assert served.dtypes == [
                ("vec_id", "bigint"), score, ("cos_sim", "double")
            ]
            want = QUERIES[registered].builder(spark, d).dtypes
            assert served.dtypes == want
        finally:
            st.drop()


def test_mrl_store_round_trip(spark):
    """The MRL cascade's serving story (r17 — VERDICT r16 #6: the one
    compression point without a persisted serving leg; pairing
    similarity_mrl_prefix_topk with its index, the BQ store's
    discipline): (1) serve parity — mrl_topk_from_store returns
    ROW-IDENTICAL results to the registered query; (2) the returned
    frame is the production plan — ONE scan of the single artifact, bucket-PRUNED
    to the shortlist ids' buckets, prefix scores as a literal map, the
    exact cosine inlined: zero joins, zero shuffles, zero Window
    nodes, zero broadcasts; (3) stage 1's prefix frame is
    COLUMN-PRUNED to (vec_id, pvec) — the 16-dims-per-row read that is
    the index's whole point (Parquet cannot prune an array prefix, so
    ONLY the store can serve this); (4) the d=16 RUNG ROUND-TRIP: with
    r=10 the serve's hit count against the exact top-10 equals the
    registered sweep's n_hits at trunc_dim=16 — the store serves
    exactly the rung the sweep priced; (5) a nightly append surfaces
    in the serve (an exact duplicate of the query takes rank 1 at
    prefix_cos 1.0 / cos_sim 1.0), a replayed append is dropped, and
    compaction leaves the served rows identical; (6) malformed,
    unnormalized, or zero-prefix query vectors are refused loudly."""
    import re

    import pytest

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.similarity import (
        _load_emb,
        _mrl_prefix_frame,
        _with_normalized,
        mrl_append,
        mrl_backfill,
        MRL_STORE_ARTIFACTS,
        mrl_topk_from_store,
    )
    from iceberg_explorer_spark.plans import inspect as pi

    d = "/root/testdata/sf0.01"
    n_buckets = 4
    st = BucketedArtifactStore(
        spark, "t_mrl_rt", n_buckets=n_buckets,
        artifacts=MRL_STORE_ARTIFACTS,
    )
    try:
        # backfill-first gate at the store layer
        inc0 = spark.range(0).selectExpr(
            "id AS vec_id",
            "CAST(array() AS array<float>) AS embedding",
            "CAST(0 AS int) AS label",
        )
        with pytest.raises(FileNotFoundError, match="t_mrl_rt_mrl_index"):
            mrl_append(st, inc0, batch_id="too-early")

        mrl_backfill(spark, d, st)
        emb = _with_normalized(_load_emb(spark, d))
        qv = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 0).first()["ne"]
        ]
        served = mrl_topk_from_store(st, qv, query_vec_id=0)
        got = [tuple(r) for r in served.collect()]
        want = [
            tuple(r)
            for r in QUERIES["similarity_mrl_prefix_topk"]
            .builder(spark, d)
            .collect()
        ]
        assert got == want and got

        # (2) the production plan of the returned frame
        plan = pi.physical_plan(served)
        assert pi.shuffle_count(served) == 0
        assert "Join" not in plan
        assert "Window" not in plan
        assert "BroadcastExchange" not in plan
        assert plan.count("Scan parquet") == 1
        small = mrl_topk_from_store(st, qv, query_vec_id=0, r=3, k=3)
        m = re.search(
            r"SelectedBucketsCount: (\d+) out of (\d+)",
            pi.physical_plan(small),
        )
        assert m, pi.physical_plan(small)
        assert int(m.group(1)) <= 3 < int(m.group(2)) == n_buckets

        # (3) stage 1 reads the prefix column only
        (art,) = st.serve_tables("mrl_index")
        p_plan = pi.physical_plan(_mrl_prefix_frame(art, qv, 0))
        mm = p_plan[p_plan.index("ReadSchema"):].splitlines()[0]
        assert set(
            c.split(":")[0]
            for c in mm.split("struct<")[1].split(">")[0].split(",")
        ) == {"vec_id", "pvec"}

        # (4) the d=16 rung round-trip against the registered sweep
        sweep = {
            r["trunc_dim"]: r
            for r in QUERIES["similarity_mrl_truncation_sweep"]
            .builder(spark, d)
            .collect()
        }
        bf_ids = {
            r["vec_id"]
            for r in QUERIES["similarity_bruteforce_topk"]
            .builder(spark, d)
            .collect()
        }
        served10 = {
            r["vec_id"]
            for r in mrl_topk_from_store(
                st, qv, query_vec_id=0, r=10, k=10
            ).collect()
        }
        assert len(served10 & bf_ids) == sweep[16]["n_hits"]

        # (5) nightly append, replay, compaction
        new_id = 15_000_000
        inc = (
            spark.read.parquet(f"{d}/embeddings.parquet")
            .filter(F.col("vec_id") == 0)
            .withColumn("vec_id", F.lit(new_id).cast("long"))
        )
        assert mrl_append(st, inc, batch_id="night-1") is True
        served2 = [
            tuple(r)
            for r in mrl_topk_from_store(st, qv, query_vec_id=0).collect()
        ]
        assert served2[0] == (new_id, 1.0, 1.0)
        assert mrl_append(st, inc, batch_id="night-1") is False
        st.compact()
        assert [
            tuple(r)
            for r in mrl_topk_from_store(st, qv, query_vec_id=0).collect()
        ] == served2

        # (6) loud input contracts
        with pytest.raises(ValueError, match="normalized"):
            mrl_topk_from_store(st, [2.0] * 64)
        with pytest.raises(ValueError, match="finite"):
            mrl_topk_from_store(st, [float("nan")] * 64)
        zp = [0.0] * 16 + qv[16:]
        import math

        nz = math.sqrt(sum(x * x for x in zp))
        with pytest.raises(ValueError, match="all zero"):
            mrl_topk_from_store(st, [x / nz for x in zp])
    finally:
        st.drop()


def _bq_sweep_model(vecs, rs=(10, 30, 100), query_vec_id=0):
    """Independent sweep model: true top-10 by exact cosine, Hamming
    shortlist prefix membership per R."""
    ne = {}
    for i, v in vecs.items():
        nrm = _r16_sdot(v, v) ** 0.5
        ne[i] = [x / nrm for x in v]

    def pack(vals):
        lo = sum(1 << i for i in range(32) if vals[i] > 0)
        hi = sum(1 << i for i in range(32) if vals[i + 32] > 0)
        return lo, hi

    sk = {i: pack(n) for i, n in ne.items()}
    qlo, qhi = sk[query_vec_id]
    cand = [i for i in vecs if i != query_vec_id]
    ham = {
        i: bin(sk[i][0] ^ qlo).count("1") + bin(sk[i][1] ^ qhi).count("1")
        for i in cand
    }
    cos = {i: _r16_r6(_r16_sdot(ne[i], ne[query_vec_id])) for i in cand}
    t10 = sorted(cand, key=lambda i: (-cos[i], i))[:10]
    by_ham = sorted(cand, key=lambda i: (ham[i], i))
    out = []
    for r in rs:
        prefix = by_ham[:r]
        hits = sum(1 for i in prefix if i in t10)
        out.append(
            (r, len(prefix), max(ham[i] for i in prefix), hits,
             hits / len(t10))
        )
    return sorted(out)


def test_bq_r_sweep_claims(spark, tmp_path):
    """similarity_bq_r_sweep's distinguishing claims, on the same
    identical-sketch family fixture as the cascade's claims test (32
    vectors tying at Hamming 0, the best-cosine member at the highest
    vec_id): (1) the sweep equals the independent model row-for-row;
    (2) recall INCREASES with R for a real reason — vec 41 (cosine
    1.0, Hamming rank 32 by the vec_id tie-break) is missed at R=10
    and R=30 but captured at R=100, so recall@10 steps up at the last
    rung — the exact recall-vs-R trade the sweep exists to price; (3)
    recall is monotonically non-decreasing in R and n_candidates ==
    min(R, corpus-1); (4) on a corpus the widest rung exhausts,
    recall hits 1.0 (every candidate shortlisted implies the cascade
    IS the exact search). Oracle-checked."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.similarity import DIM
    from tests.conftest import assert_matches_oracle

    spec = QUERIES["similarity_bq_r_sweep"]

    def vec(pairs):
        v = [0.0] * DIM
        for d, a in pairs:
            v[d] = a
        return v

    q = vec([(d, 1.0) for d in range(8)] + [(d, -1.0) for d in range(8, 16)])
    vecs = {0: q}
    for j, i in enumerate(range(10, 42)):
        a = 2.0 + (j % 7) * 0.25
        b = 0.25 + (j % 5) * 0.5
        vecs[i] = vec(
            [(d, a) for d in range(4)]
            + [(d, 0.5) for d in range(4, 8)]
            + [(d, -b) for d in range(8, 12)]
            + [(d, -3.0) for d in range(12, 16)]
        )
    vecs[41] = [2.0 * x for x in q]
    d1 = str(tmp_path / "bqsweep")
    spark.createDataFrame(
        [(i, v, 0) for i, v in vecs.items()],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d1}/embeddings.parquet")

    model = _bq_sweep_model(vecs)
    got = sorted(tuple(r) for r in spec.builder(spark, d1).collect())
    assert got == model
    by_r = {g[0]: g for g in got}
    # (2) the step up: 41 is Hamming-rank 32 (vec_id tie-break), so the
    # true best neighbor is missed until the R=100 rung
    assert by_r[10][4] < 1.0 and by_r[30][4] < 1.0
    assert by_r[100][4] == 1.0  # (4): 32 candidates, R=100 exhausts
    assert by_r[100][1] == len(vecs) - 1
    # (3) monotone recall, n_candidates == min(R, corpus-1)
    rec = [by_r[r][4] for r in (10, 30, 100)]
    assert rec == sorted(rec)
    for r in (10, 30, 100):
        assert by_r[r][1] == min(r, len(vecs) - 1)
    # (5) the sweep's membership identity is EXECUTED, not just argued:
    # literally run the cascade at each R (the independent _bq_model)
    # and count its returned ids against the true top-10 — recall@10
    # from the identity must equal recall@10 of the executed cascade,
    # ties and vec_id cut included
    ne = {}
    for i, v in vecs.items():
        nrm = _r16_sdot(v, v) ** 0.5
        ne[i] = [x / nrm for x in v]
    cand = [i for i in vecs if i != 0]
    cos = {i: _r16_r6(_r16_sdot(ne[i], ne[0])) for i in cand}
    true10 = set(sorted(cand, key=lambda i: (-cos[i], i))[:10])
    for r in (10, 30, 100):
        cascade_out, _ = _bq_model(vecs, r=r, k=10)
        executed = sum(1 for t in cascade_out if t[0] in true10) / len(true10)
        assert by_r[r][4] == executed, r

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d1}/embeddings.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d1), con, spec.oracle, "bq_sweep_crafted"
    )


def test_bq_r_sweep_generative_parity(spark, tmp_path):
    """Seeded generative hammer for similarity_bq_r_sweep (r16
    pre-freeze rigging): the same md5 grid corpora as the cascade's
    hammer, against the independent sweep model and the oracle, with
    the structural invariants (monotone recall, n_candidates ==
    min(R, corpus-1), hamming_cut non-decreasing in R) asserted per
    seed."""
    import duckdb
    import hashlib

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.similarity import DIM
    from tests.conftest import assert_matches_oracle

    def h(*parts) -> int:
        return hashlib.md5(":".join(map(str, parts)).encode()).digest()[0]

    spec = QUERIES["similarity_bq_r_sweep"]
    for seed in ("bs1", "bs2", "bs3"):
        n = 44 + h(seed, "n") % 20
        vecs = {}
        for i in range(n):
            v = [(h(seed, i, d) - 128) / 64.0 for d in range(DIM)]
            if all(x == 0.0 for x in v):
                v[0] = 1.0 / 64.0
            vecs[i] = v
        d = str(tmp_path / f"bqsg_{seed}")
        spark.createDataFrame(
            [(i, v, i % 2) for i, v in vecs.items()],
            "vec_id long, embedding array<float>, label int",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{d}/embeddings.parquet"
        )
        model = _bq_sweep_model(vecs)
        got = sorted(tuple(r) for r in spec.builder(spark, d).collect())
        assert got == model, (seed, got, model)
        rec = [g[4] for g in got]
        cuts = [g[2] for g in got]
        assert rec == sorted(rec) and cuts == sorted(cuts), seed
        for g in got:
            assert g[1] == min(g[0], n - 1), seed
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{d}/embeddings.parquet/*.parquet')"
        )
        assert_matches_oracle(
            spec.builder(spark, d), con, spec.oracle, f"bqs_gen_{seed}"
        )


def test_lm_store_round_trip(spark, tmp_path):
    """The persisted bigram LM (r16 — text_heldout_perplexity's serving
    story, the text family's first store citizen): (1) serve parity —
    lm_score_from_store over the backfilled model returns ROW-IDENTICAL
    results to the registered query on the corpus's heldout split; (2)
    MERGEABILITY is executed, not argued — after a nightly count-delta
    append, the serve is bit-identical to a from-scratch rebuild over
    the union corpus (counts merge by SUM; scores quantize after the
    merge), and genuinely different from the pre-append serve; (3) the
    model-merge aggregations run with ZERO exchanges (both artifacts
    bucketed by their group key — the groupBy consumes the bucket
    distribution); (4) a replayed append is dropped per artifact, and a
    CRASH BETWEEN the two artifact appends heals on retry — the
    half-landed night completes exactly once per table; (5) compaction
    of both artifacts leaves served scores identical; (6) the
    backfill-first gate refuses pre-backfill appends and the
    contamination gate refuses heldout-split doc_ids loudly; (7) a
    fully-empty increment lands NO rows — it returns False on every
    call (ADVICE r16: both halves carry the empty-delta guard) and
    changes nothing."""
    import pytest

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.text import (
        HELDOUT_MOD,
        _lm_counts,
        lm_append,
        lm_backfill,
        lm_score_from_store,
        LM_STORE_ARTIFACTS,
    )
    from iceberg_explorer_spark.plans import inspect as pi
    from iceberg_explorer_spark.sources.registry import load_table

    d = "/root/testdata/sf0.01"
    st = BucketedArtifactStore(
        spark, "t_lm_rt", n_buckets=4,
        artifacts=LM_STORE_ARTIFACTS,
    )
    doc_schema = (
        "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    try:
        # (6) backfill-first: the commit-marker probe refuses loudly
        with pytest.raises(FileNotFoundError, match="t_lm_rt_lm_bigrams"):
            lm_append(
                st,
                spark.createDataFrame([], doc_schema),
                batch_id="too-early",
            )

        lm_backfill(spark, d, st)
        docs = load_table(spark, d, "documents")
        he = docs.filter(F.col("doc_id") % HELDOUT_MOD == 0)
        base = sorted(tuple(r) for r in lm_score_from_store(st, he).collect())
        want = sorted(
            tuple(r)
            for r in QUERIES["text_heldout_perplexity"]
            .builder(spark, d)
            .collect()
        )
        assert base == want and base  # (1)

        # (3) zero-exchange model merges
        for name, keys in (("lm_bigrams", ["w1", "w2"]),
                           ("lm_unigrams", ["word"])):
            merged = st.spark.table(st.table_name(name)).groupBy(*keys).agg(
                F.count(F.lit(1)).alias("n")
            )
            assert pi.shuffle_count(merged) == 0, name

        # (2) mergeability, executed: append one night, compare to a
        # from-scratch rebuild over the union corpus
        inc = spark.createDataFrame(
            [
                (21_000_001, "alpha beta alpha gamma", "en", "night", 22),
                (21_000_002, "beta beta zeta", "en", "night", 14),
            ],
            doc_schema,
        )
        assert lm_append(st, inc, batch_id="night-1") is True
        merged_scores = sorted(
            tuple(r) for r in lm_score_from_store(st, he).collect()
        )
        union_dir = str(tmp_path / "lm_union")
        docs.filter(F.col("doc_id") % HELDOUT_MOD != 0).unionByName(
            inc
        ).write.mode("overwrite").parquet(f"{union_dir}/documents.parquet")
        st2 = BucketedArtifactStore(
            spark, "t_lm_rt2", n_buckets=4,
            artifacts=LM_STORE_ARTIFACTS,
        )
        try:
            lm_backfill(spark, union_dir, st2)
            rebuilt = sorted(
                tuple(r) for r in lm_score_from_store(st2, he).collect()
            )
        finally:
            st2.drop()
        assert merged_scores == rebuilt
        assert merged_scores != base  # the night genuinely moved scores

        # (4) replay dropped; half-landed night heals on retry
        assert lm_append(st, inc, batch_id="night-1") is False
        inc2 = spark.createDataFrame(
            [(21_000_003, "zeta zeta alpha", "en", "night", 15)], doc_schema
        )
        bg2, uni2 = _lm_counts(inc2)
        # simulate the crash: night-2's unigram append landed, the
        # bigram append never ran
        assert st.append("lm_unigrams", uni2, batch_id="night-2") is True
        healed = lm_append(st, inc2, batch_id="night-2")
        assert healed is True  # the retry lands the missing half
        # each table holds night-2 exactly once: a fresh rebuild over
        # base + night-1 + night-2 agrees with the healed store
        union2 = str(tmp_path / "lm_union2")
        docs.filter(F.col("doc_id") % HELDOUT_MOD != 0).unionByName(
            inc
        ).unionByName(inc2).write.mode("overwrite").parquet(
            f"{union2}/documents.parquet"
        )
        st3 = BucketedArtifactStore(
            spark, "t_lm_rt3", n_buckets=4,
            artifacts=LM_STORE_ARTIFACTS,
        )
        try:
            lm_backfill(spark, union2, st3)
            rebuilt2 = sorted(
                tuple(r) for r in lm_score_from_store(st3, he).collect()
            )
        finally:
            st3.drop()
        healed_scores = sorted(
            tuple(r) for r in lm_score_from_store(st, he).collect()
        )
        assert healed_scores == rebuilt2

        # (5) compaction changes nothing
        st.compact()
        assert sorted(
            tuple(r) for r in lm_score_from_store(st, he).collect()
        ) == healed_scores

        # (6) contamination gate
        with pytest.raises(ValueError, match="contaminate"):
            lm_append(
                st,
                spark.createDataFrame(
                    [(21_000_005, "x y", "en", "s", 3)], doc_schema
                ),
                batch_id="night-3",
            )
        # (7) fully-empty increment: NO rows landed — the return contract
        # is 'True iff rows landed', and a vacuously-landed empty UNIGRAM
        # delta must not read as landed (ADVICE r16: the unigram mirror
        # of the empty-bigram hole below — before the guard this replayed
        # as True on EVERY call, forever), scores unchanged
        assert lm_append(
            st, spark.createDataFrame([], doc_schema), batch_id="night-4"
        ) is False
        assert lm_append(
            st, spark.createDataFrame([], doc_schema), batch_id="night-4"
        ) is False
        assert sorted(
            tuple(r) for r in lm_score_from_store(st, he).collect()
        ) == healed_scores
        # (8) the empty-BIGRAM edge (second r16 review sweep — the r15
        # epoch-sink lesson one layer up): an increment of only 1-token
        # docs lands its unigrams but has an EMPTY bigram delta; the
        # first delivery is landed (True), and its REPLAY must read
        # False even though the store vacuously "lands" the empty
        # bigram half on every call
        solo = spark.createDataFrame(
            [(21_000_007, "lonely", "en", "night", 6)], doc_schema
        )
        assert lm_append(st, solo, batch_id="night-5") is True
        assert lm_append(st, solo, batch_id="night-5") is False
    finally:
        st.drop()


def _bm25_model(doc_texts, terms, k=10):
    """Independent BM25 model mirroring the registered query's exact
    integer arithmetic: idf micro-quantized HALF_UP, the through-
    multiplied per-(doc, term) score as one BIGINT-product division
    rounded HALF_UP, summed per doc. ``doc_texts``: {doc_id: text}."""
    import math
    import re as _re
    from decimal import ROUND_HALF_UP, Decimal

    def _r0(x):
        return int(
            Decimal(repr(float(x))).quantize(Decimal("1"), ROUND_HALF_UP)
        )

    toks = {
        i: [w for w in _re.split(r"\s+", t.lower().strip()) if w]
        for i, t in doc_texts.items()
    }
    dl = {i: len(ws) for i, ws in toks.items()}
    n_docs = len(toks)
    corpus_len = sum(dl.values())
    tf = {}
    for i, ws in toks.items():
        for w in ws:
            if w in terms:
                tf[(i, w)] = tf.get((i, w), 0) + 1
    df = {t: sum(1 for (i, w) in tf if w == t) for t in terms}
    idf_q = {
        t: _r0(math.log(1 + (n_docs - df[t] + 0.5) / (df[t] + 0.5)) * 1e6)
        for t in terms
        if df[t] > 0
    }
    scores = {}
    for (i, w), f in tf.items():
        num = float(idf_q[w] * 22 * corpus_len * f)
        den = 10 * corpus_len * f + 3 * corpus_len + 9 * dl[i] * n_docs
        scores.setdefault(i, [0, 0])
        scores[i][0] += 1
        scores[i][1] += _r0(num / den)
    rows = [(i, n, s) for i, (n, s) in scores.items()]
    return sorted(rows, key=lambda r: (-r[2], r[0]))[:k]


def test_bm25_store_round_trip(spark):
    """The persisted inverted index (r17 — text_bm25_topk's serving
    story, the text family's second store citizen and the repo's first
    TERM-bucket-pruned serve): (1) serve parity — bm25_topk_from_store
    over the backfilled index returns ROW-IDENTICAL results to the
    registered query for the registered term set; (2) the postings
    scan BUCKET-PRUNES to the query terms' buckets
    (SelectedBucketsCount ≤ |terms|) and df is DERIVED from the pruned
    postings (count of the term's rows — executed equality against the
    raw postings), so it cannot desync from the index; (3)
    MERGEABILITY is executed — after a nightly append the serve is
    bit-identical to a from-scratch rebuild over the union corpus
    (count-delta stats merged by SUM, scores quantized after the
    merge) and genuinely different from the pre-append serve; (4) an
    all-EMPTY-TEXT increment carries no postings yet still lands (its
    docs change n_docs, which changes every idf — the serve's scores
    MOVE, executed), while a ZERO-doc increment lands nothing and
    replays False; a replayed append is dropped; compaction of both
    artifacts leaves served rows identical; (5) custom term sets serve
    against the independent exact-integer model; (6) the
    backfill-first gate and the malformed-terms contract refuse
    loudly."""
    import pytest

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.text import (
        BM25_TERMS,
        _bm25_postings,
        bm25_append,
        bm25_backfill,
        BM25_STORE_ARTIFACTS,
        bm25_topk_from_store,
    )
    from iceberg_explorer_spark.plans import inspect as pi
    from iceberg_explorer_spark.sources.registry import load_table

    d = "/root/testdata/sf0.01"
    n_buckets = 8
    st = BucketedArtifactStore(
        spark, "t_bm25_rt", n_buckets=n_buckets,
        artifacts=BM25_STORE_ARTIFACTS,
    )
    doc_schema = (
        "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    try:
        # (6) backfill-first: the commit-marker probe refuses loudly
        with pytest.raises(FileNotFoundError, match="t_bm25_rt_bm25_stats"):
            bm25_append(
                st,
                spark.createDataFrame([], doc_schema),
                batch_id="too-early",
            )

        bm25_backfill(spark, d, st)
        served = bm25_topk_from_store(st)
        got = [tuple(r) for r in served.collect()]
        want = [
            tuple(r)
            for r in QUERIES["text_bm25_topk"].builder(spark, d).collect()
        ]
        assert got == want and got  # (1)

        # (2) term-bucket pruning + derived df
        import re

        plan = pi.physical_plan(served)
        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m, plan
        assert int(m.group(1)) <= len(BM25_TERMS) < int(m.group(2)) == n_buckets
        raw = st.read("bm25_postings")
        for t in BM25_TERMS:
            df_store = raw.filter(F.col("word") == t).count()
            docs_with = (
                load_table(spark, d, "documents")
                .filter(
                    F.array_contains(
                        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), t
                    )
                )
                .count()
            )
            assert df_store == docs_with, t

        # (3) mergeability: append night-1, compare to a union rebuild
        inc_rows = [
            (30_000_000 + j,
             " ".join(["vector"] * (j + 1) + ["merge", "novel"]),
             "en", "night", 42)
            for j in range(4)
        ]
        inc = spark.createDataFrame(inc_rows, doc_schema)
        assert bm25_append(st, inc, batch_id="night-1") is True
        got2 = [tuple(r) for r in bm25_topk_from_store(st).collect()]
        assert got2 != got  # the append genuinely moved the ranking
        st2 = BucketedArtifactStore(
            spark, "t_bm25_rb", n_buckets=n_buckets,
            artifacts=BM25_STORE_ARTIFACTS,
        )
        try:
            docs_union = load_table(spark, d, "documents").unionByName(inc)
            postings_u, stats_u = _bm25_postings(docs_union)
            st2.write("bm25_postings", postings_u)
            st2.write("bm25_stats", stats_u)
            rebuilt = [tuple(r) for r in bm25_topk_from_store(st2).collect()]
            assert rebuilt == got2  # bit-identical serve
        finally:
            st2.drop()

        # (4) empty-text docs: no postings, but idf MOVES
        empties = spark.createDataFrame(
            [(31_000_000 + j, "   ", "en", "pad", 3) for j in range(500)],
            doc_schema,
        )
        assert bm25_append(st, empties, batch_id="night-2") is True
        got3 = [tuple(r) for r in bm25_topk_from_store(st).collect()]
        assert got3 != got2  # n_docs changed every idf
        assert {g[0] for g in got3} == {g[0] for g in got2}  # same docs hit
        # zero-doc increment: nothing lands, ever
        assert bm25_append(
            st, spark.createDataFrame([], doc_schema), batch_id="night-3"
        ) is False
        assert bm25_append(
            st, spark.createDataFrame([], doc_schema), batch_id="night-3"
        ) is False
        # replay of a real night is dropped
        assert bm25_append(st, inc, batch_id="night-1") is False
        assert [
            tuple(r) for r in bm25_topk_from_store(st).collect()
        ] == got3
        st.compact()
        assert [
            tuple(r) for r in bm25_topk_from_store(st).collect()
        ] == got3

        # (5) custom terms vs the independent exact-integer model
        all_docs = {
            r["doc_id"]: r["text"]
            for r in load_table(spark, d, "documents")
            .select("doc_id", "text")
            .collect()
        }
        for r in inc_rows:
            all_docs[r[0]] = r[1]
        for r in range(500):
            all_docs[31_000_000 + r] = "   "
        for terms in (["vector", "novel"], ["data", "index", "scan"]):
            got_t = [
                tuple(r)
                for r in bm25_topk_from_store(st, terms=terms).collect()
            ]
            assert got_t == _bm25_model(all_docs, set(terms)), terms

        # (6) malformed terms refused loudly
        for bad in ([], ["Vector"], ["two words"], [""], [None]):
            with pytest.raises(ValueError, match="lowercase"):
                bm25_topk_from_store(st, terms=bad)
        # a repeated term would silently collapse under isin while
        # classic BM25 weights repeats — refused, not guessed at
        with pytest.raises(ValueError, match="distinct"):
            bm25_topk_from_store(st, terms=["scan", "scan"])
    finally:
        st.drop()


def test_bm25_store_generative_schedules(spark, tmp_path):
    """Seeded generative hammer for the inverted-index store (the
    pre-freeze rigging rule): md5-driven schedules of interleaved
    operations — land a nightly doc batch (store + corpus), REPLAY a
    uniformly chosen earlier batch, or COMPACT — with the serve
    row-parity-checked against the REGISTERED query over the evolving
    corpus after EVERY step (the registered form re-tokenizes the
    union corpus from scratch, so each check executes mergeability
    across whatever append/replay/compact history the hash produced).
    Batches deliberately mix term-bearing, novel-vocabulary and
    empty-text docs so n_docs and df move independently."""
    import hashlib

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.text import (
        bm25_append,
        bm25_backfill,
        BM25_STORE_ARTIFACTS,
        bm25_topk_from_store,
    )

    def h(*parts) -> int:
        return hashlib.md5(":".join(map(str, parts)).encode()).digest()[0]

    doc_schema = (
        "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    words = ["vector", "merge", "scan", "index", "columnar", "night", "x9"]
    for seed in ("bm1", "bm2"):
        corpus_dir = str(tmp_path / f"bm25corpus_{seed}")
        base = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        base.write.mode("overwrite").parquet(f"{corpus_dir}/documents.parquet")
        st = BucketedArtifactStore(
            spark, f"t_bm25_gen_{seed}", n_buckets=4,
            artifacts=BM25_STORE_ARTIFACTS,
        )
        try:
            bm25_backfill(spark, corpus_dir, st)

            def expected():
                return [
                    tuple(r)
                    for r in QUERIES["text_bm25_topk"]
                    .builder(spark, corpus_dir)
                    .collect()
                ]

            def batch_df(pairs):
                return spark.createDataFrame(
                    [
                        (
                            did,
                            " ".join(
                                words[h(seed, did, j) % len(words)]
                                for j in range(h(seed, did, "len") % 9)
                            ),
                            "en",
                            "night",
                            7,
                        )
                        for did in pairs
                    ],
                    doc_schema,
                )

            exp = expected()
            model = {}
            landed = []
            next_id = 40_000_000
            for step in range(5 + h(seed, "ops") % 3):
                kind = h(seed, step, "kind") % 4
                if kind == 0 and landed:
                    bid = landed[h(seed, step, "pick") % len(landed)]
                    assert bm25_append(
                        st, batch_df(model[bid]), batch_id=bid
                    ) is False
                elif kind == 1:
                    st.compact()
                else:
                    bid = f"night-{step}"
                    ids = [next_id + i for i in range(2 + h(seed, step) % 3)]
                    next_id += 100
                    inc = batch_df(ids)
                    assert bm25_append(st, inc, batch_id=bid) is True
                    inc.write.mode("append").parquet(
                        f"{corpus_dir}/documents.parquet"
                    )
                    model[bid] = ids
                    landed.append(bid)
                    exp = expected()
                got = [
                    tuple(r) for r in bm25_topk_from_store(st).collect()
                ]
                assert got == exp, (seed, step, kind)
        finally:
            st.drop()


def _mrl_model(vecs, dims=(8, 16, 32, 64), query_vec_id=0):
    """Independent MRL sweep model: renormalized prefix cosines with the
    zero-prefix NULL filter, per-config top-10, hits vs the exact
    top-10."""
    ne = {}
    for i, v in vecs.items():
        nrm = _r16_sdot(v, v) ** 0.5
        ne[i] = [x / nrm for x in v]
    cand = [i for i in vecs if i != query_vec_id]
    cos = {i: _r16_r6(_r16_sdot(ne[i], ne[query_vec_id])) for i in cand}
    t10 = set(sorted(cand, key=lambda i: (-cos[i], i))[:10])
    n_exact = len(t10)
    out = []
    for d in dims:
        qp = ne[query_vec_id][:d]
        nq = _r16_sdot(qp, qp) ** 0.5
        tcos = {}
        for i in cand:
            p = ne[i][:d]
            na = _r16_sdot(p, p) ** 0.5
            if na * nq > 0:
                tcos[i] = _r16_r6(_r16_sdot(p, qp) / (na * nq))
        top = sorted(tcos, key=lambda i: (-tcos[i], i))[:10]
        hits = sum(1 for i in top if i in t10)
        out.append(
            (d, d * 4, 64 // d, len(top), hits,
             0.0 if n_exact == 0 else hits / n_exact)
        )
    return sorted(out), t10, cos


def test_mrl_truncation_sweep_claims(spark, tmp_path):
    """similarity_mrl_truncation_sweep's distinguishing claims on a
    PREFIX-INFORMATIVE crafted corpus (what an actual Matryoshka-trained
    model produces — the synthetic corpus is not MRL-trained, so this
    fixture supplies the regime the op prices): (1) row-for-row parity
    with the independent model; (2) the truncation trade is REAL both
    ways — a false prefix-neighbor (first 4 dims identical to the
    query, tail divergent) is retrieved at d=8 despite not being a true
    neighbor, and a true neighbor with an orthogonal prefix (tail
    carries its similarity) is missed at d=8 and recovered at d=64; (3)
    an all-zero-prefix vector has UNDEFINED truncated cosine at d=8
    (filtered on both engines, never an inf/NaN) yet participates at
    d=64; (4) the d=64 rung is the structural saturation anchor: recall
    1.0. Oracle-checked."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.similarity import DIM
    from tests.conftest import assert_matches_oracle

    spec = QUERIES["similarity_mrl_truncation_sweep"]

    def vec(pairs):
        v = [0.0] * DIM
        for d, a in pairs:
            v[d] = a
        return v

    # the query: informative prefix (dims 0..3) AND informative tail
    # (dims 16..23)
    q = vec([(d, 1.0) for d in range(4)] + [(d, 1.0) for d in range(16, 24)])
    vecs = {0: q}
    # A (20): the false prefix-neighbor — prefix identical, tail opposite
    vecs[20] = vec(
        [(d, 1.0) for d in range(4)] + [(d, -1.0) for d in range(16, 24)]
    )
    # B (21): the true neighbor with an orthogonal prefix — prefix mass
    # on dims 4..7 (dot 0 with q's prefix), tail equal to q's
    vecs[21] = vec(
        [(d, 1.0) for d in range(4, 8)] + [(d, 1.0) for d in range(16, 24)]
    )
    # C (22): all-zero FIRST 8 dims — undefined prefix cosine at d=8
    vecs[22] = vec([(d, 1.0) for d in range(16, 24)])
    # filler: moderate prefix alignment, tails scattered away from q
    for j, i in enumerate(range(30, 46)):
        vecs[i] = vec(
            [(d, 0.5 + 0.1 * (j % 3)) for d in range(4)]
            + [(d, 1.0) for d in range(24 + (j % 4) * 8,
                                       24 + (j % 4) * 8 + 8)]
        )
    d1 = str(tmp_path / "mrl_crafted")
    spark.createDataFrame(
        [(i, v, 0) for i, v in vecs.items()],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d1}/embeddings.parquet")

    model, t10, cos = _mrl_model(vecs)
    got = sorted(tuple(r) for r in spec.builder(spark, d1).collect())
    assert got == model  # (1)
    by_d = {g[0]: g for g in got}
    assert by_d[64][5] == 1.0  # (4)
    assert by_d[8][5] < 1.0  # the prefix genuinely loses recall
    # (2) the trade, both directions — via the model's internals
    _, _, _ = model, t10, cos
    qp = [x for x in vecs[0][:8]]
    # A is retrieved at d=8 (top prefix cosine) but is not a true
    # neighbor; B is a true neighbor missed at d=8
    def prefix_top(d):
        ne = {}
        for i, v in vecs.items():
            nrm = _r16_sdot(v, v) ** 0.5
            ne[i] = [x / nrm for x in v]
        qpf = ne[0][:d]
        nq = _r16_sdot(qpf, qpf) ** 0.5
        tc = {}
        for i in vecs:
            if i == 0:
                continue
            p = ne[i][:d]
            na = _r16_sdot(p, p) ** 0.5
            if na * nq > 0:
                tc[i] = _r16_r6(_r16_sdot(p, qpf) / (na * nq))
        return sorted(tc, key=lambda i: (-tc[i], i))[:10], tc

    top8, tc8 = prefix_top(8)
    assert 20 in top8 and 20 not in t10  # false prefix-neighbor in
    assert 21 in t10 and 21 not in top8  # true neighbor missed
    assert 22 not in tc8  # (3) zero prefix filtered at d=8
    top64, tc64 = prefix_top(64)
    assert 21 in top64 and 22 in tc64  # both recovered at full width

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d1}/embeddings.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d1), con, spec.oracle, "mrl_crafted"
    )


def test_mrl_truncation_sweep_generative_parity(spark, tmp_path):
    """Seeded generative hammer for similarity_mrl_truncation_sweep
    (r16 pre-freeze rigging): md5 grid corpora vs the independent
    model and the oracle; invariants per seed — the d=64 rung anchors
    recall 1.0 (structural: the full prefix IS the exact cosine up to
    the ~1.0 norm-ratio quantization), n_returned == min(10,
    |non-null candidates|), and recall values live in [0, 1]."""
    import duckdb
    import hashlib

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.similarity import DIM
    from tests.conftest import assert_matches_oracle

    def h(*parts) -> int:
        return hashlib.md5(":".join(map(str, parts)).encode()).digest()[0]

    spec = QUERIES["similarity_mrl_truncation_sweep"]
    for seed in ("mr1", "mr2", "mr3"):
        n = 40 + h(seed, "n") % 20
        vecs = {}
        for i in range(n):
            v = [(h(seed, i, d) - 128) / 64.0 for d in range(DIM)]
            if all(x == 0.0 for x in v):
                v[0] = 1.0 / 64.0
            vecs[i] = v
        d = str(tmp_path / f"mrlg_{seed}")
        spark.createDataFrame(
            [(i, v, i % 2) for i, v in vecs.items()],
            "vec_id long, embedding array<float>, label int",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{d}/embeddings.parquet"
        )
        model, _t10, _cos = _mrl_model(vecs)
        got = sorted(tuple(r) for r in spec.builder(spark, d).collect())
        assert got == model, (seed, got, model)
        by_d = {g[0]: g for g in got}
        assert by_d[64][5] == 1.0, seed
        for g in got:
            assert 0.0 <= g[5] <= 1.0 and g[3] <= 10, seed
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{d}/embeddings.parquet/*.parquet')"
        )
        assert_matches_oracle(
            spec.builder(spark, d), con, spec.oracle, f"mrl_gen_{seed}"
        )


def _mrl_cascade_model(vecs, r=30, k=10, query_vec_id=0, d=16):
    """Independent model for similarity_mrl_prefix_topk: renormalized
    d-prefix cosine shortlist (zero prefixes excluded), exact rerank.
    Returns (rows, shortlist, tcos, cos): rows are the (vec_id,
    prefix_cos, cos_sim) result tuples."""
    ne = {}
    for i, v in vecs.items():
        nrm = _r16_sdot(v, v) ** 0.5
        ne[i] = [x / nrm for x in v]
    cand = [i for i in vecs if i != query_vec_id]
    qp = ne[query_vec_id][:d]
    nq = _r16_sdot(qp, qp) ** 0.5
    tcos = {}
    for i in cand:
        p = ne[i][:d]
        na = _r16_sdot(p, p) ** 0.5
        if na * nq > 0:
            tcos[i] = _r16_r6(_r16_sdot(p, qp) / (na * nq))
    shortlist = sorted(tcos, key=lambda i: (-tcos[i], i))[:r]
    cos = {i: _r16_r6(_r16_sdot(ne[i], ne[query_vec_id])) for i in cand}
    top = sorted(shortlist, key=lambda i: (-cos[i], i))[:k]
    return [(i, tcos[i], cos[i]) for i in top], shortlist, tcos, cos


def test_mrl_prefix_topk_claims(spark, tmp_path):
    """similarity_mrl_prefix_topk's distinguishing claims on a crafted
    corpus built so every stage decides something (r17 — the serving
    cascade of the sweep's d=16 rung): (1) row parity with the
    independent model; (2) the exact stage genuinely RERANKS — the
    false prefix-neighbor (prefix identical to the query, tail
    opposite) tops stage 1 at prefix_cos 1.0 yet is dropped from the
    returned k entirely (its exact cosine is negative, below every
    returned row's); (3) the documented residual is
    REAL — the best exact candidate among stage-1-eligible vectors
    (better than every returned row) carries an ORTHOGONAL prefix
    (prefix_cos 0.0), sits below every positive-prefix filler in
    stage-1 order, misses the R-row shortlist, and is absent from the
    result; (4) an all-zero-prefix vector is
    unreachable at this rung (NULL-filtered out of stage 1) even
    though its exact cosine would rank it; (5) oracle-checked."""
    import duckdb

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.similarity import DIM, MRL_R
    from tests.conftest import assert_matches_oracle

    spec = QUERIES["similarity_mrl_prefix_topk"]

    def vec(pairs):
        v = [0.0] * DIM
        for d_, a in pairs:
            v[d_] = a
        return v

    # query: informative prefix (dims 0..3) AND informative tail
    # (dims 24..31 — beyond the d=16 serving prefix)
    q = vec([(d, 1.0) for d in range(4)] + [(d, 1.0) for d in range(24, 32)])
    vecs = {0: q}
    # A (20): false prefix-neighbor — prefix identical, tail opposite
    vecs[20] = vec(
        [(d, 1.0) for d in range(4)] + [(d, -1.0) for d in range(24, 32)]
    )
    # B (21): the residual — best exact candidate (tail equal to q's,
    # more tail mass) with an ORTHOGONAL prefix (dims 4..7)
    vecs[21] = vec(
        [(d, 0.25) for d in range(4, 8)] + [(d, 1.0) for d in range(24, 32)]
    )
    # C (22): all-zero d=16 prefix, tail equal to q's — unreachable
    vecs[22] = vec([(d, 1.0) for d in range(24, 32)])
    # fillers 30..64 (35 > MRL_R): positive-but-imperfect prefix cosine
    # (the prefix direction is deliberately NOT proportional to the
    # query's, so no filler ties A's 1.0), orthogonal scattered tails —
    # they fill the shortlist above B's 0.0
    for j, i in enumerate(range(30, 65)):
        vecs[i] = vec(
            [(0, 1.0), (1, 0.5), (2, 0.25 + 0.25 * (j % 3)), (3, 0.125)]
            + [(d, 1.0) for d in range(32 + (j % 4) * 8,
                                       32 + (j % 4) * 8 + 8)]
        )
    assert len(vecs) - 1 > MRL_R
    d1 = str(tmp_path / "mrlc_crafted")
    spark.createDataFrame(
        [(i, v, 0) for i, v in vecs.items()],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d1}/embeddings.parquet")

    rows, shortlist, tcos, cos = _mrl_cascade_model(vecs)
    got = [tuple(r) for r in spec.builder(spark, d1).collect()]
    assert got == rows  # (1)
    # (2) rerank: A tops stage 1 (prefix_cos 1.0, ahead of every
    # filler) yet the exact stage drops it out of the returned k
    # entirely — its exact cosine is NEGATIVE (opposite tail), below
    # every returned row's
    assert tcos[20] == 1.0 and shortlist[0] == 20
    assert 20 not in {g[0] for g in got}
    assert cos[20] < 0 and all(g[2] > cos[20] for g in got)
    # (3) the residual: B is the best exact candidate among all
    # stage-1-ELIGIBLE vectors (defined prefix), better than every
    # returned row, yet its orthogonal prefix (0.0) keeps it below the
    # positive-prefix fillers and out of the R-row shortlist
    assert cos[21] == max(cos[i] for i in tcos)
    assert all(cos[21] > g[2] for g in got)
    assert tcos[21] == 0.0 and 21 not in shortlist
    assert 21 not in {g[0] for g in got}
    # (4) zero prefix: C has no stage-1 score at all, despite a high
    # exact cosine
    assert 22 not in tcos and cos[22] > 0.5
    assert 22 not in {g[0] for g in got}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d1}/embeddings.parquet/*.parquet')"
    )
    assert_matches_oracle(
        spec.builder(spark, d1), con, spec.oracle, "mrlc_crafted"
    )


def test_mrl_prefix_topk_generative_parity(spark, tmp_path):
    """Seeded generative hammer for similarity_mrl_prefix_topk (the
    pre-freeze rigging rule promoted in r15): md5 grid corpora vs the
    independent cascade model and the oracle. Invariants per seed:
    every returned row sits in the model's prefix shortlist, result
    size is min(10, |shortlist|), prefix_cos and cos_sim live in
    [-1, 1], and the returned rows are (cos_sim DESC, vec_id)-sorted."""
    import duckdb
    import hashlib

    from iceberg_explorer_spark.operators import QUERIES
    from iceberg_explorer_spark.operators.similarity import DIM
    from tests.conftest import assert_matches_oracle

    def h(*parts) -> int:
        return hashlib.md5(":".join(map(str, parts)).encode()).digest()[0]

    spec = QUERIES["similarity_mrl_prefix_topk"]
    for seed in ("mc1", "mc2", "mc3"):
        n = 40 + h(seed, "n") % 20
        vecs = {}
        for i in range(n):
            # values on a 1/64 grid: exactly representable in float32,
            # so the model's doubles match the stored corpus bit-level
            v = [(h(seed, i, d) - 128) / 64.0 for d in range(DIM)]
            if all(x == 0.0 for x in v):
                v[0] = 1.0 / 64.0
            vecs[i] = v
        d = str(tmp_path / f"mclg_{seed}")
        spark.createDataFrame(
            [(i, v, i % 2) for i, v in vecs.items()],
            "vec_id long, embedding array<float>, label int",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{d}/embeddings.parquet"
        )
        rows, shortlist, _tcos, _cos = _mrl_cascade_model(vecs)
        got = [tuple(r) for r in spec.builder(spark, d).collect()]
        assert got == rows, (seed, got, rows)
        sl = set(shortlist)
        assert all(g[0] in sl for g in got), seed
        assert len(got) == min(10, len(shortlist)), seed
        for g in got:
            assert -1.0 <= g[1] <= 1.0 and -1.0 <= g[2] <= 1.0, seed
        assert got == sorted(got, key=lambda g: (-g[2], g[0])), seed
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{d}/embeddings.parquet/*.parquet')"
        )
        assert_matches_oracle(
            spec.builder(spark, d), con, spec.oracle, f"mclg_{seed}"
        )
