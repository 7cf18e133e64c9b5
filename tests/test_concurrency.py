"""Concurrency behavior: the service layer runs every query on its own
daemon thread (lifecycle/executor.py), so the shared-candidate cache and
the executor registry must hold up under concurrent access.

Covers the round-7 items: (1) a cold-cache race on shared_lsh_candidates
materializes the checkpoint exactly once (a module lock guards the
check-then-set); (2) an in-place corpus rewrite invalidates the cache via
the content fingerprint stored beside each entry; (3) parallel execute /
cancel / stream against ONE session keep per-query state isolated.
"""

from __future__ import annotations

import json
import os
import threading

import pyarrow as pa
import pytest

from iceberg_explorer_spark.lifecycle.executor import QueryExecutor
from iceberg_explorer_spark.lifecycle.models import QueryStatus
from tests.conftest import SF_DIR_SMALL


# ---------------------------------------------------------------------------
# shared_lsh_candidates under a concurrent cold cache
# ---------------------------------------------------------------------------


@pytest.fixture
def declare_kind():
    """``declare_kind(kind, *bodies)`` declares a test-local
    ``@shared_artifact`` kind and returns its accessor; each cache miss
    runs the next body. The kinds leave the registry after the test."""
    from iceberg_explorer_spark.operators import dedup

    declared = []

    def declare(kind, *bodies):
        queue = list(bodies)

        @dedup.shared_artifact(kind)
        def accessor(spark, sf_dir):
            return queue.pop(0)()

        declared.append(kind)
        return accessor

    dedup.invalidate_shared_candidates()
    yield declare
    for kind in declared:
        del dedup._SHARED_ARTIFACTS[kind]
    dedup.invalidate_shared_candidates()


def test_shared_candidates_materialize_once_under_race(spark, monkeypatch):
    """Two (here: four) concurrent graph-family queries on a cache miss
    must run the shingle→minhash→band pipeline ONCE — the pre-lock code
    double-materialized the checkpoint (wasted cluster work + transient
    double block-manager memory)."""
    from iceberg_explorer_spark.operators import dedup

    dedup.invalidate_shared_candidates()
    calls = []
    real = dedup.lsh_candidates

    def counting(*args, **kwargs):
        calls.append(threading.current_thread().name)
        return real(*args, **kwargs)

    monkeypatch.setattr(dedup, "lsh_candidates", counting)

    n = 4
    barrier = threading.Barrier(n)
    results: list = [None] * n
    errors: list = []

    def worker(i: int) -> None:
        try:
            barrier.wait(timeout=30)
            results[i] = dedup.shared_lsh_candidates(spark, SF_DIR_SMALL)
        except Exception as exc:  # surface into the test thread
            errors.append(exc)

    threads = [
        threading.Thread(target=worker, args=(i,), name=f"cand-{i}")
        for i in range(n)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    assert len(calls) == 1, f"pipeline ran {len(calls)}×: {calls}"
    # every thread got the SAME checkpointed frame, and it is usable
    assert all(r is results[0] for r in results)
    assert results[0].count() >= 0
    dedup.invalidate_shared_candidates()


def test_semantic_two_step_cold_path_materializes_once_under_race(spark):
    """The semantic family's cold path acquires the cache lock TWICE in
    sequence (edges, then the CC labels built from them) — a concurrent
    cold race must run the GEMM pair pipeline once AND the label
    propagation once, with every thread reading the same checkpoints
    (the lock is released between the two steps, so a second thread can
    interleave; the cache, not the caller, must dedupe the work)."""
    from iceberg_explorer_spark.operators import dedup, similarity

    dedup.invalidate_shared_candidates()
    gemm_calls, cc_calls = [], []
    real_gemm = similarity._bucket_pairs_gemm
    real_cc = dedup.connected_components

    def counting_gemm(*a, **kw):
        gemm_calls.append(threading.current_thread().name)
        return real_gemm(*a, **kw)

    def counting_cc(*a, **kw):
        cc_calls.append(threading.current_thread().name)
        return real_cc(*a, **kw)

    similarity._bucket_pairs_gemm = counting_gemm
    dedup.connected_components = counting_cc
    try:
        n = 3
        barrier = threading.Barrier(n)
        results: list = [None] * n
        errors: list = []

        def worker(i: int) -> None:
            try:
                barrier.wait(timeout=30)
                results[i] = similarity.shared_semantic_labels(
                    spark, SF_DIR_SMALL
                )
            except Exception as exc:
                errors.append(exc)

        threads = [
            threading.Thread(target=worker, args=(i,), name=f"sem-{i}")
            for i in range(n)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=180)
    finally:
        similarity._bucket_pairs_gemm = real_gemm
        dedup.connected_components = real_cc
    assert not errors, errors
    assert len(gemm_calls) == 1, gemm_calls
    assert len(cc_calls) == 1, cc_calls
    assert all(r is results[0] for r in results)
    assert results[0].count() >= 0
    dedup.invalidate_shared_candidates()


def test_shared_candidates_rewrite_invalidates(spark, tmp_path):
    """Rewriting documents.parquet at the SAME path within one application
    must re-materialize: the content fingerprint is part of the cache key,
    so the old corpus's candidate pairs are never served for the new one."""
    from iceberg_explorer_spark.operators import dedup

    d = str(tmp_path / "rw")
    dup = "the quick brown fox jumps over the lazy dog again and again"
    spark.createDataFrame(
        [(1, dup, "en", "web", len(dup)), (2, dup, "en", "web", len(dup))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    first = dedup.shared_lsh_candidates(spark, d)
    assert first.count() == 1  # the duplicate pair is a candidate

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "one two three four five six seven eight nine",
    ]
    spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in enumerate(texts, 10)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    second = dedup.shared_lsh_candidates(spark, d)
    assert second is not first
    assert second.count() == 0  # no near-dups in the rewritten corpus
    dedup.invalidate_shared_candidates(d)


def test_multi_table_kind_fingerprints_both_inputs(spark, tmp_path):
    """shared_incremental_status is the first MULTI-TABLE cache kind: the
    waterfall reads documents AND embeddings, so (1) a repeat call is a
    cache hit (same frame object); (2) rewriting EMBEDDINGS alone
    re-materializes, and the fresh frame reflects the new vectors (the
    semantic stage flips); (3) rewriting DOCUMENTS alone re-materializes
    too; (4) a multi-table rebuild never evicts a live single-table
    entry (each kind has its own slot — the r8 cross-table eviction
    lesson)."""
    import numpy as np

    from iceberg_explorer_spark.operators import dedup
    from iceberg_explorer_spark.operators.pipeline import (
        shared_incremental_status,
    )
    from iceberg_explorer_spark.operators.similarity import DIM

    d = str(tmp_path / "mt")
    t1 = " ".join(f"alpha{i} beta{i % 5}" for i in range(20))
    t2 = " ".join(f"gamma{i} delta{i % 7}" for i in range(20))
    docs = [(9, t1, "web"), (10, t2, "s1"), (20, t1, "s2")]
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rng = np.random.default_rng(7)

    def _unit():
        v = rng.normal(size=DIM)
        return [float(x) for x in v / np.linalg.norm(v)]

    va, vb = _unit(), _unit()

    def _write_emb(vec10):
        spark.createDataFrame(
            [(9, va, 0), (10, vec10, 0)],
            "vec_id long, embedding array<float>, label int",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{d}/embeddings.parquet"
        )

    _write_emb(vb)  # doc 10's vector is novel
    first = shared_incremental_status(spark, d)
    stages = {r["doc_id"]: r["stage"] for r in first.collect()}
    assert stages == {10: "kept", 20: "exact"}, stages
    assert shared_incremental_status(spark, d) is first  # (1) cache hit
    lsh = dedup.shared_lsh_candidates(spark, d)

    # (2) embeddings-only rewrite: doc 10 now shares history doc 9's
    # vector -> the semantic stage claims it
    _write_emb(va)
    second = shared_incremental_status(spark, d)
    assert second is not first
    stages2 = {r["doc_id"]: r["stage"] for r in second.collect()}
    assert stages2 == {10: "semantic", 20: "exact"}, stages2
    # (4) the documents-keyed LSH entry survived the multi-table rebuild
    assert dedup.shared_lsh_candidates(spark, d) is lsh

    # (3) documents-only rewrite: doc 10's text becomes an exact copy of
    # history doc 9's -> first-claim moves to the exact stage
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in
         [(9, t1, "web"), (10, t1, "s1"), (20, t1, "s2")]],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    third = shared_incremental_status(spark, d)
    assert third is not second
    stages3 = {r["doc_id"]: r["stage"] for r in third.collect()}
    assert stages3 == {10: "exact", 20: "exact"}, stages3

    # (5) a documents-only rewrite followed by a SINGLE-TABLE documents
    # build leaves at most one entry per kind: the stale multi-table
    # entry keeps its one slot until its own kind is rebuilt, so
    # repeated rewrites can never pile up dead checkpoint blocks.
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in
         [(9, t1, "web"), (10, t2, "s1"), (20, t1, "s2")]],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    dedup.shared_lsh_candidates(spark, d)  # single-table cold build
    with dedup._SHARED_CANDIDATES_LOCK:
        kinds = [k[2] for k in dedup._SHARED_CANDIDATES if k[1] == d]
    assert len(kinds) == len(set(kinds)), kinds
    dedup.invalidate_shared_candidates(d)


def test_build_cleanup_runs_after_materialization_and_on_failure(
    spark, declare_kind, monkeypatch
):
    """A cluster-label build (``_cc_labels``) must release the CC loop's
    interim label persist exactly once, after the miss-path checkpoint
    materializes — and ALSO when the checkpoint raises, so a failed
    build never leaks a pinned frame. A cache hit runs neither."""
    from iceberg_explorer_spark.operators import dedup

    ccs = []
    real_cc = dedup.connected_components

    def capturing(edges):
        cc = real_cc(edges)
        assert cc.cc_persisted_labels.storageLevel.useMemory
        ccs.append(cc)
        return cc

    monkeypatch.setattr(dedup, "connected_components", capturing)
    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "doc_a long, doc_b long")
    def body():
        return dedup._cc_labels(edges, "doc_id")

    labels = declare_kind("test_cc", body, body)
    out = labels(spark, SF_DIR_SMALL)
    assert sorted(map(tuple, out.collect())) == [
        (1, 1), (2, 1), (3, 1), (7, 7), (8, 7)
    ]
    assert len(ccs) == 1
    assert not ccs[0].cc_persisted_labels.storageLevel.useMemory
    # cache hit: no build, no second release
    assert labels(spark, SF_DIR_SMALL) is out and len(ccs) == 1
    dedup.invalidate_shared_candidates()

    def boom(self, *args, **kwargs):
        raise RuntimeError("checkpoint failed")

    monkeypatch.setattr(type(edges), "localCheckpoint", boom)
    with pytest.raises(RuntimeError, match="checkpoint failed"):
        labels(spark, SF_DIR_SMALL)
    assert len(ccs) == 2
    assert not ccs[1].cc_persisted_labels.storageLevel.useMemory


def test_corpus_is_tokenized_at_most_once_per_session(spark):
    """The r9 tokenize-once contract: the shingle table is a shared keyed
    checkpoint (kind="shingles"), so a cold probe build followed by a cold
    LSH build — and any number of verify operators after them — runs the
    tokenize+hash+distinct pipeline exactly ONCE for the corpus. Before
    r9 each build persisted a private build-scoped copy (the r8 bench
    measured the probe build re-paying the scan the LSH build had just
    paid)."""
    from iceberg_explorer_spark.operators import dedup

    dedup.invalidate_shared_candidates()
    captured = []
    real = dedup.hashed_shingles

    def capturing(*args, **kwargs):
        df = real(*args, **kwargs)
        captured.append(df)
        return df

    dedup.hashed_shingles = capturing
    try:
        dedup.shared_probe_candidates(spark, SF_DIR_SMALL)
        dedup.shared_lsh_candidates(spark, SF_DIR_SMALL)
        # a verify operator reads the same checkpoint, no new tokenize
        dedup.dedup_containment(spark, SF_DIR_SMALL).collect()
    finally:
        dedup.hashed_shingles = real
    assert len(captured) == 1  # one tokenize for probe + lsh + verify
    # and nothing left pinned in Spark's block-manager cache: the shared
    # value is a checkpoint in the LRU, not an unbounded session persist
    assert not captured[0].storageLevel.useMemory
    dedup.invalidate_shared_candidates()


def test_candidate_families_over_different_tables_coexist(spark):
    """Entries over different input tables coexist: the semantic
    kinds fingerprint embeddings.parquet while lsh/probe fingerprint
    documents.parquet, and the two fingerprints always differ — the
    unscoped r8 staleness comparison read that as 'superseded' and made
    each family's cold build evict the other's live entries (a rebuild
    ping-pong the bench measured as dedup_semantic_clusters timing its
    full build on every call). Both families must stay cached side by
    side, and a repeat call must return the SAME materialization."""
    from iceberg_explorer_spark.operators import dedup
    from iceberg_explorer_spark.operators.similarity import (
        shared_semantic_edges,
    )

    dedup.invalidate_shared_candidates()
    lsh = dedup.shared_lsh_candidates(spark, SF_DIR_SMALL)
    sem = shared_semantic_edges(spark, SF_DIR_SMALL)
    assert dedup.shared_lsh_candidates(spark, SF_DIR_SMALL) is lsh
    assert shared_semantic_edges(spark, SF_DIR_SMALL) is sem
    with dedup._SHARED_CANDIDATES_LOCK:
        kinds = {k[-1] for k in dedup._SHARED_CANDIDATES
                 if k[1] == SF_DIR_SMALL}
    assert {"lsh", "semantic"} <= kinds
    dedup.invalidate_shared_candidates()


def test_warm_hit_never_blocks_behind_other_key_cold_build(
    spark, declare_kind
):
    """The registry lock is held only for dict reads/inserts — a warm
    cache hit must return promptly while ANOTHER key's multi-second cold
    build is in flight (the semantic family's ~4 s builds made the old
    build-spanning global lock a real stall for unrelated queries)."""
    import time

    gate = threading.Event()
    started = threading.Event()

    def slow_build():
        started.set()
        assert gate.wait(timeout=60)
        return spark.range(2).toDF("doc_a")

    warm = declare_kind("test_warm", lambda: spark.range(1).toDF("doc_a"))
    cold = declare_kind("test_cold", slow_build)
    warmed = warm(spark, SF_DIR_SMALL)
    t = threading.Thread(
        target=lambda: cold(spark, SF_DIR_SMALL), name="cold-build"
    )
    t.start()
    assert started.wait(timeout=10)
    t0 = time.monotonic()
    hit = warm(spark, SF_DIR_SMALL)
    dt = time.monotonic() - t0
    gate.set()
    t.join(timeout=60)
    assert hit is warmed and hit.count() == 1
    assert dt < 2.0, f"warm hit stalled {dt:.1f}s behind a cold build"


def test_build_in_flight_during_invalidation_does_not_reenter_cache(
    spark, declare_kind
):
    """Builds run outside the registry lock, so a build that straddles an
    invalidate_shared_candidates call must NOT insert its result
    afterwards — that would resurrect an entry the caller explicitly
    cleared. The caller still receives the built frame (correct for the
    corpus state at build time); only the cache entry is declined."""
    from iceberg_explorer_spark.operators import dedup

    started = threading.Event()
    gate = threading.Event()
    out: list = []

    def slow_build():
        started.set()
        assert gate.wait(timeout=60)
        return spark.range(3).toDF("doc_a")

    straddling = declare_kind(
        "test_straddle", slow_build, lambda: spark.range(5).toDF("doc_a")
    )
    t = threading.Thread(
        target=lambda: out.append(straddling(spark, SF_DIR_SMALL)),
        name="straddling-build",
    )
    t.start()
    assert started.wait(timeout=10)
    dedup.invalidate_shared_candidates()  # while the build is in flight
    gate.set()
    t.join(timeout=60)
    assert out and out[0].count() == 3  # the builder still got its frame
    with dedup._SHARED_CANDIDATES_LOCK:
        assert not [
            k for k in dedup._SHARED_CANDIDATES if k[1] == SF_DIR_SMALL
        ], "invalidated-mid-build entry resurrected in the cache"
    # and the NEXT call is a fresh materialization
    fresh = straddling(spark, SF_DIR_SMALL)
    assert fresh.count() == 5 and fresh is not out[0]


def test_inflight_frame_survives_cache_invalidation(spark):
    """Invalidation drops the registry's strong reference, but an
    in-flight consumer holding the checkpointed DataFrame must keep
    working: ContextCleaner frees the blocks only after the LAST Python
    reference is garbage collected, so a long-running streaming export
    that started before an invalidate (or an LRU eviction) never reads
    freed blocks. Pins the lifetime contract the service layer relies
    on."""
    from iceberg_explorer_spark.operators import dedup

    dedup.invalidate_shared_candidates()
    df = dedup.shared_lsh_candidates(spark, SF_DIR_SMALL)
    before = df.count()
    dedup.invalidate_shared_candidates(SF_DIR_SMALL)
    import gc

    gc.collect()  # our `df` reference keeps the checkpoint alive anyway
    assert df.count() == before  # still fully readable post-invalidate
    # and the next cache call is a fresh materialization, not our frame
    assert dedup.shared_lsh_candidates(spark, SF_DIR_SMALL) is not df
    dedup.invalidate_shared_candidates()


def test_fingerprint_detects_metadata_preserving_rewrite(tmp_path):
    """A rewrite that preserves size AND mtime (cp -p / touch -r /
    timestamp-preserving object-store sync) must still change the corpus
    fingerprint: the footer-tail bytes are part of it, so metadata-only
    forgery is not enough to get a stale cache hit."""
    from iceberg_explorer_spark.sources.registry import table_fingerprint

    d = tmp_path / "meta"
    d.mkdir()
    p = d / "documents.parquet"
    p.write_bytes(b"A" * 200)
    st = p.stat()
    fp1 = table_fingerprint(str(d), "documents")
    # same length, different trailing bytes, mtime restored exactly
    p.write_bytes(b"A" * 199 + b"B")
    import os as _os

    _os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert p.stat().st_size == st.st_size
    assert p.stat().st_mtime_ns == st.st_mtime_ns
    fp2 = table_fingerprint(str(d), "documents")
    assert fp2 != fp1
    # tiny files (shorter than the tail window) fingerprint fine too
    p.write_bytes(b"xy")
    assert table_fingerprint(str(d), "documents") not in (fp1, fp2)


def test_rewrite_evicts_stale_fingerprint_entry(spark, tmp_path):
    """After an in-place rewrite re-materializes, the OLD fingerprint's
    entry for the same (application, corpus dir, kind) must be replaced,
    not shadowed — it can never be served again, and keeping it would pin
    dead checkpoint blocks until age-out."""
    from iceberg_explorer_spark.operators import dedup
    from iceberg_explorer_spark.sources.registry import table_fingerprint

    dedup.invalidate_shared_candidates()
    d = str(tmp_path / "evict")
    for ver, word in enumerate(("original", "rewritten")):
        text = f"{word} corpus text body shared by nobody else at all {ver}"
        spark.createDataFrame(
            [(1, text, "en", "web", len(text))],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        dedup.shared_lsh_candidates(spark, d)
        with dedup._SHARED_CANDIDATES_LOCK:
            mine = {
                k: fp for k, (fp, _df) in dedup._SHARED_CANDIDATES.items()
                if k[1] == d
            }
        # multiple KINDS per dir are fine (the lsh build reads the shared
        # shingle checkpoint since r9) — but one entry per kind, and it
        # holds the current fingerprint: the pre-rewrite generation must
        # be replaced, not shadowed
        kinds = [k[2] for k in mine]
        assert len(kinds) == len(set(kinds)), mine
        current = (table_fingerprint(d, "documents"),)
        assert all(fp == current for fp in mine.values()), mine
    dedup.invalidate_shared_candidates(d)


def test_invalidate_is_scoped_by_dir(spark, tmp_path):
    from iceberg_explorer_spark.operators import dedup

    dirs = []
    for name in ("a", "b"):
        d = str(tmp_path / name)
        text = f"corpus {name} shares no shingles with the other corpus {name}"
        spark.createDataFrame(
            [(1, text, "en", "web", len(text))],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        dirs.append(d)
    fa = dedup.shared_lsh_candidates(spark, dirs[0])
    fb = dedup.shared_lsh_candidates(spark, dirs[1])
    dedup.invalidate_shared_candidates(dirs[0])
    assert dedup.shared_lsh_candidates(spark, dirs[1]) is fb  # b survives
    assert dedup.shared_lsh_candidates(spark, dirs[0]) is not fa  # a rebuilt
    dedup.invalidate_shared_candidates()


# ---------------------------------------------------------------------------
# service executor under parallel queries on ONE session
# ---------------------------------------------------------------------------


def test_parallel_execute_isolated_results(spark):
    """Six queries racing through one executor: each must land COMPLETED
    with ITS OWN rows (job-group and registry state are per-query, not
    per-session)."""
    ex = QueryExecutor(spark)
    n = 6
    out: list = [None] * n
    errors: list = []
    barrier = threading.Barrier(n)

    def worker(i: int) -> None:
        try:
            barrier.wait(timeout=30)
            res = ex.execute(
                f"SELECT COUNT(*) AS c, SUM(id) AS s FROM range({(i + 1) * 1000})"
            )
            out[i] = res
        except Exception as exc:
            errors.append((i, exc))

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    for i, res in enumerate(out):
        n_i = (i + 1) * 1000
        assert res.status == QueryStatus.COMPLETED
        row = pa.Table.from_batches(res.batches).to_pylist()[0]
        assert row["c"] == n_i and row["s"] == n_i * (n_i - 1) // 2, (i, row)


def test_cancel_one_while_others_complete(spark):
    """Cancel a long-running query mid-flight while short queries race on
    the same session: only the cancelled query's state flips, the rest
    complete with correct results (cancelJobGroup is scoped to the query's
    job group)."""
    ex = QueryExecutor(spark)
    slow_done = threading.Event()
    slow_res: list = []

    def run_slow() -> None:
        try:
            # ~2e11 rows to count: minutes of work if not cancelled
            slow_res.append(ex.execute("SELECT COUNT(*) AS c FROM range(200000000000)"))
        except Exception as exc:
            slow_res.append(exc)
        finally:
            slow_done.set()

    slow = threading.Thread(target=run_slow, daemon=True)
    slow.start()
    # wait for it to register as active
    for _ in range(200):
        active = ex.active_queries()
        if active:
            break
        threading.Event().wait(0.05)
    assert active, "slow query never became active"
    qid = active[0]

    fast = ex.execute("SELECT 41 + 1 AS answer")
    assert fast.status == QueryStatus.COMPLETED
    assert pa.Table.from_batches(fast.batches).to_pylist() == [{"answer": 42}]

    assert ex.cancel(qid) is True
    assert slow_done.wait(timeout=60), "cancelled query did not unwind"
    assert ex.get_status(qid).status == QueryStatus.CANCELLED
    # the fast query's terminal state is untouched by the cancellation
    assert fast.status == QueryStatus.COMPLETED
    ex.cleanup(qid)


def test_eager_checkpoints_stay_in_callers_job_group(spark):
    """A builder's concurrent eager checkpoints run on pool threads; their
    jobs must stay in the caller's job group, or cancelJobGroup and the
    executor timeout cannot reach them."""
    from concurrent.futures import ThreadPoolExecutor

    from iceberg_explorer_spark.operators import QUERIES

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = "test-eager-checkpoints"

    def build() -> None:
        # a thread of its own, like an executor query: the group ends with it
        sc.setJobGroup(group, "eager checkpoints under one group", True)
        df = QUERIES["text_heldout_perplexity"].builder(spark, SF_DIR_SMALL)
        df.write.format("noop").mode("overwrite").save()

    with ThreadPoolExecutor(max_workers=1) as pool:
        pool.submit(build).result()
    assert tracker.getJobIdsForGroup(group)
    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped


def test_parallel_execute_and_stream(spark):
    """Execute-and-stream on competing threads: the NDJSON protocol for
    each query sees only that query's rows (registry lookups race-free)."""
    from iceberg_explorer_spark.service.streaming_results import stream_results

    ex = QueryExecutor(spark)
    n = 4
    payloads: list = [None] * n
    errors: list = []
    barrier = threading.Barrier(n)

    def worker(i: int) -> None:
        try:
            barrier.wait(timeout=30)
            res = ex.execute(
                f"SELECT id, id * {i + 1} AS x FROM range(250) ORDER BY id"
            )
            msgs = [json.loads(line) for line in stream_results(res, page_size=250)]
            payloads[i] = msgs
        except Exception as exc:
            errors.append((i, exc))

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    for i, msgs in enumerate(payloads):
        assert msgs[0]["type"] == "metadata" and msgs[0]["total_rows"] == 250
        rows = [r for m in msgs if m["type"] == "data" for r in m["rows"]]
        assert len(rows) == 250
        assert all(r[1] == r[0] * (i + 1) for r in rows), i
        assert msgs[-1]["type"] == "complete"


def test_concurrent_csv_exports_are_isolated():
    """Two CSV exports draining on competing threads must each emit a
    complete, self-consistent byte stream (stream_csv keeps per-call
    buffer state; a shared/global buffer would interleave rows across
    downloads)."""
    import csv as _csv
    import io

    from iceberg_explorer_spark.lifecycle.models import QueryResult
    from iceberg_explorer_spark.service.export import stream_csv

    def make(n, tag):
        res = QueryResult(sql="SELECT ...")
        res.set_result(
            pa.table({"id": list(range(n)), "tag": [tag] * n})
        )
        res.status = QueryStatus.COMPLETED
        return res

    specs = [(3000, "alpha"), (2000, "beta"), (2500, "gamma")]
    outputs: list = [None] * len(specs)
    errors: list = []
    barrier = threading.Barrier(len(specs))

    def worker(i: int, n: int, tag: str) -> None:
        try:
            barrier.wait(timeout=30)
            outputs[i] = b"".join(stream_csv(make(n, tag))).decode("utf-8")
        except Exception as exc:
            errors.append((i, exc))

    threads = [
        threading.Thread(target=worker, args=(i, n, tag))
        for i, (n, tag) in enumerate(specs)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not errors, errors
    for (n, tag), raw in zip(specs, outputs):
        rows = list(_csv.reader(io.StringIO(raw)))
        assert rows[0] == ["id", "tag"]
        assert len(rows) == n + 1
        assert all(r[1] == tag for r in rows[1:])  # no cross-export bleed
        assert [int(r[0]) for r in rows[1:]] == list(range(n))


# ---------------------------------------------------------------------------
# BucketedArtifactStore: idempotent (replayable) appends — r14, the store's
# retried-append gap (VERDICT r13 #4)
# ---------------------------------------------------------------------------


def test_replayed_store_append_is_noop(spark):
    """The store's idempotent-append contract: an append carrying a
    ``batch_id`` lands exactly once — (1) a REPLAY of the same batch
    (the crashed-and-retried nightly ingest) returns False and adds no
    rows; (2) a different night's id still lands; (3) provenance
    survives compaction, so replay detection holds across the
    maintenance cycle; (4) ``read`` never exposes the provenance
    column (probe frames/unions stay byte-identical to pre-r14);
    (5) N concurrent retries of ONE batch land exactly once (the store
    lock serializes probe+write); (6) a partial multi-artifact night
    heals on replay — already-landed artifacts no-op, missed ones
    land; (7) the provenance column is the store's own (a caller
    frame carrying it is refused loudly); (8) an id-less append keeps
    the pre-r14 non-transactional semantics (a retry doubles — the
    documented reason production passes batch ids)."""
    import pytest
    from pyspark.sql import functions as F

    from iceberg_explorer_spark.operators.incremental_artifacts import (
        _BATCH_COL,
        BucketedArtifactStore,
    )

    def digests(lo, hi):
        return spark.range(lo, hi).select(
            F.md5(F.col("id").cast("string")).alias("h")
        )

    store = BucketedArtifactStore(spark, "t_art_replay", n_buckets=2)
    try:
        store.write("digests", digests(0, 40))
        inc1 = digests(1000, 1010)
        # (1) first landing True, replay False and row-count flat
        assert store.append("digests", inc1, batch_id="night-1") is True
        assert store.read("digests").count() == 50
        assert store.append("digests", inc1, batch_id="night-1") is False
        assert store.read("digests").count() == 50
        # (2) a different night still lands
        assert store.append("digests", digests(2000, 2005),
                            batch_id="night-2") is True
        assert store.read("digests").count() == 55
        # (3) compaction preserves provenance: the replay is still
        # detected afterwards and adds nothing
        store.compact()
        assert store.append("digests", inc1, batch_id="night-1") is False
        assert store.append("digests", digests(2000, 2005),
                            batch_id="night-2") is False
        assert store.read("digests").count() == 55
        # (4) consumers never see the provenance column
        assert _BATCH_COL not in store.read("digests").columns
        # (5) concurrent retries of one batch: exactly one lands
        inc3 = digests(3000, 3010)
        results = []
        threads = [
            threading.Thread(
                target=lambda: results.append(
                    store.append("digests", inc3, batch_id="night-3")
                )
            )
            for _ in range(4)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert sorted(results) == [False, False, False, True]
        assert store.read("digests").count() == 65
        # (6) the partial-night heal: night-4 landed digests but
        # crashed before shingles — the replay no-ops the landed
        # artifact and lands the missed one
        store.write(
            "shingles",
            spark.range(0, 10).select(
                F.col("id").alias("doc_id"), F.col("id").alias("hb")
            ),
        )
        assert store.append("digests", digests(4000, 4004),
                            batch_id="night-4") is True
        sh_inc = spark.range(100, 104).select(
            F.col("id").alias("doc_id"), F.col("id").alias("hb")
        )
        assert store.append("digests", digests(4000, 4004),
                            batch_id="night-4") is False
        assert store.append("shingles", sh_inc, batch_id="night-4") is True
        assert store.read("digests").count() == 69
        assert store.read("shingles").count() == 14
        # (7) the provenance column is the store's own
        with pytest.raises(ValueError, match="stamps provenance"):
            store.append(
                "digests",
                digests(5000, 5001).withColumn(_BATCH_COL, F.lit("forged")),
                batch_id="night-5",
            )
        # (8) id-less appends keep the documented legacy semantics: a
        # retry lands twice (what batch ids exist to prevent)
        assert store.append("digests", digests(6000, 6002)) is True
        assert store.append("digests", digests(6000, 6002)) is True
        assert store.read("digests").count() == 73
    finally:
        store.drop()


def test_replayed_append_generative_schedules(spark):
    """Generative hammer for the idempotent-append contract: three
    deterministic pseudo-random multi-night SCHEDULES (md5-seeded) of
    interleaved operations — land a new batch, REPLAY a uniformly
    chosen earlier batch, or COMPACT — driven against a Python model
    of what the artifact must contain. Invariants after every step:
    (1) a replay returns False and the artifact's row count equals the
    model's (no batch ever double-lands, including replays issued
    AFTER compaction rewrote the table); (2) a new batch returns True
    and adds exactly its rows; (3) at the end, the artifact's rows are
    exactly the union of every landed batch (value-checked, not just
    counted). This covers shapes the crafted test does not: replays of
    deep history, multiple compactions between landings, and
    replay-after-compact-after-replay chains."""
    import hashlib

    import pyspark.sql.functions as F

    from iceberg_explorer_spark.operators.incremental_artifacts import (
        BucketedArtifactStore,
    )

    def h(*parts) -> int:
        return hashlib.md5(":".join(map(str, parts)).encode()).digest()[0]

    def digests(lo, n):
        return spark.range(lo, lo + n).select(
            F.md5(F.col("id").cast("string")).alias("h")
        )

    for seed in ("s1", "s2", "s3"):
        store = BucketedArtifactStore(
            spark, f"t_art_gen_{seed}", n_buckets=2
        )
        try:
            store.write("digests", digests(0, 7))
            model = {  # batch_id -> (lo, n) of landed rows
                "__backfill": (0, 7),
            }
            landed_order = []
            next_lo = 1000
            n_ops = 8 + h(seed, "ops") % 5
            for step in range(n_ops):
                kind = h(seed, step, "kind") % 4
                if kind == 0 and landed_order:
                    # replay a uniformly chosen earlier batch
                    bid = landed_order[
                        h(seed, step, "pick") % len(landed_order)
                    ]
                    lo, n = model[bid]
                    assert (
                        store.append("digests", digests(lo, n), batch_id=bid)
                        is False
                    ), (seed, step, bid)
                elif kind == 1:
                    store.compact()
                else:
                    bid = f"night-{step}"
                    n = 3 + h(seed, step, "n") % 5
                    assert (
                        store.append(
                            "digests", digests(next_lo, n), batch_id=bid
                        )
                        is True
                    ), (seed, step, bid)
                    model[bid] = (next_lo, n)
                    landed_order.append(bid)
                    next_lo += 100
                expected = sum(n for _lo, n in model.values())
                assert store.read("digests").count() == expected, (
                    seed, step, kind,
                )
            # exact value check: artifact rows == union of landed rows
            want = None
            for lo, n in model.values():
                d = digests(lo, n)
                want = d if want is None else want.unionByName(d)
            assert (
                store.read("digests")
                .exceptAll(want)
                .unionByName(want.exceptAll(store.read("digests")))
                .count()
                == 0
            ), seed
        finally:
            store.drop()


def test_store_append_contract_edges_r15(spark):
    """Pins the r15 store-contract hardening (ADVICE r14, all three
    items): (1) an EMPTY batch-id increment returns True WITHOUT
    landing rows or provenance, and — because replay detection is
    vacuous for a batch that lands nothing — its replay returns True
    again, now the DEFINED behavior rather than a silent degradation
    of the True-landed/False-replay contract; (2) a batch-id append
    onto a NONEXISTENT table raises instead of CREATE-on-appending an
    increment-only table (the backfill-first contract, inherited at
    the store layer); (3) so does an id-LESS append — the gate covers
    every append, not only the replay-probe hazard."""
    import pytest
    from pyspark.sql import functions as F

    from iceberg_explorer_spark.operators.incremental_artifacts import (
        _BATCH_COL,
        BucketedArtifactStore,
    )

    def digests(lo, hi):
        return spark.range(lo, hi).select(
            F.md5(F.col("id").cast("string")).alias("h")
        )

    store = BucketedArtifactStore(spark, "t_art_edges_r15", n_buckets=2)
    try:
        # (2) backfill-first: idempotent append before write() raises
        with pytest.raises(FileNotFoundError, match="t_art_edges_r15_digests"):
            store.append("digests", digests(0, 3), batch_id="night-0")
        assert not store.exists("digests")
        store.write("digests", digests(0, 10))
        # (1) empty increments: vacuously landed, never recorded
        empty = digests(0, 10).filter(F.lit(False))
        assert store.append("digests", empty, batch_id="night-e") is True
        assert store.read("digests").count() == 10
        assert (
            store.spark.table(store.table_name("digests"))
            .filter(F.col(_BATCH_COL) == "night-e")
            .count()
            == 0
        )  # no provenance row — unrecorded by design
        assert store.append("digests", empty, batch_id="night-e") is True
        assert store.read("digests").count() == 10
        # a non-empty night after the empty one still lands normally
        assert store.append("digests", digests(100, 105),
                            batch_id="night-1") is True
        assert store.append("digests", digests(100, 105),
                            batch_id="night-1") is False
        assert store.read("digests").count() == 15
        # (3) an id-less append onto a missing table raises too
        sh = spark.range(0, 4).select(
            F.col("id").alias("doc_id"), F.col("id").alias("hb")
        )
        with pytest.raises(FileNotFoundError, match="t_art_edges_r15_shingles"):
            store.append("shingles", sh)
        assert not store.exists("shingles")
    finally:
        store.drop()
