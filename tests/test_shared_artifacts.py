"""The declared shared-artifact registry (``@shared_artifact`` in
operators/dedup.py): the cache holds every declared kind for two corpora,
and a warm child artifact never resolves its parent."""

from __future__ import annotations

import importlib
import os
import shutil

from tests.conftest import SF_DIR_SMALL

#: every declared artifact accessor, as (module, name)
ACCESSORS = [
    ("dedup", "shared_hashed_shingles"),
    ("dedup", "shared_lsh_candidates"),
    ("dedup", "shared_simhash_hamming"),
    ("dedup", "shared_simhash_labels"),
    ("dedup", "shared_probe_candidates"),
    ("dedup", "shared_lsh_labels"),
    ("similarity", "shared_semantic_edges"),
    ("similarity", "shared_semantic_labels"),
    ("pipeline", "shared_incremental_status"),
    ("pipeline", "shared_incremental_status_v2"),
    ("multimodal", "shared_pair_keys"),
]


def _accessor(module: str, name: str):
    mod = importlib.import_module(f"iceberg_explorer_spark.operators.{module}")
    return getattr(mod, name)


def test_two_corpora_alternate_without_rebuilds(spark, tmp_path):
    """Warm every kind on two corpora, then return to the first: every
    accessor must serve the SAME frame, i.e. the cache holds both
    corpora's artifacts instead of evicting the first one's. (The first
    corpus may already be warm from earlier tests; entries it hits are
    refreshed, so the property holds either way.)"""
    from iceberg_explorer_spark.operators import dedup

    second = tmp_path / "second"
    second.mkdir()
    for f in sorted(os.listdir(SF_DIR_SMALL)):
        shutil.copyfile(f"{SF_DIR_SMALL}/{f}", second / f)
    try:
        first = {n: _accessor(m, n)(spark, SF_DIR_SMALL) for m, n in ACCESSORS}
        for m, n in ACCESSORS:
            _accessor(m, n)(spark, str(second))
        again = {n: _accessor(m, n)(spark, SF_DIR_SMALL) for m, n in ACCESSORS}
        rebuilt = sorted(n for n in first if again[n] is not first[n])
        assert not rebuilt, f"rebuilt after a second corpus: {rebuilt}"
        assert len(dedup._SHARED_ARTIFACTS) == len(ACCESSORS)
    finally:
        dedup.invalidate_shared_candidates(str(second))


def test_warm_label_hit_does_not_rebuild_evicted_parent(spark, monkeypatch):
    """A warm ``lsh_cc`` hit must not resolve its parent: with only the
    ``lsh`` candidate entry gone, the labels come from the cache and the
    candidate pipeline does not run."""
    from iceberg_explorer_spark.operators import dedup

    dedup.invalidate_shared_candidates()
    try:
        labels = dedup.shared_lsh_labels(spark, SF_DIR_SMALL)
        with dedup._SHARED_CANDIDATES_LOCK:
            lsh_keys = [
                k for k in dedup._SHARED_CANDIDATES
                if k[1] == SF_DIR_SMALL and k[-1] == "lsh"
            ]
            assert len(lsh_keys) == 1
            del dedup._SHARED_CANDIDATES[lsh_keys[0]]
        calls = []
        real = dedup.lsh_candidates

        def counting(*args, **kwargs):
            calls.append(1)
            return real(*args, **kwargs)

        monkeypatch.setattr(dedup, "lsh_candidates", counting)
        assert dedup.shared_lsh_labels(spark, SF_DIR_SMALL) is labels
        assert not calls, "warm label hit rebuilt the evicted lsh parent"
    finally:
        dedup.invalidate_shared_candidates()
