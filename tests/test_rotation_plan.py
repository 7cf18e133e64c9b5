"""Pins for scripts/rotation_plan.py (VERDICT r16 #2).

The r16 round's one real finding was a hand-count slip: the written r17
window plan counted driver ROWS (red rows included) as "green rows".
These tests pin the mechanized derivation's counting rule — a red row is
not a green row — and that the script reproduces the judge's corrected
r17 leave-out from the real artifacts.
"""

import importlib.util
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

spec = importlib.util.spec_from_file_location(
    "rotation_plan", os.path.join(REPO, "scripts", "rotation_plan.py")
)
rotation_plan = importlib.util.module_from_spec(spec)
sys.modules["rotation_plan"] = rotation_plan
spec.loader.exec_module(rotation_plan)


class TestIsGreen:
    def test_all_flags_true_is_green(self):
        assert rotation_plan.is_green(
            {"rows_match": True, "schema_match": True, "hash_match": True,
             "spark_rows": 5, "oracle_rows": 5, "err": None}
        )

    def test_hash_mismatch_is_red(self):
        # THE rule the r16 plan slipped on: pricing_summary's r1 row has
        # rows_match/schema_match True but hash_match False — a driver
        # ROW, not a GREEN row.
        assert not rotation_plan.is_green(
            {"rows_match": True, "schema_match": True, "hash_match": False,
             "spark_rows": 6, "oracle_rows": 6, "err": None}
        )

    def test_error_row_is_red(self):
        assert not rotation_plan.is_green(
            {"rows_match": None, "schema_match": None, "hash_match": None,
             "spark_rows": None, "oracle_rows": None, "err": "Traceback ..."}
        )

    def test_no_oracle_rows_only_pass_is_green(self):
        assert rotation_plan.is_green(
            {"rows_match": None, "schema_match": None, "hash_match": None,
             "spark_rows": 5, "oracle_rows": None, "err": "no_oracle"}
        )

    def test_no_oracle_without_rows_is_red(self):
        assert not rotation_plan.is_green(
            {"rows_match": None, "schema_match": None, "hash_match": None,
             "spark_rows": None, "oracle_rows": None, "err": "no_oracle"}
        )

    def test_non_dict_is_red(self):
        assert not rotation_plan.is_green(None)


class TestLeaveOut:
    def test_most_greens_leave_first_tie_alpha_first_out(self):
        history = {
            "a": {1: True, 2: True},          # 2 greens
            "b": {1: True, 2: False, 3: True},  # 2 greens (red row ignored)
            "c": {1: True},                    # 1 green
            "d": {1: False, 2: False, 3: True},  # 1 green, 3 rows
        }
        # d has the most ROWS but only 1 green: rows never rank it out.
        out = rotation_plan.leave_out(history, ["a", "b", "c", "d"], 2)
        assert out == ["a", "b"]
        out3 = rotation_plan.leave_out(history, ["a", "b", "c", "d"], 3)
        assert out3 == ["a", "b", "c"]  # 1-green tie: c before d alphabetically


class TestRealArtifacts:
    """The corrected r17 derivation against the repo's real artifacts.

    Every pin runs on the history AS OF the round its plan was derived
    from: the r17-era pins on rows ≤ r16, the executed r18 window on
    rows ≤ r17. Driver rows of later rounds landing in the repo must not
    retroactively change what a derivation was."""

    @pytest.fixture(scope="class")
    def full_history(self):
        h = rotation_plan.load_history(REPO)
        bearing = rotation_plan.oracle_bearing_names()
        assert bearing is not None
        return {n: r for n, r in h.items() if n in bearing}

    @staticmethod
    def _as_of(full_history, last_round):
        return {
            n: {rnd: ok for rnd, ok in rows.items() if rnd <= last_round}
            for n, rows in full_history.items()
            if any(rnd <= last_round for rnd in rows)
        }

    @pytest.fixture(scope="class")
    def history(self, full_history):
        return self._as_of(full_history, 16)

    @pytest.fixture(scope="class")
    def history_r17(self, full_history):
        return self._as_of(full_history, 17)

    def test_r14_cohort_is_49_wide(self, history):
        by_latest = rotation_plan.cohorts(history)
        assert len(by_latest[14]) == 49
        assert len(by_latest[13]) == 7

    def test_corrected_r17_leave_out(self, history):
        by_latest = rotation_plan.cohorts(history)
        out = rotation_plan.leave_out(history, by_latest[14], 12)
        assert out == [
            "cube_order_status",
            "dedup_embedding_cosine",
            "filter_projection",
            "multimodal_decode_features",
            "multimodal_metadata",
            "pipeline_domain_mix",
            "pivot_status_by_flag",
            "recursive_calendar_spine",
            "rollup_quantity",
            "scalar_subquery_nation_stats",
            "similarity_ivf_topk",
            "text_language_id",
        ]
        # The five 6-green survivors the corrected plan keeps IN.
        kept = set(by_latest[14]) - set(out)
        for q in (
            "text_pii_redact",
            "text_repetition_filter",
            "window_ntile_navigation",
            "window_range_moving_revenue",
            "window_running_revenue",
        ):
            assert q in kept
            assert rotation_plan.green_count(history, q) == 6

    def test_true_seven_green_set(self, history):
        by_latest = rotation_plan.cohorts(history)
        sevens = sorted(
            q for q in by_latest[14]
            if rotation_plan.green_count(history, q) == 7
        )
        assert sevens == [
            "dedup_embedding_cosine",
            "multimodal_decode_features",
            "similarity_ivf_topk",
            "text_language_id",
        ]

    def test_check_window_matches_derivation(self, history_r17):
        """The pinned r18 window IS flagship+newcomers+stalest+fill,
        derived from the history as of r17 (rows through r17): the four
        r17 newcomers (zero driver rows), the whole 12-wide r14-latest
        stalest cohort, and the r15-latest fill minus its 16-name
        leave-out."""
        from iceberg_explorer_spark.operators import _CHECK_WINDOW

        by_latest = rotation_plan.cohorts(history_r17)
        assert len(by_latest[14]) == 12
        assert len(by_latest[15]) == 49
        out = set(rotation_plan.leave_out(history_r17, by_latest[15], 16))
        newcomers = {
            "similarity_mrl_prefix_topk",
            "similarity_mrl_r_sweep",
            "events_watermark_delay_sweep",
            "events_session_gap_sweep",
        }
        for q in newcomers:  # genuinely zero driver rows
            assert q not in history_r17
        expected = (
            {"pipeline_clean_corpus"}
            | newcomers
            | set(by_latest[14])
            | (set(by_latest[15]) - out)
        )
        assert len(_CHECK_WINDOW) == 50
        assert set(_CHECK_WINDOW) == expected
