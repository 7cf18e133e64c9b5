"""Mechanized window-rotation derivation (VERDICT r16 #2).

The per-round check-window rotation of ``_CHECK_WINDOW`` in
``iceberg_explorer_spark/operators/__init__.py`` (pending plan: ROADMAP.md,
"Smaller carry-overs") follows a written rule:

  window = flagship + the newest operators (first driver rows) + the
  stalest cohort (every query whose LATEST driver row is the oldest
  round present) + a fill from the next-stalest cohort, leaving out the
  N with the MOST prior GREEN rows, tie-break alphabetical-first-out.

Round 16's hand-derived plan counted driver ROWS (red rows included) as
"green rows" — the judge's one real r16 finding.  This script derives
the cohorts from ``CORRECTNESS_r*.json`` directly so a written plan can
quote its output and anyone can re-run it.

A driver row is GREEN iff it ran without error AND every applicable
match flag is true:

  * oracle-bearing rows: ``rows_match`` and ``schema_match`` and
    ``hash_match`` all ``True``;
  * rows-only rows (``err == "no_oracle"``, the declared weaker gate for
    non-SQL-expressible ops): ``spark_rows`` is a non-negative int.

A red row (any False flag, or a traceback in ``err``) is evidence the
query RAN, so it still advances the query's *latest-row* round — the
staleness cohorts are about how old a query's most recent driver
attention is — but it is NOT a green row and never counts toward the
leave-out ranking.  ``tests/test_rotation_plan.py`` pins that rule.

The rotation contract covers ORACLE-BEARING queries (the written plans
have always scoped it so; rows-only sketches are bounded against exact
answers in the local suite instead), so queries registered with
``oracle=None`` are excluded from the cohorts by default.

Usage::

    python scripts/rotation_plan.py            # plan for the NEXT round
    python scripts/rotation_plan.py --leave 12 # override fill leave-out
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def is_green(row: dict) -> bool:
    """True iff a single driver row is a green (passing) row."""
    if not isinstance(row, dict):
        return False
    err = row.get("err")
    if err == "no_oracle":
        # Rows-only gate: the query ran and produced a counted result.
        return isinstance(row.get("spark_rows"), int) and row["spark_rows"] >= 0
    if err:
        return False
    return (
        row.get("rows_match") is True
        and row.get("schema_match") is True
        and row.get("hash_match") is True
    )


def load_history(repo: str = REPO) -> dict[str, dict[int, bool]]:
    """Map query -> {round: green?} across every CORRECTNESS_r*.json."""
    history: dict[str, dict[int, bool]] = defaultdict(dict)
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as fh:
            data = json.load(fh)
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            history[name][rnd] = is_green(row)
    return dict(history)


def oracle_bearing_names() -> "set[str] | None":
    """Registry names with a DuckDB oracle, or None if import fails.

    Importing the operator package pulls in pyspark (no session is
    created); when that is unavailable the caller falls back to the
    unfiltered history.
    """
    try:
        import sys

        if REPO not in sys.path:
            sys.path.insert(0, REPO)
        from iceberg_explorer_spark.operators import QUERIES

        return {n for n, spec in QUERIES.items() if spec.oracle is not None}
    except Exception:
        return None


def cohorts(history: dict[str, dict[int, bool]]):
    """Group queries by the round of their latest driver row."""
    by_latest: dict[int, list[str]] = defaultdict(list)
    for name, rows in history.items():
        by_latest[max(rows)].append(name)
    return {rnd: sorted(names) for rnd, names in by_latest.items()}


def green_count(history: dict[str, dict[int, bool]], name: str) -> int:
    return sum(1 for ok in history.get(name, {}).values() if ok)


def leave_out(
    history: dict[str, dict[int, bool]], cohort: list[str], n: int
) -> list[str]:
    """The n members with the MOST green rows; ties alphabetical-first-out."""
    ranked = sorted(cohort, key=lambda q: (-green_count(history, q), q))
    return sorted(ranked[:n])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--repo", default=REPO)
    ap.add_argument(
        "--leave",
        type=int,
        default=None,
        help="how many of the fill cohort to leave out (default: derived "
        "so the window lands on 50 after flagship+newcomers+stalest)",
    )
    ap.add_argument(
        "--newcomers",
        type=int,
        default=0,
        help="count of never-driven newcomer queries that will lead the "
        "window (they have no driver rows, so the script cannot see them)",
    )
    ap.add_argument(
        "--no-registry-filter",
        action="store_true",
        help="keep rows-only (oracle=None) queries in the cohorts",
    )
    ap.add_argument(
        "--emit-window",
        nargs="*",
        metavar="NEWCOMER",
        default=None,
        help="print the full window as a paste-ready _CHECK_WINDOW "
        "body: flagship, the named newcomers (in the given order), "
        "the whole stalest cohort, then the fill — each group "
        "alphabetical. Implies --newcomers len(args).",
    )
    args = ap.parse_args()
    if args.emit_window is not None:
        args.newcomers = len(args.emit_window)

    history = load_history(args.repo)
    if not args.no_registry_filter:
        bearing = oracle_bearing_names()
        if bearing is not None:
            dropped = sorted(set(history) - bearing)
            history = {n: r for n, r in history.items() if n in bearing}
            if dropped:
                print(f"# excluded rows-only / deregistered: {dropped}")
    by_latest = cohorts(history)
    rounds = sorted(by_latest)
    latest = rounds[-1]

    print(f"# rotation_plan over CORRECTNESS_r{rounds[0]:02d}..r{latest:02d}")
    print(f"# {len(history)} queries with >=1 driver row")
    for rnd in rounds:
        print(f"latest=r{rnd}: {len(by_latest[rnd])} queries")

    stalest = by_latest[rounds[0]] if len(rounds) > 1 else []
    # The stalest cohort comes in whole; the NEXT cohort is the fill.
    fill_cohort = by_latest[rounds[1]] if len(rounds) > 1 else by_latest[latest]

    flagship = 1
    base = flagship + args.newcomers + len(stalest)
    n_leave = args.leave
    if n_leave is None:
        n_leave = max(0, base + len(fill_cohort) - 50)

    out = leave_out(history, fill_cohort, n_leave)
    keep = [q for q in fill_cohort if q not in set(out)]

    print(f"\n# stalest cohort (latest=r{rounds[0]}, ALL {len(stalest)} come in):")
    for q in stalest:
        print(f"  in   {q}  greens={green_count(history, q)}")
    print(
        f"\n# fill cohort (latest=r{rounds[1]}, {len(fill_cohort)} queries, "
        f"leave out {n_leave} by MOST greens, tie alpha-first-out):"
    )
    for q in sorted(fill_cohort, key=lambda q: (-green_count(history, q), q)):
        tag = "OUT " if q in set(out) else "in  "
        print(f"  {tag} {q}  greens={green_count(history, q)}")
    print(
        f"\n# window arithmetic: {flagship} flagship + {args.newcomers} newcomers"
        f" + {len(stalest)} stalest + {len(keep)} fill = "
        f"{flagship + args.newcomers + len(stalest) + len(keep)}"
    )
    print("\n# leave-out list (paste into the plan):")
    for q in out:
        print(f"#   {q}")

    if args.emit_window is not None:
        window = [
            "pipeline_clean_corpus",
            *args.emit_window,
            *sorted(stalest),
            *sorted(keep),
        ]
        assert len(window) == len(set(window)), "window has duplicates"
        print(f"\n# _CHECK_WINDOW body ({len(window)} entries):")
        for q in window:
            print(f'    "{q}",')


if __name__ == "__main__":
    main()
