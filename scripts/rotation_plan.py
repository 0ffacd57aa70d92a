"""Compute (never narrate) the driver-window rotation plan.

Usage:
    python scripts/rotation_plan.py           # report + consistency audit
    python scripts/rotation_plan.py --write   # regenerate recert_order.json

The driver hash-checks only the FIRST 50 entries of queries() per round, so
registration order is the coverage rotation knob (catalog._rotation_rank,
which reads the attested set from the packaged recert_order.json).
catalog.py's prose comments drifted twice (ADVICE-r7 item 4, VERDICT-r8
"What's wrong" 1) when these numbers were hand-maintained; this script is the
single source of truth. It derives the plan from the live registry plus the
CORRECTNESS_r*.json evidence files and prints:

  - total registered operators and evidence attested so far,
  - the pending backlog (IDs with no driver row yet), split by rotation rank,
  - the exact 50-ID window the driver will sweep next round,
  - how many further windows the remaining tail needs,
  - any DISAGREEMENT between the packaged recert_order.json and the
    CORRECTNESS files (a stale table, or an ID the registry no longer has).

Round 11 (VERDICT-r10 item 1): with the backlog at 0, the window flips to
STALENESS-ORDERED RE-CERTIFICATION — attested-green IDs are swept oldest
latest-evidence first (r1/r2 vintage before r9/r10). The staleness table
lives in ai_dataingestion_spark/recert_order.json so catalog.py never reads
repo-root artifacts at runtime; --write regenerates it from the CORRECTNESS
files, and the default (verify) mode exits 1 if the packaged table disagrees
with the files (stale table => mis-planned window).

Exit code 0 iff bookkeeping is consistent (no disagreement lines).
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

RECERT_PATH = REPO / "ai_dataingestion_spark" / "recert_order.json"


def correctness_greens() -> dict[str, str]:
    """ID -> latest round file that attested it (rows+schema match, no err).

    Hash-green and rows-only-by-design rows both count: a rows-only driver
    row IS the driver's evidence for oracle-less operators (hash_match is
    null there, never false).
    """
    greens: dict[str, str] = {}
    for path in sorted(REPO.glob("CORRECTNESS_r*.json")):
        rows = json.loads(path.read_text())
        for qid, row in rows.items():
            hash_green = (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match") is not False
                and row.get("err") is None
            )
            # rows-only-by-design driver row: no oracle, but the driver ran
            # the Spark query and recorded a non-null row count.
            rows_only = (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
                and row.get("spark_rows") >= 0
            )
            if hash_green or rows_only:
                greens[qid] = path.name
    return greens


def latest_green_round() -> dict[str, int]:
    """ID -> the highest round NUMBER whose CORRECTNESS file attested it."""
    latest: dict[str, int] = {}
    for path in sorted(REPO.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", path.name)
        rnd = int(m.group(1)) if m else 0
        rows = json.loads(path.read_text())
        for qid, row in rows.items():
            green = (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match") is not False
                and row.get("err") is None
            )
            rows_only = (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
                and row.get("spark_rows") >= 0
            )
            if green or rows_only:
                latest[qid] = max(latest.get(qid, 0), rnd)
    return latest


def write_recert_table() -> dict[str, int]:
    latest = latest_green_round()
    RECERT_PATH.write_text(
        json.dumps(
            {
                "_comment": (
                    "Generated by scripts/rotation_plan.py --write from the "
                    "repo-root CORRECTNESS_r*.json files; consumed by "
                    "catalog.all_specs() to staleness-order the attested-"
                    "green rotation tail. Regenerate after each driver round."
                ),
                "latest_green_round": dict(sorted(latest.items())),
            },
            indent=1,
        )
        + "\n"
    )
    return latest


def main(argv: list[str]) -> int:
    if "--write" in argv:
        latest = write_recert_table()
        print(f"wrote {RECERT_PATH} ({len(latest)} IDs)")
        return 0

    from ai_dataingestion_spark.catalog import (
        _latest_green_round,
        _rotation_rank,
        all_specs,
    )

    specs = all_specs()
    names = list(specs)
    greens = correctness_greens()
    # Pending = no green file evidence (VERDICT-r9 item 4).
    pending = [n for n in names if n not in greens]
    window = names[:50]
    windows_left = -(-len(pending) // 50)  # ceil

    latest_files = latest_green_round()
    latest_packaged = _latest_green_round()

    def rank(n: str) -> int:
        return _rotation_rank(specs[n], latest_packaged)

    print(f"registered operators : {len(names)}")
    print(f"attested green (files): {len(set(greens) & set(names))}")
    print(f"pending backlog      : {len(pending)}  (~{windows_left} window(s) at 50/round)")
    by_rank: dict[int, int] = {}
    for n in pending:
        by_rank[rank(n)] = by_rank.get(rank(n), 0) + 1
    print(f"pending by rank      : {dict(sorted(by_rank.items()))}")
    print("\nnext driver window (first 50 of queries()):")
    for i, n in enumerate(window):
        # "pending" means NO green file evidence exists (VERDICT-r9 item 4);
        # a green row the packaged table has not picked up yet is labeled
        # distinctly (the STALE-TABLE audit below names the fix).
        if n in greens:
            if rank(n) >= 4:
                tag = f"re-certify(last green r{latest_files.get(n, 0)})"
            elif rank(n) == 1:
                tag = f"re-check(stale contract, last green r{latest_files.get(n, 0)})"
            else:
                tag = "green-not-in-table"
        else:
            tag = "pending"
        print(f"  {i + 1:2d}. {n}  [{tag}]")
    if len(pending) > 50:
        print(f"\ntail after this window ({len(pending) - 50} IDs):")
        for n in pending[50:] if pending[:50] == window else [p for p in pending if p not in window]:
            print(f"  - {n}")

    problems = []
    # Ledger audit (VERDICT-r14 item 4 — SURVEY.md:1333 drifted by one when
    # the prose sum was hand-maintained): every PROSE operator count must
    # equal the live registry. Checked: README's "**N registered operators**"
    # headline, tests/test_oracle_parity.py's TOTAL_OPERATORS constant, and
    # the LAST "→ N registered" round-outcome line in SURVEY.md §7.2.
    n = len(names)
    readme = (REPO / "README.md").read_text()
    m = re.search(r"\*\*(\d+) registered operators\*\*", readme)
    if not m or int(m.group(1)) != n:
        problems.append(
            f"LEDGER: README.md headline says {m.group(1) if m else '??'} "
            f"operators, registry has {n}"
        )
    parity = (REPO / "tests" / "test_oracle_parity.py").read_text()
    m = re.search(r"TOTAL_OPERATORS = (\d+)", parity)
    if not m or int(m.group(1)) != n:
        problems.append(
            f"LEDGER: TOTAL_OPERATORS = {m.group(1) if m else '??'} "
            f"(test_oracle_parity.py), registry has {n}"
        )
    survey = (REPO / "SURVEY.md").read_text()
    arrows = re.findall(r"\d+ → (\d+) registered", survey)
    if not arrows or int(arrows[-1]) != n:
        problems.append(
            f"LEDGER: SURVEY.md's last round-outcome line says "
            f"→ {arrows[-1] if arrows else '??'} registered, registry has {n}"
        )
    # Staleness-table audit: the packaged recert_order.json must match what
    # the CORRECTNESS files say, else the driver window re-certifies the
    # wrong IDs. (Only IDs in the registry matter.)
    for qid in sorted(set(latest_files) & set(specs)):
        if latest_packaged.get(qid) != latest_files[qid]:
            problems.append(
                f"STALE-TABLE: {qid} recert_order.json says "
                f"r{latest_packaged.get(qid)} but files say r{latest_files[qid]} "
                "(run: python scripts/rotation_plan.py --write)"
            )
    for qid in sorted(set(latest_packaged) - set(specs)):
        problems.append(
            f"UNREGISTERED: {qid} in recert_order.json but not in the registry"
        )
    if problems:
        print("\nBOOKKEEPING DISAGREEMENTS:")
        for p in problems:
            print(f"  {p}")
        return 1
    print("\nbookkeeping consistent: CORRECTNESS greens == recert_order.json")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
