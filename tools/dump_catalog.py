"""Regenerate QUERIES.md: the full catalog index (name, certification
mode, newest driver-certified round, operator summary) straight from the
registered CATALOG plus the CORRECTNESS_r*.json history.

Usage: python tools/dump_catalog.py
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_ender_turing_spark.plans import CATALOG

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def newest_driver_rounds() -> dict[str, int]:
    """Per-query newest round with a green row in any CORRECTNESS file —
    the staleness ledger."""
    newest: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        for q, row in json.load(open(f)).items():
            if isinstance(row, dict) and (row.get("hash_match")
                                          or row.get("rows_match")):
                newest[q] = max(newest.get(q, 0), rnd)
    return newest


def main() -> None:
    newest = newest_driver_rounds()
    hist = Counter(newest.get(n, 0) for n in CATALOG)
    ledger = ", ".join(f"r{r}: {c}" for r, c in sorted(hist.items()))
    lines = [
        "# QUERIES — the certified catalog",
        "",
        "Generated by `python tools/dump_catalog.py`. One row per entry in",
        "`__spark_entry__.queries()`; \"oracle\" = the driver hash-compares",
        "the Spark result against this DuckDB SQL at sf0.01 (rows+schema+",
        "values), \"rows-only\" = non-SQL-expressible op with a weaker check.",
        "\"driver\" = newest round with a green row for this query in a",
        "CORRECTNESS_r*.json (r0 = not yet driver-certified).",
        "",
        f"{len(CATALOG)} queries. Staleness ledger: {ledger}.",
        "",
        "| # | query | check | driver | certifies |",
        "|---|---|---|---|---|",
    ]
    for i, (name, spec) in enumerate(CATALOG.items(), 1):
        mode = "oracle" if spec.oracle else "rows-only"
        doc = " ".join(spec.doc.split())
        lines.append(f"| {i} | `{name}` | {mode} |"
                     f" r{newest.get(name, 0)} | {doc} |")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "QUERIES.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"QUERIES.md: {len(CATALOG)} rows")


if __name__ == "__main__":
    main()
