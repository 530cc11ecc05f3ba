"""Local mirror of the driver's correctness gate.

Runs every catalog query (or the named ones) on Spark AND its DuckDB
oracle over the same parquet, then compares row count, column names, and
an order-insensitive value multiset (rows sorted, columns sorted by name,
values normalized). Each line carries the Spark seconds (build and
``toPandas``) and the oracle seconds, so a sweep also ranks where the
correctness gate's serial budget goes. Use while iterating:
    python tools/check_oracle.py [sf_dir] [query ...] [--conf k=v ...]
``--conf`` (repeatable) sets a session conf, e.g. a configuration sweep
with ``--conf spark.etl.lineageCut.mode=storage``.
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_ender_turing_spark.plans import CATALOG
from etl_ender_turing_spark.plans.runner import oracle_db, run_query
from etl_ender_turing_spark.session import get_spark


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    try:
        if v != v:  # pd.NaT (self-inequal, not a float)
            return "NULL"
    except Exception:
        pass
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm(r[i]) for i in order) for r in rows)
    return out


# dtype "kind buckets" for the driver-canon check: the driver hashes pandas
# frames, so an int64 column vs a float64 column (e.g. DuckDB HUGEINT from a
# window SUM) hash-differ even when values are numerically equal.
_KIND_BUCKET = {"i": "int", "u": "int", "f": "float", "M": "ts",
                "m": "td", "b": "bool", "O": "obj", "S": "obj", "U": "obj"}


def pandas_canon_problems(spdf, odf):
    """Mimic the driver's pandas canonicalization failure modes:
    (1) sort_values over all columns crashes on unhashable cells (lists),
    (2) dtype-kind mismatches (int vs float) hash-differ despite equal values.
    Returns a list of problem strings (empty = clean)."""
    problems = []
    for label, df in (("spark", spdf), ("oracle", odf)):
        try:
            df[sorted(df.columns)].sort_values(list(sorted(df.columns)))
        except TypeError as e:
            problems.append(f"driver-canon: {label} frame unsortable ({e})")
    for col in sorted(set(spdf.columns) & set(odf.columns)):
        sk = _KIND_BUCKET.get(spdf[col].dtype.kind, "?")
        ok = _KIND_BUCKET.get(odf[col].dtype.kind, "?")
        if sk != ok:
            problems.append(
                f"driver-canon: dtype kind mismatch on '{col}': "
                f"spark={spdf[col].dtype} oracle={odf[col].dtype}")
    return problems


def _conf_pair(kv: str) -> tuple[str, str]:
    k, sep, v = kv.partition("=")
    if not (k and sep):
        raise argparse.ArgumentTypeError(f"expected k=v, got {kv!r}")
    return k, v


def main() -> int:
    ap = argparse.ArgumentParser(description="Spark vs DuckDB oracle check")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--conf", type=_conf_pair, action="append", default=[],
                    metavar="K=V", help="session conf (repeatable)")
    args = ap.parse_args()
    sf_dir = args.sf_dir
    con = oracle_db(sf_dir)
    spark = get_spark("oracle-check", extra_conf=dict(args.conf))
    failures = 0
    for name in args.queries or CATALOG:
        try:
            # keep the shared cuts across queries, as the correctness
            # gate's one serial pass does
            (s,) = run_query(spark, sf_dir, name, to_pandas=True,
                             clear_cuts=False)
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        scols, spdf = s.df.columns, s.pdf
        srows = [tuple(r) for r in spdf.itertuples(index=False, name=None)]
        spec = CATALOG[name]
        if spec.oracle is None:
            print(f"ok   {name}: rows-only ({len(srows)} rows) "
                  f"[spark {s.total_s:.2f}s]")
            continue
        t0 = time.perf_counter()
        try:
            odf = con.execute(spec.oracle).df()
            ocols = list(odf.columns)
            orows = [tuple(r) for r in odf.itertuples(index=False, name=None)]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        oracle_s = time.perf_counter() - t0
        problems = pandas_canon_problems(spdf, odf)
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            sc, oc = canon(srows, scols), canon(orows, ocols)
            if sc != oc:
                diff = next(i for i, (a, b) in enumerate(zip(sc, oc)) if a != b) \
                    if sc and oc and len(sc) == len(oc) else -1
                detail = f" first-diff idx {diff}: spark={sc[diff]} oracle={oc[diff]}" \
                    if diff >= 0 else ""
                problems.append("value mismatch" + detail)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures += 1
        else:
            print(f"ok   {name}: {len(srows)} rows hash-match "
                  f"[spark {s.total_s:.2f}s, oracle {oracle_s:.2f}s]")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
