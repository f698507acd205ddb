#!/usr/bin/env python
"""Full-registry foreign-cwd drive: the driver's correctness protocol,
run in-repo so its evidence is a committed, reviewable artifact. A
drive result that lives only outside the repository can fail to land
and leave queries unverifiable; this file makes the evidence
reproducible from the repository alone.

For every registered query it runs the Spark plan AND the DuckDB oracle
at --sf (default sf0.01, the driver's scale) and records per-query
rows_match / schema_match / value_match / err, plus a sha256 of the
normalized Spark result for audit. Run it from ANY cwd:

    python tools/full_registry_drive.py \
        --sf /path/to/sf0.01 --out drive.json

The compare is tests/conftest's: columns sorted by name, rows sorted by
non-float columns, floats matched at rtol/atol 1e-9, arrays as tuples.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

import duckdb  # noqa: E402


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if isinstance(pdf[c].dtype, pd.DatetimeTZDtype):
            pdf[c] = pdf[c].dt.tz_localize(None)
        elif pdf[c].dtype == object:
            pdf[c] = pdf[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
    sort_cols = [c for c in pdf.columns if pdf[c].dtype != float]
    pdf = pdf.sort_values(by=sort_cols or list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True)


def _values_match(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str | None]:
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
            af, bf = av.astype(float), bv.astype(float)
            both_nan = np.isnan(af) & np.isnan(bf)
            ok = both_nan | np.isclose(af, bf, rtol=1e-9, atol=1e-9)
            if not ok.all():
                return False, f"col {c} max abs diff {np.nanmax(np.abs(af - bf))}"
        else:
            both_na = pd.isna(a[c]).to_numpy() & pd.isna(b[c]).to_numpy()
            mism = (av != bv) & ~both_na
            if mism.any():
                i = int(np.argmax(mism))
                return False, f"col {c} row {i}: {av[i]!r} != {bv[i]!r}"
    return True, None


def _frame_sha(pdf: pd.DataFrame) -> str:
    """Audit hash of the normalized frame (floats on a 1e-9 grid so the
    hash is stable across BLAS/codegen noise the compare tolerates)."""
    parts = []
    for c in pdf.columns:
        v = pdf[c]
        if np.issubdtype(v.to_numpy().dtype, np.floating):
            parts.append(np.round(v.to_numpy().astype(float), 9).tobytes())
        else:
            parts.append(repr(list(v)).encode())
    return hashlib.sha256(b"|".join(parts)).hexdigest()[:16]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", required=True, help="output JSON path; no default, so a run never overwrites a committed drive result")
    ap.add_argument("--only", nargs="*", help="subset of query names")
    args = ap.parse_args()

    from minimapreduce_spark import queries as q
    from minimapreduce_spark.catalog import TABLES, table_path
    from minimapreduce_spark.session import get_spark

    spark = get_spark(app_name="full-registry-drive")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{table_path(args.sf, t)}'"
        )

    import __spark_entry__ as entry_mod

    entry_rows = entry_mod.entry(spark).count()

    results: dict[str, dict] = {}
    names = args.only or list(q.queries())
    t_start = time.time()
    for i, name in enumerate(names):
        reg = q.REGISTRY[name]
        rec: dict = {
            "rows_match": None, "schema_match": None, "value_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None, "sha": None,
        }
        t0 = time.time()
        try:
            spdf = _normalize(reg.fn(spark, args.sf).toPandas())
            rec["spark_rows"] = len(spdf)
            rec["sha"] = _frame_sha(spdf)
            if reg.oracle is None:
                rec["rows_match"] = rec["schema_match"] = rec["value_match"] = (
                    len(spdf) >= 0
                )
                rec["note"] = "rows-only (no oracle)"
            else:
                opdf = _normalize(con.execute(reg.oracle).df())
                rec["oracle_rows"] = len(opdf)
                rec["rows_match"] = len(spdf) == len(opdf)
                rec["schema_match"] = list(spdf.columns) == list(opdf.columns)
                if rec["rows_match"] and rec["schema_match"]:
                    rec["value_match"], why = _values_match(spdf, opdf)
                    if why:
                        rec["err"] = why
                else:
                    rec["value_match"] = False
                    rec["err"] = (
                        f"rows {len(spdf)}!={len(opdf)}"
                        if not rec["rows_match"]
                        else f"cols {list(spdf.columns)}!={list(opdf.columns)}"
                    )
        except Exception as e:  # noqa: BLE001 — record, keep driving
            rec["err"] = f"{type(e).__name__}: {e}"[:400]
            rec["rows_match"] = rec["schema_match"] = rec["value_match"] = False
        rec["sec"] = round(time.time() - t0, 2)
        results[name] = rec
        status = "MATCH" if rec["value_match"] else "MISMATCH"
        print(f"[{i + 1}/{len(names)}] {name}: {status} ({rec['sec']}s)",
              file=sys.stderr)

    mismatches = [n for n, r in results.items() if not r["value_match"]]
    try:
        commit = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip()
    except Exception:  # noqa: BLE001
        commit = None
    out = {
        "protocol": "full-registry foreign-cwd drive (driver-equivalent compare)",
        "sf_dir": args.sf,
        "commit": commit,
        "n_queries": len(names),
        "n_match": len(names) - len(mismatches),
        "mismatches": mismatches,
        "entry_rows": entry_rows,
        "elapsed_sec": round(time.time() - t_start, 1),
        "queries": results,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: out[k] for k in
                      ("sf_dir", "commit", "n_queries", "n_match",
                       "mismatches", "elapsed_sec")}))
    sys.exit(1 if mismatches else 0)


if __name__ == "__main__":
    main()
