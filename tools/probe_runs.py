#!/usr/bin/env python3
"""Independent recomputation of the gate-index probe-form statistic
(r15 verdict "what's missing" #3 / next-round #5).

The Scala side stamps `graft.key_runs` (average maximal non-descending
runs of the index's pushed key per parquet FILE, in stored row order)
into each gate index's TBLPROPERTIES at build time, and the streaming
writers route pushed-vs-plain on it (Dedup.measureKeyLayout /
stampProbeStats). This script recomputes the same statistic with
pyarrow only -- no Spark, no repo Scala code -- so the stamp's
scale-invariance claim ("runs/file is a layout property, byte-exact at
x1 and x100") has a committed, one-command external check instead of
the ad-hoc round-15 notebook run.

Usage:
    tools/probe_runs.py <table_dir> <key_column> [--max-runs 12]

<table_dir> is the warehouse directory of a bucketed gate index (the
directory holding its part-*.parquet files). Prints one JSON line with
runs_per_file at FULL float precision (it must compare equal to the
Scala-stamped `graft.key_runs` in the adjacent build line):

    {"table": ..., "key": ..., "files": N, "runs": R,
     "runs_per_file": R/N, "form": "pushed"|"plain"}

Exit status: 0 on success, 1 when no parquet files are found, 2 on a
usage error. The verdict rule mirrors the Scala constant
KeyRunsMax = 12 (Dedup.scala); override with --max-runs.

Ordering parity with the Scala measurement:
  - strings compare as UTF-8 code points (parquet's UNSIGNED byte
    ordering of UTF-8 equals code-point ordering; Java's
    String.compareTo on BMP-only keys agrees -- the four live index
    keys are hex/decimal ASCII, where all three orders coincide);
  - binary compares unsigned lexicographic;
  - integers/floats compare numerically.
Row order within a file is parquet's stored order (row groups in file
order, rows in row-group order) -- exactly what the Scala fold sees
with splits pinned off.
"""
import glob
import json
import os
import sys


def runs_in_file(path: str, key: str) -> int:
    import pyarrow.parquet as pq
    pf = pq.ParquetFile(path)
    runs = 1
    prev = None
    first = True
    for batch in pf.iter_batches(columns=[key], batch_size=65536):
        col = batch.column(0)
        for v in col.to_pylist():
            if v is None:
                # nulls carry no descent evidence (matches the Scala fold)
                prev = None
                first = False
                continue
            if not first and prev is not None and descends(prev, v):
                runs += 1
            prev = v
            first = False
    return runs


def descends(a, b) -> bool:
    if isinstance(a, str) and isinstance(b, str):
        # unsigned UTF-8 byte order == code-point order
        return a.encode("utf-8") > b.encode("utf-8")
    if isinstance(a, (bytes, bytearray)) and isinstance(b, (bytes, bytearray)):
        return bytes(a) > bytes(b)  # python bytes compare unsigned
    return a > b


def main() -> int:
    import argparse
    ap = argparse.ArgumentParser(
        description="pyarrow recomputation of the gate-index probe-form "
                    "statistic (runs/file)")
    ap.add_argument("table_dir")
    ap.add_argument("key_column")
    ap.add_argument("--max-runs", type=float, default=12.0,
                    help="pushed/plain verdict bar (Scala KeyRunsMax)")
    ns = ap.parse_args()
    table_dir, key, max_runs = ns.table_dir, ns.key_column, ns.max_runs
    files = sorted(
        glob.glob(os.path.join(table_dir, "**", "*.parquet"), recursive=True)
        + glob.glob(os.path.join(table_dir, "**", "part-*"), recursive=True)
    )
    # de-dup (part-* may also match *.parquet), skip metadata files
    seen = set()
    parquet_files = []
    for f in files:
        if f in seen or os.path.basename(f).startswith(("_", ".")):
            continue
        seen.add(f)
        parquet_files.append(f)
    # zero-row part files (possible under AQE/bucketed writes) are
    # invisible to the Scala fold, which only counts files observed via
    # ROWS -- counting them here (runs init to 1 per file) would inflate
    # both runs and the denominator and spuriously fail the
    # must-compare-equal check (r16 advice #4)
    import pyarrow.parquet as pq
    parquet_files = [
        f for f in parquet_files if pq.ParquetFile(f).metadata.num_rows > 0
    ]
    if not parquet_files:
        print(json.dumps({"error": f"no parquet files under {table_dir}"}))
        return 1
    total_runs = sum(runs_in_file(f, key) for f in parquet_files)
    rpf = total_runs / len(parquet_files)
    print(json.dumps({
        "table": table_dir,
        "key": key,
        "files": len(parquet_files),
        "runs": total_runs,
        "runs_per_file": rpf,  # full precision: compared to the Scala stamp
        "form": "pushed" if rpf <= max_runs else "plain",
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
