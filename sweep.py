#!/usr/bin/env python3
"""Oracle sweep (r8 verdict item 5): replay oracle-paired
``queries()`` keys against their DuckDB oracles at
``$SPARK_GRAFT_SF_DIR`` (default sf0.1) with the strict local gate
(``harness.check``: row count, column names, and exact-repr
canonicalized values — a pass here implies a pass under any
order-insensitive value hash).

Usage:
  python sweep.py [round]      EVERY oracle key; writes the per-key
                               ledger as SWEEP_r{N}.json (same row shape
                               as CORRECTNESS_r*.json).
                               Default round: next after the highest
                               existing *_rNN.json artifact.
  python sweep.py <key> [...]  the named keys only; one JSON line per
                               key, exit 1 unless every key passes.
"""

from __future__ import annotations

import json
import os
import sys
import time

import harness

# release shared persists every RELEASE_EVERY keys so the sweep's
# storage footprint stays bounded (the r6 full-sweep recipe)
RELEASE_EVERY = 40


def check_keys(keys: list[str]) -> None:
    sf_dir = harness.SF_DIR
    spark = harness.start("sweep")
    con = harness.duckdb_con(sf_dir)
    n_pass = 0
    for key in keys:
        row = harness.check(spark, con, sf_dir, key)
        if row["err"]:
            print(row["err"])
        ok = harness.passed(row)
        n_pass += ok
        print(
            json.dumps({"key": key, "ok": ok, "sec": row["sec"], "sf_dir": sf_dir}),
            flush=True,
        )
    print(json.dumps({"n": len(keys), "n_pass": n_pass}))
    sys.exit(0 if n_pass == len(keys) else 1)


def full_sweep(rnd: int) -> None:
    sf_dir = harness.SF_DIR
    out_path = os.path.join(harness.ROOT, f"SWEEP_r{rnd:02d}.json")
    spark = harness.start("sweep")
    con = harness.duckdb_con(sf_dir)

    qs, osql = harness.entrymod.queries(), harness.entrymod.oracle_sql()
    results: dict[str, dict] = {}
    t_start = time.time()
    n_pass = 0
    for i, key in enumerate(osql):
        if key not in qs:
            continue
        if i and i % RELEASE_EVERY == 0:
            harness.release(spark)
        row = harness.check(spark, con, sf_dir, key)
        results[key] = row
        ok = harness.passed(row)
        n_pass += ok
        if not ok:
            print(f"FAIL {key}: {row['err'] or 'value/schema mismatch'}", flush=True)

    payload = {
        "sf_dir": sf_dir,
        "n_keys": len(results),
        "n_pass": n_pass,
        "wall_sec": round(time.time() - t_start, 1),
        "results": results,
    }
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(
        json.dumps(
            {
                "artifact": os.path.basename(out_path),
                "sf_dir": sf_dir,
                "n_keys": len(results),
                "n_pass": n_pass,
                "wall_sec": payload["wall_sec"],
            }
        )
    )


def main() -> None:
    args = sys.argv[1:]
    if len(args) == 1 and args[0].isdigit():
        full_sweep(int(args[0]))
    elif args:
        check_keys(args)
    else:
        full_sweep(harness.next_round())


if __name__ == "__main__":
    main()
