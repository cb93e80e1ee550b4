"""Oracle-parity sweep: registered queries against their DuckDB twins.

Runs each chosen query (default: all of ``queries()``) in a plain,
untuned SparkSession, so ANSI mode and parquet timestamps behave as in
a default Spark install rather than the engine's tuned session, and
compares it with ``oracle_sql()[name]`` run by DuckDB over the same
parquet tables: column names, row count and the multiset of normalized
rows. ``tests/test_oracle_parity.py`` imports the same comparison
(``normalize_cell``, ``frame_to_multiset``) and runs it at sf0.001.

    python scripts/full_verify.py                        # all, sf0.01
    python scripts/full_verify.py q_bm25 q_pagerank \\
        --sf-dir DATA/sf0.001 --sf-dir DATA/sf0.01
    python scripts/full_verify.py --out FULLVERIFY.json  # write artifact

Exit status is 0 when every query matches, 1 otherwise.

``--out`` writes one record per query (keyed ``<sf>:<query>`` when
several ``--sf-dir`` are given):

    {"<query>": {"rows_match": bool, "schema_match": bool,
                 "hash_match": bool, "spark_rows": int,
                 "oracle_rows": int, "err": str | null}, ...}

plus a ``"_meta"`` receipt with the HEAD commit it ran on. So that the
receipt never describes code that did not run, the script refuses
(exit 2) to write an artifact from a dirty working tree unless
``--allow-dirty`` is passed, which records the dirt instead.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize_cell(v):
    """One result cell as a string, so heterogeneous cells (None vs
    float) stay hashable and comparable: floats rounded to 6 places,
    NaN canonical, timestamps via isoformat, bytes as hex, lists
    element-wise."""
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 6))
    if hasattr(v, "isoformat"):  # datetime/date
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return repr([normalize_cell(x) for x in v])
    return repr(v)


def frame_to_multiset(cols, rows):
    """Rows as a counted multiset of normalized tuples, with cells in
    column-name order: blind to column and row order, not to
    multiplicity."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for r in rows:
        key = tuple(normalize_cell(r[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


def _git(args: "list[str]") -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout.strip()


def main(argv: "list[str] | None" = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir", action="append",
        help="table directory, repeatable (default: sf0.01)",
    )
    ap.add_argument("--out", default=None, help="write the JSON artifact here")
    ap.add_argument(
        "--allow-dirty", action="store_true",
        help="write --out despite uncommitted changes (recorded into it)",
    )
    ap.add_argument("queries", nargs="*", help="subset (default: all)")
    args = ap.parse_args(argv)

    if args.out:
        head = _git(["rev-parse", "HEAD"])
        dirty = _git(["status", "--porcelain"])
        if dirty and not args.allow_dirty:
            print(
                "REFUSING: working tree is dirty — the artifact's recorded "
                "HEAD would not describe the code that actually ran. Commit "
                "first, or pass --allow-dirty to record the dirt instead:\n"
                + dirty,
                file=sys.stderr,
            )
            return 2

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod

    sf_dirs = args.sf_dir or [
        os.path.join(os.path.dirname(entry_mod.SMOKE_SF_DIR), "sf0.01")
    ]
    # Plain session: no engine tuning, so ANSI-mode / parquet-nanos
    # behavior matches a default Spark install; one task slot per core.
    spark = SparkSession.builder.master("local[*]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = args.queries or list(queries)

    report: dict[str, dict] = {}
    failures = []
    t_start = time.time()
    for sf in sf_dirs:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf}/{t}.parquet')"
            )
        for name in names:
            label = name if len(sf_dirs) == 1 else f"{os.path.basename(sf)}:{name}"
            row = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "spark_rows": None,
                "oracle_rows": None,
                "err": None,
            }
            t0 = time.time()
            try:
                sdf = queries[name](spark, sf)
                cols = sdf.columns
                rows = [tuple(r) for r in sdf.collect()]
                row["spark_rows"] = len(rows)
                res = con.execute(oracles[name])
                dcols = [d[0] for d in res.description]
                drows = res.fetchall()
                row["oracle_rows"] = len(drows)
                row["rows_match"] = len(rows) == len(drows)
                row["schema_match"] = sorted(cols) == sorted(dcols)
                row["hash_match"] = (
                    frame_to_multiset(cols, rows) == frame_to_multiset(dcols, drows)
                )
            except Exception as exc:  # record, keep sweeping
                row["err"] = f"{type(exc).__name__}: {exc}"[:500]
            report[label] = row
            ok = row["rows_match"] and row["schema_match"] and row["hash_match"]
            if not ok:
                failures.append(label)
            print(
                f"[{label}] {'MATCH' if ok else 'FAIL'} "
                f"rows={row['spark_rows']}/{row['oracle_rows']} "
                f"({time.time() - t0:.1f}s)",
                flush=True,
            )
        con.close()

    checked = len(names) * len(sf_dirs)
    summary = (
        f"{checked - len(failures)}/{checked} MATCH in "
        f"{time.time() - t_start:.0f}s; failures: {failures or 'none'}"
    )
    if args.out:
        # The receipt: the exact tree this sweep ran on, under a
        # non-query key so per-query consumers can skip it.
        report["_meta"] = {
            "head": head,
            "dirty": bool(dirty),
            "sf_dirs": sf_dirs,
            "queries_swept": len(names),
        }
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
        summary = (
            f"wrote {args.out} on {head[:12]}"
            f"{' (DIRTY TREE)' if dirty else ''}: {summary}"
        )
    print(summary)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
