"""Local differential gate — mimics the driver's t2 correctness check.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet tables, then compares:

- row count
- column names (sorted)
- values: columns sorted by name, rows sorted by all columns, floats
  compared exactly AND with np.isclose reporting (so a hash-style
  mismatch is distinguishable from a genuine semantic difference)

Usage: python tools/check_oracle.py [sf_dir] [--json out.json] [query ...]

With ``--json``, also writes a machine-readable artifact (one record per
entry: name, rows, match, secs, problems) — the LOCALCHECK_r{N}.json
the round narrative commits as the post-consolidation verification
record.
"""

from __future__ import annotations

import json
import math
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

DEFAULT_SF = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def duck_conn(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    problems = []
    if len(got) != len(want):
        problems.append(f"row count: spark={len(got)} duckdb={len(want)}")
        return problems
    if sorted(got.columns) != sorted(want.columns):
        problems.append(f"columns: spark={sorted(got.columns)} duckdb={sorted(want.columns)}")
        return problems
    g, w = normalize(got), normalize(want)
    for c in g.columns:
        gv, wv = g[c], w[c]
        # The driver's value hash is dtype-sensitive: DuckDB HUGEINT (any
        # integer sum()) fetches as float64 and hash-mismatches Spark's
        # int64 even when values are identical. Flag the class mismatch
        # hard so it never survives to a driver run again.
        g_int = pd.api.types.is_integer_dtype(gv)
        w_int = pd.api.types.is_integer_dtype(wv)
        g_f = pd.api.types.is_float_dtype(gv)
        w_f = pd.api.types.is_float_dtype(wv)
        if (g_int and w_f) or (g_f and w_int):
            problems.append(
                f"col {c}: DTYPE MISMATCH spark={gv.dtype} duckdb={wv.dtype} "
                "(driver hash will fail — CAST the oracle column, e.g. HUGEINT sum() -> BIGINT)"
            )
        if pd.api.types.is_float_dtype(gv) or pd.api.types.is_float_dtype(wv):
            ga = pd.to_numeric(gv, errors="coerce").to_numpy(dtype=float)
            wa = pd.to_numeric(wv, errors="coerce").to_numpy(dtype=float)
            both_nan = np.isnan(ga) & np.isnan(wa)
            exact = (ga == wa) | both_nan
            if not exact.all():
                close = np.isclose(ga, wa, rtol=1e-12, atol=1e-12) | both_nan
                idx = np.where(~exact)[0][:3]
                detail = "; ".join(f"row{i}: {ga[i]!r} vs {wa[i]!r}" for i in idx)
                if close.all():
                    problems.append(f"col {c}: NOT bit-exact but within 1e-12 ({detail})")
                else:
                    problems.append(f"col {c}: VALUE MISMATCH ({detail})")
        else:
            eq = gv.astype(str).eq(wv.astype(str))
            if not eq.all():
                i = int(np.where(~eq.to_numpy())[0][0])
                problems.append(f"col {c}: MISMATCH row{i}: {gv.iloc[i]!r} vs {wv.iloc[i]!r}")
    return problems


def main() -> int:
    argv = sys.argv[1:]
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            print("usage: check_oracle.py [--json OUT.json] [SF_DIR] [ENTRY ...]",
                  file=sys.stderr)
            return 2
        json_path = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    sf_dir = argv[0] if argv and argv[0].startswith("/") else DEFAULT_SF
    only = [a for a in argv if not a.startswith("/")]

    import __spark_entry__ as e
    from markt_database_analyzer_spark.session import get_spark

    spark = get_spark(app_name="oracle-check", extra_conf={"spark.ui.enabled": "false"})
    con = duck_conn(sf_dir)

    qs, oracles = e.queries(), e.oracle_sql()
    names = [n for n in qs if not only or n in only]
    # Entries whose oracle embeds data-dependent constants rendered for
    # the sf0.01 corpus (the driver's gate SF): the Spark side adapts to
    # the data (by design), so the static SQL only replays it at sf0.01.
    from markt_database_analyzer_spark.catalog import REGISTRY as _REG

    sf_pinned = {n for n, s in _REG.items() if "oracle-sf0.01" in s.tags}

    def release_blocks() -> None:
        # Release blocks between entries: entries that persist/localCheckpoint
        # shared subtrees leave blocks in the block manager; over 400
        # entries in ONE JVM that accumulates into storage-memory
        # pressure that skews late-entry `secs` (ADVICE r10). The
        # getPersistentRDDs sweep uses a private py4j surface absent
        # under Spark Connect, so fall back to clearCache alone.
        try:
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist(False)
        except Exception:
            pass
        spark.catalog.clearCache()

    failures = 0
    records: dict[str, dict] = {}
    for name in names:
        if name in sf_pinned and "sf0.01" not in sf_dir:
            print(f"SKIP  {name}: oracle rendered for sf0.01 (tag oracle-sf0.01)")
            records[name] = {"match": None, "skip": "oracle-sf0.01"}
            continue
        release_blocks()  # untimed: before t0, so cleanup cost never lands in `secs`
        t0 = time.time()
        try:
            got = qs[name](spark, sf_dir).toPandas()
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {exc}")
            failures += 1
            records[name] = {"match": False, "err": f"spark: {exc}"[:300]}
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(got)} rows (no oracle) [{time.time()-t0:.1f}s]")
            records[name] = {
                "match": None, "rows": len(got), "no_oracle": True,
                "secs": round(time.time() - t0, 2),
            }
            continue
        try:
            want = con.execute(oracles[name]).fetchdf()
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error: {exc}")
            failures += 1
            records[name] = {"match": False, "err": f"duckdb: {exc}"[:300]}
            continue
        problems = compare(name, got, want)
        hard = [p for p in problems if "within 1e-12" not in p]
        secs = round(time.time() - t0, 2)
        records[name] = {
            "match": not hard, "rows": len(got), "secs": secs,
            **({"problems": problems[:5]} if problems else {}),
        }
        if hard:
            failures += 1
            print(f"FAIL  {name}: " + " | ".join(problems) + f" [{secs}s]")
        elif problems:
            print(f"WARN  {name}: " + " | ".join(problems) + f" [{secs}s]")
        else:
            print(f"MATCH {name}: {len(got)} rows [{secs}s]")
    print(f"\n{len(names)-failures}/{len(names)} ok")
    if json_path:
        n_match = sum(1 for r in records.values() if r.get("match") is True)
        n_rows_only = sum(1 for r in records.values() if r.get("no_oracle"))
        with open(json_path, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "total": len(records),
                    "match": n_match,
                    "rows_only": n_rows_only,
                    "fail": failures,
                    "entries": records,
                },
                f,
                indent=1,
            )
        print(f"wrote {json_path}: {n_match} match / {n_rows_only} rows-only / {failures} fail")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
