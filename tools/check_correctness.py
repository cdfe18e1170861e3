"""Local approximation of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 on Spark AND its
``oracle_sql()`` on DuckDB (same parquet registered as views), then
compares row-count, column names, and an order-insensitive value hash.
Values are normalized identically on both sides before hashing
(floats via repr of float64, timestamps to ISO strings) so the check
is about semantics, not client formatting.

Usage: [SPARK_GRAFT_SF_DIR_CHECK=DIR] python tools/check_correctness.py
       [--json PATH] [query ...]

``SPARK_GRAFT_SF_DIR_CHECK`` points the check at another fixture dir
(default: the sf0.01 fixture), e.g. sf0.001 or sf0.1 to prove an
oracle rewrite at more than one scale.

``--json PATH`` additionally writes a driver-artifact-style JSON dict
(per query: rows/schema/hash match flags, row counts, err, and the
gate's cost: ``spark_s`` for the Spark query into pandas, ``oracle_s``
for the DuckDB oracle) so full sweeps can be committed as evidence
(ADVICE r4: the driver window samples 50 queries; the committed
artifact covers the rest).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_CHECK", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v) -> str:
    if v is None or v != v:  # None / NaN
        return "␀"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(df: pd.DataFrame) -> str:
    # column-wise normalization (iterrows would upcast mixed numeric
    # rows to float64 and mask int-vs-float divergence between engines)
    cols = sorted(df.columns)
    norm_cols = [[norm_cell(v) for v in df[c]] for c in cols]
    rows = sorted("|".join(cells) for cells in zip(*norm_cols)) if cols else []
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def norm_int_like(df: pd.DataFrame) -> pd.DataFrame:
    """Widen integer columns to int64 so int32 vs int64 width
    differences (not value differences) don't fail the strict hash."""
    out = df.copy()
    for c in out.columns:
        if str(out[c].dtype).startswith(("int", "uint")):
            out[c] = out[c].astype("int64")
    return out


def main(names: list[str]) -> int:
    import __spark_entry__ as ent

    if os.environ.get("SPARK_GRAFT_VANILLA"):
        # simulate the driver: a bare session without our factory's
        # configs — queries must be self-sufficient
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("correctness-check-vanilla")
            .getOrCreate()
        )
    else:
        from mapreduce_citation_spark.session import get_spark

        spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    json_path = None
    if "--json" in names:
        i = names.index("--json")
        json_path = names[i + 1]
        names = names[:i] + names[i + 2:]
    results: dict[str, dict] = {}

    qs, oracles = ent.queries(), ent.oracle_sql()
    use = names or list(qs)
    failures = 0
    for name in use:
        t0 = time.perf_counter()
        try:
            sdf = qs[name](spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": f"spark: {e}",
                "spark_s": round(time.perf_counter() - t0, 3), "oracle_s": None,
            }
            failures += 1
            continue
        spark_s = round(time.perf_counter() - t0, 3)
        if name not in oracles:
            # every registered query carries a DuckDB oracle as of r6
            # (stats_approx, the last rows-only entry, now emits
            # engine-independent claims) — a missing oracle is a
            # registration bug, not a weaker-check mode
            print(f"FAIL  {name}: no oracle registered")
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": len(sdf),
                "oracle_rows": None, "err": "no_oracle",
                "spark_s": spark_s, "oracle_s": None,
            }
            failures += 1
            continue
        t1 = time.perf_counter()
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": len(sdf),
                "oracle_rows": None, "err": f"oracle: {e}",
                "spark_s": spark_s, "oracle_s": round(time.perf_counter() - t1, 3),
            }
            failures += 1
            continue
        oracle_s = round(time.perf_counter() - t1, 3)
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        if not problems:
            hs, ho = value_hash(norm_int_like(sdf)), value_hash(norm_int_like(odf))
            if hs != ho:
                problems.append(f"hash {hs} vs {ho}")
                try:
                    merged = sdf.merge(odf, how="outer", indicator=True)
                    diff = merged[merged["_merge"] != "both"]
                    if len(diff):
                        print(diff.head(6).to_string())
                except Exception as e:
                    print(f"      (diff unavailable: {e})")
                    print("      spark dtypes:", dict(sdf.dtypes.astype(str)))
                    print("      oracle dtypes:", dict(odf.dtypes.astype(str)))
        results[name] = {
            "rows_match": len(sdf) == len(odf),
            "schema_match": sorted(sdf.columns) == sorted(odf.columns),
            "hash_match": not problems,
            "spark_rows": len(sdf),
            "oracle_rows": len(odf),
            "err": "; ".join(problems) or None,
            "spark_s": spark_s,
            "oracle_s": oracle_s,
        }
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            failures += 1
        else:
            print(f"PASS  {name} ({len(sdf)} rows, spark {spark_s:.1f}s, "
                  f"oracle {oracle_s:.1f}s)")
    if json_path:
        import json

        with open(json_path, "w") as fh:
            json.dump(results, fh, indent=1)
    print(f"\n{len(use) - failures}/{len(use)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
