"""Expected outputs, computed once per input by engines other than the
program under test, and cached next to the input.

- citations: DuckDB parses the edge file with the reference's rules
  (trim spaces, drop blank and ``#`` lines, keep rows that split on the
  tab into exactly two non-empty fields), then counts and ranks by
  ``(-citations, paper_id asc)``. The parsed row count must equal the
  generator's own count of valid rows.
- graph: the registry's DuckDB oracle SQL for ``citation_pagerank`` and
  ``citation_random_walks`` over the generated ``lineitem`` columns; the
  walk table is reduced to its row count and an md5 digest.

Run as a script, it makes one input and its expected outputs in a
process of their own, so that neither the generator's nor DuckDB's
memory is counted in the benchmark's ``peak_rss_mb``:

    python3 perfbench/expect.py <state dir> <input name> <seed> <size>

prints ``{"path": ..., "expected": ..., "seconds": ...}``.
"""

from __future__ import annotations

import json
import os
import sys
import time

#: 32-bit md5 prefix of the '|'-joined row, summed over rows: an
#: order-insensitive digest both DuckDB and Spark compute exactly.
WALK_COLS = ("start", "v1", "v2", "v3", "v4")


def duck_digest_sql(inner: str, cols: tuple[str, ...]) -> str:
    joined = ", ".join(f"CAST({c} AS VARCHAR)" for c in cols)
    return (
        "SELECT COUNT(*) AS n, CAST(COALESCE(SUM(CAST(('0x' || substr(md5(concat_ws('|', "
        f"{joined})), 1, 8)) AS BIGINT)), 0) AS BIGINT) AS digest FROM ({inner}) q"
    )


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


def citations(path: str, facts: dict) -> dict:
    con = _duck()
    con.execute(
        f"""
CREATE TEMP VIEW e AS
WITH l AS (
  SELECT trim(line, ' ') AS t
  FROM read_csv('{path}', columns={{'line': 'VARCHAR'}}, delim='\x01',
                header=false, quote='', escape='', auto_detect=false)
),
d AS (SELECT string_split(t, '\t') AS p FROM l WHERE t <> '' AND NOT starts_with(t, '#'))
SELECT p[1] AS from_paper, p[2] AS to_paper
FROM d WHERE len(p) = 2 AND p[1] <> '' AND p[2] <> ''
"""
    )
    n_rows, n_papers = con.sql("SELECT COUNT(*), COUNT(DISTINCT to_paper) FROM e").fetchone()
    if n_rows != facts["valid_rows"]:
        raise RuntimeError(
            f"oracle parsed {n_rows} valid rows, generator wrote {facts['valid_rows']}"
        )
    top = con.sql(
        "SELECT to_paper, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY 1 "
        "ORDER BY c DESC, to_paper ASC LIMIT 30"
    ).fetchall()
    return {
        "rows": n_papers,
        "citations": n_rows,
        "top30": [[i + 1, p, c] for i, (p, c) in enumerate(top)],
    }


def graph(path: str, facts: dict) -> dict:
    from mapreduce_citation_spark.registry import all_specs

    specs = all_specs()
    con = _duck()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{path}')")
    pr = con.sql(specs["citation_pagerank"].oracle).fetchall()
    n, digest = con.sql(
        duck_digest_sql(specs["citation_random_walks"].oracle, WALK_COLS)
    ).fetchone()
    return {"pagerank": [[node, rank] for node, rank in pr], "walks": [n, digest]}


_EXPECT = {"citations": citations, "graph": graph}


def ensure_expected(name: str, path: str, facts: dict) -> dict:
    """Expected outputs for one generated input, cached beside it."""
    out = os.path.join(os.path.dirname(path), "expected.json")
    if os.path.exists(out):
        with open(out) as f:
            return json.load(f)
    exp = _EXPECT[name](path, facts)
    tmp = out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(exp, f)
    os.replace(tmp, out)
    return exp


def main(argv: list[str]) -> int:
    state, name, seed, size = argv
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import gen

    t = time.perf_counter()
    path, facts = gen.ensure_input(state, name, int(seed), size)
    expected = ensure_expected(name, path, facts)
    print(json.dumps({"path": path, "expected": expected, "seconds": time.perf_counter() - t}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
