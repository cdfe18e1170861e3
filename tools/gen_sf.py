"""Deterministic full-schema fixture expansion — one decade past the
driver's largest fixture (sf0.1), for the sf1 bench point.

Expands every TPC-H-ish table ×K by replication with per-replica key
shifts chosen CONSISTENTLY across tables, so foreign keys stay intact
and every join's output grows exactly ×K:

- each key family gets stride = 10^ceil(log10(max_key + 1)) computed
  from the SOURCE, and replica r adds ``r * stride`` to the key in
  both the parent table and every child column referencing it
  (o_custkey follows c_custkey, l_orderkey follows o_orderkey, ...);
- non-key columns are copied verbatim: replica value distributions —
  prices, dates, flags, segments — are bit-identical to the base, so
  group-by cardinalities on non-key columns stay constant while
  per-group mass grows ×K (the scaling a bigger warehouse actually
  exhibits);
- region/nation are fixed-cardinality dimensions and are copied;
- documents/embeddings delegate to tools/gen_corpus.py (char-bijection
  / signed-coordinate-permutation expansions with proven K-linear
  near-dup and ANN mass).

Replication CANNOT manufacture cross-replica join or near-dup mass:
keys never collide across replicas by construction (stride > max key),
and the corpus constructions were adversarially checked by
the K-linearity checks of ``tools/scale.py --inputs corpus``.

Fact tables are written PER_THREAD_OUTPUT (a parquet directory) so the
Spark scan parallelizes; dimensions are single files.

Usage: python tools/gen_sf.py OUT_DIR K [SRC_DIR]
  python tools/gen_sf.py benchdata/sf1 10    # the sf1 bench fixtures
"""

from __future__ import annotations

import math
import os
import shutil
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen_corpus  # noqa: E402

# (table, key columns to shift: {col: key-family}) — a family's stride
# comes from its PARENT table's max key, and every referencing column
# shifts by the same stride.
FAMILIES = {
    "custkey": ("customer", "c_custkey"),
    "suppkey": ("supplier", "s_suppkey"),
    "partkey": ("part", "p_partkey"),
    "orderkey": ("orders", "o_orderkey"),
    "eventid": ("events", "event_id"),
}

TABLES = {
    # table -> ({column: family}, fact?)
    "customer": ({"c_custkey": "custkey"}, False),
    "supplier": ({"s_suppkey": "suppkey"}, False),
    "part": ({"p_partkey": "partkey"}, False),
    "orders": ({"o_orderkey": "orderkey", "o_custkey": "custkey"}, True),
    "lineitem": (
        {"l_orderkey": "orderkey", "l_partkey": "partkey",
         "l_suppkey": "suppkey"},
        True,
    ),
    # events.user_id is an FK into customer.c_custkey (and transitively
    # orders.o_custkey) — it MUST shift by the custkey family's stride,
    # not its own max-derived one. r7's generator gave user_id its own
    # 10^4 stride while custkey used 10^5, so replica-1 users collided
    # with BASE customers and replicas 2..9 matched nothing: the sf1
    # events<->customer/orders joins were semantically broken (r8
    # ADVICE, medium). The post-generation assertion below pins this.
    "events": ({"event_id": "eventid", "user_id": "custkey"}, True),
}


def _strides(con: duckdb.DuckDBPyConnection, src_dir: str) -> dict[str, int]:
    out = {}
    for fam, (table, col) in FAMILIES.items():
        mx = con.execute(
            f"SELECT MAX({col}) FROM '{src_dir}/{table}.parquet'"
        ).fetchone()[0]
        out[fam] = 10 ** math.ceil(math.log10(int(mx) + 1))
    return out


def generate(out_dir: str, k: int,
             src_dir: str = "/root/testdata/sf0.1") -> None:
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    strides = _strides(con, src_dir)
    print(f"strides: {strides}", file=sys.stderr)

    for t in ("region", "nation"):
        dst = os.path.join(out_dir, f"{t}.parquet")
        if not os.path.exists(dst):
            shutil.copyfile(os.path.join(src_dir, f"{t}.parquet"), dst)

    for t, (keycols, fact) in TABLES.items():
        src = f"{src_dir}/{t}.parquet"
        dst = os.path.join(out_dir, f"{t}.parquet")
        if os.path.exists(dst):
            print(f"skip {t} (exists)", file=sys.stderr)
            continue
        cols = [
            c[0] for c in con.execute(
                f"DESCRIBE SELECT * FROM '{src}'"
            ).fetchall()
        ]
        sel = ", ".join(
            f"t.{c} + r.r * {strides[keycols[c]]} AS {c}"
            if c in keycols else f"t.{c}"
            for c in cols
        )
        # multi-row-group opt-in (r15, VERDICT r14 #2 — see
        # gen_corpus.rg_clause): a single-row-group file caps every
        # Spark scan at one task; $SPARK_GRAFT_RG_ROWS makes repo-
        # generated fixtures splittable for core-scaling measurements
        per_thread = (", PER_THREAD_OUTPUT" if fact else "") + gen_corpus.rg_clause()
        tmp = dst + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        if os.path.exists(tmp):
            os.remove(tmp)
        con.execute(f"""
COPY (
  SELECT {sel}
  FROM '{src}' t CROSS JOIN (SELECT UNNEST(range({k})) AS r) r
) TO '{tmp}' (FORMAT PARQUET{per_thread})
""")
        glob = f"'{tmp}/*.parquet'" if fact else f"read_parquet('{tmp}')"
        n = con.execute(f"SELECT COUNT(*) FROM {glob}").fetchone()[0]
        n_src = con.execute(f"SELECT COUNT(*) FROM '{src}'").fetchone()[0]
        assert n == k * n_src, f"{t}: wrote {n}, expected {k * n_src}"
        os.rename(tmp, dst)
        print(f"wrote {n} rows to {dst}", file=sys.stderr)

    # FK-consistency assertions: every equi-join used by the bench set
    # must grow EXACTLY ×K (replica keys collide iff both sides shifted
    # by the same family stride). This catches any stride-family
    # mismatch like r7's user_id bug at generation time.
    joins = [
        ("events", "user_id", "customer", "c_custkey"),
        ("events", "user_id", "orders", "o_custkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ]
    for lt, lc, rt, rc in joins:
        def _glob(d: str, t: str) -> str:
            p = os.path.join(d, f"{t}.parquet")
            return f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        base = con.execute(
            f"SELECT COUNT(*) FROM '{src_dir}/{lt}.parquet' a "
            f"JOIN '{src_dir}/{rt}.parquet' b ON a.{lc} = b.{rc}"
        ).fetchone()[0]
        big = con.execute(
            f"SELECT COUNT(*) FROM {_glob(out_dir, lt)} a "
            f"JOIN {_glob(out_dir, rt)} b ON a.{lc} = b.{rc}"
        ).fetchone()[0]
        # a 0-match base join would make the ratio check vacuous and
        # let an r7-style dead-stride FK bug pass silently (ADVICE r8)
        assert base > 0, (
            f"{lt}.{lc} = {rt}.{rc}: BASE join has 0 matches — fixture "
            f"FK is broken before expansion even starts"
        )
        assert big == k * base, (
            f"{lt}.{lc} = {rt}.{rc}: expanded join has {big} rows, "
            f"expected {k}x{base} = {k * base} — a key family's stride "
            f"is inconsistent between the two tables"
        )
        print(f"join {lt}.{lc}={rt}.{rc}: {base} -> {big} (x{k} OK)",
              file=sys.stderr)

    gen_corpus.generate(out_dir, k, src_dir)
    gen_corpus.generate_embeddings(out_dir, k, src_dir)


if __name__ == "__main__":
    out, kk = sys.argv[1], int(sys.argv[2])
    src = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    generate(out, kk, src)
