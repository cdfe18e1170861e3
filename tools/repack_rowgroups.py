"""Repack an sf fixture directory into multi-row-group parquet.

r15 (VERDICT r14 #2): the driver's sf0.1 fixtures are single-file,
single-ROW-GROUP parquet, so every Spark scan stage is ONE task no
matter the core count — a row group is parquet's unit of split
parallelism — which makes the 8-vs-32-core scaling block structurally
uninformative. The driver tree (/root/testdata) is read-only per
TESTDATA.md, so this tool writes a REPO-LOCAL byte-identical-content
copy with small row groups; point $SPARK_GRAFT_SF_DIR at the output
for repo-side core-scaling measurements. Values are copied verbatim
(pyarrow read → write, same schema); a row-count and per-table
order-independent checksum assert the copy is faithful.

Usage: python tools/repack_rowgroups.py SRC_DIR OUT_DIR [ROWS_PER_GROUP]
  python tools/repack_rowgroups.py /root/testdata/sf0.1 benchdata/sf0.1rg 20000
"""

from __future__ import annotations

import os
import sys

import duckdb
import pyarrow.parquet as pq


def _checksum(con: duckdb.DuckDBPyConnection, path: str) -> tuple[int, int]:
    """(row count, order-independent sum of per-row hashes) — the same
    set-level standard the repo's A/B tools use. The hash is over the
    whole row as one struct: ``COLUMNS(*)`` would expand into one SUM
    per column."""
    n, h = con.execute(
        "SELECT COUNT(*), "
        "COALESCE(SUM(CAST(hash(t::VARCHAR) AS HUGEINT)), 0) "
        f"% 18446744073709551616 FROM read_parquet('{path}') t"
    ).fetchone()
    return int(n), int(h)


def main(args: list[str]) -> int:
    src_dir, out_dir = args[0], args[1]
    rows = int(args[2]) if len(args) > 2 else 20000
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for name in sorted(os.listdir(src_dir)):
        if not name.endswith(".parquet"):
            continue
        src = os.path.join(src_dir, name)
        dst = os.path.join(out_dir, name)
        tbl = pq.read_table(src)
        tmp = dst + ".tmp"
        pq.write_table(tbl, tmp, row_group_size=rows)
        pre = _checksum(con, src)
        post = _checksum(con, tmp)
        assert pre == post, f"{name}: checksum mismatch {pre} vs {post}"
        os.replace(tmp, dst)
        ngroups = pq.ParquetFile(dst).num_row_groups
        print(
            f"{name}: {tbl.num_rows} rows -> {ngroups} row groups",
            file=sys.stderr,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
