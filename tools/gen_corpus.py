"""Deterministic synthetic corpus expansion — scaling evidence past
the driver fixtures' 5,000-document cap.

Expands ``sf0.1/documents.parquet`` by an integer replica factor K:
replica r contributes every base document under
``doc_id + r * 10000``, with text passed through a per-replica char
bijection over printable ASCII 33..126 (SPACE FIXED): the affine map
``idx -> (a_r * idx + b_r) mod 94`` with ``b_r = r mod 94`` and
``a_r`` stepping through units mod 94 every 94 replicas — replica 0
is the identity, and all replicas get pairwise-DISTINCT bijections
(a pure rotation has period 94, so K > 94 would silently duplicate
replicas 0..K-95 and manufacture cross-replica pairs). Properties:

- **Within-replica structure is preserved EXACTLY.** A per-char
  bijection with space fixed preserves string equality, lengths,
  word boundaries, and token identity — so word-shingle Jaccard,
  exact-duplicate groups, and 40-char-gram document-frequency
  profiles inside each replica match the base corpus bit-for-bit
  (n_chars is unchanged, text stays non-empty ASCII).
- **Replicas share NO grams.** Cross-replica 40-gram equality would
  require two base windows related by a fixed char rotation with
  aligned spaces — which natural text does not produce. (A first-cut
  word-SUFFIX mutation failed this: grams interior to ≥40-char words
  were replica-invariant, and their document frequency grew ∝ K,
  manufacturing ~K² cross-replica pairs — a construction artifact
  that would masquerade as engine super-linearity.) Near-dup and
  contamination mass therefore grows LINEARLY in K.
- **Id-derived semantics survive.** The stride 10000 is divisible by
  2, 8, and 10, so doc_id % 2 (image/audio), % 8 (BMP dims), and
  % 10 (decontamination benchmark tenth) keep their base meaning.

Output is a ``documents.parquet`` DIRECTORY (per-thread parquet
parts) so Spark's scan parallelizes across files; content is
deterministic (file layout may vary, content never does).

Usage: python tools/gen_corpus.py OUT_DIR K [SRC_DIR]
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

STRIDE = 10000
#: the fixture the expansions copy: sf0.1 holds 5,000 documents
BASE = "/root/testdata/sf0.1"


def _replica_map(k: int) -> pd.DataFrame:
    """(r, from_str, to_str) rows: pairwise-distinct affine char
    bijections; replica 0 is the identity."""
    lo, n = 33, 94  # printable ASCII minus space
    units = [a for a in range(1, n) if a % 2 == 1 and a % 47 != 0]
    assert k <= n * len(units)
    from_str = "".join(chr(lo + c) for c in range(n))
    rows = [
        (
            r,
            from_str,
            "".join(
                chr(lo + ((units[r // n] * c + r % n) % n)) for c in range(n)
            ),
        )
        for r in range(k)
    ]
    return pd.DataFrame(rows, columns=["r", "from_str", "to_str"])


def rg_clause() -> str:
    """Optional ``ROW_GROUP_SIZE`` COPY clause from $SPARK_GRAFT_RG_ROWS.

    r15 (VERDICT r14 #2): the driver's sf0.1 fixtures are single-file,
    single-ROW-GROUP parquet, so a Spark scan can never run more than
    one task per table regardless of split settings — a row group is
    the unit of parquet parallelism. The driver tree is read-only
    (TESTDATA.md), but repo-generated fixtures can opt into multi-
    row-group geometry so core-scaling is measurable locally; DuckDB's
    default (122,880 rows) already yields several groups at sf1."""
    v = os.environ.get("SPARK_GRAFT_RG_ROWS")
    return f", ROW_GROUP_SIZE {int(v)}" if v else ""


def generate(out_dir: str, k: int, src_dir: str = BASE) -> str:
    src = os.path.join(src_dir, "documents.parquet")
    out = os.path.join(out_dir, "documents.parquet")
    if os.path.exists(out):
        return out
    os.makedirs(out_dir, exist_ok=True)
    # write to a temp path, rename only on success: an interrupted
    # COPY must not leave a truncated corpus that later scaling runs
    # would silently reuse as the full one
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    con = duckdb.connect()
    con.register("repmap", _replica_map(k))
    con.execute(f"""
COPY (
  SELECT d.doc_id + m.r * {STRIDE} AS doc_id,
         CASE WHEN m.r = 0 THEN d.text
              ELSE translate(d.text, m.from_str, m.to_str) END AS text,
         d.lang, d.source,
         CAST(length(d.text) AS BIGINT) AS n_chars
  FROM '{src}' d CROSS JOIN repmap m
) TO '{tmp}' (FORMAT PARQUET, PER_THREAD_OUTPUT{rg_clause()})
""")
    n = con.execute(f"SELECT COUNT(*) FROM '{tmp}/*.parquet'").fetchone()[0]
    n_src = con.execute(f"SELECT COUNT(*) FROM '{src}'").fetchone()[0]
    assert n == k * n_src, f"expansion wrote {n} rows, expected {k * n_src}"
    os.rename(tmp, out)
    print(f"wrote {n} docs to {out}", file=sys.stderr)
    return out



def _coord_map(k: int, dim: int = 64):
    """Per-replica signed coordinate permutations (orthogonal maps):
    replica r sends coordinate i to (a_r·i + b_r) mod dim (a_r odd →
    bijection) with sign flip where popcount((i+1)·r) is odd.
    Replica 0 is the identity with all +1 signs; all maps are
    pairwise distinct orthogonal transforms, so within-replica
    norms/dot-products (hence cosines and cluster geometry) are
    preserved exactly while replicas fill the space like rotated
    copies — realistic corpus growth for ANN/k-means curves."""
    maps = []
    for r in range(k):
        a = 2 * (r // dim) + 1
        b = r % dim
        perm = [(a * i + b) % dim for i in range(dim)]
        sign = [-1.0 if bin((i + 1) * r).count("1") % 2 else 1.0
                for i in range(dim)]
        maps.append((perm, sign))
    return maps


def generate_embeddings(
    out_dir: str, k: int, src_dir: str = BASE
) -> str:
    """Expand embeddings.parquet ×K under vec_id + r·10000 (stride
    preserves the fixed `vec_id < 10` query side: queries stay the 10
    base vectors while the searched corpus grows — the real ANN
    serving scenario). Labels are preserved, so the 8 coarse
    IVF/k-means structures span the whole expanded corpus."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = os.path.join(src_dir, "embeddings.parquet")
    out = os.path.join(out_dir, "embeddings.parquet")
    if os.path.exists(out):
        return out
    os.makedirs(out_dir, exist_ok=True)
    base = duckdb.connect().execute(
        f"SELECT vec_id, embedding, label FROM '{src}' ORDER BY vec_id"
    ).fetchnumpy()
    emb = np.stack(base["embedding"]).astype(np.float32)  # (n, dim)
    n, dim = emb.shape
    ids, labels = base["vec_id"], base["label"]
    out_ids, out_vecs, out_labels = [], [], []
    for r, (perm, sign) in enumerate(_coord_map(k, dim)):
        v = np.empty_like(emb)
        v[:, perm] = emb * np.asarray(sign, dtype=np.float32)
        out_ids.append(ids + r * STRIDE)
        out_vecs.append(v)
        out_labels.append(labels)
    tbl = pa.table(
        {
            "vec_id": pa.array(np.concatenate(out_ids), pa.int64()),
            "embedding": pa.array(
                list(np.concatenate(out_vecs)), pa.list_(pa.float32())
            ),
            "label": pa.array(np.concatenate(out_labels), pa.int32()),
        }
    )
    assert tbl.num_rows == k * n
    # temp-then-rename: no truncated file survives an interruption
    tmp = out + ".tmp"
    pq.write_table(tbl, tmp, row_group_size=50000)
    os.rename(tmp, out)
    print(f"wrote {tbl.num_rows} vectors to {out}", file=sys.stderr)
    return out

if __name__ == "__main__":
    out_dir, k = sys.argv[1], int(sys.argv[2])
    src = sys.argv[3] if len(sys.argv) > 3 else BASE
    generate(out_dir, k, src)
