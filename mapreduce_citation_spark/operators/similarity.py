"""Similarity search over the ``embeddings`` table (array<float>).

Two paths, per the standard ANN playbook:

- ``knn_brute_cosine``: exact top-k by brute force — the baseline and
  the recall oracle. Query set × corpus via broadcast join (the query
  side is small by construction; the corpus never shuffles).
- ``knn_lsh_ann``: sign-random-projection LSH — each vector gets a
  b-bit signature from deterministic md5-derived hyperplanes;
  candidates share a signature bucket. At 100 TB the bucket join
  touches ~n/2^b of the corpus per query instead of n. The signature
  comes from the one sign-LSH kernel (``lsh_band_keys_pandas``) and
  its DuckDB mirror (``lsh_band_keys_duck``) reproduces it bitwise,
  so the oracle gate is exact; recall vs the brute-force baseline is
  asserted in pytest.

Dot products are ordered left-folds in double on both engines
(bit-identical; see operators/dedup.py docstring).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.readers import load_table

#: normalized self-dot (Spark SQL expression)
_NORM = (
    "sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
    "0D, (a, b) -> a + b))"
)

_DOT_AB = (
    "aggregate(zip_with(a.embedding, b.embedding, "
    "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


@register(
    "knn_brute_cosine",
    oracle="""
WITH n AS (
  SELECT vec_id,
         sqrt(list_reduce(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS nrm,
         embedding
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_reduce(list_transform(generate_series(1, 64),
              i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
              (x, y) -> x + y) / (q.nrm * c.nrm) AS cosine
  FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rn
  FROM scored
) t
WHERE rn <= 5
""",
    # retired from the bench headline set in r11 (r10 verdict #7:
    # cut driver-window variance surface — this is the labeled recall
    # BASELINE, not a scale path; knn_ivf_ann carries the family's
    # bench slot). Stays registered + full-sweep-gated.
    tags=("similarity", "knn", "brute-force"),
)
def knn_brute_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for queries vec_id < 10: broadcast the query
    set against the corpus, fold the dot product JVM-side, take top-k
    per query with a deterministic (cosine desc, neighbor asc) order."""
    e = _emb(spark, sf_dir)
    n = e.select("vec_id", "embedding", F.expr(_NORM).alias("nrm"))
    q = n.filter(F.col("vec_id") < 10).alias("a")
    c = n.alias("b")
    cos = (F.expr(_DOT_AB) / (F.col("a.nrm") * F.col("b.nrm"))).alias("cosine")
    scored = (
        c.join(F.broadcast(q), F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            cos,
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hyperplane_sign_rows(n_planes: int, dim: int = 64) -> list[list[float]]:
    """±1 hyperplane components, row j = plane j: +1 iff the first hex
    digit of md5('j:i') < '8' — deterministic, no stored model.
    Evaluated ONCE at plan-build time in Python and shipped as
    literals (the numpy sign matrix of :func:`lsh_band_keys_pandas`,
    the bound sign rows of :func:`lsh_band_keys_duck`), so no md5 runs
    per row."""
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"{j}:{i}".encode()).hexdigest()[0] < "8" else -1.0
            for i in range(dim)
        ]
        for j in range(n_planes)
    ]


def lsh_band_keys_duck(rows_per_band: int = 6, n_bands: int = 8, dim: int = 64) -> str:
    """DuckDB mirror of :func:`lsh_band_keys_pandas`: one
    ``(vec_id, band_key)`` query over ``embeddings``, one row per
    (vector, band). The sign rows are bound once, as a ``MATERIALIZED``
    CTE with one row per plane. Each (vector, plane) bit is an ordered
    ``list_reduce`` left fold of ``x_i · s_ji`` in double (DuckDB seeds
    the fold with the first term, the kernel with 0.0; ``0 + x ≡ x`` in
    IEEE double, so the sums are bitwise equal) under the kernel's sign
    rule: ``>= 0`` is bit '1', and DuckDB evaluates ``NaN >= 0`` as
    TRUE. ``string_agg`` concatenates a band's bits in plane order."""
    rows = _hyperplane_sign_rows(rows_per_band * n_bands, dim)
    lit = "[" + ", ".join(
        "[" + ", ".join(f"{s:.0f}" for s in row) + "]" for row in rows
    ) + "]"
    return f"""
WITH planes AS MATERIALIZED (
  SELECT j, CAST(({lit})[j + 1] AS DOUBLE[]) AS srow
  FROM (SELECT unnest(generate_series(0, {len(rows) - 1})) AS j)
),
bits AS (
  SELECT e.vec_id, p.j, p.j // {rows_per_band} AS band,
         CASE WHEN list_reduce(list_transform(generate_series(1, {dim}),
              i -> CAST(e.embedding[i] AS DOUBLE) * p.srow[i]),
              (a, b) -> a + b) >= 0 THEN '1' ELSE '0' END AS bit
  FROM embeddings e CROSS JOIN planes p
)
SELECT vec_id, band || ':' || string_agg(bit, '' ORDER BY j) AS band_key
FROM bits GROUP BY vec_id, band
"""


def lsh_band_keys_pandas(
    df: DataFrame, rows_per_band: int = 6, n_bands: int = 8, dim: int = 64
) -> DataFrame:
    """Banded sign-LSH bucket keys, computed in the Arrow/numpy path:
    ``(vec_id, embedding) → (vec_id, band_key)`` with one output row
    per (vector, band) — the already-exploded shape the candidate
    self-join consumes. Band *b* uses hyperplanes ``j = b·r … b·r+r-1``
    and its key is ``'<b>:<bits>'``; two vectors are candidates iff
    they share a key in ≥1 band (probability ``1-(1-p^r)^B`` for
    per-bit agreement ``p = 1 - θ/π``).

    Produces keys BITWISE IDENTICAL to :func:`lsh_band_keys_duck`
    (pinned by ``test_band_keys_pandas_matches_duck``): the accumulator
    loops over the ``dim`` dimensions IN ORDER and adds ``x_i · s_ji``
    one term at a time (``acc += signs[:, i] * emb[:, i]``), so each
    row's sum is the exact left-to-right IEEE-double fold the SQL
    evaluates — only the batching differs (vectorized across rows
    instead of interpreted per row, the same trade proven in
    ``knn_brute_cosine_pandas``). float32 → float64 widening is exact
    and ``x * ±1.0`` is an exact sign flip, so no term differs either.
    The bit is '0' iff the sum is ``< 0``: a NaN sum gives '1', as
    ``NaN >= 0`` does on Spark and DuckDB."""
    import numpy as np
    import pandas as pd

    smat = np.array(
        _hyperplane_sign_rows(rows_per_band * n_bands, dim), dtype=np.float64
    )  # (planes, dim)
    r, B = rows_per_band, n_bands

    def keys(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            emb = np.array(list(pdf["embedding"]), dtype=np.float64)  # (n, dim)
            acc = np.zeros((smat.shape[0], emb.shape[0]))
            for i in range(dim):  # ordered left fold, vectorized across rows
                acc += smat[:, i : i + 1] * emb[:, i]
            bits = np.where(acc < 0.0, "0", "1")  # (planes, n)
            vec = pdf["vec_id"].to_numpy()
            band_keys = []
            for b in range(B):
                k = np.char.add(f"{b}:", bits[b * r])
                for j in range(1, r):
                    k = np.char.add(k, bits[b * r + j])
                band_keys.append(k)
            yield pd.DataFrame(
                {"vec_id": np.tile(vec, B), "band_key": np.concatenate(band_keys)}
            )

    return df.select("vec_id", "embedding").mapInPandas(
        keys, "vec_id long, band_key string"
    )


@register(
    "knn_lsh_ann",
    oracle=f"""
WITH keys AS ({lsh_band_keys_duck(8, 1)}),
n AS (
  SELECT e.vec_id, e.embedding,
         sqrt(list_reduce(list_transform(e.embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS nrm,
         k.band_key AS sig
  FROM embeddings e JOIN keys k ON k.vec_id = e.vec_id
),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_reduce(list_transform(generate_series(1, 64),
              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
              (x, y) -> x + y) / (a.nrm * b.nrm) AS cosine
  FROM n a JOIN n b ON a.sig = b.sig AND a.vec_id <> b.vec_id
  WHERE a.vec_id < 10
)
SELECT query_id, neighbor_id, cosine, rank
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
)
WHERE rank <= 5
""",
    tags=("similarity", "knn", "lsh"),
)
def knn_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5: candidates restricted to the query's LSH
    bucket, exact cosine re-rank inside the bucket. The 8-bit sign
    signature is one band of 8 rows from :func:`lsh_band_keys_pandas`,
    joined back on ``vec_id``; the DuckDB oracle joins the same band
    from ``lsh_band_keys_duck(8, 1)``, so the oracle gate is exact.
    Recall vs knn_brute_cosine is asserted in pytest
    (``tests/test_llm_pipeline.py::test_lsh_ann_results_subset_of_brute_rankings``)."""
    e = _emb(spark, sf_dir)
    sig = lsh_band_keys_pandas(e, 8, 1).withColumnRenamed("band_key", "sig")
    n = e.select("vec_id", "embedding", F.expr(_NORM).alias("nrm")).join(
        sig, "vec_id"
    )
    q = n.filter(F.col("vec_id") < 10).alias("a")
    c = n.alias("b")
    cos = (F.expr(_DOT_AB) / (F.col("a.nrm") * F.col("b.nrm"))).alias("cosine")
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            cos,
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


@register(
    "knn_brute_cosine_pandas",
    oracle="""
WITH n AS (
  SELECT vec_id,
         sqrt(list_reduce(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS nrm,
         embedding
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_reduce(list_transform(generate_series(1, 64),
              i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
              (x, y) -> x + y) / (q.nrm * c.nrm) AS cosine
  FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rn
  FROM scored
) t
WHERE rn <= 5
""",
    tags=("similarity", "knn", "pandas-udf"),
)
def knn_brute_cosine_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same exact top-5 as ``knn_brute_cosine``, computed in the
    Arrow/numpy path: queries broadcast to every partition, each
    ``mapInPandas`` batch does one (batch × queries) BLAS matmul
    instead of per-pair interpreted folds. This is the hot-path shape
    at 100 TB — Python, but vectorized and shuffle-free (the corpus
    never moves; only per-partition top-k candidates do).

    Ranks match the JVM fold path (same oracle); raw cosines are left
    out of the output because float matmul association differs from
    an ordered fold in the last ulp — exactly the documented trade of
    this path. Equality-of-ranking is also pinned in pytest."""
    import numpy as np
    import pandas as pd

    e = _emb(spark, sf_dir)
    qrows = e.filter(F.col("vec_id") < 10).select("vec_id", "embedding").collect()
    q_ids = np.array([r["vec_id"] for r in qrows])
    q_mat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    bq_ids = spark.sparkContext.broadcast(q_ids)
    bq_mat = spark.sparkContext.broadcast(q_mat)

    out_schema = "query_id long, neighbor_id long, cosine double"

    def score(batches):
        ids, mat = bq_ids.value, bq_mat.value
        for pdf in batches:
            c = np.array(list(pdf["embedding"]), dtype=np.float64)
            c /= np.linalg.norm(c, axis=1, keepdims=True)
            sims = c @ mat.T  # (batch, n_queries)
            nid = pdf["vec_id"].to_numpy()
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(ids, len(nid)),
                    "neighbor_id": np.tile(nid, len(ids)),
                    "cosine": sims.T.ravel(),
                }
            )
            yield out[out.query_id != out.neighbor_id]

    scored = e.select("vec_id", "embedding").mapInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank")
    )


def _centroids(e: DataFrame) -> DataFrame:
    """Per-label mean vectors, L2-normalized — the coarse quantizer.
    (A production IVF trains k-means; the per-label mean is the same
    shape with a deterministic 'training' step.)

    r13: the per-component mean is an INTEGER-QUANTIZED associative
    sum (floor to 1e-6 BIGINT units, plain ``F.sum``, then two exact
    double divisions) — constant per-key aggregation state with
    map-side combine, deterministic on both engines because the same
    integers go through the same IEEE ops. The previous value-sorted
    ``collect_list`` fold held one double per corpus vector of the
    label in a single aggregation buffer — the corpus-sized-state
    pattern the r12 verdict #2 fix removed from
    ``embedding_label_stats`` (this was its twin in the centroid
    path). Quantization perturbs each mean by < 1e-6/n, mirrored
    exactly in the oracle and the numpy replay."""
    ex = e.select("label", F.posexplode("embedding").alias("pos", "x"))
    q = F.floor(F.col("x").cast("double") * F.lit(1000000)).cast("long")
    comp = ex.groupBy("label", "pos").agg(
        (
            F.sum(q).cast("double") / F.lit(1000000) / F.count(F.lit(1))
        ).alias("m")
    )
    cent = (
        comp.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            F.col("label").alias("cent_id"),
            F.expr("transform(pm, p -> p.m)").alias("cvec"),
        )
    )
    nrm = "sqrt(aggregate(transform(cvec, x -> x * x), 0D, (a, b) -> a + b))"
    return cent.select(
        "cent_id", F.expr(f"transform(cvec, x -> x / ({nrm}))").alias("cvec")
    )


@register(
    "knn_ivf_ann",
    oracle="""
WITH c0 AS (
  SELECT label, j.pos,
         CAST(SUM(CAST(floor(CAST(embedding[j.pos] AS DOUBLE) * 1000000)
                       AS BIGINT)) AS DOUBLE) / 1000000 / COUNT(*) AS m
  FROM embeddings, generate_series(1, 64) AS j(pos)
  GROUP BY label, j.pos
),
c1 AS (
  SELECT label AS cent_id, list(m ORDER BY pos) AS cvec0 FROM c0 GROUP BY label
),
cent AS (
  SELECT cent_id,
         list_transform(cvec0, x -> x / sqrt(list_reduce(
             list_transform(cvec0, y -> y * y), (a, b) -> a + b))) AS cvec
  FROM c1
),
n AS (
  SELECT vec_id, embedding,
         sqrt(list_reduce(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS nrm
  FROM embeddings
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY csim DESC, cent_id ASC) AS crank
  FROM (
    SELECT n.vec_id, n.embedding, n.nrm, c.cent_id,
           list_reduce(list_transform(generate_series(1, 64),
                i -> CAST(n.embedding[i] AS DOUBLE) * c.cvec[i]),
                (a, b) -> a + b) / n.nrm AS csim
    FROM n, cent c
  )
),
corpus AS (
  SELECT cent_id, vec_id AS neighbor_id, embedding AS n_emb, nrm AS n_nrm
  FROM ranked WHERE crank = 1
),
probes AS (
  SELECT cent_id, vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
  FROM ranked WHERE vec_id < 10 AND crank <= 2
),
pairs AS (
  SELECT query_id, neighbor_id,
         list_reduce(list_transform(generate_series(1, 64),
              i -> CAST(q_emb[i] AS DOUBLE) * CAST(n_emb[i] AS DOUBLE)),
              (a, b) -> a + b) / (q_nrm * n_nrm) AS cosine
  FROM probes JOIN corpus USING (cent_id)
  WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
  FROM pairs
)
WHERE rank <= 5
""",
    bench=True,
    tags=("similarity", "knn", "ivf"),
)
def knn_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: corpus vectors are assigned to their nearest
    coarse centroid (inverted lists); each query probes its top-2
    centroids and exact-scores only those lists — at scale the probe
    touches ~nprobe/k of the corpus instead of all of it. Centroids
    broadcast; the inverted-list join is keyed on cent_id.

    The DuckDB oracle replays the full pipeline exactly: centroid
    means are integer-quantized associative sums (see ``_centroids``),
    every dot/norm is the same ordered left fold in double, and the nearest-centroid
    assignment is the same (csim desc, cent_id asc) row_number — so
    the driver gate is a hard hash match. The numpy replay pytest
    (set equality + recall floor vs brute force) is retained."""
    e = _emb(spark, sf_dir)
    # centroid table is tiny (one row per label): materialize so the
    # assignment crossJoin doesn't re-run the posexplode aggregation
    cent = _centroids(e).localCheckpoint()
    n = e.select("vec_id", "embedding", F.expr(_NORM).alias("nrm"))
    # cache the ranked assignment once (it covers both consumers): the
    # inverted-list side and the probe side would otherwise each
    # replay the k-centroid HOF scoring pass. This table is
    # CORPUS-sized (one row per corpus vector, embedding riding
    # along), so the r6 cache rule applies (see cache.py; r12 verdict
    # #3 — was localCheckpoint). Unpersisted by the harnesses'
    # per-query clearCache (a lazy query function can't unpersist its
    # own result's input).
    from ..cache import cache_corpus

    # r14 (guide §2.4, the kmeans in-row argmin applied here): pack
    # the centroids into ONE array row and take the top-2 INSIDE
    # each point row (array_sort with an explicit (csim DESC,
    # cent_id ASC) comparator — the same SQL comparison semantics
    # a row_number window would use). No corpus×k Exchange+Sort, and
    # the cache holds ONE row per vector (top-2 ids as a 2-element
    # array) instead of two embedding-bearing rows (AB_R14_INROW.json).
    carr = cent.agg(
        F.array_sort(F.collect_list(F.struct("cent_id", "cvec"))).alias(
            "cents"
        )
    )
    top2 = (
        "slice(array_sort("
        "transform(cents, c -> named_struct("
        "'csim', aggregate(zip_with(embedding, c.cvec, "
        "(x, y) -> CAST(x AS DOUBLE) * y), 0D, (a, b) -> a + b) / nrm, "
        "'cent_id', c.cent_id)), "
        "(l, r) -> CASE WHEN l.csim > r.csim THEN -1 "
        "WHEN l.csim < r.csim THEN 1 "
        "WHEN l.cent_id < r.cent_id THEN -1 "
        "WHEN l.cent_id > r.cent_id THEN 1 ELSE 0 END), 1, 2)"
    )
    ranked = cache_corpus(
        n.crossJoin(F.broadcast(carr)).select(
            "vec_id", "embedding", "nrm", F.expr(top2).alias("_t2")
        )
    )
    corpus = ranked.select(
        F.expr("_t2[0].cent_id").alias("cent_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        F.col("nrm").alias("n_nrm"),
    )
    probes = (
        ranked.filter(F.col("vec_id") < 10)
        .select(
            F.explode(F.expr("transform(_t2, t -> t.cent_id)")).alias(
                "cent_id"
            ),
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    dot = (
        "aggregate(zip_with(q_emb, n_emb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0D, (a, b) -> a + b)"
    )
    pairs = (
        probes.join(corpus, "cent_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            (F.expr(dot) / (F.col("q_nrm") * F.col("n_nrm"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


@register(
    "embedding_label_stats",
    oracle="""
SELECT label,
       COUNT(DISTINCT vec_id) AS n,
       CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT)
         AS checksum_q,
       CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
         / 1000000 AS checksum
FROM (SELECT label, vec_id, unnest(embedding) AS x FROM embeddings)
GROUP BY label
""",
    tags=("similarity", "centroid"),
)
def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector counts + element checksum — the accumulation
    pattern under IVF centroid training (per-cluster sums).

    r13 (r12 verdict #2): the checksum is an INTEGER-QUANTIZED
    associative sum — each element floors to BIGINT units of 1e-6
    (float→double widening is exact, the double multiply and floor are
    IEEE-identical on both engines, and all sums are plain BIGINT) —
    so map-side partial aggregation engages with CONSTANT per-key
    state. The previous shape collected every embedding element per
    label into one sorted list for determinism: with a handful of
    labels that is corpus-sized aggregation state per key, the exact
    pattern the r6 memory rule forbids. Quantization is the same
    convention the pagerank/BM25/DSIR fixed-point paths use; the
    derived double is computed from the same integer on both engines."""
    e = _emb(spark, sf_dir)
    ex = e.select("label", "vec_id", F.explode("embedding").alias("x"))
    q = F.floor(F.col("x").cast("double") * F.lit(1000000)).cast("long")
    return ex.groupBy("label").agg(
        F.count_distinct("vec_id").alias("n"),
        F.sum(q).cast("long").alias("checksum_q"),
        (F.sum(q).cast("double") / F.lit(1000000.0)).alias("checksum"),
    )


@register(
    "knn_pq_ann",
    oracle="""
WITH subs AS (
  SELECT vec_id, t.m,
         embedding[(t.m * 16 + 1):((t.m + 1) * 16)] AS subvec
  FROM embeddings, generate_series(0, 3) AS t(m)
),
code_ids AS (
  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS code
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)
),
codebook AS (
  SELECT c.code, s.m, s.subvec AS cw
  FROM subs s JOIN code_ids c USING (vec_id)
),
assign0 AS (
  SELECT s.vec_id, s.m, cb.code,
         list_reduce(list_transform(generate_series(1, 16),
             i -> (CAST(s.subvec[i] AS DOUBLE) - CAST(cb.cw[i] AS DOUBLE))
                * (CAST(s.subvec[i] AS DOUBLE) - CAST(cb.cw[i] AS DOUBLE))),
             (a, b) -> a + b) AS d
  FROM subs s JOIN codebook cb USING (m)
),
codes AS (
  SELECT vec_id AS neighbor_id, m, code FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
                   ORDER BY d ASC, code ASC) AS r
    FROM assign0
  ) WHERE r = 1
),
tables AS (
  SELECT q.vec_id AS query_id, q.m, cb.code,
         list_reduce(list_transform(generate_series(1, 16),
             i -> CAST(q.subvec[i] AS DOUBLE) * CAST(cb.cw[i] AS DOUBLE)),
             (a, b) -> a + b) AS partial
  FROM subs q JOIN codebook cb USING (m)
  WHERE q.vec_id < 10
),
approx AS (
  SELECT query_id, neighbor_id,
         list_reduce(list_sort(list(partial)), (a, b) -> a + b) AS approx_dot
  FROM codes JOIN tables USING (m, code)
  WHERE neighbor_id <> query_id
  GROUP BY query_id, neighbor_id
),
shortlist AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY approx_dot DESC, neighbor_id ASC) AS ar
    FROM approx
  ) WHERE ar <= 15
),
n AS (
  SELECT vec_id, embedding,
         sqrt(list_reduce(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS nrm
  FROM embeddings
),
scored AS (
  SELECT s.query_id, s.neighbor_id,
         list_reduce(list_transform(generate_series(1, 64),
              i -> CAST(qa.embedding[i] AS DOUBLE) * CAST(nb.embedding[i] AS DOUBLE)),
              (a, b) -> a + b) / (qa.nrm * nb.nrm) AS cosine
  FROM shortlist s
  JOIN n qa ON qa.vec_id = s.query_id
  JOIN n nb ON nb.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
) WHERE rank <= 5
""",
    tags=("similarity", "knn", "pq"),
)
def knn_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (M=4 subspaces × K=16 codes, ADC
    scoring): corpus vectors compress to a 4-code word; queries score
    the whole corpus by summing 4 table lookups instead of a 64-dim
    dot product, then the top-15 approximate hits get exact-cosine
    re-ranked to top-5.

    Deterministic 'training': subspace codebook c = the subvectors of
    the K lowest-vec_id corpus vectors (sample-as-codebook — no
    iterative k-means, so the pytest numpy replay is exact).
    Assignment ties break on lowest code id.

    Scale shape: the codebook (M·K = 64 rows) broadcasts everywhere;
    corpus assignment is corpus × 64 broadcast rows → window-min —
    map-side per vector; ADC scoring joins the (neighbor, m, code)
    table against the broadcast per-query lookup tables on (m, code):
    the 100 TB corpus is touched as CODES (4 bytes/vector), and only
    the ~15 candidates per query are re-read as full vectors
    (semi-join-pruned) for exact re-rank.

    The DuckDB oracle replays the whole index build in SQL — the
    sample-as-codebook training, the L2 code assignment (same ordered
    folds, same (d asc, code asc) tie-break), the ADC tables, and the
    sorted-fold 4-partial sum — so the driver gate is a hard hash
    match (the ``knn_ivf_ann`` technique). The numpy replay pytest is
    retained as an independent third implementation."""
    M, K, SUB = 4, 16, 16
    e = _emb(spark, sf_dir)
    sub = F.explode(
        F.array(*[
            F.struct(
                F.lit(m).alias("m"),
                F.slice("embedding", m * SUB + 1, SUB).alias("subvec"),
            )
            for m in range(M)
        ])
    ).alias("s")
    subs = e.select("vec_id", sub).select(
        "vec_id", F.col("s.m").alias("m"), F.col("s.subvec").alias("subvec")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # ^ r7: the subvector table feeds codebook training, corpus code
    # assignment, AND the query-side lookups — cached once (corpus-
    # sized reuse cache per the memory rule), the embeddings parquet
    # is read once instead of three times
    # codebook = the K LOWEST vec_ids (orderBy-limit, codes renumbered
    # 0..K-1), matching the numpy replay's X[:K] definition even when
    # ids are sparse or non-zero-based — `vec_id < K` would silently
    # train on fewer/different vectors on such data
    w_code = Window.orderBy("vec_id")
    code_ids = (
        e.select("vec_id")
        .orderBy("vec_id")
        .limit(K)
        .select("vec_id", (F.row_number().over(w_code) - 1).alias("code"))
    )
    codebook = (
        subs.join(F.broadcast(code_ids), "vec_id")
        .select("code", "m", F.col("subvec").alias("cw"))
        .localCheckpoint()
    )
    # r14 (guide §2.4, the kmeans in-row argmin applied here): the
    # previous shape joined every subvector row against all K
    # codewords of its subspace and ranked the K copies with
    # row_number over Window.partitionBy(vec_id, m) — an
    # Exchange+Sort of corpus×M×K rows. Packing each subspace's
    # codebook into ONE array row and taking the (d, code)-argmin
    # INSIDE the subvector row keeps assignment map-side; argmin
    # ordering (d ASC, code ASC via struct comparison) matches the
    # window's tie-break (d is a sum of squares — finite,
    # nonnegative, no NaN/-0.0 edge). inline(array(...)) evaluates
    # the interpreted fold once (the kmeans lesson).
    cb_m = codebook.groupBy("m").agg(
        F.array_sort(F.collect_list(F.struct("code", "cw"))).alias("cws")
    )
    pq_best = (
        "array_min(transform(cws, c -> named_struct("
        "'d', aggregate(zip_with(subvec, c.cw, (x, y) -> "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), 0D, (a, b) -> a + b), "
        "'code', c.code)))"
    )
    codes = (
        subs.join(F.broadcast(cb_m), "m")
        .select(
            F.col("vec_id").alias("neighbor_id"),
            "m",
            F.expr(f"inline(array({pq_best}))"),
        )
        .select("neighbor_id", "m", "code")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # per-query ADC tables: dot(query subvector, codeword) per (m, code)
    qsubs = subs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "m", F.col("subvec").alias("qs")
    )
    dot_qc = F.expr(
        "aggregate(zip_with(qs, cw, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0D, (a, b) -> a + b)"
    )
    tables = qsubs.join(F.broadcast(codebook), "m").select(
        "query_id", "m", "code", dot_qc.alias("partial")
    )
    # the 4 subspace partials sum via a VALUE-SORTED fold (not F.sum)
    # so the double is independent of partition order — this is what
    # lets the DuckDB oracle reproduce the shortlist ranking bitwise
    approx = (
        codes.join(F.broadcast(tables), ["m", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.expr(
                "aggregate(array_sort(collect_list(partial)), 0D, (a, b) -> a + b)"
            ).alias("approx_dot")
        )
    )
    w_approx = Window.partitionBy("query_id").orderBy(
        F.col("approx_dot").desc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        approx.withColumn("ar", F.row_number().over(w_approx))
        .filter(F.col("ar") <= 15)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
    )
    # exact re-rank of the shortlist only
    n = e.select("vec_id", "embedding", F.expr(_NORM).alias("nrm"))
    cand_ids = shortlist.select(F.col("neighbor_id").alias("vec_id")).union(
        shortlist.select("query_id")
    ).distinct()
    nc = n.join(F.broadcast(cand_ids), "vec_id", "left_semi")
    a = nc.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    b = nc.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        F.col("nrm").alias("n_nrm"),
    )
    dot = F.expr(
        "aggregate(zip_with(q_emb, n_emb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0D, (a, b) -> a + b)"
    )
    scored = (
        shortlist.join(a, "query_id")
        .join(b, "neighbor_id")
        .select(
            "query_id", "neighbor_id",
            (dot / (F.col("q_nrm") * F.col("n_nrm"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss sign projection (dimensionality-reduction sketch)
# ---------------------------------------------------------------------------

_RP_OUT = 16   # projected dimensions
_RP_IN = 64    # fixture embedding dimension


def _rp_sign_matrix(m: int = _RP_OUT, d: int = _RP_IN) -> list[list[int]]:
    """±1 projection matrix, md5-derived and data-independent: entry
    (j, i) is +1 iff the first hex nibble of md5('rp-j-i') < 8.
    Computed ONCE driver-side and embedded as literals in both the
    Spark expression and the DuckDB oracle — the 100 TB design
    (precompute the tiny matrix, ship it with the plan; zero runtime
    hashing, the projection is a pure map over the corpus)."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"rp-{j}-{i}".encode()).hexdigest()[0], 16) < 8
            else -1
            for i in range(1, d + 1)
        ]
        for j in range(1, m + 1)
    ]


def _rp_oracle() -> str:
    s = _rp_sign_matrix()
    lit = (
        "[" + ", ".join(
            "[" + ", ".join(str(v) for v in row) + "]" for row in s
        ) + "]"
    )
    return f"""
WITH mm AS MATERIALIZED (
  SELECT j, ({lit})[j] AS srow
  FROM (SELECT unnest(generate_series(1, {_RP_OUT})) AS j)
)
SELECT e.vec_id, CAST(mm.j AS INT) AS j,
       list_reduce(list_transform(generate_series(1, {_RP_IN}),
            i -> CAST(e.embedding[i] AS DOUBLE) * CAST(mm.srow[i] AS DOUBLE)),
            (a, b) -> a + b) AS proj
FROM embeddings e CROSS JOIN mm
"""


@register(
    "embedding_random_projection",
    oracle=_rp_oracle(),
    tags=("similarity", "sketch", "dimensionality-reduction", "jl"),
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign projection: every 64-d embedding →
    16-d sketch via a fixed ±1 matrix (Achlioptas-style database-
    friendly JL). The matrix is md5-derived but embedded as literals
    (see ``_rp_sign_matrix``), so the whole operator is one
    shuffle-free projection pass — each output coordinate an ordered
    left-fold in double, bitwise identical on both engines (the
    ``knn_brute_cosine`` dot-product discipline). Long output
    (vec_id, j, proj) so downstream bucketing/ANN can treat
    coordinates relationally."""
    s = _rp_sign_matrix()
    folds = ", ".join(
        "aggregate(zip_with(embedding, array("
        + ", ".join(f"{v}.0D" for v in row)
        + "), (x, s) -> CAST(x AS DOUBLE) * s), 0D, (a, b) -> a + b)"
        for row in s
    )
    return (
        _emb(spark, sf_dir)
        .select(
            "vec_id",
            F.posexplode(F.expr(f"array({folds})")).alias("pos", "proj"),
        )
        .select(
            "vec_id",
            (F.col("pos") + 1).cast("int").alias("j"),
            "proj",
        )
    )


# ---------------------------------------------------------------------------
# Fixed-point k-means: Lloyd's algorithm with cluster-scale, hash-exact math
# ---------------------------------------------------------------------------

#: Quantization scale for k-means: embedding components (float32,
#: |x| < 1 on the fixture) become BIGINT multiples of 2^-20. The
#: float→double widening is exact, multiply by a power of two is
#: exact, floor is exact — so quantization is bit-identical on both
#: engines, and everything after it is integer arithmetic.
_KM_SCALE = 1 << 20
_KM_K = 8
_KM_ITERS = 3

#: In-row argmin over the packed centroid array (r14, guide §2.4):
#: one struct per centroid with its squared-L2 distance, then
#: ``array_min`` — struct ordering is field-lexicographic, so the min
#: is (dist ASC, cent_id ASC), exactly the ``row_number`` tie-break
#: the windowed formulation (and the DuckDB oracle) uses. All-integer
#: operands, so the comparison has no float edge cases.
_KM_BEST = (
    "array_min(transform(cents, c -> named_struct("
    "'dist', aggregate(zip_with(xq, c.cvec, (a, b) -> (a - b) * (a - b)),"
    " 0L, (s, v) -> s + v), "
    "'cent_id', c.cent_id)))"
)

def kmeans_fixed_point(
    e: DataFrame,
    k: int = _KM_K,
    iterations: int = _KM_ITERS,
    scale: int = _KM_SCALE,
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means over ``embeddings`` in integer (fixed-point)
    arithmetic — the ``pagerank_fixed_point`` determinism strategy
    applied to clustering, which a curation pipeline needs for
    SemDeDup-style semantic grouping and IVF coarse-quantizer
    training.

    Why fixed point: float centroid means depend on summation order,
    so a float Lloyd's loop can't hash-match any oracle. Quantized to
    BIGINT multiples of ``1/scale``, every reduction is an associative
    integer ``SUM`` (map-side combine, constant per-key state — the
    at-scale aggregation shape) and the result is identical regardless
    of partition order or cluster size.

    Per iteration (the textbook distributed plan):
    - assignment: points × the broadcast packed centroid array,
      squared L2 distance as a zip_with fold, argmin inside the row —
      the corpus never shuffles for scoring;
    - update: posexplode members → per-(cluster, dim) integer SUM and
      COUNT, centroid component = ``sum div count``. Spark's ``div``
      and DuckDB's ``//`` both truncate toward zero (probed: -7//2 =
      -3 on both), so negative component sums agree too.
    - empty clusters keep their previous centroid (left-join
      coalesce), mirrored in the oracle.

    Init is deterministic: the ``k`` lowest vec_ids, cent_id by rank.
    Returns ``(assignment, centroids)`` where assignment =
    (vec_id, xq, cent_id, dist, rk) at the FINAL centroids and
    centroids = (cent_id, cvec).
    """
    q = e.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {scale}.0D) AS BIGINT))"
        ).alias("xq"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cent = (
        q.orderBy("vec_id")
        .limit(k)
        .withColumn(
            "cent_id",
            (F.row_number().over(Window.orderBy("vec_id")) - 1).cast("int"),
        )
        .select("cent_id", F.col("xq").alias("cvec"))
        .localCheckpoint()
    )

    def assign(centroids: DataFrame) -> DataFrame:
        # Packing the centroids into ONE array row and taking the
        # (dist, cent_id)-min INSIDE the point row keeps scoring
        # map-side: zero exchanges per pass, with the oracle's
        # row_number tie-break (integer operands, struct ordering =
        # dist ASC, cent_id ASC). A per-centroid row_number window
        # costs an Exchange+Sort of corpus×k rows per pass
        # (AB_R14_KMEANS_SF1B.json). ``rk`` stays in the schema
        # (constant 1) for the consumers that filter on it.
        carr = centroids.agg(
            F.array_sort(F.collect_list(F.struct("cent_id", "cvec"))).alias(
                "cents"
            )
        )
        # inline(array(<struct expr>)) evaluates the argmin ONCE per
        # row inside a Generate and emits its fields as columns —
        # extracting dist and cent_id as two GetStructField projections
        # would instead inline TWO copies of the whole interpreted HOF
        # fold (no codegen subexpression elimination for HOFs; the
        # first cut of this change measured 1.5× slower at sf1 from
        # exactly that duplication).
        return (
            q.crossJoin(F.broadcast(carr))
            .select("vec_id", "xq", F.expr(f"inline(array({_KM_BEST}))"))
            .select("vec_id", "xq", "cent_id", "dist", F.lit(1).alias("rk"))
        )

    for _ in range(iterations):
        members = assign(cent).filter(F.col("rk") == 1)
        sums = (
            members.select("cent_id", F.posexplode("xq").alias("pos", "x"))
            .groupBy("cent_id", "pos")
            .agg(F.expr("sum(x) div count(1)").alias("m"))
        )
        newc = (
            sums.groupBy("cent_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cent_id", F.expr("transform(pm, p -> p.m)").alias("cvec"))
        )
        cent = (
            cent.select("cent_id", F.col("cvec").alias("prev"))
            .join(newc, "cent_id", "left")
            .select("cent_id", F.coalesce("cvec", "prev").alias("cvec"))
            .localCheckpoint()
        )
    return assign(cent), cent


def _kmeans_oracle(
    k: int = _KM_K, iters: int = _KM_ITERS, scale: int = _KM_SCALE, dim: int = 64
) -> str:
    """Iteration-unrolled DuckDB mirror of :func:`kmeans_fixed_point`.

    Integer end to end: quantization is the same exact float→double→
    floor chain, distances the same squared-diff folds, centroid
    updates the same truncating integer division (DuckDB ``//`` ≡
    Spark ``div`` on these operands), so the replay is bitwise by
    construction — no fold-order engineering needed."""
    stages = []
    for t in range(1, iters + 1):
        p = f"kc{t - 1}"
        stages.append(f"""
ka{t} AS MATERIALIZED (
  SELECT vec_id, xq, cent_id, dist,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY dist ASC, cent_id ASC) AS rk
  FROM (
    SELECT p.vec_id, p.xq, c.cent_id,
           list_reduce(list_transform(generate_series(1, {dim}),
             i -> (p.xq[i] - c.cvec[i]) * (p.xq[i] - c.cvec[i])),
             (s, v) -> s + v) AS dist
    FROM kq p, {p} c
  )
),
km{t} AS MATERIALIZED (
  SELECT cent_id, j.pos,
         CAST(CAST(SUM(xq[j.pos]) AS BIGINT) // COUNT(*) AS BIGINT) AS m
  FROM ka{t}, generate_series(1, {dim}) AS j(pos)
  WHERE rk = 1
  GROUP BY cent_id, j.pos
),
kc{t} AS MATERIALIZED (
  SELECT o.cent_id, COALESCE(n.cvec, o.cvec) AS cvec
  FROM {p} o LEFT JOIN (
    SELECT cent_id, list(m ORDER BY pos) AS cvec FROM km{t} GROUP BY cent_id
  ) n USING (cent_id)
)""")
    return f"""
WITH kq AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS xq
  FROM embeddings
),
kc0 AS MATERIALIZED (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1 AS INT) AS cent_id,
         xq AS cvec
  FROM (SELECT vec_id, xq FROM kq ORDER BY vec_id ASC LIMIT {k})
),""" + ",".join(stages) + f""",
kaf AS (
  SELECT vec_id, cent_id, dist,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY dist ASC, cent_id ASC) AS rk
  FROM (
    SELECT p.vec_id, c.cent_id,
           list_reduce(list_transform(generate_series(1, {dim}),
             i -> (p.xq[i] - c.cvec[i]) * (p.xq[i] - c.cvec[i])),
             (s, v) -> s + v) AS dist
    FROM kq p, kc{iters} c
  )
)
SELECT a.cent_id, COUNT(*) AS n_points,
       CAST(SUM(a.dist) AS BIGINT) AS inertia_q,
       ck.centroid_checksum_q
FROM kaf a
JOIN (
  SELECT cent_id,
         CAST(list_reduce(cvec, (s, v) -> s + v) AS BIGINT)
           AS centroid_checksum_q
  FROM kc{iters}
) ck USING (cent_id)
WHERE a.rk = 1
GROUP BY a.cent_id, ck.centroid_checksum_q
"""


@register(
    "embedding_kmeans",
    oracle=_kmeans_oracle(),
    bench=True,
    tags=("similarity", "clustering", "kmeans", "iterative", "fixed-point", "scale"),
)
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means cluster summary (k=8, 3 Lloyd iterations, fixed-point):
    per final cluster its size, total inertia (Σ squared L2 distance,
    integer), and the centroid component checksum. Every number is a
    BIGINT derived from order-independent integer arithmetic, so the
    DuckDB oracle (same unrolled iterations) is a hard hash match —
    clustering with a correctness gate, at the aggregation shape
    (plain sums, broadcast centroids) a 100 TB corpus needs."""
    assignment, cent = kmeans_fixed_point(_emb(spark, sf_dir))
    checksum = cent.select(
        "cent_id",
        F.expr("CAST(aggregate(cvec, 0L, (s, v) -> s + v) AS BIGINT)").alias(
            "centroid_checksum_q"
        ),
    )
    return (
        assignment.filter(F.col("rk") == 1)
        .groupBy("cent_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.expr("CAST(SUM(dist) AS BIGINT)").alias("inertia_q"),
        )
        .join(checksum, "cent_id")
        .select("cent_id", "n_points", "inertia_q", "centroid_checksum_q")
    )


def _kmeans_assign_oracle(
    k: int = _KM_K, iters: int = _KM_ITERS, scale: int = _KM_SCALE, dim: int = 64
) -> str:
    """Final-assignment view of :func:`_kmeans_oracle`: same unrolled
    training, but emitting one row per vector."""
    base = _kmeans_oracle(k, iters, scale, dim)
    head, sep, _tail = base.partition("\nSELECT a.cent_id, COUNT(*) AS n_points,")
    # guard the textual split: if the sibling oracle's final SELECT
    # drifts, partition() silently returns the whole string and the
    # composed SQL would carry two SELECTs — fail at import instead
    assert sep, "_kmeans_oracle final SELECT drifted; update the separator"
    return head + """
SELECT vec_id, cent_id, dist AS dist_q
FROM kaf WHERE rk = 1
"""


@register(
    "embedding_kmeans_assign",
    oracle=_kmeans_assign_oracle(),
    tags=("similarity", "clustering", "kmeans", "apply", "fixed-point"),
)
def embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the k-means model: one row per vector with its final
    cluster id and integer squared distance — the per-point
    assignment a SemDeDup-style pipeline joins back onto the corpus
    (cluster summary: ``embedding_kmeans``). Same fixed-point
    training, so the full assignment is hash-exact."""
    assignment, _cent = kmeans_fixed_point(_emb(spark, sf_dir))
    return (
        assignment.filter(F.col("rk") == 1)
        .select("vec_id", "cent_id", F.col("dist").alias("dist_q"))
    )


def _ann_recall_oracle() -> str:
    """Composes the registered brute/IVF/PQ oracles (their full
    SELECTs nest as CTE bodies — DuckDB supports WITH inside a CTE)
    into a recall@5 report: per method, the fraction of brute-force
    top-5 pairs the ANN variant recovered."""
    # read the raw registry dict (NOT all_specs(), whose _load() would
    # re-enter module imports mid-initialization): the three source
    # operators are registered earlier in THIS module, so their
    # oracles are already present at this point
    from ..registry import _REGISTRY

    brute = _REGISTRY["knn_brute_cosine"].oracle
    ivf = _REGISTRY["knn_ivf_ann"].oracle
    pq = _REGISTRY["knn_pq_ann"].oracle
    return f"""
WITH brute AS ({brute}),
ivf AS ({ivf}),
pq AS ({pq}),
n AS (SELECT COUNT(*) AS n_true FROM brute)
SELECT 'ivf' AS method,
       (SELECT COUNT(*) FROM ivf JOIN brute USING (query_id, neighbor_id))
         AS n_hit,
       n_true,
       CAST((SELECT COUNT(*) FROM ivf JOIN brute USING (query_id, neighbor_id))
            AS DOUBLE) / CAST(n_true AS DOUBLE) AS recall_at_5
FROM n
UNION ALL
SELECT 'pq',
       (SELECT COUNT(*) FROM pq JOIN brute USING (query_id, neighbor_id)),
       n_true,
       CAST((SELECT COUNT(*) FROM pq JOIN brute USING (query_id, neighbor_id))
            AS DOUBLE) / CAST(n_true AS DOUBLE)
FROM n
"""


@register(
    "knn_ann_recall_report",
    oracle=_ann_recall_oracle(),
    tags=("similarity", "knn", "recall", "composition"),
)
def knn_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality report: recall@5 of the IVF and PQ variants
    against the brute-force ground truth — the acceptance metric an
    ANN deployment is judged by, computed as a composition of the
    registered operators themselves (both engines replay the full
    index pipelines, so even this report is hash-exact). The sign-LSH
    variant is excluded here because its bucketing is not
    SQL-oracle-expressible (it stays rows-only + pytest-gated)."""
    brute = knn_brute_cosine(spark, sf_dir).select("query_id", "neighbor_id")
    brute = brute.localCheckpoint()  # two consumers per method join
    n_true = brute.count()

    def report(df: DataFrame, method: str) -> DataFrame:
        return (
            df.select("query_id", "neighbor_id")
            .join(brute, ["query_id", "neighbor_id"])
            .agg(
                F.lit(method).alias("method"),
                F.count(F.lit(1)).alias("n_hit"),
                F.lit(n_true).alias("n_true"),
                (
                    F.count(F.lit(1)).cast("double") / F.lit(float(n_true))
                ).alias("recall_at_5"),
            )
            .select("method", "n_hit", "n_true", "recall_at_5")
        )

    return report(knn_ivf_ann(spark, sf_dir), "ivf").unionByName(
        report(knn_pq_ann(spark, sf_dir), "pq")
    )


# ---------------------------------------------------------------------------
# Greedy k-center coreset (farthest-point traversal)
# ---------------------------------------------------------------------------

def _kcenter_dist(a: str, b: str) -> str:
    """Squared L2 between two BIGINT vectors (Spark SQL HOF) — same
    magnitude bound as k-means: ≤ 2^48, safely BIGINT."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), 0L, (s, v) -> s + v)"


def kcenter_select(e: DataFrame, n_select: int, scale: int = _KM_SCALE) -> DataFrame:
    """Greedy k-center / farthest-point traversal — the classic
    2-approximation coreset selector a curation pipeline uses to pick
    a DIVERSE subsample (maximize coverage, the complement of
    near-dup removal). Fixed-point integer arithmetic end to end
    (the ``kmeans_fixed_point`` strategy), so the selection sequence
    is bit-deterministic and fully SQL-oracled.

    Start from the min vec_id; each round, the point FARTHEST from
    every already-selected center joins the coreset (tie-break min
    vec_id). Output: one row per selection (it, center_id,
    radius_sq) — radius_sq is the chosen point's distance to the
    prior centers, i.e. the coverage radius of the prefix before it,
    a non-increasing sequence.

    Scale shape: the running min-distance table is the only
    corpus-sized state (one BIGINT + vector per point); each round is
    a pure map against the broadcast 1-row newest center plus a
    TakeOrdered(1) argmax — the corpus never shuffles. The round
    boundary materializes via ``localCheckpoint`` (the
    ``kmeans_fixed_point`` convention — bounded per-row state; a
    corpus that stresses one shared heap would swap to
    ``persist(MEMORY_AND_DISK)`` per the gram-cache lesson, at the
    cost of lineage-replay display scans in the audit)."""
    q = e.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {scale}.0D) AS BIGINT))"
        ).alias("xq"),
    )
    c0 = q.orderBy("vec_id").limit(1).select(F.col("xq").alias("cvec"))
    mind = (
        q.crossJoin(F.broadcast(c0))
        .select("vec_id", "xq", F.expr(_kcenter_dist("xq", "cvec")).alias("mind"))
        .localCheckpoint()
    )
    out = None
    for i in range(1, n_select + 1):
        nxt = (
            mind.orderBy(F.col("mind").desc(), F.col("vec_id").asc())
            .limit(1)
            .select(
                F.col("vec_id").alias("_cid"),
                F.col("xq").alias("cvec"),
                F.col("mind").alias("_rad"),
            )
        )
        row = nxt.select(
            F.lit(i).alias("it"),
            F.col("_cid").alias("center_id"),
            F.col("_rad").alias("radius_sq"),
        )
        out = row if out is None else out.unionAll(row)
        if i < n_select:
            mind = (
                mind.crossJoin(F.broadcast(nxt))
                .select(
                    "vec_id",
                    "xq",
                    F.least(
                        F.col("mind"), F.expr(_kcenter_dist("xq", "cvec"))
                    ).alias("mind"),
                )
                .localCheckpoint()
            )
    return out


def _kcenter_oracle(n_select: int) -> str:
    """Unrolled DuckDB replay of the farthest-point traversal."""
    dist = (
        "list_reduce(list_transform(generate_series(1, 64), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
    )
    ctes = [
        f"""q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_SCALE}.0) AS BIGINT)) AS xq
  FROM embeddings
),
c0 AS (SELECT xq AS cvec FROM q ORDER BY vec_id LIMIT 1),
m0 AS (
  SELECT q.vec_id, q.xq, {dist.format(a="q.xq", b="c.cvec")} AS mind
  FROM q, c0 c
)"""
    ]
    outs = []
    for i in range(1, n_select + 1):
        ctes.append(
            f"""s{i} AS (
  SELECT vec_id, xq, mind FROM m{i - 1}
  ORDER BY mind DESC, vec_id ASC LIMIT 1
)"""
        )
        if i < n_select:
            ctes.append(
                f"""m{i} AS (
  SELECT m.vec_id, m.xq,
         LEAST(m.mind, {dist.format(a="m.xq", b="s.xq")}) AS mind
  FROM m{i - 1} m, s{i} s
)"""
            )
        outs.append(
            f"SELECT {i} AS it, vec_id AS center_id, mind AS radius_sq FROM s{i}"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(outs)


@register(
    "embedding_kcenter_coreset",
    oracle=_kcenter_oracle(5),
    tags=("similarity", "coreset", "k-center", "diversity", "iterative"),
)
def embedding_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five greedy k-center selections over the embeddings corpus
    (see ``kcenter_select``); the oracle unrolls the same traversal,
    so the argmax sequence, tie-breaks, and radii are all
    hash-gated."""
    return kcenter_select(_emb(spark, sf_dir), 5)


# ---------------------------------------------------------------------------
# Distributed covariance / Gram matrix (Arrow-batched BLAS partials)
# ---------------------------------------------------------------------------

def embedding_gram_partials(e: DataFrame, scale: int = _KM_SCALE) -> DataFrame:
    """Per-batch partial sums for the corpus Gram matrix over
    QUANTIZED embeddings — the canonical distributed linear-algebra
    plan: each Arrow batch computes its own X^T X with one BLAS call
    (numpy int64 — vectorized, no per-row python), emitting 2080
    upper-triangle product sums + 64 linear sums + a count, and the
    driver-side plan reduces the tiny partials with an ordinary
    integer aggregate. The corpus never shuffles — only ~2 k-row
    partial matrices move, whatever the row count.

    Encoding: (i, j, s) with 1-based dims; j = -1 → linear sum of
    dim i; i = -1 → row count. Quantization (floor(x · 2^20), the
    k-means convention) makes every partial an exact BIGINT, so the
    merged sums are order-insensitive and hash-exact. Magnitudes:
    products ≤ 2^42 · n — BIGINT-safe far past fixture scale; a
    10^12-row corpus would move the product sums to DECIMAL."""
    import numpy as np
    from pyspark.sql.types import IntegerType as _I
    from pyspark.sql.types import LongType as _L
    from pyspark.sql.types import StructField as _SF
    from pyspark.sql.types import StructType as _ST

    out_schema = _ST([_SF("i", _I()), _SF("j", _I()), _SF("s", _L())])

    def partials(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            X = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * scale
            ).astype(np.int64)
            G = X.T @ X
            sx = X.sum(axis=0)
            d = X.shape[1]
            rows = [(-1, -1, int(X.shape[0]))]
            rows += [(i + 1, -1, int(sx[i])) for i in range(d)]
            rows += [
                (i + 1, j + 1, int(G[i, j]))
                for i in range(d)
                for j in range(i, d)
            ]
            yield pd.DataFrame(rows, columns=["i", "j", "s"])

    return (
        e.select("embedding")
        .mapInPandas(partials, out_schema)
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
    )


@register(
    "embedding_covariance",
    oracle=f"""
WITH q AS (
  SELECT list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_SCALE}.0) AS BIGINT)) AS xq
  FROM embeddings
),
pairs AS (
  SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j
  FROM range(1, 65) t(i), range(1, 65) u(j) WHERE i <= j
),
sums AS (
  SELECT p.i, p.j, CAST(SUM(q.xq[p.i] * q.xq[p.j]) AS BIGINT) AS sxy
  FROM q, pairs p GROUP BY p.i, p.j
),
lin AS (
  SELECT CAST(i AS INT) AS i, CAST(SUM(q.xq[i]) AS BIGINT) AS sx
  FROM q, range(1, 65) t(i) GROUP BY 1
),
n AS (SELECT COUNT(*) AS c FROM q)
SELECT s.i, s.j, s.sxy,
       (CAST(s.sxy AS DOUBLE)
         - CAST(li.sx AS DOUBLE) * CAST(lj.sx AS DOUBLE) / c) / c AS cov
FROM sums s
JOIN lin li ON li.i = s.i
JOIN lin lj ON lj.i = s.j, n
""",
    tags=("similarity", "covariance", "gram", "linear-algebra", "pandas-udf"),
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full 64×64 covariance matrix of the embedding corpus (upper
    triangle, 2080 rows) from the BLAS partial-sum plan
    (``embedding_gram_partials``) — the statistics a whitening /
    PCA-projection stage consumes. Covariance assembles from exact
    integer moments with the ``stats_variance`` closed form (every
    double input bit-identical across engines); the oracle recomputes
    the same quantized sums in SQL."""
    part = embedding_gram_partials(_emb(spark, sf_dir)).localCheckpoint()
    prod = part.filter((F.col("i") > 0) & (F.col("j") > 0)).select(
        "i", "j", F.col("s").alias("sxy")
    )
    lin = part.filter((F.col("i") > 0) & (F.col("j") == -1)).select(
        F.col("i").alias("li"), F.col("s").alias("sx")
    )
    n = part.filter(F.col("i") == -1).select(F.col("s").alias("c"))
    li = lin.select(F.col("li").alias("i"), F.col("sx").alias("sx_i"))
    lj = lin.select(F.col("li").alias("j"), F.col("sx").alias("sx_j"))
    return (
        prod.join(li, "i")
        .join(lj, "j")
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            "sxy",
            (
                (
                    F.col("sxy").cast("double")
                    - F.col("sx_i").cast("double")
                    * F.col("sx_j").cast("double")
                    / F.col("c")
                )
                / F.col("c")
            ).alias("cov"),
        )
    )


# ---------------------------------------------------------------------------
# Power iteration: top principal direction from the Gram matrix
# ---------------------------------------------------------------------------

#: Fixed-point scale for the iterated eigenvector (max-abs = 2^12).
_PI_VSCALE = 1 << 12
#: Gram requantization divisor (drops the 2^40 product scale to 2^20).
_PI_GDIV = _KM_SCALE
_PI_ITERS = 8


def _power_iteration_oracle(iters: int = _PI_ITERS, dim: int = 64) -> str:
    """Iteration-unrolled DuckDB replay of the integer power method:
    same quantized Gram, same max-abs renormalization, same truncating
    divisions — bitwise by construction (the k-means oracle
    strategy). CTEs are MATERIALIZED so the corpus scan runs once and
    each iteration's 64-row vector isn't re-derived per reference."""
    stages = []
    for t in range(1, iters + 1):
        stages.append(f"""
w{t} AS MATERIALIZED (
  SELECT g.i AS pos, CAST(SUM(g.g * v.val) AS BIGINT) AS w
  FROM g JOIN v{t - 1} v ON v.pos = g.j GROUP BY g.i
),
v{t} AS MATERIALIZED (
  SELECT pos,
         CASE WHEN m.m = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST((w * {_PI_VSCALE}) // m.m AS BIGINT) END AS val
  FROM w{t}, (SELECT MAX(ABS(w)) AS m FROM w{t}) m
)""")
    return f"""
WITH q AS MATERIALIZED (
  SELECT list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_SCALE}.0) AS BIGINT)) AS xq
  FROM embeddings
),
pairs AS (
  SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j
  FROM range(1, {dim + 1}) t(i), range(1, {dim + 1}) u(j)
),
g AS MATERIALIZED (
  SELECT p.i, p.j,
         CAST(SUM(q.xq[p.i] * q.xq[p.j]) AS BIGINT) // {_PI_GDIV} AS g
  FROM q, pairs p GROUP BY p.i, p.j
),
v0 AS (
  SELECT CAST(i AS INT) AS pos, CAST({_PI_VSCALE} AS BIGINT) AS val
  FROM range(1, {dim + 1}) t(i)
),{",".join(stages)},
ss AS (SELECT CAST(SUM(val * val) AS BIGINT) AS ss FROM v{iters})
SELECT pos, val AS v_q,
       CAST(val AS DOUBLE) / sqrt(CAST(ss.ss AS DOUBLE)) AS v_unit
FROM v{iters}, ss
"""


@register(
    "embedding_power_iteration",
    oracle=_power_iteration_oracle(),
    tags=("similarity", "pca", "power-iteration", "linear-algebra",
          "pandas-udf"),
)
def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP PRINCIPAL DIRECTION of the embedding corpus by integer
    power iteration — the eigen-step a PCA/whitening stage runs on
    ``embedding_covariance``'s output (its dominant eigenvector; with
    the Gram in place of the centered covariance this is the top
    RIGHT SINGULAR direction of the raw matrix).

    The at-scale shape is the point: the corpus is touched ONCE (the
    ``embedding_gram_partials`` Arrow-batched BLAS pass — each
    partition emits a 64×64 partial, only ~2k integers shuffle), and
    all 8 iterations run on the 4096-row Gram table — per-iteration
    cost is independent of corpus size, vs the 2-passes-per-iteration
    plan (w = Xv, v' = Xᵀw) a Gram-free method would pay.

    Determinism (the ``pagerank_fixed_point`` strategy on a matrix):
    quantized Gram entries requantize to ≤ n·2^20 (``div 2^20``),
    the vector lives at max-abs 2^12 (renormalized by integer
    division each step — truncation toward zero agrees across
    engines), so every product stays ≲ 2^47 at fixture scale (a
    10^9-row corpus drops the Gram another 2^20 — noted, not
    needed here) and every reduction is an exact BIGINT sum. The
    final unit vector divides by one IEEE-correctly-rounded sqrt —
    bit-identical across engines. v0 = all-ones (never orthogonal to
    the top eigenvector of a positive-semidefinite Gram unless the
    corpus is pathological). The synthetic fixture's spectrum is
    near-isotropic (λ1/λ2 ≈ 1.02), so 8 steps cannot single out its
    (barely-defined) top direction — the gate therefore pins the
    RECURSION bitwise, and the pytest proves convergence on a
    planted-eigengap matrix where the method's point is visible."""
    part = embedding_gram_partials(_emb(spark, sf_dir)).localCheckpoint()
    up = part.filter((F.col("i") > 0) & (F.col("j") > 0))
    full = up.unionByName(
        up.filter(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "s"
        )
    )
    gq = full.select(
        "i", "j", F.expr(f"s div {_PI_GDIV}").alias("g")
    ).localCheckpoint()
    v = power_iterate(spark, gq, dim=64, iters=_PI_ITERS)
    ss = v.agg(F.expr("CAST(SUM(val * val) AS BIGINT)").alias("ss"))
    return v.crossJoin(F.broadcast(ss)).select(
        "pos",
        F.col("val").alias("v_q"),
        (F.col("val").cast("double")
         / F.sqrt(F.col("ss").cast("double"))).alias("v_unit"),
    )


def power_iterate(
    spark: SparkSession, gq: DataFrame, dim: int, iters: int = _PI_ITERS
) -> DataFrame:
    """The integer power-method recursion over a (i, j, g) matrix
    table: v0 = all-ones at 2^12, v_{t+1} = (G v_t)·2^12 div
    max|G v_t|. Convergence is the textbook (λ2/λ1)^t rate — on a
    planted-eigengap matrix it locks on in a handful of steps (see
    the pytest); on a near-isotropic spectrum (the synthetic fixture:
    λ1/λ2 ≈ 1.02) it needs correspondingly more, so the driver gate
    pins the RECURSION bitwise rather than depending on fixture
    convergence — the fixed-rounds framing the pagerank gate uses."""
    v = spark.range(1, dim + 1).select(
        F.col("id").cast("int").alias("pos"),
        F.lit(_PI_VSCALE).cast("long").alias("val"),
    )
    for _ in range(iters):
        w = (
            gq.join(v, gq["j"] == v["pos"])
            .groupBy("i")
            .agg(F.sum(F.expr("g * val")).alias("w"))
        )
        m = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
        v = (
            w.crossJoin(F.broadcast(m))
            .select(
                F.col("i").alias("pos"),
                F.when(F.col("m") == 0, F.lit(0).cast("long"))
                .otherwise(F.expr(f"(w * {_PI_VSCALE}) div m"))
                .alias("val"),
            )
            .localCheckpoint()
        )
    return v


def _pca_scores_oracle() -> str:
    """Power-iteration oracle re-used through its final vector, then
    every embedding projects onto it: score = Σ_j xq_j·v_j (exact
    BIGINT dot product — xq ≤ 2^20, v ≤ 2^12, 64 dims → ≤ 2^38)."""
    base = _power_iteration_oracle()
    head, sep, _tail = base.partition("\nss AS (")
    assert sep, "power-iteration oracle tail drifted"
    return head + f"""
q2 AS (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_SCALE}.0) AS BIGINT)) AS xq
  FROM embeddings
)
SELECT q2.vec_id,
       CAST(SUM(q2.xq[v.pos] * v.val) AS BIGINT) AS score_q
FROM q2, v{_PI_ITERS} v
GROUP BY q2.vec_id
"""


@register(
    "embedding_pca_scores",
    oracle=_pca_scores_oracle(),
    tags=("similarity", "pca", "projection", "apply", "pandas-udf"),
)
def embedding_pca_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the power-iteration model: project every embedding onto
    the learned principal direction (the kmeans→kmeans_assign
    pattern — train produces a tiny model table, apply is a
    broadcast-join map over the corpus). score = Σ xq_j·v_j, an
    exact BIGINT dot product, so the full 500-row projection is
    hash-gated; at 100 TB the 64-row direction broadcasts and the
    projection is one shuffle-free map plus a vec-keyed partial
    aggregate over the exploded components."""
    part = embedding_gram_partials(_emb(spark, sf_dir)).localCheckpoint()
    up = part.filter((F.col("i") > 0) & (F.col("j") > 0))
    full = up.unionByName(
        up.filter(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "s"
        )
    )
    gq = full.select(
        "i", "j", F.expr(f"s div {_PI_GDIV}").alias("g")
    ).localCheckpoint()
    v = power_iterate(spark, gq, dim=64, iters=_PI_ITERS)
    xq = _emb(spark, sf_dir).select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
                f" * {_KM_SCALE}.0D) AS BIGINT))"
            )
        ).alias("pos0", "x"),
    ).select("vec_id", (F.col("pos0") + 1).alias("pos"), "x")
    return (
        xq.join(F.broadcast(v), "pos")
        .groupBy("vec_id")
        .agg(F.expr("CAST(SUM(x * val) AS BIGINT)").alias("score_q"))
    )
