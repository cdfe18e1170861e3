"""Training-data pipeline compositions over ``documents`` — the
end-to-end shapes an LLM data pipeline actually runs, composed from
the primitive operators (dedup, lang-ID, quality, sampling).

Each query is a single declarative plan (no intermediate
materialization): Catalyst fuses the per-doc feature projections into
one pass over the corpus, and the only shuffles are the dedup
hash-groupBy and the final rollups. At 100 TB that means: one scan,
one digest shuffle, map-side everything else.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text_funcs import TOK_DUCK, TOK_SPARK
from ..registry import register
from ..sources.readers import load_table
from .text import _argmax_case, _score_d, _score_s


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


@register(
    "pipeline_filter_funnel",
    oracle=f"""
WITH keep AS (
  SELECT md5(text) AS grp, MIN(doc_id) AS keep_id FROM documents GROUP BY 1
),
staged AS (
  SELECT d.doc_id,
         CASE
           WHEN d.doc_id <> k.keep_id THEN '1_exact_dup'
           WHEN len({TOK_DUCK}) < 16 THEN '2_too_short'
           WHEN ({_argmax_case(_score_d)}) <> d.lang THEN '3_lang_mismatch'
           ELSE '4_kept'
         END AS stage
  FROM documents d JOIN keep k ON md5(d.text) = k.grp
)
SELECT stage, COUNT(*) AS n_docs
FROM staged
GROUP BY stage
""",
    bench=True,
    tags=("pipeline", "filter", "dedup", "langid"),
)
def pipeline_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-cleaning FUNNEL: exact-dedup → length filter →
    lang-ID agreement, each doc attributed to the FIRST stage that
    rejects it (or kept). This is the audit query run before every
    training-data release — it reports where the corpus is lost.

    One scan of documents; every per-doc signal (digest, token count,
    lang argmax) is PROJECTED BEFORE the shuffle, so the one exchange
    — a window keyed on the digest that finds each dup-group's keeper
    — moves only (doc_id, grp, two ints, two small strings), never
    the text. Then a tiny stage rollup."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    sig = d.select(
        "doc_id",
        "lang",
        F.md5(F.col("text").cast("binary")).alias("grp"),
        F.expr(f"size({TOK_SPARK})").alias("ntok"),
        F.expr(_argmax_case(_score_s)).alias("pred"),
    )
    keep_id = F.min("doc_id").over(Window.partitionBy("grp"))
    staged = sig.select(
        "doc_id",
        F.when(F.col("doc_id") != keep_id, "1_exact_dup")
        .when(F.col("ntok") < 16, "2_too_short")
        .when(F.col("pred") != F.col("lang"), "3_lang_mismatch")
        .otherwise("4_kept")
        .alias("stage"),
    )
    return staged.groupBy("stage").agg(F.count(F.lit(1)).alias("n_docs"))


@register(
    "corpus_stratified_sample",
    oracle="""
SELECT doc_id, lang, source
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
      CASE WHEN lang = 'en' THEN '8000' ELSE 'c000' END
""",
    tags=("pipeline", "sampling"),
)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified Bernoulli sampling — the
    data-mixing primitive: downsample the over-represented stratum
    (en at ~50%) while keeping low-resource languages at 75%. The
    coin is the md5 of the doc_id (NOT rand(): reproducible across
    engines, retries, and reruns — the same property the salted join
    needed). Pure map-side: zero shuffles at any scale."""
    d = _docs(spark, sf_dir)
    coin = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    bound = F.when(F.col("lang") == "en", "8000").otherwise("c000")
    return d.filter(coin < bound).select("doc_id", "lang", "source")


@register(
    "lang_id_confusion",
    oracle=f"""
SELECT lang, {_argmax_case(_score_d)} AS lang_pred, COUNT(*) AS n_docs
FROM documents
GROUP BY 1, 2
""",
    tags=("pipeline", "langid", "eval"),
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID EVALUATION: the confusion matrix of predicted vs
    declared language — the query that decides whether the lang-ID
    heuristic is good enough to filter on. Map-side argmax, one tiny
    (lang × pred) rollup shuffle."""
    d = _docs(spark, sf_dir)
    return (
        d.groupBy("lang", F.expr(_argmax_case(_score_s)).alias("lang_pred"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "corpus_dedup_rate",
    oracle="""
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(text)) AS n_unique,
       1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*) AS dup_rate
FROM documents
GROUP BY source
""",
    tags=("pipeline", "dedup", "audit"),
)
def corpus_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication audit per source — the metric that catches a
    crawler re-ingesting the same site. Distinct-count on the digest,
    never the text; Spark plans it as the standard two-phase
    partial/merge distinct aggregate."""
    d = _docs(spark, sf_dir)
    h = F.md5(F.col("text").cast("binary"))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(h).alias("n_unique"),
        (
            F.lit(1.0)
            - F.count_distinct(h).cast("double") / F.count(F.lit(1))
        ).alias("dup_rate"),
    )


@register(
    "corpus_pack_bins",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, CAST(len({TOK_DUCK}) AS BIGINT) AS ntok FROM documents
),
c AS (
  SELECT doc_id, lang, ntok,
         SUM(ntok) OVER (PARTITION BY lang ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) - ntok AS tok_before
  FROM t
)
SELECT doc_id, lang, ntok,
       CAST(tok_before // 2048 AS BIGINT) AS bin_id
FROM c
""",
    tags=("pipeline", "packing", "window"),
)
def corpus_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence PACKING: assign each document to a ~2048-token
    training bin per language — the deterministic cumulative-sum
    variant of greedy packing (bin = tokens-before DIV budget, docs in
    doc_id order). This is the batch-construction step between
    filtering and tokenization in a pretraining pipeline; the
    window cumsum expresses it with ONE shuffle on the stratum key,
    where a naive greedy packer is an inherently sequential loop."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    ntok = F.expr(f"size({TOK_SPARK})").cast("long")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = d.select("doc_id", "lang", ntok.alias("ntok"))
    return t.select(
        "doc_id",
        "lang",
        "ntok",
        ((F.sum("ntok").over(w) - F.col("ntok")) / 2048)
        .cast("long")
        .alias("bin_id"),
    )


@register(
    "corpus_mixture_weights",
    oracle=f"""
WITH per_src AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(SUM(len({TOK_DUCK})) AS BIGINT) AS n_tokens
  FROM documents
  GROUP BY source
),
tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         list_reduce(list_sort(list(
             sqrt(CAST(n_tokens AS DOUBLE) / (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM per_src)))),
             (a, b) -> a + b) AS z
  FROM per_src
)
SELECT source, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / total_tokens AS actual_share,
       sqrt(CAST(n_tokens AS DOUBLE) / total_tokens) / z AS target_share,
       (sqrt(CAST(n_tokens AS DOUBLE) / total_tokens) / z)
         / (CAST(n_tokens AS DOUBLE) / total_tokens) AS weight
FROM per_src, tot
""",
    tags=("pipeline", "mixture", "sampling"),
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain-mixture reweighting (T=2), the
    multilingual/domain sampling rule from mBERT/XLM-R-style
    pipelines: target share ∝ actual_share^(1/T) = sqrt(share), and
    weight = target/actual is the per-source over/undersampling
    factor the sampler applies. Low-resource sources get weight > 1,
    dominant ones < 1.

    Plan: one documents scan → per-source token sums (exact bigint,
    one map-side-combinable shuffle, 20 groups) → 1-row global fold
    broadcast back (the lazy-scalar pattern). The only doubles are
    the final shares: integer-exact inputs, correctly-rounded
    division/sqrt, and the normalizer z sums the 20 sqrt terms via a
    VALUE-SORTED fold — bitwise identical on both engines."""
    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr(f"CAST(SUM(size({TOK_SPARK})) AS BIGINT)").alias("n_tokens"),
    )
    per_src = per_src.localCheckpoint()  # feeds the fold AND the output
    # two-step fold: totals first, then the sqrt terms (sqrt is
    # monotone, so sorting the token counts sorts the sqrt terms —
    # same fold order as the oracle's list_sort of the sqrt values)
    tot = per_src.agg(
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.expr("array_sort(collect_list(CAST(n_tokens AS DOUBLE)))").alias("_toks"),
    ).select(
        "total_tokens",
        F.expr(
            "aggregate(transform(_toks, "
            "x -> sqrt(x / CAST(total_tokens AS DOUBLE))), "
            "0D, (a, b) -> a + b)"
        ).alias("z"),
    )
    share = F.col("n_tokens").cast("double") / F.col("total_tokens")
    target = F.sqrt(share) / F.col("z")
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            share.alias("actual_share"),
            target.alias("target_share"),
            (target / share).alias("weight"),
        )
    )


@register(
    "corpus_train_val_test_split",
    oracle="""
WITH assigned AS (
  SELECT source,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
                THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                THEN 'val'
              ELSE 'test' END AS split,
         length(text) AS n_chars
  FROM documents
)
SELECT split, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM assigned
GROUP BY split, source
""",
    tags=("pipeline", "split", "sampling"),
)
def corpus_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/10/10 train/val/test split, audited per
    source — the assignment step every training run needs, with the
    same reproducibility discipline as ``corpus_stratified_sample``:
    the coin is md5(doc_id) (stable across engines, retries, reruns,
    and cluster sizes — rand() is none of those), the boundaries are
    hex-prefix thresholds (cccc ≈ 80%, e666 ≈ 90%). Assignment is
    pure map-side; the audit rollup is one tiny (split × source)
    shuffle. A doc's split NEVER changes when the corpus grows —
    the property that keeps eval sets stable across dataset
    versions."""
    d = _docs(spark, sf_dir)
    coin = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    split = (
        F.when(coin < "cccc", "train")
        .when(coin < "e666", "val")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), "source", F.length("text").alias("n_chars"))
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


def _curation_funnel_oracle() -> str:
    """Stage-chained DuckDB mirror of :func:`corpus_curation_funnel`,
    built from the SAME shared predicates the primitive operators
    use: ``QG_KEEP_DUCK`` (quality gate), the ``dedup_exact``
    min-doc_id-per-md5 keeper, the shared MinHash-pair + transitive-
    component CTEs (``_MINHASH_PAIRS_CTES`` + ``_COMPONENTS_CTES``,
    with the funnel's min-SURVIVING-member keeper rule — see the
    operator docstring), and the ``decontaminate_eval_overlap``
    40-char-gram criterion (60-bit integer digests, benchmark =
    ``doc_id % 10 = 0``)."""
    from .dedup import _COMPONENTS_CTES, _MINHASH_PAIRS_CTES, _char_gram_ctes
    from .text import QG_KEEP_DUCK

    return f"""
WITH RECURSIVE s1 AS MATERIALIZED (
  SELECT doc_id, text, n_chars FROM documents WHERE {QG_KEEP_DUCK}
),
s2 AS MATERIALIZED (
  SELECT * FROM s1 WHERE doc_id IN (
    SELECT MIN(doc_id) FROM s1 GROUP BY md5(text)
  )
),
{_MINHASH_PAIRS_CTES},
{_COMPONENTS_CTES},
surviving_keeper AS (
  SELECT c.cluster_id, MIN(s2.doc_id) AS keeper
  FROM s2 JOIN comp c ON s2.doc_id = c.doc_id
  GROUP BY c.cluster_id
),
s3 AS MATERIALIZED (
  SELECT s2.* FROM s2
  LEFT JOIN comp c ON s2.doc_id = c.doc_id
  LEFT JOIN surviving_keeper k ON c.cluster_id = k.cluster_id
  WHERE c.doc_id IS NULL OR s2.doc_id = k.keeper
),
{_char_gram_ctes()},
contaminated AS (
  SELECT DISTINCT doc_id FROM g
  WHERE doc_id % 10 <> 0
    AND dg IN (SELECT dg FROM g WHERE doc_id % 10 = 0)
),
s4 AS MATERIALIZED (
  SELECT * FROM s3
  WHERE doc_id % 10 <> 0
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT '0_total' AS stage, COUNT(*) AS n_docs,
       COALESCE(CAST(SUM(n_chars) AS BIGINT), 0) AS total_chars FROM documents
UNION ALL SELECT '1_quality', COUNT(*),
       COALESCE(CAST(SUM(n_chars) AS BIGINT), 0) FROM s1
UNION ALL SELECT '2_exact_dedup', COUNT(*),
       COALESCE(CAST(SUM(n_chars) AS BIGINT), 0) FROM s2
UNION ALL SELECT '3_near_dedup', COUNT(*),
       COALESCE(CAST(SUM(n_chars) AS BIGINT), 0) FROM s3
UNION ALL SELECT '4_decontaminated', COUNT(*),
       COALESCE(CAST(SUM(n_chars) AS BIGINT), 0) FROM s4
"""


@register(
    "corpus_curation_funnel",
    oracle=_curation_funnel_oracle(),
    # bench since r9 (r8 verdict #7): the north-star's end-to-end
    # composite is now tracked round-over-round alongside the
    # relational/graph/dedup primitives
    bench=True,
    tags=("pipeline", "funnel", "dedup", "decontamination", "quality", "composition"),
)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel — the composition a training-data
    run actually executes, with per-stage corpus accounting:

    1. quality gate (the shared Gopher-rule predicates),
    2. exact dedup (min-doc_id keeper per md5, applied to survivors),
    3. near dedup: MinHash-LSH verified pairs → transitive components
       (``dedup_clusters``' exact output) → keep the min-doc_id
       SURVIVING member of each cluster. Deliberately "min surviving",
       not ``dedup_keep_canonical``'s corpus-global canonical: a
       cluster whose canonical was already dropped by stage 1 or 2
       must still retain ONE representative — otherwise the funnel
       silently discards unique content no duplicate of which ships,
    4. eval-set decontamination (drop the held-out tenth and any
       survivor sharing a ≥40-char exact span with it).

    Every stage reuses the primitive operator's exact predicate, so
    this is a true composition, not a reimplementation; the oracle
    chains the same stages in SQL and hash-matches the (stage,
    n_docs, total_chars) accounting.

    Scale shape: one documents scan feeds the quality+dedup chain
    (digest shuffle only); the near-dedup stage adds the pair
    pipeline's own scans (shingle stream + candidate verify —
    inherent to MinHash) but its output, the bounded cluster table,
    joins the survivors AQE-broadcast-side; one more scan feeds the
    gram stream (inherent — decontamination grams need the raw text);
    the benchmark gram set is the small join side, the corpus never
    self-joins; stage reports are 1-row aggregates unioned at the
    end."""
    from pyspark.sql import Window

    from .dedup import _doc_distinct_grams, dedup_clusters
    from .text import QG_KEEP_SPARK

    d = _docs(spark, sf_dir)
    # ONE documents scan feeds stage-0 accounting AND every survivor
    # stage: materialize (doc_id, text, n_chars, keep) once; the only
    # other scans are the near-dedup pair pipeline and the gram stream
    # (both inherent — they need the raw text at other granularities)
    base = d.select(
        "doc_id", "text", "n_chars", F.expr(QG_KEEP_SPARK).alias("keep")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    s1 = base.filter(F.col("keep")).drop("keep")
    # stage 2: exact dedup keeps the min doc_id per md5(text) — one
    # Exchange+Sort of the payload under the digest. A digest-only
    # keeper table + doc_id semi-join lost here (AB_R15_SF1.json): the
    # funnel needs the surviving full rows, so the keeper must be
    # re-attached with a second pass and, past the broadcast
    # threshold, a payload shuffle by doc_id.
    w = Window.partitionBy(
        F.md5(F.col("text").cast("binary"))
    ).orderBy("doc_id")
    s2 = (
        s1.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    s2 = s2.persist(StorageLevel.MEMORY_AND_DISK)
    # stage 3: near dedup — reuse the registered cluster operator's
    # exact output (corpus-level cluster membership); survivors not in
    # any cluster pass, clustered survivors pass only as the MIN
    # SURVIVING member of their cluster (see docstring: the global
    # canonical may already be gone). The keeper table is bounded by
    # cluster count, so both joins are AQE-broadcast-side — no window
    # over the mostly-NULL cluster_id column.
    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    s2c = s2.join(clusters, "doc_id", "left")
    keepers = (
        s2c.filter(F.col("cluster_id").isNotNull())
        .groupBy("cluster_id")
        .agg(F.min("doc_id").alias("_keeper"))
    )
    s3 = (
        s2c.join(keepers, "cluster_id", "left")
        .filter(F.col("cluster_id").isNull() | (F.col("doc_id") == F.col("_keeper")))
        .select("doc_id", "text", "n_chars")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    g = _doc_distinct_grams(d).persist(StorageLevel.MEMORY_AND_DISK)
    bench_g = g.where(F.col("doc_id") % 10 == 0).select("dg").distinct()
    contaminated = (
        g.where(F.col("doc_id") % 10 != 0)
        .join(bench_g, "dg")
        .select("doc_id")
        .distinct()
    )
    s4 = (
        s3.where(F.col("doc_id") % 10 != 0)
        .join(contaminated, "doc_id", "left_anti")
    )

    def stage(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.expr("CAST(SUM(n_chars) AS BIGINT)"), F.lit(0)).alias(
                "total_chars"
            ),
        ).select("stage", "n_docs", "total_chars")

    return (
        stage(base.select("n_chars"), "0_total")
        .unionByName(stage(s1, "1_quality"))
        .unionByName(stage(s2, "2_exact_dedup"))
        .unionByName(stage(s3, "3_near_dedup"))
        .unionByName(stage(s4, "4_decontaminated"))
    )


@register(
    "corpus_chunk_sliding",
    oracle="""
WITH p AS (
  SELECT doc_id, text, length(text) AS L,
         CAST(greatest(ceil((length(text) - 128) / 96.0), 0) AS BIGINT) + 1
           AS n_chunks
  FROM documents
),
chunks AS (
  SELECT doc_id, CAST(k AS INT) AS chunk_idx,
         substr(text, CAST(k * 96 + 1 AS INT), 128) AS chunk
  FROM p, unnest(range(0, p.n_chunks)) AS t(k)
)
SELECT doc_id, chunk_idx, chunk,
       CAST(length(chunk) AS INT) AS chunk_len,
       md5(chunk) AS chunk_md5
FROM chunks
""",
    tags=("pipeline", "chunking", "context-window", "llm"),
)
def corpus_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window CHUNKING with overlap — the pre-tokenization
    step that slices each document into windows of 128 chars with
    stride 96 (32-char overlap so no boundary context is lost), the
    standard prep for fixed-context training and for chunk-level
    embedding indexes. Chunk count per doc = ceil((L−128)/96)+1
    (one final short chunk covers the tail; docs shorter than a
    window produce exactly one chunk).

    Pure map-side 1→N explosion (``sequence`` + ``explode``) — no
    shuffle at all: at 100 TB each task chunks its own rows and the
    output is written straight back out. ASCII fixture text makes
    byte and char windows identical on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    n_chunks = F.expr(
        "CAST(greatest(ceil((length(text) - 128) / 96.0), 0) AS BIGINT) + 1"
    )
    return (
        docs.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("k"),
        )
        .select(
            "doc_id",
            F.col("k").cast("int").alias("chunk_idx"),
            F.expr("substr(text, CAST(k * 96 + 1 AS INT), 128)").alias("chunk"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            "chunk",
            F.length("chunk").cast("int").alias("chunk_len"),
            F.md5(F.encode("chunk", "UTF-8")).alias("chunk_md5"),
        )
    )


#: The coordinated-sampling coin: same md5 rule both engines, keyed
#: by the JOIN key so every table sampled with it keeps exactly the
#: same key universe (first hex digit < '2' ≈ 12.5%). Spark spells
#: the string type STRING, DuckDB VARCHAR — same md5 text either way.
_COORD_COIN = "substr(md5(CAST({k} AS VARCHAR)), 1, 1) < '2'"
_COORD_COIN_SPARK = "substr(md5(CAST({k} AS STRING)), 1, 1) < '2'"


@register(
    "coordinated_sample_join",
    oracle=f"""
WITH sc AS (
  SELECT c_custkey, c_mktsegment FROM customer
  WHERE {_COORD_COIN.format(k="c_custkey")}
),
so AS (
  SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(12,2)) AS v
  FROM orders
  WHERE {_COORD_COIN.format(k="o_custkey")}
)
SELECT sc.c_mktsegment AS segment,
       CAST(COUNT(DISTINCT sc.c_custkey) AS BIGINT) AS n_customers,
       CAST(COUNT(so.o_orderkey) AS BIGINT) AS n_orders,
       CAST(SUM(so.v) AS DOUBLE) AS sampled_spend,
       CAST((SELECT COUNT(*) FROM so) AS BIGINT) AS n_orders_sampled,
       CAST((SELECT COUNT(*) FROM so s
             JOIN sc ON sc.c_custkey = s.o_custkey) AS BIGINT)
         AS n_orders_joined
FROM sc LEFT JOIN so ON so.o_custkey = sc.c_custkey
GROUP BY sc.c_mktsegment
""",
    tags=("pipeline", "sampling", "coordinated", "universe"),
)
def coordinated_sample_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COORDINATED (universe) sampling — the at-scale sampling rule
    for joinable tables: both customer and orders are sampled with
    the SAME deterministic coin on the JOIN KEY (md5(custkey), the
    split-coin convention), so the sampled tables share one key
    universe and the join loses NOTHING inside it: every sampled
    order finds its sampled customer, which the output exhibits by
    carrying ``n_orders_sampled`` and ``n_orders_joined`` — equal
    columns the hash gate compares row by row. Independent Bernoulli
    sampling of each table would instead keep only p² of the join.
    At 100 TB this is how you build a consistent 1% dev slice of a
    whole warehouse: one rule, any number of tables, joins intact."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.expr(_COORD_COIN_SPARK.format(k="c_custkey"))
    ).select("c_custkey", "c_mktsegment").persist(StorageLevel.MEMORY_AND_DISK)
    from ..cache import cache_corpus

    # the sampled orders slice is corpus-proportional (p x |orders|),
    # so the r6 cache rule applies (r13 audit — was localCheckpoint)
    o = cache_corpus(
        load_table(spark, sf_dir, "orders").filter(
            F.expr(_COORD_COIN_SPARK.format(k="o_custkey"))
        ).select(
            "o_orderkey", "o_custkey",
            F.expr("CAST(o_totalprice AS DECIMAL(12,2))").alias("v"),
        )
    )
    n_sampled = o.agg(F.count(F.lit(1)).alias("n_orders_sampled"))
    n_joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .agg(F.count(F.lit(1)).alias("n_orders_joined"))
    )
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.expr("CAST(COUNT(DISTINCT c_custkey) AS BIGINT)").alias(
                "n_customers"
            ),
            F.expr("CAST(COUNT(o_orderkey) AS BIGINT)").alias("n_orders"),
            F.expr("CAST(SUM(v) AS DOUBLE)").alias("sampled_spend"),
        )
        .crossJoin(F.broadcast(n_sampled))
        .crossJoin(F.broadcast(n_joined))
    )


@register(
    "corpus_pps_systematic_sample",
    oracle="""
WITH w AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS wt,
         CAST(SUM(n_chars) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM documents
),
tot AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS W FROM documents)
SELECT doc_id, source, wt,
       (cum * 50) // W - ((cum - wt) * 50) // W AS multiplicity
FROM w, tot
WHERE (cum * 50) // W > ((cum - wt) * 50) // W
""",
    tags=("pipeline", "sampling", "pps", "systematic", "weighted"),
)
def corpus_pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SYSTEMATIC PPS sampling — select k=50 documents with
    probability proportional to size (n_chars, the token-budget
    proxy): lay the docs end to end on the weight axis (cumulative
    sum in deterministic doc_id order), drop k equally-spaced strides
    on it, and keep each doc once per stride boundary it spans
    (multiplicity ≥ 2 when a doc outweighs a stride — textbook PPS).
    The selection rule is pure integer arithmetic
    (floor(cum·k/W) increments — cross-multiplication, no division
    until nothing is left to round), so both engines pick the
    identical sample; Σ multiplicity = k exactly by telescoping.

    At 100 TB: the global running sum is the prefix-offset
    decomposition (``prefix.with_global_order``) — per-partition local
    cumsums after a range shuffle, plus an exclusive prefix of the
    ≤ n_parts per-partition totals broadcast back. No single-partition
    sort anywhere (the r6 verdict's scale-killer class, deleted r7);
    then a pure map selects. This is how a token-budgeted training
    subset gets drawn reproducibly."""
    from .prefix import with_global_order

    docs = load_table(spark, sf_dir, "documents")
    w = with_global_order(
        docs.select(
            "doc_id", "source", F.col("n_chars").cast("long").alias("wt")
        ),
        ["doc_id"],
        cumsum={"cum": "wt"},
    ).withColumn("cum", F.col("cum").cast("long"))
    tot = docs.agg(F.expr("CAST(SUM(n_chars) AS BIGINT)").alias("W"))
    sel = w.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "source",
        "wt",
        F.expr("(cum * 50) div W - ((cum - wt) * 50) div W").alias("multiplicity"),
    )
    return sel.filter(F.col("multiplicity") > 0)
