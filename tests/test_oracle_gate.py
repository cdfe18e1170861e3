"""Oracle gate on the fixture for the operators whose plan shape was
chosen by an A/B or whose loop was merged into a shared one: the
registered Spark function and its DuckDB ``oracle_sql`` must agree on
row count, column names and the order-insensitive value hash — the
same comparison ``tools/check_correctness.py`` makes at sf0.01, here
at the tier-1 fixture scale. A second pass reruns the iterative graph
queries at other shuffle partition counts: the README promises results
that do not depend on partitioning.
"""

from __future__ import annotations

import duckdb
import pytest

from mapreduce_citation_spark.registry import all_specs
from tools.check_correctness import TABLES, norm_int_like, value_hash

QUERIES = (
    "q21_waiting_suppliers",
    "corpus_curation_funnel",
    "text_boilerplate_strip",
    "text_bpe_merges",
    "text_bpe_encode",
    "text_bm25_topk",
    "text_bm25_chunk_topk",
    "doc_chunk_windows",
    "corpus_epoch_packed_shuffle",
    "text_dup_paragraph_stats",
    "corpus_dsir_weights",
    "dedup_incremental_ingest",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "knn_ivf_ann",
    "embedding_kmeans",
    "citation_random_walks",
    "citation_pagerank",
    "citation_pagerank_scale",
    "citation_personalized_pagerank",
    "citation_components",
    "citation_components_star",
    "citation_components_auto",
    "citation_scc_layers",
    "citation_triangles",
    "citation_kcore",
    "citation_label_propagation",
    "citation_bfs_depths",
    "dedup_clusters",
    "multimodal_phash_clusters",
    "dedup_paragraph_neardup",
    "dedup_paragraph_strip",
    "dedup_paragraph_ingest",
    "multimodal_audio_minhash_pairs",
    "streaming_ingest_dedup_near",
    "dedup_simhash_pairs",
    "multimodal_phash_pairs",
    "multimodal_audio_fp_pairs",
    "multimodal_audio_fp128_pairs",
    "multimodal_decode_features",
    "multimodal_resize_thumbs",
    "corpus_budget_selection",
    "dedup_substring_strip",
    "decontaminate_eval_overlap",
)

#: Iterative queries rerun at other partition counts (citation_scc_layers
#: takes ~30 s a run at the fixture scale, so the list stays short).
FUZZ = (
    "citation_pagerank",
    "citation_personalized_pagerank",
    "citation_components_auto",
    "citation_scc_layers",
)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


def _assert_matches_oracle(spark, sf_dir, duck, name):
    spec = all_specs()[name]
    spark.catalog.clearCache()
    got = spec.fn(spark, sf_dir).toPandas()
    want = duck.execute(spec.oracle).fetchdf()
    assert len(got) == len(want)
    assert sorted(got.columns) == sorted(want.columns)
    assert value_hash(norm_int_like(got)) == value_hash(norm_int_like(want))


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    _assert_matches_oracle(spark, sf_dir, duck, name)


@pytest.mark.parametrize("parts", (1, 7))
@pytest.mark.parametrize("name", FUZZ)
def test_query_matches_oracle_at_any_partitioning(spark, sf_dir, duck, name, parts):
    """Same hash at 1 and 7 shuffle partitions, with AQE's partition
    coalescing off so the count is the one each exchange uses; the
    session's own values are restored afterwards."""
    confs = {
        "spark.sql.shuffle.partitions": str(parts),
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        _assert_matches_oracle(spark, sf_dir, duck, name)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
