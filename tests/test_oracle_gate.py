"""Oracle gate on the fixture for the operators whose plan shape was
chosen by an A/B: the registered Spark function and its DuckDB
``oracle_sql`` must agree on row count, column names and the
order-insensitive value hash — the same comparison
``tools/check_correctness.py`` makes at sf0.01, here at the tier-1
fixture scale.
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
    "dedup_incremental_ingest",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "knn_ivf_ann",
    "embedding_kmeans",
    "citation_random_walks",
)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    spec = all_specs()[name]
    spark.catalog.clearCache()
    got = spec.fn(spark, sf_dir).toPandas()
    want = duck.execute(spec.oracle).fetchdf()
    assert len(got) == len(want)
    assert sorted(got.columns) == sorted(want.columns)
    assert value_hash(norm_int_like(got)) == value_hash(norm_int_like(want))
