"""Tests for the LLM-data-pipeline operators: dedup, similarity
search, text analysis, multimodal plumbing. Properties that the
DuckDB oracle can't express (LSH recall, SimHash locality, decode
batch shape) are pinned here."""

from __future__ import annotations

import collections
import itertools
import os
import re

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def test_exact_dedup_on_planted_duplicates(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "unique doc")],
        ["doc_id", "text"],
    )
    # same logic as dedup_exact, on a controlled input
    out = (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("h"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_n = sorted((r["n"], r["keep_id"]) for r in out)
    assert by_n == [(1, 3), (2, 1)]  # dup group keeps min id


def test_lsh_candidates_superset_of_true_pairs(spark, sf_dir):
    """LSH at 4×4 bands must recall the fixture's ~0.98-Jaccard planted
    near-dups found by the exhaustive method (recall ≈ 1 at j≫0.8)."""
    from mapreduce_citation_spark.operators.dedup import (
        dedup_minhash_lsh,
        dedup_ngram_jaccard,
    )

    lsh = {
        (r["doc_a"], r["doc_b"]) for r in dedup_minhash_lsh(spark, sf_dir).collect()
    }
    true = {
        (r["doc_a"], r["doc_b"]) for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    assert true, "fixture should contain planted near-duplicates"
    assert true <= lsh  # every verified pair surfaced as a candidate


def test_embedding_cosine_lsh_blocking(spark, sf_dir):
    """The registered dedup_embedding_cosine is sign-LSH-blocked (never
    all-pairs); on the sf0.01 fixture the blocked result equals the
    exhaustive all-pairs result exactly — recall 1.0 at the 0.5
    threshold, with bitwise-identical cosines (same ordered fold).
    (At the 0.5 threshold recall is probabilistic in general — see the
    operator docstring; the high-similarity regime is pinned by
    test_embedding_lsh_recall_at_high_similarity.)

    Runs at sf0.01: the sf0.001 fixture has no pair above 0.5, which
    would make the assertion vacuous."""
    from mapreduce_citation_spark.operators.dedup import dedup_embedding_cosine
    from mapreduce_citation_spark.sources.readers import load_table

    sf_dir = "/root/testdata/sf0.01"
    e = load_table(spark, sf_dir, "embeddings")
    dot_self = (
        "sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "0D, (a, b) -> a + b))"
    )
    n = e.select("vec_id", "embedding", F.expr(dot_self).alias("nrm"))
    dot = F.expr(
        "aggregate(zip_with(a.embedding, b.embedding, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
    )
    allpairs = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in (
            n.alias("a")
            .join(n.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
            .select(
                F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                (dot / (F.col("a.nrm") * F.col("b.nrm"))).alias("cosine"),
            )
            .filter(F.col("cosine") >= 0.5)
            .collect()
        )
    }
    blocked = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in dedup_embedding_cosine(spark, sf_dir).collect()
    }
    assert allpairs, "fixture should contain planted near-dup embeddings"
    assert blocked == allpairs  # same pairs AND bitwise-equal cosines


def test_embedding_lsh_recall_at_high_similarity(spark):
    """At production near-dup thresholds (cosine ≥ 0.9, per-bit
    agreement p ≥ 0.93) the (6, 8) banding must recall every planted
    pair: expected recall 1-(1-p^6)^8 ≈ 99.98%, and on this
    deterministic synthetic set it must be exactly 100%."""
    import math
    import random

    from mapreduce_citation_spark.operators.similarity import lsh_band_keys_pandas

    rng = random.Random(7)
    dim = 64

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    rows = []
    planted = []
    vid = 0
    for _ in range(20):  # 20 planted near-identical pairs (cos ≥ 0.9)
        base = [rng.gauss(0, 1) for _ in range(dim)]
        noisy = [x + rng.gauss(0, 0.15) for x in base]  # cos ≈ 0.95+
        rows.append((vid, unit(base)))
        rows.append((vid + 1, unit(noisy)))
        planted.append((vid, vid + 1))
        vid += 2
    for _ in range(100):  # background noise vectors
        rows.append((vid, unit([rng.gauss(0, 1) for _ in range(dim)])))
        vid += 1

    e = spark.createDataFrame(rows, ["vec_id", "embedding"])
    bands = lsh_band_keys_pandas(e, 6, 8)
    cand = {
        (r["a"], r["b"])
        for r in bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(F.col("x.vec_id").alias("a"), F.col("y.vec_id").alias("b"))
        .distinct()
        .collect()
    }
    missed = [p for p in planted if p not in cand]
    assert not missed, f"high-similarity pairs missed by banding: {missed}"
    # and the blocking actually prunes: candidates ≪ all pairs
    n = len(rows)
    assert len(cand) < 0.25 * n * (n - 1) / 2


def test_band_keys_pandas_matches_duck(spark, sf_dir, tmp_path):
    """The vectorized Arrow/numpy band-key kernel must be BITWISE
    identical to its DuckDB mirror, the oracle side of
    dedup_embedding_cosine (6, 8) and knn_lsh_ann (8, 1): same ordered
    left-to-right accumulation per row, only batched across rows.
    Besides the fixture's embeddings, rows holding a NaN, a +Inf, a
    −Inf and an all-zero vector pin the sign rule on non-finite and
    zero sums (both engines evaluate ``NaN >= 0`` as TRUE). Set
    equality of (vec_id, band_key) is exact equality here — the band
    prefix makes each vector's keys distinct."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_citation_spark.operators.similarity import (
        lsh_band_keys_duck,
        lsh_band_keys_pandas,
    )

    rng = np.random.default_rng(3)
    odd = rng.standard_normal((4, 64)).astype(np.float32)
    odd[0, 5] = np.nan
    odd[1, 17] = np.inf
    odd[2, 40] = -np.inf
    odd[3] = 0.0
    odd_path = str(tmp_path / "embeddings.parquet")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(4), pa.int64()),
                "embedding": pa.array(list(odd), pa.list_(pa.float32())),
            }
        ),
        odd_path,
    )
    for path in (os.path.join(sf_dir, "embeddings.parquet"), odd_path):
        e = spark.read.parquet(path)
        with duckdb.connect() as con:
            con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
            for r, b in ((6, 8), (8, 1)):
                via_pandas = {
                    (row["vec_id"], row["band_key"])
                    for row in lsh_band_keys_pandas(e, r, b).collect()
                }
                via_duck = set(con.execute(lsh_band_keys_duck(r, b)).fetchall())
                assert len(via_pandas) == e.count() * b
                assert via_pandas == via_duck, (path, r, b)


def test_simhash_locality(spark):
    """Near-identical token multisets → small Hamming distance;
    unrelated docs → large."""
    from mapreduce_citation_spark.functions.text_funcs import (
        simhash_spark,
        tokens_spark,
    )

    base = "the quick brown fox jumps over the lazy dog " * 5
    near = base + "extra"
    far = "completely different words appear in this other document entirely " * 5
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    rows = docs.select(
        "doc_id", F.expr(simhash_spark(tokens_spark("text"))).alias("sh")
    ).collect()
    sh = {r["doc_id"]: r["sh"] for r in rows}
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))  # noqa: E731
    assert ham(sh[1], sh[2]) <= 6
    assert ham(sh[1], sh[3]) > ham(sh[1], sh[2])


def _hamming_boundary_sigs(bits: int, base_id: int) -> dict[int, str]:
    """Planted ``bits``-bit signatures for the pigeonhole boundary test:
    two random bases, each with variants at distance 0, 1, 2 and 3
    whose flipped bits sit on both sides of every block boundary
    (widths from divmod(bits, 3)) and of every 32-bit word boundary,
    plus the first and last bit."""
    import random

    rnd = random.Random(bits)
    q, r = divmod(bits, 3)
    starts = [0, q + (r > 0), 2 * q + (r > 0) + (r > 1)]
    cuts = starts[1:] + list(range(32, bits, 32))
    pos = sorted({0, bits - 1} | {c for b in cuts for c in (b - 1, b)})
    flips = [(), ()] + [(p,) for p in pos]  # () twice: an exact duplicate
    flips += list(itertools.combinations(pos, 2))
    flips += [(starts[0], starts[1], starts[2]),  # one flip per block
              (starts[1] - 1, starts[1], starts[1] + 1),
              (bits - 3, bits - 2, bits - 1)]
    sigs, nid = {}, base_id
    for _ in range(2):
        base = [rnd.randint(0, 1) for _ in range(bits)]
        for f in flips:
            v = list(base)
            for p in f:
                v[p] ^= 1
            sigs[nid] = "".join(map(str, v))
            nid += 1
    return sigs


@pytest.mark.parametrize("bits", [32, 64, 128])
def test_hamming_pairs_exact_at_block_and_word_boundaries(spark, bits):
    """hamming_pairs against a brute-force all-pairs scan on planted
    signatures whose flips straddle the pigeonhole block boundaries and
    the 32-bit word boundaries: every pair within distance 2 is found
    with its exact distance, and no pair at distance 3 is returned."""
    from mapreduce_citation_spark.operators.dedup import hamming_pairs

    sigs = _hamming_boundary_sigs(bits, 1000)
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))  # noqa: E731
    dist = {
        (a, b): ham(sigs[a], sigs[b])
        for a, b in itertools.combinations(sorted(sigs), 2)
    }
    assert {0, 1, 2, 3} <= set(dist.values())
    expected = {(a, b, d) for (a, b), d in dist.items() if d <= 2}
    df = spark.createDataFrame(sorted(sigs.items()), ["sig_id", "dh"])
    got = {
        (r["a"], r["b"], r["hamming"])
        for r in hamming_pairs(df, "sig_id", "a", "b", bits).collect()
    }
    assert got == expected
    assert not any(dist[(a, b)] == 3 for a, b, _ in got)


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def test_lsh_ann_results_subset_of_brute_rankings(spark, sf_dir):
    """Every ANN hit must be a true neighbor with the same cosine the
    brute-force path computes (re-rank inside the bucket is exact)."""
    from mapreduce_citation_spark.operators.similarity import (
        knn_brute_cosine,
        knn_lsh_ann,
    )

    brute = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in knn_brute_cosine(spark, sf_dir).collect()
    }
    ann_rows = knn_lsh_ann(spark, sf_dir).collect()
    assert ann_rows, "ANN should return candidates on the fixture"
    # cosines must agree exactly where both paths scored the same pair
    for r in ann_rows:
        key = (r["query_id"], r["neighbor_id"])
        if key in brute:
            assert abs(brute[key] - r["cosine"]) == 0.0


def test_knn_brute_self_similarity_excluded(spark, sf_dir):
    from mapreduce_citation_spark.operators.similarity import knn_brute_cosine

    rows = knn_brute_cosine(spark, sf_dir).collect()
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)
    assert all(1 <= r["rank"] <= 5 for r in rows)
    # cosine is bounded
    assert all(-1.0 - 1e-9 <= r["cosine"] <= 1.0 + 1e-9 for r in rows)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def test_quality_scores_on_known_text(spark):
    from mapreduce_citation_spark.functions.text_funcs import tokens_spark

    docs = spark.createDataFrame([(1, "the cat the mat")], ["doc_id", "text"])
    row = docs.select(
        F.expr(f"size({tokens_spark('text')})").alias("n_tokens"),
        F.expr(f"size(array_distinct({tokens_spark('text')}))").alias("n_types"),
    ).collect()[0]
    assert row["n_tokens"] == 4 and row["n_types"] == 3


def test_lang_id_deterministic_tiebreak(spark, sf_dir):
    from mapreduce_citation_spark.operators.text import text_lang_id

    df = text_lang_id(spark, sf_dir)
    preds = {r["lang_pred"] for r in df.collect()}
    assert preds <= {"en", "es", "de", "fr", "zh", "unknown"}
    # running twice yields identical predictions (pure function of text)
    again = {r["doc_id"]: r["lang_pred"] for r in text_lang_id(spark, sf_dir).collect()}
    first = {r["doc_id"]: r["lang_pred"] for r in df.collect()}
    assert first == again


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

def test_multimodal_roundtrip_payload_is_faithful(spark, sf_dir):
    from mapreduce_citation_spark.operators.multimodal import ingest_assets
    from mapreduce_citation_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").limit(20)
    assets = ingest_assets(docs)
    back = assets.select(
        "doc_id", F.decode("payload", "UTF-8").alias("text2")
    ).join(docs.select("doc_id", "text"), "doc_id")
    assert back.filter(F.col("text") != F.col("text2")).count() == 0


def test_media_codec_rejects_unknown_container_and_bad_text():
    from mapreduce_citation_spark.operators.multimodal import make_media_codec

    build, decode = make_media_codec()
    with pytest.raises(ValueError):
        decode(b"\x89PNGxxxxxxxxxxxx")  # unknown magic, like a real codec
    with pytest.raises(ValueError):
        build(0, "")  # empty text: oracle byte/char parity precondition
    with pytest.raises(ValueError):
        build(0, "café")  # non-ASCII text: same precondition


def test_media_feature_schema_and_determinism(spark, sf_dir):
    from mapreduce_citation_spark.operators.multimodal import (
        MEDIA_FEATURE_SCHEMA,
        build_media_assets,
        extract_media_features,
    )
    from mapreduce_citation_spark.sources.readers import load_table

    assets = build_media_assets(
        load_table(spark, sf_dir, "documents").limit(50)
    )
    f1 = extract_media_features(assets)
    assert [f.name for f in f1.schema.fields] == [
        f.name for f in MEDIA_FEATURE_SCHEMA.fields
    ]
    rows1 = sorted(map(tuple, f1.collect()))
    rows2 = sorted(map(tuple, extract_media_features(assets).collect()))
    assert rows1 == rows2
    # Construction rule: images are w = 8 + doc_id % 8 (so 8..15),
    # audio rows carry width 0.
    for r in f1.collect():
        if r["mime"] == "image/bmp":
            assert r["width"] == 8 + r["doc_id"] % 8
        else:
            assert r["width"] == 0


def test_multimodal_features_channels_by_mime(spark, sf_dir):
    from mapreduce_citation_spark.operators.multimodal import (
        multimodal_decode_features,
    )

    rows = multimodal_decode_features(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r["mime"] == "image/bmp":
            assert r["doc_id"] % 2 == 0
            assert r["n_channels"] == 3  # 24-bit BMP
        else:
            assert r["mime"] == "audio/wav"
            assert r["doc_id"] % 2 == 1
            # channels = 1 + (doc_id // 2) % 2 from the construction
            assert r["n_channels"] == 1 + (r["doc_id"] // 2) % 2


def test_image_dhash_locality_on_planted_bmp():
    """Direct dHash properties on a hand-built BMP: 64 bits; identical
    payloads hash identically; the planted low-bit perturbation moves
    the hash by at most 1 bit (only grid cell (0,0) samples the first
    pixel); a genuinely different image moves it by many bits."""
    from mapreduce_citation_spark.operators.multimodal import (
        make_image_dhash,
        make_media_codec,
    )

    build, _decode = make_media_codec()
    perturb, dhash = make_image_dhash()
    _, p = build(12, "The quick brown fox jumps over the lazy dog. " * 3)
    h = dhash(p)
    assert len(h) == 64 and set(h) <= {"0", "1"}
    assert dhash(p) == h  # deterministic
    hv = dhash(perturb(p))
    assert sum(a != b for a, b in zip(h, hv)) <= 1
    _, q = build(12, "abcdefghij klmnopqrst uvwxyz0123 456789ABCD EFGH" * 2)
    hq = dhash(q)
    assert sum(a != b for a, b in zip(h, hq)) > 4


def test_phash_pairs_recover_all_planted_variants(spark, sf_dir):
    """Every planted (base, variant) image pair must be recovered by
    the pigeonhole plan — recall of the planted set is total by
    construction — with hamming ≤ 1; pair ids are well-formed
    (ordered, within-threshold)."""
    from mapreduce_citation_spark.operators.multimodal import (
        multimodal_phash_pairs,
    )
    from mapreduce_citation_spark.sources.readers import load_table

    planted = {
        2 * r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % 10 == 0))
        .select("doc_id")
        .collect()
    }
    pairs = multimodal_phash_pairs(spark, sf_dir).collect()
    found = {(r["img_a"], r["img_b"]): r["hamming"] for r in pairs}
    for base in planted:
        assert (base, base + 1) in found, f"planted pair {base} missing"
        assert found[(base, base + 1)] <= 1
    for (a, b), ham in found.items():
        assert a < b and 0 <= ham <= 2


def test_dedup_clusters_are_transitive_components(spark, sf_dir):
    """Cluster invariants on the sf0.01 fixture: every paired doc lands
    in a cluster; both endpoints of every pair share a cluster (even
    when only transitively connected); cluster_id is the min member;
    exactly one keeper per cluster."""
    from mapreduce_citation_spark.operators.dedup import (
        dedup_clusters,
        dedup_minhash_lsh,
    )

    sf_dir = "/root/testdata/sf0.01"
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in dedup_minhash_lsh(spark, sf_dir).collect()
    ]
    rows = dedup_clusters(spark, sf_dir).collect()
    cluster = {r["doc_id"]: r["cluster_id"] for r in rows}
    assert pairs, "fixture should contain near-dup pairs"
    for a, b in pairs:
        assert cluster[a] == cluster[b]
    members: dict[int, list[int]] = {}
    for doc, c in cluster.items():
        members.setdefault(c, []).append(doc)
    for c, docs in members.items():
        assert c == min(docs)
    keepers = [r["doc_id"] for r in rows if r["keep"]]
    assert sorted(keepers) == sorted(members.keys())


# ---------------------------------------------------------------------------
# exact-substring (suffix-array family) dedup
# ---------------------------------------------------------------------------

def test_exact_substring_pairs_on_planted_span(spark):
    """Two docs sharing one exact 60-char span (otherwise disjoint
    alphabets) must pair with n_shared == 60-40+1 == 21 distinct
    40-grams; the unrelated doc must not appear."""
    from mapreduce_citation_spark.operators.dedup import exact_substring_pairs

    span = "the quick brown fox jumps over the lazy dog again and again"
    assert len(span) == 59  # 59 - 40 + 1 == 20 shared 40-grams

    def fill(stride: int, offset: int, n: int = 50) -> str:
        # non-periodic over n (period 90/gcd(stride,90) > 50): no
        # internal 40-gram repeats, and different strides share no
        # long runs either
        return "".join(chr(33 + (i * stride + offset) % 90) for i in range(n))

    docs = spark.createDataFrame(
        [
            (1, fill(7, 0) + span + fill(11, 3)),
            (2, fill(13, 5) + span + fill(17, 8)),
            (3, fill(19, 11, 150)),
        ],
        ["doc_id", "text"],
    )
    rows = exact_substring_pairs(docs).collect()
    assert [(r["doc_a"], r["doc_b"], r["n_shared"]) for r in rows] == [(1, 2, 20)]


def test_substring_spans_merge_and_measure(spark):
    """Span accounting on a hand-built corpus: doc 1 and 2 share one
    60-char span -> each gets ONE maximal merged span of exactly 60
    duplicated chars; doc 3 (all-unique text vs the others, but
    self-repeating) is covered end-to-end by its own repeats."""
    from mapreduce_citation_spark.operators.dedup import substring_span_stats

    span = "the quick brown fox jumps over the lazy dog again and again"  # 59

    def fill(stride: int, offset: int, n: int = 50) -> str:
        return "".join(chr(33 + (i * stride + offset) % 90) for i in range(n))

    docs = spark.createDataFrame(
        [
            (1, fill(7, 0) + span + fill(11, 3)),
            (2, fill(13, 5) + span + fill(17, 8)),
            (3, "E" * 200),                    # self-repeating monotone text
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in substring_span_stats(docs).collect()}
    assert out[1]["n_dup_spans"] == 1 and out[1]["dup_chars"] == 59
    assert out[2]["n_dup_spans"] == 1 and out[2]["dup_chars"] == 59
    assert out[1]["n_chars"] == 159
    # monotone doc: every 40-gram equals every other -> one span, full cover
    assert out[3]["n_dup_spans"] == 1 and out[3]["dup_chars"] == 200


def test_substring_spans_no_dup_doc_reports_zero(spark):
    from mapreduce_citation_spark.operators.dedup import substring_span_stats

    docs = spark.createDataFrame(
        [(1, "abcdefghij" * 9)],  # 90 chars, but repeats internally every 10
        ["doc_id", "text"],
    )
    # period-10 text: gram at i equals gram at i+10 -> fully duplicated
    out = substring_span_stats(docs).collect()[0]
    assert out["n_dup_spans"] == 1 and out["dup_chars"] == 90

    docs2 = spark.createDataFrame(
        [(1, "".join(chr(33 + (i * 7) % 90) for i in range(90)))],
        ["doc_id", "text"],
    )
    out2 = substring_span_stats(docs2).collect()[0]
    assert out2["n_dup_spans"] == 0 and out2["dup_chars"] == 0


def test_decontaminate_output_is_training_side_only(spark, sf_dir):
    """Contamination report lists only training docs (never the
    benchmark tenth), and every reported doc really shares a >=40-char
    span with some benchmark doc (cross-checked via the pair query)."""
    from mapreduce_citation_spark.operators.dedup import (
        decontaminate_eval_overlap,
        dedup_exact_substring_pairs,
    )

    hits = decontaminate_eval_overlap(spark, sf_dir).collect()
    assert all(r["doc_id"] % 10 != 0 for r in hits)
    pairs = dedup_exact_substring_pairs(spark, sf_dir).collect()
    cross = {
        r["doc_b"] for r in pairs if r["doc_a"] % 10 == 0 and r["doc_b"] % 10 != 0
    } | {
        r["doc_a"] for r in pairs if r["doc_b"] % 10 == 0 and r["doc_a"] % 10 != 0
    }
    assert {r["doc_id"] for r in hits} == cross


def test_mixture_weights_temperature_semantics(spark, sf_dir):
    """T=2 sampling: target shares sum to 1, and the weight order is
    the inverse of the share order (low-resource sources upsampled)."""
    import math

    from mapreduce_citation_spark.operators.pipeline import corpus_mixture_weights

    rows = corpus_mixture_weights(spark, sf_dir).collect()
    assert len(rows) > 1
    assert math.isclose(sum(r["target_share"] for r in rows), 1.0, abs_tol=1e-9)
    assert math.isclose(sum(r["actual_share"] for r in rows), 1.0, abs_tol=1e-9)
    by_share = sorted(rows, key=lambda r: r["actual_share"])
    weights = [r["weight"] for r in by_share]
    assert weights == sorted(weights, reverse=True)  # monotone inverse
    # sqrt-temperature: weight = share^(-1/2) / z, so w * sqrt(share)
    # is the same constant for every source
    consts = {round(r["weight"] * math.sqrt(r["actual_share"]), 9) for r in rows}
    assert len(consts) == 1


def test_substring_strip_consistent_with_span_stats(spark, sf_dir):
    """The cleaned corpus and the span report are two views of the
    same policy: clean_chars == n_chars - dup_chars for every doc,
    some doc actually shrinks, and no clean_text still contains a
    duplicated 40-gram of the ORIGINAL corpus gram table... (spans
    were merged maximal, so removed intervals cover every duplicated
    offset)."""
    from mapreduce_citation_spark.operators.dedup import (
        dedup_substring_spans,
        dedup_substring_strip,
    )

    stats = {
        r["doc_id"]: r for r in dedup_substring_spans(spark, sf_dir).collect()
    }
    stripped = dedup_substring_strip(spark, sf_dir).collect()
    assert len(stripped) == len(stats)
    shrunk = 0
    for r in stripped:
        st = stats[r["doc_id"]]
        assert r["n_chars"] == st["n_chars"]
        assert r["clean_chars"] == st["n_chars"] - st["dup_chars"]
        if st["dup_chars"] > 0:
            shrunk += 1
            assert len(r["clean_text"]) == r["clean_chars"]
    assert shrunk > 0, "fixture should contain duplicated spans"


def test_unigram_rarity_on_known_corpus(spark):
    """Hand corpus: 'a' occurs 4x (bits=3), 'b' 2x (bits=2), 'c' 1x
    (bits=1) — per-doc sums are exact integers."""
    from mapreduce_citation_spark.operators.text import text_unigram_rarity
    import mapreduce_citation_spark.operators.text as text_mod
    from unittest import mock

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a a b c")], ["doc_id", "text"]
    )
    with mock.patch.object(text_mod, "_docs", return_value=docs):
        rows = {r["doc_id"]: r for r in text_unigram_rarity(spark, "ignored").collect()}
    # counts: a=4 (bin '100' -> 3 bits), b=2 ('10' -> 2), c=1 ('1' -> 1)
    assert rows[1]["n_tokens"] == 3 and rows[1]["sum_freq_bits"] == 3 + 3 + 2
    assert rows[2]["n_tokens"] == 4 and rows[2]["sum_freq_bits"] == 3 + 3 + 2 + 1
    assert rows[2]["mean_freq_bits"] == (3 + 3 + 2 + 1) / 4


def test_keep_canonical_consistent_with_clusters(spark, sf_dir):
    """The applied dedup output must be exactly: all unclustered docs
    plus one canonical (min doc_id) per cluster, flags matching the
    cluster table."""
    from pyspark.sql import functions as F

    from mapreduce_citation_spark.operators.dedup import (
        _docs,
        dedup_clusters,
        dedup_keep_canonical,
    )

    out = {r["doc_id"]: r["was_clustered"]
           for r in dedup_keep_canonical(spark, sf_dir).collect()}
    clusters = dedup_clusters(spark, sf_dir).collect()
    clustered = {r["doc_id"] for r in clusters}
    canonical = {r["doc_id"] for r in clusters if r["keep"]}
    all_docs = {r["doc_id"] for r in _docs(spark, sf_dir).select("doc_id").collect()}

    assert set(out) == (all_docs - clustered) | canonical
    assert {d for d, fl in out.items() if fl} == canonical
    # every cluster keeps exactly one doc: its min label
    by_cluster = {}
    for r in clusters:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        kept = [m["doc_id"] for m in members if m["doc_id"] in out]
        assert kept == [min(m["doc_id"] for m in members)]


def test_bigram_lm_on_planted_corpus(spark):
    """Known tiny corpus → exact bigram counts and conditional
    probabilities (P sums to 1 per prefix when all bigrams kept)."""
    from mapreduce_citation_spark.operators.text import text_bigram_lm
    import mapreduce_citation_spark.operators.text as T
    from pyspark.sql import functions as F

    # run the registered op against a planted parquet fixture dir
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        docs = spark.createDataFrame(
            [("d1", "a b a b c"), ("d2", "a b x")],
            ["doc_id", "text"],
        ).withColumn("lang", F.lit("en")).withColumn("source", F.lit("s")) \
         .withColumn("n_chars", F.length("text"))
        docs.write.parquet(os.path.join(td, "documents.parquet"))
        rows = {
            (r["w1"], r["w2"]): (r["n_pair"], r["n_prefix"], r["cond_p"])
            for r in text_bigram_lm(spark, td).collect()
        }
    # bigrams: d1: (a,b) (b,a) (a,b) (b,c); d2: (a,b) (b,x)
    assert rows[("a", "b")] == (3, 3, 1.0)          # P(b|a) = 3/3
    assert rows[("b", "a")] == (1, 3, 1 / 3)        # b prefixes: a, c, x
    assert rows[("b", "c")] == (1, 3, 1 / 3)
    assert rows[("b", "x")] == (1, 3, 1 / 3)
    assert len(rows) == 4


def test_random_projection_linear_and_deterministic(spark, sf_dir):
    """JL sign projection must be (a) bit-identical across runs and
    (b) linear: proj(-v) == -proj(v) coordinate-wise."""
    from pyspark.sql import functions as F

    from mapreduce_citation_spark.operators.similarity import (
        _RP_OUT,
        embedding_random_projection,
    )

    p1 = {(r["vec_id"], r["j"]): r["proj"]
          for r in embedding_random_projection(spark, sf_dir).collect()}
    p2 = {(r["vec_id"], r["j"]): r["proj"]
          for r in embedding_random_projection(spark, sf_dir).collect()}
    assert p1 == p2 and p1  # bitwise-stable sketch
    n_vecs = len({k[0] for k in p1})
    assert len(p1) == n_vecs * _RP_OUT

    # linearity on a negated copy routed through the same operator
    import os
    import tempfile

    from mapreduce_citation_spark.operators.similarity import _emb

    with tempfile.TemporaryDirectory() as td:
        neg = _emb(spark, sf_dir).select(
            "vec_id",
            F.expr("transform(embedding, x -> -x)").alias("embedding"),
            "label",
        )
        neg.write.parquet(os.path.join(td, "embeddings.parquet"))
        pn = {(r["vec_id"], r["j"]): r["proj"]
              for r in embedding_random_projection(spark, td).collect()}
    assert set(pn) == set(p1)
    for k, v in p1.items():
        assert pn[k] == -v or abs(pn[k] + v) < 1e-12


def test_winnowing_pairs_detect_planted_overlap(spark):
    """Two docs sharing a long verbatim token run must pair (winnowing
    guarantees a shared fingerprint for any long match); unrelated
    docs must not."""
    from pyspark.sql import functions as F

    from mapreduce_citation_spark.operators.text import (
        _WINNOW_MAXDF,
        winnowed_fingerprints,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            ("a", shared + " tail one here"),
            ("b", "lead in words " + shared),
            ("c", "completely different content with no overlap at all"),
        ],
        ["doc_id", "text"],
    )
    sel = winnowed_fingerprints(docs).distinct()
    pairs = (
        sel.alias("x")
        .join(sel.alias("y"), F.col("x.sel") == F.col("y.sel"))
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy("x.doc_id", "y.doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    got = {(r["doc_id"], r["y.doc_id"] if "y.doc_id" in r.asDict() else r[1]): r["n"] for r in pairs}
    keys = set(got)
    assert ("a", "b") in keys
    assert all("c" not in k for k in keys)
    assert _WINNOW_MAXDF >= 2  # guard exists


def test_train_val_test_split_stable_under_growth(spark, sf_dir):
    """Split assignment is per-doc deterministic: every doc lands in
    exactly one split, shares are ~80/10/10, and restricting the
    corpus to a subset never changes any doc's split."""
    from pyspark.sql import functions as F

    from mapreduce_citation_spark.operators.pipeline import (
        _docs,
        corpus_train_val_test_split,
    )

    agg = {(r["split"], r["source"]): r["n_docs"]
           for r in corpus_train_val_test_split(spark, sf_dir).collect()}
    total = sum(agg.values())
    by_split = {}
    for (s, _src), n in agg.items():
        by_split[s] = by_split.get(s, 0) + n
    assert set(by_split) == {"train", "val", "test"}
    assert total == _docs(spark, sf_dir).count()
    assert 0.7 < by_split["train"] / total < 0.9
    # per-doc stability: the same hash rule applied to HALF the corpus
    # assigns identical splits (no dependence on corpus contents)
    d = _docs(spark, sf_dir)
    coin = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    split = (
        F.when(coin < "cccc", "train").when(coin < "e666", "val").otherwise("test")
    )
    full = {r["doc_id"]: r["s"] for r in d.select("doc_id", split.alias("s")).collect()}
    half = {
        r["doc_id"]: r["s"]
        for r in d.filter("n_chars % 2 = 0").select("doc_id", split.alias("s")).collect()
    }
    assert all(full[k] == v for k, v in half.items())


def test_quality_gate_rule_boundaries_on_planted_corpus(spark):
    """Each Gopher-style rule exercised at its boundary on a planted
    corpus: too-short doc, degenerate mean word length, digit-heavy
    doc, missing stopwords — per-rule pass counts and the keep
    conjunction must account exactly."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from mapreduce_citation_spark.operators.text import corpus_quality_gate

    docs = [
        # passes everything
        ("g1", "the quick brown fox jumps over a lazy dog of note"),
        # fails r_len (4 tokens < 5)
        ("g2", "the of a short"),
        # fails r_word_len (mean token length 1 < 2) but len ok
        ("g3", "a b c d e f g h the"),
        # fails r_symbol (digits > 20% of token chars) - 8 digits / 15 chars
        ("g4", "the 1234 5678 of cat"),
        # fails r_stop (no marker stopwords)
        ("g5", "quick brown foxes jump high today"),
    ]
    with tempfile.TemporaryDirectory() as td:
        df = (
            spark.createDataFrame(docs, ["doc_id", "text"])
            .withColumn("lang", F.lit("en"))
            .withColumn("source", F.lit("s"))
            .withColumn("n_chars", F.length("text"))
        )
        df.write.parquet(os.path.join(td, "documents.parquet"))
        [r] = corpus_quality_gate(spark, td).collect()
    assert r["n_docs"] == 5
    assert r["pass_len"] == 4       # g2 out
    assert r["pass_word_len"] == 4  # g3 out
    assert r["pass_symbol"] == 4    # g4 out
    assert r["pass_stop"] == 4      # g5 out
    assert r["n_keep"] == 1         # only g1 passes all


def test_curation_funnel_consistent_with_primitives(spark, sf_dir):
    """The funnel's stage counts must be monotone and agree with the
    primitive operators it composes (quality gate keep count; exact
    dedup keeps ≤ survivors)."""
    from mapreduce_citation_spark.operators.pipeline import (
        corpus_curation_funnel,
    )
    from mapreduce_citation_spark.operators.text import corpus_quality_gate

    from mapreduce_citation_spark.operators.dedup import dedup_clusters

    rows = {r["stage"]: r for r in corpus_curation_funnel(spark, sf_dir).collect()}
    assert list(sorted(rows)) == [
        "0_total", "1_quality", "2_exact_dedup", "3_near_dedup",
        "4_decontaminated",
    ]
    counts = [rows[s]["n_docs"] for s in sorted(rows)]
    chars = [rows[s]["total_chars"] for s in sorted(rows)]
    assert counts == sorted(counts, reverse=True)
    assert chars == sorted(chars, reverse=True)
    n_keep = sum(
        r["n_keep"] for r in corpus_quality_gate(spark, sf_dir).collect()
    )
    assert rows["1_quality"]["n_docs"] == n_keep
    # near-dedup stage drops at most the non-canonical clustered docs
    n_dropped_max = dedup_clusters(spark, sf_dir).filter("NOT keep").count()
    assert (
        rows["2_exact_dedup"]["n_docs"] - rows["3_near_dedup"]["n_docs"]
        <= n_dropped_max
    )
    assert rows["4_decontaminated"]["n_docs"] > 0


def test_synthetic_corpus_expansion_preserves_structure(spark, sf_dir, tmp_path):
    """tools/gen_corpus.py contract: each replica is a char-bijection
    image of the base corpus, so dedup/decontamination output must be
    EXACTLY K x the base output — the property that makes runtime
    curves on the expanded corpus engine evidence rather than a
    construction artifact (a leaky mutation scheme would manufacture
    cross-replica pairs)."""
    import os as _os
    import sys as _sys

    _sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))
    from tools.gen_corpus import generate

    from mapreduce_citation_spark.operators.dedup import (
        decontaminate_eval_overlap,
        dedup_exact_substring_pairs,
    )

    k = 3
    out_dir = str(tmp_path / "corpus_x3")
    generate(out_dir, k, sf_dir)
    for fn in (dedup_exact_substring_pairs, decontaminate_eval_overlap):
        base = fn(spark, sf_dir).count()
        grown = fn(spark, out_dir).count()
        assert grown == k * base, (fn.__name__, base, grown)
        spark.catalog.clearCache()


def test_embedding_expansion_is_orthogonal(sf_dir, tmp_path):
    """tools/gen_corpus.generate_embeddings contract: each replica is
    a signed coordinate permutation (orthogonal) of the base set —
    norms and within-replica pairwise dot products preserved exactly
    bar float32 re-rounding (0 here: permutation/sign-flip touch no
    mantissa) — and replica 0 is the identity."""
    import os as _os
    import sys as _sys

    _sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))
    import duckdb
    import numpy as np

    from tools.gen_corpus import STRIDE, generate_embeddings

    out_dir = str(tmp_path / "emb_x3")
    generate_embeddings(out_dir, 3, sf_dir)

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM '{out_dir}/embeddings.parquet' ORDER BY vec_id"
    ).fetchnumpy()
    base_src = con.execute(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).fetchnumpy()
    n = len(base_src["vec_id"])
    emb = np.stack(rows["embedding"])
    base = np.stack(base_src["embedding"])
    assert len(rows["vec_id"]) == 3 * n
    # replica 0 is the identity
    np.testing.assert_array_equal(emb[:n], base)
    # each replica: same gram matrix (orthogonal transform) on a sample
    s = base[:50].astype(np.float64)
    gram = s @ s.T
    for r in (1, 2):
        rep = emb[r * n : r * n + 50].astype(np.float64)
        np.testing.assert_allclose(rep @ rep.T, gram, rtol=0, atol=1e-12)
        assert not np.array_equal(emb[r * n : (r + 1) * n], base)
    # ids are strided
    assert rows["vec_id"][n] == STRIDE


def test_phash_clusters_canonicalize_planted_variants(spark, sf_dir):
    """Every planted (base, variant) image pair must form one cluster
    with the base (min img_id) as keeper; cluster invariants mirror
    the text-side dedup_clusters tests."""
    from mapreduce_citation_spark.operators.multimodal import (
        multimodal_phash_clusters,
        multimodal_phash_pairs,
    )

    labels = {
        r["img_id"]: (r["cluster_id"], r["keep"])
        for r in multimodal_phash_clusters(spark, sf_dir).collect()
    }
    pairs = multimodal_phash_pairs(spark, sf_dir).collect()
    assert pairs and labels
    for r in pairs:  # both endpoints clustered together
        assert labels[r["img_a"]][0] == labels[r["img_b"]][0]
    # cluster_id is the min member; exactly one keeper per cluster
    by_cluster: dict[int, list[int]] = {}
    for img, (cid, _keep) in labels.items():
        by_cluster.setdefault(cid, []).append(img)
    for cid, members in by_cluster.items():
        assert cid == min(members)
        assert sum(1 for m in members if labels[m][1]) == 1
    # planted variants: base is the keeper of its own cluster
    for img, (cid, keep) in labels.items():
        if img % 2 == 1:  # variant ids are odd (2*doc_id+1)
            base = img - 1
            if base in labels:
                assert labels[base][0] == cid


def test_audio_fingerprint_locality_on_planted_wav():
    """Direct fingerprint properties on a hand-built WAV: 64 bits;
    deterministic; the planted low-bit perturbation of the first
    sample moves the fingerprint by at most 1 bit (only segment 0's
    energy moves); genuinely different audio moves it by many bits."""
    from mapreduce_citation_spark.operators.multimodal import (
        make_audio_fingerprint,
        make_media_codec,
    )

    build, _decode = make_media_codec()
    perturb, fp = make_audio_fingerprint()
    _, p = build(13, "The quick brown fox jumps over the lazy dog. " * 4)
    h = fp(p)
    assert h is not None and len(h) == 64 and set(h) <= {"0", "1"}
    assert fp(p) == h  # deterministic
    hv = fp(perturb(p))
    assert sum(a != b for a, b in zip(h, hv)) <= 1
    _, q = build(13, "zyxw vutsr qponm lkjih gfedc ba098 76543 210ZY XWVU" * 3)
    hq = fp(q)
    assert sum(a != b for a, b in zip(h, hq)) > 4


def test_audio_fp_pairs_recover_all_planted_variants(spark, sf_dir):
    """Every planted (base, variant) audio pair must be recovered by
    the shared pigeonhole plan with hamming ≤ 1; pair ids are
    well-formed (ordered, within-threshold)."""
    from mapreduce_citation_spark.operators.multimodal import (
        multimodal_audio_fp_pairs,
    )
    from mapreduce_citation_spark.sources.readers import load_table

    planted = {
        2 * r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 5)
        .select("doc_id")
        .collect()
    }
    pairs = multimodal_audio_fp_pairs(spark, sf_dir).collect()
    found = {(r["aud_a"], r["aud_b"]): r["hamming"] for r in pairs}
    for base in planted:
        assert (base, base + 1) in found, f"planted pair {base} missing"
        assert found[(base, base + 1)] <= 1
    for (a, b), ham in found.items():
        assert a < b and 0 <= ham <= 2


def test_bpe_merges_match_classic_python_bpe(spark):
    """BPE merge learning on a planted corpus chosen to stress the
    greedy-merge semantics: runs of the same symbol ("aaaa" must
    become (aa)(aa), not (aa)a(a-straddle)), alternations ("abab"),
    and merged-token adjacency in later iterations. Compared against
    a classic tuple-symbol BPE implementation."""
    from collections import Counter

    from mapreduce_citation_spark.operators.text import bpe_merge_table

    corpus = [
        "aaaa aaaa aa baba",
        "abab abab aaab",
        "aaaa abab cddc",
        "xy xy xy xyxy aaaa",
    ]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)],
                                 ["doc_id", "text"])

    words = Counter(w for t in corpus for w in t.split() if w)
    vocab = {tuple(w): c for w, c in words.items()}

    def top_pair(v):
        pc = Counter()
        for syms, c in v.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        return sorted(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[0]

    def merge(v, pair):
        a, b = pair
        out: dict[tuple, int] = {}
        for syms, c in v.items():
            ns, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    ns.append(a + b)
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            k = tuple(ns)
            out[k] = out.get(k, 0) + c
        return out

    expected = []
    for it in range(1, 5):
        (l, r), cnt = top_pair(vocab)
        expected.append((it, l, r, cnt, l + r))
        vocab = merge(vocab, (l, r))

    got = [
        (r["it"], r["left_sym"], r["right_sym"], r["pair_count"], r["new_token"])
        for r in bpe_merge_table(docs, 4).orderBy("it").collect()
    ]
    assert got == expected
    # the run case: iteration 1 must count "aa" non-overlapping
    # (4 per "aaaa" word would be overlap-counting; classic BPE counts
    # adjacent pairs in the symbol list, i.e. 3 per "aaaa")
    assert got[0][1:3] == ("a", "a")


def test_chunking_reconstructs_documents(spark, sf_dir):
    """Chunking invariants: chunk 0 starts at position 0; successive
    chunks overlap by exactly 32 chars; concatenating each chunk's
    fresh tail (stride prefix) rebuilds the document exactly; every
    char of every doc is covered."""
    from collections import defaultdict

    import pandas as pd

    from mapreduce_citation_spark.operators.pipeline import corpus_chunk_sliding

    rows = corpus_chunk_sliding(spark, sf_dir).collect()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "text"])
    text = dict(zip(docs["doc_id"], docs["text"]))
    by_doc = defaultdict(dict)
    for r in rows:
        by_doc[r["doc_id"]][r["chunk_idx"]] = r["chunk"]
    assert set(by_doc) == set(text)
    for doc_id, chunks in by_doc.items():
        t = text[doc_id]
        n = len(chunks)
        assert sorted(chunks) == list(range(n))
        rebuilt = chunks[0]
        for k in range(1, n):
            assert chunks[k][:32] == rebuilt[-32:]  # overlap preserved
            rebuilt += chunks[k][32:]
        assert rebuilt == t
        if n > 1:
            assert len(chunks[n - 2]) == 128  # only the last may be short


def test_coordinated_sampling_preserves_joins(spark, sf_dir):
    """The universe-sampling property: with both tables sampled by
    the same key coin, every sampled order joins a sampled customer
    (n_orders_joined == n_orders_sampled), while independent
    per-table coins would lose most of the join; the sample rate is
    near the coin's 2/16."""
    from mapreduce_citation_spark.operators.pipeline import (
        coordinated_sample_join,
    )
    from mapreduce_citation_spark.sources.readers import load_table

    rows = coordinated_sample_join(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["n_orders_sampled"] == r["n_orders_joined"]
    n_cust = load_table(spark, sf_dir, "customer").count()
    sampled_cust = sum(r["n_customers"] for r in rows)
    assert 0.05 < sampled_cust / n_cust < 0.25  # ~12.5% coin


def test_pps_sample_telescopes_and_is_size_biased(spark, sf_dir):
    """Systematic-PPS invariants: Σ multiplicity = k exactly (the
    floor sequence telescopes 0 → k); every multiplicity ≥ 1; docs
    heavier than one stride get multiplicity ≥ 2 iff wt > W/k; and
    the mean weight of sampled docs exceeds the corpus mean (size
    bias is the point)."""
    import pandas as pd

    from mapreduce_citation_spark.operators.pipeline import (
        corpus_pps_systematic_sample,
    )

    rows = corpus_pps_systematic_sample(spark, sf_dir).collect()
    assert sum(r["multiplicity"] for r in rows) == 50
    assert all(r["multiplicity"] >= 1 for r in rows)
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "n_chars"])
    W = int(docs["n_chars"].sum())
    for r in rows:
        if r["multiplicity"] >= 2:
            assert r["wt"] * 50 > W
    sampled_mean = sum(r["wt"] * r["multiplicity"] for r in rows) / 50
    assert sampled_mean > docs["n_chars"].mean()


def test_resize_thumbs_match_python_pixel_replay(spark, sf_dir):
    """Resize correctness on real encoded BMPs: a pure-python replay
    (build the BMP, decode it independently, sample the same 4×4
    grid) reproduces every digest and channel mean."""
    import hashlib
    import struct

    import pandas as pd

    from mapreduce_citation_spark.operators.multimodal import (
        make_media_codec,
        multimodal_resize_thumbs,
    )

    rows = multimodal_resize_thumbs(spark, sf_dir).collect()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "text"])
    text = dict(zip(docs["doc_id"], docs["text"]))
    build, _ = make_media_codec()
    for r in rows[:50]:
        _, p = build(r["doc_id"], text[r["doc_id"]])
        w = struct.unpack_from("<i", p, 18)[0]
        h = abs(struct.unpack_from("<i", p, 22)[0])
        stride = ((w * 3 + 3) // 4) * 4
        pix, sums = [], [0, 0, 0]
        for j in range(4):
            row = 54 + ((j * h) // 4) * stride
            for i in range(4):
                x = (i * w) // 4
                for c in range(3):
                    v = p[row + x * 3 + c]
                    pix.append(v)
                    sums[c] += v
        assert (r["src_w"], r["src_h"]) == (w, h)
        assert r["thumb_digest"] == hashlib.md5(
            ",".join(map(str, pix)).encode()
        ).hexdigest()
        assert [r["mean_c0"], r["mean_c1"], r["mean_c2"]] == [
            s / 16 for s in sums
        ]


def test_audio_fp128_recovers_planted(spark, sf_dir):
    """The 128-bit fingerprint must recover every planted pair
    (Hamming ≤ 1) through its own pigeonhole plan, with well-formed
    pairs. (A finer contour is NOT a refinement of the coarser one —
    129 segments don't nest in 65 — so no monotonicity claim between
    the two pair sets holds in general; their scale behavior is
    measured, not assumed: see SCALE.md's entropy paragraphs.)"""
    from mapreduce_citation_spark.operators.multimodal import (
        multimodal_audio_fp128_pairs,
    )
    from mapreduce_citation_spark.sources.readers import load_table

    planted = {
        2 * r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 5)
        .select("doc_id")
        .collect()
    }
    p128 = {(r["aud_a"], r["aud_b"]): r["hamming"]
            for r in multimodal_audio_fp128_pairs(spark, sf_dir).collect()}
    for base in planted:
        assert (base, base + 1) in p128 and p128[(base, base + 1)] <= 1
    for (a, b), ham in p128.items():
        assert a < b and 0 <= ham <= 2


def test_audio_pcm_units_round_trip_and_perturb_locality(spark):
    """The gram-sketch front-end decodes the WAV data chunk back to
    exactly the built text bytes (truncated to whole frames), and the
    planted perturbation changes EXACTLY the first sample — so at most
    one distinct 8-gram of the base set is replaced."""
    from mapreduce_citation_spark.operators.multimodal import (
        _AMH_K,
        make_audio_pcm,
        make_media_codec,
    )

    build, _decode = make_media_codec()
    perturb, pcm = make_audio_pcm()
    for doc_id, text in ((1, "alpha beta gamma delta epsilon zeta"),
                         (3, "short but long enough for grams x")):
        mime, payload = build(doc_id, text)
        assert mime == "audio/wav"
        c = 1 + (doc_id // 2) % 2
        nd = len(text) - len(text) % c
        base = pcm(payload)
        assert base == text[:nd]
        var = pcm(perturb(payload))
        assert var[0] == chr(ord(text[0]) ^ 1) and var[1:] == base[1:]
        grams = lambda s: {s[i : i + _AMH_K] for i in range(len(s) - _AMH_K + 1)}
        gb, gv = grams(base), grams(var)
        assert len(gb - gv) <= 1 and len(gv - gb) <= 1


_MEDIA_WORKER_CHILD = r"""
import importlib.util, json, sys
sys.path.insert(0, sys.argv[1])  # the Spark driver only: workers get no path
from mapreduce_citation_spark.registry import all_specs
from mapreduce_citation_spark.session import get_spark

spark = get_spark("media-workers", cpus=2, shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
probe = spark.sparkContext.parallelize([0], 1).map(
    lambda _: importlib.util.find_spec("mapreduce_citation_spark") is None
)
out = {"workers_blind": probe.collect() == [True]}
for name in sys.argv[3:]:
    out[name] = len(all_specs()[name].fn(spark, sys.argv[2]).collect())
print(json.dumps(out))
"""


def test_media_kits_run_on_workers_without_the_package(tmp_path, sf_dir):
    """Every media family's mapInPandas closure carries its kit by
    value: in a fresh session whose Python workers cannot import this
    package (PYTHONPATH unset, a temp working dir, the repo on the
    Spark driver's sys.path only), the pair, decode and resize
    families run to completion."""
    import json
    import subprocess
    import sys as _sys

    names = [
        "multimodal_phash_pairs",
        "multimodal_audio_fp_pairs",
        "multimodal_audio_fp128_pairs",
        "multimodal_audio_minhash_pairs",
        "multimodal_decode_features",
        "multimodal_resize_thumbs",
    ]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [_sys.executable, "-c", _MEDIA_WORKER_CHILD, repo, sf_dir, *names],
        capture_output=True, text=True, timeout=600, cwd=tmp_path, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got.pop("workers_blind"), "workers could import the package"
    assert set(got) == set(names) and all(n > 0 for n in got.values()), got


def test_audio_minhash_pairs_recover_planted(spark, sf_dir):
    """Every planted (base, variant) recording pair must survive the
    full sketch→band→verify pipeline with Jaccard ≥ 0.9 (the variant
    differs in ≤ 1 of ≥ 37 distinct grams, so its true Jaccard is
    ≥ 36/38 and its MinHash signature is near-identical); all emitted
    pairs are ordered and above the gate."""
    from mapreduce_citation_spark.operators.multimodal import (
        multimodal_audio_minhash_pairs,
    )
    from mapreduce_citation_spark.sources.readers import load_table

    planted = {
        2 * r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 5)
        .select("doc_id")
        .collect()
    }
    pairs = multimodal_audio_minhash_pairs(spark, sf_dir).collect()
    found = {(r["aud_a"], r["aud_b"]): r["jaccard"] for r in pairs}
    for base in planted:
        assert (base, base + 1) in found, f"planted pair {base} missing"
        assert found[(base, base + 1)] >= 0.9
    for (a, b), j in found.items():
        assert a < b and 0.9 <= j <= 1.0


def test_pmi_collocations_match_python_replay(spark, sf_dir):
    """Top-20 PMI collocations equal an exact python Counter replay
    (same lift formula, same >= 5 floor, same tie-break), and every
    emitted lift exceeds 1 only when the pair genuinely co-occurs
    above independence."""
    from collections import Counter

    import pandas as pd
    import pytest as _pt

    from mapreduce_citation_spark.operators.text import text_pmi_collocations

    rows = text_pmi_collocations(spark, sf_dir).collect()
    assert len(rows) == 20
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text"])
    uni, bi = Counter(), Counter()
    for t in docs["text"]:
        ws = [w for w in t.split() if w]
        uni.update(ws)
        bi.update(zip(ws, ws[1:]))
    n_uni, n_bg = sum(uni.values()), sum(bi.values())
    scored = sorted(
        (
            (-(c * n_uni * n_uni) / (n_bg * uni[a] * uni[b]), a, b, c)
            for (a, b), c in bi.items()
            if c >= 5
        ),
    )[:20]
    for r, (neg_lift, a, b, c) in zip(rows, scored):
        assert (r["w1"], r["w2"], r["n_pair"]) == (a, b, c)
        assert r["lift"] == _pt.approx(-neg_lift, rel=1e-12)
        assert r["n_w1"] == uni[a] and r["n_w2"] == uni[b]


def test_bpe_encode_matches_classic_python_bpe(spark):
    """Tokenizer APPLY on the same planted corpus as the trainer
    test: per-doc BPE token counts after 4 learned merges must equal
    a classic tuple-symbol implementation's encoding — including the
    run case (greedy non-overlapping "aa" merges inside "aaaa") and
    words untouched by any merge."""
    from collections import Counter

    from mapreduce_citation_spark.operators.text import bpe_encode_counts

    corpus = [
        "aaaa aaaa aa baba",
        "abab abab aaab",
        "aaaa abab cddc",
        "xy xy xy xyxy aaaa",
    ]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)],
                                 ["doc_id", "text"])

    words = Counter(w for t in corpus for w in t.split() if w)
    vocab = {tuple(w): c for w, c in words.items()}

    def top_pair(v):
        pc = Counter()
        for syms, c in v.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        return sorted(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[0][0]

    def merge(v, pair):
        a, b = pair
        out: dict[tuple, int] = {}
        for syms, c in v.items():
            ns, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    ns.append(a + b)
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            out[tuple(ns)] = out.get(tuple(ns), 0) + c
        return out

    enc = {tuple(w): tuple(w) for w in {w for t in corpus for w in t.split() if w}}
    v = vocab
    for _ in range(4):
        pair = top_pair(v)
        v = merge(v, pair)
        a, b = pair
        for w in enc:
            syms, ns, i = enc[w], [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    ns.append(a + b)
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            enc[w] = tuple(ns)

    expected = {}
    for d, t in enumerate(corpus):
        ws = [w for w in t.split() if w]
        expected[d] = (len(ws), sum(len(enc[tuple(w)]) for w in ws))

    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens"])
        for r in bpe_encode_counts(docs, 4).collect()
    }
    assert got == expected


def test_incremental_ingest_planted_reasons(spark):
    """Planted delta-vs-base corpus: an exact duplicate of a base doc,
    a near-duplicate (one word changed in a long doc), a doc that
    duplicates only ANOTHER DELTA doc (must pass — the base is the
    only authority), and a clean doc."""
    from pyspark.sql import functions as F

    from mapreduce_citation_spark.operators.dedup import (
        incremental_ingest_report,
    )

    long = " ".join(f"w{i}" for i in range(60))
    near = " ".join((f"w{i}" if i != 59 else "CHANGED") for i in range(60))
    rows = [
        # base (odd ids)
        (1, long),
        (3, "completely different base text here"),
        # delta (even ids)
        (2, long),                     # exact dup of base 1
        (4, near),                     # near dup of base 1 (J ≈ 57/61)
        (6, "unique delta text one two three"),   # clean
        (8, "unique delta text one two three"),   # dup of DELTA 6 only
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["reason"]
        for r in incremental_ingest_report(
            docs, F.col("doc_id") % 2 == 0
        ).collect()
    }
    # J(long, near) = |∩| / |∪| = 55/61? compute: 58 shingles each,
    # changing the last word alters the last 3 shingles → ∩ = 55,
    # ∪ = 61 → 0.901 ≥ 0.8
    assert got == {2: "exact", 4: "near"}


def test_ingest_rejections_are_batching_independent(spark):
    """The theorem the streaming twin's oracle rests on
    (streaming_ingest_dedup_near reuses the BATCH operator's oracle):
    a delta doc is rejected iff some BASE doc matches it — a pairwise
    predicate — so chopping the delta into micro-batches and running
    the report per batch against base ∪ batch yields the same union
    as the one-shot run, even though per-batch document frequencies
    (and hence prefixes/candidates) differ."""
    from pyspark.sql import functions as F

    from mapreduce_citation_spark.operators.dedup import (
        incremental_ingest_report,
    )

    long = " ".join(f"w{i}" for i in range(60))
    near = " ".join((f"w{i}" if i != 59 else "CHANGED") for i in range(60))
    base_rows = [(1, long), (3, "completely different base text here")]
    delta_rows = [
        (2, long),                                # exact dup of base 1
        (4, near),                                # near dup of base 1
        (6, "unique delta text one two three"),   # clean
        (8, "unique delta text one two three"),   # dup of DELTA 6 only
    ]
    base = spark.createDataFrame(base_rows, ["doc_id", "text"])
    delta = spark.createDataFrame(delta_rows, ["doc_id", "text"])
    pred = F.col("doc_id") % 2 == 0

    def report(d):
        return {
            (r["doc_id"], r["reason"])
            for r in incremental_ingest_report(d, pred).collect()
        }

    one_shot = report(base.unionByName(delta))
    per_batch = set()
    for batch_pred in (F.col("doc_id") <= 4, F.col("doc_id") > 4):
        per_batch |= report(base.unionByName(delta.filter(batch_pred)))
    assert per_batch == one_shot == {(2, "exact"), (4, "near")}


def test_ingest_precomputed_base_path_matches_one_shot(spark):
    """The r9 streaming fix's correctness half: the precomputed-base
    path (prepare_ingest_base + ingest_report_against_base — base
    artifacts derived once, delta ranked under BASE-df shingle order)
    yields the same rejection set as the self-contained one-shot
    report (full-corpus df order), both per-batch and whole-delta.
    Prefix/PPJoin recall holds under any consistent global order, so
    the two paths must agree exactly."""
    from pyspark.sql import functions as F

    from mapreduce_citation_spark.operators.dedup import (
        incremental_ingest_report,
        ingest_report_against_base,
        prepare_ingest_base,
    )

    long = " ".join(f"w{i}" for i in range(60))
    near = " ".join((f"w{i}" if i != 59 else "CHANGED") for i in range(60))
    base_rows = [(1, long), (3, "completely different base text here")]
    delta_rows = [
        (2, long),                                # exact dup of base 1
        (4, near),                                # near dup of base 1
        (6, "unique delta text one two three"),   # clean
        (8, "unique delta text one two three"),   # dup of DELTA 6 only
        (10, "x y"),                              # sub-3-words: no shingles
    ]
    base = spark.createDataFrame(base_rows, ["doc_id", "text"])
    delta = spark.createDataFrame(delta_rows, ["doc_id", "text"])

    one_shot = {
        (r["doc_id"], r["reason"])
        for r in incremental_ingest_report(
            base.unionByName(delta), F.col("doc_id") % 2 == 0
        ).collect()
    }

    arts = prepare_ingest_base(base).materialize()
    try:
        whole = {
            (r["doc_id"], r["reason"])
            for r in ingest_report_against_base(delta, arts).collect()
        }
        per_batch = set()
        for batch_pred in (F.col("doc_id") <= 4, F.col("doc_id") > 4):
            caches: list = []
            per_batch |= {
                (r["doc_id"], r["reason"])
                for r in ingest_report_against_base(
                    delta.filter(batch_pred), arts, caches
                ).collect()
            }
            for c in caches:
                c.unpersist()
    finally:
        arts.unpersist()
    assert whole == per_batch == one_shot == {(2, "exact"), (4, "near")}


def test_ingest_base_disk_index_restart_skips_prep(spark, tmp_path, monkeypatch):
    """r10 (r9 verdict #7): the near-dup ingest base artifacts persist
    to a content-fingerprint-keyed parquet index, and a RESTARTED
    stream — new query, same checkpoint, same base — resumes by
    LOADING them (prepare_ingest_base must not run again), with the
    union of rejections across both runs identical to the one-shot
    report over the whole delta."""
    from pyspark.sql import functions as F

    import mapreduce_citation_spark.operators.dedup as dd
    from mapreduce_citation_spark.streaming.events import write_epoch

    long = " ".join(f"w{i}" for i in range(60))
    near = " ".join((f"w{i}" if i != 59 else "CHANGED") for i in range(60))
    base = spark.createDataFrame(
        [(1, long), (3, "completely different base text here")],
        ["doc_id", "text"],
    )
    chunk1 = [(2, long), (4, near), (6, "unique delta text one two three")]
    chunk2 = [(12, long), (14, "another clean delta document entirely")]

    prep_calls: list[int] = []
    real_prep = dd.prepare_ingest_base

    def counting_prep(b):
        prep_calls.append(1)
        return real_prep(b)

    monkeypatch.setattr(dd, "prepare_ingest_base", counting_prep)

    index_dir = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    src = tmp_path / "chunks"
    src.mkdir()

    def run_stream():
        arts = dd.load_or_build_ingest_base(spark, base, index_dir)
        try:
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src))
            )

            def merge(bdf, epoch_id):
                if bdf.isEmpty():
                    return
                caches: list = []
                try:
                    write_epoch(
                        dd.ingest_report_against_base(bdf, arts, caches),
                        epoch_id,
                        out,
                    )
                finally:
                    for c in caches:
                        c.unpersist()

            q = (
                stream.writeStream.option("checkpointLocation", ckpt)
                .foreachBatch(merge)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        finally:
            arts.unpersist()
        return {
            (r["doc_id"], r["reason"])
            for r in spark.read.parquet(out)
            .select("doc_id", "reason")
            .collect()
        }

    spark.createDataFrame(chunk1, ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    got1 = run_stream()
    assert prep_calls == [1], "first run must BUILD the index (one prep)"
    assert got1 == {(2, "exact"), (4, "near")}

    # restart: new chunk arrives, new query on the SAME checkpoint —
    # only the new chunk is processed, and the base artifacts load
    # from the disk index (no second prep)
    spark.createDataFrame(chunk2, ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    got2 = run_stream()
    assert prep_calls == [1], "restart must LOAD the index, not re-prep"
    one_shot = {
        (r["doc_id"], r["reason"])
        for r in dd.incremental_ingest_report(
            base.unionByName(
                spark.createDataFrame(chunk1 + chunk2, ["doc_id", "text"])
            ),
            F.col("doc_id") % 2 == 0,
        ).collect()
    }
    assert got2 == one_shot == {(2, "exact"), (4, "near"), (12, "exact")}

    # the index key is content-addressed: any base edit re-keys it
    fp = dd.ingest_base_fingerprint(base)
    assert dd.ingest_base_fingerprint(base) == fp  # deterministic
    edited = spark.createDataFrame(
        [(1, long + " tail"), (3, "completely different base text here")],
        ["doc_id", "text"],
    )
    assert dd.ingest_base_fingerprint(edited) != fp


def _py_tokens(text):
    import re

    return [t for t in re.split(r"\s+", text or "") if t]


def test_sequence_packing_matches_python_replay(spark):
    """corpus_sequence_packing vs a pure-python replay over the same
    fixture: global doc_id-ordered token cumsum, window = cum_before
    div L, offset = cum_before mod L, spans = windows touched. Also
    exercises prefix.with_global_order's cumsum path end-to-end."""
    from mapreduce_citation_spark.operators.text import (
        PACK_CONTEXT_LEN,
        corpus_sequence_packing,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = sorted(
        (r["doc_id"], len(_py_tokens(r["text"])))
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    expected, cum = {}, 0
    for doc_id, n in docs:
        before, cum = cum, cum + n
        spans = 0 if n == 0 else (cum - 1) // PACK_CONTEXT_LEN - before // PACK_CONTEXT_LEN + 1
        expected[doc_id] = (
            n, before // PACK_CONTEXT_LEN, before % PACK_CONTEXT_LEN, spans
        )
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["window_id"], r["offset_in_window"],
            r["windows_spanned"],
        )
        for r in corpus_sequence_packing(spark, sf_dir).collect()
    }
    assert got == expected
    # the geometry is meaningful at this SF: multiple windows and at
    # least one boundary-straddling document (replay-confirmed first)
    assert max(v[1] for v in expected.values()) >= 2
    assert any(v[3] >= 2 for v in expected.values())


def test_chunk_windows_match_python_replay(spark):
    """doc_chunk_windows vs a python replay: per doc, chunks at
    stride (len − overlap), last chunk clamped to the doc end, empty
    docs absent; consecutive chunks overlap exactly CHUNK_OVERLAP."""
    from mapreduce_citation_spark.operators.text import (
        CHUNK_LEN,
        CHUNK_OVERLAP,
        doc_chunk_windows,
    )

    sf_dir = "/root/testdata/sf0.001"
    stride = CHUNK_LEN - CHUNK_OVERLAP
    expected = set()
    for r in (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    ):
        n = len(_py_tokens(r["text"]))
        if n == 0:
            continue
        last_k = 0 if n <= CHUNK_LEN else (n - CHUNK_OVERLAP - 1) // stride
        for k in range(last_k + 1):
            expected.add(
                (r["doc_id"], k, k * stride, min(k * stride + CHUNK_LEN, n))
            )
    got = {
        (r["doc_id"], r["chunk_id"], r["start_tok"], r["end_tok"])
        for r in doc_chunk_windows(spark, sf_dir).collect()
    }
    assert got == expected
    # invariants on the replayed geometry: full coverage, exact overlap
    by_doc: dict = {}
    for doc_id, k, s, e in expected:
        by_doc.setdefault(doc_id, []).append((k, s, e))
    saw_multi = False
    for chunks in by_doc.values():
        chunks.sort()
        assert chunks[0][1] == 0
        for (_, s1, e1), (_, s2, e2) in zip(chunks, chunks[1:]):
            saw_multi = True
            assert s2 == s1 + stride and e1 - s2 >= CHUNK_OVERLAP - stride
            assert s2 < e1  # overlap is real
    assert saw_multi  # fixture long docs exist


def _twin_cases():
    """(name, Spark expression, DuckDB expression) per text_funcs twin,
    over a row with columns doc_id, epoch, text, t (its tokens), n
    (token count) and cum (running token total in doc_id order).
    Bigrams carry their callers' ``>= 2`` guard."""
    from mapreduce_citation_spark.functions import text_funcs as tf
    from mapreduce_citation_spark.operators.dedup import PARA_SEG
    from mapreduce_citation_spark.operators.text import (
        BOILER_SEG,
        CHUNK_LEN,
        CHUNK_OVERLAP,
        PACK_CONTEXT_LEN,
    )

    s_ids, s_start, s_end = tf.chunks_spark("n", "k", CHUNK_LEN, CHUNK_OVERLAP)
    d_ids, d_start, d_end = tf.chunks_duck("n", "k", CHUNK_LEN, CHUNK_OVERLAP)
    s_pack = tf.pack_spans_spark("cum", "n", PACK_CONTEXT_LEN).values()
    d_pack = tf.pack_spans_duck("cum", "n", PACK_CONTEXT_LEN).values()
    return [
        ("tokens", tf.TOK_SPARK, tf.TOK_DUCK),
        ("bigrams",
         f"CASE WHEN size(t) >= 2 THEN {tf.bigrams_spark('t')} END",
         f"CASE WHEN len(t) >= 2 THEN {tf.bigrams_duck('t')} END"),
        ("bigram_strings",
         f"CASE WHEN size(t) >= 2 THEN {tf.bigram_strings_spark('t')} END",
         f"CASE WHEN len(t) >= 2 THEN {tf.bigram_strings_duck('t')} END"),
        ("segments_boiler",
         tf.segments_spark("t", BOILER_SEG), tf.segments_duck("t", BOILER_SEG)),
        ("segments_para",
         tf.segments_spark("t", PARA_SEG), tf.segments_duck("t", PARA_SEG)),
        ("chunks",
         f"transform({s_ids}, k -> array({s_start}, {s_end}))",
         f"list_transform({d_ids}, k -> [{d_start}, {d_end}])"),
        ("pack_spans",
         f"array({', '.join(s_pack)})", f"[{', '.join(d_pack)}]"),
        ("hex60", tf.hex60_spark("text"), tf.hex60_duck("text")),
        ("epoch_hash", tf.EPOCH_HASH_SPARK, tf.EPOCH_HASH_DUCK),
    ]


@pytest.mark.parametrize("case", [c[0] for c in _twin_cases()])
def test_text_twins_agree_on_edge_inputs(spark, case):
    """Each text_funcs Spark twin, evaluated in Spark, equals its
    DuckDB twin, evaluated in DuckDB, on planted rows: 0, 1 and 2
    tokens; seg - 1, seg and seg + 1 tokens for both segment grains;
    CHUNK_LEN, CHUNK_LEN + 1 and one-stride-past tokens; and running
    totals that hold an empty document, a document ending exactly on
    a PACK_CONTEXT_LEN boundary and one straddling it."""
    import duckdb
    import pandas as pd
    from pyspark.sql import Row

    from mapreduce_citation_spark.functions.text_funcs import TOK_DUCK, TOK_SPARK
    from mapreduce_citation_spark.operators.text import (
        CHUNK_LEN,
        CHUNK_OVERLAP,
        PACK_CONTEXT_LEN,
    )

    _, spark_expr, duck_expr = next(c for c in _twin_cases() if c[0] == case)
    stride = CHUNK_LEN - CHUNK_OVERLAP
    sizes = [0, 1, 2, 7, 8, 9, 15, 16, 17, CHUNK_LEN, CHUNK_LEN + 1,
             CHUNK_LEN + stride, CHUNK_LEN + stride + 1]
    # the next doc ends exactly on the first window boundary, an empty
    # doc follows there, then one straddles the second boundary
    sizes += [PACK_CONTEXT_LEN - sum(sizes), 0, PACK_CONTEXT_LEN - 10, 20]
    rows, cum = [], 0
    for i, n in enumerate(sizes):
        cum += n
        # a repeated token so segments and bigrams repeat within a doc
        text = " ".join(f"w{j % 5}" for j in range(n))
        rows.append((i, i % 2, f"  {text} " if i % 3 else text, n, cum))
    L = PACK_CONTEXT_LEN
    assert [c for *_, c in rows][-4:] == [L, L, 2 * L - 10, 2 * L + 10]
    cols = ["doc_id", "epoch", "text", "n", "cum"]

    sdf = spark.createDataFrame(rows, cols).select("*", F.expr(TOK_SPARK).alias("t"))
    got = [
        r["v"] for r in sdf.select("doc_id", F.expr(spark_expr).alias("v"))
        .orderBy("doc_id").collect()
    ]

    def plain(v):
        if isinstance(v, Row):
            return {k: plain(x) for k, x in v.asDict().items()}
        if isinstance(v, list):
            return [plain(x) for x in v]
        return v

    with duckdb.connect() as con:
        con.register("planted", pd.DataFrame(rows, columns=cols))
        want = [
            r[0] for r in con.execute(
                f"SELECT {duck_expr} AS v FROM "
                f"(SELECT *, {TOK_DUCK} AS t FROM planted) ORDER BY doc_id"
            ).fetchall()
        ]
    assert [plain(v) for v in got] == want


def test_boilerplate_strip_removes_planted_cross_doc_segments(spark):
    """text_boilerplate_strip on a planted corpus: an 8-token footer
    shared (segment-aligned) by two docs is stripped from BOTH; a
    segment repeated only WITHIN one doc survives (the rule is
    cross-doc df, not repetition); sub-segment docs pass through with
    md5('') digests; digests replay exactly in python."""
    import hashlib
    import os
    import tempfile

    from pyspark.sql import functions as F

    from mapreduce_citation_spark.operators.text import (
        BOILER_MIN_DOCS,
        BOILER_SEG,
        text_boilerplate_strip,
    )

    assert BOILER_SEG == 8 and BOILER_MIN_DOCS == 2  # planted layout
    footer = "foot1 foot2 foot3 foot4 foot5 foot6 foot7 foot8"
    ua = "a1 a2 a3 a4 a5 a6 a7 a8"
    ub = "b1 b2 b3 b4 b5 b6 b7 b8"
    ud = "d1 d2 d3 d4 d5 d6 d7 d8"
    docs = [
        (1, f"{footer} {ua}"),          # footer at segment 0
        (2, f"{ub} {footer} tail1 tail2"),  # footer at segment 1 + tail
        (3, "tiny doc here"),           # < 8 tokens: no segments
        (4, f"{ud} {ud}"),              # internal repeat only: df = 1
        (5, f"{footer} {footer}"),      # boilerplate twice in one doc
    ]

    def replay():
        segs = {
            did: [
                " ".join(toks[i * 8 : i * 8 + 8])
                for i in range(len(toks) // 8)
            ]
            for did, text in docs
            for toks in [_py_tokens(text)]
        }
        df: dict = {}
        for did, ss in segs.items():
            for s in set(ss):
                df[s] = df.get(s, 0) + 1
        out = {}
        for did, text in docs:
            toks = _py_tokens(text)
            ss = segs[did]
            kept = [s for s in ss if df[s] < 2]
            out[did] = (
                len(ss),
                len(ss) - len(kept),
                len(kept) * 8 + len(toks) % 8,
                hashlib.md5(" ".join(kept).encode()).hexdigest(),
            )
        return out

    with tempfile.TemporaryDirectory() as td:
        (
            spark.createDataFrame(docs, ["doc_id", "text"])
            .withColumn("lang", F.lit("en"))
            .withColumn("source", F.lit("s"))
            .withColumn("n_chars", F.length("text"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(td, "documents.parquet"))
        )
        got = {
            r["doc_id"]: (
                r["n_segs"],
                r["n_removed"],
                r["kept_tokens"],
                r["cleaned_digest"],
            )
            for r in text_boilerplate_strip(spark, td).collect()
        }
    expected = replay()
    assert got == expected
    # the planted semantics, spelled out
    assert got[1][1] == 1 and got[2][1] == 1      # footer stripped from both
    assert got[4][1] == 0                          # internal-only repeat kept
    assert got[5][1] == 2                          # both copies stripped
    assert got[3] == (0, 0, 3, hashlib.md5(b"").hexdigest())


def test_bigram_surprisal_matches_python_replay(spark):
    """text_bigram_surprisal vs a python replay of the quantized
    bits(n_prefix) - bits(n_pair) scoring over the corpus's own
    bigram counts (sf0.001): exact integer sums, IEEE-exact means."""
    from collections import Counter

    from mapreduce_citation_spark.operators.text import text_bigram_surprisal

    sf_dir = "/root/testdata/sf0.001"
    toks_by_doc = {
        r["doc_id"]: _py_tokens(r["text"])
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    pair: Counter = Counter()
    for toks in toks_by_doc.values():
        pair.update(zip(toks, toks[1:]))
    pref: Counter = Counter()
    for (w1, _), c in pair.items():
        pref[w1] += c
    expected = {}
    for did, toks in toks_by_doc.items():
        bgs = list(zip(toks, toks[1:]))
        if not bgs:
            continue
        sbits = [
            pref[w1].bit_length() - pair[(w1, w2)].bit_length()
            for w1, w2 in bgs
        ]
        expected[did] = (len(bgs), sum(sbits), sum(sbits) / len(bgs))
    got = {
        r["doc_id"]: (
            r["n_bigrams"],
            r["sum_surprisal_bits"],
            r["mean_surprisal_bits"],
        )
        for r in text_bigram_surprisal(spark, sf_dir).collect()
    }
    assert got == expected
    assert all(s >= 0 for _, s, _ in got.values())  # n_pair <= n_prefix


def test_classifier_scores_match_python_replay(spark):
    """corpus_classifier_scores vs a python replay of the integer
    dot product over (token count, marker stopwords, digit chars,
    bias) with the CLF_WEIGHTS model; decision = score >= 0."""
    import re

    from mapreduce_citation_spark.operators.text import (
        CLF_WEIGHTS,
        corpus_classifier_scores,
    )

    w = dict(CLF_WEIGHTS)
    sf_dir = "/root/testdata/sf0.001"
    expected = {}
    for r in (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    ):
        toks = _py_tokens(r["text"])
        feats = {
            "f_tok": len(toks),
            "f_stop": sum(t in ("the", "a", "of") for t in toks),
            "f_dig": len(re.findall(r"[0-9]", r["text"] or "")),
            "bias": 1,
        }
        score = sum(v * w[f] for f, v in feats.items())
        expected[r["doc_id"]] = (score, 1 if score >= 0 else 0)
    got = {
        r["doc_id"]: (r["score"], r["passed"])
        for r in corpus_classifier_scores(spark, sf_dir).collect()
    }
    assert got == expected
    assert {p for _, p in got.values()} <= {0, 1}


def test_budget_score_reads_classifier_weights(spark, sf_dir):
    """The selection's score expressions — Spark and DuckDB, both built
    from CLF_WEIGHTS over the n_tokens feature frame — equal
    corpus_classifier_scores' score for every fixture doc."""
    import duckdb

    from mapreduce_citation_spark.operators.text import (
        _clf_feats_duck,
        _clf_feats_spark,
        _clf_score_duck,
        _clf_score_spark,
        corpus_classifier_scores,
    )

    want = {
        r["doc_id"]: r["score"]
        for r in corpus_classifier_scores(spark, sf_dir).collect()
    }
    feats = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", *_clf_feats_spark("n_tokens")
    )
    got = {
        r["doc_id"]: r["score"]
        for r in feats.select("doc_id", _clf_score_spark().alias("score")).collect()
    }
    duck = dict(
        duckdb.sql(
            f"SELECT doc_id, {_clf_score_duck()} AS score FROM ("
            f"SELECT doc_id, {_clf_feats_duck('n_tokens')} "
            f"FROM '{sf_dir}/documents.parquet')"
        ).fetchall()
    )
    assert want and got == want and duck == want


def test_epoch_shuffle_matches_python_replay(spark):
    """corpus_epoch_shuffle vs a python replay: shard = 60-bit
    md5(doc_id|epoch) mod SHUFFLE_SHARDS, position = rank within
    (epoch, shard) by (hash, doc_id); positions contiguous from 1;
    the two epochs are genuinely different permutations."""
    import hashlib

    from mapreduce_citation_spark.operators.text import (
        SHUFFLE_EPOCHS,
        SHUFFLE_SHARDS,
        corpus_epoch_shuffle,
    )

    sf_dir = "/root/testdata/sf0.001"
    doc_ids = [
        r["doc_id"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .collect()
    ]
    rows = []
    for epoch in range(SHUFFLE_EPOCHS):
        for did in doc_ids:
            hv = int(
                hashlib.md5(f"{did}|{epoch}".encode()).hexdigest()[:15], 16
            )
            rows.append((epoch, did, hv))
    expected = set()
    by_shard: dict = {}
    for epoch, did, hv in rows:
        by_shard.setdefault((epoch, hv % SHUFFLE_SHARDS), []).append((hv, did))
    for (epoch, shard), members in by_shard.items():
        members.sort()
        for pos, (hv, did) in enumerate(members, start=1):
            expected.add((epoch, did, shard, pos))
    got = {
        (r["epoch"], r["doc_id"], r["shard"], r["pos_in_shard"])
        for r in corpus_epoch_shuffle(spark, sf_dir).collect()
    }
    assert got == expected
    # epochs are different permutations: some doc changes shard
    shard_of = {(e, d): s for e, d, s, _ in got}
    assert any(
        shard_of[(0, d)] != shard_of[(1, d)] for d in doc_ids
    )
    # positions contiguous per (epoch, shard)
    per = {}
    for e, d, s, p in got:
        per.setdefault((e, s), []).append(p)
    for ps in per.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))


def test_paragraph_neardup_on_planted_paragraphs(spark, tmp_path):
    """dedup_paragraph_neardup on a planted corpus (r10 verdict #4):
    an exact cross-doc paragraph copy and a first-token-edit near-dup
    (J = 13/15 ≈ 0.87 at 3-shingle/16-token grain — only the first
    token's single shingle changes) must both be removed under the
    keep-first (doc_id, pidx) policy; the unique paragraph, the
    trailing partial segment, and the sub-paragraph doc stay intact.
    Runs the REGISTERED operator end-to-end on a planted documents
    table (parquet in tmp_path), so segmentation, banding,
    verification, policy, and accounting are all exercised."""
    import hashlib

    from mapreduce_citation_spark.operators.dedup import (
        dedup_paragraph_neardup,
    )

    A = " ".join(f"w{i:02d}" for i in range(16))       # planted paragraph
    A2 = "zz " + " ".join(f"w{i:02d}" for i in range(1, 16))  # near-dup
    B = " ".join(f"b{i:02d}" for i in range(16))
    C = " ".join(f"c{i:02d}" for i in range(16))
    D = " ".join(f"x{i:02d}" for i in range(16))
    docs = [
        ("d1", A + " " + B),                   # 2 paras, both first
        ("d2", A + " " + C),                   # exact copy of A at pidx 0
        ("d3", A2),                            # near-dup of A
        ("d4", D + " t0 t1 t2 t3 t4"),         # unique + partial tail
        ("d5", "s0 s1 s2 s3 s4 s5 s6 s7"),     # < 16 tokens: no paras
    ]
    spark.createDataFrame(docs, ["doc_id", "text"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r["doc_id"]: (
            r["n_paras"], r["n_dup_paras"], r["kept_tokens"],
            r["removed_digest"],
        )
        for r in dedup_paragraph_neardup(spark, str(tmp_path)).collect()
    }
    empty = hashlib.md5(b"").hexdigest()
    zero = hashlib.md5(b"0").hexdigest()
    assert got == {
        "d1": (2, 0, 32, empty),       # first occurrences always survive
        "d2": (2, 1, 32 - 16, zero),   # exact copy at pidx 0 removed
        "d3": (1, 1, 0, zero),         # near-dup (J=13/15) removed
        "d4": (1, 0, 21, empty),       # partial tail counted, not a para
        "d5": (0, 0, 8, empty),        # sub-paragraph doc untouched
    }
    # and the APPLY twin emits the cleaned corpus consistent with the
    # report: removed paragraphs dropped, survivors + partial tail
    # re-joined in order, sub-paragraph docs passed through verbatim
    from mapreduce_citation_spark.operators.dedup import (
        dedup_paragraph_strip,
    )

    stripped = {
        r["doc_id"]: (r["clean_text"], r["clean_tokens"], r["n_tok"])
        for r in dedup_paragraph_strip(spark, str(tmp_path)).collect()
    }
    assert stripped == {
        "d1": (A + " " + B, 32, 32),
        "d2": (C, 16, 32),                     # A dropped, C survives
        "d3": ("", 0, 16),                     # whole doc was the dup
        "d4": (D + " t0 t1 t2 t3 t4", 21, 21),  # tail re-emitted
        "d5": ("s0 s1 s2 s3 s4 s5 s6 s7", 8, 8),  # no paras: verbatim
    }


def test_epoch_packed_shuffle_replay_and_token_accounting(spark):
    """corpus_epoch_packed_shuffle vs a python replay (r10 verdict
    #5): per (epoch, shard), documents in (hv, doc_id) order get the
    packing arithmetic window_id/offset/spans over the shard-local
    token cumsum. Plus the invariant the composition exists to pin:
    shard-local packing preserves GLOBAL token accounting — per
    epoch, the sum over shards of packed tokens equals the corpus
    token total, and each shard's offsets tile its windows without
    gap or overlap."""
    import hashlib

    from mapreduce_citation_spark.operators.text import (
        PACK_CONTEXT_LEN,
        SHUFFLE_EPOCHS,
        SHUFFLE_SHARDS,
        corpus_epoch_packed_shuffle,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = {
        r["doc_id"]: len(_py_tokens(r["text"]))
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    by_shard: dict = {}
    for epoch in range(SHUFFLE_EPOCHS):
        for did in docs:
            hv = int(
                hashlib.md5(f"{did}|{epoch}".encode()).hexdigest()[:15], 16
            )
            by_shard.setdefault((epoch, hv % SHUFFLE_SHARDS), []).append(
                (hv, did)
            )
    L = PACK_CONTEXT_LEN
    expected = {}
    for (epoch, shard), members in by_shard.items():
        members.sort()
        cum = 0
        for pos, (hv, did) in enumerate(members, start=1):
            n = docs[did]
            before, cum = cum, cum + n
            spans = 0 if n == 0 else (cum - 1) // L - before // L + 1
            expected[(epoch, did)] = (
                shard, pos, n, before // L, before % L, spans
            )
    got = {
        (r["epoch"], r["doc_id"]): (
            r["shard"], r["pos_in_shard"], r["n_tokens"], r["window_id"],
            r["offset_in_window"], r["windows_spanned"],
        )
        for r in corpus_epoch_packed_shuffle(spark, sf_dir).collect()
    }
    assert got == expected
    # global token accounting survives sharding: every epoch feeds
    # exactly the corpus total, once
    total = sum(docs.values())
    for epoch in range(SHUFFLE_EPOCHS):
        fed = sum(v[2] for (e, _), v in got.items() if e == epoch)
        assert fed == total
    # and the geometry is non-trivial at this SF: some shard packs
    # multiple windows, some document straddles a window boundary
    assert any(v[3] >= 1 for v in got.values())
    assert any(v[5] >= 2 for v in got.values())


def test_budget_selection_matches_python_replay(spark):
    """corpus_budget_selection vs a python greedy replay: per source,
    rank by (score desc, doc_id), keep while the running token sum
    stays within the budget; per-source accounting matches exactly
    and never exceeds the budget."""
    import re
    from collections import defaultdict

    from mapreduce_citation_spark.operators.text import (
        SELECT_BUDGET_TOKENS,
        corpus_budget_selection,
    )

    sf_dir = "/root/testdata/sf0.001"
    by_source = defaultdict(list)
    for r in (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "source", "text")
        .collect()
    ):
        toks = _py_tokens(r["text"])
        f_stop = sum(t in ("the", "a", "of") for t in toks)
        f_dig = len(re.findall(r"[0-9]", r["text"] or ""))
        score = 2 * len(toks) + 10 * f_stop - 3 * f_dig - 60
        by_source[r["source"]].append((score, r["doc_id"], len(toks)))
    expected = {}
    for src, docs in by_source.items():
        docs.sort(key=lambda t: (-t[0], t[1]))
        cum, kept = 0, []
        for score, did, ntok in docs:
            cum += ntok
            if cum > SELECT_BUDGET_TOKENS:
                break
            kept.append((score, ntok))
        if kept:
            expected[src] = (
                len(kept),
                sum(n for _, n in kept),
                min(s for s, _ in kept),
                sum(n == 0 for _, n in kept),
            )
    got = {
        r["source"]: (
            r["n_selected"],
            r["tokens_selected"],
            r["cutoff_score"],
            r["n_empty"],
        )
        for r in corpus_budget_selection(spark, sf_dir).collect()
    }
    assert got == expected
    assert all(v[1] <= SELECT_BUDGET_TOKENS for v in got.values())


def test_dsir_weights_match_python_replay(spark):
    """corpus_dsir_weights vs a pure-python replay of the hashed-
    bigram DSIR scoring: 60-bit md5 bucket, one conditional count
    pass (n_r, n_t per bucket), integer-bit quantized log-ratio
    sbits(b) = bits(n_t+1) - bits(n_r+1) with the per-occurrence
    normalizer bits(R+B) - bits(T+B). Also pins the selection
    property the operator exists for: the TARGET source's documents
    score higher on average than the corpus at large (their features
    are overrepresented in the target distribution by construction)."""
    import hashlib

    from mapreduce_citation_spark.operators.text import (
        DSIR_BUCKETS,
        DSIR_TARGET,
        corpus_dsir_weights,
    )

    sf_dir = "/root/testdata/sf0.001"
    docs = [
        (r["doc_id"], r["source"], _py_tokens(r["text"]))
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "source", "text")
        .collect()
    ]

    def bucket(w1, w2):
        hv = int(hashlib.md5(f"{w1}|{w2}".encode()).hexdigest()[:15], 16)
        return hv % DSIR_BUCKETS

    n_r: dict = {}
    n_t: dict = {}
    feats = {}
    for did, src, toks in docs:
        bs = [bucket(toks[i], toks[i + 1]) for i in range(len(toks) - 1)]
        feats[did] = (src, bs)
        for b in bs:
            n_r[b] = n_r.get(b, 0) + 1
            if src == DSIR_TARGET:
                n_t[b] = n_t.get(b, 0) + 1
    R, T = sum(n_r.values()), sum(n_t.values())
    kbits = (R + DSIR_BUCKETS).bit_length() - (T + DSIR_BUCKETS).bit_length()
    expected = {}
    for did, (src, bs) in feats.items():
        w = sum(
            (n_t.get(b, 0) + 1).bit_length() - (n_r[b] + 1).bit_length() + kbits
            for b in bs
        )
        expected[did] = (src, len(bs), w)
    got = {
        r["doc_id"]: (r["source"], r["n_feats"], r["weight_bits"])
        for r in corpus_dsir_weights(spark, sf_dir).collect()
    }
    assert got == expected
    # the separation property: target docs are up-weighted on average
    tgt = [w for s, _, w in got.values() if s == DSIR_TARGET]
    rest = [w for s, _, w in got.values() if s != DSIR_TARGET]
    assert tgt and rest
    assert sum(tgt) / len(tgt) > sum(rest) / len(rest)


def test_dup_paragraph_stats_on_planted_repeats(spark, tmp_path):
    """text_dup_paragraph_stats on planted within-doc repeats: a doc
    whose paragraph repeats (A B A A) counts 2 duplicates with top
    multiplicity 3; all-unique and sub-paragraph docs score zero."""
    from mapreduce_citation_spark.operators.text import (
        text_dup_paragraph_stats,
    )

    A = " ".join(f"w{i:02d}" for i in range(16))
    B = " ".join(f"b{i:02d}" for i in range(16))
    C = " ".join(f"c{i:02d}" for i in range(16))
    docs = [
        ("r1", " ".join([A, B, A, A])),   # 4 paras, A x3
        ("r2", " ".join([B, C])),          # all unique
        ("r3", "s0 s1 s2"),                # < 16 tokens
    ]
    spark.createDataFrame(docs, ["doc_id", "text"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r["doc_id"]: (r["n_paras"], r["n_dup_within"], r["top_para_count"])
        for r in text_dup_paragraph_stats(spark, str(tmp_path)).collect()
    }
    assert got == {"r1": (4, 2, 3), "r2": (2, 0, 1), "r3": (0, 0, 0)}


def test_bm25_matches_python_replay(spark):
    """BM25 (r11 verdict #6): exact replay of the quantized-idf
    cross-multiplied arithmetic on a planted corpus, plus the
    retrieval property — a doc matching every query term outranks a
    doc matching one, and tf saturation caps term-stuffing."""
    from mapreduce_citation_spark.operators.text import bm25_scores

    queries = (("q1", "hash join"), ("q2", "scan"))
    docs = [
        ("d1", "hash join table hash"),        # both q1 terms, tf(hash)=2
        ("d2", "hash hash hash hash hash"),    # term stuffing, one term
        ("d3", "join column"),                 # one q1 term
        ("d4", "scan scan filter"),            # q2 only
        ("d5", "the a of and or not"),         # no query terms
    ]
    d = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["query_id"], r["doc_id"]): (r["score"], r["n_terms"])
        for r in bm25_scores(d, queries=queries).collect()
    }

    # pure-python replay of the exact integer formulation
    toks = {i: t.split() for i, t in docs}
    n_docs = len(docs)
    t_tot = sum(len(t) for t in toks.values())
    qterms = {qid: sorted(set(qt.split())) for qid, qt in queries}
    vocab = sorted({w for ts in qterms.values() for w in ts})
    df = {w: sum(1 for t in toks.values() if w in t) for w in vocab}
    want = {}
    for qid, terms in qterms.items():
        for did, t in toks.items():
            cs = []
            for w in terms:
                tf = t.count(w)
                if tf == 0:
                    continue
                bits = len(bin(2 * n_docs + 2)) - len(bin(2 * df[w] + 1))
                num = float(bits * 22 * tf * t_tot)
                den = 10 * t_tot * tf + 3 * t_tot + 9 * len(t) * n_docs
                cs.append(num / den)
            if cs:
                acc = 0.0
                for c in sorted(cs):
                    acc += c
                want[(qid, did)] = (acc, len(cs))
    assert got == want  # float-exact: same ints, same division, same order

    # retrieval semantics: full match beats partial; stuffing saturates
    assert got[("q1", "d1")][0] > got[("q1", "d3")][0]
    assert got[("q1", "d1")][0] > got[("q1", "d2")][0]
    assert ("q1", "d5") not in got and ("q2", "d1") not in got


def test_bm25_chunk_grain_matches_python_replay(spark, tmp_path):
    """Chunk-grain BM25 (r12 verdict #8): the doc_chunk_windows
    geometry defines the retrieval units; replay the exact integer
    arithmetic per chunk and check the registered query's full top-k
    table — including that a long document's late-positioned terms
    retrieve the RIGHT chunk, the localization a doc-grain ranking
    can't express."""
    from mapreduce_citation_spark.operators.text import (
        BM25_QUERIES,
        BM25_TOPK,
        CHUNK_LEN,
        CHUNK_OVERLAP,
        text_bm25_chunk_topk,
    )

    filler = ["w%03d" % i for i in range(200)]
    # long doc: 'hash join table' planted only around token 100
    long_toks = list(filler[:100]) + ["hash", "join", "table"] + list(
        filler[100:150]
    )
    docs = [
        ("d1", " ".join(long_toks)),            # 153 tokens → 3 chunks
        ("d2", "fast scan filter scan"),        # single short chunk
        ("d3", "stream window batch " * 30),    # stuffed across chunks
        ("d4", "nothing relevant here"),
    ]
    spark.createDataFrame(docs, ["doc_id", "text"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        (r["query_id"], r["doc_id"], r["chunk_id"]): (
            r["score"], r["n_terms"], r["rank"]
        )
        for r in text_bm25_chunk_topk(spark, str(tmp_path)).collect()
    }

    # python replay: chunk slices, then the document-grain formula at
    # chunk grain
    stride = CHUNK_LEN - CHUNK_OVERLAP
    chunks = {}
    for did, text in docs:
        t = text.split()
        n = len(t)
        if n == 0:
            continue
        last_k = 0 if n <= CHUNK_LEN else (n - CHUNK_OVERLAP - 1) // stride
        for k in range(last_k + 1):
            chunks[(did, k)] = t[k * stride : min(k * stride + CHUNK_LEN, n)]
    n_units = len(chunks)
    t_tot = sum(len(c) for c in chunks.values())
    qterms = {qid: sorted(set(qt.split())) for qid, qt in BM25_QUERIES}
    vocab = sorted({w for ts in qterms.values() for w in ts})
    df = {w: sum(1 for c in chunks.values() if w in c) for w in vocab}
    scored = {}
    for qid, terms in qterms.items():
        for key, c in chunks.items():
            cs = []
            for w in terms:
                tf = c.count(w)
                if tf == 0:
                    continue
                bits = len(bin(2 * n_units + 2)) - len(bin(2 * df[w] + 1))
                num = float(bits * 22 * tf * t_tot)
                den = 10 * t_tot * tf + 3 * t_tot + 9 * len(c) * n_units
                cs.append(num / den)
            if cs:
                acc = 0.0
                for v in sorted(cs):
                    acc += v
                scored[(qid,) + key] = (acc, len(cs))
    want = {}
    for qid in qterms:
        hits = sorted(
            ((k, v) for k, v in scored.items() if k[0] == qid),
            key=lambda kv: (-kv[1][0], kv[0][1], kv[0][2]),
        )[:BM25_TOPK]
        for rank, (k, (s, nt)) in enumerate(hits, 1):
            want[k] = (s, nt, rank)
    assert got == want

    # localization: for q_hash_join the top hit must be a chunk of d1
    # that actually covers token positions 100-102 (chunks 1 and 2 do;
    # chunk 0 ends at 64 and must score zero → absent)
    top = [k for k, v in got.items() if k[0] == "q_hash_join" and v[2] == 1]
    assert top and top[0][1] == "d1" and top[0][2] in (1, 2)
    assert ("q_hash_join", "d1", 0) not in got


def test_paragraph_ingest_planted_and_batching_independent(spark):
    """Paragraph-grain ingest (r11 verdict #3): planted delta-vs-base
    semantics — exact copy removed, J=13/15 near-dup removed, novel
    and sub-paragraph docs kept, delta-vs-delta copies NOT removed
    (out of scope by definition) — and the batching-independence
    property the streaming twin's shared oracle relies on: the union
    of per-batch reports equals the one-shot report."""
    import hashlib

    from mapreduce_citation_spark.operators.dedup import (
        paragraph_ingest_report,
        prepare_paragraph_base,
    )

    A = " ".join(f"a{i:02d}" for i in range(16))
    A2 = "zz " + " ".join(f"a{i:02d}" for i in range(1, 16))  # 1-token edit
    B = " ".join(f"b{i:02d}" for i in range(16))
    C = " ".join(f"c{i:02d}" for i in range(16))
    D = " ".join(f"d{i:02d}" for i in range(16))
    base = spark.createDataFrame(
        [(100, " ".join([A, B]))], ["doc_id", "text"]
    )
    delta_rows = [
        (1, " ".join([A2, C])),      # near-dup of base A + novel C
        (2, B + " t0 t1 t2 t3 t4"),  # exact copy of base B + 5-token tail
        (3, D),                       # novel
        (4, "s0 s1 s2"),              # sub-paragraph
        (5, D),                       # delta-vs-delta copy of 3: KEPT
    ]
    delta = spark.createDataFrame(delta_rows, ["doc_id", "text"])
    arts = prepare_paragraph_base(base).materialize()
    try:
        got = {
            r["doc_id"]: (
                r["n_paras"], r["n_dup_paras"], r["kept_tokens"],
                r["removed_digest"],
            )
            for r in paragraph_ingest_report(delta, arts).collect()
        }
        d0 = hashlib.md5(b"0").hexdigest()
        dn = hashlib.md5(b"").hexdigest()
        assert got == {
            1: (2, 1, 16, d0),   # A2 removed vs base A (J=13/15), C kept
            2: (1, 1, 5, d0),    # exact B removed, tail survives
            3: (1, 0, 16, dn),
            4: (0, 0, 3, dn),
            5: (1, 0, 16, dn),   # duplicate of ANOTHER DELTA doc: kept
        }
        # batching independence: any chop of the delta unions to the
        # one-shot report (here 2 batches, like the 4-chunk stream)
        b1 = paragraph_ingest_report(
            delta.filter(F.col("doc_id") <= 2), arts
        ).collect()
        b2 = paragraph_ingest_report(
            delta.filter(F.col("doc_id") > 2), arts
        ).collect()
        assert {tuple(r) for r in b1} | {tuple(r) for r in b2} == {
            tuple(r)
            for r in paragraph_ingest_report(delta, arts).collect()
        }
    finally:
        arts.unpersist()


def _word_shingles_py(text: str, k: int = 3) -> set[str]:
    """Distinct word k-shingles over whitespace tokens, empties dropped
    — the ``functions/text_funcs.shingles_spark`` rule (Java ``\\s``
    is the ASCII whitespace class, not Python's ``str.split()``)."""
    t = [w for w in re.split(r"[ \t\n\x0b\f\r]+", text) if w]
    return {" ".join(t[i:i + k]) for i in range(len(t) - k + 1)}


def test_minhash_verify_modes_agree(spark):
    """The shipped exact-Jaccard verify (shingle-value equijoin) against
    a pure-Python Jaccard on a planted corpus with a hot-shingle clique
    (6 docs sharing a 30-token core), a near-dup pair and a loner:
    every returned jaccard equals Python's value exactly, and the
    returned pairs are exactly the pairs Python puts at J ≥ 0.8."""
    from mapreduce_citation_spark.operators.dedup import minhash_lsh_pairs

    core = " ".join(f"hot{i:02d}" for i in range(30))
    rows = [(i, f"{core} tail{i:02d}") for i in range(6)]  # hot clique
    w = [f"w{i:02d}" for i in range(40)]
    rows.append((100, " ".join(w)))
    rows.append((101, " ".join(w[:39] + ["zz"])))          # near-dup pair
    rows.append((200, " ".join(f"x{i:02d}" for i in range(40))))  # loner
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(d).collect()
    }
    sh = {i: _word_shingles_py(t) for i, t in rows}
    want = {}
    for a, b in itertools.combinations(sorted(sh), 2):
        n_common = len(sh[a] & sh[b])
        j = n_common / (len(sh[a]) + len(sh[b]) - n_common)
        if j >= 0.8:
            want[(a, b)] = j
    assert got == want
    assert (100, 101) in got
    assert not any(200 in pair for pair in got)


def test_rarest_prefix_matches_python_replay(spark, sf_dir):
    """``_rarest_prefix`` PREFIX ROWS (not just operator output) on the
    fixture corpus equal a pure-Python replay: document frequency per
    shingle, each doc's distinct shingles ordered (df ASC, s ASC), rank
    rk from 1, kept while rk ≤ n − ⌈0.8·n⌉ + 1. Twice: df counted over
    the whole corpus, and the ``doc_id % 8 = 0`` cohort ranked under
    the other docs' df table, shingles that table lacks at df 0 (the
    per-batch ingest delta)."""
    import pyarrow.parquet as pq

    from mapreduce_citation_spark.operators import dedup

    def rows(frame):
        return {(r["doc_id"], r["s"], r["rk"], r["n_sh"]) for r in frame.collect()}

    def replay(sh, df):
        want = set()
        for doc_id, ss in sh.items():
            n = len(ss)
            keep = n + (-4 * n // 5) + 1  # n − ⌈4n/5⌉ + 1, integer-exact
            for rk, s in enumerate(sorted(ss, key=lambda s: (df[s], s)), 1):
                if rk <= keep:
                    want.add((doc_id, s, rk, n))
        return want

    d = dedup._docs(spark, sf_dir)
    ex = dedup.exploded_word_shingles(d, 3)
    docs = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    sh = {r["doc_id"]: _word_shingles_py(r["text"]) for r in docs}
    got = rows(dedup._rarest_prefix(ex))
    assert got, "empty prefix stream — fixture or derivation broken"
    assert got == replay(sh, collections.Counter(s for ss in sh.values() for s in ss))

    delta = F.col("doc_id") % 8 == 0
    base_df = ex.filter(~delta).groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    got = rows(dedup._rarest_prefix(ex.filter(delta), base_df))
    sh_d = {i: ss for i, ss in sh.items() if i % 8 == 0}
    df_b = collections.Counter(
        s for i, ss in sh.items() if i % 8 != 0 for s in ss
    )  # a Counter reads 0 for shingles absent from the base
    want = replay(sh_d, df_b)
    assert want and any(df_b[s] == 0 for _, s, _, _ in want)
    assert got == want
