"""Deduplication operators over the ``documents`` table — the
LLM-training-pipeline surface (exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup).

Scale design: every method is expressed so the candidate set — never
the full n² pair space — is what shuffles:

- exact: hash-groupBy (one shuffle on the 128-bit digest).
- MinHash+LSH: signatures are computed map-side with higher-order
  array functions (zero shuffle), candidates come from a self-join on
  (band, band_hash) buckets, and only candidates get verified.
- n-gram Jaccard: shingle-explode + equi-join on shingle computes
  |A∩B| without materializing pairs that share nothing.
- embedding cosine: block on a cheap LSH/sign prefix in the scale
  path (see operators/similarity.py); the threshold join here
  verifies exact cosine on candidates.

All hashing is md5-derived (see functions/text_funcs.py) so the
DuckDB oracles compute bit-identical signatures: MinHash digests each
shingle once and permutes the 60-bit prefix with inlined universal-hash
integer coefficients; SimHash reads md5 hex digits as sign bits.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import cache_corpus
from ..functions.text_funcs import (
    MINHASH_P,
    TOK_DUCK,
    TOK_SPARK,
    hex60_duck,
    hex60_spark,
    minhash_int_duck,
    minhash_int_spark,
    minhash_params,
    segments_duck,
    segments_spark,
    shingle_int_hash_spark,
    shingles_duck,
    shingles_spark,
    simhash_duck,
    simhash_spark,
)
from ..registry import register
from ..sources.readers import load_table

_SH_SPARK = shingles_spark("text", 3)
_SH_DUCK = shingles_duck("text", 3)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def exploded_word_shingles(
    docs: DataFrame, k: int = 3, distinct: bool = True
) -> DataFrame:
    """(doc_id, s) rows of word k-shingles (distinct per doc by
    default; ``distinct=False`` keeps multiplicity, which the
    repetition-quality scorer needs) — the shared front-end of the
    near-dup operators.

    Shape chosen for scale AND speed: repartition the COMPACT document
    rows by doc_id first, then posexplode tokens and build shingles
    with lead() windows. The one shuffle moves whole documents (small
    rows); the window, the per-doc dedup, and every downstream
    groupBy(doc_id) reuse that partitioning with no further exchange
    (Generate preserves its child's partitioning, and hash(doc_id)
    satisfies any grouping keyed on doc_id). Benchmarked ~4× faster
    than the equivalent higher-order-lambda shingle expression, which
    Spark evaluates interpreted (HOFs are outside codegen)."""
    from pyspark.sql import Window

    tok = docs.repartition(F.col("doc_id")).select(
        "doc_id",
        F.posexplode(F.expr("filter(split(text, '\\\\s+'), x -> x != '')")).alias(
            "pos", "w0"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    lead_cols = [F.lead("w0", j).over(w).alias(f"w{j}") for j in range(1, k)]
    out = (
        tok.select("doc_id", "w0", *lead_cols)
        .filter(F.col(f"w{k - 1}").isNotNull())
        .select(
            "doc_id",
            F.concat_ws(" ", *[f"w{j}" for j in range(k)]).alias("s"),
        )
    )
    return out.dropDuplicates(["doc_id", "s"]) if distinct else out


# --- shared near-dup stages: MinHash-LSH candidates, exact verify ----------
#
# Every near-dup operator is candidate generation (an equi-join on band
# or prefix keys) followed by an exact Jaccard verify on candidates
# only. Units are keyed by a caller-given key list (``doc_id``;
# ``doc_id, pidx``; ``aud_id``) and pair columns are named by
# ``_side``: doc_id -> doc_a/doc_b, pidx -> pidx_a/pidx_b, aud_id ->
# aud_a/aud_b, with set sizes n_a/n_b.

#: MinHash-LSH geometry (16 permutations, 4 bands × 4 rows) — ONE
#: definition feeding the Spark candidate stage of every MinHash family
#: (documents, paragraphs, audio) and the paragraph DuckDB oracle CTEs
#: (``_para_ctes``), so the two engines cannot silently desync.
MINHASH_N_PERM, MINHASH_N_BANDS, MINHASH_ROWS_PER_BAND = 16, 4, 4


def _side(key: str, side: str) -> str:
    return f"{key.removesuffix('_id')}_{side}"


def _key_lt(keys: list[str], a: str, b: str) -> "F.Column":
    """Unit ``a`` precedes unit ``b``: a plain compare on one key, a
    struct compare on several — each unordered pair is emitted once."""
    if len(keys) == 1:
        return F.col(f"{a}.{keys[0]}") < F.col(f"{b}.{keys[0]}")
    return F.struct(*[F.col(f"{a}.{k}") for k in keys]) < F.struct(
        *[F.col(f"{b}.{k}") for k in keys]
    )


def _band_keys(h) -> "F.Column":
    """The exploded LSH ``band_key`` column: one ``"b:h,h,h,h"`` string
    per band ``b`` over signature entries ``h(i)`` — the string the
    DuckDB oracles build with ``b || ':' || array_to_string(...)``."""
    n = MINHASH_ROWS_PER_BAND
    band_cols = [
        F.concat(
            F.lit(f"{b}:"), F.concat_ws(",", *map(h, range(b * n, (b + 1) * n)))
        ).alias(f"band{b}")
        for b in range(MINHASH_N_BANDS)
    ]
    return F.explode(F.array(*band_cols)).alias("band_key")


def minhash_lsh_candidates(
    hashed: DataFrame,
    keys: list[str],
    materialize,
    size: str = "n_sh",
) -> DataFrame:
    """MinHash-LSH candidate pairs from (keys…, h) rows of per-unit
    distinct 64-bit shingle digests: (a-keys…, b-keys…, n_a, n_b),
    distinct, a-unit before b-unit.

    The ``MINHASH_N_PERM`` permutations are universal-hash integer
    arithmetic ((a_i·h + b_i) mod P, inlined literal coefficients) over
    the one digest per shingle — codegen'd long math whose mins
    map-side combine. ``materialize`` caches the signature table (the
    band self-join would otherwise evaluate the whole shingle+hash
    pipeline once per side: self-join sides share work only up to the
    last exchange); each caller passes its own cache for its table
    size. The set size (``size``) rides along with the band rows so
    pairs already carry both sizes — re-joining the signatures for
    sizes would re-run the whole shingle+hash pipeline, whose
    expensive part is the higher-order shingle lambdas (interpreted,
    not codegen'd)."""
    sig = hashed.groupBy(*keys).agg(
        F.count(F.lit(1)).alias(size),
        *[
            F.min(F.expr(f"({ca} * h + {cb}) % {MINHASH_P}")).alias(f"h{i}")
            for i, (ca, cb) in enumerate(minhash_params(MINHASH_N_PERM))
        ],
    )
    bands = materialize(sig).select(*keys, size, _band_keys(lambda i: F.col(f"h{i}")))
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_key") == F.col("b.band_key")) & _key_lt(keys, "a", "b"),
        )
        .select(
            *[F.col(f"a.{k}").alias(_side(k, "a")) for k in keys],
            *[F.col(f"b.{k}").alias(_side(k, "b")) for k in keys],
            F.col(f"a.{size}").alias("n_a"),
            F.col(f"b.{size}").alias("n_b"),
        )
        .distinct()
    )


def _jaccard(common: "F.Column", n_a: "F.Column", n_b: "F.Column") -> "F.Column":
    """Exact Jaccard |A∩B| / (|A| + |B| − |A∩B|) from the overlap and
    the two set sizes."""
    return common / (n_a + n_b - common)


def verified_pairs(
    cand: DataFrame,
    common: DataFrame,
    pair: list[str],
    sizes: tuple[str, str] = ("n_a", "n_b"),
    threshold: float = 0.8,
) -> DataFrame:
    """(pair…, jaccard) for the candidates whose :func:`_jaccard`
    reaches ``threshold``; ``common`` holds ``n_common`` = |A∩B| per
    pair, ``cand`` the two set sizes."""
    jac = _jaccard(F.col("n_common"), *(F.col(c) for c in sizes))
    return (
        cand.join(common, pair)
        .select(*pair, jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _shingle_join_verify(
    cand: DataFrame, units: DataFrame, keys: list[str], shingles
) -> DataFrame:
    """Verify shape of the MinHash families: re-derive EXPLODED
    shingles (``shingles(frame)`` → keys…, s) only for candidate units
    — the semi-join runs before the shingle rebuild, so it touches
    ~|candidates| units, not the corpus — self-join them on the
    shingle value and count matches per pair.

    Each shingle row moves once, but a shingle shared by m candidate
    units emits C(m, 2) join rows — quadratic within a hot shingle's
    value group. The per-pair ``array_intersect`` shape is immune to
    that skew but lost on the ×100 corpus (AB_MINHASH_VERIFY_r12.json);
    candidate sets with popular items want :func:`pair_overlap`."""
    a_cols = [_side(k, "a") for k in keys]
    b_cols = [_side(k, "b") for k in keys]
    cand_keys = (
        cand.select(*[F.col(c).alias(k) for c, k in zip(a_cols, keys)])
        .union(cand.select(*b_cols))
        .distinct()
    )
    # no broadcast hint on the data-dependent candidate set — AQE
    # decides from its measured size (broadcasts at fixture scale,
    # degrades gracefully to a shuffle semi-join when candidates grow)
    exc = shingles(units.join(cand_keys, keys, "left_semi"))
    common = (
        exc.alias("x")
        .join(exc.alias("y"), (F.col("x.s") == F.col("y.s")) & _key_lt(keys, "x", "y"))
        .groupBy(
            *[F.col(f"x.{k}").alias(c) for k, c in zip(keys, a_cols)],
            *[F.col(f"y.{k}").alias(c) for k, c in zip(keys, b_cols)],
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return verified_pairs(cand, common, a_cols + b_cols)


def pair_overlap(
    cand: DataFrame,
    pair: tuple[str, str],
    units_a: DataFrame,
    units_b: DataFrame,
    unit: str = "doc_id",
    item: str = "s",
) -> DataFrame:
    """PAIR-KEYED overlap count: (a, b, n_common) for each candidate
    pair, as cand ⋈ units_a(a) ⋈ units_b(b) on (b, item). Linear in
    |cand|·items-per-unit whatever an item's popularity — the shape
    for candidate sets whose items are shared by many units (the
    prefix-filter families and audio grams; joining on the bare item
    costs Σ_g df(g)²). ``units_*`` are (unit, item) rows."""
    a, b = pair
    return (
        cand.select(a, b)
        .join(units_a.select(F.col(unit).alias(a), item), a)
        .join(units_b.select(F.col(unit).alias(b), item), [b, item])
        .groupBy(a, b)
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


# --- shared Hamming ≤ 2 pair join over bit signatures ----------------------


def hamming_pairs(
    sigs: DataFrame, id_col: str, out_a: str, out_b: str, bits: int
) -> DataFrame:
    """Pairs of ``bits``-bit signatures within Hamming distance ≤ 2 by
    PIGEONHOLE blocking, never all-pairs — the one pair join of the
    SimHash, image-dHash and audio-fingerprint near-dup families.

    The bits split into 3 near-equal blocks (``divmod(bits, 3)``:
    11/11/10 at 32 bits, 22/21/21 at 64, 43/43/42 at 128). A pair
    within Hamming ≤ 2 differs in at most 2 blocks, so it matches
    EXACTLY on at least one: total recall by construction (unlike
    probabilistic LSH), which is why the all-pairs DuckDB twin
    (:func:`hamming_pairs_duck`) stays exact at any scale factor.
    Candidates come from a self-equi-join on (block#, block bits); the
    exact distance is codegen'd ``bit_count(xor)`` summed over the
    ``bits // 32`` 32-bit words (``conv`` of a 64-char binary string
    would wrap a signed LONG; 32-bit words stay positive) — no
    interpreted HOF in the pair path. The signature table is cached:
    the block self-join would otherwise run the whole signature
    pipeline once per side.

    ``sigs``: (id_col, dh), dh a ``bits``-char '0'/'1' string with
    ``bits`` a multiple of 32. Output: (out_a, out_b, hamming) with
    out_a < out_b, hamming ≤ 2."""
    sigs = cache_corpus(sigs)
    q, r = divmod(bits, 3)
    widths = [q + (b < r) for b in range(3)]
    blocks = [
        F.concat_ws(
            ":", F.lit(b), F.substring("dh", 1 + sum(widths[:b]), widths[b])
        ).alias(f"blk{b}")
        for b in range(3)
    ]
    n_words = bits // 32
    keyed = sigs.select(
        F.col(id_col),
        *[
            F.conv(F.substring("dh", 1 + 32 * i, 32), 2, 10).cast("long").alias(f"w{i}")
            for i in range(n_words)
        ],
        F.explode(F.array(*blocks)).alias("block_key"),
    )
    ham = reduce(
        operator.add,
        [F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"b{i}"))) for i in range(n_words)],
    )
    return (
        keyed.alias("x")
        .join(
            keyed.alias("y"),
            (F.col("x.block_key") == F.col("y.block_key"))
            & _key_lt([id_col], "x", "y"),
        )
        .select(
            F.col(f"x.{id_col}").alias(out_a),
            F.col(f"y.{id_col}").alias(out_b),
            *[F.col(f"x.w{i}").alias(f"a{i}") for i in range(n_words)],
            *[F.col(f"y.w{i}").alias(f"b{i}") for i in range(n_words)],
        )
        .distinct()
        .select(out_a, out_b, ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= 2)
    )


def hamming_pairs_duck(sigs_cte: str, id_col: str, out_a: str, out_b: str) -> str:
    """DuckDB twin of :func:`hamming_pairs`: the ALL-PAIRS Hamming ≤ 2
    scan over CTE ``sigs_cte`` (id_col, dh) — the exact ground truth
    the pigeonhole plan must reproduce at fixture scale."""
    ham = "bit_count(xor(a.dh::BIT, b.dh::BIT))"
    return f"""SELECT a.{id_col} AS {out_a}, b.{id_col} AS {out_b},
       CAST({ham} AS BIGINT) AS hamming
FROM {sigs_cte} a JOIN {sigs_cte} b ON a.{id_col} < b.{id_col}
WHERE {ham} <= 2"""


@register(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS text_hash,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
    bench=True,
    tags=("dedup", "exact"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy: one shuffle on the md5 digest
    (not the full text — at 100 TB the digest is what moves), keeper
    = min doc_id per group."""
    d = _docs(spark, sf_dir)
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


#: CTE chain producing verified near-dup pairs — shared by the
#: dedup_minhash_lsh oracle and the dedup_clusters oracle.
_MINHASH_PAIRS_CTES = f"""sh AS (
  SELECT doc_id, {_SH_DUCK} AS shingles FROM documents
),
sigs AS (
  SELECT doc_id, shingles, {minhash_int_duck('shingles')} AS mh FROM sh
),
bands AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(0, 3),
                b -> b || ':' || array_to_string(mh[b * 4 + 1:b * 4 + 4], ','))) AS band_key
  FROM sigs
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(x.shingles, y.shingles)) * 1.0
           / len(list_distinct(list_concat(x.shingles, y.shingles))) AS jaccard
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a
  JOIN sh y ON y.doc_id = c.doc_b
  WHERE len(list_intersect(x.shingles, y.shingles)) * 1.0
          / len(list_distinct(list_concat(x.shingles, y.shingles))) >= 0.8
)"""


@register(
    "dedup_minhash_lsh",
    oracle=f"""
WITH {_MINHASH_PAIRS_CTES}
SELECT doc_a, doc_b, jaccard FROM pairs
""",
    bench=True,
    tags=("dedup", "minhash", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (16 perms) + LSH (4 bands × 4 rows) near-dup detection,
    verified with exact shingle-Jaccard ≥ 0.8 on candidates only.

    Signatures/bands are pure map-side higher-order expressions (one
    codegen span, no shuffle); the only shuffles are the band-bucket
    self-join and the candidate→shingle verify joins — each keyed,
    each linear in candidates, never in n²."""
    return minhash_lsh_pairs(_docs(spark, sf_dir))


def minhash_lsh_pairs(d: DataFrame) -> DataFrame:
    """Candidate generation + exact verify for ``dedup_minhash_lsh``:
    the shared MinHash-LSH stage over exploded distinct shingles,
    md5-digested ONCE each (~16× less hashing than one md5 per
    permutation), then the shingle-value self-join verify."""
    exh = exploded_word_shingles(d, 3).select(
        "doc_id", F.expr(shingle_int_hash_spark("s")).alias("h")
    )
    cand = minhash_lsh_candidates(exh, ["doc_id"], cache_corpus)
    return _shingle_join_verify(
        cand, d, ["doc_id"], lambda docs: exploded_word_shingles(docs, 3)
    )


def _ppjoin_pair_filters(num: int = 4, den: int = 5) -> "F.Column":
    """PPJoin's length + positional filters as an integer-exact join
    predicate over two prefix-row aliases ``a``/``b`` (columns ``rk``,
    ``n_sh``), for Jaccard threshold t = num/den (default 0.8 = 4/5).
    Both prune candidates with ZERO recall loss (Xiao et al., PPJoin,
    WWW'08 — same theorem family as the prefix filter, so the
    brute-force oracle is unchanged):

    - LENGTH: J ≤ min/max, so J ≥ t needs den·min(|A|,|B|) ≥
      num·max(|A|,|B|).
    - POSITIONAL: ranks are positions in ONE global shingle order
      (df asc, text tie-break), so a common shingle at ranks (i, j)
      bounds the overlap by min(i−1, j−1) common shingles before it
      (each earlier common shingle is earlier in BOTH docs), itself,
      and min(|A|−i, |B|−j) after: O ≤ min(i,j) + min(|A|−i, |B|−j).
      J ≥ t needs O ≥ ⌈num·(|A|+|B|)/(num+den)⌉; since the bound
      holds for EVERY common shingle of a pair, a qualifying pair's
      matches all survive — pruning is per-match but lossless.
    """
    na, nb = F.col("a.n_sh"), F.col("b.n_sh")
    ra, rb = F.col("a.rk"), F.col("b.rk")
    alpha = (
        F.lit(num) * (na + nb) + F.lit(num + den - 1)
    ) .cast("long") / F.lit(num + den)
    alpha = F.floor(alpha)  # = ceil(num·(na+nb)/(num+den)) in integers
    length_ok = F.least(na, nb) * den >= F.greatest(na, nb) * num
    positional_ok = (
        F.least(ra, rb) + F.least(na - ra, nb - rb) >= alpha
    )
    return length_ok & positional_ok


def _rarest_prefix(ex: DataFrame, df: DataFrame | None = None) -> DataFrame:
    """(doc_id, s, rk, n_sh) PROBE-prefix rows — rk ≤ n_sh −
    ⌈0.8·n_sh⌉ + 1 under the global rarest-first (df, s) total order,
    shingle text as tie-break. The one prefix derivation of
    ``dedup_ngram_jaccard`` and both ingest paths. Prefix/PPJoin
    correctness holds for ANY total order applied consistently to
    both join sides.

    Document frequency is counted over the full ``ex`` stream, or, when
    a (s, df) table is given, read from it with df 0 for shingles it
    lacks — the per-batch delta ranked under the base's order.

    After the df attach, each doc's (df, s) pairs are grouped with a
    complete-mode aggregate (repartition(doc_id) first — the r6
    near-unique-key rule), sorted rarest-first INSIDE the row and
    sliced to the probe prefix BEFORE exploding, so only the ~n/5
    prefix rows enter the downstream plan. ``sort_array`` on
    struct(df, s) compares fields in declaration order with binary
    string comparison, exactly ``orderBy("df", "s")``; unlike
    ``array_sort`` it plans no lambda comparator (the structs are never
    null, so the two agree), and it built the 100× ingest base faster
    in 6 of 7 interleaved pairs. ``ex`` must be per-doc distinct (it
    is: ``exploded_word_shingles`` dedups), so
    (df, s) is a strict total order within a doc and the ranks are
    deterministic. A row_number window + sizes join gives the same rows
    but was slower (AB_R15_SF1.json)."""
    # integer ceil: ⌈0.8·n⌉ = ⌈4n/5⌉ = (4n + 4) div 5
    if df is None:
        withdf = ex.join(ex.groupBy("s").agg(F.count(F.lit(1)).alias("df")), "s")
    else:
        withdf = ex.join(df, "s", "left").select(
            "doc_id", "s", F.coalesce("df", F.lit(0)).alias("df")
        )
    grouped = (
        withdf.repartition(F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("df", "s")).alias("_ds"))
    )
    return (
        grouped.select(
            "doc_id",
            F.size("_ds").cast("long").alias("n_sh"),
            F.expr(
                "slice(sort_array(_ds), 1, "
                "size(_ds) - (4 * size(_ds) + 4) div 5 + 1)"
            ).alias("_pref"),
        )
        .select("doc_id", "n_sh", F.posexplode("_pref").alias("_pos", "_e"))
        .select(
            "doc_id",
            F.col("_e.s").alias("s"),
            (F.col("_pos") + 1).alias("rk"),
            "n_sh",
        )
    )


def _ingest_idx_filter() -> "F.Column":
    """The INDEX prefix within a probe prefix: rk ≤ n_sh − ⌈8·n_sh/9⌉
    + 1, PPJoin's bound for the smaller doc of a pair with J ≥ 0.8
    (built lazily — Column construction needs an active SparkContext)."""
    # 2t/(1+t) = 8/9 at t = 0.8; integer ceil ⌈8n/9⌉ = (8n + 8) div 9
    return F.col("rk") <= F.col("n_sh") - F.expr("(8 * n_sh + 8) div 9") + 1


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH sh AS (
  SELECT doc_id, {_SH_DUCK} AS shingles FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       len(list_intersect(a.shingles, b.shingles)) * 1.0
         / len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0
        / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.8
""",
    tags=("dedup", "jaccard"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive word-3-gram Jaccard pairs ≥ 0.8 — the ground truth
    the LSH variant approximates (their agreement is a pytest
    property). EXACT (no candidate may be lost — the hash gate
    compares against DuckDB's O(n²) brute force), but never all-pairs
    and, since r7, never Σ_g df(g)² either:

    1. PREFIX FILTER (Chaudhuri et al. SSJoin / PPJoin): order every
       doc's shingle set by one global total order (ascending document
       frequency, shingle text as tie-break). Any pair with J ≥ 0.8
       shares ≥ 0.8·max(|A|,|B|) shingles, so its rarest-first
       prefixes must intersect — candidate generation equi-joins
       PREFIX shingles only, and frequent shingles (the df² blowup
       this query paid before; the audio family measured the same fix
       at 5.1×) almost never sit in a rarest-first prefix. Since r8
       the prefixes are ASYMMETRIC (PPJoin's index/probe split: the
       pair's larger doc probes with ``|x| − ⌈0.8·|x|⌉ + 1`` shingles,
       the smaller is indexed under only ``|y| − ⌈8·|y|/9⌉ + 1``) and
       the join predicate also applies PPJoin's LENGTH and POSITIONAL
       filters (``_ppjoin_pair_filters``) — all lossless, so the
       oracle is still the brute force, and all pruning happens
       before the distinct's shuffle.
    2. PAIR-KEYED verify (the audio-family restructure): intersections
       are counted by joining each candidate pair's own shingles on
       (pair, shingle) — linear in |cand|·shingles-per-doc, immune to
       shingle popularity.

    The shingle cache is ``cache_corpus`` — corpus-sized reuse cache,
    per the r6 memory rule (localCheckpoint pins deserialized
    rows on-heap); df counts, sizes, prefixes and verify all read it."""
    d = _docs(spark, sf_dir)
    ex = cache_corpus(exploded_word_shingles(d, 3))
    # PPJoin's indexing theorem: for a pair with J ≥ t the FIRST common
    # shingle lies within the PROBE prefix |x| − ⌈t·|x|⌉ + 1 of the
    # LARGER doc x and, with the length filter, within the INDEX prefix
    # |y| − ⌈(2t/(1+t))·|y|⌉ + 1 of the SMALLER doc y ("smaller" in the
    # (n_sh, doc_id) total order, so each pair is generated once). At
    # t = 0.8 the index side keeps ~|y|/9 shingles vs the probe side's
    # ~|y|/5 — the candidate join's smaller input, lossless. The index
    # prefix is a SUBSET of the probe prefix, so only the probe stream
    # (~n/5 of the shingle stream, read by both join sides) is computed
    # — and persisted: without it the index branch re-runs the df-join
    # + ranking, and the two sides' differing filters defeat
    # ReusedExchange (98.7 s vs 73.8 s at 500k docs).
    probe = cache_corpus(_rarest_prefix(ex))
    index = probe.filter(_ingest_idx_filter())
    a_gt_b = (F.col("a.n_sh") > F.col("b.n_sh")) | (
        (F.col("a.n_sh") == F.col("b.n_sh"))
        & (F.col("a.doc_id") > F.col("b.doc_id"))
    )
    cand = (
        probe.alias("a")
        .join(
            index.alias("b"),
            (F.col("a.s") == F.col("b.s")) & a_gt_b & _ppjoin_pair_filters(),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            F.when(F.col("a.doc_id") < F.col("b.doc_id"), F.col("a.n_sh"))
            .otherwise(F.col("b.n_sh")).alias("n_a"),
            F.when(F.col("a.doc_id") < F.col("b.doc_id"), F.col("b.n_sh"))
            .otherwise(F.col("a.n_sh")).alias("n_b"),
        )
        .distinct()
    )
    common = pair_overlap(cand, ("doc_a", "doc_b"), ex, ex)
    return verified_pairs(cand, common, ["doc_a", "doc_b"])


#: Shared by the batch operator and its foreachBatch streaming twin
#: (streaming_queries.streaming_ingest_dedup_near): the rejection set
#: is batching-independent (a delta doc is rejected iff a base doc
#: matches it — the prefix/filter machinery affects cost, never the
#: output), so both run against the SAME brute-force oracle.
INGEST_ORACLE = f"""
WITH exact AS (
  SELECT DISTINCT d.doc_id
  FROM documents d JOIN documents b
    ON b.doc_id % 8 <> 0 AND md5(d.text) = md5(b.text)
  WHERE d.doc_id % 8 = 0
),
shd AS (
  SELECT doc_id, {_SH_DUCK} AS shingles FROM documents
  WHERE doc_id % 8 = 0
),
shb AS (
  SELECT doc_id, {_SH_DUCK} AS shingles FROM documents
  WHERE doc_id % 8 <> 0
),
near AS (
  -- integer guards per the repo's 0/0 rule: two sub-3-word docs have
  -- empty shingle lists, and DuckDB's 0.0/0 is NaN with NaN >= 0.8
  -- TRUE — such pairs must not count as 'near'
  SELECT DISTINCT a.doc_id
  FROM shd a JOIN shb b
    ON len(a.shingles) > 0 AND len(b.shingles) > 0
   AND len(list_intersect(a.shingles, b.shingles)) * 1.0
         / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.8
)
SELECT doc_id, 'exact' AS reason FROM exact
UNION ALL
SELECT doc_id, 'near' AS reason FROM near
WHERE doc_id NOT IN (SELECT doc_id FROM exact)
"""


@register(
    "dedup_incremental_ingest",
    oracle=INGEST_ORACLE,
    # bench since r9 (r8 verdict #7): the LLM-pipeline ingest path is
    # now tracked round-over-round
    bench=True,
    tags=("dedup", "incremental", "ingest", "llm"),
)
def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL ingest dedup — the shape a production pipeline
    actually runs when a new batch arrives: the BASE corpus (here
    ``doc_id % 8 != 0``) is already deduplicated and must never be
    re-paired with itself; only the DELTA batch (``% 8 == 0`` — a
    divisor of the corpus-expansion stride, so the split is
    replica-stable under tools/gen_corpus.py; the first cut used % 7
    and the scaling tool's K-linearity assertion caught the rotating
    cohort before it could masquerade as an engine curve) is
    checked, against the base, for exact duplicates (digest
    equi-join) and near-duplicates (word-3-gram Jaccard ≥ 0.8).
    Output: one row per REJECTED delta doc with its reason ('exact'
    wins over 'near').

    Near candidates come from the same rarest-first PPJoin prefix as
    ``dedup_ngram_jaccard`` — document frequencies over the FULL
    corpus give one global shingle order, both sides keep only their
    ``|A| − ⌈0.8·|A|⌉ + 1`` rarest shingles (plus PPJoin's length and
    positional filters in the join predicate since r8), and candidate
    generation joins DELTA prefixes to BASE prefixes only: cost
    scales with the batch, never with base², which is what makes
    nightly ingest affordable at a 100 TB base. The bound: pair work
    is O(|delta-prefix matches|) — delta-proportional — plus ONE
    linear base scan for digests/document-frequencies, and that scan
    exists only because this self-contained query derives the base's
    artifacts from the corpus (in production they are precomputed
    outputs of previous runs — ``prepare_ingest_base`` +
    ``ingest_report_against_base`` are exactly that split, used by
    the streaming twin). Measured (SCALING_INGEST_r09.json; now
    ``tools/scale.py ingest_fixed_delta --inputs corpus``): a FIXED
    625-doc delta against base 5k → 50k → 500k runs 3.3/7.8/25.6 s —
    2.4×/3.3× per 10× decade, sub-linear in base, with the rejection set byte-identical at all
    three points (the construction falsifier). Verify is pair-keyed
    (popularity-immune). The exactness argument is the prefix-filter
    + PPJoin theorems, pair-symmetric, so no true ≥0.8 pair is
    missed — the oracle is the O(delta×base) brute force."""
    return incremental_ingest_report(
        _docs(spark, sf_dir), F.col("doc_id") % 8 == 0
    )


def incremental_ingest_report(d: DataFrame, delta_pred) -> DataFrame:
    """Delta-vs-base dedup report: see ``dedup_incremental_ingest``
    (the registered %8 instance — %7 was the rejected first cut, see
    its docstring) for semantics and scale notes; pytest drives this
    on a planted corpus.

    The candidate join is ALWAYS the asymmetric index/probe split. A
    size-conditional symmetric probe×probe branch was retired after
    the same-session interleaved A/B showed asymmetric strictly faster
    on both cohort shapes at the 100× point, outputs identical
    (AB_INGEST_BRANCH_r09.json). The plan is a lossless prefix filter
    checked against the brute-force oracle."""
    # exact: digest semi-join, delta probes base
    h = d.select("doc_id", F.md5(F.col("text").cast("binary")).alias("h"))
    exact = (
        h.filter(delta_pred)
        .join(h.filter(~delta_pred).select("h"), "h", "left_semi")
        .select("doc_id")
        .distinct()
        # bounded by the delta batch's rejection count and read twice
        # (the 'exact' output branch and the near-branch anti-join) —
        # materialize so the digest scans run once
        .localCheckpoint()
    )
    # near: one shingle stream feeds df counts, prefixes, verify. Both
    # sides' prefix streams read ONE persisted probe-prefix cache (the
    # index prefix is a further rank filter over the same rows —
    # persisting avoids recomputing the df-join + ranking per branch,
    # the ReusedExchange lesson from the self-join variant).
    ex = cache_corpus(exploded_word_shingles(d, 3))
    pref = cache_corpus(_rarest_prefix(ex))
    return _ingest_rejections(
        exact, pref.filter(delta_pred), pref.filter(~delta_pred), ex, ex
    )


def _ingest_rejections(
    exact: DataFrame,
    delta_pref: DataFrame,
    base_pref: DataFrame,
    delta_sh: DataFrame,
    base_sh: DataFrame,
) -> DataFrame:
    """(doc_id, reason) rejection rows from the delta's exact-duplicate
    set, the two sides' probe-prefix streams and their (doc_id, s)
    shingle streams — the tail both ingest paths share.

    Asymmetric index/probe prefixes (same theorem as
    ``dedup_ngram_jaccard``): each true pair's SMALLER doc (under the
    (n_sh, doc_id) total order) only needs its ~|y|/9 index prefix.
    The sides here are FIXED (delta vs base), so the split becomes two
    complementary branches — delta-probe × base-index where the base
    doc is smaller, delta-index × base-probe otherwise — each pair
    lands in exactly one. Verify is pair-keyed; 'exact' wins over
    'near'."""
    idx = _ingest_idx_filter()
    a_ge_b = (F.col("a.n_sh") > F.col("b.n_sh")) | (
        (F.col("a.n_sh") == F.col("b.n_sh"))
        & (F.col("a.doc_id") >= F.col("b.doc_id"))
    )

    def pairs(a_side: DataFrame, b_side: DataFrame, a_bigger) -> DataFrame:
        # delta(a) × base(b) on the shared shingle, oriented, with
        # PPJoin's length/positional filters
        return a_side.alias("a").join(
            b_side.alias("b"),
            (F.col("a.s") == F.col("b.s")) & a_bigger & _ppjoin_pair_filters(),
        ).select(
            F.col("a.doc_id").alias("doc_d"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("n_d"),
            F.col("b.n_sh").alias("n_b"),
        )

    cand = (
        pairs(delta_pref, base_pref.filter(idx), a_ge_b)
        .unionAll(pairs(delta_pref.filter(idx), base_pref, ~a_ge_b))
        .distinct()
    )
    common = pair_overlap(cand, ("doc_d", "doc_b"), delta_sh, base_sh)
    near = (
        verified_pairs(cand, common, ["doc_d", "doc_b"], ("n_d", "n_b"))
        .select(F.col("doc_d").alias("doc_id"))
        .distinct()
    )
    return (
        exact.select("doc_id", F.lit("exact").alias("reason"))
        .unionAll(
            near.join(exact, "doc_id", "left_anti")
            .select("doc_id", F.lit("near").alias("reason"))
        )
    )


class _Frames:
    """Persisted frames filled and released together."""

    def __init__(self, *frames: DataFrame) -> None:
        self._frames = frames

    def materialize(self):
        """Eagerly fill the persisted frames (one pass over the base)
        so the first micro-batch doesn't absorb the cache-fill cost.
        ``count()`` is a fine cache FILLER (InMemoryRelation
        materializes whole partitions of the cached plan; the r6
        count-prunes rule is about timing DOWNSTREAM plans)."""
        for f in self._frames:
            f.count()
        return self

    def unpersist(self) -> None:
        for f in self._frames:
            f.unpersist()


class IngestBase(_Frames):
    """Precomputed base-side artifacts for delta-vs-base ingest dedup —
    the production shape: at a 100 TB base these are outputs of
    previous ingest runs, derived ONCE and persisted, so every delta
    micro-batch pays only delta-proportional work plus probe joins
    against the cached tables (never a per-batch re-derivation of the
    base's digests/frequencies/prefixes).

    Partitioning is part of the contract: each frame is persisted
    under the join key the per-batch probes use (``digests`` keeps the
    distinct's own hash partitioning on ``h``; ``df`` the groupBy's on
    ``s``; ``prefixes`` is explicitly repartitioned by ``s`` — the
    candidate join's key; ``shingles`` by ``(doc_id, s)`` — the verify
    join's key), so each probe join plans an exchange on the BATCH
    side only and the cached base side is never reshuffled.

    The global shingle order these prefixes embed is (base document
    frequency, shingle text). Prefix/PPJoin correctness holds for ANY
    total order applied consistently to both sides, so the per-batch
    path ranks delta shingles under the SAME key (absent-from-base
    shingles take df 0) and the rejection set is unchanged — the
    brute-force oracle stays exact.
    """

    def __init__(
        self,
        digests: DataFrame,
        df: DataFrame,
        prefixes: DataFrame,
        shingles: DataFrame,
    ) -> None:
        super().__init__(digests, df, prefixes, shingles)
        self.digests = digests
        self.df = df
        self.prefixes = prefixes
        self.shingles = shingles


def prepare_ingest_base(base: DataFrame) -> IngestBase:
    """Derive the base corpus's ingest-dedup artifacts once (digest
    set, shingle stream, shingle document frequencies, PPJoin probe
    prefixes from :func:`_rarest_prefix` over the cached df table),
    persisted MEMORY_AND_DISK per the corpus-cache rule. Pair with
    :func:`ingest_report_against_base` for the per-batch side; see
    :class:`IngestBase` for the partitioning contract."""
    # Every frame is cached PARTITIONED AND LOCALLY SORTED under the
    # join key its per-batch probe uses: InMemoryTableScan propagates
    # the cached plan's outputPartitioning AND outputOrdering, so a
    # per-batch sort-merge join plans neither an Exchange nor a Sort
    # on the base side (verified in the r9 plan audit: without the
    # repartition, every micro-batch re-shuffled the whole base
    # shingle table — 26M rows at the 500k-doc point — under
    # ENSURE_REQUIREMENTS; without the sortWithinPartitions, SMJ
    # re-sorted it per batch whenever the delta side is too large for
    # AQE's broadcast conversion). The local sorts run once at prep.
    digests = cache_corpus(
        base.select(F.md5(F.col("text").cast("binary")).alias("h"))
        .distinct()
        .sortWithinPartitions("h")
    )
    ex_b = cache_corpus(
        exploded_word_shingles(base, 3)
        .repartition(F.col("doc_id"), F.col("s"))
        .sortWithinPartitions("doc_id", "s")
    )
    df_b = cache_corpus(
        ex_b.groupBy("s").agg(F.count(F.lit(1)).alias("df")).sortWithinPartitions("s")
    )
    prefixes = cache_corpus(
        _rarest_prefix(ex_b, df_b).repartition(F.col("s")).sortWithinPartitions("s")
    )
    return IngestBase(digests, df_b, prefixes, ex_b)


#: IngestBase frame names and the join-key layout each is cached
#: under — the load path re-applies exactly the partitioning contract
#: :class:`IngestBase` documents (digests probe on h; df and the
#: candidate-join prefixes on s; the verify-join shingles on
#: (doc_id, s)).
_INGEST_BASE_PARTS = (
    ("digests", ("h",)),
    ("df", ("s",)),
    ("prefixes", ("s",)),
    ("shingles", ("doc_id", "s")),
)


def ingest_base_fingerprint(base: DataFrame) -> str:
    """Content fingerprint of the base corpus: row count plus the
    order-independent sum of each row's 60-bit md5 prefix over
    ``doc_id || NUL || text``. ONE cheap column scan — the disk
    index exists to skip the expensive prep (shingle explode, df
    aggregation, per-doc prefix sort), not the linear read.
    Deterministic across sessions and partitionings; any row edit,
    insert, or delete moves it."""
    row = (
        base.select(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("\x00", F.col("doc_id"), F.col("text"))),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("decimal(38,0)")
            .alias("dg")
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dg").alias("csum"))
        .collect()[0]
    )
    return f"{row['n']}_{row['csum']}"


def load_or_build_ingest_base(
    spark: SparkSession, base: DataFrame, index_dir: str
) -> IngestBase:
    """Disk-backed load-or-build around :func:`prepare_ingest_base`
    (r9 verdict #7): the base artifacts are written ONCE as parquet
    under a content-fingerprint-keyed directory, and a restarted
    ingest stream (or a new process) loads them instead of re-running
    prep — at the 500k-doc corpus prep costs ~18 s of shingle/rank
    work per process, while the load path pays only four columnar
    reads plus the layout shuffles of already-derived tables. The
    fingerprint key (not an mtime guard — the base here is a
    DataFrame, not a file) makes staleness structural: a changed base
    corpus fingerprints to a different directory and simply builds
    fresh, the `join_bucketed_fact_fact` load-or-build discipline
    adapted to content addressing. Writes go to a ``.tmp`` sibling
    and are renamed into place, so a crash mid-write never half-loads.

    The loaded frames get the SAME repartition + sortWithinPartitions
    + persist(MEMORY_AND_DISK) treatment the build path applies, so
    the :class:`IngestBase` partitioning contract (per-batch probe
    joins plan no Exchange/Sort on the base side) holds identically
    on both paths. On a real cluster the parquet directories would be
    bucketed warehouse tables; the layout step is where that swap
    lands."""
    import os

    fp = ingest_base_fingerprint(base)
    root = os.path.join(index_dir, f"ingest_base_{fp}")
    if not os.path.isdir(root):
        arts = prepare_ingest_base(base).materialize()
        tmp = root + ".tmp"
        for name, _keys in _INGEST_BASE_PARTS:
            getattr(arts, name).write.mode("overwrite").parquet(
                os.path.join(tmp, f"{name}.parquet")
            )
        try:
            os.rename(tmp, root)
        except OSError:
            if not os.path.isdir(root):  # not a concurrent-build race
                raise
        return arts
    frames = {}
    for name, keys in _INGEST_BASE_PARTS:
        loaded = spark.read.parquet(os.path.join(root, f"{name}.parquet"))
        frames[name] = cache_corpus(
            loaded.repartition(*[F.col(k) for k in keys]).sortWithinPartitions(*keys)
        )
    return IngestBase(**frames).materialize()


def ingest_report_against_base(
    delta: DataFrame, base: IngestBase, caches: list[DataFrame] | None = None
) -> DataFrame:
    """The per-batch half of incremental ingest dedup: the same
    rejection semantics as ``incremental_ingest_report`` (exact digest
    match wins over word-3-gram Jaccard ≥ 0.8 vs the base) but with
    the base side read from :class:`IngestBase`'s persisted artifacts
    — per-batch cost is delta-proportional (delta shingling, ranking
    against the cached df table) plus probe joins whose base side is
    pre-partitioned and never reshuffled. This is the fix for the r8
    verdict's weak #1 (foreachBatch re-deriving O(base) artifacts
    every epoch).

    Output equality with the self-contained path: the rejection set is
    a pairwise predicate (a delta doc is rejected iff a base doc
    matches it), and prefix/PPJoin recall holds under ANY consistent
    global shingle order — here (base df, shingle text) instead of the
    one-shot path's full-corpus df — so both paths equal the same
    brute-force oracle (pytest-pinned on the planted corpus).

    Frames persisted per batch (the delta prefix feeds two join
    branches; ``exact`` feeds the output branch and the near anti-join)
    are appended to ``caches`` when given, so a ``foreachBatch`` driver
    can unpersist them at the end of each epoch (ADVICE r8: per-batch
    caches must not accumulate for the life of the session)."""
    hd = delta.select("doc_id", F.md5(F.col("text").cast("binary")).alias("h"))
    exact = cache_corpus(
        hd.join(base.digests, "h", "left_semi").select("doc_id").distinct()
    )
    ex_d = cache_corpus(exploded_word_shingles(delta, 3))
    pref_d = cache_corpus(_rarest_prefix(ex_d, base.df))
    if caches is not None:
        caches.extend([exact, ex_d, pref_d])
    return _ingest_rejections(exact, pref_d, base.prefixes, ex_d, base.shingles)


@register(
    "dedup_simhash",
    oracle=f"""
SELECT doc_id, {simhash_duck(TOK_DUCK)} AS simhash
FROM documents
""",
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 32-bit SimHash fingerprint ('0'/'1' string — md5
    nibble majority vote per bit). Pure map-side projection; Hamming-
    distance pairing is covered in pytest (near-dup docs differ in
    ≤ a few bits)."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", F.expr(simhash_spark(TOK_SPARK)).alias("simhash"))


@register(
    "dedup_simhash_pairs",
    oracle=f"""
WITH sigs AS (
  SELECT doc_id, {simhash_duck(TOK_DUCK)} AS dh FROM documents
)
{hamming_pairs_duck("sigs", "doc_id", "doc_a", "doc_b")}
""",
    tags=("dedup", "simhash"),
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: Hamming distance ≤ 2 over the 32-bit
    fingerprint, found by the shared pigeonhole block join
    (:func:`hamming_pairs`, 3 blocks of 11/11/10 bits) — never
    all-pairs, total recall by construction, which is why the
    all-pairs DuckDB oracle stays exact at any scale factor."""
    d = _docs(spark, sf_dir)
    sigs = d.select("doc_id", F.expr(simhash_spark(TOK_SPARK)).alias("dh"))
    return hamming_pairs(sigs, "doc_id", "doc_a", "doc_b", 32)


def _embedding_cosine_oracle() -> str:
    from .similarity import lsh_band_keys_duck

    return f"""
WITH bands AS ({lsh_band_keys_duck(6, 8)}),
cand AS (
  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM bands x JOIN bands y ON x.band_key = y.band_key AND x.vec_id < y.vec_id
),
n AS (
  SELECT vec_id,
         sqrt(list_reduce(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS nrm,
         embedding
  FROM embeddings
)
SELECT c.vec_a, c.vec_b,
       list_reduce(list_transform(generate_series(1, 64),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
            (x, y) -> x + y) / (a.nrm * b.nrm) AS cosine
FROM cand c
JOIN n a ON a.vec_id = c.vec_a
JOIN n b ON b.vec_id = c.vec_b
WHERE list_reduce(list_transform(generate_series(1, 64),
            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
            (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.5
"""


@register(
    "dedup_embedding_cosine",
    oracle=_embedding_cosine_oracle(),
    tags=("dedup", "embedding"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (≥ 0.5), blocked by banded
    sign-LSH — NOT an all-pairs join.

    Plan shape: each vector emits 8 band keys (6 hyperplane sign bits
    per band, one vectorized Arrow/numpy map-side pass — see
    ``operators/similarity.py:lsh_band_keys_pandas``); candidates
    come from a self-equi-join on the band key; exact cosine is
    verified on candidates only, as an ordered left fold in double.
    The DuckDB oracle mirrors the banding bit-for-bit
    (``lsh_band_keys_duck``, pinned against the kernel by
    ``test_band_keys_pandas_matches_duck``), exactly as
    ``dedup_minhash_lsh``'s oracle mirrors its MinHash banding — so
    the cross-engine gate is exact at ANY scale factor, and recall vs.
    the exhaustive all-pairs ground truth is a separately-pinned
    pytest property (``test_embedding_cosine_lsh_blocking``).

    Recall math, stated honestly: per-bit agreement is ``p = 1 - θ/π``,
    so at the fixture's 0.5-cosine threshold (p ≈ 2/3, barely above a
    random pair's p ≈ 0.54) no (r, B) both prunes and recalls — at
    (6, 8) the bucket join touches ~13% of the pair space and recalls
    ~half the θ=60° pairs (total recall on the sf0.001/sf0.01
    fixtures, 7/14 measured at sf0.1). At the thresholds production
    near-dup dedup actually uses (cosine ≥ 0.9 ⇒ p ≥ 0.93) the SAME
    (6, 8) parameters give 1-(1-0.93⁶)⁸ ≈ 99.98% recall with ~2% of
    pairs touched — pinned by the synthetic high-similarity pytest."""
    from .similarity import _NORM, lsh_band_keys_pandas

    e = load_table(spark, sf_dir, "embeddings")

    # band keys materialized once: the self-join would otherwise run
    # the 48-hyperplane projection per row PER SIDE (embeddings
    # scanned 2× just for candidates). Keys come from the vectorized
    # Arrow/numpy kernel — bitwise identical to the oracle's
    # lsh_band_keys_duck (see lsh_band_keys_pandas docstring).
    bands = cache_corpus(lsh_band_keys_pandas(e, 6, 8))
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), (F.col("x.band_key") == F.col("y.band_key"))
              & (F.col("x.vec_id") < F.col("y.vec_id")))
        .select(
            F.col("x.vec_id").alias("vec_a"), F.col("y.vec_id").alias("vec_b")
        )
        .distinct()
    )
    # norms computed for CANDIDATE vectors only (semi-join before the
    # norm fold — the docs_in_cand pattern from dedup_minhash_lsh)
    cand_ids = cand.select(F.col("vec_a").alias("vec_id")).union(
        cand.select("vec_b")
    ).distinct()
    # candidate id set is data-dependent: no broadcast hint, AQE decides
    n = e.join(cand_ids, "vec_id", "left_semi").select(
        "vec_id", "embedding", F.expr(_NORM).alias("nrm")
    )
    a = n.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = n.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    dot = F.expr(
        "aggregate(zip_with(emb_a, emb_b, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
    )
    cos = (dot / (F.col("nrm_a") * F.col("nrm_b"))).alias("cosine")
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .select("vec_a", "vec_b", cos)
        .filter(F.col("cosine") >= 0.5)
    )


#: Transitive-closure components over the verified MinHash pair CTEs
#: (``pairs`` from ``_MINHASH_PAIRS_CTES``): comp maps every clustered
#: doc to its cluster's min-doc_id label. Shared by the cluster/keeper
#: oracles AND pipeline.py's curation-funnel oracle — one definition,
#: so a closure-logic change cannot silently diverge them. Requires
#: WITH RECURSIVE at the statement head.
_COMPONENTS_CTES = """und AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT a AS src, b AS dst FROM und
  UNION
  SELECT r.src, e.b FROM reach r JOIN und e ON r.dst = e.a
),
comp AS (
  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
  FROM reach GROUP BY src
)"""


@register(
    "dedup_clusters",
    oracle=f"""
WITH RECURSIVE {_MINHASH_PAIRS_CTES},
{_COMPONENTS_CTES}
SELECT doc_id, cluster_id, doc_id = cluster_id AS keep FROM comp
""",
    tags=("dedup", "clusters", "components"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS — the step a real training-data pipeline runs
    after pair detection: treat verified MinHash-LSH pairs as edges,
    take connected components, and keep one canonical doc (min doc_id)
    per cluster. A doc transitively near-dup to a kept doc is dropped
    even when not directly paired with it — pairs alone can't express
    that.

    Spark side: iterative min-label propagation to fixpoint
    (operators/graph.py:connected_components — join+agg per round,
    lineage cut per iteration); converges in O(log n) rounds on
    near-dup clusters, which are short chains in practice. The DuckDB
    oracle computes the same components via a recursive transitive
    closure — fine at fixture scale, quadratic in cluster size at 100
    TB, which is exactly why the distributed path is label
    propagation."""
    from .graph import connected_components

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.select(
        F.col("doc_a").alias("from_paper"), F.col("doc_b").alias("to_paper")
    )
    labels = connected_components(edges)
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("keep"),
    )


@register(
    "dedup_keep_canonical",
    oracle=f"""
WITH RECURSIVE {_MINHASH_PAIRS_CTES},
{_COMPONENTS_CTES}
SELECT d.doc_id,
       CAST(length(d.text) AS BIGINT) AS n_chars,
       (c.doc_id IS NOT NULL) AS was_clustered
FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
WHERE c.doc_id IS NULL OR d.doc_id = c.cluster_id
""",
    tags=("dedup", "clusters", "apply", "canonical"),
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY cluster dedup to the corpus — the output a training run
    actually consumes: every doc not in any near-dup cluster plus ONE
    canonical doc (min doc_id) per cluster, flagged ``was_clustered``
    so downstream mixture accounting can tell survivors-by-default
    from survivors-by-canonicalization.

    Scale shape: the cluster table is bounded by near-dup mass (tiny
    relative to the corpus), so the final left join is
    broadcast-eligible under AQE and the corpus is never shuffled —
    the apply step costs one documents scan beyond the pair
    pipeline. ``dedup_clusters`` finds the clusters; this is the
    missing "emit the deduplicated corpus" half (compare the
    reference's report-only pipeline, master/master.py:206-224)."""
    clusters = dedup_clusters(spark, sf_dir)
    d = _docs(spark, sf_dir)
    return (
        d.join(clusters, "doc_id", "left")
        .filter(F.col("cluster_id").isNull() | F.col("keep"))
        .select(
            "doc_id",
            F.length("text").cast("long").alias("n_chars"),
            F.col("cluster_id").isNotNull().alias("was_clustered"),
        )
    )


def _semantic_hybrid_oracle() -> str:
    return f"""
WITH cos AS ({_embedding_cosine_oracle()}),
sh AS (
  SELECT doc_id, {_SH_DUCK} AS shingles FROM documents
)
SELECT vec_a AS doc_a, vec_b AS doc_b, cosine,
       len(list_intersect(x.shingles, y.shingles)) * 1.0
         / len(list_distinct(list_concat(x.shingles, y.shingles))) AS lexical_jaccard
FROM cos
JOIN sh x ON x.doc_id = vec_a
JOIN sh y ON y.doc_id = vec_b
"""


@register(
    "dedup_semantic_hybrid",
    oracle=_semantic_hybrid_oracle(),
    tags=("dedup", "embedding", "hybrid"),
)
def dedup_semantic_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style HYBRID near-dup evidence: semantic candidates
    (sign-LSH-blocked embedding cosine ≥ 0.5) annotated with the
    lexical 3-gram Jaccard of the SAME document pair — the signal
    split a curation pipeline uses to separate true semantic
    duplicates (high cosine, low lexical overlap → paraphrases) from
    near-copies (high both). vec_id ≡ doc_id in the fixtures (1:1
    embedding per document).

    Composition stays candidate-bounded end to end: the embedding
    stage reuses ``dedup_embedding_cosine`` (banded LSH, exact verify
    on candidates); the lexical stage shingles ONLY the candidate
    docs (broadcast semi-join) and compares shingle SETS with
    array_intersect/union — never a corpus-wide text pass."""
    # materialize the verified pair set: it feeds the id union AND
    # both shingle joins — left lazy, the whole LSH+cosine pipeline
    # replays once per consumer (audit: embeddings scanned 10×; with
    # the cache, once). The pair count is DATA-DEPENDENT (dup-rate ×
    # corpus — near-corpus-sized on a duplicate-heavy crawl), so the
    # r6 cache rule applies (r13 audit — was localCheckpoint).
    pairs = cache_corpus(dedup_embedding_cosine(spark, sf_dir))
    d = _docs(spark, sf_dir)
    pair_ids = pairs.select(F.col("vec_a").alias("doc_id")).union(
        pairs.select("vec_b")
    ).distinct()
    # pair id set is data-dependent: no broadcast hint, AQE decides
    sh = d.join(pair_ids, "doc_id", "left_semi").select(
        "doc_id", F.expr(_SH_SPARK).alias("shingles")
    )
    sa = sh.select(F.col("doc_id").alias("vec_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("vec_b"), F.col("shingles").alias("sh_b"))
    jac = (
        F.size(F.array_intersect("sh_a", "sh_b")) * F.lit(1.0)
        / F.size(F.array_union("sh_a", "sh_b"))
    )
    return (
        pairs.join(sa, "vec_a")
        .join(sb, "vec_b")
        .select(
            F.col("vec_a").alias("doc_a"),
            F.col("vec_b").alias("doc_b"),
            "cosine",
            jac.alias("lexical_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup (suffix-array family)
# ---------------------------------------------------------------------------
#
# BigCode / "Deduplicating Training Data Makes Language Models Better"
# (Lee et al., 2022) deduplicate by finding EXACT repeated character
# spans of length >= k across the corpus, via a suffix array over the
# concatenated text. A suffix array is inherently single-machine; the
# distributed equivalent used here exploits the classic identity:
#
#   two documents share an exact substring of length >= k
#   <=>  they share at least one character k-gram (stride 1).
#
# So: explode every char offset into its k-gram digest (map-side,
# O(total chars) rows, nothing wider than a 32-char md5 moves), count
# digest frequency (one shuffle, map-side combinable), and either
#   - pair up documents through the shared-digest equi-join
#     (dedup_exact_substring_pairs), or
#   - merge each doc's duplicated offsets into maximal spans with a
#     gaps-and-islands window (dedup_substring_spans) — the
#     "mark repeated byte ranges" step of the BigCode pipeline.
#
# Scale guards: a boilerplate k-gram appearing in thousands of docs
# would explode the pair join quadratically, so the pairs query caps
# digest document-frequency at _ES_MAXDF (mirrored in the oracle —
# semantics identical on both engines); the span query needs no cap
# because it never forms pairs — per-doc work is linear in |text|.

_ESK = 40       # char-gram length == minimum duplicated-span length
_ES_MAXDF = 1000  # pairs-query boilerplate guard (df cap per digest)


def _char_grams(d: DataFrame, k: int = _ESK) -> DataFrame:
    """(doc_id, i, dg): 60-bit integer digest (md5 hex prefix via
    ``conv`` — the cross-engine ``shingle_int_hash`` scheme) of the
    k-char gram at every char offset i (1-based).

    Two scale choices: the COMPACT document rows repartition by
    doc_id BEFORE the explode (a single-file fixture would otherwise
    compute every gram in one task — same rationale as
    ``exploded_word_shingles``), and the digest is an 8-byte long,
    not a 32-char md5 string, so the downstream distinct/count/join
    shuffles move and compare fixed-width ints (~4× less shuffle
    bytes, cheaper sorts). Collisions at 60 bits are ~1e-4 for
    millions of grams AND the oracle mirrors the exact same digest,
    so results agree bitwise either way."""
    return (
        d.where(F.length("text") >= k)
        .repartition(F.col("doc_id"))
        .select(
            "doc_id",
            "text",
            F.explode(F.expr(f"sequence(1, length(text) - {k} + 1)")).alias("i"),
        )
        .select(
            "doc_id",
            "i",
            F.expr(hex60_spark(f"CAST(substring(text, i, {k}) AS BINARY)")).alias(
                "dg"
            ),
        )
    )


def _doc_distinct_grams(d: DataFrame, k: int = _ESK) -> DataFrame:
    """(doc_id, dg): per-document DISTINCT gram digests (same 60-bit
    digest as :func:`_char_grams`), deduplicated inside each row by an
    ``array_distinct`` higher-order expression instead of a global
    ``distinct()``.

    Scale rationale (found by measurement at 500k docs, r6): distinct
    over the exploded gram stream plans a partial hash aggregate
    whose keys — (doc_id, dg) — are ~all unique, so the map-side
    hash map buffers the entire ~100M-row stream for zero reduction
    and dies with AGGREGATE_OUT_OF_MEMORY under 32-way task
    concurrency. But gram uniqueness is PER-DOCUMENT by definition
    (doc_id is in the key), so the dedup needs no aggregate at all:
    array_distinct inside the row costs memory bounded by one
    document's gram count, the explode emits already-unique pairs,
    and both the partial aggregate and the distinct's shuffle
    disappear. 9× wall-time win at 500k docs, identical output."""
    digest = hex60_spark(f"CAST(substring(text, i, {k}) AS BINARY)")
    return (
        d.where(F.length("text") >= k)
        .repartition(F.col("doc_id"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"array_distinct(transform("
                    f"sequence(1, length(text) - {k} + 1), i -> {digest}))"
                )
            ).alias("dg"),
        )
    )


def _char_gram_ctes(distinct: bool = True, k: int = _ESK) -> str:
    """DuckDB twin of the char-gram front-end: CTE ``pos`` (doc_id,
    text, i) over every k-char gram offset and CTE ``g`` with the same
    60-bit digest ``dg`` as :func:`_char_grams` — (doc_id, dg) distinct
    per document like :func:`_doc_distinct_grams` when ``distinct``,
    else positioned (doc_id, i, dg) rows like :func:`_char_grams`."""
    cols = "DISTINCT doc_id" if distinct else "doc_id, CAST(i AS INT) AS i"
    return f"""pos AS (
  SELECT doc_id, text,
         unnest(generate_series(1, length(text) - {k} + 1)) AS i
  FROM documents WHERE length(text) >= {k}
),
g AS (
  SELECT {cols}, {hex60_duck(f"substr(text, CAST(i AS INT), {k})")} AS dg
  FROM pos
)"""


def _es_pairs_oracle(maxdf: int = _ES_MAXDF, k: int = _ESK) -> str:
    """DuckDB mirror of :func:`exact_substring_pairs`, parameterized on
    the boilerplate df cap so the pytest boundary cases (df == cap vs
    df == cap + 1, planted fixtures) can run the SAME oracle the
    oracle gate uses."""
    return f"""
WITH {_char_gram_ctes(k=k)},
eligible AS (
  SELECT dg FROM g GROUP BY dg HAVING count(*) BETWEEN 2 AND {maxdf}
),
gg AS (SELECT g.doc_id, g.dg FROM g JOIN eligible USING (dg))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
FROM gg a JOIN gg b ON a.dg = b.dg AND a.doc_id < b.doc_id
GROUP BY doc_a, doc_b
"""


@register(
    "dedup_exact_substring_pairs",
    oracle=_es_pairs_oracle(),
    tags=("dedup", "substring", "suffix-array"),
)
def dedup_exact_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing an exact substring of length >= 40
    chars, with the count of distinct shared 40-grams as evidence.

    Plan: gram digests (map-side) -> distinct per doc -> digest
    document-frequency (one map-side-combinable shuffle) -> keep
    2 <= df <= 1000 (the upper cap is the boilerplate guard that keeps
    the pair join linear in true near-dup mass at 100 TB; the oracle
    applies the identical cap) -> equi-self-join on digest -> pair
    count. Candidate-bounded: pairs materialize only for digests that
    actually repeat."""
    return exact_substring_pairs(_docs(spark, sf_dir))


def exact_substring_pairs(
    d: DataFrame, k: int = _ESK, maxdf: int = _ES_MAXDF
) -> DataFrame:
    """Core of ``dedup_exact_substring_pairs`` on an explicit
    (doc_id, text) DataFrame — unit tests plant known spans here.

    The distinct (doc_id, digest) table is cached once: it feeds the
    df-count AND both sides of the pair join, which would otherwise
    re-run the gram explode + re-scan documents three more times.
    The cache is ``persist(MEMORY_AND_DISK)``, NOT localCheckpoint —
    the gram table is ~corpus-sized, and localCheckpoint pins it as
    deserialized on-heap row objects that cannot spill (measured at
    500k docs: GC-locker thrash kills the materialization job itself).
    The columnar cache is compressed and disk-evictable, so the same
    plan survives corpus growth. Per-doc dedup happens inside each
    row (:func:`_doc_distinct_grams`) — no global distinct
    aggregate."""

    g = cache_corpus(_doc_distinct_grams(d, k))
    # df-count with NO partial aggregate: digests are near-unique
    # within any map partition (reduction factor ~1), so the partial
    # hash map buffers the whole gram stream for nothing — measured
    # AGGREGATE_OUT_OF_MEMORY at 500k docs under 32-way concurrency.
    # Pre-partitioning on dg satisfies the aggregation's required
    # distribution, so Catalyst plans a single complete-mode
    # HashAggregate whose per-task map holds only that partition's
    # keys (and spills via the sort fallback under pressure).
    eligible = (
        g.repartition(F.col("dg"))
        .groupBy("dg")
        .agg(F.count(F.lit(1)).alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= maxdf))
        .select("dg")
    )
    # eligible is data-dependent: no broadcast hint, AQE decides.
    gg = g.join(eligible, "dg")
    a = gg.select(F.col("doc_id").alias("doc_a"), "dg")
    b = gg.select(F.col("doc_id").alias("doc_b"), "dg")
    return (
        a.join(b, "dg")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


#: DuckDB twin of :func:`_merged_dup_spans` over positioned grams: CTEs
#: pos → g → dup_dg → dup → marked → spanned → spans, the last
#: (doc_id, span_id, s, e) — the prefix of the span-stats and
#: span-strip oracles.
_DUP_SPANS_CTES = f"""{_char_gram_ctes(distinct=False)},
dup_dg AS (SELECT dg FROM g GROUP BY dg HAVING count(*) >= 2),
dup AS (SELECT g.doc_id, g.i FROM g JOIN dup_dg USING (dg)),
marked AS (
  SELECT doc_id, i,
         CASE WHEN lag(i) OVER w IS NULL
                   OR i - lag(i) OVER w > {_ESK} THEN 1 ELSE 0 END AS brk
  FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
spanned AS (
  SELECT doc_id, i,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS UNBOUNDED PRECEDING) AS span_id
  FROM marked
),
spans AS (
  SELECT doc_id, span_id, MIN(i) AS s, MAX(i) AS e
  FROM spanned GROUP BY doc_id, span_id
)"""


@register(
    "dedup_substring_spans",
    oracle=f"""
WITH {_DUP_SPANS_CTES},
per_doc AS (
  SELECT doc_id, count(*) AS n_dup_spans,
         CAST(SUM(e - s + {_ESK}) AS BIGINT) AS dup_chars
  FROM spans GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(COALESCE(p.dup_chars, 0) AS BIGINT) AS dup_chars,
       CAST(length(d.text) AS BIGINT) AS n_chars
FROM documents d LEFT JOIN per_doc p USING (doc_id)
""",
    # retired from the bench headline set in r11 (r10 verdict #7:
    # the spans/strip twins share the gram front-end and drifted in
    # lockstep every round — the APPLY half (strip) keeps the bench
    # slot). Stays registered + full-sweep-gated.
    tags=("dedup", "substring", "suffix-array", "spans"),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span accounting — the BigCode
    "mark repeated byte ranges" step: every char offset whose 40-gram
    repeats ANYWHERE in the corpus (including within the same doc) is
    duplicated; overlapping/adjacent duplicated windows merge into
    maximal spans (gaps-and-islands: equal-length windows means a new
    span starts exactly when the offset gap exceeds k).

    Output per doc: number of maximal duplicated spans, characters
    covered by them, and total chars — the inputs to a span-strip or
    doc-drop policy. Shuffles: digest count (map-side combinable),
    digest join-back, one doc_id window — all linear in corpus size;
    no pair set is ever formed, so no df cap is needed."""
    return substring_span_stats(_docs(spark, sf_dir))


def substring_span_stats(d: DataFrame, k: int = _ESK) -> DataFrame:
    """Core of ``dedup_substring_spans`` on an explicit
    (doc_id, text) DataFrame — unit tests plant known spans here.

    Positioned grams are cached once as a disk-evictable columnar
    persist (see ``exact_substring_pairs`` for why localCheckpoint's
    pinned deserialized rows are the wrong cache at corpus scale);
    the only remaining documents re-scan is the final per-doc length
    join, which reads just (doc_id, length)."""

    g = cache_corpus(_char_grams(d, k))
    spans = _merged_dup_spans(g, k)
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + k).cast("long").alias("dup_chars"),
    )
    return (
        d.select("doc_id", F.length("text").cast("long").alias("len_chars"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce("dup_chars", F.lit(0)).cast("long").alias("dup_chars"),
            F.col("len_chars").alias("n_chars"),
        )
    )


def _merged_dup_spans(g: DataFrame, k: int) -> DataFrame:
    """(doc_id, span_id, s, e): maximal merged duplicated spans from a
    positioned-gram table — s/e are the first/last duplicated gram
    START offsets, so the covered char interval is [s, e + k - 1].
    Shared by the span-stats and span-strip operators.

    The digest df-count pre-partitions on dg so Catalyst plans a
    single complete-mode aggregate — the map-side partial agg over
    near-unique digest keys buys no reduction and is the measured
    500k-doc OOM (see exact_substring_pairs)."""
    from pyspark.sql import Window

    dup_dg = (
        g.select("dg")
        .repartition(F.col("dg"))
        .groupBy("dg")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
        .select("dg")
    )
    dup = g.join(dup_dg, "dg").select("doc_id", "i")
    w = Window.partitionBy("doc_id").orderBy("i")
    brk = F.when(
        F.lag("i").over(w).isNull() | (F.col("i") - F.lag("i").over(w) > k),
        F.lit(1),
    ).otherwise(F.lit(0))
    spanned = dup.withColumn("brk", brk).withColumn(
        "span_id",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return spanned.groupBy("doc_id", "span_id").agg(
        F.min("i").alias("s"), F.max("i").alias("e")
    )


@register(
    "decontaminate_eval_overlap",
    oracle=f"""
WITH {_char_gram_ctes()},
bench AS (SELECT doc_id, dg FROM g WHERE doc_id % 10 = 0),
train AS (SELECT doc_id, dg FROM g WHERE doc_id % 10 <> 0)
SELECT t.doc_id,
       count(DISTINCT b.doc_id) AS n_bench_docs,
       count(*) AS n_shared_grams
FROM train t JOIN bench b ON t.dg = b.dg
GROUP BY t.doc_id
""",
    tags=("dedup", "substring", "decontamination"),
)
def decontaminate_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination — the training-pipeline step that
    removes benchmark leakage (GPT-3 §B / PaLM-style n-gram overlap,
    here with the exact-substring criterion: a training doc is
    contaminated if it shares a ≥40-char exact span with any
    held-out doc). The held-out set is the deterministic
    ``doc_id % 10 == 0`` tenth of the corpus — in production it's the
    actual benchmark suite, which is TINY relative to 100 TB of
    training data, and that asymmetry is the plan's shape: benchmark
    grams are a small table joined against the corpus gram stream
    (AQE broadcasts it when it fits), so the corpus is never
    self-joined.

    Output per contaminated training doc: how many benchmark docs it
    overlaps and on how many distinct shared grams (i.e. (t.dg, b)
    match rows — each shared digest counts once per benchmark doc
    carrying it)."""

    d = _docs(spark, sf_dir)
    # one cached materialization feeds both the benchmark and training
    # sides (same disk-evictable columnar cache rationale as
    # exact_substring_pairs); per-doc gram dedup is the aggregate-free
    # array_distinct path (_doc_distinct_grams)
    g = cache_corpus(_doc_distinct_grams(d))
    bench = g.where(F.col("doc_id") % 10 == 0)
    train = g.where(F.col("doc_id") % 10 != 0)
    hits = train.alias("t").join(
        bench.alias("b"), F.col("t.dg") == F.col("b.dg")
    )
    return hits.groupBy(F.col("t.doc_id").alias("doc_id")).agg(
        F.count_distinct(F.col("b.doc_id")).alias("n_bench_docs"),
        F.count(F.lit(1)).alias("n_shared_grams"),
    )


@register(
    "dedup_substring_strip",
    oracle=f"""
WITH {_DUP_SPANS_CTES},
-- brute-force per-character complement: a position survives iff no
-- merged span covers it ([s, e + k - 1]); fine at oracle scale
cov AS (
  SELECT doc_id, unnest(generate_series(s, e + {_ESK} - 1)) AS p FROM spans
),
chars AS (
  SELECT doc_id, text, unnest(generate_series(1, length(text))) AS p
  FROM documents
),
clean AS (
  SELECT c.doc_id,
         string_agg(substr(c.text, CAST(c.p AS INT), 1), '' ORDER BY c.p) AS clean_text
  FROM chars c
  LEFT JOIN cov ON cov.doc_id = c.doc_id AND cov.p = c.p
  WHERE cov.p IS NULL
  GROUP BY c.doc_id
)
SELECT d.doc_id,
       COALESCE(cl.clean_text, '') AS clean_text,
       CAST(length(COALESCE(cl.clean_text, '')) AS BIGINT) AS clean_chars,
       CAST(length(d.text) AS BIGINT) AS n_chars
FROM documents d LEFT JOIN clean cl USING (doc_id)
""",
    bench=True,
    tags=("dedup", "substring", "suffix-array", "strip"),
)
def dedup_substring_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the exact-substring policy: emit the cleaned corpus with
    every duplicated span (length ≥ 40, merged maximal) REMOVED —
    the final step of the BigCode pipeline, where the span report
    becomes training data.

    Spark side reconstructs each cleaned doc in one ordered fold over
    its sorted span array (merged spans are disjoint with gaps > 0 by
    construction, so each step appends the text between the previous
    span's end and the next span's start) — O(|text|) per doc, no
    per-character explosion. The oracle takes the dumb-but-obvious
    road instead: per-character anti-join against covered positions
    (150k rows at oracle scale) — two INDEPENDENT constructions of the
    same string, which is the point of the check."""

    d = _docs(spark, sf_dir)
    g = cache_corpus(_char_grams(d))
    spans = _merged_dup_spans(g, _ESK)
    spans_arr = spans.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("sp")
    )
    fold = (
        "aggregate(sp, named_struct('pos', 1, 'acc', CAST('' AS STRING)), "
        f"(st, x) -> named_struct('pos', x.e + {_ESK}, "
        "'acc', concat(st.acc, substring(text, st.pos, x.s - st.pos))), "
        "st -> concat(st.acc, substring(text, st.pos, 2147483647)))"
    )
    return (
        d.select("doc_id", "text")
        .join(spans_arr, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("sp").isNull(), F.col("text"))
            .otherwise(F.expr(fold))
            .alias("clean_text"),
            "text",
        )
        .select(
            "doc_id",
            "clean_text",
            F.length("clean_text").cast("long").alias("clean_chars"),
            F.length("text").cast("long").alias("n_chars"),
        )
    )


#: Paragraph grain for the Dolma/CCNet-style paragraph near-dedup:
#: the fixture's text has no newline structure (see
#: text.py::text_boilerplate_strip), so a "paragraph" is a
#: non-overlapping PARA_SEG-token full segment (the trailing partial
#: segment is counted in token totals but is not a paragraph).
PARA_SEG = 16


#: Shared DuckDB CTE prefix for the paragraph family: tokenize,
#: segment, shingle, MinHash and band every paragraph — the batch
#: near-dup/strip pair and the ingest oracle differ only after it.
_PARA_BANDS_CTES = f"""
WITH toks AS (
  SELECT doc_id, {TOK_DUCK} AS t FROM documents
),
base AS (
  SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tok,
         {segments_duck('t', PARA_SEG)} AS segs
  FROM toks
),
paras AS (
  -- equal-length unnests zip positionally: (index, segment) rows
  SELECT doc_id,
         CAST(unnest(range(0, CAST(len(segs) AS BIGINT))) AS BIGINT) AS pidx,
         unnest(segs) AS ptext
  FROM base
),
sh AS (
  SELECT doc_id, pidx, {shingles_duck('ptext', 3)} AS shingles FROM paras
),
sigs AS (
  SELECT doc_id, pidx, shingles,
         {minhash_int_duck('shingles', MINHASH_N_PERM)} AS mh FROM sh
),
bands AS (
  SELECT doc_id, pidx,
         unnest(list_transform(generate_series(0, {MINHASH_N_BANDS - 1}),
                b -> b || ':' || array_to_string(
                  mh[b * {MINHASH_ROWS_PER_BAND} + 1:
                     b * {MINHASH_ROWS_PER_BAND} + {MINHASH_ROWS_PER_BAND}],
                  ','))) AS band_key
  FROM sigs
)"""


def _para_ctes() -> str:
    """:data:`_PARA_BANDS_CTES` plus the batch family's verified pairs
    and the removed (doc_id, pidx) set — the report and the strip
    oracle differ only in their final SELECT."""
    return (
        _PARA_BANDS_CTES
        + """,
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.pidx AS pidx_a,
                  b.doc_id AS doc_b, b.pidx AS pidx_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key
   AND (a.doc_id < b.doc_id OR (a.doc_id = b.doc_id AND a.pidx < b.pidx))
),
pairs AS (
  SELECT c.doc_a, c.pidx_a, c.doc_b, c.pidx_b
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_a AND x.pidx = c.pidx_a
  JOIN sh y ON y.doc_id = c.doc_b AND y.pidx = c.pidx_b
  WHERE len(list_intersect(x.shingles, y.shingles)) * 1.0
          / len(list_distinct(list_concat(x.shingles, y.shingles))) >= 0.8
),
removed AS (SELECT DISTINCT doc_b AS doc_id, pidx_b AS pidx FROM pairs)"""
    )


#: The neardup report's tail over ``base`` and ``removed``: per-doc
#: paragraph and removed counts, surviving tokens and the md5 digest
#: of the sorted removed indices.
_PARA_REPORT_SQL = f""",
rem AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_paras,
         md5(array_to_string(list_transform(list_sort(list(pidx)),
             x -> CAST(x AS VARCHAR)), ',')) AS removed_digest
  FROM removed GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(len(b.segs) AS BIGINT) AS n_paras,
       CAST(COALESCE(r.n_dup_paras, 0) AS BIGINT) AS n_dup_paras,
       CAST(b.n_tok - COALESCE(r.n_dup_paras, 0) * {PARA_SEG} AS BIGINT)
         AS kept_tokens,
       COALESCE(r.removed_digest, md5('')) AS removed_digest
FROM base b LEFT JOIN rem r USING (doc_id)
"""


def _para_neardup_oracle() -> str:
    return _para_ctes() + _PARA_REPORT_SQL


@register(
    "dedup_paragraph_neardup",
    oracle=_para_neardup_oracle(),
    tags=("dedup", "minhash", "paragraph", "llm"),
)
def dedup_paragraph_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAGRAPH-GRAIN NEAR-DEDUP (r10 verdict #4) — the Dolma/CCNet
    pipeline's second dedup grain: where ``text_boilerplate_strip``
    removes EXACT cross-doc segments, this pass near-dedups at
    paragraph grain — MinHash (16 perms) + LSH (4 bands × 4 rows) over
    word 3-shingles of each ``PARA_SEG``-token paragraph, candidates
    verified with exact shingle-Jaccard ≥ 0.8, then a deterministic
    keep-first policy: a paragraph is removed iff some verified
    near-dup partner precedes it in (doc_id, pidx) order (the
    transitive-closure-free greedy rule — first occurrence always
    survives; no component computation needed, so the policy is
    expressible identically in both engines). Emits per-doc
    accounting: paragraph count, removed count, surviving token count,
    and an md5 digest of the removed indices (the digest makes the
    APPLY half hash-gated, not just the counts).

    Scale shape — same discipline as ``dedup_minhash_lsh``, one grain
    down: documents repartition ONCE by doc_id and the paragraph
    explode, shingle explode, and (doc_id, pidx) signature aggregate
    all reuse that partitioning (hash(doc_id) satisfies any grouping
    keyed on (doc_id, pidx) — no further exchange, complete-mode
    agg); candidates come from band buckets (paragraphs never
    self-join outside buckets); exact verification re-derives
    shingles ONLY for candidate paragraphs (semi-join before the
    shingle rebuild). Nothing is ever all-pairs in the paragraph
    count."""
    base = _paragraph_base(spark, sf_dir, with_tokens=False)
    return _para_report(base, _paragraph_removed(base))


def _para_report(segs: DataFrame, removed: DataFrame) -> DataFrame:
    """Per-doc paragraph report over (doc_id, n_tok, segs) rows and
    the (doc_id, pidx) rows to remove: paragraph count, removed count,
    surviving token count and the md5 digest of the sorted removed
    indices (md5 of '' when none)."""
    seg = PARA_SEG
    rem = removed.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_paras"),
        F.expr(
            "md5(concat_ws(',', transform(array_sort(collect_list(pidx)), "
            "x -> CAST(x AS STRING))))"
        ).alias("removed_digest"),
    )
    return segs.join(rem, "doc_id", "left").select(
        "doc_id",
        F.size("segs").cast("long").alias("n_paras"),
        F.coalesce("n_dup_paras", F.lit(0)).cast("long").alias("n_dup_paras"),
        (F.col("n_tok") - F.coalesce("n_dup_paras", F.lit(0)) * seg)
        .cast("long")
        .alias("kept_tokens"),
        F.coalesce("removed_digest", F.md5(F.lit(""))).alias("removed_digest"),
    )


def _doc_segs(d: DataFrame, with_tokens: bool = False) -> DataFrame:
    """(doc_id, n_tok, segs[, t]) — tokenized + PARA_SEG-segmented
    documents, UNPERSISTED: callers cache per their own reuse shape
    (the r7 rule — the batch family persists it, the ingest base
    consumes it exactly once)."""
    cols = [
        "doc_id",
        F.size("t").cast("long").alias("n_tok"),
        F.expr(segments_spark("t", PARA_SEG)).alias("segs"),
    ]
    if with_tokens:
        cols.append("t")
    return d.select("doc_id", F.expr(TOK_SPARK).alias("t")).select(*cols)


def _paragraph_base(
    spark: SparkSession, sf_dir: str, with_tokens: bool
) -> DataFrame:
    """Tokenized + segmented documents, persisted: (doc_id, n_tok,
    segs[, t]). Shared front-end of the paragraph report and the
    strip apply — each registered op builds its OWN base because the
    strip needs the raw token array ``t`` (to re-emit the partial
    tail) while the report must not cache a corpus-sized token column
    it never reads (r7 cache rule: cache the projection the consumers
    actually share)."""
    # base feeds the paragraph stream AND the final per-doc output —
    # persist so tokenization/segmentation runs once (r7 cache rule:
    # same projection, no distinguishing pushdown between consumers)
    return cache_corpus(_doc_segs(_docs(spark, sf_dir), with_tokens))


def _paragraph_removed(base: DataFrame) -> DataFrame:
    """(doc_id, pidx) rows to REMOVE under the keep-first policy: the
    MinHash+LSH candidate pipeline over per-paragraph shingles,
    exact-Jaccard ≥ 0.8 verification on candidates only, then "has a
    verified partner strictly earlier in (doc_id, pidx) order".
    Shared by the report (``dedup_paragraph_neardup``) and the apply
    (``dedup_paragraph_strip``)."""
    # The doc_id repartition goes BELOW the base cache, not above it:
    # under AQE a cached repartition reports UnknownPartitioning to
    # its consumers, so an upstream exchange would not be reused by
    # the (doc_id, pidx) signature aggregate anyway — placed here, the
    # explodes and the aggregate all ride one post-cache exchange
    paras = _paragraphs(base.repartition(F.col("doc_id")))
    exh = _para_shingles(paras).select(
        "doc_id", "pidx", F.expr(shingle_int_hash_spark("s")).alias("h")
    )
    keys = ["doc_id", "pidx"]
    cand = minhash_lsh_candidates(exh, keys, cache_corpus)
    # three references below (both branches of the verify's candidate
    # key union plus its final pairs join) — persist so the band
    # self-join + distinct subtree runs once, the same rule that
    # materializes the signatures (r11 ADVICE; candidate-pair-sized,
    # never corpus²)
    pairs = _shingle_join_verify(cache_corpus(cand), paras, keys, _para_shingles)
    return pairs.select(
        F.col("doc_b").alias("doc_id"), F.col("pidx_b").alias("pidx")
    ).distinct()


def _paragraphs(segs_frame: DataFrame) -> DataFrame:
    """(doc_id, pidx, ptext) rows of a (doc_id, segs) frame."""
    return segs_frame.select(
        "doc_id", F.posexplode("segs").alias("pidx", "ptext")
    ).select("doc_id", F.col("pidx").cast("long").alias("pidx"), "ptext")


def _para_shingles(paras: DataFrame) -> DataFrame:
    """(doc_id, pidx, s) exploded word 3-shingles of (doc_id, pidx,
    ptext) paragraph rows."""
    return paras.select(
        "doc_id",
        "pidx",
        F.explode(F.expr(shingles_spark("ptext", 3))).alias("s"),
    )


def _para_strip_oracle() -> str:
    seg = PARA_SEG
    return (
        _para_ctes()
        + f""",
bad AS (SELECT doc_id, list(pidx) AS bad FROM removed GROUP BY doc_id),
stripped AS (
  SELECT b.doc_id, b.n_tok, b.segs,
         CASE WHEN bd.bad IS NULL THEN b.segs
              ELSE list_transform(
                list_filter(range(0, CAST(len(b.segs) AS BIGINT)),
                            i -> NOT list_contains(bd.bad, i)),
                i -> b.segs[CAST(i + 1 AS INT)])
         END AS kept,
         COALESCE(array_to_string(
           b.t[CAST(len(b.segs) * {seg} + 1 AS INT):CAST(len(b.t) AS INT)],
           ' '), '') AS tail
  FROM base b LEFT JOIN bad bd USING (doc_id)
)
SELECT doc_id,
       COALESCE(array_to_string(
         CASE WHEN tail = '' THEN kept
              ELSE list_concat(kept, [tail]) END, ' '), '') AS clean_text,
       CAST(len(kept) * {seg} + n_tok % {seg} AS BIGINT) AS clean_tokens,
       n_tok
FROM stripped
"""
    )


@register(
    "dedup_paragraph_strip",
    oracle=_para_strip_oracle(),
    tags=("dedup", "minhash", "paragraph", "strip", "llm"),
)
def dedup_paragraph_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the paragraph keep-first policy — emit the CLEANED corpus
    (the step where ``dedup_paragraph_neardup``'s report becomes
    training data, exactly as ``dedup_substring_strip`` is the apply
    half of the span report): every removed paragraph is dropped, the
    survivors and the partial trailing segment are re-joined in
    original order, and the surviving token count rides along. The
    cleaned TEXT itself is hash-gated, not just the accounting.

    Same scale shape as the report (shared ``_paragraph_removed``
    pipeline — bucketed candidates, verify-on-candidates); the apply
    is a row-local index filter against that doc's (tiny) removed-set
    array — never a token-level join. The base here caches the raw
    token array too (the strip must re-emit the tail), which is why
    the two operators build separate bases (r7 rule: cache the
    projection the consumers actually share, no wider)."""
    seg = PARA_SEG
    base = _paragraph_base(spark, sf_dir, with_tokens=True)
    removed = _paragraph_removed(base)
    bad = removed.groupBy("doc_id").agg(F.collect_set("pidx").alias("bad"))
    stripped = base.join(bad, "doc_id", "left").select(
        "doc_id",
        "n_tok",
        F.expr(
            "CASE WHEN bad IS NULL THEN segs "
            "ELSE transform(filter(sequence(0, size(segs) - 1), "
            "i -> NOT array_contains(bad, CAST(i AS BIGINT))), "
            "i -> segs[CAST(i AS INT)]) END"
        ).alias("kept"),
        F.expr(
            f"array_join(slice(t, size(segs) * {seg} + 1, 2147483647), ' ')"
        ).alias("tail"),
    )
    return stripped.select(
        "doc_id",
        F.expr(
            "array_join(CASE WHEN tail = '' THEN kept "
            "ELSE concat(kept, array(tail)) END, ' ')"
        ).alias("clean_text"),
        (F.size("kept") * seg + F.col("n_tok") % seg)
        .cast("long")
        .alias("clean_tokens"),
        "n_tok",
    )


# --- paragraph-grain INGEST dedup (r11 verdict #3) -------------------------


def _para_sigs(segs_frame: DataFrame) -> DataFrame:
    """(doc_id, pidx, sh, n_sh, mh) per paragraph from a (doc_id, segs)
    frame — shingle arrays and integer MinHash signatures computed
    MAP-SIDE with HOFs (``minhash_int_spark``): zero shuffle, unlike
    the exploded min-agg the batch family uses (which pays a doc_id
    exchange it then reuses — the ingest delta is consumed in place,
    so there is nothing to reuse)."""
    return _paragraphs(segs_frame).select(
        "doc_id",
        "pidx",
        F.expr(shingles_spark("ptext", 3)).alias("sh"),
    ).select(
        "doc_id",
        "pidx",
        "sh",
        F.size("sh").cast("long").alias("n_sh"),
        F.expr(minhash_int_spark("sh", MINHASH_N_PERM)).alias("mh"),
    )


def _para_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, pidx, band_key) — the LSH band explode, band strings
    identical to the batch family's and the DuckDB CTEs'."""
    return sigs.select("doc_id", "pidx", _band_keys(lambda i: F.col("mh")[i]))


class ParagraphIngestBase(_Frames):
    """Precomputed base-side artifacts for paragraph-grain ingest
    dedup — the Dolma-style pipeline's live half (r11 verdict #3): at
    a 100 TB base these are outputs of previous runs, derived once, so
    every delta batch pays only delta-proportional work plus probe
    joins against cached layouts (the :class:`IngestBase` discipline
    one grain down).

    Partitioning contract: ``bands`` is persisted repartitioned +
    locally sorted on ``band_key`` (the candidate join's key) and
    ``sigs`` on ``(doc_id, pidx)`` (the verify join's key), so
    per-batch probes plan no Exchange/Sort on the base side."""

    def __init__(self, sigs: DataFrame, bands: DataFrame) -> None:
        super().__init__(sigs, bands)
        self.sigs = sigs
        self.bands = bands


def prepare_paragraph_base(base_docs: DataFrame) -> ParagraphIngestBase:
    """Derive the base corpus's paragraph artifacts once: per-paragraph
    shingle arrays + sizes (verify side) and LSH band keys (candidate
    side), persisted MEMORY_AND_DISK under their probe keys. One
    tokenize/shingle/sign pass over the base; bands derive from the
    cached signature table, not a second pass."""
    sigs = cache_corpus(
        _para_sigs(_doc_segs(base_docs))
        .repartition(F.col("doc_id"), F.col("pidx"))
        .sortWithinPartitions("doc_id", "pidx")
    )
    bands = cache_corpus(
        _para_bands(sigs).repartition(F.col("band_key")).sortWithinPartitions("band_key")
    )
    return ParagraphIngestBase(sigs, bands)


def paragraph_ingest_report(
    delta: DataFrame,
    base: ParagraphIngestBase,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """Per-batch half of paragraph-grain ingest dedup: each DELTA
    document's paragraphs are near-dedup'd against the authoritative
    BASE's paragraph signatures — MinHash+LSH candidates (delta bands
    probe the cached base band table), then exact shingle-Jaccard
    ≥ 0.8 verified PER PAIR with ``array_intersect`` over the two
    cached shingle arrays (row-local — never a token-level equi-join;
    paragraph shingle sets are ≤ PARA_SEG−2 elements, so the per-pair
    intersect is constant work, the ``dedup_clusters`` verify shape).
    Output: the same per-doc report as ``dedup_paragraph_neardup``
    (n_paras, n_dup_paras, kept_tokens, removed-index digest), for
    delta docs only.

    Batching independence (the property the streaming twin's oracle
    relies on, pytest-pinned): a delta paragraph is removed iff some
    BASE paragraph matches it — a pairwise predicate against a fixed
    base, no delta-vs-delta pairs and no keep-first ordering — so the
    union of per-batch reports equals the one-shot report under any
    chop of the stream.

    State/cost per batch: delta-proportional (the delta tokenizes
    once; signatures are HOF map-side) plus two probe joins whose
    base side is pre-partitioned/sorted under the join key. Frames
    persisted per batch (the segmented delta feeds signatures + the
    final report join; delta signatures feed bands + verify) are
    appended to ``caches`` for the foreachBatch driver to unpersist
    per epoch."""
    dseg = cache_corpus(_doc_segs(delta))
    dsig = cache_corpus(_para_sigs(dseg))
    if caches is not None:
        caches.extend([dseg, dsig])
    def unit(side: str) -> list:
        return [F.col(k).alias(_side(k, side)) for k in ("doc_id", "pidx")]

    cand = (
        _para_bands(dsig)
        .select(*unit("d"), "band_key")
        .join(base.bands.select(*unit("b"), "band_key"), "band_key")
        .select("doc_d", "pidx_d", "doc_b", "pidx_b")
        .distinct()
    )
    x = dsig.select(*unit("d"), F.col("sh").alias("sh_d"), F.col("n_sh").alias("n_d"))
    y = base.sigs.select(
        *unit("b"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("n_b")
    )
    common = F.size(F.array_intersect("sh_d", "sh_b")).cast("long")
    pairs = (
        cand.join(x, ["doc_d", "pidx_d"])
        .join(y, ["doc_b", "pidx_b"])
        .select(
            "doc_d",
            "pidx_d",
            _jaccard(common, F.col("n_d"), F.col("n_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.8)
    )
    removed = pairs.select(
        F.col("doc_d").alias("doc_id"), F.col("pidx_d").alias("pidx")
    ).distinct()
    return _para_report(dseg, removed)


def _para_ingest_oracle() -> str:
    """DuckDB mirror of the paragraph ingest pipeline: the family's
    segmentation/shingles/MinHash/bands (:data:`_PARA_BANDS_CTES`),
    candidates restricted to delta(doc_id % 8 = 0) × base(% 8 <> 0),
    per-pair ``list_intersect`` verify, and the neardup report over
    delta docs only."""
    return (
        _PARA_BANDS_CTES
        + """,
cand AS (
  SELECT DISTINCT a.doc_id AS doc_d, a.pidx AS pidx_d,
                  b.doc_id AS doc_b, b.pidx AS pidx_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key
  WHERE a.doc_id % 8 = 0 AND b.doc_id % 8 <> 0
),
pairs AS (
  SELECT c.doc_d, c.pidx_d
  FROM cand c
  JOIN sh x ON x.doc_id = c.doc_d AND x.pidx = c.pidx_d
  JOIN sh y ON y.doc_id = c.doc_b AND y.pidx = c.pidx_b
  WHERE len(list_intersect(x.shingles, y.shingles)) * 1.0
          / (len(x.shingles) + len(y.shingles)
             - len(list_intersect(x.shingles, y.shingles))) >= 0.8
),
removed AS (SELECT DISTINCT doc_d AS doc_id, pidx_d AS pidx FROM pairs)"""
        + _PARA_REPORT_SQL
        + "WHERE b.doc_id % 8 = 0\n"
    )


@register(
    "dedup_paragraph_ingest",
    oracle=_para_ingest_oracle(),
    tags=("dedup", "paragraph", "ingest", "minhash", "llm"),
)
def dedup_paragraph_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH twin of the streaming paragraph ingest (r11 verdict #3):
    the DELTA cohort's (doc_id % 8 = 0 — divisor of the expansion
    stride) paragraphs near-dedup'd against the authoritative BASE's
    paragraph signatures. See :func:`paragraph_ingest_report` for the
    semantics/scale shape and :func:`prepare_paragraph_base` for the
    base artifacts the streaming twin reuses per micro-batch."""
    d = _docs(spark, sf_dir)
    arts = prepare_paragraph_base(d.filter(F.col("doc_id") % 8 != 0))
    return paragraph_ingest_report(d.filter(F.col("doc_id") % 8 == 0), arts)
