"""Portable text primitives: tokens, shingles, bigrams, token segments,
chunk and pack spans, 60-bit md5 hashes, MinHash, SimHash.

Every primitive is defined TWICE — a Spark SQL expression and a DuckDB
SQL expression — built from the same template so the oracle-checked
queries in ``operators/dedup.py`` / ``operators/text.py`` /
``operators/pipeline.py`` compute bit-identical values in both
engines. Each DuckDB twin is written as DuckDB SQL, never derived from
the Spark string, so an oracle stays independent of the Spark code.
All of it is engine-built-in (higher-order array functions + md5); no
Python UDFs anywhere, so the hot path stays in whole-stage codegen.

The twins:
- ``TOK_SPARK`` / ``TOK_DUCK``: whitespace tokens of ``text``;
- ``bigrams_*`` / ``bigram_strings_*``: adjacent-token pairs, as
  struct(w1, w2) or ``w1|w2``;
- ``segments_*``: non-overlapping full ``seg``-token segments;
- ``chunks_*``: overlapping chunk ids and their [start, end) spans;
- ``pack_spans_*``: window, offset and window count of a document in
  a packed token stream, from its running token total;
- ``hex60_*`` / ``EPOCH_HASH_*``: 60-bit md5 prefix as a BIGINT, and
  its per-(doc_id, epoch) shuffle key;
- shingles, integer and string MinHash, LSH bands, SimHash, bottom-k.

Portability rules learned the hard way:
- hashing: md5 is the only hash both engines share; a 60-bit integer
  is its first 15 hex digits (``conv`` on Spark, a ``'0x'`` string
  cast on DuckDB). String MinHash uses the *string* min of
  ``md5(i || ':' || shingle)`` per permutation i.
- SimHash: bit j of a token = (hex digit j of md5(token)) < '8'
  (top bit of the nibble) — giving a 32-bit fingerprint as a '0'/'1'
  string, again avoiding integer casts.
- integer division: Spark ``div`` and DuckDB ``//`` agree on the
  nonnegative operands the span twins see.
- folds (``aggregate`` / ``list_reduce``) are left-to-right in both
  engines → deterministic float accumulation.
"""

from __future__ import annotations

# --- tokenization ---------------------------------------------------------

def tokens_spark(col: str = "text") -> str:
    """Whitespace tokens, empties dropped (Spark SQL expression)."""
    return f"filter(split({col}, '\\\\s+'), x -> x != '')"


def tokens_duck(col: str = "text") -> str:
    return f"list_filter(regexp_split_to_array({col}, '\\s+'), x -> x <> '')"


#: Tokens of the ``documents.text`` column, the input of every text family.
TOK_SPARK = tokens_spark("text")
TOK_DUCK = tokens_duck("text")


# --- bigrams, segments, chunks, pack spans ---------------------------------

def bigrams_spark(toks: str) -> str:
    """Adjacent-token pairs struct(w1, w2) of array ``toks`` (callers
    keep ``size >= 2``)."""
    return (
        f"transform(sequence(1, size({toks}) - 1), "
        f"i -> struct(element_at({toks}, i) AS w1, element_at({toks}, i + 1) AS w2))"
    )


def bigrams_duck(toks: str) -> str:
    return (
        f"list_transform(generate_series(1, len({toks}) - 1), "
        f"i -> struct_pack(w1 := {toks}[i], w2 := {toks}[i + 1]))"
    )


def bigram_strings_spark(toks: str) -> str:
    """Adjacent-token pairs of array ``toks`` as ``w1|w2`` strings
    (callers keep ``size >= 2``)."""
    return (
        f"transform(sequence(1, size({toks}) - 1), "
        f"i -> concat(element_at({toks}, i), '|', element_at({toks}, i + 1)))"
    )


def bigram_strings_duck(toks: str) -> str:
    return (
        f"list_transform(generate_series(1, len({toks}) - 1), "
        f"i -> {toks}[i] || '|' || {toks}[i + 1])"
    )


def segments_spark(toks: str, seg: int) -> str:
    """Space-joined non-overlapping full ``seg``-token segments of
    array ``toks`` (the partial tail is dropped; empty when shorter)."""
    return (
        f"CASE WHEN size({toks}) >= {seg} THEN "
        f"transform(sequence(0, size({toks}) div {seg} - 1), "
        f"i -> array_join(slice({toks}, i * {seg} + 1, {seg}), ' ')) "
        f"ELSE array() END"
    )


def segments_duck(toks: str, seg: int) -> str:
    return (
        f"CASE WHEN len({toks}) >= {seg} THEN "
        f"list_transform(range(0, CAST(len({toks}) // {seg} AS BIGINT)), "
        f"i -> array_to_string({toks}[CAST(i * {seg} + 1 AS INT):"
        f"CAST(i * {seg} + {seg} AS INT)], ' ')) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )


def chunks_spark(n: str, k: str, length: int, overlap: int) -> tuple[str, str, str]:
    """Overlapping ``length``-token chunks at stride ``length -
    overlap`` over an ``n``-token document: (the BIGINT chunk ids
    0..last as an array, chunk ``k``'s start token, its end token
    clamped to ``n``). The count is 1 for n <= length, else the
    smallest cover 1 + ceil((n - length) / stride); callers drop
    empty documents."""
    stride = length - overlap
    ids = (
        f"sequence(CAST(0 AS BIGINT), CASE WHEN {n} <= {length} THEN CAST(0 AS BIGINT) "
        f"ELSE ({n} - {overlap} - 1) div {stride} END)"
    )
    return ids, f"{k} * {stride}", f"least({k} * {stride} + {length}, {n})"


def chunks_duck(n: str, k: str, length: int, overlap: int) -> tuple[str, str, str]:
    stride = length - overlap
    ids = (
        f"generate_series(0, CAST(CASE WHEN {n} <= {length} THEN 0 "
        f"ELSE ({n} - {overlap} - 1) // {stride} END AS BIGINT))"
    )
    return ids, f"{k} * {stride}", f"LEAST({k} * {stride} + {length}, {n})"


def pack_spans_spark(cum: str, n: str, length: int) -> dict[str, str]:
    """A document's place in a token stream packed into ``length``-
    token windows, from its inclusive running token total ``cum`` and
    its token count ``n``: the window its first token lands in, the
    offset there, and the windows it spans (0 for an empty document)."""
    return {
        "window_id": f"({cum} - {n}) div {length}",
        "offset_in_window": f"({cum} - {n}) % {length}",
        "windows_spanned": (
            f"CASE WHEN {n} = 0 THEN 0 ELSE "
            f"({cum} - 1) div {length} - ({cum} - {n}) div {length} + 1 END"
        ),
    }


def pack_spans_duck(cum: str, n: str, length: int) -> dict[str, str]:
    return {
        "window_id": f"({cum} - {n}) // {length}",
        "offset_in_window": f"({cum} - {n}) % {length}",
        "windows_spanned": (
            f"CASE WHEN {n} = 0 THEN 0 ELSE "
            f"({cum} - 1) // {length} - ({cum} - {n}) // {length} + 1 END"
        ),
    }


# --- 60-bit md5 hashes -------------------------------------------------------

def hex60_spark(expr: str) -> str:
    """md5 of ``expr`` → its first 15 hex digits as a BIGINT."""
    return f"CAST(conv(substr(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def hex60_duck(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


#: The epoch shuffle key: 60-bit md5 of ``doc_id|epoch``.
EPOCH_HASH_SPARK = hex60_spark("concat(CAST(doc_id AS STRING), '|', CAST(epoch AS STRING))")
EPOCH_HASH_DUCK = hex60_duck("CAST(doc_id AS VARCHAR) || '|' || CAST(epoch AS VARCHAR)")


# --- word shingles --------------------------------------------------------

def shingles_spark(col: str = "text", k: int = 3) -> str:
    """Distinct word k-shingles as an array (Spark SQL expression)."""
    t = tokens_spark(col)
    return (
        f"array_distinct(transform(sequence(1, greatest(size({t}) - {k - 1}, 0)), "
        f"i -> concat_ws(' ', slice({t}, i, {k}))))"
    )


def shingles_duck(col: str = "text", k: int = 3) -> str:
    t = tokens_duck(col)
    return (
        f"list_distinct(list_transform(generate_series(1, greatest(len({t}) - {k - 1}, 0)), "
        f"i -> array_to_string(({t})[i:i+{k - 1}], ' ')))"
    )


# --- MinHash signatures ----------------------------------------------------

def minhash_spark(shingles_expr: str, n_perm: int = 16) -> str:
    """Array of n_perm string-min hashes (Spark SQL expression)."""
    return (
        f"transform(sequence(0, {n_perm - 1}), "
        f"i -> array_min(transform({shingles_expr}, s -> md5(concat(i, ':', s)))))"
    )


def minhash_duck(shingles_expr: str, n_perm: int = 16) -> str:
    return (
        f"list_transform(generate_series(0, {n_perm - 1}), "
        f"i -> list_aggregate(list_transform({shingles_expr}, s -> md5(i || ':' || s)), 'min'))"
    )


#: Mersenne prime 2^31-1: universal-hash modulus for integer MinHash.
MINHASH_P = 2147483647


def minhash_params(n_perm: int = 16) -> list[tuple[int, int]]:
    """(a_i, b_i) coefficients for the universal-hash permutation
    family ``p_i(h) = (a_i*h + b_i) mod P`` — derived deterministically
    from md5 so both engines inline the SAME literal constants."""
    import hashlib

    out = []
    for i in range(n_perm):
        hx = hashlib.md5(f"perm:{i}".encode()).hexdigest()
        a = int(hx[:8], 16) % (MINHASH_P - 1) + 1
        b = int(hx[8:16], 16) % MINHASH_P
        out.append((a, b))
    return out


def shingle_int_hash_spark(col: str) -> str:
    """Shingle → 31-bit int: md5 computed ONCE, its 60-bit prefix
    reduced mod P. One digest per shingle — the permutations are then
    pure codegen'd integer arithmetic (vs. one md5 PER permutation in
    the string-min scheme: ~n_perm× less hashing)."""
    return f"{hex60_spark(col)} % {MINHASH_P}"


def shingle_int_hash_duck(expr: str) -> str:
    return f"({hex60_duck(expr)} % {MINHASH_P})"


def minhash_int_duck(shingles_expr: str, n_perm: int = 16) -> str:
    """DuckDB list of n_perm integer MinHash values (mirror of the
    exploded min-agg the Spark query computes)."""
    h = shingle_int_hash_duck("s")
    mins = ", ".join(
        f"list_aggregate(list_transform({shingles_expr}, s -> ({a} * {h} + {b}) % {MINHASH_P}), 'min')"
        for a, b in minhash_params(n_perm)
    )
    return f"[{mins}]"


def minhash_int_spark(shingles_expr: str, n_perm: int = 16) -> str:
    """Spark array of n_perm integer MinHash values — the MAP-SIDE
    (HOF) twin of :func:`minhash_int_duck`: same md5-derived shingle
    ints, same inlined universal-hash coefficients, zero shuffle (vs
    the exploded min-agg formulation, which pays a (doc, key) exchange
    — right when the signature table is reused across joins, wrong
    when signatures are consumed in place, e.g. a per-batch delta)."""
    # parenthesized: shingle_int_hash_spark ends in `% P`, and `*`
    # binds at the same precedence — unwrapped, `a * CAST(...) % P`
    # multiplies the raw 60-bit prefix first and overflows BIGINT
    h = f"({shingle_int_hash_spark('s')})"
    mins = ", ".join(
        f"array_min(transform({shingles_expr}, s -> ({a} * {h} + {b}) % {MINHASH_P}))"
        for a, b in minhash_params(n_perm)
    )
    return f"array({mins})"


def lsh_bands_spark(minhash_expr: str, n_bands: int = 4, rows: int = 4) -> str:
    """Band keys 'b:md5(sig)' from a MinHash array (Spark)."""
    return (
        f"transform(sequence(0, {n_bands - 1}), "
        f"b -> concat(b, ':', md5(concat_ws('', slice({minhash_expr}, b * {rows} + 1, {rows})))))"
    )


def lsh_bands_duck(minhash_expr: str, n_bands: int = 4, rows: int = 4) -> str:
    return (
        f"list_transform(generate_series(0, {n_bands - 1}), "
        f"b -> b || ':' || md5(array_to_string(({minhash_expr})[b * {rows} + 1:b * {rows} + {rows}], '')))"
    )


# --- SimHash ---------------------------------------------------------------

def simhash_spark(tokens_expr: str, bits: int = 32) -> str:
    """32-char '0'/'1' SimHash fingerprint (Spark SQL expression).

    Bit j is set iff at least half the tokens have md5 hex digit j in
    '0'..'7' (ties → 1, both engines identical by construction).
    """
    return (
        f"concat_ws('', transform(sequence(1, {bits}), j -> "
        f"CASE WHEN 2 * size(filter(transform({tokens_expr}, t -> md5(t)), "
        f"h -> substring(h, j, 1) < '8')) >= size({tokens_expr}) "
        f"THEN '1' ELSE '0' END))"
    )


def simhash_duck(tokens_expr: str, bits: int = 32) -> str:
    return (
        f"array_to_string(list_transform(generate_series(1, {bits}), j -> "
        f"CASE WHEN 2 * len(list_filter(list_transform({tokens_expr}, t -> md5(t)), "
        f"h -> substr(h, j, 1) < '8')) >= len({tokens_expr}) "
        f"THEN '1' ELSE '0' END), '')"
    )


# --- bottom-k document fingerprint ----------------------------------------

def bottomk_fingerprint_spark(shingles_expr: str, k: int = 4) -> str:
    """md5 of the k lexicographically-smallest shingle hashes (Spark)."""
    return (
        f"md5(concat_ws('', slice(array_sort(transform({shingles_expr}, s -> md5(s))), 1, {k})))"
    )


def bottomk_fingerprint_duck(shingles_expr: str, k: int = 4) -> str:
    return (
        f"md5(array_to_string(list_sort(list_transform({shingles_expr}, s -> md5(s)))[1:{k}], ''))"
    )
