"""Multimodal-column plumbing: opaque binary payloads + typed metadata,
with decode/feature-extraction as Arrow-batched pandas stages.

The decode step is REAL: a pure-python BMP (24-bit uncompressed) and
WAV (8-bit PCM RIFF) codec — formats whose containers need no
PIL/ffmpeg. ``build_media_assets`` derives valid media files
deterministically from the documents fixture (text bytes become pixel
rows / PCM samples), ``extract_media_features`` parses the binary
headers back with ``struct`` and computes real pixel/sample
statistics, and the DuckDB oracle recomputes the expected features
from the construction definition — an independent check of the full
encode→decode loop. The Spark-side shape is what has to be right at
100 TB: payload bytes never shuffle; features are computed in place
via ``mapInPandas`` and only the small feature columns move.

One kit per job. ``_media_parsers()`` is the only container parser
(the BMP header, the RIFF chunk walk, the WAV data span and the
planted first-sample perturb); the codec, the dHash, fingerprint and
PCM kits and the resizer build on it. ``planted_units`` is the one
loop that turns a kit into (id, signature) rows, base assets plus
their planted near-identical variants, and every bit-signature
near-dup family (image dHash, 64- and 128-bit audio fingerprints)
pairs through the pigeonhole join shared with ``dedup_simhash_pairs``,
``dedup.hamming_pairs`` / ``hamming_pairs_duck``. The oracles read
the codec's construction (length, width, height, channels, rate) from
one DuckDB CTE, ``_MEDIA_CTE``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..cache import cache_corpus
from ..registry import register
from ..sources.readers import load_table
from .dedup import (
    hamming_pairs,
    hamming_pairs_duck,
    minhash_lsh_candidates,
    pair_overlap,
    verified_pairs,
)

#: Schema of an ingested multimodal asset: payload + typed metadata.
ASSET_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mime", StringType()),
        StructField("payload", BinaryType()),
        StructField("n_bytes", LongType()),
        StructField("checksum", StringType()),
    ]
)


def ingest_assets(docs: DataFrame) -> DataFrame:
    """documents → multimodal asset table: the text payload stands in
    for opaque media bytes (binary column + metadata), exactly the
    representation a real image/audio ingest would produce."""
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, "image/bmp")
        .otherwise("audio/wav")
        .alias("mime"),
        F.encode("text", "UTF-8").alias("payload"),
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.md5(F.encode("text", "UTF-8")).alias("checksum"),
    )


def _media_parsers():
    """The container parsing every media kit shares: returns
    ``(bmp, riff_chunks, data_span, perturb)``.

    - ``bmp(p) -> (offset, w, h, ch, stride)`` reads the BMP header:
      pixel-array offset, width, |height|, bytes per pixel and the row
      stride padded to the 4-byte boundary.
    - ``riff_chunks(p) -> {chunk id: (offset, size)}`` walks the RIFF
      chunk list from byte 12 (sizes padded to even), first chunk of
      each id.
    - ``data_span(p) -> (offset, size)`` is the WAV ``data`` chunk.
    - ``perturb(p) -> bytes`` is the planted near-identical recording:
      the low bit of the FIRST data-chunk sample flipped (an empty
      chunk is left as is).

    Factory-nested like the kits: each kit calls it inside its own
    factory, so cloudpickle captures these functions by value with the
    kit (see make_media_codec)."""
    import struct

    def bmp(p: bytes) -> tuple[int, int, int, int, int]:
        offset = struct.unpack_from("<I", p, 10)[0]
        w = struct.unpack_from("<i", p, 18)[0]
        h = abs(struct.unpack_from("<i", p, 22)[0])
        ch = struct.unpack_from("<H", p, 28)[0] // 8
        return offset, w, h, ch, ((w * ch + 3) // 4) * 4

    def riff_chunks(p: bytes) -> dict[bytes, tuple[int, int]]:
        chunks, pos = {}, 12
        while pos + 8 <= len(p):
            sz = struct.unpack_from("<I", p, pos + 4)[0]
            chunks.setdefault(p[pos : pos + 4], (pos + 8, sz))
            pos += 8 + sz + (sz % 2)
        return chunks

    def data_span(p: bytes) -> tuple[int, int]:
        span = riff_chunks(p).get(b"data")
        if span is None:
            raise ValueError("RIFF/WAVE missing data chunk")
        return span

    def perturb(p: bytes) -> bytes:
        off, sz = data_span(p)
        v = bytearray(p)
        if sz > 0:
            v[off] ^= 1
        return bytes(v)

    return bmp, riff_chunks, data_span, perturb


def make_media_codec():
    """Pure-python media codec: returns ``(build, decode)``.

    - ``build(doc_id, text) -> (mime, payload)`` encodes the text
      bytes into a VALID container: even doc_ids become 24-bit
      uncompressed BMP images (text bytes cycled through the pixel
      array, rows padded to the 4-byte BMP boundary), odd doc_ids
      become 8-bit PCM RIFF/WAVE files (text bytes as samples,
      truncated to a whole number of frames).
    - ``decode(payload) -> dict`` is a REAL decoder: it parses the
      BMP/RIFF binary headers with ``struct`` (magic, chunk walk,
      dimensions, bpp, sample format) and computes features from the
      actual pixel/sample bytes — mean pixel value for images, mean
      absolute amplitude for audio. It never sees the construction
      parameters; any header corruption raises like a real codec.

    Defined NESTED (returned from a factory) so cloudpickle captures
    both functions BY VALUE inside mapInPandas closures — Spark's
    python workers don't necessarily have this package importable
    (the driver harness hands us its own session). Feature doubles
    stay exact across engines: the sums are integer-valued (byte
    codes), exact in IEEE double, so summation order can't matter.

    Construction (mirrored by the ``multimodal_decode_features``
    oracle): image w = 8 + doc_id % 8, h = 8 + len(text) % 8; audio
    channels = 1 + (doc_id // 2) % 2, rate = 8000 + 500·(doc_id % 8).
    N/A fields are 0, not NULL, to keep integer columns integer on
    both sides of the driver's hash compare."""
    import struct

    bmp, riff_chunks, _data_span, _perturb = _media_parsers()

    def build(doc_id: int, text: str):
        b = text.encode("utf-8")
        L = len(b)
        # The decode-features oracle measures text with DuckDB char
        # semantics (length/substr/ascii); those equal byte semantics
        # only for non-empty ASCII. Fail loudly on a fixture change
        # rather than silently diverging (empty text would also
        # ZeroDivide in the pixel cycle below).
        if L == 0 or not text.isascii():
            raise ValueError(
                f"doc {doc_id}: media build requires non-empty ASCII text "
                f"(len={L}, ascii={text.isascii()})"
            )
        if doc_id % 2 == 0:  # 24-bit BMP
            w = 8 + doc_id % 8
            h = 8 + L % 8
            stride = ((w * 3 + 3) // 4) * 4
            rows = bytearray()
            j = 0
            for _r in range(h):
                for _c in range(w * 3):
                    rows.append(b[j % L])
                    j += 1
                rows.extend(b"\x00" * (stride - w * 3))
            file_size = 14 + 40 + stride * h
            hdr = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, 54)
            info = struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0
            )
            return "image/bmp", bytes(hdr + info + rows)
        c = 1 + (doc_id // 2) % 2  # 8-bit PCM WAV
        rate = 8000 + 500 * (doc_id % 8)
        nd = L - (L % c)
        data = b[:nd]
        hdr = struct.pack(
            "<4sI4s4sIHHIIHH4sI",
            b"RIFF", 36 + nd, b"WAVE", b"fmt ", 16, 1, c, rate,
            rate * c, c, 8, b"data", nd,
        )
        return "audio/wav", hdr + data

    def decode(payload: bytes) -> dict:
        if payload[:2] == b"BM":
            offset, w, h, ch, stride = bmp(payload)
            total = 0
            for r in range(h):
                total += sum(payload[offset + r * stride : offset + r * stride + w * ch])
            return {
                "mime": "image/bmp", "width": w, "height": h, "n_channels": ch,
                "sample_rate": 0, "n_samples": 0, "n_bytes": len(payload),
                "mean_value": total / (w * h * ch),
            }
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            chunks = riff_chunks(payload)
            if b"fmt " not in chunks or b"data" not in chunks:
                raise ValueError("RIFF/WAVE missing fmt or data chunk")
            fmt, (off, sz) = chunks[b"fmt "][0], chunks[b"data"]
            data = payload[off : off + sz]
            audio_fmt, ch, rate = struct.unpack_from("<HHI", payload, fmt)
            bits = struct.unpack_from("<H", payload, fmt + 14)[0]
            if audio_fmt != 1:
                raise ValueError(f"unsupported WAV format {audio_fmt}")
            n_samples = len(data) // (ch * (bits // 8))
            total = sum(abs(x - 128) for x in data)
            return {
                "mime": "audio/wav", "width": 0, "height": 0, "n_channels": ch,
                "sample_rate": rate, "n_samples": n_samples,
                "n_bytes": len(payload), "mean_value": total / len(data),
            }
        raise ValueError(f"unknown media container (magic {payload[:4]!r})")

    return build, decode


#: Per-asset output schema of the real decoder.
MEDIA_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("n_bytes", LongType()),
        StructField("mean_value", DoubleType()),
    ]
)


def build_media_assets(docs: DataFrame) -> DataFrame:
    """documents → REAL media files: each doc's text becomes a valid
    BMP or WAV payload (see ``make_media_codec``). Arrow-batched;
    payloads are born in place and never shuffle."""
    build, _decode = make_media_codec()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                mime, payload = build(int(doc_id), text)
                rows.append(
                    (doc_id, mime, payload, len(payload),
                     hashlib.md5(payload).hexdigest())
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "mime", "payload", "n_bytes", "checksum"]
            )

    return docs.select("doc_id", "text").mapInPandas(batches, ASSET_SCHEMA)


def extract_media_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched REAL decode via mapInPandas: parses each payload's
    binary container headers and computes pixel/sample statistics
    per-partition (payload bytes stay where they are; no shuffle),
    emitting only the small feature columns."""
    _build, decode = make_media_codec()
    out_cols = [f.name for f in MEDIA_FEATURE_SCHEMA.fields]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [decode(bytes(p)) for p in pdf["payload"]]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out[out_cols]

    return assets.mapInPandas(batches, MEDIA_FEATURE_SCHEMA)


#: Output schema of the frame sampler (one row per sampled frame).
FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_bytes", BinaryType()),
        StructField("frame_checksum", StringType()),
    ]
)


def sample_frames(assets: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """Frame sampling: each asset's payload yields one "frame" per
    ``every_n_bytes`` slice (a deterministic stand-in for video frame
    extraction — the real decoder is stubbed, the 1→N row-explosion
    plumbing is real). mapInPandas lets one input row emit many output
    rows without a shuffle; downstream per-frame featurization
    parallelizes over the expanded rows. Closure is self-contained
    (see extract_media_features)."""
    import hashlib as _hl

    def frames(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                p = bytes(payload)
                for i in range(0, max(len(p), 1), every_n_bytes):
                    chunk = p[i : i + every_n_bytes]
                    rows.append(
                        (
                            doc_id,
                            i // every_n_bytes,
                            chunk,
                            _hl.md5(chunk).hexdigest(),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "frame_bytes", "frame_checksum"]
            )

    return assets.mapInPandas(frames, FRAME_SCHEMA)


@register(
    "multimodal_frame_sample",
    oracle="""
WITH expanded AS (
  SELECT doc_id, text,
         unnest(range(0, CAST(greatest(ceil(length(text) / 64.0), 1) AS BIGINT))) AS i
  FROM documents
),
frames AS (
  SELECT doc_id, md5(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS frame_checksum
  FROM expanded
)
SELECT doc_id, COUNT(*) AS n_frames,
       COUNT(DISTINCT frame_checksum) AS n_distinct_frames,
       MIN(frame_checksum) AS first_checksum_sorted
FROM frames
GROUP BY doc_id
""",
    tags=("multimodal", "frame-sample", "pandas-udf"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-asset frame statistics from the sampled frames. The oracle
    recomputes the same 64-byte slicing in SQL (ASCII payloads make
    byte slices == char slices), checking the full 1→N pandas
    pipeline against a pure-SQL reconstruction."""
    assets = ingest_assets(load_table(spark, sf_dir, "documents"))
    fr = sample_frames(assets, 64)
    return fr.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.count_distinct("frame_checksum").alias("n_distinct_frames"),
        F.min("frame_checksum").alias("first_checksum_sorted"),
    )


def make_image_dhash():
    """Pure-python perceptual-hash kit: returns ``(perturb, dhash)``.

    - ``perturb(payload) -> bytes`` flips the low bit of the first
      pixel's three channel bytes (BMP data offset 54) — a planted
      near-identical image whose dHash differs from the base's in at
      most ONE bit (only grid cell (0,0) samples that pixel).
    - ``dhash(payload) -> str`` is a REAL difference-hash over the
      decoded bitmap: parse the BMP header with ``struct``, sample a
      9×8 grid of pixels (nearest-neighbor: x_i = i·w//9,
      y_j = j·h//8), grayscale = integer sum of the 3 channel bytes,
      bit (i,j) = g(x_{i+1},y_j) > g(x_i,y_j) — the classic dHash,
      64 bits as a '0'/'1' string (char k = bit (k%8, k//8)). Pure
      integer arithmetic end-to-end, so the DuckDB oracle can replay
      it exactly from the codec's construction definition.

    Factory-nested for cloudpickle capture (see make_media_codec)."""
    bmp = _media_parsers()[0]

    def perturb(payload: bytes) -> bytes:
        v = bytearray(payload)
        for ch in range(3):
            v[54 + ch] ^= 1
        return bytes(v)

    def dhash(p: bytes) -> str:
        offset, w, h, ch, stride = bmp(p)
        xs = [(i * w) // 9 for i in range(9)]
        ys = [(j * h) // 8 for j in range(8)]
        bits = []
        for y in ys:
            row = offset + y * stride
            gs = [p[row + x * ch] + p[row + x * ch + 1] + p[row + x * ch + 2]
                  for x in xs]
            bits.extend("1" if gs[i + 1] > gs[i] else "0" for i in range(8))
        return "".join(bits)

    return perturb, dhash


def planted_units(
    assets: DataFrame, kit, id_col: str, col: str, planted: int
) -> DataFrame:
    """Media assets → (id_col, col) rows through one kit ``(perturb,
    fn)``: ``fn(payload)`` of every asset under id 2·doc_id, plus —
    for each doc_id % 10 == ``planted`` — the planted near-identical
    variant ``fn(perturb(payload))`` under 2·doc_id + 1. An asset whose
    ``fn`` is None (nothing to sign) is skipped with its variant. One
    Arrow-batched pass; payload bytes are read in place and never
    shuffle — only the signatures move. The batch function closes over
    the kit's own functions, so workers need not import this package
    (see make_media_codec)."""
    perturb, fn = kit
    schema = StructType(
        [StructField(id_col, LongType()), StructField(col, StringType())]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                p = bytes(payload)
                s = fn(p)
                if s is None:
                    continue
                rows.append((int(doc_id) * 2, s))
                if doc_id % 10 == planted:
                    rows.append((int(doc_id) * 2 + 1, fn(perturb(p))))
            yield pd.DataFrame(rows, columns=[id_col, col])

    return assets.select("doc_id", "payload").mapInPandas(batches, schema)


#: The codec's construction per document (``make_media_codec``'s
#: ``build``) as one DuckDB CTE ``media``: text length L, image width
#: w and height h, audio channels c and sample rate sr.
_MEDIA_CTE = """media AS (
  SELECT doc_id, text, length(text) AS L,
         8 + CAST(doc_id % 8 AS INT) AS w,
         8 + CAST(length(text) % 8 AS INT) AS h,
         CAST(1 + (doc_id // 2) % 2 AS INT) AS c,
         8000 + 500 * CAST(doc_id % 8 AS INT) AS sr
  FROM documents
)"""


def _planted_units_duck(id_col: str, planted: int, cond: str) -> str:
    """DuckDB twin of :func:`planted_units` over ``_MEDIA_CTE``: CTE
    ``units`` (id_col, media columns…, pert) — every document of the
    family (doc_id of ``planted``'s parity) meeting ``cond`` under
    2·doc_id, and its planted variant (``pert``) under 2·doc_id + 1
    when doc_id % 10 == ``planted``."""
    return f"""units AS (
  SELECT doc_id * 2 AS {id_col}, *, FALSE AS pert
  FROM media WHERE doc_id % 2 = {planted % 2} AND {cond}
  UNION ALL
  SELECT doc_id * 2 + 1, *, TRUE
  FROM media WHERE doc_id % 10 = {planted} AND {cond}
)"""


def _phash_oracle() -> str:
    """DuckDB replay of the full encode→dHash→pair pipeline from the
    construction definition: pixel (x,y,ch) of doc_id's BMP is text
    byte (y·w·3 + x·3 + ch) mod L (low bit xor'd for the planted
    variant's first pixel), grayscale sums the 3 channels, and the
    9×8-grid comparisons build the same 64-char bit string. All-pairs
    bit_count(xor) ≤ 2 is exact at fixture scale — the total-recall
    ground truth the pigeonhole plan must reproduce."""

    def code(ch: int) -> str:
        idx = f"(((j * u.h) // 8) * u.w * 3 + ((i * u.w) // 9) * 3 + {ch})"
        base = f"ascii(substr(u.text, CAST({idx} % u.L AS INT) + 1, 1))"
        return f"(CASE WHEN u.pert AND {idx} < 3 THEN xor({base}, 1) ELSE {base} END)"

    g = " + ".join(code(ch) for ch in range(3))
    return f"""
WITH {_MEDIA_CTE},
{_planted_units_duck("img_id", 0, "TRUE")},
cells AS (
  SELECT u.img_id, j, i, {g} AS gray
  FROM units u, range(0, 8) tj(j), range(0, 9) ti(i)
),
cmp AS (
  SELECT img_id, j, i, gray,
         LEAD(gray) OVER (PARTITION BY img_id, j ORDER BY i) AS gray_next
  FROM cells
),
sigs AS (
  SELECT img_id,
         string_agg(CASE WHEN gray_next > gray THEN '1' ELSE '0' END,
                    '' ORDER BY j, i) AS dh
  FROM cmp WHERE i < 8
  GROUP BY img_id
)
{hamming_pairs_duck("sigs", "img_id", "img_a", "img_b")}
"""


@register(
    "multimodal_phash_pairs",
    oracle=_phash_oracle(),
    tags=("multimodal", "dedup", "phash", "dhash", "pandas-udf"),
)
def multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash IMAGE near-dup pairs — the multimodal half of
    the dedup story: encode the image docs as real BMPs, dHash the
    decoded bitmaps (``make_image_dhash``), and pair images within
    Hamming ≤ 2, including deterministically PLANTED low-bit-perturbed
    variants (every planted pair differs in ≤ 1 dHash bit, so total
    recall of the planted set is part of the hash gate).

    Pairing is the pigeonhole block join shared with
    ``dedup_simhash_pairs`` (``hamming_pairs``): 3 blocks of 22/21/21
    bits — a pair within Hamming ≤ 2 matches exactly on ≥ 1 block — so
    candidates come from a block equi-join, never all-pairs; the exact
    distance is codegen'd bit_count(xor) over the two 32-bit words.
    At 100 TB: signatures are 64 bits per image (payloads never
    shuffle), the block join is the only exchange, and recall is
    guaranteed by construction rather than probabilistic."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    sigs = planted_units(build_media_assets(d), make_image_dhash(), "img_id", "dh", 0)
    return hamming_pairs(sigs, "img_id", "img_a", "img_b", 64)


def _phash_clusters_oracle() -> str:
    """Recursive transitive closure over the phash pairs — the full
    dHash pipeline nests as a CTE body (DuckDB allows WITH inside a
    CTE), then the SHARED component CTEs from dedup.py run on it, so
    the closure logic cannot diverge from the text-side cluster
    operators."""
    from .dedup import _COMPONENTS_CTES

    return f"""
WITH RECURSIVE phash AS ({_phash_oracle()}),
pairs AS (SELECT img_a AS doc_a, img_b AS doc_b FROM phash),
{_COMPONENTS_CTES}
SELECT doc_id AS img_id, cluster_id, doc_id = cluster_id AS keep
FROM comp
"""


@register(
    "multimodal_phash_clusters",
    oracle=_phash_clusters_oracle(),
    tags=("multimodal", "dedup", "phash", "clusters", "components"),
)
def multimodal_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup CLUSTERS — the multimodal twin of
    ``dedup_clusters``: treat Hamming≤2 dHash pairs as edges, take
    connected components (iterative min-label propagation,
    operators/graph.py:connected_components), and flag one canonical
    image (min img_id) per cluster — the keeper step a multimodal
    curation pipeline applies after pair detection, catching images
    only TRANSITIVELY near-identical to a kept one. Every planted
    (base, variant) pair lands in one cluster with the base as
    keeper, which the hash gate therefore verifies end-to-end."""
    from .graph import connected_components

    pairs = multimodal_phash_pairs(spark, sf_dir).select("img_a", "img_b")
    edges = pairs.select(
        F.col("img_a").alias("from_paper"), F.col("img_b").alias("to_paper")
    )
    labels = connected_components(edges)
    return labels.select(
        F.col("node").alias("img_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("keep"),
    )


@register(
    "multimodal_ingest_stats",
    oracle="""
SELECT CASE WHEN doc_id % 2 = 0 THEN 'image/bmp' ELSE 'audio/wav' END AS mime,
       COUNT(*) AS n_assets,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       COUNT(DISTINCT md5(text)) AS n_distinct_payloads
FROM documents
GROUP BY 1
""",
    tags=("multimodal", "ingest"),
)
def multimodal_ingest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest accounting per mime type: asset counts, payload bytes,
    distinct-checksum counts (dedup precursor on binary columns)."""
    assets = ingest_assets(load_table(spark, sf_dir, "documents"))
    return assets.groupBy("mime").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("n_bytes").alias("total_bytes"),
        F.count_distinct("checksum").alias("n_distinct_payloads"),
    )


@register(
    "multimodal_decode_features",
    oracle=f"""
WITH {_MEDIA_CTE},
img AS (
  SELECT doc_id, 'image/bmp' AS mime,
         w AS width, h AS height, CAST(3 AS INT) AS n_channels,
         CAST(0 AS INT) AS sample_rate, CAST(0 AS BIGINT) AS n_samples,
         CAST(54 + ((w * 3 + 3) // 4) * 4 * h AS BIGINT) AS n_bytes,
         CAST((SELECT SUM(ascii(substr(b.text, CAST(j % b.L AS INT) + 1, 1)))
               FROM unnest(range(0, CAST(b.w * b.h * 3 AS BIGINT))) AS t(j))
              AS DOUBLE) / (w * h * 3) AS mean_value
  FROM media b WHERE doc_id % 2 = 0
),
wav AS (
  SELECT doc_id, 'audio/wav' AS mime,
         CAST(0 AS INT) AS width, CAST(0 AS INT) AS height, c AS n_channels,
         CAST(sr AS INT) AS sample_rate,
         CAST((L - L % c) // c AS BIGINT) AS n_samples,
         CAST(44 + (L - L % c) AS BIGINT) AS n_bytes,
         CAST((SELECT SUM(ABS(ascii(substr(b.text, CAST(j AS INT) + 1, 1)) - 128))
               FROM unnest(range(0, CAST(b.L - b.L % b.c AS BIGINT))) AS t(j))
              AS DOUBLE) / (L - L % c) AS mean_value
  FROM media b WHERE doc_id % 2 = 1
)
SELECT * FROM img UNION ALL SELECT * FROM wav
""",
    tags=("multimodal", "pandas-udf", "codec"),
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL encode→decode loop: documents become valid BMP/WAV files
    (``build_media_assets``), a pure-python codec parses the binary
    headers back and computes pixel/sample statistics
    (``extract_media_features``), one feature row per asset.

    The DuckDB oracle recomputes the expected features from the
    construction definition (dimensions from doc_id/length, mean pixel
    value = mean over the cycled text bytes, mean amplitude =
    mean |code − 128|) — so a header-layout bug, stride mistake, or
    off-by-one in either the encoder or the decoder breaks the hash.
    Feature doubles are integer-valued sums divided by counts: exact
    in IEEE double on both engines, no order sensitivity."""
    assets = build_media_assets(load_table(spark, sf_dir, "documents"))
    return extract_media_features(assets)


def make_audio_fingerprint(n_seg: int = 65):
    """Pure-python audio-fingerprint kit: returns ``(perturb, fp)``.

    - ``perturb(payload) -> bytes`` flips the low bit of the FIRST
      sample byte of the WAV's data chunk (located by a real RIFF
      chunk walk, ``_media_parsers``) — a planted near-identical
      recording whose fingerprint differs from the base's in at most
      ONE bit (only segment 0's energy moves, by exactly ±1).
    - ``fp(payload) -> str | None`` is the 1-D analogue of dHash over
      the decoded PCM: chunk-walk to the data bytes, split them into
      ``n_seg`` segments (byte j → segment (j·n_seg)//nd — the same
      nearest-boundary partition the image grid uses), integer energy
      = Σ|x − 128| per segment, bit i = energy(i+1) > energy(i) —
      n_seg − 1 bits as a '0'/'1' string (64 by default; the 128-bit
      family passes 129). Pure integer arithmetic end-to-end, so the
      DuckDB oracle replays it exactly from the codec's construction
      definition. Returns None for an empty data chunk (no samples to
      fingerprint).

    Factory-nested for cloudpickle capture (see make_media_codec)."""
    _bmp, _chunks, data_span, perturb = _media_parsers()

    def fp(payload: bytes) -> str | None:
        off, sz = data_span(payload)
        data = payload[off : off + sz]
        nd = len(data)
        if nd == 0:
            return None
        energy = [0] * n_seg
        for j, x in enumerate(data):
            energy[(j * n_seg) // nd] += abs(x - 128)
        return "".join(
            "1" if energy[i + 1] > energy[i] else "0" for i in range(n_seg - 1)
        )

    return perturb, fp


def _audio_fp_sigs_sql(n_seg: int) -> str:
    """CTE body reconstructing every audio fingerprint from the
    construction definition: sample byte j of doc_id's WAV is text
    byte j (j < nd = L − L%channels; low bit xor'd for the planted
    variant's first sample), segment s covers j ∈ [⌈s·nd/n_seg⌉,
    ⌈(s+1)·nd/n_seg⌉), energy = Σ|code − 128|, bit i compares
    segments i+1 vs i (n_seg−1 bits). Ends with a
    ``sigs(aud_id, dh)`` CTE."""
    return f"""
{_MEDIA_CTE},
{_planted_units_duck("aud_id", 5, "L - L % c > 0")},
grid AS (
  SELECT u.aud_id, u.text, u.L - u.L % u.c AS nd, u.pert, s
  FROM units u, range(0, {n_seg}) t(s)
),
seg AS (
  SELECT g.aud_id, g.s AS seg,
         COALESCE((
           SELECT SUM(CASE WHEN g.pert AND j = 0
                      THEN ABS(xor(ascii(substr(g.text, CAST(j AS INT) + 1, 1)), 1) - 128)
                      ELSE ABS(ascii(substr(g.text, CAST(j AS INT) + 1, 1)) - 128) END)
           FROM unnest(range((g.s * g.nd + {n_seg - 1}) // {n_seg}, ((g.s + 1) * g.nd + {n_seg - 1}) // {n_seg})) AS t(j)
         ), 0) AS energy
  FROM grid g
),
cmp AS (
  SELECT aud_id, seg, energy,
         LEAD(energy) OVER (PARTITION BY aud_id ORDER BY seg) AS energy_next
  FROM seg
),
sigs AS (
  SELECT aud_id,
         string_agg(CASE WHEN energy_next > energy THEN '1' ELSE '0' END,
                    '' ORDER BY seg) AS dh
  FROM cmp WHERE seg < {n_seg - 1}
  GROUP BY aud_id
)
"""


def _audio_fp_pairs(spark: SparkSession, sf_dir: str, n_seg: int) -> DataFrame:
    """(aud_a, aud_b, hamming) near-dup recordings of the
    ``n_seg``-segment fingerprint through the shared pigeonhole join."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1)
    kit = make_audio_fingerprint(n_seg)
    sigs = planted_units(build_media_assets(d), kit, "aud_id", "dh", 5)
    return hamming_pairs(sigs, "aud_id", "aud_a", "aud_b", n_seg - 1)


@register(
    "multimodal_audio_fp_pairs",
    oracle=f"""WITH {_audio_fp_sigs_sql(65)}
{hamming_pairs_duck("sigs", "aud_id", "aud_a", "aud_b")}
""",
    tags=("multimodal", "dedup", "audio", "fingerprint", "pandas-udf"),
)
def multimodal_audio_fp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-fingerprint near-dup pairs — the AUDIO half of the
    multimodal dedup story (image twin: ``multimodal_phash_pairs``):
    encode the audio docs as real WAVs, fingerprint the decoded PCM
    (``make_audio_fingerprint`` — 65-segment energy contour, the 1-D
    dHash), and pair recordings within Hamming ≤ 2, including
    deterministically PLANTED low-bit-perturbed variants (each
    differs from its base in ≤ 1 fingerprint bit, so total recall of
    the planted set is part of the hash gate).

    Pairing is the shared pigeonhole block join
    (``hamming_pairs``) — candidates from a 3-block equi-join,
    never all-pairs; the oracle's all-pairs scan is exact ground
    truth at fixture scale. At 100 TB: 64-bit signatures per
    recording, payload bytes never shuffle, recall guaranteed by
    construction."""
    return _audio_fp_pairs(spark, sf_dir, 65)


#: Per-image resize output: fixed 4×4 thumbnail summarized in scalars
#: (arrays stay out of the hash-compare per repo convention).
RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("src_w", IntegerType()),
        StructField("src_h", IntegerType()),
        StructField("thumb_digest", StringType()),
        StructField("mean_c0", DoubleType()),
        StructField("mean_c1", DoubleType()),
        StructField("mean_c2", DoubleType()),
    ]
)


def resize_images(assets: DataFrame, side: int = 4) -> DataFrame:
    """IMAGE RESIZE — the remaining named multimodal op (decode /
    feature-extract / RESIZE / frame-sample): nearest-neighbor
    resample of each decoded BMP to a fixed ``side``×``side``
    thumbnail (x_i = i·w/side, y_j = j·h/side — the dHash grid rule,
    now emitting the pixels themselves). Arrow-batched mapInPandas;
    payload bytes are read in place and never shuffle; the thumbnail
    leaves as an md5 digest of the integer pixel string plus exact
    per-channel means (integer sums / pixel count — bit-stable
    doubles), so the full resample is hash-gated without array
    columns."""
    import hashlib

    bmp = _media_parsers()[0]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in it:
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                p = bytes(p)
                offset, w, h, ch, stride = bmp(p)
                pix = []
                sums = [0, 0, 0]
                for j in range(side):
                    y = (j * h) // side
                    row = offset + y * stride
                    for i in range(side):
                        x = (i * w) // side
                        for c in range(3):
                            v = p[row + x * ch + c]
                            pix.append(v)
                            sums[c] += v
                digest = hashlib.md5(",".join(map(str, pix)).encode()).hexdigest()
                n = side * side
                rows.append(
                    (int(doc_id), w, h, digest,
                     sums[0] / n, sums[1] / n, sums[2] / n)
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "src_w", "src_h", "thumb_digest",
                         "mean_c0", "mean_c1", "mean_c2"],
            )
            rows = []

    return assets.select("doc_id", "payload").mapInPandas(batches, RESIZE_SCHEMA)


@register(
    "multimodal_resize_thumbs",
    oracle=f"""
WITH {_MEDIA_CTE},
px AS (
  SELECT m.doc_id, m.w, m.h, j, i, k,
         ascii(substr(m.text,
           CAST((((j * m.h) // 4) * m.w * 3
                 + ((i * m.w) // 4) * 3 + k) % m.L AS INT) + 1, 1)) AS v
  FROM media m, range(0, 4) tj(j), range(0, 4) ti(i), range(0, 3) tk(k)
  WHERE m.doc_id % 2 = 0
)
SELECT doc_id,
       CAST(MIN(w) AS INT) AS src_w,
       CAST(MIN(h) AS INT) AS src_h,
       md5(string_agg(CAST(v AS VARCHAR), ','
                      ORDER BY j, i, k)) AS thumb_digest,
       CAST(SUM(CASE WHEN k = 0 THEN v END) AS DOUBLE) / 16 AS mean_c0,
       CAST(SUM(CASE WHEN k = 1 THEN v END) AS DOUBLE) / 16 AS mean_c1,
       CAST(SUM(CASE WHEN k = 2 THEN v END) AS DOUBLE) / 16 AS mean_c2
FROM px GROUP BY doc_id
""",
    tags=("multimodal", "resize", "thumbnail", "pandas-udf"),
)
def multimodal_resize_thumbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4×4 nearest-neighbor thumbnails of every image asset (see
    ``resize_images``); the oracle replays pixel (x, y, c) from the
    codec construction — text byte (y·w·3 + x·3 + c) mod L — and
    rebuilds the identical digest and channel means, so a stride,
    offset, or sampling-rule bug in the resizer breaks the hash."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    return resize_images(build_media_assets(d), side=4)


@register(
    "multimodal_audio_fp128_pairs",
    oracle=f"""WITH {_audio_fp_sigs_sql(129)}
{hamming_pairs_duck("sigs", "aud_id", "aud_a", "aud_b")}
""",
    tags=("multimodal", "dedup", "audio", "fingerprint", "entropy",
          "pandas-udf"),
)
def multimodal_audio_fp128_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 128-BIT audio near-dup path — the signature-entropy fix
    the 500k-doc corpus run demanded (SCALE.md: 64-bit contours
    saturate at ~250k recordings with 9.4M incidental Hamming≤2
    pairs while planted recall held). Twice the contour resolution
    makes incidental near-collisions exponentially rarer; the
    planted ±1-energy variants still differ in ≤1 bit, so total
    recall of the planted set stays part of the hash gate. Same
    kit and pair join as the 64-bit path at 129 segments
    (``make_audio_fingerprint(129)``; ``hamming_pairs`` with 3
    pigeonhole blocks of 43/43/42 bits, exact distance over four
    32-bit words)."""
    return _audio_fp_pairs(spark, sf_dir, 129)


# --- gram-sketch audio near-dup (MinHash over PCM byte shingles) ----------

#: PCM byte-gram length for the gram-sketch signature family.
_AMH_K = 8
#: exact-Jaccard verification threshold on candidate pairs.
_AMH_J = 0.9


def make_audio_pcm():
    """Pure-python PCM extractor kit: returns ``(perturb, pcm)``.

    - ``perturb`` is the shared planted-variant rule (first data-chunk
      sample byte xor 1, ``_media_parsers``).
    - ``pcm(payload) -> str | None`` chunk-walks the RIFF container to
      the data bytes and returns them as a latin-1 string (the codec
      builds from ASCII text, and ascii^1 stays ASCII, so the byte→char
      mapping is lossless and 1 char == 1 sample). Returns None when
      the data chunk is shorter than one ``_AMH_K``-byte gram.

    Factory-nested for cloudpickle capture (see make_media_codec)."""
    _bmp, _chunks, data_span, perturb = _media_parsers()

    def pcm(payload: bytes) -> str | None:
        off, sz = data_span(payload)
        data = payload[off : off + sz]
        if len(data) < _AMH_K:
            return None
        return data.decode("latin-1")

    return perturb, pcm


def _audio_minhash_oracle() -> str:
    """DuckDB replay of the full gram-sketch pipeline from the codec's
    construction definition: PCM bytes of doc_id's WAV are text bytes
    truncated to nd = L − L%channels (first byte xor'd for the planted
    variant), grams are the distinct 8-byte windows digested with the
    shared cross-engine 31-bit scheme, signatures/bands/candidates/
    verify mirror ``dedup_minhash_lsh``'s oracle over those digests."""
    from ..functions.text_funcs import (
        MINHASH_P,
        minhash_params,
        shingle_int_hash_duck,
    )

    dg = shingle_int_hash_duck(f"substr(pcm, CAST(i AS INT), {_AMH_K})")
    mins = ", ".join(
        f"list_aggregate(list_transform(grams, s -> ({a} * s + {b}) % {MINHASH_P}), 'min')"
        for a, b in minhash_params(16)
    )
    jac = (
        "len(list_intersect(x.grams, y.grams)) * 1.0"
        " / len(list_distinct(list_concat(x.grams, y.grams)))"
    )
    return f"""
WITH {_MEDIA_CTE},
{_planted_units_duck("aud_id", 5, f"L - L % c >= {_AMH_K}")},
pcms AS (
  SELECT aud_id,
         CASE WHEN pert
              THEN chr(xor(ascii(substr(text, 1, 1)), 1)) || substr(text, 2, L - L % c - 1)
              ELSE substr(text, 1, L - L % c) END AS pcm
  FROM units
),
g AS (
  SELECT aud_id,
         list_distinct(list_transform(
           generate_series(1, length(pcm) - {_AMH_K - 1}), i -> {dg})) AS grams
  FROM pcms
),
sigs AS (SELECT aud_id, grams, [{mins}] AS mh FROM g),
bands AS (
  SELECT aud_id,
         unnest(list_transform(generate_series(0, 3),
                b -> b || ':' || array_to_string(mh[b * 4 + 1:b * 4 + 4], ','))) AS band_key
  FROM sigs
),
cand AS (
  SELECT DISTINCT a.aud_id AS aud_a, b.aud_id AS aud_b
  FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.aud_id < b.aud_id
)
SELECT c.aud_a, c.aud_b, {jac} AS jaccard
FROM cand c
JOIN g x ON x.aud_id = c.aud_a
JOIN g y ON y.aud_id = c.aud_b
WHERE {jac} >= {_AMH_J}
"""


@register(
    "multimodal_audio_minhash_pairs",
    oracle=_audio_minhash_oracle(),
    tags=("multimodal", "dedup", "audio", "minhash", "lsh", "pandas-udf"),
)
def multimodal_audio_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram-sketch audio near-dup — the SHORT-RECORDING fix the 128-bit
    contour experiment demanded (SCALE.md: a fixed-width energy contour
    saturates because its effective entropy is bounded by recording
    LENGTH, so at 250k+ recordings incidental Hamming-near collisions
    dominate; more contour bits don't help). A MinHash sketch over PCM
    byte 8-grams scales its discrimination with CONTENT instead: two
    recordings only pair when ≥90% of their actual gram sets overlap,
    never because two 64-bit projections happen to collide.

    Pipeline (the ``dedup_minhash_lsh`` architecture pointed at decoded
    audio): real WAV decode → (aud_id, pcm) units via one Arrow-batched
    ``mapInPandas`` pass (payload bytes never shuffle; planted
    first-sample-xor variants differ in ≤ 1 of ~nd distinct grams —
    only the window at offset 0 sees byte 0 — so Jaccard ≥
    (g−1)/(g+1) ≥ 0.947 at the fixture's g ≥ 37 minimum, and
    total planted recall is part of the hash gate), per-row
    ``array_distinct`` gram digests (the r6 scale rule: never
    partial-aggregate near-unique (id, gram) keys), 16 universal-hash
    MinHash mins (one md5 per gram, codegen'd integer arithmetic), 4×4
    LSH band self-join for candidates, exact digest-Jaccard verify on
    candidates only — re-reading the persisted (MEMORY_AND_DISK,
    columnar, evictable) unit cache instead of re-decoding.

    The DuckDB oracle replays encode→decode→gram→sketch→band→verify
    from the construction definition — deterministic integer arithmetic
    end-to-end, so even LSH's probabilistic recall is bit-reproducible
    across engines."""

    from ..functions.text_funcs import shingle_int_hash_spark

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 1)
    units = cache_corpus(
        planted_units(build_media_assets(d), make_audio_pcm(), "aud_id", "pcm", 5)
    )
    dg = shingle_int_hash_spark(f"substring(pcm, i, {_AMH_K})")
    grams = F.explode(
        F.expr(
            f"array_distinct(transform("
            f"sequence(1, length(pcm) - {_AMH_K} + 1), i -> {dg}))"
        )
    ).alias("h")
    # one row per recording — tiny, so the signature table is a
    # localCheckpoint, not a corpus cache
    cand = minhash_lsh_candidates(
        units.select("aud_id", grams),
        ["aud_id"],
        lambda sig: sig.localCheckpoint(),
        size="n_g",
    )
    # PAIR-KEYED verify (measured restructure, see NOTES r6c): the
    # dedup-family shape — join candidate units' grams on bare gram
    # equality, then filter to candidate pairs — costs Σ_g df_cand(g)²
    # rows, and the synthetic corpus's frequent PCM 8-grams are shared
    # by hundreds of candidate units. Keying the intersection BY PAIR
    # is linear in |cand|·grams-per-unit regardless of gram popularity.
    def cand_grams(side: str) -> DataFrame:
        ids = cand.select(F.col(side).alias("aud_id")).distinct()
        return units.join(ids, "aud_id", "left_semi").select("aud_id", grams)

    common = pair_overlap(
        cand, ("aud_a", "aud_b"), cand_grams("aud_a"), cand_grams("aud_b"),
        unit="aud_id", item="h",
    )
    return verified_pairs(cand, common, ["aud_a", "aud_b"], threshold=_AMH_J)
