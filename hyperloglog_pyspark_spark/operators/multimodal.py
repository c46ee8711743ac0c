"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed with Arrow-batched Pandas UDFs over mapInPandas.

The decode path IS real for codec-free containers: ``multimodal_decode``
synthesizes valid BMP/WAV byte streams and parses their headers back
(magic sniffing, struct field extraction, size-integrity checks) via
``functions/mediacodec.py`` — pure Python, no PIL/ffmpeg. Compressed
codecs (JPEG/MP4) stay out of reach in this environment; they would
plug into the same ``decode_media`` dispatcher. The remaining queries
exercise the rest of the plumbing a multimodal pipeline needs — binary
column construction, mapInPandas batch iteration, explicit output schema,
and partition-parallel execution with no driver collects.

Scale: binary payloads ride in parquet as byte arrays; mapInPandas
processes them batch-by-batch per partition (Arrow zero-copy into pandas),
which is exactly how a real frame-sampler/resizer runs over 100 TB of
media — per-partition, bounded memory, no shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from hyperloglog_pyspark_spark.functions.mediacodec import (
    bmp_gray_grid,
    decode_media,
    dhash_bands,
    energy_delta_bands,
    synth_bmp,
    synth_bmp_gray,
    synth_gif,
    synth_png,
    synth_wav,
    synth_wav_pcm,
    wav_pcm_samples,
)
from hyperloglog_pyspark_spark.registry import register, tracked_persist
from hyperloglog_pyspark_spark.sources.catalog import load_table


def fake_decode_meta(payload: bytes) -> tuple[int, int, int]:
    """Deterministic payload-length metadata (NOT a decode — see
    ``decode_media`` for the real header parser); kept because the
    ``multimodal_meta`` oracle reproduces exactly this arithmetic."""
    n = len(payload)
    return n, n % 640, (n * 7) % 480


@register(
    "multimodal_meta",
    category="multimodal",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(octet_length(encode(text)) % 640 AS BIGINT) AS frame_w,
           CAST((octet_length(encode(text)) * 7) % 480 AS BIGINT) AS frame_h,
           'stub' AS codec
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload → metadata via mapInPandas (payload-length fake;
    the REAL header decode lives in ``multimodal_decode``).

    documents.text stands in for a media blob (encode → binary column);
    the UDF iterates Arrow batches and emits a typed metadata row per
    payload — the exact shape of a real decode/feature-extract pass.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = pdf["payload"].map(fake_decode_meta)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": meta.map(lambda m: m[0]),
                    "frame_w": meta.map(lambda m: m[1]),
                    "frame_h": meta.map(lambda m: m[2]),
                    "codec": "stub",
                }
            )

    return docs.mapInPandas(
        decode_batches,
        schema="doc_id long, n_bytes long, frame_w long, frame_h long, codec string",
    )


FRAME_STRIDE = 256
FRAME_SAMPLE = 64


@register(
    "multimodal_frame_sample",
    category="multimodal",
    oracle=f"""
    WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents),
    e AS (
        SELECT doc_id, n_bytes,
               unnest(range(0, (n_bytes + {FRAME_STRIDE - 1}) // {FRAME_STRIDE})) AS frame_idx
        FROM m
    )
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(frame_idx * {FRAME_STRIDE} AS BIGINT) AS byte_offset,
           CAST(least({FRAME_SAMPLE}, n_bytes - frame_idx * {FRAME_STRIDE}) AS BIGINT) AS frame_len
    FROM e
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over opaque media blobs: every 256-byte "frame"
    yields a 64-byte sample descriptor — the 1→N mapInPandas shape of a
    real video frame-sampler (ffmpeg-seek per keyframe); the real header
    decode path is exercised by ``multimodal_decode``.

    Scale: expansion happens inside the Arrow batch iterator,
    partition-parallel, bounded memory; no shuffle, no driver collect.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    def sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"doc_id": [], "frame_idx": [], "byte_offset": [], "frame_len": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                for idx in range((n + FRAME_STRIDE - 1) // FRAME_STRIDE):
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["byte_offset"].append(idx * FRAME_STRIDE)
                    out["frame_len"].append(min(FRAME_SAMPLE, n - idx * FRAME_STRIDE))
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        sample_batches,
        schema="doc_id long, frame_idx long, byte_offset long, frame_len long",
    )


@register(
    "multimodal_dedup_digest",
    category="multimodal",
    oracle="""
    WITH digests AS (
        SELECT doc_id, sha256(text) AS digest,
               octet_length(encode(text)) AS n_bytes
        FROM documents
    ),
    groups AS (
        SELECT digest,
               CAST(MIN(doc_id) AS BIGINT) AS canonical_doc,
               CAST(COUNT(*) AS BIGINT) AS n_copies,
               CAST(MIN(n_bytes) AS BIGINT) AS n_bytes
        FROM digests GROUP BY digest
    )
    SELECT digest, canonical_doc, n_copies, n_bytes
    FROM groups WHERE n_copies > 1
    """,
)
def multimodal_dedup_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact media dedup by cryptographic digest of the binary payload:
    sha2-256 each blob (JVM-side, no UDF), group by digest, keep the lowest
    doc_id as the canonical copy and report replica groups — byte-identical
    dedup, the first pass of every multimodal curation pipeline (digests
    also serve as stable content-addressed media IDs downstream).

    Scale: the shuffle key is the 32-byte digest, never the payload —
    at 100 TB the exchange carries hashes + ids while blobs stay in place;
    uniform digest distribution also makes the shuffle skew-proof.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    digests = docs.select(
        "doc_id",
        F.sha2("payload", 256).alias("digest"),
        F.octet_length("payload").cast("bigint").alias("n_bytes"),
    )
    return (
        digests.groupBy("digest")
        .agg(
            F.min("doc_id").alias("canonical_doc"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("n_bytes").alias("n_bytes"),
        )
        .filter(F.col("n_copies") > 1)
    )


@register(
    "multimodal_decode_png",
    category="multimodal",
    bench=True,
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 11 = 0 THEN 'crc_error' ELSE 'ok' END AS status,
           CASE WHEN doc_id % 11 <> 0 THEN CAST(1 + doc_id % 100 AS BIGINT) END AS width,
           CASE WHEN doc_id % 11 <> 0 THEN CAST(1 + doc_id % 37 AS BIGINT) END AS height,
           CASE WHEN doc_id % 11 <> 0 THEN CAST(8 AS BIGINT) END AS bit_depth,
           CASE WHEN doc_id % 11 <> 0
                THEN CAST((1 + doc_id % 37) * (1 + 3 * (1 + doc_id % 100)) AS BIGINT)
           END AS raw_len
    FROM documents
    """,
)
def multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-format decode: synthesize an 8-bit truecolor PNG
    per document (``functions/mediacodec.py::synth_png`` — chunk CRCs,
    DEFLATE'd scanlines), deliberately flip the final CRC byte on every
    11th doc, then decode with the ``decode_media`` dispatcher: signature
    sniff, per-chunk CRC32 verification, IHDR field extraction, zlib
    INFLATE of the IDAT stream, and the scanline-length identity
    height*(1+3*width). The oracle recomputes dimensions and inflated
    size arithmetically and expects exactly the planted docs to fail CRC
    — a parser that skips validation or misreads a field hash-mismatches.
    (The compressed IDAT byte count is deliberately NOT an output column:
    zlib output length isn't portable arithmetic.)

    Scale: ONE mapInPandas stage — synth writes the PNG bytes and
    decode_media parses them back inside the same Arrow batch, so the
    payload never crosses the JVM↔Python boundary at all (round-15
    fusion: the former two-stage form re-serialized every blob twice per
    direction for no plan benefit); payload bytes never shuffle, memory
    bounded by Arrow batch, parallelism from the spread scan.
    """
    docs = load_table(spark, sf_dir, "documents", spread_scan=True).select(
        F.col("doc_id").cast("long").alias("doc_id")
    )

    def synth_decode_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "status": [], "width": [], "height": [],
                "bit_depth": [], "raw_len": [],
            }
            for doc_id in pdf["doc_id"]:
                png = synth_png(
                    1 + doc_id % 100, 1 + doc_id % 37, seed=int(doc_id)
                )
                if doc_id % 11 == 0:  # corrupt the IEND CRC's last byte
                    png = png[:-1] + bytes([png[-1] ^ 0xFF])
                out["doc_id"].append(doc_id)
                try:
                    m = decode_media(png)
                    out["status"].append("ok")
                    out["width"].append(m["width"])
                    out["height"].append(m["height"])
                    out["bit_depth"].append(m["bit_depth"])
                    out["raw_len"].append(m["raw_len"])
                except ValueError:
                    out["status"].append("crc_error")
                    for k in ("width", "height", "bit_depth", "raw_len"):
                        out[k].append(None)
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        synth_decode_batches,
        schema=(
            "doc_id long, status string, width long, height long, "
            "bit_depth long, raw_len long"
        ),
    )


@register(
    "multimodal_decode_gif",
    category="multimodal",
    bench=True,
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 11 = 0 THEN 'corrupt' ELSE 'ok' END AS status,
           CASE WHEN doc_id % 11 <> 0 THEN CAST(1 + doc_id % 40 AS BIGINT) END AS width,
           CASE WHEN doc_id % 11 <> 0 THEN CAST(1 + doc_id % 25 AS BIGINT) END AS height,
           CASE WHEN doc_id % 11 <> 0 THEN CAST(256 AS BIGINT) END AS n_colors,
           CASE WHEN doc_id % 11 <> 0
                THEN CAST((1 + doc_id % 40) * (1 + doc_id % 25) AS BIGINT)
           END AS pixel_count
    FROM documents
    """,
)
def multimodal_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy-coded media decode: synthesize a single-frame GIF89a per
    document (``functions/mediacodec.py::synth_gif`` — logical screen
    descriptor, 256-entry color table, graphic control extension, and a
    HAND-WRITTEN variable-code-width LZW encoder), plant a structural
    corruption on every 11th doc (alternating: truncated trailer /
    out-of-range LZW min code size), then decode with ``decode_media``:
    block walk, sub-block deframing, full LZW inflate, the pixel-count
    identity width*height, palette-bounds check, trailer-is-last. Where
    PNG proved zlib-compressed decode, this proves a hand-rolled entropy
    decoder on the executor path — the last representative media shape
    reachable without codec libraries. The oracle recomputes dimensions
    and pixel counts arithmetically and expects exactly the planted docs
    to fail. (The compressed LZW byte count is deliberately NOT an output
    column: entropy-coder output length isn't portable arithmetic.)

    Scale: same posture as multimodal_decode_png — ONE fused mapInPandas
    stage (synth + full LZW decode inside the same Arrow batch, payload
    never crossing the JVM↔Python boundary), payload bytes never
    shuffle, memory bounded by the Arrow batch, parallelism from the
    spread scan.
    """
    docs = load_table(spark, sf_dir, "documents", spread_scan=True).select(
        F.col("doc_id").cast("long").alias("doc_id")
    )

    def synth_decode_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "status": [], "width": [], "height": [],
                "n_colors": [], "pixel_count": [],
            }
            for doc_id in pdf["doc_id"]:
                gif = synth_gif(1 + doc_id % 40, 1 + doc_id % 25, seed=int(doc_id))
                if doc_id % 22 == 0:  # chop the 0x3B trailer byte
                    gif = gif[:-1]
                elif doc_id % 11 == 0:  # invalid LZW min code size (>8)
                    # fixed synth layout: 6 hdr + 7 LSD + 768 GCT + 8 GCE
                    # + 10 image descriptor = offset 799
                    gif = gif[:799] + b"\x0c" + gif[800:]
                out["doc_id"].append(doc_id)
                try:
                    m = decode_media(gif)
                    out["status"].append("ok")
                    out["width"].append(m["width"])
                    out["height"].append(m["height"])
                    out["n_colors"].append(m["n_colors"])
                    out["pixel_count"].append(m["pixel_count"])
                except ValueError:
                    out["status"].append("corrupt")
                    for k in ("width", "height", "n_colors", "pixel_count"):
                        out[k].append(None)
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        synth_decode_batches,
        schema=(
            "doc_id long, status string, width long, height long, "
            "n_colors long, pixel_count long"
        ),
    )


@register(
    "multimodal_decode",
    category="multimodal",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS media_type,
           CASE WHEN doc_id % 2 = 0 THEN CAST(1 + doc_id % 64 AS BIGINT) END AS width,
           CASE WHEN doc_id % 2 = 0 THEN CAST(1 + doc_id % 48 AS BIGINT) END AS height,
           CASE WHEN doc_id % 2 = 1 THEN CAST(8000 * (1 + doc_id % 3) AS BIGINT) END AS sample_rate,
           CASE WHEN doc_id % 2 = 1
                THEN CAST((1 + n_chars % 4000) * 1000 // (8000 * (1 + doc_id % 3)) AS BIGINT)
           END AS duration_ms,
           CASE WHEN doc_id % 2 = 0
                THEN CAST(54 + (1 + doc_id % 48) * ((3 * (1 + doc_id % 64) + 3) // 4 * 4) AS BIGINT)
                ELSE CAST(44 + (1 + n_chars % 4000) * 2 AS BIGINT)
           END AS n_bytes
    FROM documents
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode over codec-free containers: synthesize a valid
    BMP (even doc_id) or 16-bit PCM WAV (odd doc_id) byte stream per
    document, then parse the container headers back with the
    ``decode_media`` dispatcher — magic-byte sniffing, struct field
    extraction, and size-integrity validation against the actual payload.
    The oracle recomputes the same dimensions/rates arithmetically, so a
    parser that misreads any header field hash-mismatches.

    One fused mapInPandas stage: the write-side (container synth) and
    read-side (header parse) of a media lakehouse run back-to-back on
    the same Arrow batch, so the payload never crosses the JVM↔Python
    boundary (round-15 fusion of the former encode → binary column →
    decode pair).

    Scale: a map-side Arrow batch iterator; payload bytes never shuffle,
    memory is bounded by the batch size, and partition parallelism comes
    from the scan (spread to cores — single-row-group testdata would
    otherwise plan one task).
    """
    docs = load_table(spark, sf_dir, "documents", spread_scan=True).select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars")
    )

    def synth_decode_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                if doc_id % 2 == 0:
                    payloads.append(
                        synth_bmp(1 + doc_id % 64, 1 + doc_id % 48, seed=int(doc_id))
                    )
                else:
                    payloads.append(
                        synth_wav(8000 * (1 + doc_id % 3), 1 + n_chars % 4000)
                    )
            metas = [decode_media(p) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": [m["media_type"] for m in metas],
                    "width": [m.get("width") for m in metas],
                    "height": [m.get("height") for m in metas],
                    "sample_rate": [m.get("sample_rate") for m in metas],
                    "duration_ms": [m.get("duration_ms") for m in metas],
                    "n_bytes": [m["n_bytes"] for m in metas],
                }
            )

    return docs.mapInPandas(
        synth_decode_batches,
        schema=(
            "doc_id long, media_type string, width long, height long, "
            "sample_rate long, duration_ms long, n_bytes long"
        ),
    )


# --- perceptual near-dup ----------------------------------------------------
# Planted near-dup structure: docs come in groups of 4 (g = doc_id DIV 4);
# member j = doc_id % 4 renders the group's base image with j-dependent
# bit flips, so within a group the pairwise dHash Hamming distances are
# (j0,j1)=1, (j0,j2)=2, (j1,j2)=1 (near-dups at T=3) while j3 sits 4-6
# bits away from everyone (a planted negative). With T=3 and 4 bands of
# 16 bits, banding is EXACT by pigeonhole: <= 3 differing bits can dirty
# at most 3 bands, so every qualifying pair shares a clean band — the
# banded join finds the same pairs an all-pairs scan would.
PERC_HAMMING_T = 3
_PERC_FLIP_OFFSETS = {1: (0,), 2: (0, 21), 3: (5, 13, 29, 43)}

# Shared by multimodal_dedup_perceptual and multimodal_dedup_audio_fp
# VERBATIM (the sessionize_gap_ids/salted_stitch precedent): both
# fingerprints encode the same planted bits through DIFFERENT real
# decode paths (pixel gradients vs frame-energy gradients), so identical
# pair output is the cross-modal consistency contract — if one
# hash-mismatches and the other doesn't, suspect that modality's
# decode/fingerprint layer.
_PERC_PAIRS_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS j FROM documents
    ),
    bits AS (
        SELECT doc_id, i,
               CASE WHEN ((g % (i + 2)) * 2 < (i + 2)) <> (
                         (j = 1 AND i = g % 64)
                      OR (j = 2 AND (i = g % 64 OR i = (g + 21) % 64))
                      OR (j = 3 AND (i = (g + 5) % 64 OR i = (g + 13) % 64
                                  OR i = (g + 29) % 64 OR i = (g + 43) % 64))
                    ) THEN 1 ELSE 0 END AS bit
        FROM d CROSS JOIN (SELECT unnest(range(0, 64)) AS i)
    ),
    hashes AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN i // 16 = 0 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS b0,
               CAST(SUM(CASE WHEN i // 16 = 1 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS b1,
               CAST(SUM(CASE WHEN i // 16 = 2 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS b2,
               CAST(SUM(CASE WHEN i // 16 = 3 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS b3
        FROM bits GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, band,
               CASE band WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS bv,
               b0, b1, b2, b3
        FROM hashes CROSS JOIN (SELECT unnest(range(0, 4)) AS band)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
              + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) AS BIGINT) AS hamming
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
        + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= {PERC_HAMMING_T}
    """


def _banded_hamming_pairs(hashes: DataFrame) -> DataFrame:
    """Near-dup pairs from a persisted 4x16-bit fingerprint table
    (doc_id, b0..b3): explode into (band, value) bucket keys, equi-join
    on the bucket, verify candidates with exact Hamming distance
    <= PERC_HAMMING_T JVM-side (bit_count(xor)), emit distinct pairs.
    Shared by the image-dHash and audio-fingerprint dedups — one copy
    of the banding/verify plan. Exhaustive at T=3 with 4 bands by
    pigeonhole (<= 3 dirty bits leave >= 1 clean band)."""
    bands = hashes.select(
        "doc_id", "b0", "b1", "b2", "b3",
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("band", "bv"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    ham = sum(
        F.bit_count(F.col(f"a.b{i}").bitwiseXOR(F.col(f"b.b{i}"))) for i in range(4)
    )
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= PERC_HAMMING_T)
    )
    return pairs.distinct()


def _perc_bits(doc_id: int) -> int:
    """The 64 dHash bits doc ``doc_id``'s synthetic image encodes.

    Base bit i of group g: (g % (i+2)) in the lower half of its cycle —
    per-bit periods 2..65, so the combined pattern has period
    lcm(2..65) and band values do not repeat over any realistic corpus
    (a short-period pattern would pile docs into whale buckets). Member
    j then XORs the offsets in _PERC_FLIP_OFFSETS (mod 64, pairwise
    distinct). The oracle recomputes exactly this arithmetic."""
    g, j = doc_id // 4, doc_id % 4
    bits = 0
    for i in range(64):
        if (g % (i + 2)) * 2 < (i + 2):
            bits |= 1 << i
    for off in _PERC_FLIP_OFFSETS.get(j, ()):
        bits ^= 1 << ((g + off) % 64)
    return bits


def _perc_grid(doc_id: int) -> list[list[int]]:
    """Render the 64 bits as a 9x8 gray image: each row walks a ±7 ramp
    from 128, so dHash's gradient sign at (r, c) recovers bit 8r+c."""
    bits = _perc_bits(doc_id)
    grid = []
    for r in range(8):
        v, row = 128, [128]
        for c in range(8):
            v += 7 if (bits >> (8 * r + c)) & 1 else -7
            row.append(v)
        grid.append(row)
    return grid


def _fingerprint_table(spark, sf_dir: str, synth_fn, fp_fn) -> DataFrame:
    """Persisted (doc_id, b0..b3, n_bytes) fingerprint table — the single
    copy of the fused one-stage mapInPandas scaffolding shared by the image and
    audio perceptual dedups: ``synth_fn(doc_id) -> bytes`` renders each
    document's media payload, ``fp_fn(bytes) -> 4x16-bit bands``
    REAL-decodes it back and fingerprints the content. Persisted because
    the bands self-join consumes the table on BOTH sides — without the
    cache the synth+decode+fingerprint chain (and the documents scan
    under it) re-executes per side. At warehouse scale this is the
    materialized fingerprint table every perceptual-dedup pipeline
    checkpoints; it is 6 ints per doc.

    n_bytes is the MEASURED payload size — the column the canonical-pick
    accounting sums, measured in the same batch pass so the
    reclaimed-bytes report can never drift from what the synth actually
    produced. It is ALWAYS computed (one long per doc) so every consumer
    builds the IDENTICAL plan: Spark's CacheManager then serves the pair
    queries and the canonical pick from ONE cache entry per modality
    instead of near-twin with/without-bytes entries that double the
    decode work and cache memory in a full-sweep session (r10 advice);
    pair consumers simply project n_bytes away."""
    docs = load_table(spark, sf_dir, "documents", spread_scan=True).select(
        F.col("doc_id").cast("long").alias("doc_id")
    )

    def synth_hash_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        # Round-15 fusion: synth + decode + fingerprint in ONE Python
        # stage — the rendered payload is consumed by fp_fn in the same
        # batch loop, so the blob bytes never cross the JVM↔Python
        # boundary (the former two-stage form Arrow-serialized every
        # payload out of and back into Python purely to re-enter the
        # next mapInPandas).
        for pdf in batches:
            payloads = [synth_fn(int(d)) for d in pdf["doc_id"]]
            bands = [fp_fn(p) for p in payloads]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                **{f"b{i}": [b[i] for b in bands] for i in range(4)},
                "n_bytes": [len(p) for p in payloads],
            })

    return tracked_persist(
        docs.mapInPandas(
            synth_hash_batches,
            schema="doc_id long, b0 long, b1 long, b2 long, b3 long, n_bytes long",
        )
    )


def _perc_image_synth(doc_id: int) -> bytes:
    return synth_bmp_gray(_perc_grid(doc_id))


def _perc_image_fp(payload: bytes) -> tuple[int, int, int, int]:
    return dhash_bands(bmp_gray_grid(payload))


def _perc_audio_synth(doc_id: int) -> bytes:
    return synth_wav_pcm(8000, _audio_fp_samples(doc_id))


def _perc_audio_fp(payload: bytes) -> tuple[int, int, int, int]:
    return energy_delta_bands(wav_pcm_samples(payload), AUDIO_FP_FRAME)


@register(
    "multimodal_dedup_perceptual",
    category="multimodal",
    bench=True,
    oracle=_PERC_PAIRS_ORACLE,
)
def multimodal_dedup_perceptual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate media pairs: dHash over REAL decoded
    pixels, Hamming-matched via a band-bucketed self-join — the
    resized/re-encoded/brightness-shifted-copy catcher that byte-digest
    dedup (``multimodal_dedup_digest``) structurally cannot be.

    Pipeline: synthesize a 9x8 gray BMP per document whose pixel ramps
    encode arithmetically-derivable gradient signs (mapInPandas), decode
    the pixels back (``bmp_gray_grid`` — container validation + pixel
    extraction), average-pool + difference-hash to 64 bits
    (``dhash_bands``), split into 4x16-bit bands, equi-join on
    (band, value), verify candidates with exact Hamming distance <= 3
    JVM-side (``bit_count(xor)``) and emit distinct pairs.

    With threshold 3 and 4 bands the banded join is provably exhaustive
    (pigeonhole: 3 dirty bits leave >= 1 clean band), so the oracle —
    which recomputes the planted bits arithmetically and bands the same
    way — is equality, not approximation.

    Scale: the only shuffle keys are 16-bit band values + doc ids; pixel
    payloads never leave their scan partition (same posture as the
    MinHash-LSH family, ``operators/dedup.py``). A whale band (a
    corpus-wide boilerplate image) explodes |b|²/2 pairs in the band
    join (dedup_skew_probe.py); the planted pattern's per-bit periods
    (2..65, combined lcm astronomically large) keep testdata buckets
    tiny — measured in scale_probe.py."""
    hashes = _fingerprint_table(spark, sf_dir, _perc_image_synth, _perc_image_fp)
    return _banded_hamming_pairs(hashes)


AUDIO_FP_FRAME = 64          # PCM samples per energy frame
_AUDIO_FP_BASE_AMP = 16500   # walk start; ±250 × 64 steps stays in (0, 32767)
_AUDIO_FP_STEP = 250


def _audio_fp_samples(doc_id: int) -> list[int]:
    """Render ``_perc_bits(doc_id)`` as mono 16-bit PCM: 65 frames of a
    square wave whose amplitude walks ±{step} from {base}, so the
    energy-delta sign between adjacent frames recovers bit f exactly
    (constant |sample| per frame makes E_f = frame·A_f², monotone in
    A_f)."""
    bits = _perc_bits(doc_id)
    amps, a = [], _AUDIO_FP_BASE_AMP
    amps.append(a)
    for f in range(64):
        a += _AUDIO_FP_STEP if (bits >> f) & 1 else -_AUDIO_FP_STEP
        amps.append(a)
    samples: list[int] = []
    for a in amps:
        samples.extend(a if i % 2 == 0 else -a for i in range(AUDIO_FP_FRAME))
    return samples


@register(
    "multimodal_dedup_audio_fp",
    category="multimodal",
    bench=True,
    oracle=_PERC_PAIRS_ORACLE,
)
def multimodal_dedup_audio_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate AUDIO pairs: chromaprint-style
    energy-delta fingerprint over REAL decoded PCM, Hamming-matched via
    the same band-bucketed self-join as the image dHash — the
    re-encoded/gain-shifted-copy catcher for the audio modality.

    Pipeline: synthesize a mono 16-bit PCM WAV per document whose
    square-wave amplitude walk encodes arithmetically-derivable
    loudness gradients (mapInPandas), decode the samples back
    (``wav_pcm_samples`` — container validation + PCM extraction),
    frame into {AUDIO_FP_FRAME}-sample windows and difference-hash the
    exact integer frame energies to 64 bits (``energy_delta_bands`` —
    gain- and phase-invariant), then ``_banded_hamming_pairs``.

    Shares ``multimodal_dedup_perceptual``'s oracle VERBATIM: both
    fingerprints encode the same planted bits through different real
    decode paths, so identical pair output is the cross-modal
    consistency contract (the sessionize_gap_ids/salted_stitch
    precedent — a mismatch on one indicts that modality's decoder).

    Scale: identical posture to the image twin — PCM payloads never
    leave their scan partition; the shuffle carries 16-bit band keys +
    ids; the fingerprint table is the persisted checkpoint."""
    hashes = _fingerprint_table(spark, sf_dir, _perc_audio_synth, _perc_audio_fp)
    return _banded_hamming_pairs(hashes)


# Per-document synthetic media sizes, derived from the container layouts
# (NOT free parameters): the 9x8 gray BMP is 54 header bytes + 8 rows of
# 28-byte stride (9 px * 3 B padded to 4), the fingerprint WAV is the
# 44-byte header + 65 frames * AUDIO_FP_FRAME samples * 2 bytes. The
# canonical-pick oracle uses these constants while the Spark side MEASURES
# len(payload) in-batch — agreement is part of the hash match, and
# test_perc_media_payload_sizes_match_constants pins the derivation.
from hyperloglog_pyspark_spark.functions.mediacodec import (  # noqa: E402
    BMP_HEADER_LEN,
    WAV_HEADER_LEN,
    bmp_row_stride,
)
from hyperloglog_pyspark_spark.operators.dedup import _cc_oracle_ctes  # noqa: E402

PERC_IMG_BYTES = BMP_HEADER_LEN + bmp_row_stride(9) * 8
PERC_AUD_BYTES = WAV_HEADER_LEN + 65 * AUDIO_FP_FRAME * 2
PERC_MEDIA_BYTES = PERC_IMG_BYTES + PERC_AUD_BYTES


@register(
    "multimodal_dedup_canonical",
    category="multimodal",
    bench=True,
    oracle=f"""
    WITH RECURSIVE pairs AS ({_PERC_PAIRS_ORACLE}),
    {_cc_oracle_ctes()}
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_doc,
           CAST({PERC_MEDIA_BYTES} AS BIGINT) AS kept_bytes,
           CAST((COUNT(*) - 1) * {PERC_MEDIA_BYTES} AS BIGINT) AS reclaimed_bytes
    FROM comp GROUP BY cluster_id
    """,
)
def multimodal_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one-per-cluster for perceptual MEDIA dedup: connected
    components over the CROSS-MODAL pair graph (the union of the image
    dHash and audio energy-fingerprint near-dup pairs — a doc is a dup
    if EITHER modality flags it), keeper = MIN(doc_id) per cluster (the
    first-ingested copy, the convention streaming admission preserves),
    and byte accounting from the MEASURED payload sizes — the row a
    media curation pipeline writes: cluster → survivor + storage
    reclaimed. Closes the loop the r9 family opened: pairs → clusters →
    keeper election, the ``dedup_canonical_pick`` pattern applied to
    media (``operators/curation.py``).

    The two modalities plant identical pair sets (the cross-modal
    contract both pair queries share), so the union is exactly
    ``_PERC_PAIRS_ORACLE``'s graph — but the engine still computes BOTH
    routes and unions them: a decoder regression that splits the two
    pair sets shows up here as extra/missing clusters, not silence.

    Scale: components run on the pair graph (≪ corpus — that is the
    banding's job); per-doc byte rows join the node-sized component map
    via broadcast; election + accounting is one max-of-struct/sum
    aggregation per cluster, no corpus-scale window. The fingerprint
    tables are the persisted checkpoints; payloads never leave their
    scan partitions."""
    from hyperloglog_pyspark_spark.operators.dedup import connected_components

    img = _fingerprint_table(spark, sf_dir, _perc_image_synth, _perc_image_fp)
    aud = _fingerprint_table(spark, sf_dir, _perc_audio_synth, _perc_audio_fp)
    pairs = (
        _banded_hamming_pairs(img)
        .select("doc_a", "doc_b")
        .union(_banded_hamming_pairs(aud).select("doc_a", "doc_b"))
    )
    comp = connected_components(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    )
    media_bytes = (
        img.select("doc_id", F.col("n_bytes").alias("img_bytes"))
        .join(aud.select("doc_id", F.col("n_bytes").alias("aud_bytes")), "doc_id")
        .select("doc_id", (F.col("img_bytes") + F.col("aud_bytes")).alias("n_bytes"))
    )
    m = media_bytes.join(
        F.broadcast(comp.withColumnRenamed("node", "doc_id")), "doc_id"
    )
    # keeper = MIN(doc_id): min-of-struct carries the keeper's bytes along
    best = F.min(F.struct(F.col("doc_id"), F.col("n_bytes")))
    return (
        m.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("n_bytes").alias("total_bytes"),
            best.alias("c"),
        )
        .select(
            F.col("component").alias("cluster_id"),
            "n_members",
            F.col("c.doc_id").alias("canonical_doc"),
            F.col("c.n_bytes").alias("kept_bytes"),
            (F.col("total_bytes") - F.col("c.n_bytes")).alias("reclaimed_bytes"),
        )
    )
