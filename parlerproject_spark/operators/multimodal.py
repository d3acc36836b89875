"""Multimodal columns: media as opaque binary + typed metadata
(north-star operator family; reference context: the image corpus is
1,071,966 files / 252.76 GB fetched by key,
analysis/preview_file_downloads.ipynb cells 3-4, and media metadata
is ExifTool JSON).

Design for 100 TB: media BYTES live in a BinaryType column colocated
with their metadata struct — one row per asset, partition sizing by
`sum(length(content))` not row count. Decode / feature-extract /
resize / frame-sample run as Arrow-batched `mapInPandas` stages so
image libraries (not present in this container — see STUB notes)
process a batch per Python roundtrip.

The on-disk fake format ("IMG1" header + dims + payload) makes the
whole pipeline — schema, batch shape, partitioning, error taxonomy —
real and testable without PIL/ffmpeg; `_decode_real` is the single
clearly-marked seam where an image library plugs in.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_MAGIC = b"IMG1"

# asset_id's type is derived from the input id column at call time
# (ADVICE r2: hardcoding `asset_id long` miscasts string doc ids);
# these hold the fixed tail of each output schema.
_FEATURE_TAIL = ("width int, height int, n_bytes long, "
                 "aspect double, phash long, decode_status string")
_RESIZE_TAIL = ("width int, height int, new_width int, "
                "new_height int, content binary, resize_status string")


def _id_schema(df: DataFrame, id_col: str, tail: str) -> str:
    return f"asset_id {df.schema[id_col].dataType.simpleString()}, {tail}"


def synth_media(df: DataFrame, *, id_col: str = "doc_id",
                seed_col: str = "text") -> DataFrame:
    """Attach a deterministic fake media column + metadata struct:
    content = IMG1 | width | height | md5-stream payload. Stands in
    for `fetch_objects` content (sources/fetch.py) in tests.

    Dims derive from md5 hex substrings (not Spark's murmur3 hash) so
    they are CROSS-ENGINE deterministic: a SQL oracle can replay
    width/height as ('0x'||substr(md5(text),1,8))::BIGINT % 1920 + 16
    and hash-verify every downstream dimension computation
    (media_resize's target-size arithmetic is oracled this way)."""
    width = (F.conv(F.substring(F.md5(F.col(seed_col)), 1, 8), 16, 10)
             .cast("long") % 1920 + 16).cast("int")
    height = (F.conv(F.substring(F.md5(F.col(seed_col)), 9, 8), 16, 10)
              .cast("long") % 1080 + 16).cast("int")
    header = F.concat(F.lit(_MAGIC), _pack_int(width), _pack_int(height))
    payload = F.encode(F.repeat(F.md5(F.col(seed_col)), 4), "ISO-8859-1")
    return (df.withColumn("width", width).withColumn("height", height)
            .withColumn("content", F.concat(header, payload))
            .withColumn("media_meta", F.struct(
                F.col("width"), F.col("height"),
                F.lit("image/fake").alias("mime")))
            .drop("width", "height"))


def _pack_int(col):
    """Big-endian int32 → 4 binary bytes, as Column arithmetic."""
    b = [F.chr(F.shiftright(col, s).bitwiseAND(F.lit(255))) for s in (24, 16, 8, 0)]
    return F.encode(F.concat(*b), "ISO-8859-1")


def _decode_fake(content: bytes) -> tuple[int, int, str]:
    if content is None or len(content) < 12 or content[:4] != _MAGIC:
        return 0, 0, "decode_error"
    w, h = struct.unpack(">ii", content[4:12])
    return w, h, "success"


def _decode_real(content: bytes):
    """The seam for a real image decoder (PIL/turbojpeg). Not
    available in this container — STUB by design."""
    raise NotImplementedError(
        "real image decode requires an image library (PIL/libjpeg); "
        "install one and route decode_features(backend='real')")


def decode_features(assets: DataFrame, *, id_col: str = "doc_id",
                    content_col: str = "content",
                    backend: str = "fake") -> DataFrame:
    """Binary media → typed feature rows via one mapInPandas stage.
    Emits width/height/aspect/byte-count plus a 64-bit content hash
    (the dedup key for exact media dedup), with the reference's
    status-taxonomy column instead of task failures."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, content in zip(pdf[id_col], pdf[content_col]):
                if backend == "real":
                    _decode_real(content)  # NotImplementedError, by design
                w, h, status = _decode_fake(content)
                n = len(content) if content is not None else 0
                phash = int.from_bytes(
                    hashlib.md5(content or b"").digest()[:8], "big", signed=True)
                rows.append((aid, w, h, n,
                             (w / h) if h else 0.0, phash, status))
            yield pd.DataFrame(rows, columns=[
                "asset_id", "width", "height", "n_bytes", "aspect",
                "phash", "decode_status"])

    return (assets.select(F.col(id_col), F.col(content_col))
            .mapInPandas(run, _id_schema(assets, id_col, _FEATURE_TAIL)))


def resize_media(assets: DataFrame, *, id_col: str = "doc_id",
                 content_col: str = "content", target_width: int = 256,
                 backend: str = "fake") -> DataFrame:
    """Aspect-preserving resize as a mapInPandas stage: target
    height = round(h * target_width / w). The fake backend rewrites
    the IMG1 header to the new dims and keeps the payload (a real
    resampler — PIL.Image.resize — plugs into the same seam as
    _decode_real); everything around the pixel math — batch shape,
    binary schema, error taxonomy, partition sizing by bytes — is the
    real, tested surface."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, content in zip(pdf[id_col], pdf[content_col]):
                if backend == "real":
                    _decode_real(content)  # NotImplementedError, by design
                w, h, status = _decode_fake(content)
                if status != "success" or w <= 0:
                    rows.append((aid, w, h, 0, 0, None, "resize_error"))
                    continue
                nw = target_width
                # HALF_UP via pure integer arithmetic — floor((2hw'+w)
                # / 2w) == floor(h*w'/w + 1/2). Python's round() is
                # banker's and float h*w'/w can land a half-boundary;
                # the integer form is exact, engine-independent, and
                # SQL-replayable as (2*h*tw + w) // (2*w).
                nh = max(1, (2 * h * target_width + w) // (2 * w))
                out = (_MAGIC + struct.pack(">ii", nw, nh) + content[12:])
                rows.append((aid, w, h, nw, nh, out, "success"))
            yield pd.DataFrame(rows, columns=[
                "asset_id", "width", "height", "new_width", "new_height",
                "content", "resize_status"])

    return (assets.select(F.col(id_col), F.col(content_col))
            .mapInPandas(run, _id_schema(assets, id_col, _RESIZE_TAIL)))


_AUD_MAGIC = b"AUD1"
_AUD_HEADER = 8  # magic + big-endian int32 sample rate


def synth_audio(df: DataFrame, *, id_col: str = "doc_id",
                seed_col: str = "text") -> DataFrame:
    """Deterministic fake audio column: AUD1 | 8000 Hz rate | one
    byte per sample (md5-derived). One row per asset with (content, media_meta)
    — the audio twin of synth_media."""
    payload = F.encode(F.repeat(F.md5(F.col(seed_col)), 8), "ISO-8859-1")
    header = F.concat(F.lit(_AUD_MAGIC), _pack_int(F.lit(8000)))
    return (df.withColumn("content", F.concat(header, payload))
            .withColumn("media_meta", F.struct(
                F.lit(8000).alias("sample_rate"),
                F.lit("audio/fake").alias("mime"))))


def audio_chunks(assets: DataFrame, *, id_col: str = "doc_id",
                 content_col: str = "content",
                 chunk_samples: int = 64) -> DataFrame:
    """Fixed-size audio chunking as PURE Column algebra — no Python:
    chunk count from the byte length, chunk indices exploded, each
    chunk's bytes sliced with substring on the binary column. The
    per-chunk decode/feature step would then be a decode_features-
    style mapInPandas over these (asset, chunk) rows; the chunking
    itself never leaves the JVM. Columns: <id_col>, chunk_no,
    start_sample, chunk (binary)."""
    n_samples = F.length(F.col(content_col)) - _AUD_HEADER
    n_chunks = F.ceil(n_samples / F.lit(chunk_samples)).cast("int")
    idx = F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_no")
    start = F.col("chunk_no") * chunk_samples
    chunk = F.expr(
        f"substring({content_col}, {_AUD_HEADER} + 1 + chunk_no * {chunk_samples}, "
        f"{chunk_samples})")
    return (assets.filter(n_samples > 0)
            .select(F.col(id_col), F.col(content_col), idx)
            .select(F.col(id_col), F.col("chunk_no"),
                    start.alias("start_sample"), chunk.alias("chunk")))


def frame_sample(videos: DataFrame, *, id_col: str = "doc_id",
                 n_frames_col: str = "n_frames", every: int = 10) -> DataFrame:
    """Frame sampling as pure relational algebra: explode the sampled
    frame indices (0, every, 2·every, …) — the actual frame DECODE
    would be a decode_features-style mapInPandas over (asset, frame_no)
    rows. Columns: <id_col>, frame_no."""
    idxs = F.sequence(F.lit(0), F.col(n_frames_col) - 1, F.lit(every))
    return (videos.select(F.col(id_col), F.explode(idxs).alias("frame_no")))


def scene_cuts(videos: DataFrame, *, id_col: str = "doc_id",
               n_frames_col: str = "n_frames",
               every: int = 10) -> DataFrame:
    """Shot-boundary (scene-cut) detection over sampled frames: a cut
    is declared wherever consecutive sampled frames' perceptual
    hashes differ in more than 20 of 60 bits — the
    frame-segmentation pass a video-training pipeline runs before
    clip extraction. Composes frame_sample (relational frame-index
    explode) with a per-frame pHash and ONE lag window per video.

    The per-frame hash here is the deterministic FAKE of the decode
    seam (md5 of ('scene-v1', asset, frame_no) — 15 hex chars = 60 bits,
    engine-portable): a real pHash from a decoded frame plugs into
    the same int64 contract at decode_features' `_decode_real` seam
    without touching the window or the cut logic, which is the part
    this engine owns. Scale: explode + narrow maps + one
    (video)-keyed window — a keyed sort, never global; hamming is
    JVM bit_count(xor), zero Python.

    Columns: <id_col>, frame_no, prev_frame, hamming, is_cut
    (first frame of each video: prev/hamming null, is_cut false).
    """
    frames = frame_sample(videos, id_col=id_col,
                          n_frames_col=n_frames_col, every=every)
    ph = F.conv(F.substring(F.md5(F.concat_ws(
        ":", F.lit("scene-v1"), F.col(id_col).cast("string"),
        F.col("frame_no").cast("string"))), 1, 15), 16, 10).cast("bigint")
    w = Window.partitionBy(id_col).orderBy(F.col("frame_no").asc())
    hp = frames.withColumn("__ph", ph).withColumn(
        "__prev", F.lag("__ph").over(w)).withColumn(
        "prev_frame", F.lag("frame_no").over(w))
    ham = F.bit_count(F.col("__ph").bitwiseXOR(F.col("__prev")))
    return (hp.select(
        F.col(id_col), "frame_no", "prev_frame",
        ham.alias("hamming"),
        F.coalesce(ham > 20, F.lit(False)).alias("is_cut")))


def phash_near_dup(assets: DataFrame, *, id_col: str = "asset_id",
                   phash_col: str = "phash", max_hamming: int = 4,
                   bands: int = 4) -> DataFrame:
    """Perceptual-hash near-duplicate pairs: assets whose 64-bit
    pHash differs in at most `max_hamming` bits. The media dedup op —
    decode_features already emits a phash column; a real perceptual
    hash (pHash/aHash from an image library) plugs into the same
    int64 contract at the `_decode_real` seam.

    Banded hamming join (the SimHash trick applied to media): split
    the 64-bit hash into `bands` equal bit-bands; two hashes within
    hamming distance < bands must agree EXACTLY on at least one band
    (pigeonhole — max_hamming must be < bands for the guarantee), so
    candidates are an equi-join on (band_no, band_value), never a
    corpus² cross join, and each candidate pair is verified with
    xor + bit_count. Scale: one exchange on the band key; cost tracks
    near-duplicate density. Exact-duplicate hubs (the same phash
    thousands of times) would quadratically blow a band bucket —
    dedup EXACT matches first (exact_dedup on phash), then run this
    on distinct hashes. Columns: id_a, id_b, hamming.
    """
    if max_hamming >= bands:
        raise ValueError("banded guarantee needs max_hamming < bands")
    width = 64 // bands
    mask = (1 << width) - 1
    band = F.explode(F.array(*[
        F.struct(F.lit(b).alias("band_no"),
                 F.shiftrightunsigned(F.col(phash_col), b * width)
                 .bitwiseAND(F.lit(mask)).alias("band_val"))
        for b in range(bands)])).alias("band")
    indexed = (assets.select(F.col(id_col).alias("pid"),
                             F.col(phash_col).alias("ph"), band)
               .select("pid", "ph", "band.band_no", "band.band_val"))
    a, b = indexed.alias("a"), indexed.hint("shuffle_hash").alias("b")
    cand = (a.join(b, (F.col("a.band_no") == F.col("b.band_no"))
                   & (F.col("a.band_val") == F.col("b.band_val"))
                   & (F.col("a.pid") < F.col("b.pid")))
            .select(F.col("a.pid").alias("id_a"),
                    F.col("b.pid").alias("id_b"),
                    F.bit_count(F.col("a.ph").bitwiseXOR(F.col("b.ph")))
                    .alias("hamming"))
            .distinct())  # same pair can collide in several bands
    return cand.filter(F.col("hamming") <= max_hamming)
