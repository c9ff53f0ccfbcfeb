"""Multimodal column plumbing (north-star X5).

Media is an opaque ``binary`` column plus a typed metadata struct
(schemas.MEDIA_SCHEMA) — the lakehouse-native layout: bytes stay in
parquet/Iceberg, metadata is queryable columns, decode happens ONLY inside
Arrow-batched ``mapInPandas`` stages so bytes never round-trip through
Python row objects.

Decode is REAL for the formats a pure-stdlib parser covers: RIFF/WAV
(PCM16), 24-bit BMP, and the IVF video container (libvpx/AV1's
test-stream format — 32-byte DKIF header + size/PTS-prefixed frames),
with matching synthesizers (``synth_media_table``) so the
decode/resize/frame-sample pipelines run end-to-end on genuine binaries
— ``q_multimodal_decode`` / ``q_multimodal_resize_real`` /
``q_multimodal_frames_real``. COMPRESSED codecs (JPEG/MP3/H.264 frame
payloads) genuinely need av/ffmpeg/PIL, absent here: that single
``NotImplementedError`` remains, shadowed by the container-level real
paths and the deterministic fakes that keep the Spark-side contract —
schema, batch shape, 1→N cardinality — real and tested. The driver's
testdata has no binary table, so the oracle-checked metadata query
derives media from ``documents`` (text bytes as payload)."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from breweries_case_spark.io.reader import load_table

MODALITIES = ("image", "audio", "video")

def build_media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a MEDIA_SCHEMA-shaped table from documents: text bytes play
    the opaque payload; modality assigned round-robin; metadata filled with
    deterministic values."""
    d = load_table(spark, sf_dir, "documents")
    modality = F.element_at(
        F.array(*[F.lit(m) for m in MODALITIES]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return d.select(
        F.col("doc_id").alias("media_id"),
        modality.alias("modality"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.struct(
            F.concat(F.lit("application/x-fake-"), modality).alias("mime"),
            F.lit(64).cast("int").alias("width"),
            F.lit(64).cast("int").alias("height"),
            (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
            F.lit(16000).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )


def synth_media_table(
    spark: SparkSession, sf_dir: str, modality: str | None = None
) -> DataFrame:
    """Media table whose payloads are REAL binaries the stdlib codecs
    above can round-trip: audio docs carry a deterministic sawtooth
    PCM16 WAV (period/length derived from doc_id/n_chars), image docs an
    8×8 24-bit BMP whose pixels hash (x, y, doc_id), video docs an IVF
    container of 4 BMP frames at 250 ms cadence (frame pixels vary with
    PTS so sampled frames are distinguishable). Built in mapInPandas so
    bytes are assembled batch-wise Python-side and travel to the JVM as
    Arrow binary, never row objects.

    ``modality``: a doc's modality is a pure function of doc_id (its
    non-negative residue mod 3, Python's ``%``), so single-modality
    consumers pass it here and the row filter runs BEFORE the opaque
    generator — Spark cannot push a filter on the generator's output
    through mapInPandas, so without it every per-modality hash family
    would pay full three-modality payload synthesis (incl. the 4-frame
    IVF containers) and discard two thirds of it. Rows are identical to
    filtering the full table."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    if modality is not None:
        # pmod, not %: Spark's % keeps the dividend's sign (-1 % 3 == -1)
        m = MODALITIES.index(modality)
        d = d.filter(F.pmod(F.col("doc_id"), F.lit(3)) == m)

    def run(batches):
        for pdf in batches:
            out = {"media_id": [], "modality": [], "content": []}
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                m = MODALITIES[int(doc_id) % 3]
                if m == "audio":
                    period = int(doc_id) % 50 + 2
                    n = min(int(n_chars), 400)
                    samples = [
                        ((i % period) * 1200 - period * 600) for i in range(n)
                    ]
                    content = make_wav(samples)
                elif m == "image":
                    content = make_bmp(
                        8, 8,
                        lambda x, y, s=int(doc_id): (
                            (x * 31 + s) % 256,
                            (y * 57 + s) % 256,
                            (x * y + s) % 256,
                        ),
                    )
                else:
                    # real IVF container: 4 BMP frames at 250 ms cadence
                    frames = [
                        (
                            ms,
                            make_bmp(
                                8, 8,
                                lambda x, y, s=int(doc_id), k=ms: (
                                    (x * 31 + s + k) % 256,
                                    (y * 57 + s) % 256,
                                    (x * y + s + k) % 256,
                                ),
                            ),
                        )
                        for ms in (0, 250, 500, 750)
                    ]
                    content = make_ivf(frames, 8, 8)
                out["media_id"].append(int(doc_id))
                out["modality"].append(m)
                out["content"].append(content)
            yield pd.DataFrame(out)

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("modality", T.StringType(), False),
            T.StructField("content", T.BinaryType(), False),
        ]
    )
    return d.mapInPandas(run, schema)


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("features", T.ArrayType(T.DoubleType()), False),
    ]
)


# --- real pure-stdlib codecs: RIFF/WAV (PCM16 mono), BMP (24-bit), and ----
# the IVF video container (DKIF). Public formats, no external libs;
# only COMPRESSED payloads (JPEG/MP3/H.264) would need a codec library.


def make_wav(samples: list[int], sample_rate: int = 16000) -> bytes:
    """Encode mono PCM16 samples as a canonical RIFF/WAVE file. Sample
    bytes are packed explicitly little-endian (``<h``), as the WAV spec
    requires — not via array.array('h'), whose byte order follows the
    host and would emit non-spec PCM16 on a big-endian machine."""
    import struct

    data = struct.pack(f"<{len(samples)}h", *samples)
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def parse_wav(content: bytes) -> tuple[int, list[int]]:
    """Decode a mono PCM16 RIFF/WAVE file → (sample_rate, samples). Walks
    the chunk list like a real parser (fmt anywhere before data, odd-size
    padding) and rejects compressed/stereo/other-width streams. Samples
    are unpacked explicitly little-endian per spec (see make_wav)."""
    import struct

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, rate, samples = 12, None, None
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        size = struct.unpack("<I", content[pos + 4 : pos + 8])[0]
        body = content[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt, ch, rate, _, _, bits = struct.unpack("<HHIIHH", body[:16])
            if (fmt, ch, bits) != (1, 1, 16):
                raise ValueError(f"unsupported WAV format {(fmt, ch, bits)}")
        elif cid == b"data":
            samples = list(struct.unpack(f"<{len(body) // 2}h", body[: len(body) // 2 * 2]))
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or samples is None:
        raise ValueError("WAV missing fmt or data chunk")
    return rate, samples


def make_bmp(width: int, height: int, pixel_fn) -> bytes:
    """Encode a 24-bit uncompressed bottom-up BMP; ``pixel_fn(x, y)`` →
    (r, g, b)."""
    import struct

    row_pad = (-(width * 3)) % 4
    rows = []
    for y in range(height - 1, -1, -1):
        row = bytearray()
        for x in range(width):
            r, g, b = pixel_fn(x, y)
            row += bytes((b, g, r))
        row += b"\x00" * row_pad
        rows.append(bytes(row))
    data = b"".join(rows)
    return (
        b"BM"
        + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(data), 2835, 2835, 0, 0)
        + data
    )


def make_ivf(
    frames: list[tuple[int, bytes]], width: int, height: int
) -> bytes:
    """Encode timestamped frame payloads as an IVF container — the
    public fixed-layout format libvpx/AV1 test streams use (32-byte
    "DKIF" file header; per-frame 12-byte size+PTS header). Timebase is
    1/1000 so PTS is in milliseconds. Payload codec here is our 24-bit
    BMP (FourCC "BMP "), keeping the whole stack stdlib-decodable; a
    real VP9/AV1 payload changes only the FourCC and the frame bytes."""
    import struct

    head = (
        b"DKIF"
        + struct.pack("<HH", 0, 32)  # version, header size
        + b"BMP "
        + struct.pack("<HH", width, height)
        + struct.pack("<II", 1000, 1)  # timebase den, num → PTS in ms
        + struct.pack("<II", len(frames), 0)
    )
    body = b"".join(
        struct.pack("<IQ", len(payload), pts) + payload
        for pts, payload in frames
    )
    return head + body


def parse_ivf(content: bytes) -> tuple[int, int, list[tuple[int, bytes]]]:
    """Decode an IVF container → (width, height, [(pts_ms, payload)]).
    Walks the frame headers like a real demuxer (size-prefixed, no
    index); validates magic, header size, and the 1/1000 timebase this
    encoder emits; rejects truncated frames."""
    import struct

    if content[:4] != b"DKIF":
        raise ValueError("not an IVF stream")
    _, hdr_size = struct.unpack("<HH", content[4:8])
    width, height = struct.unpack("<HH", content[12:16])
    den, num = struct.unpack("<II", content[16:24])
    n_frames = struct.unpack("<I", content[24:28])[0]
    if (den, num) != (1000, 1):
        raise ValueError(f"unsupported IVF timebase {num}/{den}")
    frames: list[tuple[int, bytes]] = []
    pos = hdr_size
    for _ in range(n_frames):
        if pos + 12 > len(content):
            raise ValueError("truncated IVF frame header")
        size, pts = struct.unpack("<IQ", content[pos : pos + 12])
        payload = content[pos + 12 : pos + 12 + size]
        if len(payload) != size:
            raise ValueError("truncated IVF frame payload")
        frames.append((int(pts), payload))
        pos += 12 + size
    return width, height, frames


def parse_bmp(content: bytes) -> tuple[int, int, list[tuple[int, int, int]]]:
    """Decode a 24-bit uncompressed BMP → (width, height, row-major
    top-down pixel list)."""
    import struct

    if content[:2] != b"BM":
        raise ValueError("not a BMP stream")
    offset = struct.unpack("<I", content[10:14])[0]
    _, width, height, _, bpp = struct.unpack("<IiiHH", content[14:30])
    comp = struct.unpack("<I", content[30:34])[0]
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp})")
    row_pad = (-(width * 3)) % 4
    bottom_up = height > 0
    height = abs(height)
    rows = []
    pos = offset
    for _ in range(height):
        row = []
        for _ in range(width):
            b, g, r = content[pos], content[pos + 1], content[pos + 2]
            row.append((r, g, b))
            pos += 3
        pos += row_pad
        rows.append(row)
    if bottom_up:
        rows.reverse()
    return width, height, [px for row in rows for px in row]


def _decode_real(content: bytes, modality: str) -> list[float]:
    """REAL decode/feature-extract for the formats a pure-stdlib parser
    can handle: RIFF/WAV audio (n_samples, rate, mean|amplitude|, peak),
    24-bit BMP images (width, height, mean intensity, peak), and IVF
    video containers (n_frames, last PTS ms, width, height). Compressed
    codecs (JPEG/MP3/H.264) would need av/ffmpeg/PIL, absent here —
    that single branch remains the clearly-marked NotImplementedError."""
    if content[:4] == b"RIFF":
        rate, samples = parse_wav(content)
        n = len(samples)
        mean_abs = sum(abs(s) for s in samples) / n if n else 0.0
        peak = float(max((abs(s) for s in samples), default=0))
        return [float(n), float(rate), mean_abs, peak]
    if content[:2] == b"BM":
        w, h, px = parse_bmp(content)
        flat = [c for p in px for c in p]
        mean_px = sum(flat) / len(flat) if flat else 0.0
        return [float(w), float(h), mean_px, float(max(flat, default=0))]
    if content[:4] == b"DKIF":
        w, h, frames = parse_ivf(content)
        last_pts = float(frames[-1][0]) if frames else 0.0
        return [float(len(frames)), last_pts, float(w), float(h)]
    raise NotImplementedError(
        "compressed media decode (JPEG/MP3/H.264 ...) requires codec "
        "libraries (av/ffmpeg/PIL) not installed; WAV, BMP and IVF "
        "demux ARE real here"
    )


def _decode_fake(content: bytes, modality: str) -> list[float]:
    """Deterministic fake 4-dim feature: byte stats. Keeps batch shapes and
    types identical to what a real extractor would emit."""
    if not content:
        return [0.0, 0.0, 0.0, 0.0]
    return [
        float(len(content)),
        float(content[0]),
        float(content[-1]),
        float(sum(content[:32]) % 997),
    ]


def extract_features(media: DataFrame, use_real_decode: bool = False) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    mapInPandas: each batch arrives as a pandas DataFrame with the binary
    payload as bytes objects — the decode loop is per-batch Python, the
    transfer is Arrow. Partitioning of the input is preserved; at scale,
    repartition upstream so batches are ~workable-memory-sized
    (content bytes dominate)."""
    decode = _decode_real if use_real_decode else _decode_fake

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf["content"]
                    .map(lambda c: 0 if c is None else len(c))
                    .astype("int64"),
                    "features": [
                        decode(c, m)
                        for c, m in zip(pdf["content"], pdf["modality"])
                    ],
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("resized", T.BinaryType(), False),
    ]
)


def resize_images(
    media: DataFrame,
    width: int = 32,
    height: int = 32,
    use_real_decode: bool = False,
) -> DataFrame:
    """Image resize over the binary column (mapInPandas). The real path
    (``use_real_decode=True``) decodes 24-bit BMP with the stdlib parser,
    nearest-neighbor samples to width×height, and re-encodes BMP — an
    actual image resize, no codec libs. It REQUIRES every image-modality
    payload to be real BMP bytes (synth_media_table-style); any other
    payload — including build_media_table's fake text-byte payloads —
    raises ValueError mid-stage, by design (silently faking a resize of
    undecodable bytes would mask data corruption at scale). The default
    fake path (flag off) handles arbitrary payloads: it emits exactly
    width*height bytes cycled from the source so batch shapes, sizes, and
    types match the real path. Opt-in flag, not environment sniffing."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = width * height
        for pdf in batches:
            pdf = pdf[pdf["modality"] == "image"]
            if use_real_decode:
                resized = []
                for c in pdf["content"]:
                    sw, sh, px = parse_bmp(bytes(c))
                    resized.append(
                        make_bmp(
                            width,
                            height,
                            lambda x, y: px[
                                (y * sh // height) * sw + (x * sw // width)
                            ],
                        )
                    )
            else:
                resized = [
                    bytes(c[i % len(c)] for i in range(n)) if c else bytes(n)
                    for c in pdf["content"]
                ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": width,
                    "height": height,
                    "resized": resized,
                }
            )

    return media.mapInPandas(run, RESIZE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_ms", T.LongType(), False),
        T.StructField("frame", T.BinaryType(), False),
    ]
)


def sample_frames(
    media: DataFrame, every_ms: int = 1000, use_real_decode: bool = False
) -> DataFrame:
    """Video frame sampling (mapInPandas, 1→N rows per video): one frame
    per ``every_ms``. The real path (``use_real_decode=True``) demuxes
    the IVF container: for each ``every_ms`` bucket it emits the first
    frame whose PTS is at-or-after the bucket start — the standard
    "one keyframe per interval" sampler — with the BMP payload intact
    (decodable downstream by ``parse_bmp``). It expects
    ``synth_media_table``-style IVF content and raises on anything else
    (same contract as ``resize_images(use_real_decode=True)``). The fake
    path emits a 16-byte slice per ``duration_ms`` tick over arbitrary
    bytes. Either way the 1→N batch shape (output rows ≠ input rows) is
    exactly what a real frame sampler produces — mapInPandas is the
    right tool because a pandas_udf cannot change cardinality."""
    if use_real_decode:

        def run_real(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                pdf = pdf[pdf["modality"] == "video"]
                out = {
                    "media_id": [],
                    "frame_idx": [],
                    "frame_ms": [],
                    "frame": [],
                }
                for mid, content in zip(pdf["media_id"], pdf["content"]):
                    _, _, frames = parse_ivf(bytes(content or b""))
                    next_bucket = 0
                    idx = 0
                    for pts, payload in frames:  # PTS-ordered by demux
                        if pts >= next_bucket:
                            out["media_id"].append(mid)
                            out["frame_idx"].append(idx)
                            out["frame_ms"].append(pts)
                            out["frame"].append(payload)
                            idx += 1
                            next_bucket = (
                                pts // every_ms + 1
                            ) * every_ms
                yield pd.DataFrame(out)

        return media.mapInPandas(run_real, FRAME_SCHEMA)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf["modality"] == "video"]
            out = {"media_id": [], "frame_idx": [], "frame_ms": [], "frame": []}
            for mid, content, dur in zip(
                pdf["media_id"], pdf["content"], pdf["meta"].map(lambda m: m["duration_ms"])
            ):
                content = content or b""  # nullable binary column
                n_frames = max(1, int(dur) // every_ms)
                for i in range(n_frames):
                    start = (i * 16) % max(1, len(content))
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["frame_ms"].append(i * every_ms)
                    out["frame"].append(bytes(content[start : start + 16]))
            yield pd.DataFrame(out)

    return media.mapInPandas(run, FRAME_SCHEMA)


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize pipeline over image-modality media (oracle-backed): the
    fake resize cycles the source payload to width·height bytes, and the
    payload is the documents text (pure ASCII at every driver sf), so
    DuckDB recomputes the resized bytes as substr(repeat(text, ...)) —
    the cycling arithmetic, the image-modality filter, and the batch
    plumbing are all value-checked. The registered form casts the binary
    to STRING (bytes cells stringify differently per bridge — bytearray
    vs bytes — so binary stays out of hashed outputs, like arrays); the
    library function keeps the binary column."""
    out = resize_images(build_media_table(spark, sf_dir))
    return out.select(
        "media_id",
        "width",
        "height",
        F.col("resized").cast("string").alias("resized_text"),
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling pipeline over video-modality media (oracle-backed):
    the fake sampler takes a 16-byte slice per 1000 ms tick at offset
    (i·16) mod len, over the ASCII documents-text payload — DuckDB
    recomputes every slice with substr, so the 1→N cardinality
    (duration_ms → frame count), tick timestamps, and slice offsets are
    value-checked. STRING-cast for the same bridge-safety reason as
    q_multimodal_resize."""
    out = sample_frames(build_media_table(spark, sf_dir))
    return out.select(
        "media_id",
        "frame_idx",
        "frame_ms",
        F.col("frame").cast("string").alias("frame_text"),
    )


def q_multimodal_frames_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame-sampling pipeline (rows-only): genuine IVF containers
    (``synth_media_table``) demuxed by the stdlib parser, one frame per
    500 ms bucket, BMP payloads intact. Closed-form equality with the
    synthesized frame list is unit-tested."""
    return sample_frames(
        synth_media_table(spark, sf_dir),
        every_ms=500,
        use_real_decode=True,
    )


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode pipeline (oracle-backed since r5 — the payloads are
    closed-form functions of (doc_id, n_chars), so DuckDB recomputes
    features and container byte sizes): synthesize genuine WAV/BMP/IVF
    binaries (``synth_media_table``), then extract features with the
    stdlib parsers — audio rows carry (n_samples, rate, mean|amp|, peak),
    image rows (w, h, mean intensity, peak), video rows (n_frames,
    last PTS, w, h). This is the end-to-end path a real multimodal
    pipeline runs: binary column in, Arrow batch to Python, bytes →
    parsed media → features, Arrow back.

    The registered form projects the 4-slot feature vector to scalar
    columns ``f0..f3`` — a list-typed cell is unsortable/unhashable on
    any pandas-based comparison bridge (the r5 driver err), and the
    same rule already keeps arrays out of q_embed_normalize's hashed
    output. The library function (``extract_features``) keeps the
    array form."""
    media = synth_media_table(spark, sf_dir)
    feats = extract_features(media, use_real_decode=True)
    return feats.select(
        "media_id",
        "modality",
        "n_bytes",
        *[F.col("features")[i].alias(f"f{i}") for i in range(4)],
    )


def q_multimodal_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BMP resize pipeline (rows-only): 8×8 synthesized BMPs →
    nearest-neighbor 32×32 → re-encoded BMP payloads."""
    return resize_images(
        synth_media_table(spark, sf_dir), use_real_decode=True
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only query over the media table: modality counts + payload
    byte totals. Never touches the binary column contents — the scan prunes
    it (columnar layout pays off exactly here)."""
    media = build_media_table(spark, sf_dir)
    return media.groupBy("modality").agg(
        F.count("*").alias("media_count"),
        F.sum(F.length("content")).alias("total_bytes"),
        F.max("meta.duration_ms").alias("max_duration_ms"),
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction pipeline (fake decode, oracle-backed): the fake
    features are byte stats of the documents-text payload — length, first
    byte, last byte, sum of the first 32 bytes mod 997 — all recomputable
    in SQL over the ASCII text (ascii/substr/list_transform), so the
    Arrow batch plumbing and the stat arithmetic are value-checked.
    Flattened to f0..f3 like q_multimodal_decode (arrays stay out of
    hashed outputs)."""
    feats = extract_features(build_media_table(spark, sf_dir))
    return feats.select(
        "media_id",
        "modality",
        "n_bytes",
        *[F.col("features")[i].alias(f"f{i}") for i in range(4)],
    )


#: canonical byte sizes of the synthesized/re-encoded containers:
#: 24-bit BMP = 54-byte header + rows of width·3 bytes (4-aligned)
RESIZED_BMP_BYTES = 54 + 32 * 32 * 3  # 32·3 = 96 per row, already aligned
FRAME_BMP_BYTES = 54 + 8 * 8 * 3


def q_multimodal_real_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked certificate for the two real-decode pipelines whose
    BINARY outputs can't be compared in SQL (constructing byte-exact BMP
    payloads in the oracle is unreasonable; q_multimodal_decode already
    value-checks the parsers/features). Rows ``(check_name, value)``:

    - ``images_resized`` / ``videos_sampled``: row coverage — the oracle
      recomputes both from the documents modality assignment (anchor).
    - ``resize_dim_violations``: resized rows not 32×32 (0).
    - ``resize_size_violations``: re-encoded payloads whose byte length
      isn't the canonical 24-bit-BMP size 54 + 32·32·3 (0 — a padding or
      header bug in the encoder surfaces here).
    - ``frame_bucket_violations``: videos whose sampled frame-ms set is
      not exactly {0, 500} (0 — one keyframe per 500 ms bucket over the
      0/250/500/750 PTS stream).
    - ``frame_size_violations``: demuxed frame payloads that aren't the
      8×8 BMP's 246 bytes (0)."""
    resized = q_multimodal_resize_real(spark, sf_dir).localCheckpoint()
    n_resized = resized.count()
    dim_bad = resized.filter(
        (F.col("width") != 32) | (F.col("height") != 32)
    ).count()
    size_bad = resized.filter(
        F.length("resized") != RESIZED_BMP_BYTES
    ).count()

    frames = q_multimodal_frames_real(spark, sf_dir).localCheckpoint()
    n_videos = frames.select("media_id").distinct().count()
    per_video = frames.groupBy("media_id").agg(
        F.sort_array(F.collect_list("frame_ms")).alias("ms")
    )
    bucket_bad = per_video.filter(
        F.col("ms") != F.array(F.lit(0).cast("long"), F.lit(500).cast("long"))
    ).count()
    frame_size_bad = frames.filter(
        F.length("frame") != FRAME_BMP_BYTES
    ).count()

    rows = [
        ("images_resized", n_resized),
        ("videos_sampled", n_videos),
        ("resize_dim_violations", dim_bad),
        ("resize_size_violations", size_bad),
        ("frame_bucket_violations", bucket_bad),
        ("frame_size_violations", frame_size_bad),
    ]
    return spark.createDataFrame(rows, "check_name string, value long")


#: near-dup hamming ceiling for the 64-bit aHash; with _HASH_BANDS=4
#: 16-bit bands the banded blocker is LOSSLESS by pigeonhole
#: (≤ 3 differing bits cannot touch all 4 bands)
IMG_HAMMING_MAX = 3
#: band COUNT for the banded blocker — a parameter (r9 verdict): the
#: pigeonhole guarantee needs n_bands ≥ IMG_HAMMING_MAX + 1, and wider
#: bands (fewer of them) collide less on hash-uniform data, so 4×16-bit
#: is the max-width lossless geometry for a 64-bit hash at hamming ≤ 3;
#: a 128-bit fingerprint at larger corpus scales would run 4×32-bit
#: bands (expected random collisions per band ~ |distinct|²/2^width).
_HASH_BANDS = 4
#: df ceiling for a (band_idx, band_val) bucket over DISTINCT hashes —
#: the r9 scale-killer fix: a band value shared by more than this many
#: distinct hashes posts no candidates (its bucket would be C(df,2)),
#: so every candidate bucket is ≤ BAND_DF_CAP² by construction. Sized
#: above the driver fixtures' max observed band df (61 at sf0.1 — the
#: audio sawtooth's saturated all-ones bands) so the cap is currently
#: lossless on driver data, pinned by q_dedup_perceptual_capped's
#: missed-pair-count = 0 oracle. NOTE the cap acts on DISTINCT hashes:
#: the constant-hash populations the r9 verdict named (black frames,
#: silence, boilerplate intros) collapse to ONE distinct hash before
#: banding, so they never inflate band df at all — the cap only guards
#: residual near-collisions between distinct values.
BAND_DF_CAP = 64
#: df ceiling (videos per distinct frame fingerprint) for the video
#: candidate join — a fingerprint carried by more videos than this (the
#: boilerplate-intro-frame shape) posts no candidates; candidate pairs
#: are then VERIFIED against the full fingerprint inventory, so
#: published shared_frames counts stay exact. Sized above the driver
#: fixtures' max fingerprint df (306 at sf0.1 — the 768-periodic frame
#: cliques) and pinned lossless by q_dedup_perceptual_capped.
FP_DF_CAP = 512


def _ahash_from_gray(gray: list[int]) -> tuple[int, int]:
    """64-bit aHash over a decoded gray3 vector as (hi32, lo32) ints —
    bit k set iff n·gray3(k) > Σ gray3 (strict, integer-only). Split
    from the decode so callers that also need dHash parse ONCE."""
    total = sum(gray)
    n = len(gray)
    hi = lo = 0
    for k in range(n):
        if gray[k] * n > total:
            if k >= 32:
                hi |= 1 << (k - 32)
            else:
                lo |= 1 << k
    return hi, lo


def _bmp_ahash(content: bytes) -> tuple[int, int]:
    """64-bit aHash of a decoded BMP — parse + ``_ahash_from_gray``.
    Shared by the image and video-frame fingerprint tiers."""
    _w, _h, px = parse_bmp(content)
    return _ahash_from_gray([r + g + b for (r, g, b) in px])


def image_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual fingerprints of the REAL image payloads: parse each
    8×8 24-bit BMP (``synth_media_table``'s image modality) and compute

    - **aHash** (average hash, public: the classic pHash-family
      baseline): bit k (k = y·8 + x, parse_bmp's row-major top-down
      order) is set iff 64·gray3(k) > Σ gray3 (strict — integer math,
      no division), gray3 = r+g+b. Published as two 32-bit halves
      (``ahash_hi`` bits 32-63, ``ahash_lo`` bits 0-31) so both engines
      stay comfortably inside signed int64.
    - **dHash** (difference hash): bit j = y·7 + x is set iff
      gray3(x+1, y) > gray3(x, y) — the horizontal-gradient sign grid,
      56 bits.

    Pure integer byte math over genuinely decoded bytes (Arrow-batched
    mapInPandas, the multimodal plumbing is real) — and the payload
    pixels are closed-form in doc_id, so DuckDB recomputes both hashes
    bit-for-bit from first principles: a full value oracle over a
    binary-decode pipeline."""
    media = synth_media_table(spark, sf_dir, modality="image")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, his, los, ds = [], [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                # parse ONCE; aHash and dHash share the gray vector
                w, h, px = parse_bmp(bytes(content))
                gray = [r + g + b for (r, g, b) in px]
                hi, lo = _ahash_from_gray(gray)
                dh = 0
                for y in range(h):
                    for x in range(w - 1):
                        if gray[y * w + x + 1] > gray[y * w + x]:
                            dh |= 1 << (y * (w - 1) + x)
                ids.append(mid)
                his.append(hi)
                los.append(lo)
                ds.append(dh)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "ahash_hi": pd.Series(his, dtype="int64"),
                    "ahash_lo": pd.Series(los, dtype="int64"),
                    "dhash": pd.Series(ds, dtype="int64"),
                }
            )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("ahash_hi", T.LongType(), False),
            T.StructField("ahash_lo", T.LongType(), False),
            T.StructField("dhash", T.LongType(), False),
        ]
    )
    return media.mapInPandas(run, schema)


def _ahash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, hash_hi, hash_lo): the image aHash in the shape the
    hash-graph cores (``hamming_near_pairs``, ``hash_cluster_assignment``,
    the maintainers) take."""
    return image_hashes(spark, sf_dir).select(
        "media_id",
        F.col("ahash_hi").alias("hash_hi"),
        F.col("ahash_lo").alias("hash_lo"),
    )


def q_multimodal_image_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of ``image_hashes`` — see its docstring. The
    oracle regenerates every pixel from the synth closed form
    (r = (x·31+s)%256, g = (y·57+s)%256, b = (x·y+s)%256, s = doc_id)
    and packs the same bits, so the BMP encoder, the stdlib decoder,
    the Arrow plumbing, and the hash math are all value-checked."""
    return image_hashes(spark, sf_dir)


def q_dedup_image_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate IMAGE pairs — the dedup family
    extended to the multimodal surface: pairs of image payloads whose
    aHashes differ in ≤ IMG_HAMMING_MAX bits, via the shared two-tier
    ``hamming_near_pairs`` core (r10): identical hashes pair in one
    full-hash equi-join (constant-hash populations collapse BEFORE
    banding), and distinct hashes go through the df-capped banded
    blocker (≤ BAND_DF_CAP² per candidate bucket by construction — the
    containment family's DF_CAP pattern) + XOR/bit_count verify. The
    oracle stays the ground-truth ALL-PAIRS formulation over
    closed-form-recomputed hashes, so any blocker or cap recall loss
    reds the driver; q_dedup_perceptual_capped additionally pins the
    cap's missed-pair count at 0 and publishes the candidate volumes.

    Scale: banding runs on DISTINCT hashes only (4 rows each);
    candidate buckets are df-capped; verify is two bit_count ops per
    candidate; member expansion is output-bound. At the driver sfs the
    synthetic pixel patterns only collide for doc_id ≡ doc_id'
    (mod 256) (hamming-0 pairs appear at sf0.1: 768-periodic image
    cliques — all tier-1 now); crafted-BMP unit tests pin the 1-3-bit
    and beyond-threshold behavior."""
    return hamming_near_pairs(_ahash_table(spark, sf_dir))


def _band_structs(n_bands: int) -> list:
    """Band-extraction struct expressions over (hash_hi, hash_lo) for a
    64-bit hash split into ``n_bands`` equal bands (n_bands even,
    64 % n_bands == 0 — bands never straddle the hi/lo split). The
    default 4×16-bit geometry reproduces the r9 layout bit for bit."""
    if n_bands % 2 or 64 % n_bands:
        raise ValueError(f"n_bands must be even and divide 64: {n_bands}")
    per_half = n_bands // 2
    width = 32 // per_half
    mask = (1 << width) - 1
    out = []
    for j in range(n_bands):
        half = F.col("hash_hi") if j < per_half else F.col("hash_lo")
        shift = 32 - ((j % per_half) + 1) * width
        out.append(
            F.struct(
                F.lit(j).alias("band_idx"),
                F.shiftright(half, shift)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
        )
    return out


def _bands(dist: DataFrame, n_bands: int = _HASH_BANDS) -> DataFrame:
    """(hash_hi, hash_lo) → one (hash_hi, hash_lo, band_idx, band_val)
    row per band of the ``_band_structs`` geometry."""
    return dist.select(
        "hash_hi",
        "hash_lo",
        F.explode(F.array(*_band_structs(n_bands))).alias("b"),
    ).select(
        "hash_hi",
        "hash_lo",
        F.col("b.band_idx").alias("band_idx"),
        F.col("b.band_val").alias("band_val"),
    )


def _rare_bands(bands: DataFrame, cap: int) -> DataFrame:
    """The band rows whose (band_idx, band_val) bucket holds ≤ ``cap``
    rows — over distinct hashes, every surviving bucket pairs at most
    cap² candidates."""
    rare = (
        bands.groupBy("band_idx", "band_val")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= cap)
        .select("band_idx", "band_val")
    )
    return bands.join(rare, ["band_idx", "band_val"], "left_semi")


def hamming_probe(sdist: DataFrame, cdist: DataFrame) -> DataFrame:
    """The shard→corpus banded Hamming probe of the incremental image
    maintainers: shard DISTINCT hashes ``sdist`` against corpus DISTINCT
    hashes ``cdist`` (both (hash_hi, hash_lo)) → distinct near pairs
    (hash_hi, hash_lo = the shard hash, c_hi, c_lo = the corpus hash) at
    hamming 1..IMG_HAMMING_MAX. Corpus band postings are df-capped at
    BAND_DF_CAP (the stored index is built capped), and the shard's band
    keys semi-join them before any pair forms, so corpus-side candidate
    work is proportional to the SHARD — the q_dedup_incremental probe
    discipline. Lossless by pigeonhole where the cap does not bite."""
    from breweries_case_spark.operators.dedup import broadcast_if_small

    sbands = _bands(sdist).localCheckpoint()
    probe = _rare_bands(_bands(cdist), BAND_DF_CAP).join(
        # size-gated hint: shard band keys are tiny, but an unconditional
        # F.broadcast fails rather than degrades if a large delivery's key
        # set outgrows the driver
        broadcast_if_small(sbands.select("band_idx", "band_val").distinct()),
        ["band_idx", "band_val"],
        "left_semi",
    )
    hamming = F.bit_count(
        F.col("a.hash_hi").bitwiseXOR(F.col("b.hash_hi"))
    ) + F.bit_count(F.col("a.hash_lo").bitwiseXOR(F.col("b.hash_lo")))
    return (
        sbands.alias("a")
        .join(
            probe.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val")),
        )
        .filter(hamming.between(1, IMG_HAMMING_MAX))
        .select(
            F.col("a.hash_hi").alias("hash_hi"),
            F.col("a.hash_lo").alias("hash_lo"),
            F.col("b.hash_hi").alias("c_hi"),
            F.col("b.hash_lo").alias("c_lo"),
        )
        .distinct()
    )


def hash_near_pairs(
    dist: DataFrame,
    band_df_cap: int | None = None,
    n_bands: int = _HASH_BANDS,
) -> DataFrame:
    """Tier-2 core over a DISTINCT-hash frame (hash_hi, hash_lo):
    df-capped banded blocking + XOR/bit_count verify, returning
    hash-VALUE near pairs (hi_a, lo_a, hi_b, lo_b, hamming) at
    hamming 1..IMG_HAMMING_MAX. Factored from ``hamming_near_pairs``
    so cluster-granularity consumers (q_dedup_image_clusters) can run
    connected components on the HASH graph directly — never
    materializing the media-pair expansion."""
    cap = BAND_DF_CAP if band_df_cap is None else band_df_cap
    rb = _rare_bands(_bands(dist, n_bands), cap)
    a, b = rb.alias("a"), rb.alias("b")
    pair_lt = F.struct(F.col("a.hash_hi"), F.col("a.hash_lo")) < F.struct(
        F.col("b.hash_hi"), F.col("b.hash_lo")
    )
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & pair_lt,
        )
        .select(
            F.col("a.hash_hi").alias("hi_a"),
            F.col("a.hash_lo").alias("lo_a"),
            F.col("b.hash_hi").alias("hi_b"),
            F.col("b.hash_lo").alias("lo_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    ) + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    return cand.withColumn("hamming", hamming.cast("long")).filter(
        F.col("hamming") <= IMG_HAMMING_MAX
    )


def hamming_near_pairs(
    hashes: DataFrame,
    band_df_cap: int | None = None,
    n_bands: int = _HASH_BANDS,
) -> DataFrame:
    """Near-dup core over ANY 64-bit perceptual hash published as
    (media_id, hash_hi, hash_lo) — shared by the image (aHash) and
    audio (delta-sign) tiers. Two tiers, closing the r9 verdict's
    uncapped-C(df,2) scale-killer:

    1. **Identical hashes (hamming 0)**: one equi-join on the full
       64-bit value. A constant-hash population (black frames, silence)
       lands entirely here — its pair set IS the output, which no
       correct pairs-contract algorithm can beat (cluster-granularity
       output for such populations is the q_dedup_clusters shape).
    2. **Distinct hashes (hamming 1..IMG_HAMMING_MAX)**: the banded
       blocker runs over the DISTINCT-hash table only, so constant-hash
       populations contribute ONE row to banding, and each
       (band_idx, band_val) bucket is df-capped at ``band_df_cap``
       (default BAND_DF_CAP) before the self-join — every candidate
       bucket ≤ cap² by construction (the containment family's DF_CAP
       pattern, dedup.py:containment_pairs). Survivors XOR-verify
       (bit_count, JVM codegen) and expand back to media pairs through
       two hash-keyed joins (output-bound).

    Lossless by pigeonhole when the cap doesn't bite (≤ hamming_max
    differing bits cannot touch all n_bands ≥ hamming_max+1 bands);
    the cap's miss mode (a distinct-hash true pair whose every shared
    band is hotter than the cap) is pinned at 0 on driver data by
    q_dedup_perceptual_capped's oracle, so recall loss reds the driver.
    Band count/width are parameters — see _HASH_BANDS' sizing note."""
    cap = BAND_DF_CAP if band_df_cap is None else band_df_cap
    h = hashes.localCheckpoint()
    # tier 1: identical hashes — hamming 0, output-sized
    same = (
        h.alias("a")
        .join(
            h.alias("b"),
            (F.col("a.hash_hi") == F.col("b.hash_hi"))
            & (F.col("a.hash_lo") == F.col("b.hash_lo"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("media_id_a"),
            F.col("b.media_id").alias("media_id_b"),
            F.lit(0).cast("long").alias("hamming"),
        )
    )
    # tier 2: near pairs between DISTINCT hash values via capped bands
    dist = h.select("hash_hi", "hash_lo").distinct().localCheckpoint()
    near = hash_near_pairs(dist, cap, n_bands)
    ma = h.select(
        F.col("media_id").alias("ma"),
        F.col("hash_hi").alias("hi_a"),
        F.col("hash_lo").alias("lo_a"),
    )
    mb = h.select(
        F.col("media_id").alias("mb"),
        F.col("hash_hi").alias("hi_b"),
        F.col("hash_lo").alias("lo_b"),
    )
    cross = (
        near.join(ma, ["hi_a", "lo_a"])
        .join(mb, ["hi_b", "lo_b"])
        .select(
            F.least("ma", "mb").alias("media_id_a"),
            F.greatest("ma", "mb").alias("media_id_b"),
            "hamming",
        )
    )
    return same.unionByName(cross)


def audio_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual fingerprint of the REAL audio payloads: parse each
    PCM16 WAV (``synth_media_table``'s audio modality) and compute the
    64-bit DELTA-SIGN hash — bit k set iff sample k+1 > sample k
    (k = 0..63; bits past the stream length stay 0) — the classic
    spectral/temporal-gradient-sign shape audio fingerprinting uses
    (Haitsma & Kalker 2002's sign-of-difference idea, reduced to the
    time domain so it stays pure stdlib). Published as two 32-bit
    halves (``dhash_hi`` bits 32-63, ``dhash_lo`` bits 0-31).

    The synthesized sawtooth makes the oracle closed-form: sample i =
    (i % period)·1200 − period·600 with period = doc_id % 50 + 2 and
    n = min(n_chars, 400) samples, so s[k+1] > s[k] ⟺ (k+1) % period
    ≠ 0 — DuckDB recomputes every bit from first principles while the
    Spark side genuinely decodes the RIFF/WAV bytes."""
    media = synth_media_table(spark, sf_dir, modality="audio")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, his, los = [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                _rate, samples = parse_wav(bytes(content))
                hi = lo = 0
                for k in range(min(64, len(samples) - 1)):
                    if samples[k + 1] > samples[k]:
                        if k >= 32:
                            hi |= 1 << (k - 32)
                        else:
                            lo |= 1 << k
                ids.append(mid)
                his.append(hi)
                los.append(lo)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "dhash_hi": pd.Series(his, dtype="int64"),
                    "dhash_lo": pd.Series(los, dtype="int64"),
                }
            )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("dhash_hi", T.LongType(), False),
            T.StructField("dhash_lo", T.LongType(), False),
        ]
    )
    return media.mapInPandas(run, schema)


def q_multimodal_audio_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of ``audio_hashes`` — see its docstring."""
    return audio_hashes(spark, sf_dir)


def q_dedup_audio_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate AUDIO pairs — delta-sign hashes within hamming
    ≤ IMG_HAMMING_MAX via the SAME banded blocker + XOR verify core as
    the image tier (``hamming_near_pairs``), so the multimodal dedup
    family shares one candidate topology. Same-period sawtooths of full
    length hash identically (hamming 0); close periods differ only at
    their wrap positions (true hamming-1..3 near-dups — e.g. periods 40
    vs 45 differ at exactly the two wrap bits). Oracle = ground-truth
    all-pairs over the closed-form bits, so blocker recall loss reds
    the driver.

    Density note: the synthetic sawtooth population is deliberately
    near-dup-DENSE (450k true pairs among 1,667 docs at sf0.1), so
    output volume tracks the true-pair count, which no correct
    algorithm can beat — but under the r10 two-tier core the heavy
    same-period cliques pair in the hamming-0 full-hash join (84
    distinct hashes at sf0.1 vs 1,667 media rows enter banding), and
    the distinct-hash banded join is df-capped at BAND_DF_CAP — the
    sawtooth's saturated all-ones bands (df 61 at sf0.1, the fixture's
    own constant-band population) sit just under the cap, pinned
    lossless by q_dedup_perceptual_capped."""
    h = audio_hashes(spark, sf_dir)
    return hamming_near_pairs(
        h.select(
            "media_id",
            F.col("dhash_hi").alias("hash_hi"),
            F.col("dhash_lo").alias("hash_lo"),
        )
    )


#: minimum shared distinct frame fingerprints for a video near-dup pair
VIDEO_SHARED_MIN = 2


def video_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT per-video frame fingerprints (media_id, hash_hi,
    hash_lo): real IVF demux → shared ``_bmp_ahash`` kernel per frame →
    distinct. Factored from q_dedup_video_frames so the
    q_dedup_perceptual_capped certificate certifies the SAME pipeline
    it blocks over."""
    media = synth_media_table(spark, sf_dir, modality="video")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, his, los = [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                _w, _h, frames = parse_ivf(bytes(content))
                for _pts, payload in frames:
                    hi, lo = _bmp_ahash(payload)
                    ids.append(mid)
                    his.append(hi)
                    los.append(lo)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "hash_hi": pd.Series(his, dtype="int64"),
                    "hash_lo": pd.Series(los, dtype="int64"),
                }
            )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("hash_hi", T.LongType(), False),
            T.StructField("hash_lo", T.LongType(), False),
        ]
    )
    return media.mapInPandas(run, schema).distinct()


def q_dedup_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate VIDEO pairs via shared frame fingerprints — the
    set-overlap formulation video dedup actually uses (fingerprint
    every keyframe, pair videos sharing enough of them): each IVF
    container is REALLY demuxed (stdlib parser), every frame's BMP gets
    the shared 64-bit aHash (``_bmp_ahash`` — the image tier's exact
    kernel), per-video fingerprints are DISTINCTed, and videos pair on
    ≥ VIDEO_SHARED_MIN shared distinct fingerprints. r10 closes the r9
    verdict's uncapped-df² bucket: CANDIDATES come only from
    fingerprints with df ≤ FP_DF_CAP (a boilerplate intro frame shared
    by more videos than the cap posts no candidates — it carries no
    pairing signal, exactly the containment family's DF_CAP stance),
    then candidates are VERIFIED by recounting shared fingerprints
    against the FULL inventory, so published shared_frames stay exact
    (candidate-then-verify, the q_dedup_prefix_filter topology).
    Output (media_id_a, media_id_b, shared_frames).

    Scale: fingerprints are 4 rows per video riding the demux scan;
    every candidate bucket is ≤ FP_DF_CAP² by construction. The cap's
    miss mode (a true pair whose every shared fingerprint is hotter
    than the cap) is pinned at 0 on driver data by
    q_dedup_perceptual_capped; the oracle here stays the ground-truth
    UNCAPPED join over closed-form-recomputed frame hashes (pixels
    (x·31+s+pts)%256 / (y·57+s)%256 / (x·y+s+pts)%256), so demux,
    decode, hash, cap and verify are all value-checked."""
    return video_shared_pairs(
        video_fingerprints(spark, sf_dir).localCheckpoint()
    )


def video_shared_pairs(fp: DataFrame, df_cap: int | None = None) -> DataFrame:
    """The df-capped candidate + full-inventory verify body of
    q_dedup_video_frames over a PREPARED (ideally checkpointed)
    fingerprint inventory (media_id, hash_hi, hash_lo) — factored so
    the cluster-granularity id (q_dedup_video_clusters) runs the SAME
    pair plan over its set-collapsed representative inventory: unit
    drift here reds both driver ids. ``df_cap`` (default FP_DF_CAP)
    is parametric so the mechanism-cap certificate
    (q_dedup_mechanism_cap) can engage the pruning branch on driver
    data — the containment family's ``df_cap`` stance."""
    cap = FP_DF_CAP if df_cap is None else df_cap
    fdf = fp.groupBy("hash_hi", "hash_lo").agg(F.count("*").alias("df"))
    rare = fdf.filter(F.col("df") <= cap).select(
        "hash_hi", "hash_lo"
    )
    rfp = fp.join(rare, ["hash_hi", "hash_lo"], "left_semi")
    a, b = rfp.alias("a"), rfp.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.hash_hi") == F.col("b.hash_hi"))
            & (F.col("a.hash_lo") == F.col("b.hash_lo"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("media_id_a"),
            F.col("b.media_id").alias("media_id_b"),
        )
        .distinct()
    )
    # verify: recount shared fingerprints against the FULL inventory so
    # the published counts are exact even where the cap pruned postings
    fa = fp.select(F.col("media_id").alias("media_id_a"), "hash_hi", "hash_lo")
    fb = fp.select(F.col("media_id").alias("media_id_b"), "hash_hi", "hash_lo")
    return (
        cand.join(fa, "media_id_a")
        .join(fb, ["media_id_b", "hash_hi", "hash_lo"])
        .groupBy("media_id_a", "media_id_b")
        .agg(F.count("*").alias("shared_frames"))
        .filter(F.col("shared_frames") >= VIDEO_SHARED_MIN)
    )


#: per-cluster published-members bound — keeper/size are the real
#: contract; the sample is a bounded debugging affordance (the full
#: media→cluster assignment is the pre-aggregation join, a side table
#: in production)
MEMBERS_SAMPLE_CAP = 16


def perceptual_cluster_output(labeled: DataFrame) -> DataFrame:
    """(media_id, label) assignment → the published cluster table
    (cluster_id, cluster_size, keeper_media_id, members_sample_csv).
    Every column is BOUNDED per row: members are ranked by a
    cluster-keyed window and only ranks ≤ MEMBERS_SAMPLE_CAP enter the
    when-guarded collect_list (collect_list skips the NULLs the guard
    emits), so the aggregation buffer holds ≤ CAP ids even for a
    million-member constant-hash cluster while COUNT(*) still counts
    every member. Shared by the image- and video-tier cluster ids."""
    rk = F.row_number().over(
        Window.partitionBy("label").orderBy("media_id")
    )
    return (
        labeled.withColumn("rk", rk)
        .groupBy(F.col("label").alias("cluster_id"))
        .agg(
            F.count("*").alias("cluster_size"),
            F.min("media_id").alias("keeper_media_id"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rk") <= MEMBERS_SAMPLE_CAP,
                                F.col("media_id"),
                            )
                        )
                    ),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("members_sample_csv"),
        )
    )


def q_dedup_image_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-granularity perceptual dedup — the 100 TB OUTPUT SHAPE
    the pair ids point at: where q_dedup_image_near publishes every
    near-dup PAIR (output-quadratic inside an identical-hash clique —
    unavoidable under a pairs contract), this id publishes ONE row per
    cluster (cluster_id, cluster_size, keeper_media_id = min id, plus
    the first MEMBERS_SAMPLE_CAP sorted members as
    ``members_sample_csv``) — output-linear in media, the form a real
    multimodal dedup pipeline materializes (q_dedup_clusters' shape on
    the perceptual surface). Every published column is BOUNDED per row:
    members are ranked by a cluster-keyed window and only ranks
    ≤ MEMBERS_SAMPLE_CAP enter the when-guarded collect_list, so the
    aggregation buffer holds ≤ CAP ids even for a million-member
    constant-hash cluster — the full assignment lives in the
    (media_id, label) join this aggregates, not in a row-level blob.

    Plan — and the reason this is NOT just "CC over the pair id": the
    media-pair expansion is never materialized. Components run on the
    DISTINCT-HASH graph (``hash_near_pairs``' capped tier-2 edges —
    bounded by hash diversity), each hash node represented by its
    min-media-id; media then label themselves through one hash-keyed
    join onto their hash's component. An identical-hash clique of a
    million black frames is ONE graph node here, where the pairs
    contract owes C(10⁶,2) rows. Component labels = min media_id by
    construction (min over per-hash min-media reps). Singletons keep
    themselves — a total media→cluster assignment. Oracle: the
    closed-form hash CTEs + an all-pairs edge set + the recursive-CTE
    fixpoint over MEDIA — the q_dedup_clusters oracle pattern, which
    also proves the hash-level factoring loses nothing."""
    return perceptual_cluster_output(
        hash_cluster_assignment(_ahash_table(spark, sf_dir))
    )


def hash_cluster_assignment(hashes: DataFrame) -> DataFrame:
    """(media_id, hash_hi, hash_lo) → the (media_id, label) total
    assignment via distinct-hash-graph components — the body of
    q_dedup_image_clusters, factored so the audio tier and the
    cross-modal table (q_dedup_media_clusters) run the SAME
    machinery: one representative (min media) per distinct hash,
    capped tier-2 edges between hash values, min-label components,
    one hash-keyed label join."""
    from breweries_case_spark.operators.dedup import connected_components

    h = hashes.localCheckpoint()
    reps = h.groupBy("hash_hi", "hash_lo").agg(
        F.min("media_id").alias("rep")
    ).localCheckpoint()
    near = hash_near_pairs(reps.select("hash_hi", "hash_lo"))
    ra = reps.select(
        F.col("hash_hi").alias("hi_a"),
        F.col("hash_lo").alias("lo_a"),
        F.col("rep").alias("u"),
    )
    rb = reps.select(
        F.col("hash_hi").alias("hi_b"),
        F.col("hash_lo").alias("lo_b"),
        F.col("rep").alias("v"),
    )
    edges = near.join(ra, ["hi_a", "lo_a"]).join(rb, ["hi_b", "lo_b"])
    comps = connected_components(
        edges.select("u", "v"), reps.select(F.col("rep").alias("node"))
    )
    return (
        h.join(reps, ["hash_hi", "hash_lo"])
        .join(comps, F.col("rep") == F.col("node"))
        .select("media_id", "label")
    )


def q_dedup_media_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-MODAL cluster table — ONE media→cluster assignment
    spanning every modality, the table a multimodal curation pipeline
    actually materializes (the per-modality cluster ids are its
    views): image and audio run the shared distinct-hash-graph
    machinery (``hash_cluster_assignment`` — the audio tier gains
    cluster granularity here), video the identical-set collapse
    (``video_cluster_assignment``), and the three bounded cluster
    tables union under a modality key. media_id is doc_id, and the
    fixture's modality split (doc_id % 3) makes cluster ids globally
    unique — the modality column is the dashboard key, not a
    disambiguator. Output (modality, cluster_id, cluster_size,
    keeper_media_id, members_sample_csv), every column bounded per
    row (the shared `perceptual_cluster_output`).

    Oracle: the three closed-form hash families + THREE recursive
    reach fixpoints in one WITH list, union'd with the same
    modality-from-id mapping — each modality's factoring is proven
    lossless exactly as in its per-modality twin. Scale: three
    independent hash-diversity-bounded component problems; nothing
    crosses modalities (a cross-modal edge is semantically undefined
    for these fingerprints)."""
    img = perceptual_cluster_output(
        hash_cluster_assignment(_ahash_table(spark, sf_dir))
    ).withColumn("modality", F.lit("image"))
    aud = perceptual_cluster_output(
        hash_cluster_assignment(
            audio_hashes(spark, sf_dir).select(
                "media_id",
                F.col("dhash_hi").alias("hash_hi"),
                F.col("dhash_lo").alias("hash_lo"),
            )
        )
    ).withColumn("modality", F.lit("audio"))
    vid = perceptual_cluster_output(
        video_cluster_assignment(spark, sf_dir)
    ).withColumn("modality", F.lit("video"))
    return img.unionByName(aud).unionByName(vid).select(
        "modality",
        "cluster_id",
        "cluster_size",
        "keeper_media_id",
        "members_sample_csv",
    )


def q_dedup_video_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-granularity VIDEO dedup — q_dedup_image_clusters' output
    shape over the shared-frame-fingerprint surface: one row per
    video cluster (cluster_id = min media, cluster_size,
    keeper_media_id, bounded members_sample_csv) instead of the pair
    id's output-quadratic edge list.

    Plan — the video twin of the image tier's distinct-hash collapse,
    with the set-valued analogue: videos are first grouped by their
    FULL distinct fingerprint set (groupBy on the sorted array itself —
    exact, no signature collision), and each identical-set group with
    ≥ VIDEO_SHARED_MIN fingerprints collapses to its min-media
    representative BEFORE any pairing: a thousand re-uploads of the
    same clip are ONE node in the pair join and the component fixpoint
    (identical sets of size ≥ 2 are mutually near-dup by definition,
    so the collapse loses no edges; cross-set edges are preserved
    because identical sets intersect third sets identically). Videos
    with < VIDEO_SHARED_MIN distinct fingerprints can never clear the
    shared-frame threshold with ANYONE, so each stays its own
    representative (edge-free, but present — the output is a total
    assignment of fingerprinted videos). Representatives then run the
    EXACT pair plan of q_dedup_video_frames (``video_shared_pairs`` —
    df-capped candidates, full-inventory verify), min-label components
    resolve rep clusters, and every video labels itself through one
    set-keyed join. Labels are min media_id by construction (min over
    min-media reps).

    Oracle: the UNCAPPED closed-form fingerprint join (≥ shared-min)
    + the recursive-CTE fixpoint over ALL fingerprinted videos — the
    q_dedup_clusters oracle pattern, which also proves the set
    collapse and the df cap lose nothing on driver data. Scale: set
    grouping is one media-keyed aggregate of ~frames-per-video rows;
    everything downstream operates on DISTINCT fingerprint sets."""
    return perceptual_cluster_output(
        video_cluster_assignment(spark, sf_dir)
    )


def video_cluster_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (media_id, label) total assignment behind
    q_dedup_video_clusters — identical-set collapse → representative
    pair plan (``video_shared_pairs``) → min-label components → one
    set-keyed label join; factored so the keeper-policy id
    (q_dedup_video_keeper) provably elects inside the SAME clusters
    the cluster id publishes."""
    return video_cluster_assignment_from(
        video_fingerprints(spark, sf_dir).localCheckpoint()
    )


def video_cluster_assignment_from(fp: DataFrame) -> DataFrame:
    """``video_cluster_assignment`` over ANY prepared fingerprint
    inventory (media_id, hash_hi, hash_lo) — factored (r12) so the
    incremental video-cluster maintainer builds its stored corpus
    state with provably the registered cluster id's semantics."""
    from breweries_case_spark.operators.dedup import connected_components

    sets = fp.groupBy("media_id").agg(
        F.sort_array(
            F.collect_list(F.struct("hash_hi", "hash_lo"))
        ).alias("fps")
    )
    big = sets.filter(F.size("fps") >= VIDEO_SHARED_MIN)
    reps = big.groupBy("fps").agg(F.min("media_id").alias("rep"))
    assign = (
        big.join(reps, "fps")
        .select("media_id", "rep")
        .unionByName(
            sets.filter(F.size("fps") < VIDEO_SHARED_MIN).select(
                "media_id", F.col("media_id").alias("rep")
            )
        )
        .localCheckpoint()
    )
    rep_fp = fp.join(
        assign.select(F.col("rep").alias("media_id")).distinct(),
        "media_id",
        "left_semi",
    ).localCheckpoint()
    pairs = video_shared_pairs(rep_fp).select(
        F.col("media_id_a").alias("u"), F.col("media_id_b").alias("v")
    )
    comps = connected_components(
        pairs, assign.select(F.col("rep").alias("node")).distinct()
    )
    return assign.join(
        comps, F.col("rep") == F.col("node")
    ).select("media_id", "label")


def q_dedup_video_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOURCE-PRIORITY keeper election on the VIDEO clusters —
    q_dedup_keeper_priority's policy (curated > web first, size then
    id as tiebreaks) applied to the perceptual surface: when the same
    clip is mirrored across feeds, keep the curated copy, not
    whichever upload happens to carry the smallest id. media_id is
    the originating doc_id, so the feed tier comes from
    documents.source through the SAME ``_source_priority`` helper
    (explicit try_cast/COALESCE null handling in both engines) and
    the size tiebreak from n_chars. One row per cluster (cluster_id,
    cluster_size, keeper_media_id, keeper_source, keeper_priority);
    singletons keep themselves — a total cluster table.

    Plan: the factored ``video_cluster_assignment`` (the registered
    cluster id's exact components) + one documents join + ONE
    cluster-keyed rank window — the q_dedup_keeper_priority topology,
    value-bounded partitions. Oracle: the video-clusters recursive
    fixpoint + the priority-ordered window, so membership, sizes,
    tiers AND the election are all value-checked."""
    from breweries_case_spark.operators.dedup import _source_priority

    labeled = video_cluster_assignment(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), "n_chars", "source"
    )
    member = labeled.join(docs, "media_id").withColumn(
        "prio", _source_priority(F.col("source"))
    )
    w = Window.partitionBy("label")
    rk = F.row_number().over(
        Window.partitionBy("label").orderBy(
            "prio", F.col("n_chars").desc(), F.col("media_id").asc()
        )
    )
    return (
        member.withColumn("cluster_size", F.count("*").over(w))
        .withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            F.col("label").alias("cluster_id"),
            "cluster_size",
            F.col("media_id").alias("keeper_media_id"),
            F.col("source").alias("keeper_source"),
            F.col("prio").alias("keeper_priority"),
        )
    )


#: incremental shard selector — media_id % 20 == 0 (the dedup family's
#: _SHARD_MOD convention: a deterministic ~5% "daily delivery")
_MEDIA_SHARD_MOD = 20


def q_dedup_media_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental PERCEPTUAL dedup — q_dedup_incremental's production
    topology on the multimodal surface: classify a NEW image shard
    (media_id % 20 == 0, the dedup family's deterministic daily
    delivery) against the stored fingerprint index WITHOUT re-pairing
    the corpus. Tiers:

    1. **exact** — shard aHashes equi-join corpus aHashes (identical
       fingerprint = re-upload/re-encode of the same image); at scale
       the corpus side is the stored hash table, probed with O(shard)
       rows.
    2. **near** — ``hamming_probe``: the shard's band keys prune the
       df-capped corpus band index before any pair forms (corpus-side
       work O(shard)), and candidates XOR-verify at hamming
       1..IMG_HAMMING_MAX.

    Output: one row per shard image — verdict 'exact_dup' /
    'near_dup' / 'new' with dup_of = the smallest matching corpus
    media_id (exact precedence, NULL for 'new'). Oracle: brute-force
    closed-form SQL over the same split — like every bounded tier, a
    driver red here means blocker/cap recall loss, not a verify bug.
    At 100 TB the corpus hash + band tables are the incremental state
    (pipelines/incremental.py discipline): built once, appended per
    shard, per-day cost O(shard)."""
    h = _ahash_table(spark, sf_dir).localCheckpoint()
    is_shard = F.col("media_id") % _MEDIA_SHARD_MOD == 0
    shard, corpus = h.filter(is_shard), h.filter(~is_shard)

    # tier 1: exact fingerprint
    ex = (
        shard.alias("s")
        .join(
            corpus.alias("c"),
            (F.col("s.hash_hi") == F.col("c.hash_hi"))
            & (F.col("s.hash_lo") == F.col("c.hash_lo")),
        )
        .groupBy(F.col("s.media_id").alias("media_id"))
        .agg(F.min("c.media_id").alias("exact_dup_of"))
    )

    # tier 2: shard-driven band probe over the (capped) corpus index
    near_hash = hamming_probe(
        shard.select("hash_hi", "hash_lo").distinct(),
        corpus.select("hash_hi", "hash_lo").distinct(),
    )
    nr = (
        shard.alias("s")
        .join(
            near_hash.alias("n"),
            (F.col("s.hash_hi") == F.col("n.hash_hi"))
            & (F.col("s.hash_lo") == F.col("n.hash_lo")),
        )
        .join(
            corpus.alias("c"),
            (F.col("c.hash_hi") == F.col("n.c_hi"))
            & (F.col("c.hash_lo") == F.col("n.c_lo")),
        )
        .groupBy(F.col("s.media_id").alias("media_id"))
        .agg(F.min("c.media_id").alias("near_dup_of"))
    )
    return (
        shard.select("media_id")
        .join(ex, "media_id", "left")
        .join(nr, "media_id", "left")
        .select(
            "media_id",
            F.when(F.col("exact_dup_of").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_dup_of").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            F.coalesce("exact_dup_of", "near_dup_of").alias("dup_of"),
        )
    )


def q_dedup_cluster_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental image-CLUSTER maintainer — the step between
    q_dedup_media_incremental's per-item verdicts and the cluster table:
    assign a new image shard (media_id % 20 == 0) to the EXISTING
    perceptual clusters, or mint new cluster ids, without recomputing
    the corpus fixpoint (``_hash_cluster_update``; the contraction
    argument is on ``dedup.maintain_clusters``). The corpus assignment
    is the stored state, computed here once as the baseline — at scale
    it is loaded, the pipelines/incremental.py discipline.

    Output: one row per shard image — (media_id, cluster_id = the
    post-update fixpoint label, verdict 'attached'/'merged'/'new').
    Oracle: brute-force closed-form aHash SQL with TWO recursive
    fixpoints — corpus-only (the stored state) and corpus+shard (the
    ground truth) — so label equality proves the contraction loses
    nothing and the verdicts audit the corpus-cluster count per
    component. A driver red is probe/cap recall loss, not CC logic."""
    h = _ahash_table(spark, sf_dir).localCheckpoint()
    is_shard = F.col("media_id") % _MEDIA_SHARD_MOD == 0
    shard = h.filter(is_shard).localCheckpoint()
    corpus = h.filter(~is_shard)
    corpus_assign = hash_cluster_assignment(corpus).localCheckpoint()
    out, _, _ = _hash_cluster_update(corpus, corpus_assign, shard)
    return out


def _hash_cluster_update(
    corpus: DataFrame, state: DataFrame, shard: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """ONE image-maintainer step: (corpus (media_id, hash_hi, hash_lo),
    its stored (media_id, label) state, shard frame) → the
    ``maintain_clusters`` result (out keyed by media_id, comps,
    lab_nodes). Update-graph edges: shard→cluster probe hits (the exact
    hash tier ∪ ``hamming_probe``, mapped hash → stored label) ∪
    intra-shard edges (same-hash members hook to a rep, reps connect via
    ``hash_near_pairs`` over the shard's distinct hashes)."""
    from breweries_case_spark.operators.dedup import maintain_clusters

    # the stored index: one row per corpus DISTINCT hash with its
    # cluster label (all media sharing a hash share a cluster, so min
    # is just a deterministic pick)
    hash_label = (
        corpus.join(state, "media_id")
        .groupBy("hash_hi", "hash_lo")
        .agg(F.min("label").alias("clabel"))
        .localCheckpoint()
    )
    sdist = shard.select("hash_hi", "hash_lo").distinct().localCheckpoint()
    exact = sdist.join(hash_label, ["hash_hi", "hash_lo"]).select(
        "hash_hi", "hash_lo", "clabel"
    )
    near = (
        hamming_probe(sdist, hash_label.select("hash_hi", "hash_lo"))
        .join(
            hash_label.select(
                F.col("hash_hi").alias("c_hi"),
                F.col("hash_lo").alias("c_lo"),
                "clabel",
            ),
            ["c_hi", "c_lo"],
        )
        .select("hash_hi", "hash_lo", "clabel")
    )
    touched = exact.unionByName(near).distinct()
    e_corpus = (
        shard.join(touched, ["hash_hi", "hash_lo"])
        .select(F.col("media_id").alias("u"), F.col("clabel").alias("v"))
        .localCheckpoint()
    )
    sreps = (
        shard.groupBy("hash_hi", "hash_lo")
        .agg(F.min("media_id").alias("rep"))
        .localCheckpoint()
    )
    e_same = (
        shard.join(sreps, ["hash_hi", "hash_lo"])
        .filter(F.col("media_id") != F.col("rep"))
        .select(F.col("media_id").alias("u"), F.col("rep").alias("v"))
    )
    e_near = (
        hash_near_pairs(sdist)
        .join(
            sreps.select(
                F.col("hash_hi").alias("hi_a"),
                F.col("hash_lo").alias("lo_a"),
                F.col("rep").alias("u"),
            ),
            ["hi_a", "lo_a"],
        )
        .join(
            sreps.select(
                F.col("hash_hi").alias("hi_b"),
                F.col("hash_lo").alias("lo_b"),
                F.col("rep").alias("v"),
            ),
            ["hi_b", "lo_b"],
        )
        .select("u", "v")
    )
    # one row per shard image, so its media ids are already distinct
    out, comps, lab_nodes = maintain_clusters(
        shard.select(F.col("media_id").alias("node")),
        e_corpus,
        e_same.unionByName(e_near),
    )
    return out.withColumnRenamed("node", "media_id"), comps, lab_nodes


def _cluster_chain(spark: SparkSession, sf_dir: str, store) -> DataFrame:
    """The two-day image-maintainer chain shared by
    q_dedup_cluster_chain (state kept in memory) and
    q_dedup_cluster_chain_persisted (state committed to and read back
    from a snapshot table). ``store(state, delta)`` turns a day's lazy
    (media_id, label) state into the state the next update probes;
    ``delta`` is None for the initial corpus state and (remap, out) —
    the day's touched-label remap and shard verdicts — after day 1."""
    from breweries_case_spark.operators.dedup import advance_state, relabel

    h = _ahash_table(spark, sf_dir).localCheckpoint()
    s1 = h.filter(F.col("media_id") % 40 == 0).localCheckpoint()
    s2 = h.filter(F.col("media_id") % 40 == 20).localCheckpoint()
    corpus = h.filter(F.col("media_id") % _MEDIA_SHARD_MOD != 0)
    state0 = store(hash_cluster_assignment(corpus), None)

    out1, comps1, labs1 = _hash_cluster_update(corpus, state0, s1)
    out1 = out1.localCheckpoint()
    remap1, state1 = advance_state(state0, (out1, comps1, labs1), "media_id")
    state1 = store(state1, (remap1, out1))

    update2 = _hash_cluster_update(corpus.unionByName(s1), state1, s2)
    # day 2's remap also relabels day 1's rows: two clusters can only
    # merge later through a future shard, which then touches both
    remap2, _ = advance_state(state1, update2, "media_id")
    day1 = relabel(out1.withColumnRenamed("cluster_id", "label"), remap2)
    return day1.select(
        "media_id",
        F.lit(1).cast("long").alias("day"),
        F.col("label").alias("cluster_id"),
        "verdict",
    ).unionByName(
        update2[0].select(
            "media_id", F.lit(2).cast("long").alias("day"), "cluster_id", "verdict"
        )
    )


def q_dedup_cluster_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-DAY incremental maintainer chain — the state-EVOLUTION
    property no single-shard id pins: day 1's update must leave behind
    a state that day 2 can update to the exact full-recompute fixpoint.
    Deterministic deliveries: day 1 = media_id % 40 == 0, day 2 =
    media_id % 40 == 20 (together the family's % 20 shard); corpus =
    the rest. The chain:

        state0 = stored corpus clusters (``hash_cluster_assignment``)
        day 1:  ``_hash_cluster_update``(corpus, state0, shard1) →
                verdicts1; state1 = ``advance_state``: corpus rows with
                TOUCHED labels remapped through the update graph +
                shard1 rows (untouched clusters keep their label — by
                definition they have no edge to the shard)
        day 2:  ``_hash_cluster_update``(corpus ∪ shard1, state1,
                shard2) → verdicts2; shard1's FINAL labels remap once
                more through day 2's touched map

    Output: one row per shard media — (media_id, day, cluster_id =
    the FINAL post-day-2 label, verdict = that doc's own-day verdict
    against the state its delivery probed). Oracle: THREE recursive
    fixpoints (corpus-only, corpus+shard1, full) — final labels must
    equal the full fixpoint and each day's verdicts must audit the
    PREVIOUS state's cluster counts, so a drift anywhere in the
    probe → contract → remap → append cycle reds the driver. Per-day
    cost is O(shard_d); state maintenance is the touched-label remap
    (O(touched)) plus the shard append — never a corpus rewrite."""
    return _cluster_chain(
        spark, sf_dir, lambda state, _delta: state.localCheckpoint()
    )


#: state-table bucket count for the persisted maintainer chain: labels
#: hash into label % _STATE_BUCKETS partitions so a day's update
#: rewrites only the buckets its touched labels and shard rows land in
_STATE_BUCKETS = 16


def _state_bucket(label_col):
    return (label_col % _STATE_BUCKETS).cast("string")


def _overwrite_changed_buckets(state, changed: set[str], tdir: str) -> None:
    """Commit a new state version rewriting ONLY the ``changed`` buckets
    of a (…, sb)-bucketed snapshot table: the buckets that still hold
    rows are dynamically overwritten; changed buckets the update
    EMPTIED are dropped with an explicit delete commit (dynamic
    overwrite only replaces partitions present in the staged frame, so
    without the delete a drained bucket's old files would silently
    carry forward — the stale-row bug tests/test_round13_ops pins)."""
    from breweries_case_spark.io.snapshots import (
        commit_delete_partitions,
        commit_overwrite_partitions,
    )

    kept = state.filter(F.col("sb").isin(sorted(changed)))
    present = {r.sb for r in kept.select("sb").distinct().collect()}
    if present:
        commit_overwrite_partitions(kept, tdir, "sb")
    emptied = sorted(changed - present)
    if emptied:
        commit_delete_partitions(tdir, emptied)


def q_dedup_cluster_chain_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q_dedup_cluster_chain with its state PERSISTED through the
    snapshot log — the same chain (``_cluster_chain``), but the 'stored
    state' is a real ACID table instead of an in-memory frame, turning
    the O(shard) claim into the production read/write contract:

        v1: state0 is COMMITTED to a snapshot table bucketed by
            label % _STATE_BUCKETS (io/snapshots.py's manifest log), and
            day 1 reads it back (``read_snapshot``).
        day 1 → v2: state1 is committed by dynamically overwriting ONLY
            the buckets the day touched — old and new buckets of every
            remapped label plus the shard rows' buckets; untouched
            buckets carry forward at the manifest level, zero bytes
            rewritten (a bucket the remap EMPTIES is dropped with
            ``commit_delete_partitions``). The v1→v2 ``snapshot_diff``
            IS the label-remap change feed (pinned in
            tests/test_round13_ops). Day 2 reads the LATEST snapshot, so
            the in-memory state1 is never reused.

    Output and oracle are exactly q_dedup_cluster_chain's — a hash
    match proves the write → carry-forward → read → update cycle loses
    nothing. The scratch table lives in a temp dir and is removed after
    the (tiny, O(shard)) result materializes — the q_snapshot_changes
    discipline."""
    import shutil
    import tempfile

    from breweries_case_spark.io.snapshots import (
        commit_overwrite_partitions,
        read_snapshot,
    )

    tdir = tempfile.mkdtemp(prefix="clchainp_")

    def store(state: DataFrame, delta) -> DataFrame:
        state = state.withColumn("sb", _state_bucket(F.col("label")))
        if delta is None:
            commit_overwrite_partitions(state, tdir, "sb")  # v1
        else:
            remap, out = delta
            state = state.localCheckpoint()
            # the day's write set: every bucket a remapped label leaves
            # or enters, plus the shard rows' buckets — bounded by the
            # touched set, never the corpus (≤ _STATE_BUCKETS values).
            # Rows that leave a bucket rewrite it, so its surviving rows
            # are restaged too: state filtered to the changed set covers
            # both
            moved = remap.filter(F.col("label0") != F.col("newl"))
            changed = {
                r.sb
                for r in moved.select(_state_bucket(F.col("label0")).alias("sb"))
                .union(moved.select(_state_bucket(F.col("newl")).alias("sb")))
                .union(out.select(_state_bucket(F.col("cluster_id")).alias("sb")))
                .distinct()
                .collect()
            }
            _overwrite_changed_buckets(state, changed, tdir)  # v2 (+delete)
        return read_snapshot(spark, tdir).select("media_id", "label").localCheckpoint()

    try:
        out = _cluster_chain(spark, sf_dir, store)
        rows = out.collect()  # O(shard); materialize before scratch removal
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(tdir, ignore_errors=True)


def q_dedup_video_cluster_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental VIDEO-cluster maintainer — completes the maintainer
    family (image: q_dedup_cluster_incremental, text:
    dedup.q_dedup_text_cluster_incremental) on the shared-frame
    relation: assign a new video shard (media_id % 20 == 0) to the
    EXISTING video clusters or mint new ids without recomputing the
    corpus fixpoint (``dedup.maintain_clusters``). Stored state =
    ``video_cluster_assignment_from`` over the corpus inventory (the
    registered cluster id's exact semantics; at scale a loaded table).
    Update-graph edges:

        shard↔corpus pairs sharing ≥ VIDEO_SHARED_MIN fingerprints —
        candidates from the shard's distinct fingerprint keys
        BROADCAST-semi-pruning the FP_DF_CAP-capped corpus postings
        (corpus work O(shard), q_dedup_video_incremental's probe),
        verified by recounting against the candidates' FULL
        inventories — mapped video → stored label; ∪ intra-shard
        ``video_shared_pairs`` (shard-sized)

    The shared-frame predicate is a pairwise function of the two
    inventories, so corpus↔corpus edges are already inside the stored
    clusters and the contraction is exact. Output one row per
    fingerprinted shard video — (media_id, cluster_id, verdict
    'attached'/'merged'/'new'). Oracle: the closed-form frame-hash CTEs
    + TWO recursive fixpoints (corpus-only, corpus+shard) over the
    uncapped shared-count relation; a driver red is probe/cap recall
    loss, not CC logic."""
    from breweries_case_spark.operators.dedup import (
        broadcast_if_small,
        maintain_clusters,
    )

    fp = video_fingerprints(spark, sf_dir).localCheckpoint()
    is_shard = F.col("media_id") % _MEDIA_SHARD_MOD == 0
    shard_fp = fp.filter(is_shard).localCheckpoint()
    corpus_fp = fp.filter(~is_shard).localCheckpoint()
    state = video_cluster_assignment_from(corpus_fp).localCheckpoint()

    # shard→corpus probe: shard fingerprint keys prune the df-capped
    # corpus postings before any candidate forms
    rare = (
        corpus_fp.groupBy("hash_hi", "hash_lo")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= FP_DF_CAP)
        .select("hash_hi", "hash_lo")
    )
    probe = corpus_fp.join(rare, ["hash_hi", "hash_lo"], "left_semi").join(
        broadcast_if_small(shard_fp.select("hash_hi", "hash_lo").distinct()),
        ["hash_hi", "hash_lo"],
        "left_semi",
    )
    cand = (
        shard_fp.alias("s")
        .join(
            probe.alias("c"),
            (F.col("s.hash_hi") == F.col("c.hash_hi"))
            & (F.col("s.hash_lo") == F.col("c.hash_lo")),
        )
        .select(
            F.col("s.media_id").alias("shard_id"),
            F.col("c.media_id").alias("corpus_id"),
        )
        .distinct()
    )
    # verify: recount shared fingerprints against the FULL inventories
    # of the candidate videos (published thresholds exact under the cap)
    fa = shard_fp.select(
        F.col("media_id").alias("shard_id"), "hash_hi", "hash_lo"
    )
    fb = corpus_fp.select(
        F.col("media_id").alias("corpus_id"), "hash_hi", "hash_lo"
    )
    e_corpus = (
        cand.join(fa, "shard_id")
        .join(fb, ["corpus_id", "hash_hi", "hash_lo"])
        .groupBy("shard_id", "corpus_id")
        .agg(F.count("*").alias("shared_frames"))
        .filter(F.col("shared_frames") >= VIDEO_SHARED_MIN)
        .join(state.withColumnRenamed("media_id", "corpus_id"), "corpus_id")
        .select(F.col("shard_id").alias("u"), F.col("label").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    e_shard = video_shared_pairs(shard_fp).select(
        F.col("media_id_a").alias("u"), F.col("media_id_b").alias("v")
    )
    out, _, _ = maintain_clusters(
        shard_fp.select(F.col("media_id").alias("node")).distinct(),
        e_corpus,
        e_shard,
    )
    return out.withColumnRenamed("node", "media_id")


def q_dedup_video_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental VIDEO dedup — q_dedup_media_incremental's probe
    discipline on the fingerprint-SET surface: classify a new video
    shard (media_id % 20 == 0, the family's deterministic daily
    delivery) against the stored corpus WITHOUT re-pairing it. Tiers:

    1. **exact** — the shard video's FULL distinct fingerprint set
       equals a corpus video's set (groupBy/join on the sorted array
       itself, exact — the re-upload/re-container shape;
       q_dedup_video_clusters' collapse key used as a probe key).
       At scale the corpus side is the stored per-video set table,
       probed with O(shard) rows.
    2. **near** — the shard's distinct fingerprints (tiny) BROADCAST-
       semi-prune the df ≤ FP_DF_CAP corpus postings before any
       candidate forms (corpus-side work O(shard), the
       q_dedup_incremental discipline), then candidate (shard, corpus)
       video pairs verify their shared count against the FULL corpus
       inventory of the candidate videos — published thresholds exact,
       ≥ VIDEO_SHARED_MIN.

    Output one row per shard video: verdict 'exact_dup' / 'near_dup'
    / 'new' with dup_of = the smallest matching corpus media_id
    (exact precedence, NULL for 'new'; near candidates legitimately
    include identical-set videos — they share everything — so the
    near tier needs no exclusion, precedence handles it). Oracle:
    brute-force closed-form SQL over the same split (uncapped — a
    driver red is cap/probe recall loss, not a verify bug). At 100 TB
    the set table and the fingerprint postings are the incremental
    state: built once, appended per shard, per-day cost O(shard)."""
    from breweries_case_spark.operators.dedup import broadcast_if_small

    fp = video_fingerprints(spark, sf_dir).localCheckpoint()
    is_shard = F.col("media_id") % _MEDIA_SHARD_MOD == 0
    shard_fp = fp.filter(is_shard).localCheckpoint()
    corp_fp = fp.filter(~is_shard).localCheckpoint()

    def _sets(f: DataFrame) -> DataFrame:
        return f.groupBy("media_id").agg(
            F.sort_array(
                F.collect_list(F.struct("hash_hi", "hash_lo"))
            ).alias("fps")
        )

    ex = (
        _sets(shard_fp)
        .join(
            _sets(corp_fp).select(
                "fps", F.col("media_id").alias("cid")
            ),
            "fps",
        )
        .groupBy("media_id")
        .agg(F.min("cid").alias("exact_dup_of"))
    )
    # near: shard fingerprint keys broadcast-prune the capped corpus
    # postings; only colliding corpus rows enter the candidate join
    rare_corp = corp_fp.join(
        corp_fp.groupBy("hash_hi", "hash_lo")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= FP_DF_CAP)
        .select("hash_hi", "hash_lo"),
        ["hash_hi", "hash_lo"],
        "left_semi",
    )
    probe_keys = shard_fp.select("hash_hi", "hash_lo").distinct()
    hits = rare_corp.join(
        # size-gated hint — see broadcast_if_small
        broadcast_if_small(probe_keys), ["hash_hi", "hash_lo"], "left_semi"
    )
    cand = (
        shard_fp.join(
            hits.select(
                F.col("media_id").alias("cid"), "hash_hi", "hash_lo"
            ),
            ["hash_hi", "hash_lo"],
        )
        .select("media_id", "cid")
        .distinct()
    )
    # verify against the FULL inventories of the candidate videos so
    # the threshold sees exact shared counts even where the cap pruned
    nr = (
        cand.join(shard_fp, "media_id")
        .join(
            corp_fp.select(
                F.col("media_id").alias("cid"), "hash_hi", "hash_lo"
            ),
            ["cid", "hash_hi", "hash_lo"],
        )
        .groupBy("media_id", "cid")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= VIDEO_SHARED_MIN)
        .groupBy("media_id")
        .agg(F.min("cid").alias("near_dup_of"))
    )
    return (
        shard_fp.select("media_id")
        .distinct()
        .join(ex, "media_id", "left")
        .join(nr, "media_id", "left")
        .select(
            "media_id",
            F.when(F.col("exact_dup_of").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_dup_of").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            F.coalesce("exact_dup_of", "near_dup_of").alias("dup_of"),
        )
    )


def q_dedup_media_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal DUPLICATION DASHBOARD — q_dedup_rate_by_source's
    per-feed report generalized over the media surface, at each
    modality's natural storage granularity: for image and audio, items
    are MEDIA and duplicates are identical-fingerprint copies beyond
    each hash group's min-id keeper (the exact-dedup rate a blob store
    realizes by content-addressing the perceptual hash); for video,
    items are the per-video distinct FRAME fingerprints and duplicates
    are postings beyond each fingerprint's first video (the frame-level
    storage dedup rate — boilerplate frames shared across videos).
    Output (modality, n_items, n_distinct, dup_items, dup_rate) with
    the module 6-dp half-up rate. Plan: three hash aggregates over the
    already-computed fingerprint tables — |distinct hashes| output
    rows; at 100 TB this is the nightly one-liner over the stored
    index. Oracle: the closed-form hash CTEs re-aggregated."""
    img = image_hashes(spark, sf_dir).select(
        F.lit("image").alias("modality"),
        F.col("ahash_hi").alias("hi"),
        F.col("ahash_lo").alias("lo"),
    )
    aud = audio_hashes(spark, sf_dir).select(
        F.lit("audio").alias("modality"),
        F.col("dhash_hi").alias("hi"),
        F.col("dhash_lo").alias("lo"),
    )
    vid = video_fingerprints(spark, sf_dir).select(
        F.lit("video").alias("modality"), "hash_hi", "hash_lo"
    ).select("modality", F.col("hash_hi").alias("hi"), F.col("hash_lo").alias("lo"))
    q6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        img.unionByName(aud)
        .unionByName(vid)
        .groupBy("modality")
        .agg(
            F.count("*").alias("n_items"),
            F.countDistinct("hi", "lo").alias("n_distinct"),
        )
        .select(
            "modality",
            "n_items",
            "n_distinct",
            (F.col("n_items") - F.col("n_distinct")).alias("dup_items"),
            q6(
                (F.col("n_items") - F.col("n_distinct")).cast("double")
                / F.col("n_items").cast("double")
            ).alias("dup_rate"),
        )
    )


def q_dedup_perceptual_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked certificate for the PERCEPTUAL NEAR-DUP CAPS —
    the q_dedup_containment_capped pattern applied to the r10 blockers:
    publishes, per modality, the ground-truth pair count, the pairs the
    df cap would MISS (**pinned 0 in the oracle** — a blocking-recall
    regression after a cap, band-geometry, or fixture change turns the
    driver red instead of silently dropping duplicates), and the
    candidate volumes with and without the cap (the measured trade).

    Rows ``(check_name, value)``:

    - ``image_true_hash_pairs`` / ``audio_true_hash_pairs``: DISTINCT
      hash-value pairs at hamming 1..IMG_HAMMING_MAX — the tier-2
      quantity the band cap can lose (tier-1 identical-hash pairs are
      cap-exempt by construction). Ground truth is the all-pairs join
      over the DISTINCT-hash table — quadratic in hash DIVERSITY, not
      corpus size (38/84 distinct hashes at sf0.1), the certify-only
      tier exactly like q_dedup_containment's.
    - ``image_capped_missed_true_pairs`` / ``audio_...`` /
      ``video_capped_missed_true_pairs``: true pairs with NO
      df≤cap shared band/fingerprint — pinned 0.
    - ``*_candidates_full`` / ``*_candidates_capped``: distinct
      band-sharing (resp. fingerprint-sharing) pairs without/with the
      cap — both recomputed by the oracle.
    - ``video_true_pairs``: ground-truth ≥ VIDEO_SHARED_MIN pairs.
    """
    out: list[tuple[str, int]] = []
    ham = F.bit_count(
        F.col("a.hash_hi").bitwiseXOR(F.col("b.hash_hi"))
    ) + F.bit_count(F.col("a.hash_lo").bitwiseXOR(F.col("b.hash_lo")))
    lt = F.struct(F.col("a.hash_hi"), F.col("a.hash_lo")) < F.struct(
        F.col("b.hash_hi"), F.col("b.hash_lo")
    )

    def _band_cands(dist: DataFrame, cap: int | None) -> DataFrame:
        bands = dist.select(
            "hash_hi",
            "hash_lo",
            F.explode(F.array(*_band_structs(_HASH_BANDS))).alias("b"),
        ).select(
            "hash_hi",
            "hash_lo",
            F.col("b.band_idx").alias("band_idx"),
            F.col("b.band_val").alias("band_val"),
        )
        if cap is not None:
            rare = (
                bands.groupBy("band_idx", "band_val")
                .agg(F.count("*").alias("df"))
                .filter(F.col("df") <= cap)
                .select("band_idx", "band_val")
            )
            bands = bands.join(rare, ["band_idx", "band_val"], "left_semi")
        a, b = bands.alias("a"), bands.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_val") == F.col("b.band_val"))
                & lt,
            )
            .select(
                F.col("a.hash_hi").alias("hi_a"),
                F.col("a.hash_lo").alias("lo_a"),
                F.col("b.hash_hi").alias("hi_b"),
                F.col("b.hash_lo").alias("lo_b"),
            )
            .distinct()
        )

    for tag, hashes in (
        ("image", _ahash_table(spark, sf_dir)),
        (
            "audio",
            audio_hashes(spark, sf_dir).select(
                "media_id",
                F.col("dhash_hi").alias("hash_hi"),
                F.col("dhash_lo").alias("hash_lo"),
            ),
        ),
    ):
        dist = (
            hashes.select("hash_hi", "hash_lo").distinct().localCheckpoint()
        )
        # ground-truth tier: all-pairs over DISTINCT hashes (tiny —
        # bounded by hash diversity; certify-only, never the 100× plan)
        tp = (
            dist.alias("a")
            .join(dist.alias("b"), lt)
            .filter(ham <= IMG_HAMMING_MAX)
            .select(
                F.col("a.hash_hi").alias("hi_a"),
                F.col("a.hash_lo").alias("lo_a"),
                F.col("b.hash_hi").alias("hi_b"),
                F.col("b.hash_lo").alias("lo_b"),
            )
            .localCheckpoint()
        )
        capped = _band_cands(dist, BAND_DF_CAP).localCheckpoint()
        keys = ["hi_a", "lo_a", "hi_b", "lo_b"]
        out.append((f"{tag}_true_hash_pairs", tp.count()))
        out.append(
            (
                f"{tag}_capped_missed_true_pairs",
                tp.join(capped, keys, "left_anti").count(),
            )
        )
        out.append(
            (f"{tag}_candidates_full", _band_cands(dist, None).count())
        )
        out.append((f"{tag}_candidates_capped", capped.count()))

    fp = video_fingerprints(spark, sf_dir).localCheckpoint()

    def _fp_cands(posts: DataFrame) -> DataFrame:
        a, b = posts.alias("a"), posts.alias("b")
        return (
            a.join(
                b,
                (F.col("a.hash_hi") == F.col("b.hash_hi"))
                & (F.col("a.hash_lo") == F.col("b.hash_lo"))
                & (F.col("a.media_id") < F.col("b.media_id")),
            )
            .select(
                F.col("a.media_id").alias("media_id_a"),
                F.col("b.media_id").alias("media_id_b"),
            )
            .distinct()
        )

    vtp = (
        fp.alias("a")
        .join(
            fp.alias("b"),
            (F.col("a.hash_hi") == F.col("b.hash_hi"))
            & (F.col("a.hash_lo") == F.col("b.hash_lo"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .groupBy(
            F.col("a.media_id").alias("media_id_a"),
            F.col("b.media_id").alias("media_id_b"),
        )
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= VIDEO_SHARED_MIN)
        .select("media_id_a", "media_id_b")
        .localCheckpoint()
    )
    rare_fp = fp.join(
        fp.groupBy("hash_hi", "hash_lo")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= FP_DF_CAP)
        .select("hash_hi", "hash_lo"),
        ["hash_hi", "hash_lo"],
        "left_semi",
    )
    vcap = _fp_cands(rare_fp).localCheckpoint()
    out.append(("video_true_pairs", vtp.count()))
    out.append(
        (
            "video_capped_missed_true_pairs",
            vtp.join(vcap, ["media_id_a", "media_id_b"], "left_anti").count(),
        )
    )
    out.append(("video_candidates_full", _fp_cands(fp).count()))
    out.append(("video_candidates_capped", vcap.count()))
    return spark.createDataFrame(out, "check_name string, value long")


#: mechanism cap for the pruning-plumbing certificate — deliberately
#: BELOW driver-fixture dfs so every prune + verify-recount branch
#: actually executes under the oracle (production caps sit above every
#: fixture maximum, so there capped == full and those branches are
#: no-ops end-to-end — the r10 ADVICE gap this id closes)
MECH_CAP = 2


def q_dedup_mechanism_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked MECHANISM-CAP certificate — the companion to
    q_dedup_containment_capped / q_dedup_perceptual_capped, run at a
    cap the driver data actually EXCEEDS: the production certificates
    pin missed-true-pairs = 0 because DF_CAP/BAND_DF_CAP/FP_DF_CAP sit
    above every fixture df, which also means their pruning and
    verify-recount branches never fire under the DuckDB oracle (only
    small unit fixtures covered them). This id runs the REAL
    production builders — ``containment_pairs(df_cap=2)`` (hot-gram
    split + full-inventory recount), ``hash_near_pairs(band_df_cap=2)``
    (tier-2 band pruning + XOR verify), ``video_shared_pairs
    (df_cap=2)`` (posting prune + full recount) — at MECH_CAP = 2,
    where pruning genuinely engages, and publishes per family the
    capped-but-verified pair count plus the pairs the mechanism cap
    misses. Every value is RECOMPUTED by the oracle (not pinned): the
    counts are nonzero by design, so any drift in the prune/verify
    plumbing — the split predicate, the recount join, the cap
    comparison — reds the driver on values.

    Rows ``(check_name, value)``:

    - ``containment_mech_pairs`` / ``containment_mech_missed``: exact
      containment pairs found / lost when candidates come only from
      grams with df ≤ 2 (published values stay exact via the verify
      recount — what this certifies).
    - ``image_mech_pairs`` / ``image_mech_missed`` (and ``audio_``):
      verified tier-2 DISTINCT-hash pairs at band_df_cap = 2 vs the
      all-pairs hamming ground truth.
    - ``video_mech_pairs`` / ``video_mech_missed``: verified
      shared-frame pairs when postings are pruned at fingerprint
      df ≤ 2 vs the uncapped ground truth.

    Scale note: this is a CERTIFICATE (ground-truth tiers included,
    quadratic in hash diversity / block density) — the production ids
    run the same builders at production caps."""
    from breweries_case_spark.operators.dedup import (
        _docs_with_gram_rows,
        containment_pairs,
    )

    out: list[tuple[str, int]] = []
    grams = _docs_with_gram_rows(spark, sf_dir).localCheckpoint()
    exact = (
        containment_pairs(grams, capped=False)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    mech = (
        containment_pairs(grams, capped=True, df_cap=MECH_CAP)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    out.append(("containment_mech_pairs", mech.count()))
    out.append(
        (
            "containment_mech_missed",
            exact.join(mech, ["doc_a", "doc_b"], "left_anti").count(),
        )
    )

    ham = F.bit_count(
        F.col("a.hash_hi").bitwiseXOR(F.col("b.hash_hi"))
    ) + F.bit_count(F.col("a.hash_lo").bitwiseXOR(F.col("b.hash_lo")))
    lt = F.struct(F.col("a.hash_hi"), F.col("a.hash_lo")) < F.struct(
        F.col("b.hash_hi"), F.col("b.hash_lo")
    )
    for tag, hashes in (
        ("image", _ahash_table(spark, sf_dir)),
        (
            "audio",
            audio_hashes(spark, sf_dir).select(
                "media_id",
                F.col("dhash_hi").alias("hash_hi"),
                F.col("dhash_lo").alias("hash_lo"),
            ),
        ),
    ):
        dist = (
            hashes.select("hash_hi", "hash_lo").distinct().localCheckpoint()
        )
        tp = (
            dist.alias("a")
            .join(dist.alias("b"), lt)
            .filter(ham <= IMG_HAMMING_MAX)
            .select(
                F.col("a.hash_hi").alias("hi_a"),
                F.col("a.hash_lo").alias("lo_a"),
                F.col("b.hash_hi").alias("hi_b"),
                F.col("b.hash_lo").alias("lo_b"),
            )
            .localCheckpoint()
        )
        mp = (
            hash_near_pairs(dist, band_df_cap=MECH_CAP)
            .select("hi_a", "lo_a", "hi_b", "lo_b")
            .localCheckpoint()
        )
        keys = ["hi_a", "lo_a", "hi_b", "lo_b"]
        out.append((f"{tag}_mech_pairs", mp.count()))
        out.append(
            (f"{tag}_mech_missed", tp.join(mp, keys, "left_anti").count())
        )

    fp = video_fingerprints(spark, sf_dir).localCheckpoint()
    vtp = (
        fp.alias("a")
        .join(
            fp.alias("b"),
            (F.col("a.hash_hi") == F.col("b.hash_hi"))
            & (F.col("a.hash_lo") == F.col("b.hash_lo"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .groupBy(
            F.col("a.media_id").alias("media_id_a"),
            F.col("b.media_id").alias("media_id_b"),
        )
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= VIDEO_SHARED_MIN)
        .select("media_id_a", "media_id_b")
        .localCheckpoint()
    )
    vm = (
        video_shared_pairs(fp, df_cap=MECH_CAP)
        .select("media_id_a", "media_id_b")
        .localCheckpoint()
    )
    out.append(("video_mech_pairs", vm.count()))
    out.append(
        (
            "video_mech_missed",
            vtp.join(
                vm, ["media_id_a", "media_id_b"], "left_anti"
            ).count(),
        )
    )
    return spark.createDataFrame(out, "check_name string, value long")


QUERIES = {
    "q_multimodal_meta": q_multimodal_meta,
    "q_multimodal_real_invariants": q_multimodal_real_invariants,
    "q_multimodal_features": q_multimodal_features,
    "q_multimodal_resize": q_multimodal_resize,
    "q_multimodal_frames": q_multimodal_frames,
    "q_multimodal_decode": q_multimodal_decode,
    "q_multimodal_resize_real": q_multimodal_resize_real,
    "q_multimodal_frames_real": q_multimodal_frames_real,
    "q_multimodal_image_hash": q_multimodal_image_hash,
    "q_dedup_image_near": q_dedup_image_near,
    "q_multimodal_audio_hash": q_multimodal_audio_hash,
    "q_dedup_audio_near": q_dedup_audio_near,
    "q_dedup_video_frames": q_dedup_video_frames,
    "q_dedup_perceptual_capped": q_dedup_perceptual_capped,
    "q_dedup_image_clusters": q_dedup_image_clusters,
    "q_dedup_video_clusters": q_dedup_video_clusters,
    "q_dedup_mechanism_cap": q_dedup_mechanism_cap,
    "q_dedup_video_incremental": q_dedup_video_incremental,
    "q_dedup_video_keeper": q_dedup_video_keeper,
    "q_dedup_media_clusters": q_dedup_media_clusters,
    "q_dedup_media_incremental": q_dedup_media_incremental,
    "q_dedup_cluster_incremental": q_dedup_cluster_incremental,
    "q_dedup_cluster_chain": q_dedup_cluster_chain,
    "q_dedup_cluster_chain_persisted": q_dedup_cluster_chain_persisted,
    "q_dedup_video_cluster_incremental": q_dedup_video_cluster_incremental,
    "q_dedup_media_rate": q_dedup_media_rate,
}

# closed-form pixel regeneration for the synth 8×8 BMPs (image docs are
# doc_id % 3 = 0; pixel (x, y) = ((x·31+s)%256, (y·57+s)%256,
# (x·y+s)%256), s = doc_id; k = y·8+x row-major top-down, matching
# parse_bmp) → the same aHash/dHash bit packing the Spark side computes
# from the DECODED bytes. SUM is CAST back to BIGINT (DuckDB widens to
# HUGEINT); dHash bit j = y·7+x = k − k//8.
_IMAGE_HASH_CTES = """
        WITH img AS (
            SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
        px AS (
            SELECT doc_id, k,
                   ((k % 8) * 31 + doc_id) % 256
                   + ((k // 8) * 57 + doc_id) % 256
                   + ((k % 8) * (k // 8) + doc_id) % 256 AS gray3
            FROM img, unnest(generate_series(0, 63)) AS s(k)),
        tot AS (
            SELECT doc_id, SUM(gray3) AS total FROM px GROUP BY doc_id),
        ah AS (
            SELECT p.doc_id AS media_id,
                   CAST(SUM(CASE WHEN gray3 * 64 > total AND k >= 32
                                 THEN (CAST(1 AS BIGINT) << (k - 32))
                                 ELSE 0 END) AS BIGINT) AS ahash_hi,
                   CAST(SUM(CASE WHEN gray3 * 64 > total AND k < 32
                                 THEN (CAST(1 AS BIGINT) << k)
                                 ELSE 0 END) AS BIGINT) AS ahash_lo
            FROM px p JOIN tot USING (doc_id) GROUP BY p.doc_id),
        dh AS (
            SELECT a.doc_id AS media_id,
                   CAST(SUM(CASE WHEN b.gray3 > a.gray3
                                 THEN (CAST(1 AS BIGINT) << (a.k - a.k // 8))
                                 ELSE 0 END) AS BIGINT) AS dhash
            FROM px a JOIN px b
              ON a.doc_id = b.doc_id AND b.k = a.k + 1 AND a.k % 8 < 7
            GROUP BY a.doc_id)
"""

ORACLES = {
    "q_multimodal_meta": """
        SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                               ELSE 'video' END AS modality,
               count(*) AS media_count,
               CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               MAX(n_chars * 10) AS max_duration_ms
        FROM documents GROUP BY 1
    """,
    # The real-decode pipeline is FULLY oracle-checkable (r5): every
    # synthesized payload is a closed-form function of (doc_id, n_chars),
    # so DuckDB recomputes the decoded features and exact container byte
    # sizes from the documents table — WAV is 44 header + 2 bytes/sample,
    # the 8×8 24-bit BMP is 54 + 192 = 246 bytes, the 4-frame IVF is
    # 32 + 4·(12 + 246) = 1064. A wrong encoder, parser, or feature
    # expression on either side of the mapInPandas boundary reds the
    # value hash; only COMPRESSED codecs stay out (the one declared
    # NotImplementedError).
    # Outer projection flattens the feature list to scalars f0..f3 —
    # list cells are unhashable on pandas comparison bridges (r5 err);
    # DuckDB lists are 1-indexed, Spark arrays 0-indexed.
    "q_multimodal_decode": """
        SELECT media_id, modality, n_bytes,
               features[1] AS f0, features[2] AS f1,
               features[3] AS f2, features[4] AS f3
        FROM (
        WITH base AS (
            SELECT doc_id AS media_id, doc_id % 3 AS m, n_chars,
                   doc_id % 50 + 2 AS period,
                   LEAST(n_chars, 400) AS n
            FROM documents),
        audio AS (
            SELECT media_id, 'audio' AS modality,
                   CAST(44 + 2 * n AS BIGINT) AS n_bytes,
                   list_value(CAST(n AS DOUBLE), 16000.0,
                              CAST(list_sum(amps) AS DOUBLE) / n,
                              CAST(list_max(amps) AS DOUBLE)) AS features
            FROM (
                SELECT media_id, n,
                       list_transform(range(0, n),
                           i -> abs((i % period) * 1200 - period * 600))
                           AS amps
                FROM base WHERE m = 1)),
        image AS (
            SELECT media_id, 'image' AS modality,
                   CAST(246 AS BIGINT) AS n_bytes,
                   list_value(8.0, 8.0,
                              CAST(list_sum(px) AS DOUBLE) / 192,
                              CAST(list_max(px) AS DOUBLE)) AS features
            FROM (
                SELECT media_id,
                       flatten(list_transform(range(0, 8), y ->
                           flatten(list_transform(range(0, 8), x ->
                               list_value((x * 31 + media_id) % 256,
                                          (y * 57 + media_id) % 256,
                                          (x * y + media_id) % 256)))))
                           AS px
                FROM base WHERE m = 0)),
        video AS (
            SELECT media_id, 'video' AS modality,
                   CAST(1064 AS BIGINT) AS n_bytes,
                   list_value(4.0, 750.0, 8.0, 8.0) AS features
            FROM base WHERE m = 2)
        SELECT * FROM audio
        UNION ALL SELECT * FROM image
        UNION ALL SELECT * FROM video
        ) AS _flat
    """,
    # Fake-decode paths: the payload is the ASCII documents text, so every
    # byte stat / slice is recomputable with ascii/substr. least(32, len)
    # mirrors Python's truncating content[:32]; the text is never empty
    # (min length >= 44 across driver sfs: 47 @ sf0.001, 48 @ sf0.01,
    # 44 @ sf0.1), so the empty-payload branch cannot fire — the unit
    # tests cover it.
    "q_multimodal_features": """
        SELECT doc_id AS media_id,
               (['image','audio','video'])[doc_id % 3 + 1] AS modality,
               CAST(length(text) AS BIGINT) AS n_bytes,
               CAST(length(text) AS DOUBLE) AS f0,
               CAST(ascii(substr(text, 1, 1)) AS DOUBLE) AS f1,
               CAST(ascii(substr(text, length(text), 1)) AS DOUBLE) AS f2,
               CAST(list_sum(list_transform(
                        generate_series(1, least(32, length(text))),
                        i -> ascii(substr(text, i, 1)))) % 997
                    AS DOUBLE) AS f3
        FROM documents
    """,
    # repeat-then-truncate IS byte cycling: resized[i] = content[i mod L].
    "q_multimodal_resize": """
        SELECT doc_id AS media_id,
               CAST(32 AS INT) AS width, CAST(32 AS INT) AS height,
               substr(repeat(text,
                             CAST(ceil(1024.0 / length(text)) AS INT)),
                      1, 1024) AS resized_text
        FROM documents WHERE doc_id % 3 = 0
    """,
    # one 16-byte slice per 1000 ms tick, offset (i*16) mod len — the
    # unnested per-row series reproduces the 1→N cardinality exactly
    # (the table-function form of generate_series can't take lateral
    # column parameters).
    "q_multimodal_frames": """
        WITH v AS (
            SELECT doc_id AS media_id, text, length(text) AS L,
                   greatest(1, (n_chars * 10) // 1000) AS nf
            FROM documents WHERE doc_id % 3 = 2),
        ex AS (
            SELECT media_id, text, L,
                   unnest(generate_series(0, nf - 1)) AS i
            FROM v)
        SELECT media_id, CAST(i AS INT) AS frame_idx,
               CAST(i * 1000 AS BIGINT) AS frame_ms,
               substr(text, ((i * 16) % L) + 1, 16) AS frame_text
        FROM ex
    """,
    # Real-path certificate: coverage counts recomputed from the modality
    # assignment; every structural residual pinned at zero.
    "q_multimodal_real_invariants": """
        SELECT 'images_resized' AS check_name,
               CAST(COUNT(*) AS BIGINT) AS value
        FROM documents WHERE doc_id % 3 = 0
        UNION ALL SELECT 'videos_sampled', COUNT(*)
        FROM documents WHERE doc_id % 3 = 2
        UNION ALL SELECT 'resize_dim_violations', 0
        UNION ALL SELECT 'resize_size_violations', 0
        UNION ALL SELECT 'frame_bucket_violations', 0
        UNION ALL SELECT 'frame_size_violations', 0
    """,
}

ORACLES["q_multimodal_image_hash"] = (
    _IMAGE_HASH_CTES
    + """
        SELECT media_id, ahash_hi, ahash_lo, dhash
        FROM ah JOIN dh USING (media_id)
    """
)

# ground-truth ALL-PAIRS formulation over the closed-form hashes — the
# Spark side's banded blocker must reproduce it exactly (lossless by
# pigeonhole: <= IMG_HAMMING_MAX differing bits cannot touch all 4
# bands), so blocker recall loss reds the driver
ORACLES["q_dedup_image_near"] = (
    _IMAGE_HASH_CTES
    + f"""
        SELECT media_id_a, media_id_b, hamming FROM (
            SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
                   CAST(bit_count(xor(a.ahash_hi, b.ahash_hi))
                        + bit_count(xor(a.ahash_lo, b.ahash_lo))
                        AS BIGINT) AS hamming
            FROM ah a JOIN ah b ON a.media_id < b.media_id)
        WHERE hamming <= {IMG_HAMMING_MAX}
    """
)

# audio delta-sign bits closed-form: sample i = (i % period)·1200 −
# period·600, period = doc_id % 50 + 2, n = min(n_chars, 400) samples →
# bit k set iff k+1 <= n−1 AND (k+1) % period ≠ 0 (the sawtooth rises
# everywhere except its wrap)
_AUDIO_HASH_CTES = """
        WITH aud AS (
            SELECT doc_id, doc_id % 50 + 2 AS period,
                   LEAST(n_chars, 400) AS n
            FROM documents WHERE doc_id % 3 = 1),
        bits AS (
            SELECT doc_id, k,
                   CASE WHEN k + 1 <= n - 1 AND (k + 1) % period <> 0
                        THEN 1 ELSE 0 END AS bit
            FROM aud, unnest(generate_series(0, 63)) AS s(k)),
        dh AS (
            SELECT doc_id AS media_id,
                   CAST(SUM(CASE WHEN bit = 1 AND k >= 32
                                 THEN (CAST(1 AS BIGINT) << (k - 32))
                                 ELSE 0 END) AS BIGINT) AS dhash_hi,
                   CAST(SUM(CASE WHEN bit = 1 AND k < 32
                                 THEN (CAST(1 AS BIGINT) << k)
                                 ELSE 0 END) AS BIGINT) AS dhash_lo
            FROM bits GROUP BY doc_id)
"""

ORACLES["q_multimodal_audio_hash"] = (
    _AUDIO_HASH_CTES
    + """
        SELECT media_id, dhash_hi, dhash_lo FROM dh
    """
)

ORACLES["q_dedup_audio_near"] = (
    _AUDIO_HASH_CTES
    + f"""
        SELECT media_id_a, media_id_b, hamming FROM (
            SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
                   CAST(bit_count(xor(a.dhash_hi, b.dhash_hi))
                        + bit_count(xor(a.dhash_lo, b.dhash_lo))
                        AS BIGINT) AS hamming
            FROM dh a JOIN dh b ON a.media_id < b.media_id)
        WHERE hamming <= {IMG_HAMMING_MAX}
    """
)

# cross-modal dup dashboard: the three closed-form hash families
# re-aggregated — media granularity for image/audio (identical aHash /
# delta-sign groups), frame granularity for video (shared fingerprints)
ORACLES["q_dedup_media_rate"] = f"""
        WITH img AS (
            SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
        px AS (
            SELECT doc_id, k,
                   ((k % 8) * 31 + doc_id) % 256
                   + ((k // 8) * 57 + doc_id) % 256
                   + ((k % 8) * (k // 8) + doc_id) % 256 AS gray3
            FROM img, unnest(generate_series(0, 63)) AS s(k)),
        tot AS (
            SELECT doc_id, SUM(gray3) AS total FROM px GROUP BY doc_id),
        iah AS (
            SELECT p.doc_id,
                   CAST(SUM(CASE WHEN gray3 * 64 > total AND k >= 32
                                 THEN (CAST(1 AS BIGINT) << (k - 32))
                                 ELSE 0 END) AS BIGINT) AS hi,
                   CAST(SUM(CASE WHEN gray3 * 64 > total AND k < 32
                                 THEN (CAST(1 AS BIGINT) << k)
                                 ELSE 0 END) AS BIGINT) AS lo
            FROM px p JOIN tot USING (doc_id) GROUP BY p.doc_id),
        aud AS (
            SELECT doc_id, doc_id % 50 + 2 AS period,
                   LEAST(n_chars, 400) AS n
            FROM documents WHERE doc_id % 3 = 1),
        abits AS (
            SELECT doc_id, k,
                   CASE WHEN k + 1 <= n - 1 AND (k + 1) % period <> 0
                        THEN 1 ELSE 0 END AS bit
            FROM aud, unnest(generate_series(0, 63)) AS s(k)),
        adh AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN bit = 1 AND k >= 32
                                 THEN (CAST(1 AS BIGINT) << (k - 32))
                                 ELSE 0 END) AS BIGINT) AS hi,
                   CAST(SUM(CASE WHEN bit = 1 AND k < 32
                                 THEN (CAST(1 AS BIGINT) << k)
                                 ELSE 0 END) AS BIGINT) AS lo
            FROM abits GROUP BY doc_id),
        vid AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2),
        fpx AS (
            SELECT doc_id, f, k,
                   ((k % 8) * 31 + doc_id + f) % 256
                   + ((k // 8) * 57 + doc_id) % 256
                   + ((k % 8) * (k // 8) + doc_id + f) % 256 AS gray3
            FROM vid,
                 unnest([0, 250, 500, 750]) AS ff(f),
                 unnest(generate_series(0, 63)) AS s(k)),
        ftot AS (
            SELECT doc_id, f, SUM(gray3) AS total
            FROM fpx GROUP BY 1, 2),
        fh AS (
            SELECT p.doc_id, p.f,
                   CAST(SUM(CASE WHEN gray3 * 64 > total AND k >= 32
                                 THEN (CAST(1 AS BIGINT) << (k - 32))
                                 ELSE 0 END) AS BIGINT) AS hi,
                   CAST(SUM(CASE WHEN gray3 * 64 > total AND k < 32
                                 THEN (CAST(1 AS BIGINT) << k)
                                 ELSE 0 END) AS BIGINT) AS lo
            FROM fpx p JOIN ftot USING (doc_id, f) GROUP BY 1, 2),
        fd AS (SELECT DISTINCT doc_id, hi, lo FROM fh),
        uni AS (
            SELECT 'image' AS modality, hi, lo FROM iah
            UNION ALL SELECT 'audio', hi, lo FROM adh
            UNION ALL SELECT 'video', hi, lo FROM fd)
        SELECT modality,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(COUNT(DISTINCT (hi, lo)) AS BIGINT) AS n_distinct,
               CAST(COUNT(*) - COUNT(DISTINCT (hi, lo)) AS BIGINT)
                   AS dup_items,
               FLOOR((COUNT(*) - COUNT(DISTINCT (hi, lo)))
                     / CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5)
                   / 1000000.0 AS dup_rate
        FROM uni GROUP BY modality
    """

# incremental perceptual classification: closed-form hashes, shard =
# media % 20 == 0, brute-force exact + hamming-1..3 ground truth with
# exact-precedence verdicts — blocker/cap recall loss reds the driver
ORACLES["q_dedup_media_incremental"] = (
    _IMAGE_HASH_CTES
    + f"""
        , sh2 AS (
            SELECT media_id, ahash_hi AS hi, ahash_lo AS lo FROM ah
            WHERE media_id % {_MEDIA_SHARD_MOD} = 0),
        co2 AS (
            SELECT media_id, ahash_hi AS hi, ahash_lo AS lo FROM ah
            WHERE media_id % {_MEDIA_SHARD_MOD} <> 0),
        ex2 AS (
            SELECT s.media_id, MIN(c.media_id) AS exact_dup_of
            FROM sh2 s JOIN co2 c ON s.hi = c.hi AND s.lo = c.lo
            GROUP BY s.media_id),
        nr2 AS (
            SELECT s.media_id, MIN(c.media_id) AS near_dup_of
            FROM sh2 s JOIN co2 c
              ON bit_count(xor(s.hi, c.hi)) + bit_count(xor(s.lo, c.lo))
                 BETWEEN 1 AND {IMG_HAMMING_MAX}
            GROUP BY s.media_id)
        SELECT s.media_id,
               CASE WHEN ex2.exact_dup_of IS NOT NULL THEN 'exact_dup'
                    WHEN nr2.near_dup_of IS NOT NULL THEN 'near_dup'
                    ELSE 'new' END AS verdict,
               COALESCE(ex2.exact_dup_of, nr2.near_dup_of) AS dup_of
        FROM sh2 s
             LEFT JOIN ex2 USING (media_id)
             LEFT JOIN nr2 USING (media_id)
    """
)

# cluster resolution over the perceptual pairs: closed-form hash CTEs +
# all-pairs edges + the recursive reach fixpoint (the q_dedup_clusters
# oracle pattern over media); WITH RECURSIVE spliced onto the shared CTE
# incremental cluster maintainer: closed-form aHashes + TWO recursive
# fixpoints — corpus-only (the stored state) and corpus+shard (ground
# truth). Label equality proves the contraction (corpus clusters enter
# the update as one node) loses nothing; verdicts audit how many stored
# clusters each updated component contains.
ORACLES["q_dedup_cluster_incremental"] = (
    _IMAGE_HASH_CTES.replace("WITH img", "WITH RECURSIVE img", 1)
    + f"""
        , co4 AS (
            SELECT media_id, ahash_hi AS hi, ahash_lo AS lo FROM ah
            WHERE media_id % {_MEDIA_SHARD_MOD} <> 0),
        ce0 AS (
            SELECT a.media_id AS u, b.media_id AS v
            FROM co4 a JOIN co4 b ON a.media_id < b.media_id
            WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                  <= {IMG_HAMMING_MAX}),
        ce AS (SELECT u, v FROM ce0 UNION SELECT v, u FROM ce0),
        creach(u, l) AS (
            SELECT media_id, media_id FROM co4
            UNION
            SELECT e.u, r.l FROM ce e JOIN creach r ON e.v = r.u),
        clbl AS (
            SELECT u AS media_id, MIN(l) AS clabel FROM creach GROUP BY u),
        fe0 AS (
            SELECT a.media_id AS u, b.media_id AS v
            FROM ah a JOIN ah b ON a.media_id < b.media_id
            WHERE bit_count(xor(a.ahash_hi, b.ahash_hi))
                  + bit_count(xor(a.ahash_lo, b.ahash_lo))
                  <= {IMG_HAMMING_MAX}),
        fe AS (SELECT u, v FROM fe0 UNION SELECT v, u FROM fe0),
        freach(u, l) AS (
            SELECT media_id, media_id FROM ah
            UNION
            SELECT e.u, r.l FROM fe e JOIN freach r ON e.v = r.u),
        flbl AS (
            SELECT u AS media_id, MIN(l) AS cluster_id
            FROM freach GROUP BY u),
        cc AS (
            SELECT f.cluster_id, COUNT(DISTINCT c.clabel) AS n_corpus
            FROM flbl f JOIN clbl c USING (media_id)
            GROUP BY f.cluster_id)
        SELECT f.media_id, f.cluster_id,
               CASE WHEN cc.n_corpus IS NULL THEN 'new'
                    WHEN cc.n_corpus = 1 THEN 'attached'
                    ELSE 'merged' END AS verdict
        FROM flbl f
        LEFT JOIN cc USING (cluster_id)
        WHERE f.media_id % {_MEDIA_SHARD_MOD} = 0
    """
)

# two-day maintainer chain: THREE recursive fixpoints — corpus-only
# (state0), corpus+shard1 (state1 ground truth) and full (final labels)
# — plus per-day verdict audits against the PREVIOUS state's clusters
ORACLES["q_dedup_cluster_chain"] = (
    _IMAGE_HASH_CTES.replace("WITH img", "WITH RECURSIVE img", 1)
    + f"""
        , co5 AS (
            SELECT media_id, ahash_hi AS hi, ahash_lo AS lo FROM ah
            WHERE media_id % {_MEDIA_SHARD_MOD} <> 0),
        c15 AS (
            SELECT media_id, ahash_hi AS hi, ahash_lo AS lo FROM ah
            WHERE media_id % 40 <> 20),
        ce5 AS (
            SELECT a.media_id AS u, b.media_id AS v
            FROM co5 a JOIN co5 b ON a.media_id < b.media_id
            WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                  <= {IMG_HAMMING_MAX}),
        ced AS (SELECT u, v FROM ce5 UNION SELECT v, u FROM ce5),
        cre(u, l) AS (
            SELECT media_id, media_id FROM co5
            UNION
            SELECT e.u, r.l FROM ced e JOIN cre r ON e.v = r.u),
        cl5 AS (SELECT u AS media_id, MIN(l) AS clabel FROM cre GROUP BY u),
        e15 AS (
            SELECT a.media_id AS u, b.media_id AS v
            FROM c15 a JOIN c15 b ON a.media_id < b.media_id
            WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                  <= {IMG_HAMMING_MAX}),
        ed1 AS (SELECT u, v FROM e15 UNION SELECT v, u FROM e15),
        re1(u, l) AS (
            SELECT media_id, media_id FROM c15
            UNION
            SELECT e.u, r.l FROM ed1 e JOIN re1 r ON e.v = r.u),
        l15 AS (SELECT u AS media_id, MIN(l) AS l1 FROM re1 GROUP BY u),
        fe5 AS (
            SELECT a.media_id AS u, b.media_id AS v
            FROM ah a JOIN ah b ON a.media_id < b.media_id
            WHERE bit_count(xor(a.ahash_hi, b.ahash_hi))
                  + bit_count(xor(a.ahash_lo, b.ahash_lo))
                  <= {IMG_HAMMING_MAX}),
        fed5 AS (SELECT u, v FROM fe5 UNION SELECT v, u FROM fe5),
        fre5(u, l) AS (
            SELECT media_id, media_id FROM ah
            UNION
            SELECT e.u, r.l FROM fed5 e JOIN fre5 r ON e.v = r.u),
        fl5 AS (
            SELECT u AS media_id, MIN(l) AS cluster_id
            FROM fre5 GROUP BY u),
        cc1 AS (
            SELECT l.l1 AS comp, COUNT(DISTINCT c.clabel) AS n_prev
            FROM l15 l JOIN cl5 c USING (media_id)
            GROUP BY l.l1),
        cc2 AS (
            SELECT f.cluster_id AS comp, COUNT(DISTINCT l.l1) AS n_prev
            FROM fl5 f JOIN l15 l USING (media_id)
            GROUP BY f.cluster_id)
        SELECT s.media_id, CAST(1 AS BIGINT) AS day, f.cluster_id,
               CASE WHEN cc1.n_prev IS NULL THEN 'new'
                    WHEN cc1.n_prev = 1 THEN 'attached'
                    ELSE 'merged' END AS verdict
        FROM ah s
             JOIN l15 l ON l.media_id = s.media_id
             JOIN fl5 f ON f.media_id = s.media_id
             LEFT JOIN cc1 ON cc1.comp = l.l1
        WHERE s.media_id % 40 = 0
        UNION ALL
        SELECT s.media_id, CAST(2 AS BIGINT) AS day, f.cluster_id,
               CASE WHEN cc2.n_prev IS NULL THEN 'new'
                    WHEN cc2.n_prev = 1 THEN 'attached'
                    ELSE 'merged' END AS verdict
        FROM ah s
             JOIN fl5 f ON f.media_id = s.media_id
             LEFT JOIN cc2 ON cc2.comp = f.cluster_id
        WHERE s.media_id % 40 = 20
    """
)

# persisted chain: identical output contract — the snapshot round-trip
# must reproduce the in-memory chain bit for bit, so the SAME three-
# fixpoint oracle hashes it
ORACLES["q_dedup_cluster_chain_persisted"] = ORACLES["q_dedup_cluster_chain"]

ORACLES["q_dedup_image_clusters"] = (
    _IMAGE_HASH_CTES.replace("WITH img", "WITH RECURSIVE img", 1)
    + f"""
        , edges0 AS (
            SELECT a.media_id AS u, b.media_id AS v
            FROM ah a JOIN ah b ON a.media_id < b.media_id
            WHERE bit_count(xor(a.ahash_hi, b.ahash_hi))
                  + bit_count(xor(a.ahash_lo, b.ahash_lo))
                  <= {IMG_HAMMING_MAX}),
        edges AS (
            SELECT u, v FROM edges0 UNION SELECT v, u FROM edges0),
        reach(u, l) AS (
            SELECT media_id, media_id FROM ah
            UNION
            SELECT e.u, r.l FROM edges e JOIN reach r ON e.v = r.u),
        lbl AS (
            SELECT u AS media_id, MIN(l) AS cluster_id
            FROM reach GROUP BY u)
        SELECT cluster_id,
               CAST(COUNT(*) AS BIGINT) AS cluster_size,
               MIN(media_id) AS keeper_media_id,
               array_to_string(
                   list_sort(list(media_id))[1:{MEMBERS_SAMPLE_CAP}], ',')
                   AS members_sample_csv
        FROM lbl GROUP BY cluster_id
    """
)

# perceptual-cap certificate: every hash recomputed closed-form (the
# image/audio/video CTE bodies above), bands re-derived with the same
# shift/mask math, dfs and candidate sets re-joined, and the cap's
# missed-true-pair counts pinned LITERAL 0 per modality (recall
# regressions must red the driver, not agree on a nonzero loss)
ORACLES["q_dedup_perceptual_capped"] = f"""
        WITH img AS (
            SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
        px AS (
            SELECT doc_id, k,
                   ((k % 8) * 31 + doc_id) % 256
                   + ((k // 8) * 57 + doc_id) % 256
                   + ((k % 8) * (k // 8) + doc_id) % 256 AS gray3
            FROM img, unnest(generate_series(0, 63)) AS s(k)),
        tot AS (
            SELECT doc_id, SUM(gray3) AS total FROM px GROUP BY doc_id),
        iah AS (
            SELECT p.doc_id,
                   CAST(SUM(CASE WHEN gray3 * 64 > total AND k >= 32
                                 THEN (CAST(1 AS BIGINT) << (k - 32))
                                 ELSE 0 END) AS BIGINT) AS hi,
                   CAST(SUM(CASE WHEN gray3 * 64 > total AND k < 32
                                 THEN (CAST(1 AS BIGINT) << k)
                                 ELSE 0 END) AS BIGINT) AS lo
            FROM px p JOIN tot USING (doc_id) GROUP BY p.doc_id),
        idist AS (SELECT DISTINCT hi, lo FROM iah),
        aud AS (
            SELECT doc_id, doc_id % 50 + 2 AS period,
                   LEAST(n_chars, 400) AS n
            FROM documents WHERE doc_id % 3 = 1),
        abits AS (
            SELECT doc_id, k,
                   CASE WHEN k + 1 <= n - 1 AND (k + 1) % period <> 0
                        THEN 1 ELSE 0 END AS bit
            FROM aud, unnest(generate_series(0, 63)) AS s(k)),
        adh AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN bit = 1 AND k >= 32
                                 THEN (CAST(1 AS BIGINT) << (k - 32))
                                 ELSE 0 END) AS BIGINT) AS hi,
                   CAST(SUM(CASE WHEN bit = 1 AND k < 32
                                 THEN (CAST(1 AS BIGINT) << k)
                                 ELSE 0 END) AS BIGINT) AS lo
            FROM abits GROUP BY doc_id),
        adist AS (SELECT DISTINCT hi, lo FROM adh),
        ibands AS (
            SELECT hi, lo, 0 AS bi, (hi >> 16) & 65535 AS bv FROM idist
            UNION ALL SELECT hi, lo, 1, hi & 65535 FROM idist
            UNION ALL SELECT hi, lo, 2, (lo >> 16) & 65535 FROM idist
            UNION ALL SELECT hi, lo, 3, lo & 65535 FROM idist),
        abands AS (
            SELECT hi, lo, 0 AS bi, (hi >> 16) & 65535 AS bv FROM adist
            UNION ALL SELECT hi, lo, 1, hi & 65535 FROM adist
            UNION ALL SELECT hi, lo, 2, (lo >> 16) & 65535 FROM adist
            UNION ALL SELECT hi, lo, 3, lo & 65535 FROM adist),
        itp AS (
            SELECT a.hi ha, a.lo la, b.hi hb, b.lo lb
            FROM idist a JOIN idist b ON (a.hi, a.lo) < (b.hi, b.lo)
            WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                  <= {IMG_HAMMING_MAX}),
        atp AS (
            SELECT a.hi ha, a.lo la, b.hi hb, b.lo lb
            FROM adist a JOIN adist b ON (a.hi, a.lo) < (b.hi, b.lo)
            WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                  <= {IMG_HAMMING_MAX}),
        ibdf AS (SELECT bi, bv, COUNT(*) AS df FROM ibands GROUP BY 1, 2),
        abdf AS (SELECT bi, bv, COUNT(*) AS df FROM abands GROUP BY 1, 2),
        irb AS (SELECT b.hi, b.lo, b.bi, b.bv
                FROM ibands b JOIN ibdf USING (bi, bv)
                WHERE ibdf.df <= {BAND_DF_CAP}),
        arb AS (SELECT b.hi, b.lo, b.bi, b.bv
                FROM abands b JOIN abdf USING (bi, bv)
                WHERE abdf.df <= {BAND_DF_CAP}),
        icf AS (SELECT DISTINCT a.hi ha, a.lo la, b.hi hb, b.lo lb
                FROM ibands a JOIN ibands b
                  ON a.bi = b.bi AND a.bv = b.bv
                     AND (a.hi, a.lo) < (b.hi, b.lo)),
        icc AS (SELECT DISTINCT a.hi ha, a.lo la, b.hi hb, b.lo lb
                FROM irb a JOIN irb b
                  ON a.bi = b.bi AND a.bv = b.bv
                     AND (a.hi, a.lo) < (b.hi, b.lo)),
        acf AS (SELECT DISTINCT a.hi ha, a.lo la, b.hi hb, b.lo lb
                FROM abands a JOIN abands b
                  ON a.bi = b.bi AND a.bv = b.bv
                     AND (a.hi, a.lo) < (b.hi, b.lo)),
        acc AS (SELECT DISTINCT a.hi ha, a.lo la, b.hi hb, b.lo lb
                FROM arb a JOIN arb b
                  ON a.bi = b.bi AND a.bv = b.bv
                     AND (a.hi, a.lo) < (b.hi, b.lo)),
        vid AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2),
        fpx AS (
            SELECT doc_id, f, k,
                   ((k % 8) * 31 + doc_id + f) % 256
                   + ((k // 8) * 57 + doc_id) % 256
                   + ((k % 8) * (k // 8) + doc_id + f) % 256 AS gray3
            FROM vid,
                 unnest([0, 250, 500, 750]) AS ff(f),
                 unnest(generate_series(0, 63)) AS s(k)),
        ftot AS (
            SELECT doc_id, f, SUM(gray3) AS total
            FROM fpx GROUP BY 1, 2),
        fh AS (
            SELECT p.doc_id, p.f,
                   CAST(SUM(CASE WHEN gray3 * 64 > total AND k >= 32
                                 THEN (CAST(1 AS BIGINT) << (k - 32))
                                 ELSE 0 END) AS BIGINT) AS hi,
                   CAST(SUM(CASE WHEN gray3 * 64 > total AND k < 32
                                 THEN (CAST(1 AS BIGINT) << k)
                                 ELSE 0 END) AS BIGINT) AS lo
            FROM fpx p JOIN ftot USING (doc_id, f) GROUP BY 1, 2),
        fd AS (SELECT DISTINCT doc_id, hi, lo FROM fh),
        vtp AS (
            SELECT a.doc_id da, b.doc_id db
            FROM fd a JOIN fd b
              ON a.hi = b.hi AND a.lo = b.lo AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING COUNT(*) >= {VIDEO_SHARED_MIN}),
        vdf AS (SELECT hi, lo, COUNT(*) AS df FROM fd GROUP BY 1, 2),
        vrare AS (SELECT fd.doc_id, fd.hi, fd.lo
                  FROM fd JOIN vdf USING (hi, lo)
                  WHERE vdf.df <= {FP_DF_CAP}),
        vcf AS (SELECT DISTINCT a.doc_id da, b.doc_id db
                FROM fd a JOIN fd b
                  ON a.hi = b.hi AND a.lo = b.lo
                     AND a.doc_id < b.doc_id),
        vcc AS (SELECT DISTINCT a.doc_id da, b.doc_id db
                FROM vrare a JOIN vrare b
                  ON a.hi = b.hi AND a.lo = b.lo
                     AND a.doc_id < b.doc_id)
        SELECT 'image_true_hash_pairs' AS check_name,
               CAST((SELECT COUNT(*) FROM itp) AS BIGINT) AS value
        UNION ALL SELECT 'image_capped_missed_true_pairs', 0
        UNION ALL SELECT 'image_candidates_full',
            CAST((SELECT COUNT(*) FROM icf) AS BIGINT)
        UNION ALL SELECT 'image_candidates_capped',
            CAST((SELECT COUNT(*) FROM icc) AS BIGINT)
        UNION ALL SELECT 'audio_true_hash_pairs',
            CAST((SELECT COUNT(*) FROM atp) AS BIGINT)
        UNION ALL SELECT 'audio_capped_missed_true_pairs', 0
        UNION ALL SELECT 'audio_candidates_full',
            CAST((SELECT COUNT(*) FROM acf) AS BIGINT)
        UNION ALL SELECT 'audio_candidates_capped',
            CAST((SELECT COUNT(*) FROM acc) AS BIGINT)
        UNION ALL SELECT 'video_true_pairs',
            CAST((SELECT COUNT(*) FROM vtp) AS BIGINT)
        UNION ALL SELECT 'video_capped_missed_true_pairs', 0
        UNION ALL SELECT 'video_candidates_full',
            CAST((SELECT COUNT(*) FROM vcf) AS BIGINT)
        UNION ALL SELECT 'video_candidates_capped',
            CAST((SELECT COUNT(*) FROM vcc) AS BIGINT)
    """

# mechanism-cap certificate: the SAME closed-form hash/gram CTE bodies
# as the production certificates, with the caps dropped to MECH_CAP so
# the prune + verify-recount branches execute under the oracle; every
# count RECOMPUTED (none pinned — nonzero misses are the design here)
def _mech_oracle() -> str:
    from breweries_case_spark.operators.dedup import CONTAINMENT_THRESHOLD

    return rf"""
        WITH sh AS (
            SELECT doc_id, lang,
                   list_distinct(list_transform(
                       generate_series(1, len(string_split_regex(trim(lower(text)), '\s+')) - 2),
                       i -> string_split_regex(trim(lower(text)), '\s+')[i] || ' ' ||
                            string_split_regex(trim(lower(text)), '\s+')[i+1] || ' ' ||
                            string_split_regex(trim(lower(text)), '\s+')[i+2])) AS sh
            FROM documents),
        g AS (SELECT doc_id, lang, unnest(sh) AS gram FROM sh),
        gdf AS (SELECT lang, gram, COUNT(*) AS df FROM g GROUP BY 1, 2),
        gr AS (SELECT g.doc_id, g.lang, g.gram
               FROM g JOIN gdf USING (lang, gram)
               WHERE gdf.df <= {MECH_CAP}),
        cexact AS (
            SELECT a.doc_id AS da, b.doc_id AS db
            FROM sh a JOIN sh b
              ON a.lang = b.lang AND a.doc_id < b.doc_id
            WHERE len(a.sh) > 0 AND len(b.sh) > 0
              AND FLOOR(len(list_intersect(a.sh, b.sh))
                        / least(len(a.sh), len(b.sh)) * 1e6 + 0.5) / 1e6
                  >= {CONTAINMENT_THRESHOLD}),
        ccand AS (
            SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
            FROM gr a JOIN gr b
              ON a.lang = b.lang AND a.gram = b.gram
                 AND a.doc_id < b.doc_id),
        cmech AS (SELECT da, db FROM cexact INTERSECT
                  SELECT da, db FROM ccand),
        img AS (
            SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
        px AS (
            SELECT doc_id, k,
                   ((k % 8) * 31 + doc_id) % 256
                   + ((k // 8) * 57 + doc_id) % 256
                   + ((k % 8) * (k // 8) + doc_id) % 256 AS gray3
            FROM img, unnest(generate_series(0, 63)) AS s(k)),
        tot AS (
            SELECT doc_id, SUM(gray3) AS total FROM px GROUP BY doc_id),
        iah AS (
            SELECT p.doc_id,
                   CAST(SUM(CASE WHEN gray3 * 64 > total AND k >= 32
                                 THEN (CAST(1 AS BIGINT) << (k - 32))
                                 ELSE 0 END) AS BIGINT) AS hi,
                   CAST(SUM(CASE WHEN gray3 * 64 > total AND k < 32
                                 THEN (CAST(1 AS BIGINT) << k)
                                 ELSE 0 END) AS BIGINT) AS lo
            FROM px p JOIN tot USING (doc_id) GROUP BY p.doc_id),
        idist AS (SELECT DISTINCT hi, lo FROM iah),
        aud AS (
            SELECT doc_id, doc_id % 50 + 2 AS period,
                   LEAST(n_chars, 400) AS n
            FROM documents WHERE doc_id % 3 = 1),
        abits AS (
            SELECT doc_id, k,
                   CASE WHEN k + 1 <= n - 1 AND (k + 1) % period <> 0
                        THEN 1 ELSE 0 END AS bit
            FROM aud, unnest(generate_series(0, 63)) AS s(k)),
        adh AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN bit = 1 AND k >= 32
                                 THEN (CAST(1 AS BIGINT) << (k - 32))
                                 ELSE 0 END) AS BIGINT) AS hi,
                   CAST(SUM(CASE WHEN bit = 1 AND k < 32
                                 THEN (CAST(1 AS BIGINT) << k)
                                 ELSE 0 END) AS BIGINT) AS lo
            FROM abits GROUP BY doc_id),
        adist AS (SELECT DISTINCT hi, lo FROM adh),
        ibands AS (
            SELECT hi, lo, 0 AS bi, (hi >> 16) & 65535 AS bv FROM idist
            UNION ALL SELECT hi, lo, 1, hi & 65535 FROM idist
            UNION ALL SELECT hi, lo, 2, (lo >> 16) & 65535 FROM idist
            UNION ALL SELECT hi, lo, 3, lo & 65535 FROM idist),
        abands AS (
            SELECT hi, lo, 0 AS bi, (hi >> 16) & 65535 AS bv FROM adist
            UNION ALL SELECT hi, lo, 1, hi & 65535 FROM adist
            UNION ALL SELECT hi, lo, 2, (lo >> 16) & 65535 FROM adist
            UNION ALL SELECT hi, lo, 3, lo & 65535 FROM adist),
        itp AS (
            SELECT a.hi ha, a.lo la, b.hi hb, b.lo lb
            FROM idist a JOIN idist b ON (a.hi, a.lo) < (b.hi, b.lo)
            WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                  <= {IMG_HAMMING_MAX}),
        atp AS (
            SELECT a.hi ha, a.lo la, b.hi hb, b.lo lb
            FROM adist a JOIN adist b ON (a.hi, a.lo) < (b.hi, b.lo)
            WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                  <= {IMG_HAMMING_MAX}),
        ibdf AS (SELECT bi, bv, COUNT(*) AS df FROM ibands GROUP BY 1, 2),
        abdf AS (SELECT bi, bv, COUNT(*) AS df FROM abands GROUP BY 1, 2),
        irb AS (SELECT b.hi, b.lo, b.bi, b.bv
                FROM ibands b JOIN ibdf USING (bi, bv)
                WHERE ibdf.df <= {MECH_CAP}),
        arb AS (SELECT b.hi, b.lo, b.bi, b.bv
                FROM abands b JOIN abdf USING (bi, bv)
                WHERE abdf.df <= {MECH_CAP}),
        icm AS (SELECT DISTINCT t.ha, t.la, t.hb, t.lb
                FROM itp t JOIN irb a
                  ON t.ha = a.hi AND t.la = a.lo
                JOIN irb b
                  ON t.hb = b.hi AND t.lb = b.lo
                     AND a.bi = b.bi AND a.bv = b.bv),
        acm AS (SELECT DISTINCT t.ha, t.la, t.hb, t.lb
                FROM atp t JOIN arb a
                  ON t.ha = a.hi AND t.la = a.lo
                JOIN arb b
                  ON t.hb = b.hi AND t.lb = b.lo
                     AND a.bi = b.bi AND a.bv = b.bv),
        vid AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2),
        fpx AS (
            SELECT doc_id, f, k,
                   ((k % 8) * 31 + doc_id + f) % 256
                   + ((k // 8) * 57 + doc_id) % 256
                   + ((k % 8) * (k // 8) + doc_id + f) % 256 AS gray3
            FROM vid,
                 unnest([0, 250, 500, 750]) AS ff(f),
                 unnest(generate_series(0, 63)) AS s(k)),
        ftot AS (
            SELECT doc_id, f, SUM(gray3) AS total
            FROM fpx GROUP BY 1, 2),
        fh AS (
            SELECT p.doc_id, p.f,
                   CAST(SUM(CASE WHEN gray3 * 64 > total AND k >= 32
                                 THEN (CAST(1 AS BIGINT) << (k - 32))
                                 ELSE 0 END) AS BIGINT) AS hi,
                   CAST(SUM(CASE WHEN gray3 * 64 > total AND k < 32
                                 THEN (CAST(1 AS BIGINT) << k)
                                 ELSE 0 END) AS BIGINT) AS lo
            FROM fpx p JOIN ftot USING (doc_id, f) GROUP BY 1, 2),
        fd AS (SELECT DISTINCT doc_id, hi, lo FROM fh),
        vtp AS (
            SELECT a.doc_id da, b.doc_id db
            FROM fd a JOIN fd b
              ON a.hi = b.hi AND a.lo = b.lo AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING COUNT(*) >= {VIDEO_SHARED_MIN}),
        vdf AS (SELECT hi, lo, COUNT(*) AS df FROM fd GROUP BY 1, 2),
        vrare AS (SELECT fd.doc_id, fd.hi, fd.lo
                  FROM fd JOIN vdf USING (hi, lo)
                  WHERE vdf.df <= {MECH_CAP}),
        vcand AS (SELECT DISTINCT a.doc_id da, b.doc_id db
                  FROM vrare a JOIN vrare b
                    ON a.hi = b.hi AND a.lo = b.lo
                       AND a.doc_id < b.doc_id),
        vmech AS (SELECT da, db FROM vtp INTERSECT
                  SELECT da, db FROM vcand)
        SELECT 'containment_mech_pairs' AS check_name,
               CAST((SELECT COUNT(*) FROM cmech) AS BIGINT) AS value
        UNION ALL SELECT 'containment_mech_missed',
            CAST((SELECT COUNT(*) FROM cexact) AS BIGINT)
            - CAST((SELECT COUNT(*) FROM cmech) AS BIGINT)
        UNION ALL SELECT 'image_mech_pairs',
            CAST((SELECT COUNT(*) FROM icm) AS BIGINT)
        UNION ALL SELECT 'image_mech_missed',
            CAST((SELECT COUNT(*) FROM itp) AS BIGINT)
            - CAST((SELECT COUNT(*) FROM icm) AS BIGINT)
        UNION ALL SELECT 'audio_mech_pairs',
            CAST((SELECT COUNT(*) FROM acm) AS BIGINT)
        UNION ALL SELECT 'audio_mech_missed',
            CAST((SELECT COUNT(*) FROM atp) AS BIGINT)
            - CAST((SELECT COUNT(*) FROM acm) AS BIGINT)
        UNION ALL SELECT 'video_mech_pairs',
            CAST((SELECT COUNT(*) FROM vmech) AS BIGINT)
        UNION ALL SELECT 'video_mech_missed',
            CAST((SELECT COUNT(*) FROM vtp) AS BIGINT)
            - CAST((SELECT COUNT(*) FROM vmech) AS BIGINT)
    """


ORACLES["q_dedup_mechanism_cap"] = _mech_oracle()

# video frame hashes closed-form: frame at pts f has pixel channels
# r = (x·31+s+f)%256, g = (y·57+s)%256, b = (x·y+s+f)%256 — the image
# CTE with the PTS offset on r and b
ORACLES["q_dedup_video_frames"] = f"""
        WITH vid AS (
            SELECT doc_id FROM documents WHERE doc_id % 3 = 2),
        fpx AS (
            SELECT doc_id, f, k,
                   ((k % 8) * 31 + doc_id + f) % 256
                   + ((k // 8) * 57 + doc_id) % 256
                   + ((k % 8) * (k // 8) + doc_id + f) % 256 AS gray3
            FROM vid,
                 unnest([0, 250, 500, 750]) AS ff(f),
                 unnest(generate_series(0, 63)) AS s(k)),
        ftot AS (
            SELECT doc_id, f, SUM(gray3) AS total
            FROM fpx GROUP BY 1, 2),
        fh AS (
            SELECT p.doc_id, p.f,
                   CAST(SUM(CASE WHEN gray3 * 64 > total AND k >= 32
                                 THEN (CAST(1 AS BIGINT) << (k - 32))
                                 ELSE 0 END) AS BIGINT) AS hi,
                   CAST(SUM(CASE WHEN gray3 * 64 > total AND k < 32
                                 THEN (CAST(1 AS BIGINT) << k)
                                 ELSE 0 END) AS BIGINT) AS lo
            FROM fpx p JOIN ftot USING (doc_id, f) GROUP BY 1, 2),
        fd AS (SELECT DISTINCT doc_id, hi, lo FROM fh)
        SELECT media_id_a, media_id_b, shared_frames FROM (
            SELECT a.doc_id AS media_id_a, b.doc_id AS media_id_b,
                   COUNT(*) AS shared_frames
            FROM fd a JOIN fd b
              ON a.hi = b.hi AND a.lo = b.lo AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        WHERE shared_frames >= {VIDEO_SHARED_MIN}
    """

# video cluster resolution: UNCAPPED closed-form fingerprint pairs
# (≥ shared-min) + the recursive reach fixpoint over ALL fingerprinted
# videos — proves the Spark side's identical-set collapse and df cap
# lose nothing (the q_dedup_image_clusters oracle pattern on the
# shared-frame relation)
ORACLES["q_dedup_video_clusters"] = (
    ORACLES["q_dedup_video_frames"]
    .replace("WITH vid", "WITH RECURSIVE vid", 1)
    .replace(
        f"""SELECT media_id_a, media_id_b, shared_frames FROM (
            SELECT a.doc_id AS media_id_a, b.doc_id AS media_id_b,
                   COUNT(*) AS shared_frames
            FROM fd a JOIN fd b
              ON a.hi = b.hi AND a.lo = b.lo AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        WHERE shared_frames >= {VIDEO_SHARED_MIN}""",
        f"""SELECT cluster_id,
               CAST(COUNT(*) AS BIGINT) AS cluster_size,
               MIN(media_id) AS keeper_media_id,
               array_to_string(
                   list_sort(list(media_id))[1:{MEMBERS_SAMPLE_CAP}], ',')
                   AS members_sample_csv
        FROM lbl GROUP BY cluster_id""",
        1,
    )
    .replace(
        "fd AS (SELECT DISTINCT doc_id, hi, lo FROM fh)",
        f"""fd AS (SELECT DISTINCT doc_id, hi, lo FROM fh),
        pr AS (
            SELECT a.doc_id AS u, b.doc_id AS v
            FROM fd a JOIN fd b
              ON a.hi = b.hi AND a.lo = b.lo AND a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING COUNT(*) >= {VIDEO_SHARED_MIN}),
        edges AS (SELECT u, v FROM pr UNION SELECT v, u FROM pr),
        reach(u, l) AS (
            SELECT DISTINCT doc_id, doc_id FROM fd
            UNION
            SELECT e.u, r.l FROM edges e JOIN reach r ON e.v = r.u),
        lbl AS (
            SELECT u AS media_id, MIN(l) AS cluster_id
            FROM reach GROUP BY u)""",
        1,
    )
)

# incremental video-cluster maintainer: closed-form frame hashes + TWO
# recursive fixpoints over the uncapped shared-count relation —
# corpus-only (the stored state) and corpus+shard (ground truth); label
# equality proves the label contraction loses nothing
ORACLES["q_dedup_video_cluster_incremental"] = (
    ORACLES["q_dedup_video_frames"]
    .replace("WITH vid", "WITH RECURSIVE vid", 1)
    .replace(
        f"""SELECT media_id_a, media_id_b, shared_frames FROM (
            SELECT a.doc_id AS media_id_a, b.doc_id AS media_id_b,
                   COUNT(*) AS shared_frames
            FROM fd a JOIN fd b
              ON a.hi = b.hi AND a.lo = b.lo AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        WHERE shared_frames >= {VIDEO_SHARED_MIN}""",
        f"""SELECT f.doc_id AS media_id, f.cluster_id,
               CASE WHEN cc.n_corpus IS NULL THEN 'new'
                    WHEN cc.n_corpus = 1 THEN 'attached'
                    ELSE 'merged' END AS verdict
        FROM flbl f
        LEFT JOIN cc USING (cluster_id)
        WHERE f.doc_id % {_MEDIA_SHARD_MOD} = 0""",
        1,
    )
    .replace(
        "fd AS (SELECT DISTINCT doc_id, hi, lo FROM fh)",
        f"""fd AS (SELECT DISTINCT doc_id, hi, lo FROM fh),
        cfd AS (SELECT * FROM fd WHERE doc_id % {_MEDIA_SHARD_MOD} <> 0),
        cpr AS (
            SELECT a.doc_id AS u, b.doc_id AS v
            FROM cfd a JOIN cfd b
              ON a.hi = b.hi AND a.lo = b.lo AND a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING COUNT(*) >= {VIDEO_SHARED_MIN}),
        cedges AS (SELECT u, v FROM cpr UNION SELECT v, u FROM cpr),
        creach(u, l) AS (
            SELECT DISTINCT doc_id, doc_id FROM cfd
            UNION
            SELECT e.u, r.l FROM cedges e JOIN creach r ON e.v = r.u),
        clbl AS (SELECT u AS doc_id, MIN(l) AS clabel FROM creach GROUP BY u),
        fpr AS (
            SELECT a.doc_id AS u, b.doc_id AS v
            FROM fd a JOIN fd b
              ON a.hi = b.hi AND a.lo = b.lo AND a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING COUNT(*) >= {VIDEO_SHARED_MIN}),
        fedges AS (SELECT u, v FROM fpr UNION SELECT v, u FROM fpr),
        freach(u, l) AS (
            SELECT DISTINCT doc_id, doc_id FROM fd
            UNION
            SELECT e.u, r.l FROM fedges e JOIN freach r ON e.v = r.u),
        flbl AS (
            SELECT u AS doc_id, MIN(l) AS cluster_id
            FROM freach GROUP BY u),
        cc AS (
            SELECT f.cluster_id, COUNT(DISTINCT c.clabel) AS n_corpus
            FROM flbl f JOIN clbl c USING (doc_id)
            GROUP BY f.cluster_id)""",
        1,
    )
)

# incremental video classifier: brute-force closed-form over the same
# shard split — identical-set probe via sorted string-key lists, near
# tier as the uncapped shared-count join with exact precedence
ORACLES["q_dedup_video_incremental"] = (
    ORACLES["q_dedup_video_frames"]
    .replace(
        f"""SELECT media_id_a, media_id_b, shared_frames FROM (
            SELECT a.doc_id AS media_id_a, b.doc_id AS media_id_b,
                   COUNT(*) AS shared_frames
            FROM fd a JOIN fd b
              ON a.hi = b.hi AND a.lo = b.lo AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        WHERE shared_frames >= {VIDEO_SHARED_MIN}""",
        """SELECT s.doc_id AS media_id,
               CASE WHEN ex.dup_exact IS NOT NULL THEN 'exact_dup'
                    WHEN nr.dup_near IS NOT NULL THEN 'near_dup'
                    ELSE 'new' END AS verdict,
               COALESCE(ex.dup_exact, nr.dup_near) AS dup_of
        FROM (SELECT DISTINCT doc_id FROM shard) s
        LEFT JOIN ex USING (doc_id)
        LEFT JOIN nr USING (doc_id)""",
        1,
    )
    .replace(
        "fd AS (SELECT DISTINCT doc_id, hi, lo FROM fh)",
        f"""fd AS (SELECT DISTINCT doc_id, hi, lo FROM fh),
        shard AS (SELECT * FROM fd WHERE doc_id % 20 = 0),
        corp AS (SELECT * FROM fd WHERE doc_id % 20 <> 0),
        skeys AS (
            SELECT doc_id,
                   list_sort(list(hi::VARCHAR || ':' || lo::VARCHAR)) AS k
            FROM shard GROUP BY doc_id),
        ckeys AS (
            SELECT doc_id,
                   list_sort(list(hi::VARCHAR || ':' || lo::VARCHAR)) AS k
            FROM corp GROUP BY doc_id),
        ex AS (
            SELECT s.doc_id, MIN(c.doc_id) AS dup_exact
            FROM skeys s JOIN ckeys c ON s.k = c.k GROUP BY 1),
        nrp AS (
            SELECT a.doc_id AS sid, b.doc_id AS cid
            FROM shard a JOIN corp b ON a.hi = b.hi AND a.lo = b.lo
            GROUP BY 1, 2 HAVING COUNT(*) >= {VIDEO_SHARED_MIN}),
        nr AS (SELECT sid AS doc_id, MIN(cid) AS dup_near
               FROM nrp GROUP BY 1)""",
        1,
    )
)

# video keeper: the SAME recursive fixpoint as the cluster oracle, with
# the q_dedup_keeper_priority election window on top — tiers via the
# TRY_CAST/COALESCE form mirrored by _source_priority
def _video_keeper_oracle() -> str:
    from breweries_case_spark.operators.dedup import CURATED_SOURCE_MAX

    return ORACLES["q_dedup_video_clusters"].replace(
        f"""SELECT cluster_id,
               CAST(COUNT(*) AS BIGINT) AS cluster_size,
               MIN(media_id) AS keeper_media_id,
               array_to_string(
                   list_sort(list(media_id))[1:{MEMBERS_SAMPLE_CAP}], ',')
                   AS members_sample_csv
        FROM lbl GROUP BY cluster_id""",
        f""", pm AS (
            SELECT l.cluster_id, l.media_id, d.n_chars, d.source,
                   CASE WHEN COALESCE(
                            TRY_CAST(substr(d.source, 4, 10) AS INT)
                                < {CURATED_SOURCE_MAX}, FALSE)
                        THEN 0 ELSE 1 END AS prio,
                   COUNT(*) OVER (PARTITION BY l.cluster_id)
                       AS cluster_size
            FROM lbl l JOIN documents d ON d.doc_id = l.media_id),
        pk AS (
            SELECT *,
                   row_number() OVER (
                       PARTITION BY cluster_id
                       ORDER BY prio ASC, n_chars DESC, media_id ASC)
                       AS prk
            FROM pm)
        SELECT cluster_id, cluster_size, media_id AS keeper_media_id,
               source AS keeper_source,
               CAST(prio AS BIGINT) AS keeper_priority
        FROM pk WHERE prk = 1""",
        1,
    )


ORACLES["q_dedup_video_keeper"] = _video_keeper_oracle()

# cross-modal cluster table: the three closed-form hash families +
# THREE recursive reach fixpoints in one WITH list, union'd under the
# modality-from-id mapping — each modality's Spark-side factoring
# (hash graph / set collapse) proven lossless exactly as in its
# per-modality twin
ORACLES["q_dedup_media_clusters"] = f"""
        WITH RECURSIVE img AS (
            SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
        px AS (
            SELECT doc_id, k,
                   ((k % 8) * 31 + doc_id) % 256
                   + ((k // 8) * 57 + doc_id) % 256
                   + ((k % 8) * (k // 8) + doc_id) % 256 AS gray3
            FROM img, unnest(generate_series(0, 63)) AS s(k)),
        tot AS (
            SELECT doc_id, SUM(gray3) AS total FROM px GROUP BY doc_id),
        iah AS (
            SELECT p.doc_id,
                   CAST(SUM(CASE WHEN gray3 * 64 > total AND k >= 32
                                 THEN (CAST(1 AS BIGINT) << (k - 32))
                                 ELSE 0 END) AS BIGINT) AS hi,
                   CAST(SUM(CASE WHEN gray3 * 64 > total AND k < 32
                                 THEN (CAST(1 AS BIGINT) << k)
                                 ELSE 0 END) AS BIGINT) AS lo
            FROM px p JOIN tot USING (doc_id) GROUP BY p.doc_id),
        ie0 AS (
            SELECT a.doc_id AS u, b.doc_id AS v
            FROM iah a JOIN iah b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                  <= {IMG_HAMMING_MAX}),
        ie AS (SELECT u, v FROM ie0 UNION SELECT v, u FROM ie0),
        ir(u, l) AS (
            SELECT doc_id, doc_id FROM iah
            UNION
            SELECT e.u, r.l FROM ie e JOIN ir r ON e.v = r.u),
        il AS (SELECT u AS media_id, MIN(l) AS cluster_id
               FROM ir GROUP BY u),
        aud AS (
            SELECT doc_id, doc_id % 50 + 2 AS period,
                   LEAST(n_chars, 400) AS n
            FROM documents WHERE doc_id % 3 = 1),
        abits AS (
            SELECT doc_id, k,
                   CASE WHEN k + 1 <= n - 1 AND (k + 1) % period <> 0
                        THEN 1 ELSE 0 END AS bit
            FROM aud, unnest(generate_series(0, 63)) AS s(k)),
        adh AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN bit = 1 AND k >= 32
                                 THEN (CAST(1 AS BIGINT) << (k - 32))
                                 ELSE 0 END) AS BIGINT) AS hi,
                   CAST(SUM(CASE WHEN bit = 1 AND k < 32
                                 THEN (CAST(1 AS BIGINT) << k)
                                 ELSE 0 END) AS BIGINT) AS lo
            FROM abits GROUP BY doc_id),
        ae0 AS (
            SELECT a.doc_id AS u, b.doc_id AS v
            FROM adh a JOIN adh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                  <= {IMG_HAMMING_MAX}),
        ae AS (SELECT u, v FROM ae0 UNION SELECT v, u FROM ae0),
        ar(u, l) AS (
            SELECT doc_id, doc_id FROM adh
            UNION
            SELECT e.u, r.l FROM ae e JOIN ar r ON e.v = r.u),
        al AS (SELECT u AS media_id, MIN(l) AS cluster_id
               FROM ar GROUP BY u),
        vid AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2),
        fpx AS (
            SELECT doc_id, f, k,
                   ((k % 8) * 31 + doc_id + f) % 256
                   + ((k // 8) * 57 + doc_id) % 256
                   + ((k % 8) * (k // 8) + doc_id + f) % 256 AS gray3
            FROM vid,
                 unnest([0, 250, 500, 750]) AS ff(f),
                 unnest(generate_series(0, 63)) AS s(k)),
        ftot AS (
            SELECT doc_id, f, SUM(gray3) AS total
            FROM fpx GROUP BY 1, 2),
        fh AS (
            SELECT p.doc_id, p.f,
                   CAST(SUM(CASE WHEN gray3 * 64 > total AND k >= 32
                                 THEN (CAST(1 AS BIGINT) << (k - 32))
                                 ELSE 0 END) AS BIGINT) AS hi,
                   CAST(SUM(CASE WHEN gray3 * 64 > total AND k < 32
                                 THEN (CAST(1 AS BIGINT) << k)
                                 ELSE 0 END) AS BIGINT) AS lo
            FROM fpx p JOIN ftot USING (doc_id, f) GROUP BY 1, 2),
        fd AS (SELECT DISTINCT doc_id, hi, lo FROM fh),
        vp AS (
            SELECT a.doc_id AS u, b.doc_id AS v
            FROM fd a JOIN fd b
              ON a.hi = b.hi AND a.lo = b.lo AND a.doc_id < b.doc_id
            GROUP BY 1, 2 HAVING COUNT(*) >= {VIDEO_SHARED_MIN}),
        ve AS (SELECT u, v FROM vp UNION SELECT v, u FROM vp),
        vr(u, l) AS (
            SELECT DISTINCT doc_id, doc_id FROM fd
            UNION
            SELECT e.u, r.l FROM ve e JOIN vr r ON e.v = r.u),
        vl AS (SELECT u AS media_id, MIN(l) AS cluster_id
               FROM vr GROUP BY u),
        allx AS (
            SELECT 'image' AS modality, media_id, cluster_id FROM il
            UNION ALL
            SELECT 'audio', media_id, cluster_id FROM al
            UNION ALL
            SELECT 'video', media_id, cluster_id FROM vl)
        SELECT modality, cluster_id,
               CAST(COUNT(*) AS BIGINT) AS cluster_size,
               MIN(media_id) AS keeper_media_id,
               array_to_string(
                   list_sort(list(media_id))[1:{MEMBERS_SAMPLE_CAP}], ',')
                   AS members_sample_csv
        FROM allx GROUP BY 1, 2
    """
