"""Multimodal (image/audio/video) column plumbing for training-data
pipelines (BASELINE north star).

Media lives in DataFrames as an opaque `binary` column plus a typed
metadata struct; decode / feature-extraction / resize / frame-sampling run
as Arrow-batched `mapInPandas` operators — the shape real media pipelines
need (PIL/librosa/ffmpeg are not in this container, so the decode kernel is
a clearly-marked deterministic fake; `decode_image` shows the real-library
seam and raises NotImplementedError until one is installed).

The fake kernels are chosen to be bit-reproducible in DuckDB (md5 slices /
integer arithmetic / substring frames), so the whole Spark plumbing —
binary encode, metadata struct, Arrow batch transfer, pandas UDF signature,
output schema — is value-hash-checked against an oracle, not just run.

Scale: mapInPandas streams Arrow batches (bounded memory per task); the
blob column is repartitioned ahead of the Python stage so parallelism does
not depend on the input file layout.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F

from relational_to_doc_oriented_nosql_migrator_spark.operators.common import t

FRAME_BYTES = 64        # fake video: fixed-size frames
FRAME_STRIDE = 4        # sample every 4th frame
FEATURE_DIM = 4         # fake feature vector width


def attach_media(docs: DataFrame) -> DataFrame:
    """`documents` -> (doc_id, blob, meta): the binary ingestion shape.

    The blob is the utf-8 text bytes (a deterministic stand-in for image
    bytes); metadata is typed and derived deterministically.
    """
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("blob"),
        F.struct(
            F.lit("fake/rgb8").alias("format"),
            (F.lit(32) + (F.col("doc_id") % 16) * 16).cast("int")
            .alias("width"),
            (F.lit(32) + (F.col("doc_id") % 8) * 16).cast("int")
            .alias("height"),
            F.octet_length("text").cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


# Pluggable real-decoder seam. A codec is any callable
# `bytes -> {"width": int, "height": int, "mode": str}`. Resolution order:
# explicit argument > codec injected via set_image_codec() > pillow (if
# importable) > None. The deterministic fake kernels below stay the
# default for every REGISTERED query (their DuckDB oracles depend on
# them); the codec seam is for callers wiring a real library.
_IMAGE_CODEC = None


def set_image_codec(codec) -> None:
    """Inject a process-wide image codec (None to clear). The codec is
    resolved on the DRIVER and captured into task closures, so workers
    never read this global."""
    global _IMAGE_CODEC
    _IMAGE_CODEC = codec


def _pillow_codec():
    try:
        import io

        from PIL import Image
    except ImportError:
        return None

    def codec(blob: bytes):
        with Image.open(io.BytesIO(blob)) as im:
            return {"width": im.width, "height": im.height, "mode": im.mode}

    return codec


def stdlib_png_codec():
    """A GENUINE, dependency-free PNG decoder for the metadata path
    (RFC 2083, public spec): validates the signature and every chunk
    CRC, parses IHDR, zlib-decompresses the IDAT stream, and fully
    unfilters the scanlines (None/Sub/Up/Average/Paeth) for 8-bit
    non-interlaced images, verifying the decoded byte count — so a
    returned answer PROVES the pixel data decoded, exactly like the
    stdlib `wave` leg of the codec seam. Same contract as the pillow
    codec — bytes -> {"width", "height", "mode"} — plus "pix_crc"
    (crc32 of the unfiltered pixel bytes, making the filter
    reconstruction observable); raises ValueError on anything it can't
    prove (16-bit, interlaced, truncated or corrupt data).

    Deliberately NOT auto-resolved by resolve_image_codec: it is
    PNG-only, and silently resolving it would turn e.g. a JPEG decode
    into a parse error instead of the documented no-codec
    NotImplementedError. Inject it with set_image_codec() or pass
    codec=stdlib_png_codec(). Per-pixel Python unfiltering is
    test/metadata-scale; a production decode path injects a vectorized
    library here."""
    import struct
    import zlib

    channels_by_type = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
    mode_by_type = {0: "L", 2: "RGB", 3: "P", 4: "LA", 6: "RGBA"}

    def codec(blob: bytes):
        blob = bytes(blob)
        if blob[:8] != b"\x89PNG\r\n\x1a\n":
            raise ValueError("not a PNG signature")
        pos, ihdr, idat = 8, None, b""
        while pos < len(blob):
            if pos + 8 > len(blob):
                raise ValueError("truncated chunk header")
            (length,) = struct.unpack(">I", blob[pos:pos + 4])
            tag = blob[pos + 4:pos + 8]
            data = blob[pos + 8:pos + 8 + length]
            if len(data) != length or pos + 12 + length > len(blob):
                raise ValueError("truncated chunk data")
            (crc,) = struct.unpack(
                ">I", blob[pos + 8 + length:pos + 12 + length]
            )
            if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
                raise ValueError(f"bad CRC in {tag!r} chunk")
            if tag == b"IHDR":
                ihdr = data
            elif tag == b"IDAT":
                idat += data
            elif tag == b"IEND":
                break
            pos += 12 + length
        if ihdr is None or len(ihdr) != 13:
            raise ValueError("missing IHDR")
        width, height, depth, ctype, comp, filt, interlace = struct.unpack(
            ">IIBBBBB", ihdr
        )
        if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
            raise ValueError(
                "only 8-bit non-interlaced PNG supported "
                f"(depth={depth}, interlace={interlace})"
            )
        if ctype not in channels_by_type:
            raise ValueError(f"unknown color type {ctype}")
        ch = channels_by_type[ctype]
        raw = zlib.decompress(idat)
        stride = width * ch
        if len(raw) != height * (1 + stride):
            raise ValueError(
                f"decoded {len(raw)} bytes, expected {height * (1 + stride)}"
            )
        # pix_crc (crc32 of the UNFILTERED pixel bytes, scanline order)
        # makes the unfilter path observable to tests — dims alone
        # wouldn't prove the Sub/Up/Average/Paeth reconstruction ran.
        pix_crc = 0
        prev = bytearray(stride)
        for y in range(height):
            f = raw[y * (1 + stride)]
            line = bytearray(
                raw[y * (1 + stride) + 1:(y + 1) * (1 + stride)]
            )
            if f == 1:  # Sub
                for i in range(ch, stride):
                    line[i] = (line[i] + line[i - ch]) & 0xFF
            elif f == 2:  # Up
                for i in range(stride):
                    line[i] = (line[i] + prev[i]) & 0xFF
            elif f == 3:  # Average
                for i in range(stride):
                    a = line[i - ch] if i >= ch else 0
                    line[i] = (line[i] + (a + prev[i]) // 2) & 0xFF
            elif f == 4:  # Paeth
                for i in range(stride):
                    a = line[i - ch] if i >= ch else 0
                    b, c = prev[i], prev[i - ch] if i >= ch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if pa <= pb and pa <= pc else (
                        b if pb <= pc else c
                    )
                    line[i] = (line[i] + pr) & 0xFF
            elif f != 0:
                raise ValueError(f"unknown filter type {f}")
            prev = line
            pix_crc = zlib.crc32(bytes(line), pix_crc)
        return {"width": width, "height": height,
                "mode": mode_by_type[ctype], "pix_crc": pix_crc}

    return codec


def resolve_image_codec(codec=None):
    """The codec decode operators will run, or None when neither an
    injected codec nor pillow is available."""
    if codec is not None:
        return codec
    if _IMAGE_CODEC is not None:
        return _IMAGE_CODEC
    return _pillow_codec()


def decode_image(blob: bytes, codec=None):
    """Decode one blob via the resolved codec; NotImplementedError only
    when no codec can be resolved (the documented stub surface)."""
    c = resolve_image_codec(codec)
    if c is None:
        raise NotImplementedError(
            "image decode needs a codec: inject one with set_image_codec()"
            " or install pillow; the deterministic fake kernels exercise"
            " the full Spark plumbing without one"
        )
    return c(blob)


def mm_decode(spark, media: DataFrame, codec=None) -> DataFrame:
    """(doc_id, width, height, mode) by running the resolved codec over
    Arrow batches — the real-decode twin of q_ext_mm_decode_features.
    The codec resolves on the driver and rides the mapInPandas closure
    (cloudpickle), so an injected codec works on executors untouched."""
    import pandas as pd

    c = resolve_image_codec(codec)
    if c is None:
        raise NotImplementedError(
            "mm_decode needs a codec: inject one with set_image_codec()"
            " or install pillow"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [c(bytes(b)) for b in pdf["blob"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": [d["width"] for d in decoded],
                    "height": [d["height"] for d in decoded],
                    "mode": [d["mode"] for d in decoded],
                }
            )

    return _spread(spark, media).mapInPandas(
        run, "doc_id bigint, width int, height int, mode string"
    )


def _spread(spark, df: DataFrame) -> DataFrame:
    return df.repartition(spark.sparkContext.defaultParallelism)


def media_df(spark, sf_dir) -> DataFrame:
    return attach_media(t(spark, sf_dir, "documents"))


def q_ext_mm_attach_meta(spark, sf_dir):
    """Binary ingestion: blob + typed metadata (blob projected to its
    length; raw bytes are checked via the md5 features below)."""
    m = media_df(spark, sf_dir)
    return m.select(
        "doc_id",
        F.octet_length("blob").cast("bigint").alias("blob_bytes"),
        F.col("meta.format").alias("format"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )


def q_ext_mm_decode_features(spark, sf_dir):
    """Fake feature extraction over Arrow batches: FEATURE_DIM doubles
    derived from the blob's md5 (a real model embedding would replace the
    kernel, not the plumbing)."""
    import hashlib

    import pandas as pd

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                [
                    int(hashlib.md5(b).hexdigest()[8 * i: 8 * i + 8], 16)
                    / 4294967296.0
                    for i in range(FEATURE_DIM)
                ]
                for b in pdf["blob"]
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "features": feats}
            )

    m = _spread(spark, media_df(spark, sf_dir))
    return m.mapInPandas(
        extract, "doc_id bigint, features array<double>"
    ).select(
        "doc_id",
        *[
            F.round(F.col("features").getItem(i), 6).alias(f"f{i}")
            for i in range(FEATURE_DIM)
        ],
    )


def q_ext_mm_resize(spark, sf_dir):
    """Fake resize to 64x64: new metadata plus the proportionally scaled
    byte budget (integer arithmetic stands in for the pixel kernel)."""
    import pandas as pd

    tw, th = 64, 64

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = pdf["meta"]
            w = meta.map(lambda m: m["width"])
            h = meta.map(lambda m: m["height"])
            n = meta.map(lambda m: m["n_bytes"])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": tw,
                    "height": th,
                    "scaled_bytes": (n * (tw * th) // (w * h)).astype(
                        "int64"
                    ),
                }
            )

    m = _spread(spark, media_df(spark, sf_dir))
    return m.mapInPandas(
        resize, "doc_id bigint, width int, height int, scaled_bytes bigint"
    )


def q_ext_mm_frame_sample(spark, sf_dir):
    """Fake video frame sampling: the blob is treated as FRAME_BYTES-sized
    frames; every FRAME_STRIDE-th frame is emitted with its md5 — the
    row-explosion shape of real frame extraction."""
    import hashlib

    import pandas as pd

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"doc_id": [], "frame_idx": [],
                                    "frame_md5": []}
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                n_frames = (len(blob) + FRAME_BYTES - 1) // FRAME_BYTES
                for idx in range(0, n_frames, FRAME_STRIDE):
                    frame = blob[idx * FRAME_BYTES: (idx + 1) * FRAME_BYTES]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["frame_md5"].append(hashlib.md5(frame).hexdigest())
            yield pd.DataFrame(out)

    m = _spread(spark, media_df(spark, sf_dir))
    return m.mapInPandas(
        sample, "doc_id bigint, frame_idx int, frame_md5 string"
    )


def _fake_dims_codec(blob: bytes):
    """Deterministic stand-in codec for the adapter path: dimensions from
    the byte length (DuckDB-reproducible, like the other fake kernels)."""
    return {
        "width": len(blob) % 97,
        "height": (len(blob) // 97) % 53,
        "mode": "FAKE",
    }


def q_ext_mm_decode_dims(spark, sf_dir):
    """The pluggable-codec decode path (mm_decode) under an injected
    deterministic codec — proves the adapter plumbing (driver-side codec
    resolution, closure capture, Arrow batching, output schema) with a
    value-level oracle, not just a unit test. A real codec (pillow)
    swaps in via set_image_codec without touching this plan."""
    return mm_decode(spark, media_df(spark, sf_dir), codec=_fake_dims_codec)


def q_ext_mm_dedup_exact(spark, sf_dir):
    """Exact duplicate detection over the BINARY media column: every blob
    keyed by its md5, with its duplicate-group size and representative
    flag (smallest doc_id wins) — the byte-level image/audio dedup pass a
    multimodal corpus runs before any perceptual hashing.

    Scale shape: md5 is computed JVM-side in one narrow pass; group size
    and representative selection are two window functions over the
    md5-partitioned shuffle — one corpus shuffle keyed by the hash, the
    same shape as text exact-dedup but over raw bytes.
    """
    from pyspark.sql.window import Window

    mm = attach_media(t(spark, sf_dir, "documents"))
    hashed = mm.select("doc_id", F.md5("blob").alias("blob_md5"))
    w = Window.partitionBy("blob_md5")
    return hashed.select(
        "doc_id",
        "blob_md5",
        F.count(F.lit(1)).over(w).alias("n_copies"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_rep"),
    )


QUERIES = {
    "ext_mm_attach_meta": q_ext_mm_attach_meta,
    "ext_mm_dedup_exact": q_ext_mm_dedup_exact,
    "ext_mm_decode_dims": q_ext_mm_decode_dims,
    "ext_mm_decode_features": q_ext_mm_decode_features,
    "ext_mm_resize": q_ext_mm_resize,
    "ext_mm_frame_sample": q_ext_mm_frame_sample,
}

_FEATS_SQL = ", ".join(
    f"round(('0x' || substr(md5(text), {8 * i + 1}, 8))::BIGINT"
    f" / 4294967296.0, 6) AS f{i}"
    for i in range(FEATURE_DIM)
)

ORACLES = {
    # documents.text is ASCII, so octet_length == length and char slicing
    # == byte slicing (the testdata generator guarantees this; non-ASCII
    # corpora would only shift the fake kernels, not the plumbing).
    "ext_mm_attach_meta": """
SELECT doc_id, length(text)::BIGINT AS blob_bytes, 'fake/rgb8' AS format,
       (32 + (doc_id % 16) * 16)::INT AS width,
       (32 + (doc_id % 8) * 16)::INT AS height,
       length(text)::BIGINT AS n_bytes
FROM documents
""",
    "ext_mm_decode_features": f"""
SELECT doc_id, {_FEATS_SQL} FROM documents
""",
    # DuckDB's md5(VARCHAR) hashes the string's utf-8 bytes — the same
    # bytes Spark's md5(binary) sees on the encode(text) blob, so the
    # digest matches byte-exactly regardless of the ASCII invariant.
    "ext_mm_dedup_exact": """
SELECT doc_id, md5(text) AS blob_md5,
       COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies,
       doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_rep
FROM documents
""",
    # octet_length(encode(..)) = utf-8 BYTES, matching the Python codec's
    # len(blob) even for non-ASCII text (the other fake-kernel oracles
    # lean on the ASCII invariant, pinned by tests/test_testdata_ascii.py).
    "ext_mm_decode_dims": """
SELECT doc_id, (octet_length(encode(text)) % 97)::INT AS width,
       ((octet_length(encode(text)) // 97) % 53)::INT AS height,
       'FAKE' AS mode
FROM documents
""",
    "ext_mm_resize": """
SELECT doc_id, 64::INT AS width, 64::INT AS height,
       (length(text)::BIGINT * 4096)
         // ((32 + (doc_id % 16) * 16) * (32 + (doc_id % 8) * 16))
         AS scaled_bytes
FROM documents
""",
    "ext_mm_frame_sample": f"""
WITH frames AS (
  SELECT doc_id,
         unnest(generate_series(0,
           ((length(text) + {FRAME_BYTES - 1}) // {FRAME_BYTES}) - 1,
           {FRAME_STRIDE})) AS frame_idx,
         text
  FROM documents
)
SELECT doc_id, frame_idx::INT AS frame_idx,
       md5(substr(text, frame_idx * {FRAME_BYTES} + 1, {FRAME_BYTES}))
         AS frame_md5
FROM frames
""",
}
