"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are carried as ``binary`` columns next to a
typed metadata struct (modality, n_bytes, content hash). The Spark
side — schema, partition-preserving ``mapInPandas``, Arrow batch shape
— is real and tested; the actual codec step is stubbed (decode
libraries aren't in this container) behind ``DECODERS``: the default
"fake" decoder emits deterministic features (byte length + header
bytes) so the whole path is oracle-checkable, and a real decoder drops
in per modality without touching the plumbing.

Scale notes: payload bytes never shuffle — ``mapInPandas`` runs
scan-aligned; only the (narrow) feature columns continue downstream.
``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds batch memory
(large payloads → set it low).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("header_hex", T.StringType()),
    ]
)


def fake_decode(payload: bytes) -> dict[str, Any]:
    """Deterministic stand-in for a real codec: byte length + first
    4 bytes as hex. Replace with e.g. PIL/torchaudio per modality."""
    return {"n_bytes": len(payload), "header_hex": payload[:4].hex()}


def _unavailable(payload: bytes) -> dict[str, Any]:
    raise NotImplementedError(
        "real image/audio/video codecs are not available in this "
        "environment — register one in DECODERS"
    )


DECODERS: dict[str, Callable[[bytes], dict[str, Any]]] = {
    "fake": fake_decode,
    "image": _unavailable,
    "audio": _unavailable,
    "video": _unavailable,
}


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize an opaque binary payload column (md5 digest bytes of
    the text) + modality tag — the deterministic stand-in for real
    media bytes, identically derivable in the oracle."""
    return df.withColumn("payload", F.unhex(F.md5(F.col(text_col)))).withColumn(
        "modality", F.lit("fake")
    )


def extract_features(
    df: DataFrame,
    decoder: str = "fake",
    id_col: str = "doc_id",
) -> DataFrame:
    """Decode/feature-extract via ``mapInPandas`` — Arrow-batched,
    partition-preserving, no shuffle. Input needs columns
    (id_col, payload, modality)."""
    decode = DECODERS[decoder]

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            feats = [decode(p) for p in pdf["payload"]]
            out = pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "modality": pdf["modality"],
                    "n_bytes": pd.Series(
                        [f["n_bytes"] for f in feats], dtype="int64"
                    ),
                    "header_hex": [f["header_hex"] for f in feats],
                }
            )
            yield out

    return df.mapInPandas(run, FEATURE_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("n_bytes_in", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def resize_payload(
    df: DataFrame, out_bytes: int, id_col: str = "doc_id"
) -> DataFrame:
    """The brief's media RESIZE step as real Spark plumbing: a
    partition-preserving, Arrow-batched ``mapInPandas`` that maps each
    binary payload to a fixed ``out_bytes``-byte payload by
    nearest-neighbor 1-D resampling (out[i] = in[floor(i*n/out)]) —
    the byte-level shape of an image downscale with the pixel decode
    stubbed (codec libs aren't in this container; a real decoder
    slots in via DECODERS without touching the plumbing). Payload
    bytes never shuffle; only the resized payload continues.

    Reference analog: beats carries opaque event payloads untouched —
    media transforms are an extension op per the training-data brief.
    """
    if out_bytes <= 0:
        raise ValueError("out_bytes must be positive")

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            resized = []
            for p in pdf["payload"]:
                b = bytes(p)
                n = len(b)
                resized.append(
                    bytes(b[(i * n) // out_bytes] for i in range(out_bytes))
                    if n
                    else b""
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "modality": pdf["modality"],
                    "n_bytes_in": pd.Series(
                        [len(bytes(p)) for p in pdf["payload"]], dtype="int64"
                    ),
                    "payload": resized,
                }
            )

    return df.mapInPandas(run, RESIZE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def frame_sample(
    df: DataFrame,
    frame_bytes: int,
    stride: int = 1,
    id_col: str = "doc_id",
) -> DataFrame:
    """The brief's video FRAME-SAMPLE step: split each payload into
    consecutive ``frame_bytes``-byte frames (a fixed-size raw-frame
    container; the codec decode is the stubbed tier) and keep every
    ``stride``-th frame, exploded to one output row per kept frame.
    ``mapInPandas`` again — Arrow-batched, scan-aligned, no shuffle;
    a 100-TB video corpus pays one pass and emits only the sampled
    frames. A trailing partial frame is kept as-is (its bytes are
    data, not padding)."""
    if frame_bytes <= 0 or stride <= 0:
        raise ValueError("frame_bytes and stride must be positive")

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, mods, idxs, frames = [], [], [], []
            for did, mod, p in zip(
                pdf[id_col], pdf["modality"], pdf["payload"]
            ):
                b = bytes(p)
                n_frames = (len(b) + frame_bytes - 1) // frame_bytes
                for fi in range(0, n_frames, stride):
                    ids.append(int(did))
                    mods.append(mod)
                    idxs.append(fi)
                    frames.append(b[fi * frame_bytes : (fi + 1) * frame_bytes])
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "modality": pd.Series(mods, dtype="object"),
                    "frame_idx": pd.Series(idxs, dtype="int64"),
                    "frame": pd.Series(frames, dtype="object"),
                }
            )

    return df.mapInPandas(run, FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# image container headers: real metadata, no codec library


def synth_png_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic REAL PNG header bytes (signature + IHDR prefix)
    with dimensions derived from the id — the test/oracle stand-in
    for actual image blobs, byte-identically constructible in DuckDB:
    width = id % 1024 + 1, height = id·7 % 1024 + 1, 8-bit RGB."""
    w = (F.col(id_col) % 1024 + 1).cast("long")
    h = ((F.col(id_col) * 7) % 1024 + 1).cast("long")
    be32 = lambda c: F.lpad(F.lower(F.hex(c)), 8, "0")  # noqa: E731
    hx = F.concat(
        F.lit("89504e470d0a1a0a"),  # PNG signature
        F.lit("0000000d49484452"),  # IHDR length 13 + type
        be32(w),
        be32(h),
        F.lit("0806"),  # bit depth 8, color type RGBA
    )
    return df.withColumn("payload", F.unhex(hx)).withColumn(
        "modality", F.lit("image")
    )


def parse_image_header(
    df: DataFrame, payload_col: str = "payload"
) -> DataFrame:
    """Container-level image metadata — format, width, height — parsed
    from the payload's HEADER BYTES with pure Column hex arithmetic:
    no codec library, no Python, scan-aligned (the payload never
    shuffles and is dropped right after the fixed-offset reads).

    Formats with fixed-offset dimensions: PNG (IHDR big-endian 32-bit
    at bytes 16/20) and GIF87a/89a (little-endian 16-bit at bytes
    6/8). JPEG dimensions live in a variable-offset SOF marker — a
    sequential scan, which is the mapInPandas decoder tier's job
    (DECODERS), not a Column expression. Unrecognized payloads yield
    NULL format/width/height rather than failing the scan (ANSI-safe:
    every conv() sits behind its magic-bytes guard)."""
    hx = F.lower(F.hex(F.col(payload_col)))

    def be(pos_chars: int, n_chars: int) -> Column:
        return F.conv(F.substring(hx, pos_chars, n_chars), 16, 10).cast(
            "long"
        )

    def le16(pos_chars: int) -> Column:
        return F.conv(
            F.concat(
                F.substring(hx, pos_chars + 2, 2),
                F.substring(hx, pos_chars, 2),
            ),
            16,
            10,
        ).cast("long")

    is_png = (F.substring(hx, 1, 16) == "89504e470d0a1a0a") & (
        F.substring(hx, 25, 8) == "49484452"
    )
    is_gif = F.substring(hx, 1, 12).isin("474946383761", "474946383961")
    fmt = (
        F.when(is_png, F.lit("png"))
        .when(is_gif, F.lit("gif"))
        .otherwise(F.lit(None).cast("string"))
    )
    width = F.when(is_png, be(33, 8)).when(is_gif, le16(13))
    height = F.when(is_png, be(41, 8)).when(is_gif, le16(17))
    return df.withColumn("img_format", fmt).withColumn(
        "img_width", width
    ).withColumn("img_height", height)


def image_dims_sql(table: str, id_col: str = "doc_id") -> str:
    """DuckDB twin of synth_png_payload → parse_image_header: the
    construction and the parse are both plain hex arithmetic, so the
    oracle rebuilds the header string and re-reads the dims from it
    through the same guards."""
    w = f"({id_col} % 1024 + 1)"
    h = f"({id_col} * 7 % 1024 + 1)"
    hx = (
        "'89504e470d0a1a0a' || '0000000d49484452' || "
        f"lpad(lower(hex({w})), 8, '0') || "
        f"lpad(lower(hex({h})), 8, '0') || '0806'"
    )
    return f"""
WITH p AS (SELECT {id_col}, {hx} AS hx FROM {table})
SELECT {id_col},
       CASE WHEN substr(hx, 1, 16) = '89504e470d0a1a0a'
                 AND substr(hx, 25, 8) = '49484452'
            THEN 'png' END AS img_format,
       CASE WHEN substr(hx, 1, 16) = '89504e470d0a1a0a'
                 AND substr(hx, 25, 8) = '49484452'
            THEN ('0x' || substr(hx, 33, 8))::BIGINT END AS img_width,
       CASE WHEN substr(hx, 1, 16) = '89504e470d0a1a0a'
                 AND substr(hx, 25, 8) = '49484452'
            THEN ('0x' || substr(hx, 41, 8))::BIGINT END AS img_height
FROM p
"""


IMG_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("img_format", T.StringType()),
        T.StructField("img_width", T.LongType()),
        T.StructField("img_height", T.LongType()),
    ]
)


def image_meta_decode(b: bytes) -> tuple[str, int, int] | None:
    """Container metadata from real header bytes, no codec library:
    PNG/GIF by fixed offset (the same reads parse_image_header does
    in Column space) plus JPEG by SOF MARKER SCAN — the sequential
    walk a Column expression can't express (variable-offset segments),
    which is exactly why it lives in this mapInPandas decoder tier.
    Returns (format, width, height) or None for unrecognized/corrupt
    payloads."""
    if (
        len(b) >= 24
        and b[:8] == b"\x89PNG\r\n\x1a\n"
        and b[12:16] == b"IHDR"
    ):
        return (
            "png",
            int.from_bytes(b[16:20], "big"),
            int.from_bytes(b[20:24], "big"),
        )
    if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        return (
            "gif",
            int.from_bytes(b[6:8], "little"),
            int.from_bytes(b[8:10], "little"),
        )
    if len(b) >= 4 and b[:2] == b"\xff\xd8":
        i = 2
        while i + 4 <= len(b):
            if b[i] != 0xFF:
                return None
            m = b[i + 1]
            if m == 0xFF:  # fill byte
                i += 1
                continue
            if m in (0x01,) or 0xD0 <= m <= 0xD9:  # bare markers
                i += 2
                continue
            seg = int.from_bytes(b[i + 2 : i + 4], "big")
            if 0xC0 <= m <= 0xCF and m not in (0xC4, 0xC8, 0xCC):
                if i + 9 > len(b):
                    return None
                return (
                    "jpeg",
                    int.from_bytes(b[i + 7 : i + 9], "big"),
                    int.from_bytes(b[i + 5 : i + 7], "big"),
                )
            i += 2 + seg
        return None
    return None


def image_meta_pandas(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """``mapInPandas`` binding of :func:`image_meta_decode` — the
    escape-hatch tier for formats whose metadata needs a sequential
    scan (JPEG SOF). Scan-aligned like every payload pass: no
    shuffle, payload dropped after the per-batch decode."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            metas = [image_meta_decode(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "img_format": [m[0] if m else None for m in metas],
                    "img_width": pd.Series(
                        [m[1] if m else None for m in metas],
                        dtype="Int64",
                    ),
                    "img_height": pd.Series(
                        [m[2] if m else None for m in metas],
                        dtype="Int64",
                    ),
                }
            )

    return df.mapInPandas(run, IMG_META_SCHEMA)
