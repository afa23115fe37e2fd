"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The pattern for image/audio/video at 100 TB:
- payload: BinaryType column (parquet stores it page-compressed; large
  payloads should live in their own parquet files with
  ``spark.sql.files.maxPartitionBytes`` sized so a partition of payloads
  fits executor memory);
- metadata: a StructType column (kind, n_bytes, checksum, …) so filters
  and joins touch ONLY metadata — column pruning means the heavy binary
  column is never read unless the decode stage needs it;
- decode/feature-extract: Arrow-batched ``mapInPandas`` — whole Arrow
  record batches cross the JVM↔Python boundary once, not per row.

PNG is fully real too (stdlib zlib IS the codec — attach_png_payload /
decode_png_features), and so is GIF (the LZW compressor/decompressor is
implemented here outright — attach_gif_payload / decode_gif_features,
variable code widths, clear/EOI, 4096-entry dictionary reset). Remaining
compressed codecs (JPEG/H.264) are NOT in this container, so
``payload_byte_features`` below is a deterministic stand-in with the real
Spark plumbing (schema, batching, partitioning) in place; swap the body
for PIL/pyav on a real cluster.

AUDIO and (since round 4) IMAGES are the exceptions:
- the stdlib ``wave`` module is a real PCM WAV codec, so
  ``attach_wav_payload`` writes genuine RIFF/WAVE containers and
  ``decode_audio_features`` REALLY parses them (header fields + int16
  frames) — no stub anywhere on that path;
- BMP (24-bit uncompressed BI_RGB) is a real image container fully
  specified by its header, so ``attach_bmp_payload`` writes genuine BMP
  files (BITMAPINFOHEADER, BGR byte order, 4-byte row padding, bottom-up
  rows) and ``decode_image_features`` REALLY parses them with
  struct+numpy — a working decoder for any 24-bit BI_RGB BMP, exercised
  against hand-built foreign files in tests.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("kind", T.StringType(), True),
                    T.StructField("n_bytes", T.LongType(), True),
                    T.StructField("checksum", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)


#: DDL form of PAYLOAD_SCHEMA, shared by every attach_* mapInPandas stage
ATTACH_SCHEMA = (
    "doc_id long, payload binary, "
    "meta struct<kind:string, n_bytes:long, checksum:string>"
)


def attach_payload(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Materialize the multimodal column pattern from the documents table:
    binary payload (utf-8 bytes standing in for image/audio bytes) + typed
    metadata struct. Pure Column ops — no Python."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col).alias("doc_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("text/plain").alias("kind"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.md5(F.col(text_col)).alias("checksum"),
        ).alias("meta"),
    )


FEATURE_SCHEMA = "doc_id long, n_bytes long, head_byte int, feat_mean double"


def _null_feature_row(out: dict, doc_id) -> None:
    """Emit doc_id with NULL feature columns for a NULL payload. Absent
    media (a failed fetch, a tombstoned blob) must not kill a 100 TB
    decode stage with a TypeError, and KEEPING the row — rather than
    dropping it — preserves input/output row accounting so downstream
    joins and coverage counts still line up; callers filter on a NULL
    feature column to isolate the undecodable set. Malformed non-NULL
    payloads still raise loudly (wrong-codec bytes are a data bug, not
    an expected absence)."""
    for k, v in out.items():
        v.append(int(doc_id) if k == "doc_id" else None)


def payload_byte_features(df: DataFrame) -> DataFrame:
    """Byte statistics over binary payloads via mapInPandas — length,
    first byte, mean byte value. Named for what it computes (it was
    ``decode_features`` through round 4): real decodes are
    decode_wav/image/video/png/gif_features below. The Spark-side
    contract (Arrow batch iterator in, typed rows out, executed
    distributed per partition) is the same in all of them; swap this
    body for PIL.Image.open / pyav on a cluster with codec libraries.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # NULL payload -> NULL features (row kept), the _null_feature_row
        # convention every real decoder below follows; EMPTY payload is a
        # present-but-degenerate file and keeps sentinel head_byte=-1 /
        # feat_mean=0.0. The registered oracle mirrors both cases.
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(lambda b: None if b is None else len(b)),
                    "head_byte": payloads.map(
                        lambda b: None if b is None else (-1 if len(b) == 0 else b[0])
                    ),
                    "feat_mean": payloads.map(
                        lambda b: None
                        if b is None
                        else (0.0 if len(b) == 0 else float(sum(b)) / len(b))
                    ),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(extract, FEATURE_SCHEMA)


def attach_wav_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a genuine RIFF/WAVE PCM16 payload per row via the stdlib
    ``wave`` writer: an 8 kHz mono square wave whose length and amplitude
    are closed-form functions of the id (n_samples = 800 + id % 160,
    amplitude = 1000 + (id % 100)·10). The bytes are a fully valid WAV
    file — any decoder can read them — and because the parameters are
    closed-form, an external oracle can PREDICT what a correct decoder
    must report (see queries/llm5.audio_decode_features).

    mapInPandas: payload synthesis is per-file Python by nature (codec
    work), batched over Arrow and partition-parallel — the same execution
    shape a real torchaudio/ffmpeg encode stage would use."""
    return df.select(id_col).mapInPandas(_wav_gen(id_col), ATTACH_SCHEMA)


def _wav_gen(id_col: str = "doc_id"):
    """Batch transform behind ``attach_wav_payload``, hoisted to module
    level so the fused synth→decode pipeline can compose it with the
    decoder inside ONE Python stage (no JVM round trip between them)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import io
        import wave as wavmod

        import numpy as np

        for pdf in batches:
            out = {"doc_id": [], "payload": [], "meta": []}
            for doc_id in pdf[id_col]:
                doc_id = int(doc_id)
                n = 800 + doc_id % 160
                amp = 1000 + (doc_id % 100) * 10
                idx = np.arange(n)
                samples = np.where((idx // 4) % 2 == 0, amp, -amp).astype("<i2")
                buf = io.BytesIO()
                with wavmod.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(samples.tobytes())
                b = buf.getvalue()
                out["doc_id"].append(doc_id)
                out["payload"].append(b)
                out["meta"].append(
                    {
                        "kind": "audio/wav",
                        "n_bytes": len(b),
                        "checksum": hashlib.md5(b).hexdigest(),
                    }
                )
            yield pd.DataFrame(out)

    return gen


AUDIO_FEATURE_SCHEMA = (
    "doc_id long, sample_rate int, n_channels int, n_samples long, "
    "duration_s double, peak long, rms double"
)


def decode_audio_features(df: DataFrame) -> DataFrame:
    """REAL audio decode — no stub: the stdlib ``wave`` codec parses the
    RIFF/WAVE header (rate, channels, width, frame count) and the PCM16
    frames; numpy computes amplitude stats (peak |sample|, RMS in exact
    float64). Works on any PCM WAV payload, not just the synthesized ones.

    duration_s is frame-count/rate in one IEEE division (bit-reproducible
    across engines); rms = sqrt(mean(s²)) in float64."""
    return df.select("doc_id", "payload").mapInPandas(
        _wav_dec(), AUDIO_FEATURE_SCHEMA
    )


def _wav_dec():
    """Batch transform behind ``decode_audio_features`` (see _wav_gen)."""

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave as wavmod

        import numpy as np

        for pdf in batches:
            out = {
                "doc_id": [], "sample_rate": [], "n_channels": [],
                "n_samples": [], "duration_s": [], "peak": [], "rms": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    _null_feature_row(out, doc_id)
                    continue
                with wavmod.open(io.BytesIO(bytes(payload))) as w:
                    sr = w.getframerate()
                    nch = w.getnchannels()
                    nf = w.getnframes()
                    sw = w.getsampwidth()
                    raw = w.readframes(nf)
                if sw != 2:
                    # the int16 view below would silently misread 8/24/32-bit
                    # PCM as garbage — fail loudly like the BMP/AVI decoders
                    raise ValueError(
                        f"doc {doc_id}: {8 * sw}-bit PCM unsupported — only "
                        "16-bit payloads decode (sampwidth check)"
                    )
                arr = np.frombuffer(raw, dtype="<i2").astype(np.float64)
                out["doc_id"].append(int(doc_id))
                out["sample_rate"].append(sr)
                out["n_channels"].append(nch)
                out["n_samples"].append(nf)
                out["duration_s"].append(nf / sr)
                out["peak"].append(0 if arr.size == 0 else int(np.abs(arr).max()))
                out["rms"].append(
                    0.0 if arr.size == 0 else float(np.sqrt(np.mean(arr * arr)))
                )
            yield pd.DataFrame(out)

    return dec


def attach_bmp_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a genuine 24-bit BMP per row: width = 4 + id % 13 (odd
    widths exercise the 4-byte row padding), height = 2 + id % 7, pixel
    (x, y) = BGR((id+x) % 256, (id+y) % 256, (id+x+y) % 256) with y = 0
    the TOP row (stored bottom-up, as BMP requires). The bytes are a
    fully valid BI_RGB BMP any viewer opens; because the dimensions and
    pixels are closed-form in the id, an external oracle can PREDICT the
    header fields and channel means a correct decoder must report
    (queries/llm6.image_decode_features).

    mapInPandas — the same partition-parallel, Arrow-batched execution
    shape a real image encode stage uses."""
    return df.select(id_col).mapInPandas(_bmp_gen(id_col), ATTACH_SCHEMA)


def _bmp_gen(id_col: str = "doc_id"):
    """Batch transform behind ``attach_bmp_payload`` (see _wav_gen)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import struct

        import numpy as np

        for pdf in batches:
            out = {"doc_id": [], "payload": [], "meta": []}
            for doc_id in pdf[id_col]:
                doc_id = int(doc_id)
                w, h = 4 + doc_id % 13, 2 + doc_id % 7
                stride = (3 * w + 3) // 4 * 4
                xs = np.arange(w)
                rows = np.zeros((h, stride), dtype=np.uint8)
                for y in range(h):
                    px = np.empty((w, 3), dtype=np.uint8)
                    px[:, 0] = (doc_id + xs) % 256          # B
                    px[:, 1] = (doc_id + y) % 256           # G
                    px[:, 2] = (doc_id + xs + y) % 256      # R
                    rows[y, : 3 * w] = px.reshape(-1)
                data = rows[::-1].tobytes()  # bottom-up storage
                header = struct.pack(
                    "<2sIHHI", b"BM", 54 + len(data), 0, 0, 54
                ) + struct.pack(
                    "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0
                )
                b = header + data
                out["doc_id"].append(doc_id)
                out["payload"].append(b)
                out["meta"].append(
                    {
                        "kind": "image/bmp",
                        "n_bytes": len(b),
                        "checksum": hashlib.md5(b).hexdigest(),
                    }
                )
            yield pd.DataFrame(out)

    return gen


IMAGE_FEATURE_SCHEMA = (
    "doc_id long, width int, height int, bpp int, n_bytes long, "
    "mean_b double, mean_g double, mean_r double"
)


def decode_image_features(df: DataFrame) -> DataFrame:
    """REAL image decode — no stub: struct parses the BMP file header +
    BITMAPINFOHEADER (magic, pixel-array offset, dimensions, bit depth,
    compression), numpy strides out the padded bottom-up BGR rows. Works
    on any uncompressed 24-bit BI_RGB BMP, not just the synthesized ones
    (tests feed it a hand-built foreign file).

    Channel means are float64 over exact small-integer sums —
    bit-reproducible, so the closed-form oracle hash-matches them."""
    return df.select("doc_id", "payload").mapInPandas(
        _bmp_dec(), IMAGE_FEATURE_SCHEMA
    )


def _bmp_dec():
    """Batch transform behind ``decode_image_features`` (see _wav_gen)."""

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        for pdf in batches:
            out = {
                "doc_id": [], "width": [], "height": [], "bpp": [],
                "n_bytes": [], "mean_b": [], "mean_g": [], "mean_r": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    _null_feature_row(out, doc_id)
                    continue
                b = bytes(payload)
                magic, _file_size, _r1, _r2, offset = struct.unpack_from("<2sIHHI", b, 0)
                if magic != b"BM":
                    raise ValueError(f"not a BMP payload (doc {doc_id})")
                _hsz, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI", b, 14)
                if bpp != 24 or comp != 0:
                    raise ValueError(f"unsupported BMP variant bpp={bpp} comp={comp}")
                stride = (3 * w + 3) // 4 * 4
                flipped = h > 0  # positive height = bottom-up storage
                h = abs(h)
                rows = np.frombuffer(
                    b, dtype=np.uint8, count=stride * h, offset=offset
                ).reshape(h, stride)
                if flipped:
                    rows = rows[::-1]
                px = rows[:, : 3 * w].reshape(h, w, 3).astype(np.float64)
                out["doc_id"].append(int(doc_id))
                out["width"].append(w)
                out["height"].append(h)
                out["bpp"].append(bpp)
                out["n_bytes"].append(len(b))
                out["mean_b"].append(float(px[:, :, 0].mean()))
                out["mean_g"].append(float(px[:, :, 1].mean()))
                out["mean_r"].append(float(px[:, :, 2].mean()))
            yield pd.DataFrame(out)

    return dec


def attach_avi_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a genuine uncompressed RIFF/AVI video per row: 'vids'
    stream with fourcc 'DIB ' (raw device-independent bitmap frames —
    24-bit BGR, bottom-up, 4-byte-padded rows, the same pixel layout BMP
    uses), proper avih/strh/strf headers and one '00db' movi chunk per
    frame. Dimensions, frame count, and pixels are closed-form in the id
    (w = 4 + id % 5, h = 2 + id % 3, n_frames = 3 + id % 4, 10 fps;
    frame f pixel (x, y) = BGR((id+f+x) % 256, (id+f+y) % 256,
    (id+f+x+y) % 256)), so an oracle can predict every decoded stat.
    The bytes are a valid AVI any player opens.

    mapInPandas — partition-parallel encode, the real video-stage shape."""
    return df.select(id_col).mapInPandas(_avi_gen(id_col), ATTACH_SCHEMA)


def _avi_gen(id_col: str = "doc_id"):
    """Batch transform behind ``attach_avi_payload`` (see _wav_gen)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import struct

        import numpy as np

        def chunk(fourcc: bytes, body: bytes) -> bytes:
            pad = b"\x00" if len(body) % 2 else b""
            return fourcc + struct.pack("<I", len(body)) + body + pad

        def lst(kind: bytes, body: bytes) -> bytes:
            return chunk(b"LIST", kind + body)

        for pdf in batches:
            out = {"doc_id": [], "payload": [], "meta": []}
            for doc_id in pdf[id_col]:
                doc_id = int(doc_id)
                w, h = 4 + doc_id % 5, 2 + doc_id % 3
                n_frames = 3 + doc_id % 4
                stride = (3 * w + 3) // 4 * 4
                frame_size = stride * h
                xs = np.arange(w)
                frames = []
                for f in range(n_frames):
                    rows = np.zeros((h, stride), dtype=np.uint8)
                    for y in range(h):
                        px = np.empty((w, 3), dtype=np.uint8)
                        px[:, 0] = (doc_id + f + xs) % 256      # B
                        px[:, 1] = (doc_id + f + y) % 256       # G
                        px[:, 2] = (doc_id + f + xs + y) % 256  # R
                        rows[y, : 3 * w] = px.reshape(-1)
                    frames.append(rows[::-1].tobytes())  # bottom-up
                avih = chunk(
                    b"avih",
                    struct.pack(
                        "<14I", 100_000, frame_size * 10, 0, 0x10, n_frames,
                        0, 1, frame_size, w, h, 0, 0, 0, 0,
                    ),
                )
                strh = chunk(
                    b"strh",
                    b"vids" + b"DIB " + struct.pack(
                        "<IHHIIIIIIII", 0, 0, 0, 0, 1, 10, 0, n_frames,
                        frame_size, 0xFFFFFFFF, 0,
                    ) + struct.pack("<4H", 0, 0, w, h),
                )
                strf = chunk(
                    b"strf",
                    struct.pack(
                        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_size,
                        2835, 2835, 0, 0,
                    ),
                )
                hdrl = lst(b"hdrl", avih + lst(b"strl", strh + strf))
                movi = lst(b"movi", b"".join(chunk(b"00db", fr) for fr in frames))
                riff_body = b"AVI " + hdrl + movi
                b = b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body
                out["doc_id"].append(doc_id)
                out["payload"].append(b)
                out["meta"].append(
                    {
                        "kind": "video/avi",
                        "n_bytes": len(b),
                        "checksum": hashlib.md5(b).hexdigest(),
                    }
                )
            yield pd.DataFrame(out)

    return gen


VIDEO_FRAME_SCHEMA = (
    "doc_id long, frame_idx int, width int, height int, n_frames int, "
    "fps double, mean_b double, mean_g double, mean_r double"
)


def decode_video_frames(df: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL video decode — no stub: a RIFF chunk walker (struct) parses the
    AVI header (avih: frame timing, count, dimensions; strf: bit depth),
    locates the 'movi' list, and iterates its '00db'/'00dc' frame chunks;
    every ``every_n``-th frame is decoded from raw bottom-up padded BGR
    rows (numpy) into per-channel means. Handles any uncompressed
    DIB-frames AVI, not just the synthesized ones (foreign-file test).

    This retires the video stub the way ``wave`` retired audio and the
    BMP parser retired images; only COMPRESSED codecs (H.264 etc.)
    remain out of scope in this container."""
    return df.select("doc_id", "payload").mapInPandas(
        _avi_dec(every_n), VIDEO_FRAME_SCHEMA
    )


def _avi_dec(every_n: int = 2):
    """Batch transform behind ``decode_video_frames`` (see _wav_gen)."""

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import numpy as np

        def walk(buf: bytes, start: int, end: int):
            """Yield (fourcc, body_start, body_size) for chunks in [start, end)."""
            pos = start
            while pos + 8 <= end:
                fourcc, size = struct.unpack_from("<4sI", buf, pos)
                yield fourcc, pos + 8, size
                pos += 8 + size + (size % 2)  # chunks are word-aligned

        for pdf in batches:
            out = {
                "doc_id": [], "frame_idx": [], "width": [], "height": [],
                "n_frames": [], "fps": [], "mean_b": [], "mean_g": [], "mean_r": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    # exploded per-frame output: a missing payload has no
                    # frames — zero rows
                    continue
                b = bytes(payload)
                magic, riff_size, kind = struct.unpack_from("<4sI4s", b, 0)
                if magic != b"RIFF" or kind != b"AVI ":
                    raise ValueError(f"not an AVI payload (doc {doc_id})")
                us_per_frame = n_frames = w = h = None
                bit_count = None
                frames: list[tuple[int, int]] = []
                for fourcc, body, size in walk(b, 12, 8 + riff_size):
                    if fourcc != b"LIST":
                        continue
                    list_kind = b[body : body + 4]
                    if list_kind == b"hdrl":
                        for fc2, body2, size2 in walk(b, body + 4, body + size):
                            if fc2 == b"avih":
                                (us_per_frame, _, _, _, n_frames, _, _, _, w, h) = (
                                    struct.unpack_from("<10I", b, body2)
                                )
                            elif fc2 == b"LIST" and b[body2 : body2 + 4] == b"strl":
                                # Only the VIDEO stream's strf carries a
                                # BITMAPINFOHEADER; an audio strl's strf is
                                # WAVEFORMATEX, whose wBitsPerSample sits at
                                # the SAME offset 14 and would shadow the
                                # real biBitCount (a BGR24 video+audio file
                                # would then raise). Gate on strh.fccType ==
                                # 'vids' — strf's biBitCount is read because
                                # the frame-size heuristic below has false
                                # negatives at tiny widths (32bpp w<=3 ==
                                # padded 24bpp).
                                is_vids = False
                                for fc3, body3, size3 in walk(
                                    b, body2 + 4, body2 + size2
                                ):
                                    if fc3 == b"strh" and size3 >= 4:
                                        is_vids = (
                                            b[body3 : body3 + 4] == b"vids"
                                        )
                                    elif (
                                        fc3 == b"strf"
                                        and size3 >= 16
                                        and is_vids
                                    ):
                                        bit_count = struct.unpack_from(
                                            "<H", b, body3 + 14
                                        )[0]
                    elif list_kind == b"movi":
                        for fc2, body2, size2 in walk(b, body + 4, body + size):
                            if fc2[2:4] in (b"db", b"dc"):
                                frames.append((body2, size2))
                if w is None or not frames:
                    raise ValueError(f"no avih header / frames (doc {doc_id})")
                if bit_count is not None and bit_count != 24:
                    raise ValueError(
                        f"doc {doc_id}: strf declares {bit_count} bpp — only "
                        "uncompressed BGR24 DIB frames are supported"
                    )
                stride = (3 * w + 3) // 4 * 4
                # dwMicroSecPerFrame may legally be 0 (rate lives in strh):
                # emit NULL fps rather than dividing by zero
                fps = (1e6 / us_per_frame) if us_per_frame else None
                for idx in range(0, len(frames), every_n):
                    off, size = frames[idx]
                    if size != stride * h:
                        # compressed or non-24bpp frames don't match the
                        # 24-bit BGR stride — fail loudly like the BMP
                        # decoder's bpp/compression check, never reshape
                        # garbage
                        raise ValueError(
                            f"frame {idx} of doc {doc_id}: {size} bytes != "
                            f"24-bit stride {stride}x{h} — only uncompressed "
                            "BGR24 DIB frames are supported"
                        )
                    rows = np.frombuffer(
                        b, dtype=np.uint8, count=stride * h, offset=off
                    ).reshape(h, stride)[::-1]
                    px = rows[:, : 3 * w].reshape(h, w, 3).astype(np.float64)
                    out["doc_id"].append(int(doc_id))
                    out["frame_idx"].append(idx)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["n_frames"].append(len(frames))
                    out["fps"].append(fps)
                    out["mean_b"].append(float(px[:, :, 0].mean()))
                    out["mean_g"].append(float(px[:, :, 1].mean()))
                    out["mean_r"].append(float(px[:, :, 2].mean()))
            yield pd.DataFrame(out)

    return dec


def attach_png_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a genuine COMPRESSED image per row: an 8-bit grayscale
    PNG (color type 0) with width = 4 + id % 13, height = 2 + id % 7 and
    pixel (x, y) = (id + 3x + 5y) % 256 — signature, IHDR/IDAT/IEND
    chunks, CRC32s, and a real zlib-compressed scanline stream (filter 0).
    Any PNG viewer opens these bytes; stdlib ``zlib``/``struct`` are the
    whole codec, so (unlike JPEG) nothing here is stubbed.

    Closed-form pixels mean an external oracle can PREDICT the header
    fields and exact gray statistics a correct decoder must report
    (queries/llm37.png_decode_features).

    mapInPandas: partition-parallel, Arrow-batched — the real encode
    shape."""
    return df.select(id_col).mapInPandas(_png_gen(id_col), ATTACH_SCHEMA)


def _png_gen(id_col: str = "doc_id"):
    """Batch transform behind ``attach_png_payload`` (see _wav_gen)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import struct
        import zlib

        import numpy as np

        def chunk(typ: bytes, data: bytes) -> bytes:
            return (
                struct.pack(">I", len(data))
                + typ
                + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
            )

        for pdf in batches:
            out = {"doc_id": [], "payload": [], "meta": []}
            for doc_id in pdf[id_col]:
                did = int(doc_id)
                w, h = 4 + did % 13, 2 + did % 7
                xs = np.arange(w, dtype=np.int64)
                img = np.stack(
                    [(did + 3 * xs + 5 * y) % 256 for y in range(h)]
                ).astype(np.uint8)
                raw = b"".join(b"\x00" + img[y].tobytes() for y in range(h))
                ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
                png = (
                    b"\x89PNG\r\n\x1a\n"
                    + chunk(b"IHDR", ihdr)
                    + chunk(b"IDAT", zlib.compress(raw, 6))
                    + chunk(b"IEND", b"")
                )
                out["doc_id"].append(did)
                out["payload"].append(png)
                out["meta"].append(
                    {
                        "kind": "image/png",
                        "n_bytes": len(png),
                        "checksum": hashlib.md5(png).hexdigest(),
                    }
                )
            yield pd.DataFrame(out)

    return gen


def decode_png_features(df: DataFrame) -> DataFrame:
    """REAL PNG decode (stdlib zlib + struct + numpy): walk the chunk
    stream, parse IHDR, concatenate IDAT, inflate, and UNFILTER the
    scanlines (filters 0 None / 1 Sub / 2 Up — enough for any grayscale
    writer using per-row heuristics; other filters raise rather than
    silently corrupt). Emits header fields + exact gray stats.

    Works on foreign files, not just our own encoder's output — the
    tests feed it a hand-built Sub/Up-filtered PNG.

    mapInPandas over (doc_id, payload): partition-parallel decode, no
    shuffle."""
    return df.select("doc_id", "payload").mapInPandas(
        _png_dec(), PNG_FEATURE_SCHEMA
    )


PNG_FEATURE_SCHEMA = (
    "doc_id long, width int, height int, bit_depth int, color_type int, "
    "n_pixels long, mean_gray double, min_gray int, max_gray int"
)


def _png_dec():
    """Batch transform behind ``decode_png_features`` (see _wav_gen)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct
        import zlib

        import numpy as np

        def decode(b: bytes):
            if b[:8] != b"\x89PNG\r\n\x1a\n":
                raise ValueError("not a PNG signature")
            pos, idat = 8, b""
            w = h = bd = ct = None
            interlace = 0
            while pos + 8 <= len(b):
                ln = int.from_bytes(b[pos : pos + 4], "big")
                typ = b[pos + 4 : pos + 8]
                data = b[pos + 8 : pos + 8 + ln]
                pos += 12 + ln
                if typ == b"IHDR":
                    w, h, bd, ct = struct.unpack(">IIBB", data[:10])
                    # byte 12 is the interlace flag: an Adam7 stream has a
                    # completely different scanline layout, and reading it
                    # sequentially would compute stats over scrambled
                    # pixels WITHOUT erroring — check it like ct/bd
                    interlace = data[12] if len(data) >= 13 else 0
                elif typ == b"IDAT":
                    idat += data
                elif typ == b"IEND":
                    break
            if ct != 0 or bd != 8 or interlace != 0:
                raise ValueError(
                    f"unsupported PNG (color_type={ct}, bit_depth={bd}, "
                    f"interlace={interlace})"
                )
            raw = zlib.decompress(idat)
            stride = w + 1
            prev = np.zeros(w, dtype=np.uint8)
            rows = []
            for y in range(h):
                f = raw[y * stride]
                line = np.frombuffer(
                    raw[y * stride + 1 : (y + 1) * stride], dtype=np.uint8
                ).copy()
                if f == 0:
                    pass
                elif f == 1:  # Sub: add the left neighbour (uint8 wraps)
                    for i in range(1, w):
                        line[i] = (int(line[i]) + int(line[i - 1])) & 0xFF
                elif f == 2:  # Up: add the row above
                    line = (line.astype(np.int64) + prev).astype(np.uint8)
                else:
                    raise ValueError(f"unsupported PNG filter {f}")
                prev = line
                rows.append(line)
            return w, h, bd, ct, np.stack(rows)

        for pdf in batches:
            out = {
                "doc_id": [], "width": [], "height": [], "bit_depth": [],
                "color_type": [], "n_pixels": [], "mean_gray": [],
                "min_gray": [], "max_gray": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    _null_feature_row(out, doc_id)
                    continue
                w, h, bd, ct, img = decode(bytes(payload))
                out["doc_id"].append(int(doc_id))
                out["width"].append(w)
                out["height"].append(h)
                out["bit_depth"].append(bd)
                out["color_type"].append(ct)
                out["n_pixels"].append(w * h)
                # exact: integer sum / count, one IEEE division
                out["mean_gray"].append(float(int(img.sum()) / (w * h)))
                out["min_gray"].append(int(img.min()))
                out["max_gray"].append(int(img.max()))
            yield pd.DataFrame(out)

    return gen


def attach_warc_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Synthesize a genuine WARC/1.0 archive per document — the container
    format web-scale corpora (Common Crawl) actually ship in: a warcinfo
    record plus a response record whose body IS the document text, each
    record its own gzip member, members concatenated (the CC packing
    convention that lets readers seek to a record and inflate just it).
    stdlib ``gzip`` is the whole codec.

    mapInPandas: partition-parallel encode, Arrow-batched."""
    return df.select(id_col, text_col).mapInPandas(
        _warc_gen(text_col, id_col), ATTACH_SCHEMA
    )


def _warc_gen(text_col: str = "text", id_col: str = "doc_id"):
    """Batch transform behind ``attach_warc_payload`` (see _wav_gen)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import gzip
        import hashlib

        def record(rtype: str, rid: int, body: bytes) -> bytes:
            head = (
                "WARC/1.0\r\n"
                f"WARC-Type: {rtype}\r\n"
                f"WARC-Record-ID: <urn:uuid:{rid:032x}>\r\n"
                f"Content-Length: {len(body)}\r\n"
                "\r\n"
            ).encode("ascii")
            return head + body + b"\r\n\r\n"

        for pdf in batches:
            out = {"doc_id": [], "payload": [], "meta": []}
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                did = int(doc_id)
                if text is None or text is pd.NA or (
                        isinstance(text, float) and pd.isna(text)):
                    # NULL text (failed fetch / tombstone) -> NULL payload,
                    # kept row — the package-wide convention; silently
                    # packing an EMPTY archive would fabricate content
                    out["doc_id"].append(did)
                    out["payload"].append(None)
                    out["meta"].append(None)
                    continue
                body = str(text).encode("utf-8")
                info = record("warcinfo", did * 2, b"software: cbps-spark\r\n")
                resp = record("response", did * 2 + 1, body)
                # mtime=0 pins the gzip header: gzip.compress embeds the
                # CURRENT wall clock, so a task retry crossing a second
                # boundary re-derived different payload bytes and checksum
                # for the same doc — breaking the container determinism
                # every other attach_* guarantees
                def _gz(data: bytes) -> bytes:
                    import io as _io

                    buf = _io.BytesIO()
                    with gzip.GzipFile(
                        fileobj=buf, mode="wb", compresslevel=6, mtime=0
                    ) as gz:
                        gz.write(data)
                    return buf.getvalue()

                warc = _gz(info) + _gz(resp)
                out["doc_id"].append(did)
                out["payload"].append(warc)
                out["meta"].append(
                    {
                        "kind": "application/warc",
                        "n_bytes": len(warc),
                        "checksum": hashlib.md5(warc).hexdigest(),
                    }
                )
            yield pd.DataFrame(out)

    return gen


def decode_warc_records(df: DataFrame) -> DataFrame:
    """REAL WARC reader (stdlib gzip): inflate the concatenated-member
    stream (gzip.decompress handles multi-member files), walk records by
    their ``WARC/1.0`` magic, parse headers, and slice each body by its
    Content-Length — the exact shape of a Common-Crawl ingestion map.
    Emits per archive: record count, the response body's byte length and
    md5 (so a caller can verify the recovered text bit-for-bit).

    mapInPandas over (doc_id, payload): partition-parallel, no shuffle."""
    return df.select("doc_id", "payload").mapInPandas(
        _warc_dec(), WARC_RECORD_SCHEMA
    )


WARC_RECORD_SCHEMA = (
    "doc_id long, n_records int, response_bytes long, body_md5 string"
)


def _warc_dec():
    """Batch transform behind ``decode_warc_records`` (see _wav_gen)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import gzip
        import hashlib

        def parse(raw: bytes):
            n, pos = 0, 0
            resp_body = None
            while True:
                start = raw.find(b"WARC/1.0\r\n", pos)
                if start < 0:
                    break
                hdr_end = raw.find(b"\r\n\r\n", start)
                if hdr_end < 0:
                    raise ValueError("truncated WARC header")
                headers = {}
                for line in raw[start + 10 : hdr_end].split(b"\r\n"):
                    k, _, v = line.partition(b":")
                    headers[k.strip().lower()] = v.strip()
                clen = int(headers[b"content-length"])
                body = raw[hdr_end + 4 : hdr_end + 4 + clen]
                if len(body) != clen:
                    raise ValueError("truncated WARC body")
                if headers.get(b"warc-type") == b"response":
                    resp_body = body
                n += 1
                pos = hdr_end + 4 + clen
            if resp_body is None:
                raise ValueError("no response record in WARC")
            return n, resp_body

        for pdf in batches:
            out = {"doc_id": [], "n_records": [], "response_bytes": [], "body_md5": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    _null_feature_row(out, doc_id)
                    continue
                raw = gzip.decompress(bytes(payload))
                n, body = parse(raw)
                out["doc_id"].append(int(doc_id))
                out["n_records"].append(n)
                out["response_bytes"].append(len(body))
                out["body_md5"].append(hashlib.md5(body).hexdigest())
            yield pd.DataFrame(out)

    return gen


# --- REAL GIF codec (LZW) ---------------------------------------------------

#: fixed 4-entry global color table: index i -> (R, G, B)
GIF_PALETTE = [(i * 80 % 256, i * 60 % 256, i * 45 % 256) for i in range(4)]


def _lzw_encode(indices, min_code_size: int) -> bytes:
    """GIF-flavor LZW: variable code width starting at min_code_size+1,
    clear/EOI codes, dictionary reset at 4096 entries, LSB-first bit
    packing. A real encoder — any conforming GIF reader inflates it."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    buf: tuple = ()
    for idx in indices:
        cand = buf + (idx,)
        if cand in table:
            buf = cand
            continue
        emit(table[buf], width)
        if next_code < 4096:
            table[cand] = next_code
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:  # dictionary full: reset (exercises decoder clear handling)
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        buf = (idx,)
    if buf:
        emit(table[buf], width)
        # The decoder adds one more entry after this final code (it cannot
        # know the stream ends); mirror that phantom add so EOI is written
        # at the width the decoder will read it with.
        if next_code < 4096:
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int) -> list:
    """GIF LZW decompressor: LSB-first codes of growing width, clear
    resets, the KwKwK special case — works on any conforming stream
    (including clear-heavy foreign encoders), not just _lzw_encode's."""
    clear = 1 << min_code_size
    eoi = clear + 1
    table: list = [(i,) for i in range(clear)] + [None, None]
    width = min_code_size + 1
    out: list = []
    prev: tuple | None = None
    acc = 0
    nbits = 0
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("LZW stream truncated before EOI")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [(i,) for i in range(clear)] + [None, None]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return out
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:
                table.append(prev + (entry[0],))
        else:
            # only code == len(table) is the legal KwKwK case; anything
            # beyond it is a corrupt/non-conforming stream — raise instead
            # of decoding plausible-looking garbage means
            if code != len(table):
                raise ValueError(
                    f"LZW code {code} out of range (table size {len(table)})"
                )
            entry = prev + (prev[0],)  # KwKwK
            if len(table) < 4096:
                table.append(entry)
        out.extend(entry)
        if len(table) == (1 << width) and width < 12:
            width += 1
        prev = entry


def attach_gif_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a genuine GIF89a per row with REAL LZW compression:
    width = 3 + id % 8, height = 2 + id % 5, 4-entry global color table
    ``GIF_PALETTE`` (fixed constants), pixel index(x, y) =
    (id + x + 2*y) % 4, plus a Graphic Control Extension block so
    decoders must handle 0x21 extensions. Any conforming GIF viewer
    opens these files; because dimensions, palette, and indices are
    closed-form in the id, an external oracle PREDICTS the channel means
    a correct LZW round-trip must yield (queries/llm47).

    mapInPandas — partition-parallel, Arrow-batched, zero shuffle."""
    return df.select(id_col).mapInPandas(_gif_gen(id_col), ATTACH_SCHEMA)


def _gif_gen(id_col: str = "doc_id"):
    """Batch transform behind ``attach_gif_payload`` (see _wav_gen)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import struct

        def build(doc_id: int) -> bytes:
            w, h = 3 + doc_id % 8, 2 + doc_id % 5
            indices = [
                (doc_id + x + 2 * y) % 4 for y in range(h) for x in range(w)
            ]
            lzw = _lzw_encode(indices, 2)
            b = bytearray()
            b += b"GIF89a"
            # logical screen: GCT present, color resolution 8, GCT size 4
            b += struct.pack("<HHBBB", w, h, 0xF1, 0, 0)
            for rgb in GIF_PALETTE:
                b += bytes(rgb)
            # graphic control extension (decoders must skip extensions)
            b += b"\x21\xf9\x04\x00\x00\x00\x00\x00"
            # image descriptor: full frame, no local table, no interlace
            b += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
            b += bytes([2])  # LZW minimum code size
            for i in range(0, len(lzw), 255):
                chunk = lzw[i : i + 255]
                b += bytes([len(chunk)]) + chunk
            b += b"\x00\x3b"
            return bytes(b)

        for pdf in batches:
            out = {"doc_id": [], "payload": [], "meta": []}
            for doc_id in pdf[id_col]:
                doc_id = int(doc_id)
                payload = build(doc_id)
                out["doc_id"].append(doc_id)
                out["payload"].append(payload)
                out["meta"].append(
                    {
                        "kind": "image/gif",
                        "n_bytes": len(payload),
                        "checksum": hashlib.md5(payload).hexdigest(),
                    }
                )
            yield pd.DataFrame(out)

    return gen


GIF_FEATURE_SCHEMA = (
    "doc_id long, width int, height int, n_colors int, n_pixels long, "
    "mean_r double, mean_g double, mean_b double"
)


def decode_gif_features(df: DataFrame) -> DataFrame:
    """REAL GIF decode — no stub: parses the header and logical screen
    descriptor, reads the global color table, skips extension blocks,
    parses the image descriptor (local table supported), reassembles the
    LZW sub-blocks and inflates them with ``_lzw_decode``, then maps
    indices through the palette for exact per-channel means. Handles any
    single-frame GIF87a/89a (foreign-stream test feeds it a clear-heavy
    stream _lzw_encode never produces).

    Channel means are float64 over exact small-integer sums —
    bit-reproducible, so the closed-form oracle hash-matches them."""
    return df.select("doc_id", "payload").mapInPandas(
        _gif_dec(), GIF_FEATURE_SCHEMA
    )


def _gif_dec():
    """Batch transform behind ``decode_gif_features`` (see _wav_gen)."""

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        def parse(b: bytes):
            if b[:6] not in (b"GIF87a", b"GIF89a"):
                raise ValueError("not a GIF payload")
            sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", b, 6)
            pos = 13
            palette = None
            if flags & 0x80:
                n = 2 << (flags & 0x07)
                palette = [tuple(b[pos + 3 * i : pos + 3 * i + 3]) for i in range(n)]
                pos += 3 * n
            while True:
                marker = b[pos]
                pos += 1
                if marker == 0x21:  # extension: label + sub-blocks
                    pos += 1
                    while b[pos]:
                        pos += 1 + b[pos]
                    pos += 1
                elif marker == 0x2C:
                    break
                elif marker == 0x3B:
                    raise ValueError("no image data before trailer")
                else:
                    raise ValueError(f"unexpected GIF block 0x{marker:02x}")
            _l, _t, w, h, iflags = struct.unpack_from("<HHHHB", b, pos)
            pos += 9
            if iflags & 0x80:  # local color table overrides
                n = 2 << (iflags & 0x07)
                palette = [tuple(b[pos + 3 * i : pos + 3 * i + 3]) for i in range(n)]
                pos += 3 * n
            if iflags & 0x40:
                raise ValueError("interlaced GIF not supported")
            if palette is None:
                raise ValueError("GIF without any color table")
            mcs = b[pos]
            pos += 1
            lzw = bytearray()
            while b[pos]:
                ln = b[pos]
                lzw += b[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            indices = _lzw_decode(bytes(lzw), mcs)
            if len(indices) != w * h:
                raise ValueError(
                    f"LZW inflated {len(indices)} indices for {w}x{h} image"
                )
            return w, h, len(palette), indices, palette

        for pdf in batches:
            out = {
                "doc_id": [], "width": [], "height": [], "n_colors": [],
                "n_pixels": [], "mean_r": [], "mean_g": [], "mean_b": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    _null_feature_row(out, doc_id)
                    continue
                w, h, nc, indices, palette = parse(bytes(payload))
                n = w * h
                sums = [0, 0, 0]
                for idx in indices:
                    rgb = palette[idx]
                    sums[0] += rgb[0]
                    sums[1] += rgb[1]
                    sums[2] += rgb[2]
                out["doc_id"].append(int(doc_id))
                out["width"].append(w)
                out["height"].append(h)
                out["n_colors"].append(nc)
                out["n_pixels"].append(n)
                out["mean_r"].append(sums[0] / n)
                out["mean_g"].append(sums[1] / n)
                out["mean_b"].append(sums[2] / n)
            yield pd.DataFrame(out)

    return dec


# --- fused synth→decode pipelines -------------------------------------------
#
# Each *_decode_features query composes attach_X(df) |> decode_X, which as
# two mapInPandas stages pays the JVM↔Python boundary twice and ships every
# payload Python→JVM→Python just to hand it to the next Python function
# (optimization guide §4.1: control how many columns cross, and how often).
# On local[32] the unfused audio chain also forces a SECOND Python worker
# per core (measured: 36 → 64 workers on first run, ~3-7 s/run vs ~0.3 s of
# actual Python work). The fused pipelines compose the SAME hoisted batch
# transforms inside ONE mapInPandas stage — identical per-row Python code,
# identical results, one boundary crossing, and the payload bytes never
# leave the Python worker.


def _fuse(*stages):
    """Compose batch transforms (Iterator[pd.DataFrame] -> same) into one."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        it = batches
        for stage in stages:
            it = stage(it)
        yield from it

    return run


def audio_features_fused(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """decode_audio_features(attach_wav_payload(df)) in ONE Python stage."""
    return df.select(id_col).mapInPandas(
        _fuse(_wav_gen(id_col), _wav_dec()), AUDIO_FEATURE_SCHEMA
    )


def image_features_fused(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """decode_image_features(attach_bmp_payload(df)) in ONE Python stage."""
    return df.select(id_col).mapInPandas(
        _fuse(_bmp_gen(id_col), _bmp_dec()), IMAGE_FEATURE_SCHEMA
    )


def video_frames_fused(
    df: DataFrame, every_n: int = 2, id_col: str = "doc_id"
) -> DataFrame:
    """decode_video_frames(attach_avi_payload(df), every_n) in ONE stage."""
    return df.select(id_col).mapInPandas(
        _fuse(_avi_gen(id_col), _avi_dec(every_n)), VIDEO_FRAME_SCHEMA
    )


def png_features_fused(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """decode_png_features(attach_png_payload(df)) in ONE Python stage."""
    return df.select(id_col).mapInPandas(
        _fuse(_png_gen(id_col), _png_dec()), PNG_FEATURE_SCHEMA
    )


def warc_records_fused(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """decode_warc_records(attach_warc_payload(df)) in ONE Python stage."""
    return df.select(id_col, text_col).mapInPandas(
        _fuse(_warc_gen(text_col, id_col), _warc_dec()), WARC_RECORD_SCHEMA
    )


def gif_features_fused(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """decode_gif_features(attach_gif_payload(df)) in ONE Python stage."""
    return df.select(id_col).mapInPandas(
        _fuse(_gif_gen(id_col), _gif_dec()), GIF_FEATURE_SCHEMA
    )
