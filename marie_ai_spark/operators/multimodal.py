"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Media payloads are `binary` columns with a typed metadata struct; decode /
feature-extract / resize / frame-sample run as Arrow-batched `mapInPandas`
stages. The decode step is REAL for PNG / JPEG / GIF / WAV / MP4 via the
dependency-free container readers in ref_ops/media.py (PNG additionally
gets a full pixel decode for 8-bit grayscale filter-0 images, WAV a real
PCM16 amplitude mean, MP4 an ISO BMFF box walk for brand / timescale /
duration / track dimensions); gen_media emits spec-valid bytes for every
format. The only remaining seam is per-frame / entropy pixel decode,
which needs a real codec library: unknown containers raise
NotImplementedError (captured per-asset as ok=false) — swapping in
PIL/pyav is a one-function change.

The dataflow mirrors the reference's GPU stages (SURVEY.md §2.8): batched,
stateless maps over assets, one Arrow batch at a time.
"""

from __future__ import annotations

import hashlib
import struct as _struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "asset_id string, kind string, payload binary, "
    "meta struct<width:int,height:int,sample_rate:int,n_frames:int,mime:string>"
)

_MAGIC = b"FAKEMEDIA1"


def _pixels(asset_id: str, n: int) -> bytes:
    """Deterministic pseudo-image content: md5 keystream over the id."""
    out = b""
    ctr = 0
    while len(out) < n:
        out += hashlib.md5(f"{asset_id}:{ctr}".encode()).digest()
        ctr += 1
    return out[:n]


def gen_media_rows(n_assets: int = 100, seed: int = 42) -> list:
    """Deterministic synthetic media rows with REAL container bytes:
    images cycle valid PNG (full pixel payload) / JPEG (SOF header
    stream) / GIF (89a descriptor); audio is complete mono PCM16 WAV;
    video is an ISO BMFF container with real sample tables.
    Pure python (no Spark) so fixture oracles can re-derive independently."""
    from marie_ai_spark.ref_ops import media as m

    rows = []
    kinds = ["image", "audio", "video"]
    img_fmt = ["png", "jpeg", "gif"]
    for i in range(n_assets):
        kind = kinds[i % 3]
        aid = f"asset-{seed}-{i:06d}"
        w, h = 64 + (i % 8) * 32, 64 + (i % 5) * 32
        frames = 1 if kind == "image" else 16 + i % 32
        if kind == "image":
            fmt = img_fmt[(i // 3) % 3]
            if fmt == "png":
                payload = m.png_bytes(w, h, _pixels(aid, w * h))
            elif fmt == "jpeg":
                # real entropy-coded baseline grayscale scan; encoded at
                # quarter scale to keep the pure-python FDCT cheap (the
                # decode path is identical at any size)
                w, h = w // 4, h // 4
                payload = m.jpeg_bytes(w, h, _pixels(aid, w * h))
            else:
                payload = m.gif_bytes(w, h)
            mime = f"image/{fmt}"
        elif kind == "audio":
            raw = _pixels(aid, frames * 64 * 2)
            samples = [
                int.from_bytes(raw[j : j + 2], "little", signed=True)
                for j in range(0, len(raw), 2)
            ]
            payload = m.wav_bytes(16000, samples)
            mime = "audio/wav"
        else:
            # real ISO BMFF file: ftyp+moov(mvhd+tkhd+mdia>stbl) + mdat —
            # one duration unit per frame so mvhd duration == frame count,
            # plus REAL stsz/stco sample tables over 64-byte deterministic
            # frame payloads in mdat (per-frame extraction reads these).
            # Only real-codec bitstream decode (h264 etc.) stays external.
            fr = [
                _pixels(f"{aid}:frame:{k}", 64) for k in range(frames)
            ]
            payload = m.mp4_bytes(w, h, frames, frames=fr)
            mime = "video/mp4"
        rows.append(
            (
                aid,
                kind,
                payload,
                {
                    "width": w if kind != "audio" else 0,
                    "height": h if kind != "audio" else 0,
                    "sample_rate": 16000 if kind == "audio" else 0,
                    "n_frames": frames,
                    "mime": mime,
                },
            )
        )
    return rows


def gen_media(spark, n_assets: int = 100, seed: int = 42) -> DataFrame:
    return spark.createDataFrame(gen_media_rows(n_assets, seed), MEDIA_SCHEMA)


def _decode_one(payload) -> dict:
    """Real dependency-free decode for PNG/JPEG/GIF/WAV (ref_ops/media.py);
    the FAKEMEDIA1 synthetic header covers the remaining video seam. Other
    payloads → NotImplementedError (the marked hook for a real codec lib)."""
    from marie_ai_spark.ref_ops import media as m

    b = bytes(payload) if payload is not None else b""
    fmt = m.sniff_format(b)
    if fmt == "png":
        r = m.parse_png(b)
        return {"format": "png", "width": r["width"], "height": r["height"],
                "n_frames": 1, "sample_rate": 0, "mean_value": r["mean_pixel"]}
    if fmt == "jpeg":
        r = m.parse_jpeg(b)
        # mean_pixel is the REAL decoded-scan statistic for baseline
        # grayscale streams (Huffman + dequant + IDCT); 0.0 for the
        # progressive/multi-component seam
        return {"format": "jpeg", "width": r["width"], "height": r["height"],
                "n_frames": 1, "sample_rate": 0,
                "mean_value": r["mean_pixel"]}
    if fmt == "gif":
        r = m.parse_gif(b)
        return {"format": "gif", "width": r["width"], "height": r["height"],
                "n_frames": 1, "sample_rate": 0, "mean_value": 0.0}
    if fmt == "wav":
        r = m.parse_wav(b)
        return {"format": "wav", "width": 0, "height": 0,
                "n_frames": r["n_samples"], "sample_rate": r["sample_rate"],
                "mean_value": r["mean_amplitude"]}
    if fmt == "mp4":
        r = m.parse_mp4(b)
        # frame count from the REAL sample table when present (stsz),
        # falling back to mvhd duration (1 unit/frame in this corpus);
        # mean_value = mean byte over the mdat frame payloads. Real-codec
        # bitstream decode (h264 etc.) remains the external seam.
        n = r["n_samples"] if r["n_samples"] else r["duration"]
        mean = 0.0
        if r["n_samples"]:
            total = sz = 0
            off = r["chunk_offset"]
            for s in r["sample_sizes"]:
                total += sum(b[off : off + s])
                sz += s
                off += s
            mean = total / (sz * 255.0) if sz else 0.0
        return {"format": "mp4", "width": r["width"], "height": r["height"],
                "n_frames": n, "sample_rate": 0, "mean_value": mean}
    if b.startswith(_MAGIC):
        off = len(_MAGIC)
        width, height, n_frames = _struct.unpack("<III", b[off : off + 12])
        digest = hashlib.md5(b[off + 12 :]).digest()
        return {"format": "fake", "width": width, "height": height,
                "n_frames": n_frames, "sample_rate": 0,
                "mean_value": digest[0] / 255.0}
    raise NotImplementedError(
        "unsupported container: a real video/image codec library (PIL/pyav) "
        "is required for this payload and is not available here"
    )


DECODED_SCHEMA = (
    "asset_id string, kind string, format string, width int, height int, "
    "n_frames int, sample_rate int, mean_value double, ok boolean"
)


def decode_media(media: DataFrame) -> DataFrame:
    """Arrow-batched decode stage: per asset, real container header fields
    + a content statistic (true pixel mean for PNG, true |amplitude| mean
    for WAV). Errors per asset are captured, not thrown (ok=false)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"asset_id": [], "kind": [], "format": [], "width": [],
                   "height": [], "n_frames": [], "sample_rate": [],
                   "mean_value": [], "ok": []}
            for aid, kind, payload in zip(
                pdf["asset_id"], pdf["kind"], pdf["payload"]
            ):
                try:
                    d = _decode_one(payload)
                    ok = True
                # real-world media is hostile: truncated/corrupt payloads
                # surface as struct.error / zlib.error / IndexError /
                # KeyError from the container parsers, and an unsupported
                # codec as NotImplementedError — ALL must degrade to
                # ok=false per asset, never fail the whole Spark stage
                except Exception:
                    d = {"format": None, "width": 0, "height": 0,
                         "n_frames": 0, "sample_rate": 0, "mean_value": 0.0}
                    ok = False
                out["asset_id"].append(aid)
                out["kind"].append(kind)
                out["format"].append(d["format"])
                out["width"].append(d["width"])
                out["height"].append(d["height"])
                out["n_frames"].append(d["n_frames"])
                out["sample_rate"].append(d["sample_rate"])
                out["mean_value"].append(round(d["mean_value"], 6))
                out["ok"].append(ok)
            res = pd.DataFrame(out)
            for c in ("width", "height", "n_frames", "sample_rate"):
                res[c] = res[c].astype("int32")
            yield res

    return media.select("asset_id", "kind", "payload").mapInPandas(
        fn, schema=DECODED_SCHEMA
    )


EMBED_DIM = 16


def media_embeddings(media: DataFrame) -> DataFrame:
    """Feature-extraction stage: deterministic pseudo-embedding per asset
    (md5-expanded payload bytes -> EMBED_DIM floats in [-1, 1)). The real
    model call replaces only the inner loop; the Arrow batch shape and the
    array<float> output column are the production contract."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            embs = []
            for payload in pdf["payload"]:
                b = bytes(payload) if payload is not None else b""
                vec = []
                for i in range(EMBED_DIM):
                    h = hashlib.md5(b + bytes([i])).digest()
                    vec.append(
                        round(int.from_bytes(h[:4], "big") / (1 << 31) - 1.0, 6)
                    )
                embs.append(vec)
            yield pd.DataFrame(
                {"asset_id": pdf["asset_id"].values, "embedding": embs}
            )

    return media.select("asset_id", "payload").mapInPandas(
        fn, schema="asset_id string, embedding array<float>"
    )


FRAME_SCHEMA = (
    "asset_id string, frame_idx int, frame_size int, mean_byte double, "
    "frame_crc bigint"
)


def extract_frames(media: DataFrame) -> DataFrame:
    """REAL per-frame extraction for video assets: an Arrow-batched map
    that reads the ISO BMFF sample tables (stsz sizes + stco offset) and
    slices each frame payload out of mdat, emitting per-frame stats
    (size, mean byte, crc32). The h264-style bitstream decode of real
    codecs would replace only the per-frame stat computation; the sample
    table walk and the (asset_id, frame_idx) fan-out shape are the
    production contract. Reference analog: the frame-sampling GPU stage
    (SURVEY.md §2.8; DCTDecode seam marie/utils/docs.py:53-75)."""
    import zlib

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from marie_ai_spark.ref_ops import media as m

        for pdf in batches:
            out = {"asset_id": [], "frame_idx": [], "frame_size": [],
                   "mean_byte": [], "frame_crc": []}
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                try:
                    frames = m.mp4_frames(b)
                except Exception:
                    continue  # non-BMFF payloads contribute no frames
                for idx, fb in enumerate(frames):
                    out["asset_id"].append(aid)
                    out["frame_idx"].append(idx)
                    out["frame_size"].append(len(fb))
                    out["mean_byte"].append(
                        round(sum(fb) / (len(fb) * 255.0), 6) if fb else 0.0
                    )
                    out["frame_crc"].append(zlib.crc32(fb))
            res = pd.DataFrame(out)
            res["frame_idx"] = res["frame_idx"].astype("int32")
            res["frame_size"] = res["frame_size"].astype("int32")
            res["frame_crc"] = res["frame_crc"].astype("int64")
            yield res

    return media.filter(F.col("kind") == "video").select(
        "asset_id", "payload"
    ).mapInPandas(fn, schema=FRAME_SCHEMA)


def sample_frames(media: DataFrame, every_k: int = 8) -> DataFrame:
    """Frame sampling for video assets: JVM-side index fan-out (sequence +
    posexplode) — the per-frame decode would consume (asset_id, frame_idx)
    downstream; no Python needed to plan the sampling."""
    video = media.filter(F.col("kind") == "video")
    idxs = F.sequence(
        F.lit(0), F.col("meta.n_frames") - 1, F.lit(every_k)
    )
    return video.select(
        "asset_id",
        F.col("meta.n_frames").alias("n_frames"),
        F.posexplode(idxs).alias("sample_pos", "frame_idx"),
    )
