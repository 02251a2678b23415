"""Multimodal column plumbing: opaque binary payloads + typed metadata, with
decode / feature-extract / resize / frame-sample as Arrow-batched
`mapInPandas` stages.

Reference parity: the reference stores images as base64 strings in the same
row schema as text (`rag_search/vector_db.py:286,480`) and derives caption
columns from them via per-image model calls (F7/F8, `:547-596`). Here the
payload is a true `binary` column and every derivation is a columnar batch
UDF — the Spark-side contract (schema, batch shape, partitioning) is real
and tested. PNG and PCM-WAV payloads DECODE FOR REAL through the
zero-dependency stdlib codecs in ``functions/media.py`` (zlib scanline
PNG, wave-module WAV — round-tripped in tests/test_media.py); other
formats (JPEG, MP3, video) genuinely need external codecs absent from
this container and fall through to deterministic fakes / the documented
NotImplementedError plug-in lines.

Scale notes: binary payloads ride the same parquet row groups as their
metadata; `spark.sql.files.maxPartitionBytes` bounds task input so a task's
Arrow batches fit executor memory; decode stages are embarrassingly parallel
(no shuffle) and should run on the ingest pass, persisting derived features
so queries never re-decode.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.sqlexpr import ident

#: Metadata derived for any binary payload without decoding it.
BINARY_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("payload_sha256", T.StringType()),
        T.StructField("magic_hex", T.StringType()),
    ]
)

#: Schema a real image decoder would emit (width/height/channels/features).
IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def attach_binary_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Stand-in payload: utf-8 bytes of the text column as a `binary` column
    (the driver corpus has no real images). Real ingest replaces this with
    `spark.read.format('binaryFile')` content (see sources.binary_ingest)."""
    return df.select(
        F.col(id_col), F.encode(F.col(text_col), "utf-8").alias("payload")
    )


def binary_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Typed metadata over opaque bytes — JVM-side only (no decode):
    size, content hash, magic-number prefix."""
    return df.select(
        "doc_id",
        F.length(F.col(payload_col)).cast("bigint").alias("n_bytes"),
        F.sha2(F.col(payload_col), 256).alias("payload_sha256"),
        F.hex(F.substring(F.col(payload_col), 1, 4)).alias("magic_hex"),
    )


def decode_image_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    *,
    feature_dim: int = 8,
    deterministic_fake: bool = True,
) -> DataFrame:
    """Image decode + feature extraction as an Arrow-batched mapInPandas
    stage (the Spark shape of reference F3/F5/F7 image models,
    `rag_search/vector_db.py:473-527,547-563`).

    PNG payloads decode FOR REAL (stdlib codec, functions/media.py):
    true width/height/channels and per-channel mean/std features. Other
    magics: with ``deterministic_fake=True`` the stage emits
    deterministic pseudo-features derived from the payload bytes (the
    pipeline — batching, schema, partitioning — is fully exercised);
    with ``deterministic_fake=False`` it raises NotImplementedError
    exactly where a JPEG/etc. decoder plugs in.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import numpy as np

        from ..functions import media

        for pdf in batches:
            out = {
                "doc_id": pdf[id_col],
                "width": [],
                "height": [],
                "channels": [],
                "features": [],
            }
            for payload in pdf[payload_col]:
                b = bytes(payload)
                if media.is_png(b):
                    # REAL decode: stdlib-zlib PNG (functions/media.py).
                    # A corrupt container (bad IDAT, truncated chunks)
                    # must NOT kill the stage when the fake fallback is
                    # on — one bad payload in a 100 TB corpus is data,
                    # not an engine failure; strict mode re-raises.
                    try:
                        img = media.png_decode(b)
                    except Exception:
                        if not deterministic_fake:
                            raise
                        img = None
                    if img is not None:
                        h, w, c = img.shape
                        planes = (
                            img.reshape(-1, c).astype(np.float64) / 255.0
                        )
                        feats = []
                        for ch in range(c):
                            feats.append(float(planes[:, ch].mean()))
                            feats.append(float(planes[:, ch].std()))
                        feats = (feats + [0.0] * feature_dim)[:feature_dim]
                        out["width"].append(w)
                        out["height"].append(h)
                        out["channels"].append(c)
                        out["features"].append(
                            [round(f, 6) for f in feats]
                        )
                        continue
                if not deterministic_fake:
                    raise NotImplementedError(
                        "non-PNG image decode requires PIL/torchvision — "
                        "plug the decoder in here (PNG is handled by the "
                        "stdlib codec in functions/media.py)"
                    )
                digest = hashlib.sha256(b).digest()
                out["width"].append(64 + digest[0] % 192)
                out["height"].append(64 + digest[1] % 192)
                out["channels"].append(3)
                out["features"].append(
                    [float(digest[i] / 255.0) for i in range(feature_dim)]
                )
            yield pd.DataFrame(out)

    return df.select(id_col, payload_col).mapInPandas(decode, IMAGE_FEATURES_SCHEMA)


CAPTION_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("caption", T.StringType()),
    ]
)


def caption_images(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    *,
    deterministic_fake: bool = True,
) -> DataFrame:
    """Image → caption text derivation (reference F7 BLIP / F8 GPT-4o,
    `rag_search/vector_db.py:547-596`).

    DELIBERATE DIVERGENCE from the reference's retry semantics
    (`:312-340,394-414`: 3 attempts with a 1 s sleep, then the image row
    is kept with NO caption): here a failed caption lands in the
    quarantine column instead of being silently dropped, model-call
    retries belong INSIDE the UDF body (around the inference call), and
    Spark task retry is the outer layer — a sleep-loop per image in the
    driver thread does not survive contact with a 100 TB corpus.

    STUB: no vision model in this container. The fake caption is a
    deterministic function of the payload (size + content digest), so the
    derived-column dataflow — the same shape as real captioning, one
    batch-inference pass adding a text column that then flows into chunking
    /embedding like any text — is fully exercised and reproducible."""

    def caption(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            if not deterministic_fake:
                raise NotImplementedError(
                    "real captioning requires a vision model (BLIP/GPT-4o) — "
                    "plug the batch-inference call in here"
                )
            out = {"doc_id": pdf[id_col], "caption": []}
            for payload in pdf[payload_col]:
                b = bytes(payload)
                d = hashlib.sha256(b).hexdigest()
                out["caption"].append(
                    f"this image shows content {d[:8]} of {len(b)} bytes"
                )
            yield pd.DataFrame(out)

    return df.select(id_col, payload_col).mapInPandas(caption, CAPTION_SCHEMA)


def frame_sample_plan(
    df: DataFrame, payload_col: str = "payload", *, every_n: int = 10
) -> DataFrame:
    """Video frame-sampling *plumbing*: one output row per sampled frame
    index, payload untouched (decode stub as above). Demonstrates the
    explode-based row multiplication pattern a real frame sampler uses;
    frame count here is a deterministic function of payload size."""
    n_frames = (F.length(F.col(payload_col)) % 100 + 1).cast("int")
    return df.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))
        ).alias("frame_idx"),
    )


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("rms_energy", T.DoubleType()),
        T.StructField("n_windows", T.IntegerType()),
    ]
)


def decode_audio_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    *,
    window_ms: int = 1000,
    deterministic_fake: bool = True,
) -> DataFrame:
    """Audio decode + signal features as an Arrow-batched mapInPandas
    stage — the audio twin of `decode_image_features` (duration,
    RMS energy, analysis-window count; a real pipeline adds MFCC/log-mel
    features through the same slot and they flow to embedding like any
    vector column).

    PCM-WAV payloads decode FOR REAL (stdlib wave codec,
    functions/media.py): true sample rate, duration, channel-averaged
    RMS. Other magics: with ``deterministic_fake=True`` the payload
    bytes are treated as 8-bit PCM mono @ 16 kHz (every derived number
    an exact function of the bytes — plumbing fully exercised);
    ``deterministic_fake=False`` raises NotImplementedError exactly
    where an MP3/FLAC codec plugs in."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions import media

        rate = 16000
        for pdf in batches:
            out = {
                "doc_id": pdf[id_col],
                "sample_rate": [],
                "n_samples": [],
                "duration_ms": [],
                "rms_energy": [],
                "n_windows": [],
            }
            for payload in pdf[payload_col]:
                b = bytes(payload)
                if media.is_wav(b):
                    # REAL decode: stdlib-wave PCM (functions/media.py);
                    # non-PCM / truncated RIFF falls back to the fake
                    # (strict mode re-raises) — same corrupt-container
                    # policy as the PNG stage.
                    try:
                        samples, srate, _ch = media.wav_decode(b)
                    except Exception:
                        if not deterministic_fake:
                            raise
                        samples = None
                    if samples is not None:
                        mono = samples.astype(np.float64).mean(axis=1)
                        n = int(mono.size)
                        dur_ms = n * 1000 // srate
                        out["sample_rate"].append(srate)
                        out["n_samples"].append(n)
                        out["duration_ms"].append(dur_ms)
                        out["rms_energy"].append(
                            round(
                                float(np.sqrt((mono**2).mean()))
                                if n
                                else 0.0,
                                6,
                            )
                        )
                        out["n_windows"].append(
                            -(-max(dur_ms, 1) // window_ms)
                        )
                        continue
                if not deterministic_fake:
                    raise NotImplementedError(
                        "non-WAV audio decode requires soundfile/ffmpeg — "
                        "plug the codec in here (PCM WAV is handled by the "
                        "stdlib codec in functions/media.py)"
                    )
                pcm = np.frombuffer(b, dtype=np.uint8)
                centered = pcm.astype(np.float64) - 128.0
                n = int(pcm.size)
                dur_ms = n * 1000 // rate
                out["sample_rate"].append(rate)
                out["n_samples"].append(n)
                out["duration_ms"].append(dur_ms)
                out["rms_energy"].append(
                    round(float(np.sqrt((centered**2).mean())) if n else 0.0, 6)
                )
                out["n_windows"].append(-(-max(dur_ms, 1) // window_ms))
            yield pd.DataFrame(out)

    return df.select(id_col, payload_col).mapInPandas(
        decode, AUDIO_FEATURES_SCHEMA
    )


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("target_w", T.IntegerType()),
        T.StructField("target_h", T.IntegerType()),
        T.StructField("resized_bytes", T.LongType()),
        T.StructField("resized_sha", T.StringType()),
    ]
)


def resize_images(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    *,
    target: tuple[int, int] = (224, 224),
    deterministic_fake: bool = True,
) -> DataFrame:
    """Image resize as an Arrow-batched mapInPandas stage — the
    preprocessing step every vision model ingest needs (the reference
    resizes implicitly inside its CLIP processors,
    `rag_search/vector_db.py:480,517`; at pipeline scale it is its own
    stage so the expensive decode+resample runs once, not per model).

    PNG payloads resample FOR REAL: stdlib decode → nearest-neighbor
    (the deterministic kernel) → stdlib re-encode; `resized_bytes`/
    `resized_sha` describe the actual artifact. Other magics keep the
    prior contract: ``deterministic_fake=True`` emits deterministic
    synthetic metadata (batching/schema/partitioning exercised),
    ``deterministic_fake=False`` raises NotImplementedError at the exact
    line PIL's ``Image.resize`` plugs in.
    """
    tw, th = target

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import struct

        from ..functions import media

        for pdf in batches:
            out = {
                "doc_id": pdf[id_col],
                "target_w": [],
                "target_h": [],
                "resized_bytes": [],
                "resized_sha": [],
            }
            for payload in pdf[payload_col]:
                b = bytes(payload)
                if media.is_png(b):
                    # REAL resample: decode → nearest-neighbor → re-encode
                    # (functions/media.py; nearest is the deterministic
                    # kernel). Corrupt containers fall back to the fake
                    # (strict mode re-raises) — same policy as decode.
                    try:
                        resized = media.png_encode(
                            media.resize_nearest(
                                media.png_decode(b), tw, th
                            )
                        )
                    except Exception:
                        if not deterministic_fake:
                            raise
                        resized = None
                    if resized is not None:
                        out["target_w"].append(tw)
                        out["target_h"].append(th)
                        out["resized_bytes"].append(len(resized))
                        out["resized_sha"].append(
                            hashlib.sha256(resized).hexdigest()
                        )
                        continue
                if not deterministic_fake:
                    raise NotImplementedError(
                        "non-PNG resize requires PIL — plug Image.open(...)"
                        ".resize((tw, th)) in here (PNG is handled by the "
                        "stdlib codec in functions/media.py)"
                    )
                # full 32-bit dims in the digest: a modulo-256 fold would
                # collide targets 256px apart, e.g. (224,224) vs (480,224)
                digest = hashlib.sha256(b + struct.pack(">II", tw, th))
                out["target_w"].append(tw)
                out["target_h"].append(th)
                # synthetic size model: 3 bytes/px before entropy coding
                out["resized_bytes"].append(tw * th * 3)
                out["resized_sha"].append(digest.hexdigest())
            yield pd.DataFrame(out)

    return df.select(id_col, payload_col).mapInPandas(resize, RESIZE_SCHEMA)


def synthesize_png_payloads(
    df: DataFrame, id_col: str = "doc_id", *, max_side: int = 24
) -> DataFrame:
    """Deterministic REAL-PNG payload column: every row gets a small RGB
    image seeded by its id, encoded with the stdlib codec
    (functions/media.py). This is the fixture generator for the real
    decode path — the corpus has no image files, so the engine
    manufactures valid PNGs in-executor (Arrow-batched, no driver
    involvement) and the decode stages then run their REAL branches
    end-to-end. Dims derive from the id (4..max_side px per side), so
    downstream width/height assertions are value-checkable."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions import media

        for pdf in batches:
            payloads = []
            for i in pdf[id_col]:
                seed = int(i)
                w = 4 + seed % (max_side - 3)
                h = 4 + (seed // 7) % (max_side - 3)
                img = np.random.default_rng(seed).integers(
                    0, 256, size=(h, w, 3), dtype=np.uint8
                )
                payloads.append(media.png_encode(img))
            yield pd.DataFrame({id_col: pdf[id_col], "payload": payloads})

    return df.select(id_col).mapInPandas(
        synth,
        T.StructType(
            [
                T.StructField(id_col, T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )


def synthesize_wav_payloads(
    df: DataFrame, id_col: str = "doc_id", *, rate: int = 8000
) -> DataFrame:
    """Deterministic REAL-WAV payload column — the audio twin of
    `synthesize_png_payloads`: every row gets a short int16 PCM sine
    tone (frequency and duration seeded by the id) encoded with the
    stdlib wave codec in-executor, so `decode_audio_features` runs its
    REAL branch end-to-end with value-checkable rate/duration/RMS."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions import media

        for pdf in batches:
            payloads = []
            for i in pdf[id_col]:
                seed = int(i)
                n = rate // 10 + (seed % 5) * rate // 100  # 100-140 ms
                freq = 200 + (seed % 20) * 25
                amp = 8000 + (seed % 4) * 1000
                t = np.arange(n, dtype=np.float64)
                sam = np.round(
                    amp * np.sin(2 * np.pi * freq * t / rate)
                ).astype(np.int16)
                payloads.append(media.wav_encode(sam, rate=rate))
            yield pd.DataFrame({id_col: pdf[id_col], "payload": payloads})

    return df.select(id_col).mapInPandas(
        synth,
        T.StructType(
            [
                T.StructField(id_col, T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )


def synthesize_png_variant_payloads(
    df: DataFrame,
    id_col: str = "doc_id",
    *,
    n_clusters: int = 32,
    side: int = 16,
) -> DataFrame:
    """Deterministic REAL-PNG payloads WITH true near-duplicate
    structure — the fixture generator for the image-dedup path (the
    plain `synthesize_png_payloads` gives every id an independent
    image, so there is nothing to deduplicate): ids in the same
    residue class mod `n_clusters` share a base image; generation 0
    (id < n_clusters) IS the base, and every later generation perturbs
    1-3 pixels (seeded by the id), the synthetic stand-in for
    re-encodes/crops/watermarks of the same asset a crawl collects.
    Pure function of the id, Arrow-batched, stdlib codec — same
    contract as synthesize_png_payloads."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions import media

        for pdf in batches:
            payloads = []
            for i in pdf[id_col]:
                seed = int(i)
                img = np.random.default_rng(seed % n_clusters).integers(
                    0, 256, size=(side, side, 3), dtype=np.uint8
                )
                gen = seed // n_clusters
                if gen > 0:
                    rng = np.random.default_rng(seed)
                    img = img.copy()
                    for _ in range(1 + gen % 3):
                        y = int(rng.integers(0, side))
                        x = int(rng.integers(0, side))
                        img[y, x, :] = rng.integers(
                            0, 256, size=3, dtype=np.uint8
                        )
                payloads.append(media.png_encode(img))
            yield pd.DataFrame({id_col: pdf[id_col], "payload": payloads})

    return df.select(id_col).mapInPandas(
        synth,
        T.StructType(
            [
                T.StructField(id_col, T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )


def image_ahash(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    *,
    grid: int = 8,
) -> DataFrame:
    """Perceptual average-hash (aHash) over REAL-decoded PNG payloads:
    grayscale (channel mean) → nearest-neighbor resample to
    grid×grid (the deterministic resampler, functions/media.py) →
    threshold each cell at the image mean → pack grid² bits LSB-first
    into ONE signed bigint. The standard cheap perceptual fingerprint
    (aHash as popularized by the pHash family of tools): re-encodes
    and small edits move few bits, distinct images ~grid²/2.

    Arrow-batched mapInPandas; integers end to end after the decode,
    so the hash — and every banding/hamming decision downstream —
    replays exactly from a pinned literal table (the
    oracles.media_literals contract)."""

    def hash_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        from ..functions import media

        for pdf in batches:
            hashes = [
                _ahash_int(media.png_decode(bytes(payload)), grid)
                for payload in pdf[payload_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col], "ahash": hashes})

    return df.select(id_col, payload_col).mapInPandas(
        hash_batches,
        T.StructType(
            [
                T.StructField(id_col, T.LongType()),
                T.StructField("ahash", T.LongType()),
            ]
        ),
    )


def image_near_dups(
    hash_df: DataFrame,
    *,
    max_hamming: int = 7,
    id_col: str = "doc_id",
    hash_col: str = "ahash",
) -> DataFrame:
    """Banded hamming self-join over perceptual hashes: split the
    64-bit hash into 8 8-bit bands, candidates = pairs agreeing on ANY
    band (equi-join on (band_ix, band_key) — never a cartesian),
    verify with bit_count(xor). With 8 bands a pair within
    `max_hamming` <= 7 differing bits cannot disagree in every band
    (pigeonhole), so banded recall is EXACT for the default threshold
    — same guarantee structure as the simhash banding.

    Scale shape: an 8× fan-out of (id, hash) rows, one hash-keyed
    shuffle for the band join, distinct on the candidate pair, then a
    row-local popcount verify. Shift+mask band extraction is identical
    under arithmetic or logical shift (the mask keeps only in-range
    bits), so the oracle replays it verbatim."""
    bands = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("band_ix"),
                    F.expr(f"({ident(hash_col)} >> {8 * i}) & 255").alias(
                        "band_key"
                    ),
                )
                for i in range(8)
            ]
        )
    ).alias("b")
    banded = hash_df.select(
        F.col(id_col), F.col(hash_col), bands
    ).select(
        id_col, hash_col, F.col("b.band_ix"), F.col("b.band_key")
    )
    a = banded.select(
        F.col(id_col).alias("id_a"),
        F.col(hash_col).alias("h_a"),
        "band_ix",
        "band_key",
    )
    b = banded.select(
        F.col(id_col).alias("id_b"),
        F.col(hash_col).alias("h_b"),
        "band_ix",
        "band_key",
    )
    cand = (
        a.join(b, ["band_ix", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
            .cast("bigint")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


#: image_near_dups is hash-agnostic (any 64-bit signed fingerprint);
#: the audio path uses it under its generic name.
hamming_near_dups = image_near_dups


def video_scene_cuts(
    framehash_df: DataFrame,
    *,
    max_hamming: int = 7,
    id_col: str = "doc_id",
) -> DataFrame:
    """Scene-cut detection from per-frame perceptual hashes — the
    standard shot-boundary reduction (consecutive-frame dissimilarity
    thresholding) on the aHash grid: a frame opens a new scene when its
    hamming distance to the PREVIOUS frame exceeds `max_hamming`
    (within-scene frames are re-encodes/minor perturbations; replaced
    frames flip many bits). Per clip: frame count, cut count, scene
    count (cuts + 1), and the longest scene's frame length — the
    statistics a frame-SAMPLING stage reads (sample per scene, not per
    clip, so long static scenes don't dominate).

    Integer-exact end to end (bit_count of xor, integer thresholds);
    both windows partition by the clip id — never SinglePartition.
    Composes video_framehash, so the whole trajectory replays in
    DuckDB around the pinned frame-hash literals."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("frame_ix")
    flags = framehash_df.withColumn(
        "_prev", F.lag("fhash").over(w)
    ).withColumn(
        "is_cut",
        F.when(F.col("_prev").isNull(), F.lit(0))
        .when(
            F.bit_count(F.col("fhash").bitwiseXOR(F.col("_prev")))
            > max_hamming,
            F.lit(1),
        )
        .otherwise(F.lit(0)),
    )
    scenes = flags.withColumn(
        "scene_id",
        F.sum("is_cut").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_scene = scenes.groupBy(id_col, "scene_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("_len")
    )
    agg = scenes.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.sum("is_cut").cast("bigint").alias("n_cuts"),
    )
    longest = per_scene.groupBy(id_col).agg(
        F.max("_len").cast("bigint").alias("longest_scene")
    )
    return agg.join(longest, id_col).select(
        id_col,
        "n_frames",
        "n_cuts",
        (F.col("n_cuts") + 1).cast("bigint").alias("n_scenes"),
        "longest_scene",
    )


def synthesize_wav_variant_payloads(
    df: DataFrame,
    id_col: str = "doc_id",
    *,
    n_clusters: int = 16,
    rate: int = 8000,
    n_segments: int = 64,
) -> DataFrame:
    """Deterministic REAL-WAV payloads WITH true near-duplicate
    structure — the audio twin of `synthesize_png_variant_payloads`:
    ids in the same residue class mod `n_clusters` share an
    amplitude-modulation envelope (the per-segment pattern that an
    energy fingerprint keys on — a bare sine would have a FLAT
    envelope and nothing to fingerprint); generation 0 is the base,
    later generations perturb 1-3 segment amplitudes (seeded by the
    id) — the stand-in for re-encodes/level-shifts of the same clip.
    Pure function of the id, stdlib wave codec, Arrow-batched."""
    seg_len = rate // n_segments

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions import media

        for pdf in batches:
            payloads = []
            for i in pdf[id_col]:
                seed = int(i)
                amps = np.random.default_rng(seed % n_clusters).uniform(
                    0.15, 1.0, size=n_segments
                )
                gen = seed // n_clusters
                if gen > 0:
                    rng = np.random.default_rng(seed)
                    amps = amps.copy()
                    for _ in range(1 + gen % 3):
                        amps[int(rng.integers(0, n_segments))] = (
                            rng.uniform(0.15, 1.0)
                        )
                env = np.repeat(amps, seg_len)
                t = np.arange(env.size, dtype=np.float64)
                sam = np.round(
                    24000.0 * env * np.sin(2 * np.pi * 440.0 * t / rate)
                ).astype(np.int16)
                payloads.append(media.wav_encode(sam, rate=rate))
            yield pd.DataFrame({id_col: pdf[id_col], "payload": payloads})

    return df.select(id_col).mapInPandas(
        synth,
        T.StructType(
            [
                T.StructField(id_col, T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )


def audio_fingerprint(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    *,
    n_segments: int = 64,
) -> DataFrame:
    """Energy-envelope audio fingerprint over REAL-decoded WAV
    payloads: split the clip into `n_segments` equal windows, INTEGER
    energy (sum of squared samples) per window, bit i = window i's
    energy above the clip's median energy — one signed bigint per clip
    (the banded-hamming-ready shape of the landmark fingerprints in
    Wang 2003's Shazam paper, reduced to the energy envelope: level
    shifts and small edits move few bits, different clips
    ~n_segments/2). INTEGER arithmetic end to end, like _ahash_int:
    equal window lengths make the energy ordering identical to the RMS
    ordering, and the median threshold compares ``2·e_i > e_lo + e_hi``
    on the two middle order statistics in exact int — so the hash can
    never flip on a float-rounding tie at the median boundary (the
    hazard class the aHash integer fix closed; r8 advice). Still
    exactly invariant under a uniform gain: scaling every sample by g
    scales every energy by g², preserving the strict inequality.
    Arrow-batched mapInPandas; the hash is a pure function of the
    payload, so the fixture table pins as literals
    (oracles.media_literals contract)."""

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions import media

        for pdf in batches:
            hashes = []
            for payload in pdf[payload_col]:
                sam, _rate, _ch = media.wav_decode(bytes(payload))
                x = sam.astype(np.int64)
                n = (x.size // n_segments) * n_segments
                segs = x[:n].reshape(n_segments, -1)
                energy = [int(v) for v in (segs * segs).sum(axis=1)]
                srt = sorted(energy)
                lo = srt[(n_segments - 1) // 2]
                hi = srt[n_segments // 2]
                h = 0
                for ix, e in enumerate(energy):
                    if 2 * e > lo + hi:
                        h |= 1 << ix
                if h >= 1 << 63:
                    h -= 1 << 64
                hashes.append(h)
            yield pd.DataFrame({id_col: pdf[id_col], "afp": hashes})

    return df.select(id_col, payload_col).mapInPandas(
        fp,
        T.StructType(
            [
                T.StructField(id_col, T.LongType()),
                T.StructField("afp", T.LongType()),
            ]
        ),
    )


def _ahash_int(img, grid: int = 8) -> int:
    """Signed-bigint average-hash of one decoded RGB frame — the ONE
    definition shared by image_ahash and video_framehash (channel-sum
    grayscale → nearest resample → threshold at the cell mean → pack
    LSB-first, two's complement). INTEGER arithmetic end to end: the
    gray value is the channel SUM (a monotone transform of the mean —
    no /3), and the threshold compares ``cell·grid² > Σcells`` instead
    of ``cell > mean`` — so the hash is exactly invariant under a
    uniform brightness shift and can never flip on a float-rounding
    tie (a hypothesis run caught the float form differing by 1 ulp at
    the mean boundary after a +40 shift)."""
    import numpy as np

    from ..functions import media

    gray = img.astype(np.int64).sum(axis=2)
    small = media.resize_nearest(gray, grid, grid).reshape(-1)
    total = int(small.sum())
    n = grid * grid
    h = 0
    for ix, cell in enumerate(small.tolist()):
        if cell * n > total:
            h |= 1 << ix
    if h >= 1 << 63:
        h -= 1 << 64
    return h


#: Minimal deterministic multi-frame container: magic, frame count,
#: then length-prefixed REAL PNG frames. A production pipeline swaps
#: this parser for an actual video demuxer at the same seam — the
#: Spark-side plumbing (binary column → per-frame rows → per-frame
#: decode) is what the engine owns.
_VID_MAGIC = b"VID0"


def synthesize_video_variant_payloads(
    df: DataFrame,
    id_col: str = "doc_id",
    *,
    n_clusters: int = 16,
    n_frames: int = 6,
    side: int = 12,
) -> DataFrame:
    """Deterministic multi-frame payloads WITH true near-duplicate
    structure — the video leg of the variant-fixture family: ids in
    the same residue class mod `n_clusters` share all base frames
    (each frame seeded by cluster and frame index); generation 0 IS
    the base clip, later generations REPLACE gen%3 frames outright (a
    different scene — the inserted ad/intro case) and perturb 1-3
    pixels in 1-2 of the surviving frames (seeded by the id) — so
    aligned-frame agreement varies and the clip-level frame vote has
    something to decide. Frames are REAL PNGs in the `_VID_MAGIC`
    length-prefixed container."""
    import struct as _struct

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions import media

        for pdf in batches:
            payloads = []
            for i in pdf[id_col]:
                seed = int(i)
                cluster = seed % n_clusters
                gen = seed // n_clusters
                rng = np.random.default_rng(seed)
                replaced: set[int] = set()
                touched: set[int] = set()
                if gen > 0:
                    replaced = {
                        int(x)
                        for x in rng.integers(0, n_frames, size=gen % 3)
                    }
                    touched = {
                        int(x)
                        for x in rng.integers(
                            0, n_frames, size=1 + gen % 2
                        )
                    } - replaced
                frames = []
                for f in range(n_frames):
                    if f in replaced:
                        img = np.random.default_rng(seed * 7919 + f).integers(
                            0, 256, size=(side, side, 3), dtype=np.uint8
                        )
                    else:
                        img = np.random.default_rng(
                            cluster * 1000 + f
                        ).integers(
                            0, 256, size=(side, side, 3), dtype=np.uint8
                        )
                        if f in touched:
                            img = img.copy()
                            for _ in range(1 + gen % 3):
                                y = int(rng.integers(0, side))
                                x = int(rng.integers(0, side))
                                img[y, x, :] = rng.integers(
                                    0, 256, size=3, dtype=np.uint8
                                )
                    frames.append(media.png_encode(img))
                blob = _VID_MAGIC + _struct.pack(">I", n_frames)
                for fr in frames:
                    blob += _struct.pack(">I", len(fr)) + fr
                payloads.append(blob)
            yield pd.DataFrame({id_col: pdf[id_col], "payload": payloads})

    return df.select(id_col).mapInPandas(
        synth,
        T.StructType(
            [
                T.StructField(id_col, T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )


def video_framehash(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    *,
    grid: int = 8,
) -> DataFrame:
    """Per-frame perceptual hashes of a multi-frame payload: demux the
    container, REAL-decode each PNG frame, aHash each (the shared
    `_ahash_int`) — one (id, frame_ix, fhash) row per frame, the
    temporally-aligned shape video near-dup keys on. Arrow-batched;
    output rows per input row = frame count (bounded by the
    container, not the corpus)."""
    import struct as _struct

    def fh(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions import media

        for pdf in batches:
            ids, ixs, hs = [], [], []
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload)
                if b[:4] != _VID_MAGIC:
                    # never assert here: under python -O the check
                    # would vanish and a corrupt payload silently
                    # misparses; a ValueError names the offending doc
                    raise ValueError(
                        f"doc_id={int(i)}: payload is not a VID0 "
                        f"container (magic={b[:4]!r})"
                    )
                (nf,) = _struct.unpack(">I", b[4:8])
                off = 8
                for f in range(nf):
                    (ln,) = _struct.unpack(">I", b[off : off + 4])
                    off += 4
                    img = media.png_decode(b[off : off + ln])
                    off += ln
                    ids.append(int(i))
                    ixs.append(f)
                    hs.append(_ahash_int(img, grid))
            yield pd.DataFrame(
                {id_col: ids, "frame_ix": ixs, "fhash": hs}
            )

    return df.select(id_col, payload_col).mapInPandas(
        fh,
        T.StructType(
            [
                T.StructField(id_col, T.LongType()),
                T.StructField("frame_ix", T.IntegerType()),
                T.StructField("fhash", T.LongType()),
            ]
        ),
    )


def video_near_dups(
    framehash_df: DataFrame,
    *,
    max_hamming: int = 7,
    min_close_frames: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Clip-level near-dup over temporally-aligned frame hashes: frame
    pairs band-join WITHIN the same frame_ix (8 8-bit bands — banded
    recall exact at max_hamming <= 7, pigeonhole), verify popcount,
    then clips pair when at least `min_close_frames` aligned frames
    are within `max_hamming` — the frame-voting clip matcher (the
    aHash-per-frame reduction of standard video copy detection). One
    hash-keyed shuffle for the band join, one (id_a, id_b) agg."""
    bands = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("band_ix"),
                    F.expr(f"(fhash >> {8 * i}) & 255").alias("band_key"),
                )
                for i in range(8)
            ]
        )
    ).alias("b")
    banded = framehash_df.select(
        F.col(id_col), "frame_ix", "fhash", bands
    ).select(
        id_col, "frame_ix", "fhash", F.col("b.band_ix"), F.col("b.band_key")
    )
    a = banded.select(
        F.col(id_col).alias("id_a"),
        F.col("fhash").alias("h_a"),
        "frame_ix",
        "band_ix",
        "band_key",
    )
    b = banded.select(
        F.col(id_col).alias("id_b"),
        F.col("fhash").alias("h_b"),
        "frame_ix",
        "band_ix",
        "band_key",
    )
    close = (
        a.join(b, ["frame_ix", "band_ix", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "frame_ix", "h_a", "h_b")
        .distinct()
        .select(
            "id_a",
            "id_b",
            "frame_ix",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
            .cast("bigint")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
    return (
        close.groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_close_frames"),
            F.max("hamming").cast("bigint").alias("max_frame_hamming"),
        )
        .where(F.col("n_close_frames") >= min_close_frames)
    )
