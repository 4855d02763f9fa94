"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct; the
Spark-side plumbing (schema, partition sizing, Arrow batch shape, UDF
signatures) is real and tested. Decoding is real too:
``real_decode=True`` routes through functions/mediacodec.py — PIL when
importable, a pure-stdlib PNG codec otherwise — so PNG images decode in
every environment; non-PNG formats without PIL
raise a clear error naming the optional dependency. The default fake path
remains for deterministic oracle-compared features over arbitrary bytes.

Scale notes: binary payloads dominate row size, so the operators (a) never
shuffle payload bytes — features are extracted in a narrow mapInPandas pass
directly over the scan, then the payload is dropped before any wide
operation; (b) cap Arrow batch memory with
``spark.sql.execution.arrow.maxRecordsPerBatch`` rather than row counts.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_METADATA = T.StructType(
    [
        T.StructField("media_type", T.StringType(), True),  # image|audio|video
        T.StructField("format", T.StringType(), True),  # png|jpeg|wav|...
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

FEATURE_DIM = 8


def decode_image_stub(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    real_decode: bool = False,
) -> DataFrame:
    """mapInPandas feature extraction with the real operator's contract:
    input batches carry (id, payload bytes); output batches carry
    (id, n_bytes, feature array<float>). The stub derives FEATURE_DIM
    deterministic pseudo-features from byte content (length + 8-byte strides)
    so downstream similarity/dedup pipelines are exercisable end-to-end.

    ``real_decode=True`` actually decodes (functions/mediacodec.py: PIL if
    importable, stdlib PNG codec otherwise) and emits image-content
    features: [width, height, channels, mean, std, min, max, aspect].
    """
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("feature", T.ArrayType(T.FloatType())),
        ]
    )

    def extract(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        if real_decode:
            from cnics_to_fhir_spark.functions.mediacodec import decode_image
        for pdf in batches:
            feats, sizes = [], []
            for raw in pdf[payload_col]:
                raw = raw or b""
                sizes.append(len(raw))
                if len(raw) == 0:
                    feats.append([0.0] * FEATURE_DIM)
                    continue
                if real_decode:
                    w, h, ch, px = decode_image(bytes(raw))
                    a = np.frombuffer(px, dtype=np.uint8)
                    feats.append(
                        [
                            float(w),
                            float(h),
                            float(ch),
                            float(a.mean()),
                            float(a.std()),
                            float(a.min()),
                            float(a.max()),
                            float(w) / float(h),
                        ]
                    )
                    continue
                b = np.frombuffer(raw, dtype=np.uint8)
                # deterministic fake features: mean byte value per stride
                chunks = np.array_split(b, FEATURE_DIM)
                feats.append([float(c.mean()) if len(c) else 0.0 for c in chunks])
            yield pd.DataFrame(
                {"id": pdf[id_col].astype("int64"), "n_bytes": sizes, "feature": feats}
            )

    return df.select(id_col, payload_col).mapInPandas(extract, schema=out_schema)


def frame_sample_stub(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    every_n_bytes: int = 64,
) -> DataFrame:
    """Video-frame-sampling contract: one output row PER SAMPLE (explode
    shape). The stub samples every Nth byte as a stand-in for every Nth
    frame — the row-multiplying mapInPandas geometry is what matters."""
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("sample_index", T.IntegerType()),
            T.StructField("sample_value", T.IntegerType()),
        ]
    )

    def sample(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, idxs, vals = [], [], []
            for rid, raw in zip(pdf[id_col], pdf[payload_col]):
                raw = raw or b""
                for j, off in enumerate(range(0, len(raw), every_n_bytes)):
                    ids.append(int(rid))
                    idxs.append(j)
                    vals.append(raw[off])
            yield pd.DataFrame({"id": ids, "sample_index": idxs, "sample_value": vals})

    return df.select(id_col, payload_col).mapInPandas(sample, schema=out_schema)


def audio_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Real WAV decode (stdlib ``wave`` — no optional deps): one row per
    clip with (sample_rate, n_channels, n_frames, duration_ms, rms).
    Same narrow-scan/drop-payload-before-shuffle posture as the image ops."""
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("n_channels", T.IntegerType()),
            T.StructField("n_frames", T.LongType()),
            T.StructField("duration_ms", T.LongType()),
            T.StructField("rms", T.DoubleType()),
        ]
    )

    def extract(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from cnics_to_fhir_spark.functions.mediacodec import decode_wav

        for pdf in batches:
            rows = []
            for rid, raw in zip(pdf[id_col], pdf[payload_col]):
                rate, nch, width, nframes, pcm = decode_wav(bytes(raw))
                dtype = {1: np.uint8, 2: np.int16, 4: np.int32}.get(width)
                if dtype is None:
                    raise ValueError(f"unsupported WAV sample width {width}")
                samples = np.frombuffer(pcm, dtype=dtype).astype(np.float64)
                if width == 1:  # 8-bit WAV is unsigned, centre it
                    samples -= 128.0
                rms = float(np.sqrt((samples**2).mean())) if len(samples) else 0.0
                rows.append(
                    (
                        int(rid),
                        rate,
                        nch,
                        nframes,
                        (nframes * 1000) // rate if rate else 0,
                        rms,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id",
                    "sample_rate",
                    "n_channels",
                    "n_frames",
                    "duration_ms",
                    "rms",
                ],
            )

    return df.select(id_col, payload_col).mapInPandas(extract, schema=out_schema)
