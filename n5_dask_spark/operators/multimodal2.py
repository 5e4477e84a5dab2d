"""Multimodal part 2: frame sampling and resize plumbing (SURVEY.md §2.B
multimodal row; completes the decode / feature-extract / resize /
frame-sample quartet the pipeline brief mandates).

Same honesty contract as multimodal.py: the real codecs are stubbed
(container has no av/PIL), but the Spark-side shape is real and
oracle-checked — frame sampling is a one-to-MANY mapInPandas fan-out
(rows out != rows in, the batch shape video decode actually has), resize
is payload->payload with changed byte length. Deterministic fakes (fixed
64-byte "frames", every-4th-byte "resize") make both hash-checkable.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from n5_dask_spark.catalog import load_tables, widen
from n5_dask_spark.operators.multimodal import media_table
from n5_dask_spark.registry import register

FRAME_BYTES = 64  # fake fixed-size frame
FRAME_STRIDE = 4  # keep every 4th frame


@register(
    "multimodal_frame_sample",
    oracle=f"""
    SELECT doc_id, CAST(j AS INT) AS frame_idx,
           md5(substr(text, CAST(1 + j * {FRAME_BYTES} AS INT), {FRAME_BYTES})) AS frame_md5,
           CAST(LEAST({FRAME_BYTES}, len(text) - j * {FRAME_BYTES}) AS INT) AS n_frame_bytes
    FROM documents,
         UNNEST(range(0, CAST(CEIL(len(text) / {FRAME_BYTES}.0) AS BIGINT), {FRAME_STRIDE}))
           AS t(j)
    WHERE doc_id % 3 = 2
    ORDER BY doc_id, frame_idx
    """,
    doc=(
        "Frame sampling over video payloads: mapInPandas fans each binary "
        "row out to every 4th fixed-size frame (one-to-many batch shape — "
        "what a real decoder produces). Deterministic fake frames keep it "
        "hash-checked."
    ),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    videos = media_table(spark, sf_dir).filter("media_type = 'video/mp4'")

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                n_frames = (len(b) + FRAME_BYTES - 1) // FRAME_BYTES
                for j in range(0, n_frames, FRAME_STRIDE):
                    frame = b[j * FRAME_BYTES : (j + 1) * FRAME_BYTES]
                    rows.append(
                        (int(doc_id), j, hashlib.md5(frame).hexdigest(), len(frame))
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "frame_md5", "n_frame_bytes"]
            )

    return videos.mapInPandas(
        sample, schema="doc_id long, frame_idx int, frame_md5 string, n_frame_bytes int"
    ).orderBy("doc_id", "frame_idx")


@register(
    "multimodal_resize",
    oracle="""
    WITH strided AS (
      SELECT doc_id, md5(string_agg(ch, '' ORDER BY i)) AS resized_md5, COUNT(*) AS n_out
      FROM (
        SELECT doc_id, i, substr(text, CAST(i AS INT), 1) AS ch
        FROM documents, UNNEST(range(1, len(text) + 1, 4)) AS t(i)
        WHERE doc_id % 3 = 0
      ) GROUP BY doc_id
    )
    -- LEFT JOIN from the doc set: an EMPTY payload still yields a result
    -- row (md5(''), 0) exactly like the Python resize of b'' — the bare
    -- strided agg would silently drop the doc (zero UNNEST rows), a
    -- divergence found by the degenerate-corpus multimodal fuzz net
    SELECT d.doc_id,
           COALESCE(s.resized_md5, md5('')) AS resized_md5,
           CAST(COALESCE(s.n_out, 0) AS BIGINT) AS n_bytes_out
    FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) d
    LEFT JOIN strided s USING (doc_id)
    ORDER BY doc_id
    """,
    doc=(
        "Resize plumbing over image payloads: payload -> smaller payload "
        "(deterministic every-4th-byte fake for the real interpolation), "
        "output re-hashed so the byte-exact transform is oracle-checked."
    ),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    images = media_table(spark, sf_dir).filter("media_type = 'image/png'")

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [bytes(p)[0::4] for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "resized_md5": [hashlib.md5(b).hexdigest() for b in out],
                    "n_bytes_out": [len(b) for b in out],
                }
            )

    return images.mapInPandas(
        resize, schema="doc_id long, resized_md5 string, n_bytes_out long"
    ).orderBy("doc_id")


AUDIO_SAMPLES = 480  # fake PCM samples per clip
AUDIO_FRAME = 160  # samples per analysis frame -> 3 frames per clip
# the Python side truncates to whole frames while the oracle assigns every
# sample via i // AUDIO_FRAME; they agree only under exact divisibility
assert AUDIO_SAMPLES % AUDIO_FRAME == 0


def _fake_pcm(batches):
    """Deterministic fake 8-bit PCM synthesis: sample i of clip doc_id is
    ((doc_id * 31 + i * 17) % 256) - 128. Stands in for an audio decoder
    (no audio libs in this container); the binary-column plumbing, Arrow
    batching and frame arithmetic around it are the real thing."""
    import numpy as np
    import pandas as pd

    from n5_dask_spark.udfbatch import bounded_frames

    # byte-bounded output frames (udfbatch): the make_blocks lane in
    # miniature — tiny input rows (doc_id only) synthesize binary payloads,
    # so output bytes per frame are unbounded by any input-side knob
    def rows():
        i = np.arange(AUDIO_SAMPLES, dtype=np.int64)
        for pdf in batches:
            for d in pdf["doc_id"].to_numpy():
                pcm = ((int(d) * 31 + i * 17) % 256 - 128).astype(np.int8)
                yield (int(d), pcm.tobytes())

    yield from bounded_frames(rows(), ["doc_id", "pcm"], lambda r: len(r[1]))


def _frame_energy(batches):
    import numpy as np
    import pandas as pd

    for pdf in batches:
        rows = []
        for d, pcm in zip(pdf["doc_id"], pdf["pcm"]):
            x = np.frombuffer(bytes(pcm), dtype=np.int8).astype(np.int64)
            for f in range(len(x) // AUDIO_FRAME):
                fr = x[f * AUDIO_FRAME : (f + 1) * AUDIO_FRAME]
                rows.append((int(d), f, int((fr * fr).sum())))
        yield pd.DataFrame(rows, columns=["doc_id", "frame", "energy"])


@register(
    "multimodal_audio_frame_energy",
    oracle=f"""
    WITH samp AS (
      SELECT d.doc_id, t.i,
             ((d.doc_id * 31 + t.i * 17) % 256 - 128) AS x
      FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d,
           UNNEST(range(0, {AUDIO_SAMPLES})) AS t(i)
    )
    SELECT doc_id, CAST(i // {AUDIO_FRAME} AS INT) AS frame,
           CAST(SUM(x * x) AS BIGINT) AS energy
    FROM samp GROUP BY doc_id, frame
    ORDER BY doc_id, frame
    """,
    doc=(
        "Audio modality: binary PCM payload column -> mapInPandas frame "
        "split -> per-frame energy (integer sum of squares, exact). The "
        "synthesis UDF stands in for the decoder (no audio libs in this "
        "container — same stub discipline as decode_image); payloads "
        "cross to Python only as Arrow batches. Oracle recomputes every "
        "sample arithmetically."
    ),
)
def multimodal_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    clips = (
        widen(docs.filter(F.col("doc_id") < 200).select("doc_id"))
        .mapInPandas(_fake_pcm, schema="doc_id long, pcm binary")
    )
    return (
        clips.mapInPandas(_frame_energy, schema="doc_id long, frame int, energy long")
        .orderBy("doc_id", "frame")
    )
