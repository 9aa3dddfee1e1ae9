"""Multimodal column plumbing (north-star [ext]).

Images/audio/video are opaque ``binary`` payload columns plus typed
metadata. A real decode step needs codec libraries (PIL/opencv) that the
engine does not ship, so the feature path uses a deterministic
md5-keyed fake decode inside its workers — but every piece of Spark
plumbing around it is real and tested:

- payload schema (``binary`` + metadata struct)
- Arrow-batched ``mapInArrow`` (features) and ``mapInPandas`` (frames)
  with an explicit output schema
- batch-shape independence (results identical across partitionings)
- deterministic fake features so downstream operators (ANN over extracted
  features) are exercised end to end.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 8

FEATURES_SCHEMA = (
    "doc_id long, n_bytes long, header string, feature array<float>"
)


def attach_binary_payload(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Synthesize the multimodal layout from a text corpus: UTF-8 bytes as
    the opaque payload + a media-type tag. On a real pipeline this column
    arrives from the storage layer (image/audio bytes); everything
    downstream is payload-agnostic."""
    return docs.select(
        F.col(id_col),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("media_type"),
    )


def extract_features(payloads: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the opaque payload column.

    ``mapInArrow``: one Python worker call sees a whole
    ``pyarrow.RecordBatch`` of payloads (the decode-heavy path batches
    GPU/codec work naturally) with no pandas conversion at all. For BINARY
    payload columns that conversion is a real cost (pandas boxes every
    payload into a Python ``bytes`` object; Arrow keeps one contiguous
    buffer). The output schema is declared, columnar, and join-ready for
    the ANN operators.

    The worker fn is a SELF-CONTAINED closure (imports + fake decode
    inline): cloudpickle serializes module-level helpers by REFERENCE, so
    a closure calling them requires every worker to import this package —
    which breaks when the driver ran from outside the repo (sys.path
    insert travels with the driver, not the workers). Same by-value rule
    as the streaming stateful update fn.
    """
    dim = FEATURE_DIM

    def gen(batches):
        import hashlib as _hashlib

        import numpy as _np
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            doc_ids = batch.column("doc_id")
            payloads_col = batch.column("payload")
            n_bytes, headers, feats = [], [], []
            for buf in payloads_col:
                raw = buf.as_py()
                if raw is None:  # NULL payload -> all-NULL feature row
                    n_bytes.append(None)
                    headers.append(None)
                    feats.append(None)
                    continue
                n_bytes.append(len(raw))
                headers.append(raw[:4].hex())
                pixels = _np.frombuffer(
                    _hashlib.md5(raw).digest(), dtype=_np.uint8
                ).astype(_np.float32)
                feats.append((pixels[:dim] / 255.0).astype(_np.float32).tolist())
            yield pa.RecordBatch.from_arrays(
                [
                    doc_ids,
                    pa.array(n_bytes, pa.int64()),
                    pa.array(headers, pa.string()),
                    pa.array(feats, pa.list_(pa.float32())),
                ],
                names=["doc_id", "n_bytes", "header", "feature"],
            )

    return payloads.mapInArrow(gen, schema=FEATURES_SCHEMA)


FRAMES_SCHEMA = "doc_id long, frame_idx int, frame binary, n_frames int"


def sample_frames(payloads: DataFrame, frame_bytes: int = 16, every_n: int = 4) -> DataFrame:
    """Frame sampling: 1 video row -> k frame rows (every ``every_n``-th
    fixed-size chunk of the payload stands in for a decoded frame).

    The row-EXPANDING mapInPandas shape: output cardinality differs from
    input, which is exactly how real video frame extraction behaves — the
    explicit output schema + per-frame index keep it join/window-ready
    downstream. Deterministic, so partition-invariance is testable.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                if payload is None:  # NULL payload -> no frames
                    continue
                raw = bytes(payload)
                chunks = [
                    raw[i : i + frame_bytes] for i in range(0, len(raw), frame_bytes)
                ]
                sampled = chunks[::every_n]
                rows.extend(
                    {
                        "doc_id": doc_id,
                        "frame_idx": i * every_n,
                        "frame": chunk,
                        "n_frames": len(chunks),
                    }
                    for i, chunk in enumerate(sampled)
                )
            if rows:
                yield pd.DataFrame(rows)

    return payloads.mapInPandas(gen, schema=FRAMES_SCHEMA)


PHASH_SCHEMA = "doc_id long, phash long"

# dHash geometry: 8x8 GRAY8 grid, 7 horizontal comparisons per row.
PHASH_ROWS = 8
PHASH_COLS = 8
PHASH_BITS = PHASH_ROWS * (PHASH_COLS - 1)  # 56 — positive in a signed long


def perceptual_dhash(payloads: DataFrame) -> DataFrame:
    """Perceptual difference-hash over raw 8x8 GRAY8 bitmap payloads.

    This is the image half of image near-dup dedup: decode the payload to
    a pixel grid, then set bit ``r*7 + c`` iff ``px[r][c] > px[r][c+1]``
    (the classic dHash — horizontal gradient signs survive re-encoding,
    resizing and small pixel edits, so near-duplicate images land within
    a small Hamming distance). 56 bits keeps the hash positive in a
    signed 64-bit long on both Spark and DuckDB.

    The decode here is REAL (a raw byte-per-pixel bitmap needs no codec
    library — ``np.frombuffer`` is the decoder); payloads in a compressed
    codec would swap in PIL/opencv behind the same mapInPandas crossing.
    Arrow-batched, one worker call per batch; self-contained closure for
    the worker-import reason documented on :func:`extract_features`.

    Scale: map-only — one pass over the payload column, no shuffle; the
    emitted (doc_id, phash) relation is 16 bytes/row no matter how large
    the images are, which is the whole point of hashing before pairing.
    """
    rows, cols = PHASH_ROWS, PHASH_COLS

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        # bit r*7+c carries weight 2^(r*7+c); precompute the 56 weights so
        # the whole batch packs with one matmul instead of a per-pixel loop
        weights = (1 << _np.arange(rows * (cols - 1), dtype=_np.int64)).astype(
            _np.int64
        )
        for batch in batches:
            if not len(batch):
                continue
            # NULL payload -> NULL phash
            present = batch["payload"].notna().to_numpy()
            raws = [bytes(p) for p in batch["payload"][present]]
            for raw in raws:
                if len(raw) != rows * cols:
                    raise ValueError(
                        f"expected a raw {rows}x{cols} GRAY8 bitmap "
                        f"({rows * cols} bytes); got {len(raw)}"
                    )
            px = _np.frombuffer(b"".join(raws), dtype=_np.uint8).reshape(
                len(raws), rows, cols
            )
            bits = (px[:, :, :-1] > px[:, :, 1:]).reshape(len(raws), rows * (cols - 1))
            phash = _pd.Series(_pd.NA, index=batch.index, dtype="Int64")
            phash[present] = bits.astype(_np.int64) @ weights
            yield _pd.DataFrame({"doc_id": batch["doc_id"], "phash": phash})

    return payloads.mapInPandas(gen, schema=PHASH_SCHEMA)


# ---------------------------------------------------------------------------
# Audio spectral transform: the feature-extract stage of the audio
# fingerprint path. Real deployments run an FFT over decoded PCM here;
# this container has no audio codec libraries, so the transform is a
# TINY EXACT-INTEGER DCT-II — genuinely frequency-shaped (tone peaks +
# noise floor survive into the fingerprint), yet bit-for-bit reproducible
# in the DuckDB oracle because every operation is integer arithmetic over
# a shared basis table. Swapping in scipy.fft behind the same mapInPandas
# crossing changes nothing upstream or downstream.
# ---------------------------------------------------------------------------

AUDIO_DCT_N = 32  # PCM samples per window; spectrum = 32 coefficients

# Integer DCT-II basis, C[k][n] = round(64 * cos(pi * (2n+1) * k / 64)),
# flattened row-major (k outer). Generated ONCE at import and embedded in
# BOTH the Spark-side numpy matmul and the generated oracle SQL, so the
# two engines always share the identical table (a libm rounding quirk
# could only ever move both sides together).
AUDIO_DCT_BASIS: list[int] = [
    round(64 * math.cos(math.pi * (2 * n + 1) * k / (2 * AUDIO_DCT_N)))
    for k in range(AUDIO_DCT_N)
    for n in range(AUDIO_DCT_N)
]

# Spectrum scaling: |pcm| <= 770 (3 tones x amp<=4 x basis<=64 + noise 2),
# so |S[k]| <= 770 * 32 * 64 < 2^21; U = (S + 2^21) >> 7 fits uint16.
AUDIO_SPEC_OFFSET = 1 << 21
AUDIO_SPEC_SHIFT = 7


def audio_spectral_frames(frames: DataFrame) -> DataFrame:
    """PCM window -> integer DCT-II spectral window, Arrow-batched.

    Input rows carry a 64-byte frame: 32 big-endian offset-binary uint16
    PCM samples (sample = x + 32768). Output rows carry the same schema
    with the frame replaced by the 64-byte spectrum: 32 big-endian uint16
    values U[k] = (S[k] + 2^21) >> 7 where S[k] = sum_n x[n] * C[k][n]
    over the shared integer basis. One numpy matmul per Arrow batch — no
    per-sample Python loop — and map-only: payload bytes never shuffle.
    """
    n = AUDIO_DCT_N
    basis_flat = list(AUDIO_DCT_BASIS)
    offset, shift = AUDIO_SPEC_OFFSET, AUDIO_SPEC_SHIFT

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np

        basis = _np.array(basis_flat, dtype=_np.int64).reshape(n, n)
        for batch in batches:
            if not len(batch):
                continue
            raws = [bytes(p) for p in batch["frame"]]
            for raw in raws:
                if len(raw) != 2 * n:
                    raise ValueError(
                        f"expected {2 * n} bytes of big-endian uint16 PCM; "
                        f"got {len(raw)}"
                    )
            pcm = (
                _np.frombuffer(b"".join(raws), dtype=">u2")
                .reshape(len(raws), n)
                .astype(_np.int64)
                - 32768
            )
            spec = ((pcm @ basis.T) + offset) >> shift  # S[i,k] exact ints
            out = spec.astype(">u2").tobytes()
            batch = batch.copy()
            batch["frame"] = [
                out[i * 2 * n : (i + 1) * 2 * n] for i in range(len(raws))
            ]
            yield batch

    return frames.mapInPandas(gen, schema=FRAMES_SCHEMA)
