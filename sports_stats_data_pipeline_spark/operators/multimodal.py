"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed with Arrow-batched ``mapInPandas`` (BASELINE.json north star).

The container has no image/audio codecs, so the *decode* itself is either
(a) a clearly-marked :func:`real_decode_stub` raising NotImplementedError,
or (b) :func:`fake_decode_features`, a deterministic stand-in that reads
real bytes and emits a stable feature row. Everything around the decode —
binary column handling, schema, batch iteration, partitioning — is real
Spark plumbing and is what these operators exercise.

Scale notes: mapInPandas streams Arrow record batches; memory is bounded
by ``spark.sql.execution.arrow.maxRecordsPerBatch`` regardless of
partition size. Binary payloads stay off the Python heap until their
batch arrives. For 100 TB of media you would additionally store payloads
as separate object-store blobs with pointer columns; the operator shape
(binary in, struct of features out) is unchanged.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: schema of the decoded-feature output (keep in sync with fake_decode).
DECODE_SCHEMA = (
    "doc_id long, byte_len int, width int, height int, n_frames int, "
    "checksum string"
)


def attach_binary_payload(docs: DataFrame) -> DataFrame:
    """Materialize an opaque ``binary`` payload column + typed metadata
    struct from the documents table (stand-in for reading image/audio
    blobs; the engine-side handling is identical)."""
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("media_type"),
            F.length(F.encode("text", "utf-8")).alias("n_bytes"),
        ).alias("meta"),
    )


def fake_decode_features(docs_with_payload: DataFrame) -> DataFrame:
    """Deterministic fake decoder over Arrow batches.

    Reads the real payload bytes and derives features any engine can
    reproduce (first bytes, length mod, md5) — the point is the
    mapInPandas plumbing, not the codec.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": payloads.map(len).astype("int32"),
                    "width": payloads.map(lambda b: b[0]).astype("int32"),
                    "height": payloads.map(lambda b: b[1]).astype("int32"),
                    "n_frames": payloads.map(lambda b: len(b) % 16).astype(
                        "int32"
                    ),
                    "checksum": payloads.map(
                        lambda b: hashlib.md5(b).hexdigest()
                    ),
                }
            )

    return docs_with_payload.select("doc_id", "payload").mapInPandas(
        decode, schema=DECODE_SCHEMA
    )


#: schema of the pixel-decode output (grayscale grid row-major).
PIXELS_SCHEMA = "doc_id long, width int, height int, pixels array<int>"


def pil_available() -> bool:
    """True when pillow is importable (optional dependency)."""
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def real_decode_pixels(
    docs_with_payload: DataFrame,
    max_side: int = 64,
    backend: str = "auto",
) -> DataFrame:
    """Real-codec image decode: payload bytes → grayscale pixel grid in
    :data:`PIXELS_SCHEMA` (one contract for every backend, so downstream
    resize/feature stages are codec-agnostic). Images
    larger than ``max_side`` are thumbnailed (aspect-preserving) before
    pixel export so one oversized asset can't blow an Arrow batch.
    Undecodable payloads are dropped — the malformed-row filter (P6)
    semantics, matching the reference's skip-on-parse-failure rows.

    Backends: ``"pillow"`` (any format PIL reads; antialiased
    thumbnail), ``"pure"`` (the vendored stdlib-only PNG decoder in
    :mod:`operators.png` — 8-bit non-interlaced PNGs, nearest-neighbor
    thumbnail), or ``"auto"`` (pillow when importable, else pure — so
    the real-codec path executes even in codec-less containers). The
    two backends agree on full-size dimensions and on 601-2 grayscale
    weights up to last-unit rounding; for THUMBNAILED assets they
    differ in both minor-axis rounding (pure floors, PIL rounds — a
    5x110 input at max_side 64 thumbnails to width 2 vs 3) and
    interpolation (nearest vs antialias) — pin one backend when
    downstream shapes must be stable across environments.
    """
    if backend not in ("auto", "pillow", "pure"):
        raise ValueError(f"unknown decode backend {backend!r}")
    if backend == "pillow" and not pil_available():
        return real_decode_stub(docs_with_payload)
    use_pil = backend == "pillow" or (backend == "auto" and pil_available())

    def decode_pil(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        import numpy as np
        from PIL import Image

        for pdf in batches:
            rows = []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    img = Image.open(io.BytesIO(bytes(b))).convert("L")
                except Exception:
                    continue
                if max(img.size) > max_side:
                    img.thumbnail((max_side, max_side))
                w, h = img.size
                px = np.asarray(img, dtype=np.int32)
                rows.append((doc_id, w, h, px.ravel().tolist()))
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "pixels"]
            )

    def decode_pure(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .png import decode_png

        for pdf in batches:
            rows = []
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                if b is None:  # NULL payload = malformed row, drop (P6)
                    continue
                try:
                    w, h, px = decode_png(bytes(b))
                except ValueError:
                    continue
                grid = np.asarray(px, dtype=np.int32).reshape(h, w)
                if max(w, h) > max_side:
                    # aspect-preserving nearest-neighbor thumbnail via
                    # an index-map gather
                    ow = max(1, (w * max_side) // max(w, h))
                    oh = max(1, (h * max_side) // max(w, h))
                    ys = (np.arange(oh) * h) // oh
                    xs = (np.arange(ow) * w) // ow
                    grid, w, h = grid[np.ix_(ys, xs)], ow, oh
                rows.append((doc_id, w, h, grid.ravel().tolist()))
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "pixels"]
            )

    return docs_with_payload.select("doc_id", "payload").mapInPandas(
        decode_pil if use_pil else decode_pure, schema=PIXELS_SCHEMA
    )


def real_decode_stub(docs_with_payload: DataFrame) -> DataFrame:
    """The explicit-pillow-without-pillow fallback. STUB: raised when
    ``backend="pillow"`` is requested but pillow is not installed; use
    ``backend="pure"``/``"auto"`` (vendored PNG decoder) or
    :func:`fake_decode_features` for the pipeline shape."""
    raise NotImplementedError(
        "pillow is not installed in this environment; use the 'pure' "
        "backend (vendored PNG decoder) or fake_decode_features"
    )


def frame_sample(
    decoded: DataFrame,
    every_nth: int = 4,
    carry_cols: tuple[str, ...] = (),
    outer: bool = False,
) -> DataFrame:
    """Frame-sampling plumbing over decoded metadata: expand n_frames to
    frame indices and keep every ``every_nth`` one — pure built-ins
    (sequence + explode + filter), no Python.

    ``carry_cols`` pass extra decode columns through; ``outer=True`` keeps
    zero-frame assets as a single NULL-frame row (explode_outer) so the
    output still covers every input asset.
    """
    # sequence(0, -1) would yield a DESCENDING [0, -1] for zero-frame rows
    # (Spark sequence auto-reverses); guard to an empty array instead,
    # which explode drops (explode_outer turns it into one NULL row).
    sampled = F.when(
        F.col("n_frames") > 0,
        F.filter(
            F.sequence(F.lit(0), F.col("n_frames") - 1),
            lambda i: i % every_nth == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    explode = F.explode_outer if outer else F.explode
    return decoded.withColumn("frame_idx", explode(sampled)).select(
        "doc_id", "frame_idx", "width", "height", *carry_cols
    )
