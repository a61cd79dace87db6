"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The reference's multimodal step is the CIFAR pipeline: PIL image ->
preprocess -> ResNet-18 embedding, executed one image per forward pass
(CIFAR notebook cell 2, ``unsqueeze(0)``). Here the Spark-side plumbing
is real — binary columns, Arrow-batched ``mapInPandas`` kernels, stable
schemas, per-batch (not per-row) processing — while the actual media
decoding is OPTIONAL (image/audio libraries are not in this container):

- ``decode_image`` decodes bytes -> HWC uint8 RGB via Pillow when it is
  importable (reference CIFAR cell 2's PIL entry point), and raises
  NotImplementedError otherwise — an honest, clearly-marked gate.
- ``extract_features`` defaults to a deterministic fake "decoder"
  (polynomial hash of the payload bytes -> 4 pseudo-features) so the
  batch shape, schema, and distributed execution path are fully
  testable — and even oracle-checkable, because the fake is exact
  integer arithmetic. ``decoder="image"`` switches the same kernel to
  the real Pillow decode (per-channel statistics standing in for the
  reference's ResNet embedding, whose weights can't ship here).

At 100 TB: payloads stay in executor-side Arrow batches end-to-end; no
driver collection; model weights ship via broadcast with lazy
per-executor init — ``embed_with_model`` exercises that exact path
with a numpy projection standing in for the torch state_dict (swap the
weights and the per-batch compute line; the distribution machinery is
unchanged).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

HASH_MOD = 1_000_000_007
N_FEATURES = 4

# powers of 31 mod HASH_MOD, grown lazily to the longest payload seen;
# lets the byte-polynomial hash run as one vectorized dot instead of a
# per-byte Python loop (~30x on KB-sized payloads)
_POW31 = np.array([1], dtype=np.int64)


def _pow31(n: int) -> np.ndarray:
    global _POW31
    while _POW31.size < n:
        # double by one vectorized modmul: 31^(m+j) = 31^m * 31^j mod p
        # (each factor < p < 2^30, product < 2^60 — exact in int64)
        step = int(_POW31[-1] * 31 % HASH_MOD)  # 31^m for m = current size
        _POW31 = np.concatenate([_POW31, (_POW31 * step) % HASH_MOD])
    return _POW31[:n]


try:  # optional dependency: the container this engine is tested in has no image libs
    from PIL import Image as _PILImage

    HAS_PIL = True
except ImportError:
    _PILImage = None
    HAS_PIL = False


def decode_image(payload: bytes) -> np.ndarray:
    """Decode an encoded image payload to an HWC uint8 RGB array —
    Pillow when importable (the reference's PIL entry point, CIFAR
    notebook cell 2), else NotImplementedError. The Spark plumbing
    around this call is complete either way.

    Pillow-present recipe (any machine with the library): ``pip
    install Pillow`` and re-run ``pytest tests/test_multimodal.py`` —
    the one @skipif-gated test (real decode through this kernel)
    un-skips and the decode path runs for real; every executor needs
    the package (ship it via ``spark.submit.pyFiles``/conda env on a
    cluster). No code changes required — HAS_PIL flips at import."""
    if not HAS_PIL:
        raise NotImplementedError(
            "image decoding requires Pillow; install it and this same "
            "kernel decodes for real — the surrounding Spark plumbing "
            "is complete"
        )
    import io

    with _PILImage.open(io.BytesIO(payload)) as im:
        return np.asarray(im.convert("RGB"))


def _image_features(payload: bytes) -> list[float]:
    """Real-decode features: per-channel means + overall std in [0, 1]
    — a model-free stand-in for the reference's ResNet-18 embedding
    (CIFAR cell 2; actual weights would ship via broadcast into this
    exact kernel)."""
    arr = decode_image(payload).astype(np.float64)
    means = arr.mean(axis=(0, 1)) / 255.0
    return [float(means[0]), float(means[1]), float(means[2]), float(arr.std() / 255.0)]


def _payload_hash(payload: bytes) -> int:
    """Polynomial byte hash mod HASH_MOD — the exact-integer core of the
    fake decoder (shared by _fake_features and embed_with_model).

    Horner's rule h = ((b0*31 + b1)*31 + b2)... equals
    sum(b_i * 31^(n-1-i)) mod p, computed as a vectorized product-sum.
    Each term is < 256 * p < 2.6e11, so int64 sums stay exact for chunks
    up to ~3e7 bytes; chunk with running mod far below that bound."""
    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
    n = arr.size
    if n == 0:
        return 0
    pows = _pow31(n)[::-1]  # 31^(n-1), ..., 31^0
    h = 0
    chunk = 1 << 24  # 16M terms per exact int64 partial sum
    for s in range(0, n, chunk):
        h = (h + int(np.dot(arr[s : s + chunk], pows[s : s + chunk]) % HASH_MOD)) % HASH_MOD
    return h


def _fake_features(payload: bytes) -> list[float]:
    """Deterministic stand-in for decode+embed: polynomial hash of the
    bytes mapped to N pseudo-features in [0, 1). Exact integer math —
    reproducible anywhere, including the SQL oracle."""
    if len(payload) == 0:
        return [0.0] * N_FEATURES
    h = _payload_hash(payload)
    return [((h * (i + 1)) % 1009) / 1009.0 for i in range(N_FEATURES)]


def extract_features(
    blobs: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    decoder: str = "fake",
) -> DataFrame:
    """Batched feature extraction over a binary column via mapInPandas.

    One Python call per Arrow batch (not per row) — the shape a real
    embedding model needs (contrast the reference's batch-size-1 forward
    passes, CIFAR notebook cell 2).

    ``decoder="fake"`` (default) is the deterministic byte-hash decoder
    — exact integer arithmetic, oracle-checkable on any payload.
    ``decoder="image"`` runs the real Pillow decode in the same kernel
    (requires Pillow on the driver AND every executor, plus genuinely
    encoded image payloads). The driver-side gate catches the common
    local-mode miss up front; a cluster whose worker images lack
    Pillow still fails per task at decode — environment parity is the
    deployer's contract, as with any Python dependency in a kernel."""
    if decoder not in ("fake", "image"):
        raise ValueError(f"unknown decoder {decoder!r}; expected 'fake' or 'image'")
    if decoder == "image" and not HAS_PIL:
        decode_image(b"")  # raises the canonical NotImplementedError
    per_payload = _fake_features if decoder == "fake" else _image_features

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [per_payload(p) for p in pdf[payload_col]]
            out = {id_col: pdf[id_col].to_numpy()}
            for i in range(N_FEATURES):
                out[f"f{i}"] = [f[i] for f in feats]
            yield pd.DataFrame(out)

    schema = f"{id_col} long, " + ", ".join(f"f{i} double" for i in range(N_FEATURES))
    return blobs.select(id_col, payload_col).mapInPandas(kernel, schema)


def frame_sample(blobs: DataFrame, id_col: str = "vid_id", payload_col: str = "payload", every_n: int = 10) -> DataFrame:
    """STUB plumbing for video frame sampling: emits (id, frame_no,
    frame_payload) rows. The splitter is a deterministic fake (fixed-size
    byte windows standing in for decoded frames); the real ffmpeg-backed
    splitter drops into the same kernel."""
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, frames, payloads = [], [], []
            for _id, p in zip(pdf[id_col], pdf[payload_col]):
                chunks = [p[i : i + 64] for i in range(0, len(p), 64)]
                for fno, chunk in enumerate(chunks[::every_n]):
                    ids.append(_id)
                    frames.append(fno)
                    payloads.append(bytes(chunk))
            yield pd.DataFrame({id_col: ids, "frame_no": frames, "frame_payload": payloads})

    schema = f"{id_col} long, frame_no int, frame_payload binary"
    return blobs.select(id_col, payload_col).mapInPandas(kernel, schema)


def resize_image(blobs: DataFrame, id_col: str = "img_id", payload_col: str = "payload", target: int = 224) -> DataFrame:
    """STUB plumbing for image resize (the reference's Resize(256) ->
    CenterCrop(224) preprocessing, CIFAR notebook cell 2): emits
    (id, width, height, resized_payload) rows through an Arrow-batched
    kernel. The resizer is a deterministic fake — a byte downsample to
    ``target`` bytes standing in for pixel interpolation; the real
    Pillow `Image.resize` drops into the same kernel with the same
    schema, so the distributed plumbing (batching, binary columns,
    bounded output size) is fully exercised now."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, outs = [], [], [], []
            for _id, p in zip(pdf[id_col], pdf[payload_col]):
                n = len(p)
                # fake decode: pretend square image of side floor(sqrt(n))
                side = max(1, int(n ** 0.5))
                step = max(1, n // target)
                outs.append(bytes(p[::step][:target]))
                ids.append(_id)
                ws.append(side)
                hs.append(side)
            yield pd.DataFrame(
                {id_col: ids, "width": ws, "height": hs, "resized_payload": outs}
            )

    schema = f"{id_col} long, width int, height int, resized_payload binary"
    return blobs.select(id_col, payload_col).mapInPandas(kernel, schema)


# ---------------------------------------------------------------------------
# Broadcast-weights model inference (the ResNet-shaped path, numpy-only)
# ---------------------------------------------------------------------------

EMBED_DIM = 8


def make_projection_weights(
    dim_in: int = N_FEATURES, dim_out: int = EMBED_DIM, seed: int = 7
) -> np.ndarray:
    """Deterministic integer projection matrix (dim_in x dim_out), the
    numpy stand-in for real model weights (reference: ResNet-18 with
    ``model.fc = Identity()``, CIFAR notebook cell 2 — those weights
    ship to executors through the exact same broadcast below).

    Weights are splitmix64-mixed ints in [-8, 7] — no RNG state, so the
    registry can regenerate the identical matrix when rendering the SQL
    oracle, keeping query and oracle in lockstep by construction."""
    out = np.empty((dim_in, dim_out), dtype=np.int64)
    for i in range(dim_in):
        for j in range(dim_out):
            z = (seed * 0x9E3779B97F4A7C15 + (i * dim_out + j) * 0xBF58476D1CE4E5B9) % (1 << 64)
            z = (z ^ (z >> 30)) * 0x94D049BB133111EB % (1 << 64)
            out[i, j] = ((z ^ (z >> 31)) % 16) - 8
    return out


def embed_with_model(
    blobs: DataFrame,
    weights: np.ndarray | None = None,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Model inference over a binary column with BROADCAST weights — the
    distribution pattern the reference's embed-all loop needs at scale
    (CIFAR notebook cell 3 embeds one image per forward pass on one
    machine; here the weights ship once per executor and every Arrow
    batch is one matrix multiply).

    The "model" is an integer linear projection over the deterministic
    payload-hash features: feature numerators n_i = (h * (i+1)) % 1009
    (the exact integers behind extract_features' fake decoder), output
    e_j = sum_i n_i * W[i, j] — all-integer, so the result is
    bit-reproducible anywhere, including the SQL oracle. Swapping in
    real weights (a torch state_dict) changes ONLY ``weights`` and the
    per-batch compute line; broadcast, lazy per-executor init, Arrow
    batching, and the output contract stay identical.

    Output: (id, e0..e{dim_out-1} double) — integer-valued doubles."""
    if weights is None:
        weights = make_projection_weights()
    weights = np.asarray(weights, dtype=np.int64)
    if weights.shape[0] != N_FEATURES:
        raise ValueError(
            f"weights must have {N_FEATURES} input rows, got {weights.shape}"
        )
    dim_out = int(weights.shape[1])
    spark = blobs.sparkSession
    bc = spark.sparkContext.broadcast(weights)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # read once per task: Broadcast.value already materializes the
        # weights once per worker process and caches them there
        W = np.asarray(bc.value, dtype=np.int64)
        for pdf in batches:
            hs = np.array(
                [_payload_hash(p) for p in pdf[payload_col]], dtype=np.int64
            )
            # feature numerators: (h * (i+1)) % 1009, one column per i
            feats = (hs[:, None] * (np.arange(N_FEATURES, dtype=np.int64) + 1)) % 1009
            emb = feats @ W  # max |e| < 1009 * 8 * 4 — exact in int64
            out = {id_col: pdf[id_col].to_numpy()}
            for j in range(dim_out):
                out[f"e{j}"] = emb[:, j].astype(np.float64)
            yield pd.DataFrame(out)

    schema = f"{id_col} long, " + ", ".join(f"e{j} double" for j in range(dim_out))
    return blobs.select(id_col, payload_col).mapInPandas(kernel, schema)


def payload_dup_pairs(
    blobs: DataFrame,
    weights: np.ndarray | None = None,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Exact multimodal duplicate pairs: rows whose binary payloads
    produce IDENTICAL embedding feature vectors under the
    deterministic decode + projection (embed_with_model) — the
    binary-asset twin of text `dedup_exact`, i.e. byte-identical (and,
    with a real decoder, pixel-identical-after-preprocess) asset
    dedup. Emits star edges (rep_id, dup_id): the minimum id per
    feature group represents, every other member points at it — the
    same O(n)-per-clique edge contract as the text dedup family, so
    the output feeds the shared connected-components / keeper
    machinery unchanged.

    Plan shape: one embedding pass (Arrow-batched, broadcast weights),
    one groupBy on the feature tuple (map-side combined), one
    broadcast-able join back — no pairwise work anywhere, so a clique
    of a million identical thumbnails costs a million rows, not 5e11
    pairs."""
    emb = embed_with_model(blobs, weights, id_col=id_col, payload_col=payload_col)
    feat_cols = [c for c in emb.columns if c != id_col]
    import pyspark.sql.functions as F

    groups = (
        emb.groupBy(*feat_cols)
        .agg(F.min(id_col).alias("rep_id"), F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .drop("_n")
    )
    return (
        emb.join(groups, feat_cols)
        .filter(F.col(id_col) != F.col("rep_id"))
        .select("rep_id", F.col(id_col).alias("dup_id"))
    )
