"""Page-OCR chain: page rows → ordered word rows, as named phases.

The reference runs detect→recognize as one predictor DAG
(models/predictor/predictor.py:72-154). This module is that DAG over
plain NumPy/pandas — no Spark — split into phases that can be profiled
on their own:

  decode → straighten → detect (map → forward → localize → crop)
  → orient_crops (G3) → split → recognize → word_rows

The fused, detect and recognize stages are thin ``mapInPandas``
wrappers over these phases; each phase is implemented only here.

Recognition model batches are flattened across all pages of a chunk
(the reference flattens across pages too, predictor.py:132).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from functools import partial
from time import perf_counter
from typing import TYPE_CHECKING

import numpy as np
import pandas as pd

from onnxtr_spark import imaging
from onnxtr_spark.engine import (
    CTC_CONTRACT,
    EngineConfig,
    get_detection_engine,
    get_orientation_engine,
    get_recognition_engine,
)
from onnxtr_spark.kernels import detect_post, preprocess, rotated_post, split_merge
from onnxtr_spark.kernels.builder import word_order, word_order_blocks
from onnxtr_spark.kernels.ctc import attention_decode, ctc_best_path
from onnxtr_spark.kernels.geometry import extract_crops, resize_preserve, resize_stretch, resize_unpadded
from onnxtr_spark.kernels.rotated import (
    extract_rcrops_nearest,
    rectify_crops,
    rectify_loc_preds,
    word_order_rotated,
)
from onnxtr_spark.kernels.straighten import estimate_orientation

if TYPE_CHECKING:
    from onnxtr_spark.stages.detect import DetectConfig
    from onnxtr_spark.stages.recognize import RecognizeConfig

OUT_COLS = [
    "doc_id", "offset", "media_ref", "word_id", "rank", "line_id", "block_id",
    "xmin", "ymin", "xmax", "ymax", "objectness", "text", "conf",
]


@dataclass
class PageState:
    """One page's detections and its slice of the chunk's split list."""

    key: tuple  # (doc_id, offset, media_ref)
    boxes: np.ndarray  # (N, 5) straight [xmin, ymin, xmax, ymax, score]
    polys: np.ndarray | None  # (N, 4, 2) on the rotated path, else None
    crop_map: list = field(default_factory=list)
    start: int = 0
    n_splits: int = 0


@dataclass
class ChunkStats:
    """Counters ``ocr_page_batch`` adds to, across the chunks of a task."""

    pages: int = 0
    boxes: int = 0
    words: int = 0
    decode_s: float = 0.0


def is_float(engine: EngineConfig) -> bool:
    """Float-contract session (a real CNN): P2-P4 run ahead of it."""
    return engine.input_contract.startswith("float")


def model_input(batch: np.ndarray, engine: EngineConfig) -> np.ndarray:
    """P2-P4 on a (B, H, W, C) uint8 batch: cast/255, normalize, and the
    channels-first layout when the session asks for it."""
    x = preprocess.cast_normalize(batch, engine.mean, engine.std)
    return np.moveaxis(x, -1, 1) if engine.input_contract == "float_bchw" else x


def decode(png: bytes, channel0: bool) -> np.ndarray:
    """Page bytes → (H, W, C) uint8.

    ``channel0`` (uint8 stub engines only): both stub models read
    channel 0, so slice a (H, W, 1) view once — 3× less memory traffic
    through resize/crop/model (this kernel chain is DRAM-bound at high
    core counts). Float-contract engines keep the full channel axis —
    P2 normalize is per-channel and the model consumes every plane."""
    img = imaging.decode_image(png)
    return img[:, :, :1] if channel0 else img


def straighten(img: np.ndarray, det_cfg: DetectConfig) -> np.ndarray:
    """I5 orientation classify + G4 rectification (reference
    predictor.py:100-106 + base.py:102-124): undo the stored 90°-multiple
    rotation, then the arbitrary-angle pass — the seg bitmap of a first
    detection pass feeds estimate_orientation, which measures the
    residual skew from line-like contours, and the page is rotated
    straight; ``detect`` then runs on the straightened page. General
    orientation is (0, 1.0) here because the classifier just rectified
    the 90° component."""
    k = get_orientation_engine(det_cfg.orient_engine).run_one(img)
    if k:
        img = np.ascontiguousarray(np.rot90(img, -k))
    pix_thresh = float(np.floor(255.0 - 255.0 * det_cfg.bin_thresh))
    seg = (img[:, :, 0] <= pix_thresh).astype(np.uint8)
    angle = estimate_orientation(seg, (0, 1.0))
    if not angle:
        return img
    if img.shape[2] == 1:
        # rotate the single channel 2-D (the (H,W,1) slice pays a
        # per-pixel trailing-dim gather)
        return imaging.rotate_image_nearest(np.ascontiguousarray(img[:, :, 0]), angle)[:, :, None]
    return imaging.rotate_image_nearest(img, angle)


def detection_map(img: np.ndarray, det_cfg: DetectConfig) -> tuple[np.ndarray, bool]:
    """P1 resize of one page to its detection map → (map, padded).

    The default contract (preserve_aspect_ratio + symmetric_pad) resizes
    WITHOUT padding: content-exact and isotropic (one scale = min ratio
    for both axes), so relative coords are page-relative directly,
    rotation angles survive, P8 padding removal is the identity, and map
    passes skip the ~30% pad rows a square map carries. The padded
    symmetric algebra runs in the standalone detect stage. FCN
    detectors (FAST/DBNet) take the dynamic spatial dims."""
    size = det_cfg.map_size
    if not det_cfg.preserve_aspect_ratio:
        # anisotropic stretch: map-relative coords ARE page-relative
        return resize_stretch(img, size, size), False
    if det_cfg.symmetric_pad:
        return resize_unpadded(img, size, size), False
    # asymmetric pad (bottom/right, transforms/base.py:72-76): boxes come
    # back map-relative and P8 rescales them (_utils/base.py:12-62).
    # White pad: the stub reads pixel value as text evidence.
    return resize_preserve(img, size, size, symmetric_pad=False, pad_value=255), True


def localize(
    det_map: np.ndarray,
    det_cfg: DetectConfig,
    page_h: int,
    page_w: int,
    *,
    pixel_map: bool,
    padded: bool,
) -> np.ndarray:
    """D1-D6 postprocess → P8 padding removal → loc_preds hooks.

    Straight pages give (N, 5) boxes, rotated pages (N, 5, 2) polygons
    (reference predictor.py:91-129). ``pixel_map``: ``det_map`` is the
    uint8 page map of the affine stub model, which folds through the
    postprocess (detect_post.postprocess_pixel_map docstring); otherwise
    it is a model's (H, W) probability map."""
    thresholds = (det_cfg.bin_thresh, det_cfg.box_thresh, det_cfg.unclip_ratio)
    if det_cfg.assume_straight_pages:
        post = detect_post.postprocess_pixel_map if pixel_map else detect_post.postprocess_prob_map
        unpad = detect_post.remove_padding
    else:
        post = (
            rotated_post.postprocess_pixel_map_rotated
            if pixel_map
            else rotated_post.postprocess_prob_map_rotated
        )
        # rotated P8 rescales the score row too (reference quirk,
        # kernels/rotated_post.py)
        unpad = rotated_post.remove_padding_rotated
    loc = post(det_map, *thresholds)
    if padded:
        loc = unpad(
            loc, page_h, page_w,
            preserve_aspect_ratio=det_cfg.preserve_aspect_ratio, symmetric_pad=det_cfg.symmetric_pad,
        )
    for hook in det_cfg.hooks:  # reference OCRPredictor.add_hook, predictor.py:112-113
        loc = hook(loc)
    return loc


def crop_words(
    img: np.ndarray | None, loc: np.ndarray, straight: bool
) -> tuple[np.ndarray, np.ndarray | None, list[np.ndarray]]:
    """G1/G2 crop extraction + P5 zero-size filter (models/predictor/
    base.py:157-162) → (boxes, polys, crops), all aligned.

    Rotated ``loc`` (N, 5, 2) is cropped along its polygons and its
    boxes are the B7 enclosing straight boxes (models/builder.py:
    322-326). ``img`` is only read when ``loc`` is non-empty."""
    if straight:
        boxes, polys = loc, None
        crops = extract_crops(img, boxes[:, :4].astype(np.float64)) if boxes.shape[0] else []
    else:
        polys = loc[:, :4, :].astype(np.float64)
        scores = loc[:, 4, 1].astype(np.float64)  # detach_scores, geometry.py:119-122
        crops = extract_rcrops_nearest(img, polys) if polys.shape[0] else []
        boxes = (
            np.concatenate([rotated_post.polys_to_straight(polys), scores[:, None]], axis=1)
            if polys.shape[0]
            else np.zeros((0, 5), dtype=np.float64)
        )
    keep = [i for i, c in enumerate(crops) if c.shape[0] > 0 and c.shape[1] > 0]
    crops = [crops[i] for i in keep]
    boxes = boxes[keep] if keep else boxes[:0]
    if polys is not None:
        polys = polys[keep] if keep else polys[:0]
    return boxes, polys, crops


def detect(
    img: np.ndarray, det_cfg: DetectConfig, det, crop_channel0: bool
) -> tuple[np.ndarray, np.ndarray | None, list[np.ndarray]]:
    """One page through detection to its word crops (see ``crop_words``).

    A float-contract session gets P2-P4 on the unpadded map and one
    forward per page (unpadded maps are content-exact, so pages don't
    stack); the uint8 stub folds into ``localize``. ``crop_channel0``:
    the uint8 recognition stub reads channel 0 only, so crops slice a
    (H, W, 1) view even when a float detector needed every plane."""
    resized, padded = detection_map(img, det_cfg)
    float_det = is_float(det_cfg.engine)
    if float_det:
        det_map = det.run(model_input(resized[None], det_cfg.engine))[0]
    else:
        det.simulate_model_cost(1)  # no-op unless SPARK_GRAFT_MODEL_ITERS set
        det_map = resized[:, :, 0]
    loc = localize(det_map, det_cfg, img.shape[0], img.shape[1], pixel_map=not float_det, padded=padded)
    return crop_words(img[:, :, :1] if crop_channel0 else img, loc, det_cfg.assume_straight_pages)


def orient_crops(
    pending: list[tuple[PageState, list[np.ndarray]]], det_cfg: DetectConfig
) -> list[list[np.ndarray]]:
    """G3 crop rectification (reference enables the crop-orientation
    classifier by default when assume_straight_pages=False,
    models/zoo.py:19-27 + predictor.py:126-129): classify every rotated
    crop of the chunk with ONE batched engine call (a per-crop loop was
    the main rotated-vs-straight cost gap), re-roll each page's polygons
    and return its crops rotated readable, in ``pending`` order."""
    ks = get_orientation_engine(det_cfg.orient_engine).run([c for _, crops in pending for c in crops])
    out, pos = [], 0
    for page, crops in pending:
        orientations = [int(k) for k in ks[pos : pos + len(crops)]]
        pos += len(crops)
        page.polys = rectify_loc_preds(page.polys, orientations)
        out.append(rectify_crops(crops, orientations))
    return out


def split(
    page: PageState,
    crops: list[np.ndarray],
    flat: list[np.ndarray],
    reco_cfg: RecognizeConfig,
    resize: Callable[[np.ndarray], np.ndarray],
) -> None:
    """W1 wide-crop split: append the page's resized splits to the
    chunk's ``flat`` list and record the page's slice of it."""
    splits, page.crop_map, _ = split_merge.split_crops(
        crops, reco_cfg.critical_ar, reco_cfg.target_ar, reco_cfg.overlap_ratio
    )
    page.start = len(flat)
    page.n_splits = len(splits)
    flat.extend(resize(s) for s in splits)


def recognize(flat: list[np.ndarray], reco_cfg: RecognizeConfig, reco) -> list[tuple[str, float]]:
    """I4 + C1/C2 over the chunk's splits → (text, conf) per split.

    Each model batch is padded (background white) to its widest split —
    a dynamic T axis; a fixed 128-wide pad made ~70% of the logits
    tensor padding columns. The decoder follows the model family, not
    the stage (reference binds a postprocessor per model class —
    engine.py DecodeContract); CTC engines predate the contract
    attribute, hence the default."""
    contract = getattr(reco, "decode_contract", CTC_CONTRACT)
    preds: list[tuple[str, float]] = []
    for start in range(0, len(flat), reco_cfg.batch_size):
        chunk = flat[start : start + reco_cfg.batch_size]
        max_w = max(c.shape[1] for c in chunk)
        batch = np.full((len(chunk), reco_cfg.crop_h, max_w) + chunk[0].shape[2:], 255, dtype=np.uint8)
        for i, c in enumerate(chunk):
            batch[i, : c.shape[0], : c.shape[1]] = c
        if is_float(reco_cfg.engine):
            batch = model_input(batch, reco_cfg.engine)
        logits = reco.run(batch)
        if contract.kind == "attention":
            preds.extend(attention_decode(logits, reco_cfg.vocab, contract.conf, contract.n_special))
        else:
            preds.extend(ctc_best_path(logits, reco_cfg.vocab))
    return preds


def word_rows(
    pages: list[PageState], preds: list[tuple[str, float]], reco_cfg: RecognizeConfig
) -> list[tuple]:
    """W2 split merge + B1-B3 reading order → one ``OUT_COLS`` row per
    word (per page — all of a page's boxes are co-resident, which saves
    the shuffle a separate build stage would need)."""
    rows: list[tuple] = []
    for page in pages:
        boxes = page.boxes
        if boxes.shape[0] == 0:
            continue
        page_preds = preds[page.start : page.start + page.n_splits]
        words = split_merge.remap_preds(page_preds, page.crop_map, reco_cfg.overlap_ratio)
        if page.polys is not None:
            # rotated B1/B2: straighten by -estimate_page_angle then the
            # standard sort/line scan (builder.py:55-63)
            rank, line_id = word_order_rotated(page.polys)
            block_id = np.zeros_like(rank)  # B4 is straight-only (reference default off)
        elif reco_cfg.resolve_blocks:
            rank, line_id, block_id = word_order_blocks(boxes[:, :4])
        else:
            rank, line_id = word_order(boxes[:, :4])
            block_id = np.zeros_like(rank)
        doc_id, offset, media_ref = page.key
        for wi, ((text, conf), box) in enumerate(zip(words, boxes)):
            rows.append((
                doc_id, offset, media_ref, wi, int(rank[wi]), int(line_id[wi]), int(block_id[wi]),
                float(box[0]), float(box[1]), float(box[2]), float(box[3]),
                float(box[4]), text, float(conf),
            ))
    return rows


def ocr_page_batch(
    pdf: pd.DataFrame, det_cfg: DetectConfig, reco_cfg: RecognizeConfig, stats: ChunkStats
) -> pd.DataFrame:
    """The whole chain over one chunk of page rows (doc_id, offset,
    media_ref, png) → ``OUT_COLS`` word rows; adds to ``stats``."""
    det = get_detection_engine(det_cfg.engine)
    reco = get_recognition_engine(reco_cfg.vocab, reco_cfg.engine)
    float_reco = is_float(reco_cfg.engine)
    channel0 = not (is_float(det_cfg.engine) or float_reco)
    # height-normalized, unpadded resize: ``recognize`` pads each batch
    # to its own max width
    resize = partial(resize_unpadded, target_h=reco_cfg.crop_h, target_w=reco_cfg.crop_w)
    pages: list[PageState] = []
    flat: list[np.ndarray] = []
    pending: list[tuple[PageState, list[np.ndarray]]] = []  # G3 crops awaiting the batched classify
    for doc_id, offset, media_ref, png in zip(pdf["doc_id"], pdf["offset"], pdf["media_ref"], pdf["png"]):
        t_dec = perf_counter()
        img = decode(png, channel0)
        stats.decode_s += perf_counter() - t_dec
        if det_cfg.straighten_pages:
            img = straighten(img, det_cfg)
        boxes, polys, crops = detect(img, det_cfg, det, crop_channel0=not float_reco)
        page = PageState((doc_id, int(offset), media_ref), boxes, polys)
        pages.append(page)
        if polys is not None and crops and not det_cfg.disable_crop_orientation:
            pending.append((page, crops))
        else:
            split(page, crops, flat, reco_cfg, resize)
    if pending:
        for (page, _), crops in zip(pending, orient_crops(pending, det_cfg)):
            split(page, crops, flat, reco_cfg, resize)
    rows = word_rows(pages, recognize(flat, reco_cfg, reco), reco_cfg)
    stats.pages += len(pages)
    stats.boxes += sum(int(p.boxes.shape[0]) for p in pages)
    stats.words += len(rows)
    return pd.DataFrame(rows, columns=OUT_COLS)
