"""Single-process kernel replay of the fused OCR stage, phase by phase.

Calls, in order, the same public functions ``stages/fused.py`` chains for
the default (uint8 stub engine) configuration, timing each phase around
the call. No Spark: the input is a list of collected page rows. The words
it returns must equal the fused stage's words for the same pages, or the
phase timings do not describe the fused stage and the trace is void.

Pages are replayed one chunk at a time (``CHUNK`` pages, the session's
Arrow batch size), so recognition batches span pages as they do in the
fused stage.
"""

from __future__ import annotations

from collections import defaultdict
from time import perf_counter

import numpy as np

from onnxtr_spark import imaging
from onnxtr_spark.engine import get_detection_engine, get_orientation_engine, get_recognition_engine
from onnxtr_spark.kernels import detect_post, rotated_post, split_merge
from onnxtr_spark.kernels.builder import word_order
from onnxtr_spark.kernels.ctc import ctc_best_path
from onnxtr_spark.kernels.geometry import extract_crops, resize_unpadded
from onnxtr_spark.kernels.rotated import (
    extract_rcrops_nearest,
    rectify_crops,
    rectify_loc_preds,
    word_order_rotated,
)
from onnxtr_spark.kernels.straighten import estimate_orientation
from onnxtr_spark.stages.detect import DetectConfig
from onnxtr_spark.stages.recognize import RecognizeConfig

CHUNK = 64

# phase names, in chain order; each becomes "<phase>.s_per_page" except
# the two straighten phases, which become straighten.<x>_s_per_page
PHASES = (
    "decode", "orient", "straighten.estimate", "straighten.rotate", "resize",
    "detect_post", "rotated_post", "crops", "split", "reco_model", "ctc", "merge", "order",
)


class _Clock:
    def __init__(self):
        self.s = defaultdict(float)

    def add(self, phase: str, t0: float) -> float:
        t1 = perf_counter()
        self.s[phase] += t1 - t0
        return t1


def replay(rows: list[dict], det_cfg: DetectConfig, reco_cfg: RecognizeConfig = RecognizeConfig()):
    """Replay ``rows`` (media_ref, png) through the fused chain.

    Returns (words, phase_seconds, counts): ``words`` maps media_ref to
    the list of (rank, text) the page yields.
    """
    det = get_detection_engine(det_cfg.engine)
    reco = get_recognition_engine(reco_cfg.vocab, reco_cfg.engine)
    orient = get_orientation_engine(det_cfg.orient_engine)
    clk = _Clock()
    counts = defaultdict(int)
    words: dict[str, list[tuple[int, str]]] = {}
    for c0 in range(0, len(rows), CHUNK):
        metas, flat = [], []
        pending = []
        for row in rows[c0 : c0 + CHUNK]:
            t = perf_counter()
            img = imaging.decode_image(row["png"])
            # bytes decode materializes: one plane when the frame is a
            # stride-0 grayscale broadcast, all three otherwise
            counts["decode_bytes"] += img.nbytes if img.strides[2] else img[:, :, 0].nbytes
            img = img[:, :, :1]
            t = clk.add("decode", t)
            counts["pages"] += 1
            if det_cfg.straighten_pages:
                k = orient.run_one(img)
                if k:
                    img = np.ascontiguousarray(np.rot90(img, -k))
                t = clk.add("orient", t)
                pix_thresh = float(np.floor(255.0 - 255.0 * det_cfg.bin_thresh))
                seg = (img[:, :, 0] <= pix_thresh).astype(np.uint8)
                angle = estimate_orientation(seg, (0, 1.0))
                t = clk.add("straighten.estimate", t)
                if angle:
                    img = imaging.rotate_image_nearest(np.ascontiguousarray(img[:, :, 0]), angle)[:, :, None]
                t = clk.add("straighten.rotate", t)
            resized = resize_unpadded(img, det_cfg.map_size, det_cfg.map_size)
            det.simulate_model_cost(1)
            t = clk.add("resize", t)
            if det_cfg.assume_straight_pages:
                boxes = detect_post.postprocess_pixel_map(
                    resized[:, :, 0], det_cfg.bin_thresh, det_cfg.box_thresh, det_cfg.unclip_ratio
                )
                t = clk.add("detect_post", t)
                crops = extract_crops(img, boxes[:, :4].astype(np.float64)) if boxes.shape[0] else []
                polys = None
            else:
                polys5 = rotated_post.postprocess_pixel_map_rotated(
                    resized[:, :, 0], det_cfg.bin_thresh, det_cfg.box_thresh, det_cfg.unclip_ratio
                )
                polys = polys5[:, :4, :].astype(np.float64)
                scores = polys5[:, 4, 1].astype(np.float64)
                boxes = (
                    np.concatenate([rotated_post.polys_to_straight(polys), scores[:, None]], axis=1)
                    if polys.shape[0]
                    else np.zeros((0, 5), dtype=np.float64)
                )
                t = clk.add("rotated_post", t)
                crops = extract_rcrops_nearest(img, polys) if polys.shape[0] else []
            keep = [i for i, c in enumerate(crops) if c.shape[0] > 0 and c.shape[1] > 0]
            crops = [crops[i] for i in keep]
            boxes = boxes[keep] if keep else boxes[:0]
            if polys is not None:
                polys = polys[keep] if keep else polys[:0]
            clk.add("crops", t)
            counts["boxes"] += int(boxes.shape[0])
            meta = {"ref": row["media_ref"], "boxes": boxes, "polys": polys}
            metas.append(meta)
            if polys is not None and crops and not det_cfg.disable_crop_orientation:
                pending.append((meta, crops))
            else:
                _split(meta, crops, flat, reco_cfg, clk, counts)
        if pending:
            t = perf_counter()
            ks = orient.run([c for _, crops in pending for c in crops])
            clk.add("orient", t)
            pos = 0
            for meta, crops in pending:
                t = perf_counter()
                o = [int(k) for k in ks[pos : pos + len(crops)]]
                pos += len(crops)
                meta["polys"] = rectify_loc_preds(meta["polys"], o)
                crops = rectify_crops(crops, o)
                clk.add("orient", t)
                _split(meta, crops, flat, reco_cfg, clk, counts)
        preds: list[tuple[str, float]] = []
        for start in range(0, len(flat), reco_cfg.batch_size):
            t = perf_counter()
            chunk = flat[start : start + reco_cfg.batch_size]
            max_w = max(c.shape[1] for c in chunk)
            batch = np.full((len(chunk), reco_cfg.crop_h, max_w) + chunk[0].shape[2:], 255, dtype=np.uint8)
            for i, c in enumerate(chunk):
                batch[i, : c.shape[0], : c.shape[1]] = c
            counts["batch_cols"] += len(chunk) * max_w
            counts["pad_cols"] += sum(max_w - c.shape[1] for c in chunk)
            logits = reco.run(batch)
            t = clk.add("reco_model", t)
            preds.extend(ctc_best_path(logits, reco_cfg.vocab))
            clk.add("ctc", t)
        for meta in metas:
            if meta["boxes"].shape[0] == 0:
                words[meta["ref"]] = []
                continue
            t = perf_counter()
            page_preds = preds[meta["start"] : meta["start"] + meta["n_splits"]]
            texts = split_merge.remap_preds(page_preds, meta["crop_map"], reco_cfg.overlap_ratio)
            t = clk.add("merge", t)
            if meta["polys"] is not None:
                rank, _ = word_order_rotated(meta["polys"])
            else:
                rank, _ = word_order(meta["boxes"][:, :4])
            clk.add("order", t)
            counts["words"] += len(texts)
            words[meta["ref"]] = sorted((int(r), txt) for r, (txt, _) in zip(rank, texts))
    return words, dict(clk.s), dict(counts)


def _split(meta, crops, flat, reco_cfg, clk, counts) -> None:
    t = perf_counter()
    splits, crop_map, _ = split_merge.split_crops(
        crops, reco_cfg.critical_ar, reco_cfg.target_ar, reco_cfg.overlap_ratio
    )
    meta["crop_map"] = crop_map
    meta["start"] = len(flat)
    meta["n_splits"] = len(splits)
    counts["crops"] += len(crops)
    counts["splits"] += len(splits)
    t = clk.add("split", t)
    flat.extend(resize_unpadded(s, reco_cfg.crop_h, reco_cfg.crop_w) for s in splits)
    clk.add("resize", t)


def layer_metrics(phase_s: dict, counts: dict) -> dict[str, float]:
    """Per-page phase seconds plus the replay's counts and waste ratios."""
    pages = max(counts.get("pages", 0), 1)
    out = {}
    for ph in PHASES:
        name = f"{ph}_s_per_page" if ph.startswith("straighten.") else f"{ph}.s_per_page"
        out[name] = phase_s.get(ph, 0.0) / pages
    out["decode.bytes_per_page"] = counts.get("decode_bytes", 0) / pages
    out["split.splits_per_crop"] = counts.get("splits", 0) / max(counts.get("crops", 0), 1)
    out["reco.pad_frac"] = counts.get("pad_cols", 0) / max(counts.get("batch_cols", 0), 1)
    out["replay.sum_s_per_page"] = sum(phase_s.values()) / pages
    return out
