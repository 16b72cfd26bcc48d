"""Detect stage: page images → relative word boxes.

One ``mapInPandas`` pass fusing the reference's detection predictor
(onnxtr/models/detection/predictor/base.py:35-67): decode → P1 resize
with aspect-preserving symmetric pad → I2 model run (batched) → sigmoid
prob map → D1-D6 postprocess → P8 padding removal.

Input columns : doc_id, offset, media_ref, png, height, width
Output columns: doc_id, offset, media_ref, png, height, width,
                boxes array<array<double>>  ([xmin,ymin,xmax,ymax,score])

Page bytes are passed through so the recognize stage can crop without a
second join against the media table (SURVEY.md §2.5 G1: the det→reco
join is explode + co-resident slicing, never a shuffle join).

Scale notes:
- pages are embarrassingly parallel; upstream salt-repartition by
  media_ref spreads a 1000-page document across tasks (north_rule skew).
- the model session is a per-worker singleton (engine.py), so executor
  reuse amortizes model load at 10^12-doc scale.
- Arrow batches are kept small (see session.py maxRecordsPerBatch) since
  each record carries ~1 MB of image bytes.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from onnxtr_spark import imaging
from onnxtr_spark.engine import EngineConfig, get_detection_engine
from onnxtr_spark.kernels import detect_post
from onnxtr_spark.kernels.geometry import resize_preserve, resize_stretch
from onnxtr_spark.kernels.preprocess import preprocess_samples
from onnxtr_spark.stages.page_ocr import is_float, localize

DETECT_SCHEMA = (
    "doc_id string, offset int, media_ref string, png binary, height int, width int, "
    "boxes array<array<double>>"
)


# Per-architecture postprocess defaults, the reference's default_cfgs
# pattern: DBNet binarizes at 0.3 (models/detection/models/
# differentiable_binarization.py:59-60) while FAST and LinkNet use 0.1
# (fast.py:57-58, linknet.py:59-60); box_thresh is 0.1 and unclip 1.5
# (postprocessor/base.py:36) across the family. Keyed by family prefix
# so every variant ("db_resnet50", "db_mobilenet_v3_large", ...) and
# the stub archs ("stub_db_float") resolve without enumeration.
DET_DEFAULT_CFGS: dict[str, tuple[float, float, float]] = {
    "db": (0.3, 0.1, 1.5),
    "fast": (0.1, 0.1, 1.5),
    "linknet": (0.1, 0.1, 1.5),
}


def det_thresholds_for(arch: str) -> tuple[float, float, float]:
    """(bin_thresh, box_thresh, unclip_ratio) for a detection arch."""
    family = arch.removeprefix("stub_")
    for prefix, t in DET_DEFAULT_CFGS.items():
        if family.startswith(prefix):
            return t
    return (detect_post.BIN_THRESH, detect_post.BOX_THRESH, detect_post.UNCLIP_RATIO)


@dataclass(frozen=True)
class DetectConfig:
    map_size: int = 512  # detection model input (reference uses 1024, models/zoo.py:22)
    bin_thresh: float = detect_post.BIN_THRESH
    box_thresh: float = detect_post.BOX_THRESH
    unclip_ratio: float = detect_post.UNCLIP_RATIO
    # The reference Resize contract (transforms/base.py:41-86): keep
    # aspect ratio and pad (symmetrically or bottom/right), or stretch
    # anisotropically; remove_padding inverts the pad on the emitted
    # relative boxes (_utils/base.py:12-62). All four combinations are
    # span-equivalent on the same pages — only the map geometry differs.
    preserve_aspect_ratio: bool = True
    symmetric_pad: bool = True
    batch_size: int = 2  # reference det batch size (models/zoo.py:22)
    # loc_preds hooks (reference OCRPredictor.add_hook,
    # models/predictor/base.py:77,204-210, applied predictor.py:112-113):
    # callables (N,5) -> (N,5) applied to each page's boxes after
    # postprocess+unpad, inside the executor stage. Must be picklable
    # (top-level functions).
    hooks: tuple = ()
    # I5/G4 analog (reference straighten_pages flag, models/zoo.py:19-27;
    # predictor/base.py:102-124): classify page orientation and rectify
    # with rot90 before detection. Off by default like the reference.
    straighten_pages: bool = False
    # Rotated-word path (reference assume_straight_pages flag,
    # models/zoo.py:19-27): when False, detection emits (N,4,2) polygons
    # (kernels/rotated_post.py), recognition crops along them
    # (kernels/rotated.extract_rcrops_nearest), the builder uses the
    # rotated sort/line kernels, and exported geometry is the B7
    # enclosing straight box (models/builder.py:322-326). Wired in the
    # fused stage (stages/fused.py); the standalone detect stage is
    # straight-only (its output schema carries straight boxes) and
    # rejects this flag and straighten_pages.
    assume_straight_pages: bool = True
    # G3 crop-orientation rectification inside the rotated path
    # (reference disable_crop_orientation flag, models/zoo.py:19-27 —
    # the classifier is ON by default when assume_straight_pages=False).
    disable_crop_orientation: bool = False
    # Model registry / EngineConfig analog (reference models/engine.py:
    # 33-90 + factory/hub.py): which session the stage resolves. The
    # default stub consumes raw uint8 pages (the folded fast path); a
    # float-contract engine (input_contract="float_bchw"/"float_bhwc")
    # gets the REAL P1-P4 preprocess (kernels/preprocess.py) ahead of
    # the session — a real ONNX model drops in via config only.
    engine: EngineConfig = EngineConfig()
    # Orientation-classifier engine (reference clf_engine_cfg,
    # models/zoo.py:79/139): resolves the I5/G3 classifier session; None
    # = the registry default (stub_mobilenet_orient).
    orient_engine: EngineConfig | None = None


def detect_pages(pages: DataFrame, cfg: DetectConfig = DetectConfig()) -> DataFrame:
    """Run detection over a pages DataFrame.

    The model sees fixed-shape padded batches (the reference
    PreProcessor contract); boxes are straight and page-relative, so
    ``straighten_pages`` and ``assume_straight_pages=False`` — which
    change the page or the box shape — are rejected: run those through
    ``fused.detect_recognize_pages``."""
    if cfg.straighten_pages or not cfg.assume_straight_pages:
        raise ValueError(
            "detect_pages emits straight boxes of the stored page; "
            "straighten_pages=True and assume_straight_pages=False run in "
            "fused.detect_recognize_pages"
        )
    map_size, batch_size = cfg.map_size, cfg.batch_size

    def model_batch(imgs: list[np.ndarray]) -> np.ndarray:
        if is_float(cfg.engine):
            # real-CNN contract: P1-P4 preprocess ahead of the session
            fmt = "BCHW" if cfg.engine.input_contract == "float_bchw" else "BHWC"
            return preprocess_samples(
                imgs, map_size, map_size, batch_size,
                mean=cfg.engine.mean, std=cfg.engine.std, output_format=fmt,
                pad_value=255,
                symmetric_pad=cfg.symmetric_pad,
                preserve_aspect_ratio=cfg.preserve_aspect_ratio,
            )[0]
        if cfg.preserve_aspect_ratio:
            return np.stack([resize_preserve(img, map_size, map_size, cfg.symmetric_pad, 255) for img in imgs])
        return np.stack([resize_stretch(img, map_size, map_size) for img in imgs])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        engine = get_detection_engine(cfg.engine)
        for pdf in batches:
            if pdf.empty:
                continue
            out_boxes: list[list[list[float]]] = []
            pngs, heights, widths = pdf["png"].tolist(), pdf["height"].tolist(), pdf["width"].tolist()
            # I1 micro-batching: fixed-size model batches inside the Arrow chunk
            # (reference PreProcessor.batch_inputs, models/preprocessor/base.py:44-59).
            for start in range(0, len(pdf), batch_size):
                imgs = [imaging.decode_image(b) for b in pngs[start : start + batch_size]]
                prob_maps = engine.run(model_batch(imgs))  # B×H×W float32 in [0,1]
                for i, prob in enumerate(prob_maps):
                    boxes = localize(
                        prob, cfg, int(heights[start + i]), int(widths[start + i]),
                        pixel_map=False, padded=True,
                    )
                    out_boxes.append([b.tolist() for b in boxes.astype(np.float64)])
            res = pdf[["doc_id", "offset", "media_ref", "png", "height", "width"]].copy()
            res["boxes"] = out_boxes
            yield res

    return pages.mapInPandas(run, schema=DETECT_SCHEMA)
