"""Recognize stage: page images + boxes → ordered word predictions.

One ``mapInPandas`` pass fusing the reference's recognition predictor
(onnxtr/models/recognition/predictor/base.py:42-79) plus the
document-builder's per-page geometry (models/builder.py:42-146). The
phases are the shared ones of ``stages/page_ocr.py``; only the crop
resize is this stage's own:

  G1 crop extraction (co-resident page bytes — the det→reco join)
  → P5 zero-size crop filter (models/predictor/base.py:157-162)
  → W1 wide-crop split (critical_ar=8, target_ar=6, overlap=0.5)
  → P1 resize 32×128 aspect-preserving
  → I4 model forward (P2-P4 first for a float-contract session),
    batched ACROSS pages within the Arrow chunk (the reference flattens
    crops across pages the same way, models/predictor/predictor.py:132;
    reco batch 1024, zoo.py:54)
  → C1 CTC / C2 attention decode, per the engine's DecodeContract
  → W2 merge split predictions (Hamming best-overlap)
  → B1-B3 reading-order rank + line ids (per page — fused here because
    all of a page's boxes are already co-resident; saves the extra
    shuffle an applyInPandas build stage would need).

Output: one row per word —
  doc_id, offset, media_ref, word_id, rank, line_id, block_id,
  xmin, ymin, xmax, ymax, objectness, text, conf

Image bytes are dropped at this boundary (memory: SURVEY.md §7).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from onnxtr_spark import imaging
from onnxtr_spark.engine import EngineConfig, get_recognition_engine
from onnxtr_spark.kernels import split_merge
from onnxtr_spark.kernels.geometry import resize_preserve
from onnxtr_spark.stages.page_ocr import OUT_COLS, PageState, crop_words, recognize, split, word_rows
from onnxtr_spark.vocabs import DEFAULT_VOCAB

RECOGNIZE_SCHEMA = (
    "doc_id string, offset int, media_ref string, word_id int, rank int, line_id int, "
    "block_id int, xmin double, ymin double, xmax double, ymax double, objectness double, "
    "text string, conf double"
)


@dataclass(frozen=True)
class RecognizeConfig:
    crop_h: int = 32  # reference reco input 32×128 (models/recognition/zoo.py)
    crop_w: int = 128
    critical_ar: float = split_merge.CRITICAL_AR
    target_ar: int = split_merge.TARGET_AR
    overlap_ratio: float = split_merge.OVERLAP_RATIO
    # Model batch. The reference uses 1024 (models/recognition/zoo.py:54)
    # for ONNX-session efficiency; our per-batch working set is
    # B×T×C float32 logits, and 256 keeps construction+decode inside
    # cache instead of round-tripping DRAM (measured: DRAM-bound at 32
    # cores with 1024).
    batch_size: int = 256
    vocab: str = DEFAULT_VOCAB
    # The reference recognition Resize pads bottom/right by default and
    # symmetrically on request (recognition/zoo.py:61-66 symmetric_pad,
    # transforms/base.py:59-71); decode is pad-side-invariant (padding
    # is background white), asserted in test_zoo.py.
    symmetric_pad: bool = False
    # B1-B3 always run; B4 block clustering is off by default like the
    # reference (models/builder.py:33 resolve_blocks=False)
    resolve_blocks: bool = False
    # session resolution (model registry / EngineConfig analog)
    engine: EngineConfig = EngineConfig(arch="stub_crnn")


def recognize_pages(detected: DataFrame, cfg: RecognizeConfig = RecognizeConfig()) -> DataFrame:
    """Run recognition + per-page builder geometry over detect output."""
    # Fixed crop_h×crop_w input with background-white pad: the stub
    # model classifies columns by darkest pixel, so black padding would
    # mask every glyph in height-padded (wide) crops.
    resize = partial(
        resize_preserve, target_h=cfg.crop_h, target_w=cfg.crop_w,
        symmetric_pad=cfg.symmetric_pad, pad_value=255,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        engine = get_recognition_engine(cfg.vocab, cfg.engine)
        for pdf in batches:
            if pdf.empty:
                continue
            pages: list[PageState] = []
            flat: list[np.ndarray] = []
            for doc_id, offset, media_ref, png, raw in zip(
                pdf["doc_id"], pdf["offset"], pdf["media_ref"], pdf["png"], pdf["boxes"]
            ):
                blist = [np.asarray(b, dtype=np.float64) for b in raw] if raw is not None else []
                boxes = np.stack(blist) if blist else np.zeros((0, 5), dtype=np.float64)
                img = imaging.decode_image(png) if boxes.shape[0] else None
                boxes, _, crops = crop_words(img, boxes, straight=True)
                page = PageState((doc_id, int(offset), media_ref), boxes, None)
                pages.append(page)
                split(page, crops, flat, cfg, resize)
            rows = word_rows(pages, recognize(flat, cfg, engine), cfg)
            yield pd.DataFrame(rows, columns=OUT_COLS)

    return detected.mapInPandas(run, schema=RECOGNIZE_SCHEMA)
