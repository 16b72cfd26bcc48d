"""Fused detect+recognize stage: page images → ordered word rows.

One ``mapInPandas`` covering both model stages. Rationale (measured, see
BASELINE.md): page blobs are the dominant data volume; keeping detect
and recognize as separate Python stages ships every page across the
JVM↔Python Arrow boundary twice more than necessary. Fusing them means
a page's bytes are decoded exactly once per pipeline and never
re-serialized — the same operator-fusion decision the reference makes
by running both models in one process (models/predictor/predictor.py:
72-154). This is the stage every OCR pipeline runs; the standalone
``detect_pages``/``recognize_pages`` stages remain the public
per-operator API (mirroring the reference's standalone
detection_predictor / recognition_predictor entry points).

The per-chunk work is ``page_ocr.ocr_page_batch``; this module only
binds it to Spark and reports the per-partition metrics row.
"""

from __future__ import annotations

from collections.abc import Iterator
from time import perf_counter

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame

from onnxtr_spark.stages.detect import DetectConfig
from onnxtr_spark.stages.page_ocr import ChunkStats, ocr_page_batch
from onnxtr_spark.stages.recognize import RECOGNIZE_SCHEMA, RecognizeConfig


def detect_recognize_pages(
    pages: DataFrame,
    det_cfg: DetectConfig = DetectConfig(),
    reco_cfg: RecognizeConfig = RecognizeConfig(),
    metrics_acc=None,
) -> DataFrame:
    """Detect + recognize + per-page builder rank in one Arrow pass.

    Float-contract engines (a real CNN) run inside this stage too: P2-P4
    preprocess + forward + the prob-map D1-D6 chain replace the affine
    pixel-map fold, keeping the single-Arrow-crossing plan when models
    get 100× more expensive. Span output is identical either way
    (asserted in test_preprocess_registry.py).

    ``metrics_acc``: optional list accumulator (lineage.metrics_accumulator)
    collecting one per-PARTITION row (partition_id, pages, boxes, words,
    decode_ms, wall_ms) — the north-star lineage metrics (pages decoded,
    boxes detected, words recognized, decode latency). Accumulator
    semantics: task retries may double-count (Spark guarantees
    exactly-once only for actions) — metrics, not bookkeeping; resume
    correctness never depends on them.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t_part = perf_counter()
        stats = ChunkStats()
        for pdf in batches:
            if not pdf.empty:
                yield ocr_page_batch(pdf, det_cfg, reco_cfg, stats)
        if metrics_acc is not None:
            ctx = TaskContext.get()
            metrics_acc.add([(
                int(ctx.partitionId()) if ctx else -1,
                stats.pages, stats.boxes, stats.words,
                round(stats.decode_s * 1000.0, 3),
                round((perf_counter() - t_part) * 1000.0, 3),
            )])

    return pages.mapInPandas(run, schema=RECOGNIZE_SCHEMA)
