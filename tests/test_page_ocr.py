"""Spark-free page-OCR chain (stages/page_ocr.py) on plain pandas chunks.

Every corpus variant goes through ``ocr_page_batch`` with the config
that undoes its distortion, and each document's words, read in
(page, rank) order, must be the generator's golden spans.
"""

import subprocess
import sys

import pandas as pd
import pytest

from onnxtr_spark import corpus, imaging
from onnxtr_spark.stages.detect import DetectConfig
from onnxtr_spark.stages.page_ocr import OUT_COLS, ChunkStats, ocr_page_batch
from onnxtr_spark.stages.recognize import RecognizeConfig


def _skewed_corpus_pdfs(texts):
    """Small-skew variant (ingest.media_from_documents skew_pages=True):
    pages rendered like the rotated-words corpus and rotated by
    ``corpus.small_angle_for`` degrees, for the G4 straighten pass."""
    docs = []
    media = []
    for doc_id, text in texts:
        docs.append({"doc_id": doc_id, "spans": corpus.doc_spans(doc_id, text)})
        pages = corpus.render_doc_pages(
            doc_id, text, cell_w=corpus.R_CELL_W, gap_w=corpus.R_GAP_W, page_w=2 * imaging.PAGE_W
        )
        for p, (ref, img) in enumerate(pages):
            rot = imaging.rotate_image_nearest(img, corpus.small_angle_for(doc_id, p))
            media.append({"media_ref": ref, "png": imaging.encode_image(rot)})
    return pd.DataFrame(docs), pd.DataFrame(media)


def _page_chunk(docs_pdf: pd.DataFrame, media_pdf: pd.DataFrame) -> pd.DataFrame:
    """The fused stage's input rows (doc_id, offset, media_ref, png)."""
    spans = [
        {"doc_id": d, "offset": s["offset"], "media_ref": s["media_ref"]}
        for d, doc_spans in zip(docs_pdf["doc_id"], docs_pdf["spans"])
        for s in doc_spans
        if s["kind"] == "media"
    ]
    return pd.DataFrame(spans).merge(media_pdf[["media_ref", "png"]], on="media_ref")


CASES = {
    "straight": (corpus.build_corpus_pdfs, DetectConfig()),
    "rotated": (corpus.build_rotated_words_corpus_pdfs, DetectConfig(assume_straight_pages=False)),
    "straightened_rot90": (corpus.build_rotated_corpus_pdfs, DetectConfig(straighten_pages=True)),
    "straightened_skew": (_skewed_corpus_pdfs, DetectConfig(straighten_pages=True)),
}
# Known defect, kept visible: estimate_orientation returns 0 for the 1°
# skew of doc-0003's page, so its 55-char word is cropped together with
# the line below and misread ('...fragilistici').
SKEW_1DEG_MISSED = pytest.mark.xfail(
    strict=True, raises=AssertionError, reason="1° skew not estimated on doc-0003"
)


@pytest.mark.parametrize(
    "case",
    [pytest.param(c, marks=SKEW_1DEG_MISSED) if c == "straightened_skew" else c for c in CASES],
)
def test_chunk_words_match_golden_spans(case):
    build, det_cfg = CASES[case]
    chunk = _page_chunk(*build(corpus.FIXTURE_TEXTS))
    stats = ChunkStats()
    out = ocr_page_batch(chunk, det_cfg, RecognizeConfig(), stats)
    assert list(out.columns) == OUT_COLS
    got = out.sort_values(["doc_id", "offset", "rank"])
    for doc_id, text in corpus.FIXTURE_TEXTS:
        rows = got[got.doc_id == doc_id]
        want = corpus.expected_spans(doc_id, text)[1:]
        assert list(zip(rows.text, rows.media_ref)) == [(s["text"], s["media_ref"]) for s in want], doc_id
    n_words = sum(len(corpus.doc_words(t)) for _, t in corpus.FIXTURE_TEXTS)
    assert (stats.pages, stats.boxes, stats.words) == (len(chunk), n_words, n_words)
    assert stats.decode_s > 0


def test_chunking_does_not_change_rows():
    """Recognition batches span the pages of a chunk; how pages are
    chunked and batched must not change any row."""
    chunk = _page_chunk(*corpus.build_corpus_pdfs(corpus.FIXTURE_TEXTS))
    whole = ocr_page_batch(chunk, DetectConfig(), RecognizeConfig(), ChunkStats())
    small = RecognizeConfig(batch_size=5)
    parts = pd.concat(
        [ocr_page_batch(chunk.iloc[i : i + 3], DetectConfig(), small, ChunkStats()) for i in range(0, len(chunk), 3)],
        ignore_index=True,
    )
    pd.testing.assert_frame_equal(whole, parts, check_exact=True)


def test_module_is_spark_free():
    code = "import sys, onnxtr_spark.stages.page_ocr; sys.exit('pyspark' in sys.modules)"
    assert subprocess.run([sys.executable, "-c", code], check=False).returncode == 0
