"""Seeded input generator: documents, interleaved docs, expected spans.

Everything here is driver-side pure Python; the same (seed, workload)
always yields the same inputs.

- ``documents`` rows are ``(doc_id, text)``: the text is the doc's OCR
  words, so ``stages.ingest.media_from_documents`` renders page ``p`` of a
  doc from words ``[30p, 30p + 30)``.
- ``docs`` rows are ``(doc_id, spans)`` in the ``input_hint`` shape: a
  header text span, then every page's media span, with pass-through
  text spans interleaved between them.
- ``expected`` maps doc_id to the span sequence a correct extraction
  returns: ``(kind, text, media_ref, offset)`` with each media span
  replaced by its page's words in reading order and offsets dense from 0.

The mix follows the sf0.01 test corpus where it has a measured
counterpart (figures and source in ``design.json`` under ``input_mix``):
docs of 10-99 words, so 1-4 pages, and short-word lengths from its length
histogram. Two parts have no measured source and are stated choices: a
10% tail of long words, because the test corpora hold no word over 8
characters and ``split_merge`` would otherwise never run, and one long doc
per landing batch, 20 pages, the middle of FIXTURES.md's 8-32 page
long-doc range.

Characters come from the full ``vocabs.DEFAULT_VOCAB``. A straight word
crop is ~40 px high after unclip, so words past ~38 characters cross the
aspect-ratio split threshold, and the 580 px line fits 72 characters
(``STRAIGHT_MAX_LEN`` stays below); rotated and skewed pages use 10 px
cells and 6 px gaps, which split past ~20 characters and fit 36
(``WIDE_CELL_MAX_LEN`` stays below).
Nothing is filtered out, so known extraction defects stay visible.
"""

from __future__ import annotations

import random

from onnxtr_spark.corpus import WORDS_PER_PAGE
from onnxtr_spark.vocabs import DEFAULT_VOCAB

STRAIGHT_MAX_LEN = 64
WIDE_CELL_MAX_LEN = 32
# sf0.01 documents.parquet: word count by length (27165 words, none longer)
SHORT_LEN_COUNTS = {1: 880, 3: 4482, 4: 8187, 5: 8129, 6: 4553, 8: 934}
LONG_WORD_SHARE = 0.10  # no measured source; see the module docstring
DOC_WORDS = (10, 99)  # sf0.01: words per doc, about uniform over this range
LONG_DOC_PAGES = 20  # middle of FIXTURES.md's 8-32 media spans per long doc
PASS_THROUGH_WORDS = (1, 6)  # FIXTURES.md: its fixture pages hold 1-6 words


def _word(rng: random.Random, max_len: int) -> str:
    if rng.random() < LONG_WORD_SHARE:
        n = rng.randint(9, max_len)
    else:
        n = rng.choices(list(SHORT_LEN_COUNTS), weights=list(SHORT_LEN_COUNTS.values()))[0]
    return "".join(rng.choice(DEFAULT_VOCAB) for _ in range(n))


def make_doc(
    rng: random.Random, doc_id: str, n_words: int, max_len: int = STRAIGHT_MAX_LEN
) -> tuple[dict, dict, list[tuple]]:
    """One document of ``n_words`` OCR'd words: (documents row, docs row,
    expected spans). Half the media spans are followed by a pass-through
    text span."""
    n_pages = -(-n_words // WORDS_PER_PAGE)
    words = [_word(rng, max_len) for _ in range(n_words)]
    spans = [("text", f"doc:{doc_id}", "")]
    for p in range(n_pages):
        spans.append(("media", "", f"m-{doc_id}-{p}"))
        if rng.random() < 0.5:
            spans.append(("text", " ".join(_word(rng, max_len) for _ in range(rng.randint(*PASS_THROUGH_WORDS))), ""))
    in_spans = [
        {"kind": k, "text": t, "media_ref": m, "offset": i} for i, (k, t, m) in enumerate(spans)
    ]
    expected: list[tuple] = []
    for kind, text, ref in spans:
        if kind == "text":
            expected.append(("text", text, ""))
        else:
            p = int(ref.rsplit("-", 1)[1])
            expected.extend(("text", w, ref) for w in words[p * WORDS_PER_PAGE : (p + 1) * WORDS_PER_PAGE])
    expected = [(k, t, m, i) for i, (k, t, m) in enumerate(expected)]
    return (
        {"doc_id": doc_id, "text": " ".join(words)},
        {"doc_id": doc_id, "spans": in_spans},
        expected,
    )


def backfill_corpus(seed: int, tag: str, target_pages: int):
    """Docs of ``DOC_WORDS`` words until ``target_pages`` pages exist
    (the last doc is cut to fit)."""
    rng = random.Random(f"{tag}:{seed}")
    documents, docs, expected = [], [], {}
    pages = 0
    i = 0
    while pages < target_pages:
        n_words = min(rng.randint(*DOC_WORDS), WORDS_PER_PAGE * (target_pages - pages))
        doc_id = f"{tag}{seed}-{i}"
        d, s, e = make_doc(rng, doc_id, n_words)
        documents.append(d)
        docs.append(s)
        expected[doc_id] = e
        pages += -(-n_words // WORDS_PER_PAGE)
        i += 1
    return documents, docs, expected, pages


def landing_batches(seed: int, n_batches: int, small_docs: int):
    """Heavy-tailed landing batches: ``small_docs`` one-page docs plus one
    ``LONG_DOC_PAGES``-page doc per batch. Every batch has the same page
    count, so a seed changes the words, not the batch size."""
    rng = random.Random(f"land:{seed}")
    batches = []
    for b in range(n_batches):
        documents, docs, expected = [], [], {}
        long_words = WORDS_PER_PAGE * (LONG_DOC_PAGES - 1) + rng.randint(1, WORDS_PER_PAGE)
        sizes = [rng.randint(DOC_WORDS[0], WORDS_PER_PAGE) for _ in range(small_docs)] + [long_words]
        rng.shuffle(sizes)
        for i, n_words in enumerate(sizes):
            doc_id = f"land{seed}-{b}-{i}"
            d, s, e = make_doc(rng, doc_id, n_words)
            documents.append(d)
            docs.append(s)
            expected[doc_id] = e
        batches.append((documents, docs, expected))
    return batches


def wide_cell_documents(seed: int, n_pages: int) -> list[dict]:
    """One-page documents rows whose words fit the rotated/skewed
    renderers' wider cells."""
    rng = random.Random(f"wide:{seed}")
    return [
        make_doc(rng, f"wide{seed}-{i}", rng.randint(DOC_WORDS[0], WORDS_PER_PAGE), WIDE_CELL_MAX_LEN)[0]
        for i in range(n_pages)
    ]
