"""Span-equality gate: per-doc output spans against the generator's.

A doc passes when its output sequence of ``(kind, text, media_ref,
offset)`` equals the expected one exactly. A failing doc is classified:
``missing`` (no output rows), ``known:dropped_one_char_word`` (the one
baseline defect this data exposes, see ``_known_drops``), or
``unexplained``. Known defects still count as failed docs; only the other
classes make the run incorrect.
"""

from __future__ import annotations

from collections import Counter, defaultdict

from onnxtr_spark import imaging
from onnxtr_spark.corpus import LINES_PER_PAGE

# Height of a page whose lines all fit without wrapping. Long words wrap
# onto extra rows and make a page taller than this.
STANDARD_PAGE_H = 2 * imaging.MARGIN + (LINES_PER_PAGE - 1) * imaging.LINE_STEP + imaging.CELL_H
# Dropped by the straight path wherever it stands.
ALWAYS_DROPPED = "Ç"


def group_rows(rows) -> dict[str, list[tuple]]:
    """rows: iterable of (doc_id, offset, kind, text, media_ref)."""
    by_doc: dict[str, list[tuple]] = defaultdict(list)
    for doc_id, offset, kind, text, media_ref in rows:
        by_doc[doc_id].append((kind, text, media_ref, int(offset)))
    for spans in by_doc.values():
        spans.sort(key=lambda s: s[3])
    return by_doc


def _known_drops(exp: list[tuple], got: list[tuple], tall_pages: set[str]) -> list[tuple] | None:
    """The expected spans missing from ``got`` when each is an OCR'd
    one-character word, either ``ALWAYS_DROPPED`` or on a page taller than
    ``STANDARD_PAGE_H``, and every other span is intact and in order;
    otherwise None."""
    got3 = [s[:3] for s in got]
    j = 0
    dropped = []
    for s in exp:
        if j < len(got3) and got3[j] == s[:3]:
            j += 1
        elif s[2] and len(s[1]) == 1 and (s[1] == ALWAYS_DROPPED or s[2] in tall_pages):
            dropped.append(s)
        else:
            return None
    return dropped if j == len(got3) else None


class Gate:
    """Accumulates per-doc verdicts over one run. ``tall_pages`` holds the
    media_refs of pages taller than ``STANDARD_PAGE_H``."""

    def __init__(self):
        self.tall_pages: set[str] = set()
        self.attempted = 0
        self.classes: Counter = Counter()
        self.drops: Counter = Counter()  # known-dropped words: ALWAYS_DROPPED, or other on tall pages
        self.first: list[str] = []
        self.structural: list[str] = []

    def check(self, expected: dict[str, list[tuple]], got: dict[str, list[tuple]]) -> None:
        self.attempted += len(expected)
        for doc_id, exp in expected.items():
            out = got.get(doc_id, [])
            if out == exp:
                continue
            dropped = _known_drops(exp, out, self.tall_pages) if out else None
            if not out:
                cls = "missing"
            elif dropped is not None:
                cls = "known:dropped_one_char_word"
                self.drops.update(ALWAYS_DROPPED if s[1] == ALWAYS_DROPPED else "other on tall page" for s in dropped)
            else:
                cls = "unexplained"
            self.classes[cls] += 1
            if len(self.first) < 5:
                diff = next((i for i, (a, b) in enumerate(zip(exp, out)) if a != b), min(len(exp), len(out)))
                self.first.append(
                    f"{doc_id} [{cls}] first difference at offset {diff}: "
                    f"expected {exp[diff] if diff < len(exp) else None} "
                    f"got {out[diff] if diff < len(out) else None} "
                    f"({len(exp)} expected spans, {len(out)} output spans)"
                )
        extra = set(got) - set(expected)
        if extra:
            self.fail_structure(f"{len(extra)} output docs were never submitted")

    def fail_structure(self, msg: str) -> None:
        self.structural.append(msg)

    def fail_docs(self, n: int, why: str) -> None:
        """Docs of a failed group or batch: attempted, all failed."""
        self.attempted += n
        self.classes["failed_job"] += n
        self.fail_structure(why)

    @property
    def failed(self) -> int:
        return sum(self.classes.values())

    @property
    def correct(self) -> bool:
        return not self.structural and set(self.classes) <= {"known:dropped_one_char_word"}

    def report(self) -> list[str]:
        rate = self.failed / max(self.attempted, 1)
        lines = [f"doc_fail_rate {rate:.6f} ratio ({self.failed}/{self.attempted} docs; "
                 + ", ".join(f"{k}={v}" for k, v in sorted(self.classes.items())) + ")"]
        if self.drops:
            lines.append("  known dropped words: " + ", ".join(f"{k!r} x{v}" for k, v in sorted(self.drops.items())))
        lines += [f"  mismatch: {m}" for m in self.first]
        lines += [f"  structural: {m}" for m in self.structural]
        return lines
