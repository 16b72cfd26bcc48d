"""Every top-level def and class of the library, jobs and tools is used.

An ``ast`` scan collects the top-level, non-dunder functions and classes
of ``onnxtr_spark/``, ``jobs/``, ``tools/`` and ``__spark_entry__.py``.
Each name must occur, as a whole word, somewhere in the repo's ``.py``
files (tests, benchmarks and scripts included) besides its own
definition. A name found nowhere else is dead code: delete it.
"""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCANNED = ("onnxtr_spark", "jobs", "tools", "__spark_entry__.py")


def _py_files() -> list[Path]:
    return [
        p for p in ROOT.rglob("*.py")
        if not any(part.startswith(".") or part == "spark-warehouse" for part in p.relative_to(ROOT).parts)
    ]


def _top_level_names(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        node.name
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not (node.name.startswith("__") and node.name.endswith("__"))
    ]


def test_no_unreferenced_top_level_defs():
    files = _py_files()
    words = Counter(w for p in files for w in re.findall(r"\w+", p.read_text()))
    scanned = [p for p in files if p.relative_to(ROOT).parts[0] in SCANNED]
    assert scanned
    unreferenced = [
        f"{path.relative_to(ROOT)}:{name}"
        for path in scanned
        for name in _top_level_names(path)
        if words[name] <= 1
    ]
    assert unreferenced == []
