"""Docs honesty checks (reference pattern: tests/test_docs.py asserts
README == docs/index.md; example files are executed by
tests/test_examples.py)."""

from __future__ import annotations

import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _read(*parts: str) -> str:
    with open(os.path.join(ROOT, *parts)) as fh:
        return fh.read()


def test_readme_matches_docs_index():
    assert _read("README.md") == _read("docs", "index.md")


def test_concept_pages_reference_real_things():
    """Every module path and examples/ file mentioned in concept pages
    must exist — docs can't drift to deleted code."""
    docs_dir = os.path.join(ROOT, "docs", "concepts")
    for page in os.listdir(docs_dir):
        text = _read("docs", "concepts", page)
        for mod in re.findall(r"`(beavers_spark[.\w]*)`", text):
            # may name a module or a module.Attribute — accept either
            parts = mod.split(".")
            candidates = [parts, parts[:-1]] if len(parts) > 1 else [parts]
            assert any(
                os.path.exists(os.path.join(ROOT, *c[:-1], c[-1] + ".py"))
                or os.path.isdir(os.path.join(ROOT, *c))
                for c in candidates
                if c
            ), f"{page}: {mod}"
        for ex in re.findall(r"`(examples/[\w.]+)`", text):
            assert os.path.exists(os.path.join(ROOT, ex)), f"{page}: {ex}"
        for tool in re.findall(r"`(tools/[\w.]+)`", text):
            assert os.path.exists(os.path.join(ROOT, tool)), f"{page}: {tool}"


def test_coverage_cites_real_tests_and_names():
    """Every ``test_*.py`` file and every ``path.py::Name`` COVERAGE.md
    cites must exist — a deleted module or test cannot leave a stale
    row. Paths resolve under ``tests/`` or ``beavers_spark/``; a Name
    must be defined at module level (``def``/``class``/assignment) or
    as a method of that module."""
    text = _read("COVERAGE.md")

    def resolve(rel: str) -> str | None:
        for base in ("", "tests", "beavers_spark"):
            full = os.path.join(ROOT, base, rel)
            if os.path.isfile(full):
                return full
        return None

    for name in set(re.findall(r"\btest_\w+\.py\b", text)):
        assert os.path.isfile(os.path.join(ROOT, "tests", name)), name
    for rel, names in set(re.findall(r"([\w/]+\.py)::([\w/]+)", text)):
        full = resolve(rel)
        assert full is not None, rel
        with open(full) as fh:
            src = fh.read()
        for name in names.split("/"):
            assert re.search(
                rf"^\s*(?:async\s+)?(?:def|class)\s+{name}\b|^{name}\s*=",
                src,
                re.M,
            ), f"{rel}::{name}"
