"""Repository hygiene: every script has a documented caller, every repo
file the code cites exists, and every bi5 reader option is documented.

Three checks, no Spark:

- each file in ``scripts/`` is named in README.md;
- each ``scripts/<name>.py``, ``plans/r<NN>/``, root
  ``UPPER_CASE.{md,json,jsonl,txt}`` or in-package module path
  (``functions/ohlc.py``, resolved under ``spark_bi5_datasource_spark/``)
  cited in the package, ``tests/``, ``bench.py`` or
  ``__spark_entry__.py`` exists;
- each option key the bi5 batch and stream readers read is named in
  README.md.
"""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# citations of the reference repository's own files, not of this one
REFERENCE_CITATIONS = {"scripts/bi5_to_csv.py"}

_SCRIPT = re.compile(r"scripts/[A-Za-z0-9_]+\.py")
_PLAN_DUMPS = re.compile(r"(?<![\w/])plans/r\d+\b")
_ROOT_DOC = re.compile(
    r"(?<![\w/.{-])[A-Z][A-Z0-9]*(?:_[A-Za-z0-9]+)*\.(?:md|jsonl|json|txt)\b"
)
PACKAGE = "spark_bi5_datasource_spark"
_MODULE = re.compile(
    rf"(?<![\w/.])(?:{PACKAGE}/)?((?:sources|streaming|functions|operators|plans)/[A-Za-z0-9_]+\.py)"
)
_OPTION_KEY = re.compile(r'options(?:\.get\(|\[)"([^"]+)"')
BI5_READERS = (
    "spark_bi5_datasource_spark/sources/bi5_datasource.py",
    "spark_bi5_datasource_spark/streaming/bi5_stream.py",
)


def _cited_sources() -> list[str]:
    paths = [os.path.join(REPO, "bench.py"), os.path.join(REPO, "__spark_entry__.py")]
    for top in ("spark_bi5_datasource_spark", "tests"):
        for root, _dirs, files in os.walk(os.path.join(REPO, top)):
            paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    # this file's own pattern test cites examples on purpose
    return sorted(p for p in paths if p != os.path.abspath(__file__))


def citations(text: str) -> set[str]:
    """Repo paths cited in ``text``, relative to the repo root."""
    found = set(_SCRIPT.findall(text)) | set(_PLAN_DUMPS.findall(text))
    found |= set(_ROOT_DOC.findall(text))
    found |= {f"{PACKAGE}/{m}" for m in _MODULE.findall(text)}
    return found - REFERENCE_CITATIONS


def test_citations_pattern():
    text = (
        "see scripts/plan_audit.py, plans/r14/q21.txt, BENCH_r02.json,"
        " R14_CODEC_AB.jsonl, HISTORY.md, plans/round4_ops.py (functions/ohlc.py)"
        " and spark_bi5_datasource_spark/sources/bi5_datasource.py;"
        " perfbench/data/X.json, perfbench/functions/x.py, CORRECTNESS_r{N}.json"
        " and the reference's scripts/bi5_to_csv.py are not citations"
    )
    assert citations(text) == {
        "scripts/plan_audit.py",
        "plans/r14",
        "BENCH_r02.json",
        "R14_CODEC_AB.jsonl",
        "HISTORY.md",
        "spark_bi5_datasource_spark/plans/round4_ops.py",
        "spark_bi5_datasource_spark/functions/ohlc.py",
        "spark_bi5_datasource_spark/sources/bi5_datasource.py",
    }


def test_every_script_is_documented():
    with open(os.path.join(REPO, "README.md"), encoding="utf-8") as f:
        readme = f.read()
    scripts = sorted(os.listdir(os.path.join(REPO, "scripts")))
    undocumented = [s for s in scripts if f"scripts/{s}" not in readme]
    assert not undocumented, (
        f"scripts without a documented caller in README.md: {undocumented}"
    )


def test_cited_repo_files_exist():
    missing = []
    for path in _cited_sources():
        with open(path, encoding="utf-8") as f:
            text = f.read()
        for cited in sorted(citations(text)):
            if not os.path.exists(os.path.join(REPO, cited)):
                missing.append(f"{os.path.relpath(path, REPO)}: {cited}")
    assert not missing, "citations of files that do not exist:\n" + "\n".join(
        missing
    )


def test_every_bi5_option_is_documented():
    keys = set()
    for rel in BI5_READERS:
        with open(os.path.join(REPO, rel), encoding="utf-8") as f:
            keys |= set(_OPTION_KEY.findall(f.read()))
    assert {"path", "digits", "january", "min.age.seconds"} <= keys
    with open(os.path.join(REPO, "README.md"), encoding="utf-8") as f:
        readme = f.read()
    undocumented = sorted(k for k in keys if f"`{k}`" not in readme)
    assert not undocumented, f"bi5 options not named in README.md: {undocumented}"
