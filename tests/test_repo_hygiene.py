"""Repository hygiene: every script has a documented caller, every repo
file and module name the code cites exists, every bi5 option is
documented, every package module is reachable, and the catalog reads
parquet in one place.

Six checks, no Spark:

- each file in ``scripts/`` is named in README.md;
- each ``scripts/<name>.py``, ``plans/r<NN>/``, root
  ``UPPER_CASE.{md,json,jsonl,txt}`` or in-package module path
  (``functions/ohlc.py``, resolved under ``spark_bi5_datasource_spark/``)
  cited in the package, ``tests/`` or ``__spark_entry__.py`` exists;
- each ``<dir>/<module>.<name>`` citation there
  (``sources/layout.compact_bucketed``) names a top-level definition,
  assignment or import of that module, read with ``ast``;
- each option key the bi5 batch and stream readers and the bi5 writer
  read is named in README.md;
- each package module is imported, directly or through other modules,
  from a package ``__init__``, ``__spark_entry__.py``, ``perfbench/``
  or ``scripts/``, or is on ``UNROOTED_SURFACES`` with the document
  that names it;
- no module under ``plans/`` but ``plans/tables.py`` calls
  ``read.parquet``: fixtures load through its schema-pinning reader.
"""

from __future__ import annotations

import ast
import glob
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
_MODULE_NAME = re.compile(
    rf"(?<![\w/.])(?:{PACKAGE}/)?((?:sources|streaming|functions|operators|plans)/[A-Za-z0-9_]+)"
    r"\.([A-Za-z_]\w*)"
)
_OPTION_KEY = re.compile(r'options(?:\.get\(|\[)"([^"]+)"')
BI5_OPTION_READERS = (
    "spark_bi5_datasource_spark/sources/bi5_datasource.py",
    "spark_bi5_datasource_spark/sources/bi5_writer.py",
    "spark_bi5_datasource_spark/streaming/bi5_stream.py",
)
# package modules no root imports, kept because a document offers them
# to users: module -> (document, the phrase there that names it)
UNROOTED_SURFACES = {
    f"{PACKAGE}/plans/scale_audit.py": ("README.md", "explain_scale"),
    f"{PACKAGE}/functions/bi5_udtf.py": ("SURVEY.md", "`bi5_decode` UDTF"),
    f"{PACKAGE}/streaming/tws.py": ("SURVEY.md", "transformWithState"),
}


def _cited_sources() -> list[str]:
    paths = [os.path.join(REPO, "__spark_entry__.py")]
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


def name_citations(text: str) -> set[tuple[str, str]]:
    """``(module path, name)`` for each ``<dir>/<module>.<name>`` cited
    in ``text``; ``<dir>/<module>.py`` is a file citation, not a name."""
    return {
        (f"{PACKAGE}/{module}.py", name)
        for module, name in _MODULE_NAME.findall(text)
        if name != "py"
    }


def top_level_names(rel: str) -> set[str]:
    """Names a module binds at its top level: defs, classes,
    assignments and imports."""
    with open(os.path.join(REPO, rel), encoding="utf-8") as f:
        tree = ast.parse(f.read(), rel)
    names: set[str] = set()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names |= {n.id for n in ast.walk(t) if isinstance(n, ast.Name)}
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names |= {(a.asname or a.name).split(".")[0] for a in node.names}
    return names


def test_name_citations_pattern():
    text = (
        "see sources/layout.compact_bucketed, (plans/round11_ops.text_x)"
        " and spark_bi5_datasource_spark/operators/similarity.rank_topk;"
        " functions/ohlc.py is a file, perfbench/x.y and a/sources/b.c are not"
    )
    assert name_citations(text) == {
        (f"{PACKAGE}/sources/layout.py", "compact_bucketed"),
        (f"{PACKAGE}/plans/round11_ops.py", "text_x"),
        (f"{PACKAGE}/operators/similarity.py", "rank_topk"),
    }


def test_cited_module_names_exist():
    stale = []
    for path in _cited_sources():
        with open(path, encoding="utf-8") as f:
            text = f.read()
        for module, name in sorted(name_citations(text)):
            where = f"{os.path.relpath(path, REPO)}: {module}.{name}"
            if not os.path.exists(os.path.join(REPO, module)):
                stale.append(f"{where} (no such module)")
            elif name not in top_level_names(module):
                stale.append(where)
    assert not stale, "citations of names a module does not define:\n" + "\n".join(
        stale
    )


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
    for rel in BI5_OPTION_READERS:
        with open(os.path.join(REPO, rel), encoding="utf-8") as f:
            keys |= set(_OPTION_KEY.findall(f.read()))
    assert {"path", "digits", "january", "min.age.seconds"} <= keys
    with open(os.path.join(REPO, "README.md"), encoding="utf-8") as f:
        readme = f.read()
    undocumented = sorted(k for k in keys if f"`{k}`" not in readme)
    assert not undocumented, f"bi5 options not named in README.md: {undocumented}"


def _dotted(rel: str) -> str:
    parts = rel[: -len(".py")].split("/")
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported(rel: str) -> set[str]:
    """Dotted names ``rel`` imports anywhere in its body, relative
    imports resolved; ``from m import x`` yields both ``m`` and ``m.x``."""
    with open(os.path.join(REPO, rel), encoding="utf-8") as f:
        tree = ast.parse(f.read(), rel)
    package = _dotted(rel) if rel.endswith("__init__.py") else _dotted(rel).rpartition(".")[0]
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = package.split(".")
                parts = parts[: len(parts) - node.level + 1]
                base = ".".join(parts + ([node.module] if node.module else []))
            names |= {base} | {f"{base}.{a.name}" for a in node.names}
    return names


def unreachable_modules() -> list[str]:
    """Package modules that no root reaches through imports."""
    modules = {
        _dotted(rel): rel
        for rel in (
            os.path.relpath(p, REPO)
            for p in glob.glob(os.path.join(REPO, PACKAGE, "**", "*.py"), recursive=True)
        )
    }
    roots = [rel for rel in modules.values() if rel.endswith("__init__.py")]
    roots.append("__spark_entry__.py")
    for top in ("perfbench", "scripts"):
        roots += [os.path.relpath(p, REPO) for p in glob.glob(os.path.join(REPO, top, "*.py"))]
    seen, todo = set(roots), list(roots)
    while todo:
        for name in _imported(todo.pop()):
            rel = modules.get(name)
            if rel is not None and rel not in seen:
                seen.add(rel)
                todo.append(rel)
    return sorted(set(modules.values()) - seen)


def test_every_module_is_reachable():
    unreachable = unreachable_modules()
    unlisted = [m for m in unreachable if m not in UNROOTED_SURFACES]
    assert not unlisted, f"modules nothing imports (delete them with their tests): {unlisted}"
    assert sorted(UNROOTED_SURFACES) == unreachable, "UNROOTED_SURFACES lists a reachable or missing module"
    for module, (doc, phrase) in UNROOTED_SURFACES.items():
        with open(os.path.join(REPO, doc), encoding="utf-8") as f:
            assert phrase in f.read(), f"{doc} no longer names {module} ({phrase!r})"


def parquet_reads(source: str) -> list[int]:
    """Lines of ``source`` that call ``<x>.read[...].parquet(...)``,
    options or a schema chained in between included."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        if node.func.attr != "parquet":
            continue
        inner = node.func.value
        while isinstance(inner, (ast.Call, ast.Attribute)):
            if isinstance(inner, ast.Attribute) and inner.attr == "read":
                lines.append(node.lineno)
                break
            inner = inner.func if isinstance(inner, ast.Call) else inner.value
    return lines


def test_parquet_reads_pattern():
    source = (
        "spark.read.parquet(p)\n"
        "spark.read.option('a', 1).schema(s).parquet(p)\n"
        "df.write.parquet(p)\n"
        "tables.read_parquet(spark, p)\n"
    )
    assert parquet_reads(source) == [1, 2]


def test_plans_read_parquet_only_through_tables():
    found = []
    for p in sorted(glob.glob(os.path.join(REPO, PACKAGE, "plans", "*.py"))):
        rel = os.path.relpath(p, REPO)
        if rel == f"{PACKAGE}/plans/tables.py":
            continue
        with open(p, encoding="utf-8") as f:
            found += [f"{rel}:{n}" for n in parquet_reads(f.read())]
    assert not found, f"read fixtures through plans.tables.read_parquet: {found}"
