"""Repository hygiene: every script has a documented caller, every repo
file and module name the code cites exists, every bi5 option is
documented, every package def is reachable, and the catalog reads
parquet in one place.

Checks, no Spark:

- each file in ``scripts/`` is named in README.md;
- each ``scripts/<name>.py``, ``plans/r<NN>/``, root
  ``UPPER_CASE.{md,json,jsonl,txt}`` or in-package module path
  (``functions/ohlc.py``, resolved under ``spark_bi5_datasource_spark/``)
  cited in the package, ``tests/`` or ``__spark_entry__.py`` exists;
- each ``<dir>/<module>.<name>`` citation there
  (``sources/layout.write_bucketed``) names a top-level definition,
  assignment or import of that module, read with ``ast``;
- each option key the bi5 batch and stream readers and the bi5 writer
  read is named in README.md;
- each package module, and each top-level def and class in it, is
  reached from a root (``__spark_entry__.py``, ``perfbench/``,
  ``scripts/``, a catalog query or a package ``__init__``'s
  ``__all__``), or is on ``UNROOTED_SURFACES`` with the document that
  names it; and each ``__all__`` name is used by reached code or named
  by a test;
- no module under ``plans/`` but ``plans/tables.py`` calls
  ``read.parquet``: fixtures load through its schema-pinning reader;
- no two module-level constants hold the same string, and no string
  literal spells out (whitespace aside) a 40-character-or-longer
  module-level string held by another binding: shared oracle fragments
  are interpolated, not copied.
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
# package modules and defs no root reaches, kept because a document
# offers them to users: "<module path>" (a module and the names in its
# __all__) or "<module path>:<def>" -> (document, the phrase there
# that names it)
UNROOTED_SURFACES = {
    f"{PACKAGE}/plans/scale_audit.py": ("README.md", "explain_scale"),
    f"{PACKAGE}/functions/bi5_udtf.py": ("SURVEY.md", "`bi5_decode` UDTF"),
    f"{PACKAGE}/sources/layout.py:validate_bucketed": ("README.md", "`validate_bucketed`"),
    f"{PACKAGE}/sources/layout.py:bucket_fragmentation": ("README.md", "`bucket_fragmentation`"),
    f"{PACKAGE}/sources/layout.py:compact_buckets_selective": (
        "README.md",
        "`compact_buckets_selective`",
    ),
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
        " R14_CODEC_AB.jsonl, HISTORY.md, plans/text_ops.py (functions/ohlc.py)"
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
        "spark_bi5_datasource_spark/plans/text_ops.py",
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
        "see sources/layout.write_bucketed, (plans/text_ops.text_x)"
        " and spark_bi5_datasource_spark/operators/similarity.rank_topk;"
        " functions/ohlc.py is a file, perfbench/x.y and a/sources/b.c are not"
    )
    assert name_citations(text) == {
        (f"{PACKAGE}/sources/layout.py", "write_bucketed"),
        (f"{PACKAGE}/plans/text_ops.py", "text_x"),
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


def _is_all(stmt: ast.stmt) -> bool:
    return isinstance(stmt, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in stmt.targets
    )


class ReferenceGraph:
    """Which top-level defs and classes of the package refer to which.

    Built from ``sources`` (repo-relative path -> source text): the
    package modules plus the root files.  Nodes are ``<path>`` for a
    module's top-level statements, which run when it is imported, and
    ``<path>:<name>`` for each top-level def and class; a top-level
    assignment's name is a node too, with its right-hand side counted
    among the module's statements.  A unit refers to a name through a
    bare name, an import binding (package re-exports followed to the
    defining module) or an attribute of an imported module.  Importing
    a module refers to its top-level statements and those of its
    parent packages, but not to the names the import binds, and
    ``__all__`` strings refer to nothing: re-exporting a def does not
    reach it.  Local names that shadow a top-level name count as
    references, so a def this reports as unreached really is.

    Roots: every root file (whole), every def registered with
    ``plans.registry.query``, and the names in each package
    ``__init__``'s ``__all__``."""

    def __init__(self, sources: dict[str, str]):
        self.trees = {_dotted(rel): (rel, ast.parse(src, rel)) for rel, src in sources.items()}
        self.defs: dict[str, dict[str, ast.AST]] = {}
        self.assigned: dict[str, set[str]] = {}
        for dotted, (_rel, tree) in self.trees.items():
            self.defs[dotted] = {
                n.name: n
                for n in tree.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            }
            self.assigned[dotted] = {
                t.id
                for n in tree.body
                if isinstance(n, (ast.Assign, ast.AnnAssign))
                for t in ast.walk(n.targets[0] if isinstance(n, ast.Assign) else n.target)
                if isinstance(t, ast.Name)
            }
        self.bindings = {
            dotted: self._bindings(dotted, [n for n in tree.body if isinstance(n, (ast.Import, ast.ImportFrom))])
            for dotted, (_rel, tree) in self.trees.items()
        }
        self.edges: dict[str, set[str]] = {}
        self.roots: set[str] = set()
        for dotted, (rel, tree) in self.trees.items():
            if not rel.startswith(PACKAGE + "/"):
                self.roots.add(rel)
                self.edges[rel] = self._refs(dotted, tree.body, tree.body)
                continue
            defs = self.defs[dotted]
            body = [n for n in tree.body if n not in defs.values()]
            self.edges[rel] = self._refs(dotted, body, []) | self._parents(dotted)
            for name, node in defs.items():
                self.edges[f"{rel}:{name}"] = self._refs(dotted, [node], [node]) | {rel}
                if self._registered(dotted, node):
                    self.roots.add(f"{rel}:{name}")
            if rel.endswith("__init__.py"):
                self.roots |= {self.key(t) for t in self.all_targets(rel)}

    # -- name resolution -------------------------------------------------

    def _base(self, dotted: str, node: ast.ImportFrom) -> str:
        if not node.level:
            return node.module or ""
        package = dotted if self.trees[dotted][0].endswith("__init__.py") else dotted.rpartition(".")[0]
        parts = package.split(".")
        parts = parts[: len(parts) - node.level + 1]
        return ".".join(parts + ([node.module] if node.module else []))

    def _bindings(self, dotted: str, scope: list[ast.AST]) -> dict[str, tuple]:
        """Names the imports anywhere in ``scope`` bind: a module
        ``("mod", dotted)`` or a module's name ``("name", dotted, name)``."""
        out: dict[str, tuple] = {}
        for stmt in scope:
            for node in ast.walk(stmt):
                if isinstance(node, ast.Import):
                    for a in node.names:
                        if a.asname:
                            out[a.asname] = ("mod", a.name)
                        else:
                            out[a.name.split(".")[0]] = ("mod", a.name.split(".")[0])
                elif isinstance(node, ast.ImportFrom):
                    base = self._base(dotted, node)
                    for a in node.names:
                        full = f"{base}.{a.name}"
                        out[a.asname or a.name] = ("mod", full) if full in self.trees else ("name", base, a.name)
        return out

    def resolve(self, dotted: str, name: str, _seen: tuple = ()) -> tuple | None:
        """``dotted.name`` as ``("mod", module)`` or ``("name", module,
        name)`` where ``module`` defines ``name``; None outside the
        sources."""
        if f"{dotted}.{name}" in self.trees:
            return ("mod", f"{dotted}.{name}")
        if dotted not in self.trees or (dotted, name) in _seen:
            return None
        if name in self.defs[dotted] or name in self.assigned[dotted]:
            return ("name", dotted, name)
        target = self.bindings[dotted].get(name)
        if target is None or target[0] == "mod":
            return target
        return self.resolve(target[1], target[2], _seen + ((dotted, name),))

    def key(self, target: tuple) -> str:
        rel = self.trees[target[1]][0]
        return rel if target[0] == "mod" else f"{rel}:{target[2]}"

    def _lookup(self, dotted: str, name: str, bound: dict[str, tuple]) -> tuple | None:
        if name in self.defs[dotted] or name in self.assigned[dotted]:
            return ("name", dotted, name)
        target = bound.get(name)
        if target is None or target[0] == "mod":
            return target
        return self.resolve(target[1], target[2])

    def _refs(self, dotted: str, nodes: list[ast.AST], scope: list[ast.AST]) -> set[str]:
        """Keys ``nodes`` refer to; imports inside ``scope`` bind too."""
        bound = {**self.bindings[dotted], **self._bindings(dotted, scope)}
        found: list[tuple] = []
        for stmt in nodes:
            for node in ast.walk(stmt):
                if isinstance(node, ast.Import):
                    found += [("mod", a.name) for a in node.names]
                elif isinstance(node, ast.ImportFrom):
                    base = self._base(dotted, node)
                    found += [("mod", base)] + [("mod", f"{base}.{a.name}") for a in node.names]
                elif isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                    found.append(self._lookup(dotted, node.id, bound))
                elif isinstance(node, ast.Attribute):
                    chain = []
                    while isinstance(node, ast.Attribute):
                        chain.append(node.attr)
                        node = node.value
                    target = self._lookup(dotted, node.id, bound) if isinstance(node, ast.Name) else None
                    for attr in reversed(chain):
                        if target is None or target[0] != "mod":
                            break
                        target = self.resolve(target[1], attr)
                        found.append(target)
        return {self.key(t) for t in found if t is not None and t[1] in self.trees}

    def _parents(self, dotted: str) -> set[str]:
        parts = dotted.split(".")
        return {
            self.trees[p][0]
            for p in (".".join(parts[:i]) for i in range(1, len(parts)))
            if p in self.trees
        }

    def _registered(self, dotted: str, node: ast.AST) -> bool:
        for dec in node.decorator_list:
            fn = dec.func if isinstance(dec, ast.Call) else dec
            if isinstance(fn, ast.Name) and self._lookup(dotted, fn.id, self.bindings[dotted]) == (
                "name", f"{PACKAGE}.plans.registry", "query"
            ):
                return True
        return False

    def all_targets(self, rel: str) -> list[tuple]:
        """What each name in ``rel``'s ``__all__`` resolves to."""
        dotted = _dotted(rel)
        names = [
            e.value
            for stmt in self.trees[dotted][1].body
            if _is_all(stmt)
            for e in stmt.value.elts
        ]
        return [self.resolve(dotted, n) or ("name", dotted, n) for n in names]

    # -- reachability ----------------------------------------------------

    def reached(self, roots: set[str]) -> set[str]:
        seen, todo = set(roots), list(roots)
        while todo:
            for nxt in self.edges.get(todo.pop(), ()):
                if nxt not in seen:
                    seen.add(nxt)
                    todo.append(nxt)
        return seen

    def definitions(self) -> set[str]:
        """``<path>:<name>`` of every package top-level def and class."""
        return {
            f"{rel}:{name}"
            for dotted, (rel, _tree) in self.trees.items()
            if rel.startswith(PACKAGE + "/")
            for name in self.defs[dotted]
        }


def package_sources() -> dict[str, str]:
    """The package modules and the root files, by repo-relative path."""
    paths = glob.glob(os.path.join(REPO, PACKAGE, "**", "*.py"), recursive=True)
    paths.append(os.path.join(REPO, "__spark_entry__.py"))
    for top in ("perfbench", "scripts"):
        paths += glob.glob(os.path.join(REPO, top, "*.py"))
    out = {}
    for p in sorted(paths):
        with open(p, encoding="utf-8") as f:
            out[os.path.relpath(p, REPO)] = f.read()
    return out


def unreachable_modules(graph: ReferenceGraph | None = None) -> list[str]:
    """Package modules that no root reaches."""
    graph = graph or ReferenceGraph(package_sources())
    reached = graph.reached(graph.roots)
    return sorted(
        rel
        for rel, _tree in graph.trees.values()
        if rel.startswith(PACKAGE + "/") and rel not in reached
    )


def surface_roots(graph: ReferenceGraph, surfaces) -> set[str]:
    """The defs an allowlist offers: a ``<path>:<def>`` entry names
    one; a module entry offers the names in its ``__all__``."""
    roots = set()
    for entry in surfaces:
        if ":" in entry:
            roots.add(entry)
        else:
            roots |= {graph.key(t) for t in graph.all_targets(entry)} | {entry}
    return roots


def unreached_defs(graph: ReferenceGraph, surfaces=()) -> list[str]:
    """Package defs and classes that no root and no allowlisted
    surface reaches."""
    reached = graph.reached(graph.roots | surface_roots(graph, surfaces))
    return sorted(graph.definitions() - reached)


def unused_exports(graph: ReferenceGraph, test_names: set[str]) -> list[str]:
    """``__all__`` names of package ``__init__``s that no test names
    and no reached unit but the export itself refers to."""
    reached = graph.reached(graph.roots)
    used = {dst for src in reached for dst in graph.edges.get(src, ()) if dst != src}
    unused = []
    for rel, _tree in graph.trees.values():
        if rel.startswith(PACKAGE + "/") and rel.endswith("__init__.py"):
            for target in graph.all_targets(rel):
                if target[-1] not in test_names and graph.key(target) not in used:
                    unused.append(f"{rel}: {target[-1]}")
    return sorted(unused)


def names_in_tests() -> set[str]:
    """Every identifier the test files use or import."""
    names = set()
    for p in glob.glob(os.path.join(REPO, "tests", "*.py")):
        with open(p, encoding="utf-8") as f:
            tree = ast.parse(f.read(), p)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add((node.asname or node.name).split(".")[0])
                names.add(node.name)
    return names


def test_reference_graph_pattern():
    pkg = f"{PACKAGE}/lib"
    sources = {
        f"{PACKAGE}/__init__.py": "",
        f"{PACKAGE}/plans/__init__.py": "from . import cat\n",
        f"{PACKAGE}/plans/registry.py": "def query(name, sql):\n    return lambda f: f\n",
        f"{PACKAGE}/plans/cat.py": (
            "from ..lib.util import helper as h\n"
            "from .registry import query as _q\n"
            "@_q('x', None)\n"
            "def entry(spark, sf):\n    return h()\n"
        ),
        f"{pkg}/__init__.py": "from .util import exported\n__all__ = ['exported']\n",
        f"{pkg}/util.py": (
            "def helper():\n    return _inner()\n"
            "def _inner():\n    return 1\n"
            "def exported():\n    return 2\n"
            "def stray():\n    return helper()\n"
            "def offered():\n    return _only_offered()\n"
            "def _only_offered():\n    return 3\n"
        ),
        "scripts/run.py": f"import {PACKAGE}.plans\n",
    }
    graph = ReferenceGraph(sources)
    assert unreached_defs(graph) == [
        f"{pkg}/util.py:_only_offered",
        f"{pkg}/util.py:offered",
        f"{pkg}/util.py:stray",
    ]
    assert unreached_defs(graph, {f"{pkg}/util.py:offered"}) == [f"{pkg}/util.py:stray"]
    assert unused_exports(graph, set()) == [f"{pkg}/__init__.py: exported"]
    assert unused_exports(graph, {"exported"}) == []
    assert unreachable_modules(graph) == []


def test_every_module_is_reachable():
    modules = [m for m in UNROOTED_SURFACES if ":" not in m]
    unreachable = unreachable_modules()
    unlisted = [m for m in unreachable if m not in modules]
    assert not unlisted, f"modules nothing imports (delete them with their tests): {unlisted}"
    assert sorted(modules) == unreachable, "UNROOTED_SURFACES lists a reachable or missing module"
    for module, (doc, phrase) in UNROOTED_SURFACES.items():
        with open(os.path.join(REPO, doc), encoding="utf-8") as f:
            assert phrase in f.read(), f"{doc} no longer names {module} ({phrase!r})"


def test_every_def_is_reachable():
    graph = ReferenceGraph(package_sources())
    unreached = unreached_defs(graph, UNROOTED_SURFACES)
    assert not unreached, (
        "defs no entry point, catalog query or export reaches (delete them"
        f" with their tests, or move a test oracle into tests/): {unreached}"
    )
    offered = [s for s in UNROOTED_SURFACES if ":" in s]
    stale = sorted(set(offered) & graph.reached(graph.roots))
    missing = sorted(set(offered) - graph.definitions())
    assert not stale and not missing, (
        f"UNROOTED_SURFACES lists reachable {stale} or missing {missing} defs"
    )


def test_every_export_is_used():
    unused = unused_exports(ReferenceGraph(package_sources()), names_in_tests())
    assert not unused, f"exports nothing calls and no test checks: {unused}"


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


def unused_imports(source: str) -> list[str]:
    """Names a module's imports bind (at any depth) that no expression
    in it reads and its ``__all__`` does not list."""
    tree = ast.parse(source)
    bound = {}
    exported: set[str] = set()
    read = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            for a in node.names:
                name = (a.asname or a.name).split(".")[0]
                bound.setdefault(name, node.lineno)
        elif isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            read.add(node.id)
        elif isinstance(node, ast.stmt) and _is_all(node):
            exported |= {e.value for e in ast.walk(node.value) if isinstance(e, ast.Constant)}
    return sorted(
        f"{line}: {name}"
        for name, line in bound.items()
        if name not in read and name not in exported
    )


def test_unused_imports_pattern():
    source = (
        "from __future__ import annotations\n"
        "import os\n"
        "from .a import used, unused as alias, exported\n"
        "__all__ = ['exported']\n"
        "def f():\n"
        "    import json\n"
        "    from .b import lazy\n"
        "    return used(lazy)\n"
    )
    assert unused_imports(source) == ["2: os", "3: alias", "6: json"]


def test_no_unused_imports():
    found = []
    for p in sorted(glob.glob(os.path.join(REPO, PACKAGE, "**", "*.py"), recursive=True)):
        if os.path.basename(p) == "__init__.py":
            continue
        with open(p, encoding="utf-8") as f:
            source = f.read()
        rel = os.path.relpath(p, REPO)
        found += [f"{rel}:{u}" for u in unused_imports(source)]
    assert not found, f"imports nothing in the module reads: {found}"


_PREFIX_ROW = re.compile(r"^    ([a-z_]+) {2,}(\S.*)$")
_PREFIX_MORE = re.compile(r"^ {8,}(\S.*)$")


def prefix_table(doc: str) -> dict[str, str]:
    """The query-name prefix -> catalog module table of a docstring:
    rows of ``<module>  <prefix> ...`` indented four spaces, prefixes
    continued on lines indented deeper."""
    table: dict[str, str] = {}
    module = None
    for line in doc.splitlines():
        row, more = _PREFIX_ROW.match(line), _PREFIX_MORE.match(line)
        if row:
            module, prefixes = row.groups()
        elif more and module:
            prefixes = more.group(1)
        else:
            module = None
            continue
        for p in prefixes.split():
            assert p not in table, f"prefix {p!r} is mapped twice"
            table[p] = module
    return table


def module_for(name: str, table: dict[str, str]) -> str | None:
    """The module of query ``name``: its longest prefix in ``table``."""
    hits = [p for p in table if name.startswith(p)]
    return table[max(hits, key=len)] if hits else None


def test_prefix_table_pattern():
    doc = (
        "Catalog.\n\n"
        "    rel     q sql_ join_\n"
        "            agg_\n"
        "    tpch    sql_tpch_\n"
        "    text    text_\n\n"
        "    unrelated indented prose\n"
    )
    table = prefix_table(doc)
    assert table == {
        "q": "rel", "sql_": "rel", "join_": "rel", "agg_": "rel",
        "sql_tpch_": "tpch", "text_": "text",
    }
    assert module_for("sql_tpch_q6", table) == "tpch"
    assert module_for("sql_exists", table) == "rel"
    assert module_for("q1_pricing", table) == "rel"
    assert module_for("dedup_x", table) is None


def test_catalog_modules_follow_prefixes():
    from spark_bi5_datasource_spark import plans
    from spark_bi5_datasource_spark.plans.registry import REGISTRY

    table = prefix_table(plans.__doc__)
    misplaced = sorted(
        f"{name} in {fn.__module__}, not {module_for(name, table)}"
        for name, (fn, _sql) in REGISTRY.items()
        if fn.__module__ != f"{plans.__name__}.{module_for(name, table)}"
    )
    assert not misplaced, f"catalog queries outside their prefix's module: {misplaced}"
    assert not glob.glob(os.path.join(REPO, PACKAGE, "plans", "round*_ops.py"))


def repeated_constants(sources: dict[str, str], min_len: int = 20) -> list[str]:
    """Literal string values of at least ``min_len`` characters that two
    or more module-level constants hold: ``"<value>: <path>:<name>, ..."``."""
    holders: dict[str, list[str]] = {}
    for rel, source in sources.items():
        for node in ast.parse(source).body:
            if isinstance(node, ast.Assign) and isinstance(node.value, ast.Constant):
                value = node.value.value
                if isinstance(value, str) and len(value) >= min_len:
                    for t in node.targets:
                        if isinstance(t, ast.Name):
                            holders.setdefault(value, []).append(f"{rel}:{t.id}")
    return sorted(f"{v!r}: {', '.join(h)}" for v, h in holders.items() if len(h) > 1)


def test_repeated_constants_pattern():
    sources = {
        "a.py": "_TK = 'split(lower(text), x)   '\nSHORT = 'abc'\n",
        "b.py": "_TK2 = 'split(lower(text), x)   '\nSHORT = 'abc'\n"
        "def f():\n    local = 'split(lower(text), x)   '\n",
    }
    assert repeated_constants(sources) == [
        "'split(lower(text), x)   ': a.py:_TK, b.py:_TK2"
    ]


def test_no_repeated_constants():
    sources = {
        rel: src for rel, src in package_sources().items() if rel.startswith(PACKAGE + "/")
    }
    repeated = repeated_constants(sources)
    assert not repeated, f"define each shared string once and import it: {repeated}"


def _squash(text: str) -> str:
    """Collapse whitespace runs to one space and drop the space next to
    a bracket or comma, so copies of a SQL fragment compare equal
    however they break their lines."""
    return re.sub(r" ?([()\[\],]) ?", r"\1", " ".join(text.split()))


def _str_value(node: ast.AST, scope: dict[str, str]) -> str | None:
    """The string a module-level expression evaluates to, or None:
    literals, and f-strings, ``+`` and ``str.format`` over them and over
    the string bindings in ``scope``."""
    if isinstance(node, ast.Constant):
        return node.value if isinstance(node.value, str) else None
    if isinstance(node, ast.Name):
        return scope.get(node.id)
    if isinstance(node, ast.JoinedStr):
        parts = []
        for v in node.values:
            if isinstance(v, ast.FormattedValue):
                if v.conversion != -1 or v.format_spec:
                    return None
                v = v.value
            parts.append(_str_value(v, scope))
        return None if None in parts else "".join(parts)
    if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add):
        a, b = _str_value(node.left, scope), _str_value(node.right, scope)
        return None if a is None or b is None else a + b
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        base = _str_value(node.func.value, scope)
        kw = {k.arg: _str_value(k.value, scope) for k in node.keywords}
        if node.func.attr == "format" and base is not None and not node.args:
            if None not in kw and None not in kw.values():
                return base.format(**kw)
    return None


def inlined_constants(sources: dict[str, str], min_len: int = 40) -> list[str]:
    """String literals that spell out the text of a module-level string
    binding of at least ``min_len`` characters held elsewhere, compared
    after ``_squash``: ``"<path>:<line> spells <path>:<name>"``.
    Bindings are evaluated statically (``_str_value``), following
    ``from .x import name`` across modules."""
    graph = ReferenceGraph(sources)
    values: dict[str, dict[str, str]] = {d: {} for d in graph.trees}
    defs: dict[tuple[str, str], ast.Assign] = {}
    changed = True
    while changed:  # to a fixpoint: a binding may read an import
        changed = False
        for dotted, (rel, tree) in graph.trees.items():
            scope = {
                name: values.get(b[1], {}).get(b[2])
                for name, b in graph.bindings[dotted].items()
                if b[0] == "name"
            }
            scope = {k: v for k, v in scope.items() if v is not None}
            for n in tree.body:
                if isinstance(n, ast.Assign) and len(n.targets) == 1:
                    target = n.targets[0]
                    value = _str_value(n.value, scope) if isinstance(target, ast.Name) else None
                    if value is not None:
                        scope[target.id] = value
                        defs[(rel, target.id)] = n
                        if values[dotted].get(target.id) != value:
                            values[dotted][target.id] = value
                            changed = True
    frags = {(rel, name): _squash(values[_dotted(rel)][name]) for rel, name in defs}
    frags = {k: v for k, v in frags.items() if len(v) >= min_len}
    out = []
    for rel, tree in graph.trees.values():
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Constant) and isinstance(node.value, str)):
                continue
            text = _squash(node.value)
            for (frel, name), frag in frags.items():
                if frag in text and node not in ast.walk(defs[(frel, name)].value):
                    out.append(f"{rel}:{node.lineno} spells {frel}:{name}")
    return sorted(out)


def test_inlined_constants_pattern():
    a, b = f"{PACKAGE}/a.py", f"{PACKAGE}/b.py"
    sources = {
        a: "_FRAG = 'list_filter(split(lower(text), x), y -> y <> 0)'\n"
        "_LIST = 'sum({a}, {b}) over the whole frame of its rows'\n"
        "_DOT = _LIST.format(a='left_embedding', b='right_embedding')\n"
        "_SHORT = 'split(lower(text), x)'\n",
        b: "from .a import _FRAG\n"
        "Q = f'''SELECT {_FRAG} AS t'''\n"
        "R = '''SELECT list_filter(\n  split(lower(text), x),\n  y -> y <> 0) AS r'''\n"
        "def f():\n"
        "    return 'sum(left_embedding, right_embedding) over the whole frame of its rows'\n"
        "S = 'split(lower(text), x) twice: split(lower(text), x)'\n",
    }
    assert inlined_constants(sources) == [f"{b}:3 spells {a}:_FRAG", f"{b}:7 spells {a}:_DOT"]


def test_no_inlined_constants():
    sources = {
        rel: src for rel, src in package_sources().items() if rel.startswith(PACKAGE + "/")
    }
    inlined = inlined_constants(sources)
    assert not inlined, f"interpolate the shared fragment instead of copying it: {inlined}"
