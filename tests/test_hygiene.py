"""Source hygiene: no package module imports a name it never uses, and
every function, class and method the package defines is named
somewhere else in the repository.

Stdlib-``ast`` checks (no Spark, no linter dependency). A name counts
as used when it appears as a ``Name`` anywhere in the module, as the
root of an attribute chain, inside a string annotation
(``raw: "DataFrame"``), or in ``__all__``.
"""

from __future__ import annotations

import ast
import collections
import os
import re

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _modules() -> list[str]:
    out = [os.path.join(ROOT, "__spark_entry__.py")]
    for dirpath, _, files in os.walk(os.path.join(ROOT, "meilisearchcrawler_spark")):
        out += [os.path.join(dirpath, f) for f in sorted(files)
                if f.endswith(".py")]
    return sorted(out)


def _imported(tree: ast.Module) -> dict[str, int]:
    """Bound name → line of every import in the module (any scope)."""
    names: dict[str, int] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                names[a.asname or a.name.split(".")[0]] = node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                if a.name != "*":
                    names[a.asname or a.name] = node.lineno
    return names


def _annotation_names(node: ast.AST | None) -> set[str]:
    """Names inside string annotations below ``node``."""
    out: set[str] = set()
    if node is None:
        return out
    for sub in ast.walk(node):
        if isinstance(sub, ast.Constant) and isinstance(sub.value, str):
            try:
                expr = ast.parse(sub.value, mode="eval")
            except SyntaxError:
                continue
            out |= {n.id for n in ast.walk(expr) if isinstance(n, ast.Name)}
    return out


def _used(tree: ast.Module) -> set[str]:
    used: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            used |= _annotation_names(node.returns)
            args = node.args
            for a in (args.posonlyargs + args.args + args.kwonlyargs
                      + [args.vararg, args.kwarg]):
                if a is not None:
                    used |= _annotation_names(a.annotation)
        elif isinstance(node, ast.AnnAssign):
            used |= _annotation_names(node.annotation)
        elif (isinstance(node, ast.Assign)
              and any(isinstance(t, ast.Name) and t.id == "__all__"
                      for t in node.targets)
              and isinstance(node.value, (ast.List, ast.Tuple))):
            used |= {e.value for e in node.value.elts
                     if isinstance(e, ast.Constant)}
    return used


def unused_imports(path: str) -> list[str]:
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    used = _used(tree)
    return [f"{os.path.relpath(path, ROOT)}:{line}: {name}"
            for name, line in sorted(_imported(tree).items(),
                                     key=lambda kv: kv[1])
            if name not in used]


def test_unused_import_check_sees_string_annotations():
    src = ("from pyspark.sql import DataFrame, Column\n"
           "import os\n"
           "def f(raw: 'DataFrame') -> None:\n"
           "    return os.sep\n")
    tree = ast.parse(src)
    assert set(_imported(tree)) - _used(tree) == {"Column"}


@pytest.mark.parametrize("path", _modules(),
                         ids=lambda p: os.path.relpath(p, ROOT))
def test_no_unused_imports(path):
    assert unused_imports(path) == []


def _repo_sources() -> list[str]:
    """Every ``.py`` file of the repository, minus ``bench_runs/``
    (run records) and hidden dirs."""
    out = []
    for dirpath, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs
                   if not d.startswith(".") and d != "bench_runs"]
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    return out


def unnamed_definitions(pkg_modules: list[str], sources: list[str]) -> list[str]:
    """Functions, classes and methods defined in ``pkg_modules`` whose
    name occurs as a whole word in ``sources`` no more often than it is
    defined. Dunder methods are called by the language, not by name."""
    words: collections.Counter = collections.Counter()
    for path in sources:
        with open(path) as f:
            words.update(re.findall(r"\w+", f.read()))
    defs = []
    for path in pkg_modules:
        with open(path) as f:
            tree = ast.parse(f.read(), filename=path)
        defs += [(os.path.relpath(path, ROOT), node.lineno, node.name)
                 for node in ast.walk(tree)
                 if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                      ast.ClassDef))
                 and not (node.name.startswith("__")
                          and node.name.endswith("__"))]
    n_defs = collections.Counter(name for _, _, name in defs)
    return [f"{path}:{line}: {name}" for path, line, name in sorted(defs)
            if words[name] <= n_defs[name]]


def test_unnamed_definition_check_counts_other_mentions(tmp_path):
    mod = tmp_path / "m.py"
    mod.write_text("class A:\n"
                   "    def used(self):\n"
                   "        return self.dead_twin\n"
                   "    def dead(self):\n"
                   "        pass\n"
                   "    def __len__(self):\n"
                   "        return 0\n"
                   "def A2():\n"
                   "    return A().used()\n")
    got = unnamed_definitions([str(mod)], [str(mod)])
    assert [g.split(": ")[1] for g in got] == ["dead", "A2"]


def test_every_package_definition_is_named_elsewhere():
    pkg = [p for p in _modules()
           if p.startswith(os.path.join(ROOT, "meilisearchcrawler_spark"))]
    assert unnamed_definitions(pkg, _repo_sources()) == []
