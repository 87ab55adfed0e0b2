"""No dead package code: every top-level def in dask_awkward_sandbox_spark/
must be reached from non-test code, or sit on the short allowlist below
with the surface that reaches it.

The rule is static and name-based (no Spark, no imports of the package).
The roots are every name mentioned outside top-level defs in the package
(imports, re-exports, ``__all__``, registrations), in ``bench.py``,
``__spark_entry__.py``, ``scripts/`` and ``perfbench/`` (test files
excluded). A name counts when it appears as an ``ast.Name``, an
attribute, an import alias or a string constant that is exactly an
identifier. A def decorated by a call (``@query(...)``) registers itself
on import and is a root, but only in a module that runs: one the
surface files import, or one a module that runs imports (its parent
packages included; an import anywhere in a file counts, and so does a
string naming the module, as ``spark.python.daemon.module`` does). A
module nothing imports adds no roots at all. From the roots, a def is
reached when its name is mentioned by a root or by a reached def; a
def mentioned only in its own body, in tests or in other unreached
defs is dead. Matching is by bare name, so the rule can only miss dead
code, never flag live code that is called by name.

A new def must be reached from a slot, bench.py, a script or a
reference-namespace name; a def reached only in ways the scan cannot
see (by attribute from user code, or named inside a message) goes on
ALLOWLIST with a one-line reason.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "dask_awkward_sandbox_spark"
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")

_DAK_STR = "a `dak.str` verb (the reference's `dask_awkward.str` namespace), reached by attribute"
_AXIS0 = "named by operators/akcompat.py's directed axis=0 error (the reducers.*_axis0 family)"

ALLOWLIST = {
    "operators/strings.py:lift": "the public helper that lifts a scalar string op over array<string> for `dak.str` users",
    **{
        f"operators/strings.py:{name}": _DAK_STR
        for name in (
            "swapcase", "ltrim_whitespace", "rtrim_whitespace",
            "match_substring", "find_substring_regex", "is_alnum",
            "is_decimal", "is_numeric", "is_upper", "is_space", "is_title",
            "is_printable", "split_pattern", "split_pattern_regex",
            "join_element_wise",
        )
    },
    "operators/reducers.py:_axis0": _AXIS0,
    **{
        f"operators/reducers.py:{op}_axis0": _AXIS0
        for op in ("sum", "count", "min", "max", "any", "all", "mean")
    },
    "inspect.py:shorttypestr": "the reference's typestr/shorttypestr pair; README package map and SURVEY §2",
    "functions/text_analysis.py:quality_score": "stage 2 of the README curation-pipeline example",
    "functions/lm.py:perplexity_filter": "stage 4 of the README curation-pipeline example",
}


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if IDENT.fullmatch(n.value):
                out.add(n.value)
    return out


def _imports(tree: ast.AST, module: str, is_pkg: bool) -> set[str]:
    """Dotted names of every module an import or a package-module
    string in ``tree`` loads (parent packages included); ``module``
    resolves relative imports."""
    out: set[str] = set()

    def add(dotted: str) -> None:
        parts = dotted.split(".")
        out.update(".".join(parts[: i + 1]) for i in range(len(parts)))

    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            for a in n.names:
                add(a.name)
        elif isinstance(n, ast.ImportFrom):
            base = n.module or ""
            if n.level:
                pkg = module.split(".")
                pkg = pkg[: len(pkg) - (n.level - is_pkg)]
                base = ".".join(pkg + ([base] if base else []))
            for a in n.names:
                add(f"{base}.{a.name}")
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.startswith(PKG.name + "."):
                add(n.value)
    return out


def unreached(root: Path = ROOT) -> dict[str, int]:
    """``{"<module path>:<def>": n_lines}`` for every top-level package
    def the roots do not reach."""
    pkg = root / PKG.name
    trees = {}  # dotted module name -> (path, tree)
    for path in sorted(pkg.rglob("*.py")):
        parts = path.relative_to(root).with_suffix("").parts
        module = ".".join(parts[:-1] if parts[-1] == "__init__" else parts)
        trees[module] = (path, ast.parse(path.read_text()))

    roots: set[str] = set()
    imported: set[str] = set()
    surface = [root / "bench.py", root / "__spark_entry__.py",
               *(root / "scripts").glob("*.py"), *(root / "perfbench").glob("*.py")]
    for path in surface:
        if path.exists() and not path.name.startswith("test_"):
            tree = ast.parse(path.read_text())
            roots |= _names(tree)
            imported |= _imports(tree, "", False)
    todo = imported & set(trees)
    while todo:
        module = todo.pop()
        path, tree = trees[module]
        new = _imports(tree, module, path.name == "__init__.py") - imported
        imported |= new
        todo |= new & set(trees)

    defs = []  # (key, name, n_lines, names mentioned in the def)
    for module, (path, tree) in trees.items():
        runs = module in imported
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if runs:
                    roots |= _names(node)
                continue
            if runs:
                for dec in node.decorator_list:
                    roots |= _names(dec)
                    if isinstance(dec, ast.Call):
                        roots.add(node.name)
            start = min([node.lineno] + [d.lineno for d in node.decorator_list])
            key = f"{path.relative_to(pkg).as_posix()}:{node.name}"
            defs.append((key, node.name, node.end_lineno - start + 1, _names(node)))

    live, reached = set(roots), set()
    grew = True
    while grew:
        grew = False
        for key, name, _n, mentions in defs:
            if key not in reached and name in live:
                reached.add(key)
                live |= mentions
                grew = True
    return {key: n for key, _name, n, _m in defs if key not in reached}


def test_every_package_def_is_reached():
    dead = {k: n for k, n in unreached().items() if k not in ALLOWLIST}
    listing = "\n".join(f"  {k} ({n} lines)" for k, n in sorted(dead.items()))
    assert not dead, (
        f"{len(dead)} top-level defs ({sum(dead.values())} lines) are reached "
        f"by no slot, bench, script or package export:\n{listing}\n"
        "delete them (moving test-only twins into tests/), or allowlist one "
        "with the surface that reaches it"
    )


def test_allowlist_entries_are_needed():
    stale = sorted(set(ALLOWLIST) - set(unreached()))
    assert not stale, f"allowlisted defs that are gone or now reached: {stale}"
