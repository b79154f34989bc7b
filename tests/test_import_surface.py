"""Every ``from extract_cbd_shape_spark... import name`` in the scripts
no test imports (tools/*.py, __spark_entry__.py, bench.py) must resolve,
so deleting a package API cannot leave a script dangling. Imports inside
embedded runner scripts (string constants that parse as Python) are
checked too. Needs no Spark session."""

import ast
import glob
import importlib
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "extract_cbd_shape_spark"


def _scripts():
    return sorted(glob.glob(os.path.join(REPO, "tools", "*.py"))) + [
        os.path.join(REPO, "__spark_entry__.py"),
        os.path.join(REPO, "bench.py"),
    ]


def _package_imports(tree, offset=0):
    """(module, name, lineno) per imported name, recursing into string
    constants that are themselves Python code."""
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
                node.module == PKG or node.module.startswith(PKG + ".")):
            for alias in node.names:
                yield node.module, alias.name, offset + node.lineno
        elif isinstance(node, ast.Constant) and isinstance(node.value, str) \
                and PKG in node.value:
            try:
                inner = ast.parse(node.value)
            except SyntaxError:
                continue
            yield from _package_imports(inner, offset + node.lineno - 1)


def test_script_imports_resolve():
    missing = []
    seen = 0
    for path in _scripts():
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for module, name, lineno in _package_imports(tree):
            seen += 1
            mod = importlib.import_module(module)
            if hasattr(mod, name):
                continue
            try:  # a submodule imported by name
                importlib.import_module(f"{module}.{name}")
            except ImportError:
                missing.append(
                    f"{os.path.relpath(path, REPO)}:{lineno} "
                    f"{module}.{name}")
    assert seen > 0
    assert not missing, missing
