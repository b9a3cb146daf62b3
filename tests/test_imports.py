"""Lint step: no module-level import under xagg_spark/ goes unused.

An import counts as used when its bound name appears anywhere else in the
module as a name (``F.col``, ``np``), or in ``__all__``.  Package
``__init__.py`` files (re-exports) and ``from __future__`` imports are
exempt."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "xagg_spark"


def _unused_imports(path: pathlib.Path) -> list:
    tree = ast.parse(path.read_text(), filename=str(path))
    bound = {}
    for node in tree.body:
        if isinstance(node, ast.Import):
            for a in node.names:
                bound[(a.asname or a.name).split(".")[0]] = node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                bound[a.asname or a.name] = node.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in ast.walk(tree):        # names re-exported through __all__
        if (isinstance(node, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == "__all__"
                        for t in node.targets)
                and isinstance(node.value, (ast.List, ast.Tuple))):
            used |= {e.value for e in node.value.elts
                     if isinstance(e, ast.Constant)}
    return [f"{path.relative_to(PKG.parent)}:{line} {name}"
            for name, line in sorted(bound.items(), key=lambda kv: kv[1])
            if name not in used]


def test_no_unused_module_level_imports():
    files = sorted(p for p in PKG.rglob("*.py") if p.name != "__init__.py")
    assert files
    unused = [u for p in files for u in _unused_imports(p)]
    assert not unused, "unused imports:\n" + "\n".join(unused)
