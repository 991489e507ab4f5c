"""Dead-code gate: every top-level ``def``/``class`` in the package must be
referenced somewhere in the repo's Python files besides its own definition.

A reference is any identifier use (name, attribute, import) or a string
constant equal to the name (dynamic lookups such as ``getattr``).
"""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "set_sketch_paper_spark")


def _py_files(root):
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith((".", "__pycache__"))]
        yield from (os.path.join(d, f) for f in files if f.endswith(".py"))


def test_every_package_definition_is_referenced():
    trees = {p: ast.parse(open(p, encoding="utf-8").read()) for p in _py_files(REPO)}
    defined = {
        (node.name, os.path.relpath(p, REPO))
        for p, tree in trees.items() if p.startswith(PACKAGE + os.sep)
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    }
    used = set()
    for tree in trees.values():
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.add(node.name.rsplit(".", 1)[-1])
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                used.add(node.value)
    dead = sorted((path, name) for name, path in defined if name not in used)
    assert not dead, f"unreferenced package definitions: {dead}"
