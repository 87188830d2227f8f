"""Dead-code guard: every top-level function and class in marie_ai_spark/
must be referenced somewhere outside its own definition — in the package,
__spark_entry__.py, tools/, jobs/ or tests/. A helper nothing calls is
either a forgotten twin of a live implementation or dead weight; delete it
rather than keep it "available"."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "marie_ai_spark"
SEARCHED = [PACKAGE, ROOT / "__spark_entry__.py", ROOT / "tools",
            ROOT / "jobs", ROOT / "tests"]


def _py_files():
    for p in SEARCHED:
        yield from ([p] if p.is_file() else sorted(p.rglob("*.py")))


def _references(tree):
    """(identifier, line) for every name use, attribute access, imported
    name and identifier-shaped string constant (getattr/registry use)."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, ast.alias):
            yield node.name.rsplit(".", 1)[-1], node.lineno
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and node.value.isidentifier()):
            yield node.value, node.lineno


def test_every_package_definition_is_referenced():
    trees = {p: ast.parse(p.read_text(), filename=str(p)) for p in _py_files()}
    refs = {p: list(_references(t)) for p, t in trees.items()}
    dead = []
    for path, tree in trees.items():
        if PACKAGE not in path.parents:
            continue
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or node.name.startswith("__"):
                continue
            lo = min([node.lineno] + [d.lineno for d in node.decorator_list])
            used = any(
                name == node.name
                and not (p == path and lo <= line <= node.end_lineno)
                for p, found in refs.items()
                for name, line in found
            )
            if not used:
                dead.append(f"{path.relative_to(ROOT)}:{node.lineno} {node.name}")
    assert not dead, "unreferenced definitions:\n" + "\n".join(dead)
