"""One-commit-path guard: every filesystem change Spark's own writer does
not make goes through marie_ai_spark/sources/commit.py. No other package
module may reach the Hadoop FileSystem/FileContext API, call a `.rename(`
or `.delete(` method, or move/delete paths with os.rename, os.replace or
shutil — a second hand-rolled commit protocol shows up here."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "marie_ai_spark"
COMMIT = PACKAGE / "sources" / "commit.py"
ATTRS = {"getFileSystem", "FileContext", "rename", "delete"}
OS_CALLS = {"rename", "replace"}


def _offences(tree):
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            mods = [a.name for a in node.names] + [getattr(node, "module", "")]
            if any((m or "").split(".")[0] == "shutil" for m in mods):
                yield node.lineno, "shutil"
        elif isinstance(node, ast.Name) and node.id in (
            "shutil", "FileContext"
        ):
            yield node.lineno, node.id
        elif isinstance(node, ast.Attribute):
            base = node.value
            if isinstance(base, ast.Name) and base.id == "os" and (
                node.attr in OS_CALLS
            ):
                yield node.lineno, f"os.{node.attr}"
            elif node.attr in ATTRS:
                yield node.lineno, f".{node.attr}"


def test_only_the_commit_module_touches_the_filesystem():
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == COMMIT:
            continue
        for line, what in _offences(ast.parse(path.read_text())):
            found.append(f"{path.relative_to(ROOT)}:{line} {what}")
    assert not found, "filesystem changes outside sources/commit.py:\n" + (
        "\n".join(found)
    )
