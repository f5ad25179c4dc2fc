"""Source-level rules for the package's own modules."""

import ast
import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "picovdb_spark"
FORCE_FLAG = re.compile(r"_FORCE_\w*")


def _module_level_targets(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
            targets = [node.target]
        else:
            continue
        for target in targets:
            for name in ast.walk(target):
                if isinstance(name, ast.Name):
                    yield name.id, node.lineno


def test_no_module_level_force_flags():
    """A module-level `_FORCE_*` switch keeps a losing code path
    selectable in production code; a path that lost its comparison is
    deleted instead, and tests reach alternatives through monkeypatch."""
    modules = sorted(PACKAGE.rglob("*.py"))
    assert modules
    offenders = [
        f"{path.relative_to(PACKAGE.parent)}:{lineno} {name}"
        for path in modules
        for name, lineno in _module_level_targets(ast.parse(path.read_text()))
        if FORCE_FLAG.fullmatch(name)
    ]
    assert not offenders, offenders
