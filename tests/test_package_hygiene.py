"""Source-level rules for the package's own modules."""

import ast
import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "picovdb_spark"
FORCE_FLAG = re.compile(r"_FORCE_\w*")
TIMING_PARAM = re.compile(r"stage_times|eager_gates|timings|\w*_times")


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


def test_no_module_level_boolean_toggles():
    """A module-level `NAME = True` / `False` is a switch between two
    code paths whatever its name; production modules keep one path, and
    a test compares against its reference twin instead of flipping a
    flag."""
    modules = sorted(PACKAGE.rglob("*.py"))
    assert modules
    offenders = [
        f"{path.relative_to(PACKAGE.parent)}:{node.lineno}"
        for path in modules
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.Assign, ast.AnnAssign))
        and isinstance(node.value, ast.Constant)
        and isinstance(node.value.value, bool)
    ]
    assert not offenders, offenders


def test_no_timing_parameters_in_operator_signatures():
    """Operators are timed from outside, through Spark's event log; a
    timing parameter switches an operator to a second plan that exists
    only to be measured."""
    modules = sorted(PACKAGE.rglob("*.py"))
    assert modules
    offenders = []
    for path in modules:
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                continue
            a = node.args
            params = [*a.posonlyargs, *a.args, *a.kwonlyargs, a.vararg, a.kwarg]
            offenders += [
                f"{path.relative_to(PACKAGE.parent)}:{node.lineno} {p.arg}"
                for p in params
                if p is not None and TIMING_PARAM.fullmatch(p.arg)
            ]
    assert not offenders, offenders
