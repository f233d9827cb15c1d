"""The package's configuration surface, checked from source with ``ast``
(no Spark): which environment variables it reads, and that no query
function in ``queries/`` is left without a caller."""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "clickhouse_modules_spark")

# Deployment settings: the only environment the package reads.
DEPLOYMENT_ENV = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_EXEC_MEM",
}


def _py_files(root: str):
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(".") and x != "__pycache__"]
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    yield path, ast.parse(fh.read(), path)


def _is_environ(node) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_reads(tree: ast.Module) -> tuple[set[str], int]:
    """(names read through os.environ / os.getenv, count of environment
    accesses whose name is not a string literal or module constant)."""
    consts = {
        t.id: n.value.value
        for n in tree.body
        if isinstance(n, ast.Assign) and isinstance(n.value, ast.Constant)
        for t in n.targets
        if isinstance(t, ast.Name) and isinstance(n.value.value, str)
    }
    names: set[str] = set()
    handled: set[int] = set()
    unresolved = 0

    def record(key, environ_node=None):
        nonlocal unresolved
        if environ_node is not None:
            handled.add(id(environ_node))
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            names.add(key.value)
        elif isinstance(key, ast.Name) and key.id in consts:
            names.add(consts[key.id])
        else:
            unresolved += 1

    for n in ast.walk(tree):
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute):
            f = n.func
            if _is_environ(f.value) and n.args:
                record(n.args[0], f.value)
            elif (
                f.attr == "getenv"
                and isinstance(f.value, ast.Name)
                and f.value.id == "os"
                and n.args
            ):
                record(n.args[0])
        elif isinstance(n, ast.Subscript) and _is_environ(n.value):
            record(n.slice, n.value)
        elif isinstance(n, ast.Compare) and any(map(_is_environ, n.comparators)):
            record(n.left, next(c for c in n.comparators if _is_environ(c)))
    unresolved += sum(
        1 for n in ast.walk(tree) if _is_environ(n) and id(n) not in handled
    )
    return names, unresolved


def test_package_reads_only_deployment_env():
    read: set[str] = set()
    unresolved = {}
    for path, tree in _py_files(PKG):
        names, n = _env_reads(tree)
        read |= names
        if n:
            unresolved[os.path.relpath(path, REPO)] = n
    assert not unresolved, f"environment reads by computed name: {unresolved}"
    assert read == DEPLOYMENT_ENV


def _query_defs():
    """(module path, name, registered?) for every top-level q_* function
    in queries/."""
    for path, tree in _py_files(os.path.join(PKG, "queries")):
        for n in tree.body:
            if isinstance(n, ast.FunctionDef) and n.name.startswith("q_"):
                registered = any(
                    isinstance(d, ast.Call)
                    and isinstance(d.func, ast.Name)
                    and d.func.id == "query"
                    for d in n.decorator_list
                )
                yield os.path.relpath(path, REPO), n.name, registered


def _referenced_names() -> set[str]:
    """Every name that code in the repo calls, imports or reads as an
    attribute (definitions themselves do not count)."""
    out: set[str] = set()
    for _path, tree in _py_files(REPO):
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.rsplit(".", 1)[-1])
    return out


def test_every_query_function_is_registered_or_called():
    used = _referenced_names()
    orphans = [
        f"{path}:{name}"
        for path, name, registered in _query_defs()
        if not registered and name not in used
    ]
    assert not orphans, f"unregistered q_* functions nothing references: {orphans}"
