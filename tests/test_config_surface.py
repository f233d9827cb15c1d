"""The package's configuration surface, checked from source with ``ast``
(no Spark): which environment variables it reads, that no query
function in ``queries/`` is left without a caller, that the
warehouse's commit and FINAL merge each live in one place, and that the
reconcile catalog stays off Spark's file I/O."""

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


def _calls_by_function(path: str) -> dict[str, set[str]]:
    """``name.attr`` calls (``os.replace``, ``F.row_number``, …) per
    enclosing function (``Class.method`` for methods) in one module."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    out: dict[str, set[str]] = {}

    def visit(node, prefix: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, f"{child.name}.")
            elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = f"{prefix}{child.name}"
                out.setdefault(name, set()).update(
                    f"{n.func.value.id}.{n.func.attr}"
                    for n in ast.walk(child)
                    if isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and isinstance(n.func.value, ast.Name)
                )

    visit(tree, "")
    return out


def _defined(path: str) -> set[str]:
    """Every function or method name a module defines."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    return {
        n.name
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }


DDL = os.path.join(PKG, "ddl.py")
CH_SQL = os.path.join(PKG, "functions", "ch_sql.py")


def test_warehouse_reads_parts_from_the_manifest():
    # readers take the live part list from meta.json, never a directory
    # walk (a walk would also see uncommitted and replaced files)
    walkers = [f for f, calls in _calls_by_function(DDL).items()
               if "os.walk" in calls]
    assert not walkers, f"os.walk in ddl.py: {walkers}"


def test_warehouse_commits_only_through_save_meta():
    # table data changes become visible only through the manifest's
    # atomic replace; os.rename moves staged files nothing lists yet
    # (_commit) or whole table directories (RENAME/EXCHANGE)
    calls = _calls_by_function(DDL)
    replace = {f for f, c in calls.items() if "os.replace" in c}
    rename = {f for f, c in calls.items() if "os.rename" in c}
    assert replace == {"ChWarehouse._save_meta"}
    assert rename <= {"ChWarehouse._commit", "ChWarehouse.execute"}, rename


def test_one_final_merge():
    # SELECT … FINAL reads the merge OPTIMIZE FINAL writes: one method,
    # no second copy as SQL registries in ch_sql or windows elsewhere
    copies = {
        "register_summing_table",
        "register_aggregating_table",
        "register_collapsing_table",
    } & _defined(CH_SQL)
    assert not copies, f"FINAL merge registries in ch_sql.py: {copies}"
    assert "_seq_frame" not in _defined(DDL)
    windowed = {
        f
        for f, c in _calls_by_function(DDL).items()
        if c & {"F.row_number", "Window.partitionBy"}
    }
    assert windowed == {"ChWarehouse._merge"}, windowed


RECONCILE = os.path.join(PKG, "reconcile")


def _attrs_by_function(path: str) -> dict[str, set[str]]:
    """Every attribute name used per enclosing top-level function or
    method (``Class.method``); code outside functions is ``<module>``."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    out: dict[str, set[str]] = {}

    def visit(node, scope: str, prefix: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef) and scope == "<module>":
                visit(child, scope, f"{child.name}.")
            elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) and (
                scope == "<module>"
            ):
                visit(child, f"{prefix}{child.name}", prefix)
            else:
                if isinstance(child, ast.Attribute):
                    out.setdefault(scope, set()).add(child.attr)
                visit(child, scope, prefix)

    visit(tree, "<module>", "")
    return out


def test_reconcile_catalog_is_arrow_local():
    # the catalog is a few kilobytes: every DataFrame is a driver-local
    # relation built from Arrow by one helper, and persistence goes
    # through pyarrow, never Spark's readers and writers
    builders, spark_io = set(), set()
    for path, _tree in _py_files(RECONCILE):
        module = os.path.relpath(path, PKG)
        for fn, attrs in _attrs_by_function(path).items():
            if "createDataFrame" in attrs:
                builders.add(f"{module}:{fn}")
            if attrs & {"read", "write", "parquet", "readStream", "writeStream"}:
                spark_io.add(f"{module}:{fn}")
    assert builders == {"reconcile/catalog.py:local_relation"}, builders
    assert not spark_io, f"Spark file I/O in reconcile/: {spark_io}"
