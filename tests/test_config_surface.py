"""The package's configuration surface, checked from source with ``ast``
(no Spark): which environment variables it reads, that no query
function in ``queries/`` is left without a caller, that the
warehouse's commit and FINAL merge each live in one place, that the
reconcile catalog stays off Spark's file I/O, that one lexer reads
ClickHouse SQL text, and that each statement names its tables through
its own query context."""

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


def _quote_checks(path: str) -> set[str]:
    """Functions (``Class.method`` for methods) that compare against a
    string constant made only of quote characters, or read ch_sql's
    ``_QUOTES``: the places that decide what a string literal is."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    found: set[str] = set()

    def quote_only(node) -> bool:
        return (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and node.value != ""
            and set(node.value) <= {"'", '"'}
        )

    def visit(node, scope: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef) and scope == "<module>":
                for item in child.body:
                    if isinstance(item, ast.FunctionDef):
                        visit(item, f"{child.name}.{item.name}")
                continue
            if isinstance(child, ast.FunctionDef) and scope == "<module>":
                visit(child, child.name)
                continue
            if isinstance(child, ast.Compare) and any(
                quote_only(x) for x in [child.left, *child.comparators]
            ):
                found.add(scope)
            if (
                isinstance(child, ast.Name)
                and child.id == "_QUOTES"
                and isinstance(child.ctx, ast.Load)
            ):
                found.add(scope)
            visit(child, scope)

    visit(tree, "<module>")
    return found


def test_one_sql_lexer():
    # every scan of ClickHouse SQL text reads ch_sql.lex's token stream:
    # only the lexer decides where a string literal starts and ends
    lexer = {"is_quoted"} | {
        f"Tokens.{n.name}"
        for n in ast.walk(ast.parse(open(CH_SQL, encoding="utf-8").read()))
        if isinstance(n, ast.FunctionDef)
    }
    outside = sorted(
        f"{os.path.basename(path)}:{fn}"
        for path in (CH_SQL, DDL)
        for fn in _quote_checks(path)
        if not (path == CH_SQL and fn in lexer)
    )
    assert not outside, f"quote scanning outside the lexer: {outside}"
    scanners = {
        "_top_level_words", "_find_close", "_find_close_bracket",
        "_find_open", "_split_top", "_split_and", "_subst_ident",
        "_is_ident_char", "_sub_outside_strings",
    } & (_defined(CH_SQL) | _defined(DDL))
    assert not scanners, f"hand-rolled scanners: {sorted(scanners)}"


def test_ch_sql_dispatches_calls_by_name():
    # translate() is a statement driver, an expression walker and one
    # handler table: no function in ch_sql.py runs past 300 lines, and
    # neither the driver nor the walker picks a rewrite by comparing the
    # call name with a string constant
    tree = ast.parse(open(CH_SQL, encoding="utf-8").read())
    funcs = {n.name: n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)}
    long = sorted(
        f"{name}: {n.end_lineno - n.lineno + 1} lines"
        for name, n in funcs.items()
        if n.end_lineno - n.lineno + 1 > 300
    )
    assert not long, long

    def is_text(node) -> bool:
        if isinstance(node, (ast.Tuple, ast.List, ast.Set)):
            return any(map(is_text, node.elts))
        return isinstance(node, ast.Constant) and isinstance(node.value, str)

    def is_name(node) -> bool:
        while isinstance(node, (ast.Subscript, ast.Attribute, ast.Call)):
            node = node.func if isinstance(node, ast.Call) else node.value
        return isinstance(node, ast.Name) and node.id in ("ident", "name")

    compares = []
    for fn in ("translate", "_walk", "_call", "_args"):
        for n in ast.walk(funcs.get(fn, ast.Pass())):
            operands = [n.left, *n.comparators] if isinstance(
                n, ast.Compare) else []
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("startswith", "endswith")
            ):
                operands = [n.func.value, *n.args]
            if any(map(is_name, operands)) and any(map(is_text, operands)):
                compares.append(f"{fn}:{n.lineno}")
    assert not compares, f"call names compared with text: {compares}"


# Words that end a clause or a branch of a ClickHouse SELECT
_CLAUSE_END_WORDS = frozenset(
    "WHERE PREWHERE GROUP HAVING WINDOW QUALIFY ORDER LIMIT OFFSET SETTINGS "
    "FORMAT UNION INTERSECT EXCEPT".split()
)
# the clause table, and two word classes that are not about where a
# clause ends (a keyword before a '[' and a word after a table name)
_CLAUSE_WORD_TABLES = {"_CLAUSES", "_BRACKET_LITERAL_KEYWORDS", "_NOT_ALIAS"}


def test_ch_sql_clause_passes_read_one_clause_map():
    # every clause pass takes its clause spans from Tokens.clauses():
    # no other container literal in ch_sql.py lists two or more of the
    # words where a clause ends
    tree = ast.parse(open(CH_SQL, encoding="utf-8").read())
    exempt: set[int] = set()
    for n in tree.body:
        if isinstance(n, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id in _CLAUSE_WORD_TABLES
            for t in n.targets
        ):
            exempt |= {id(x) for x in ast.walk(n.value)}
    lists = []
    for n in ast.walk(tree):
        if id(n) in exempt:
            continue
        if isinstance(n, (ast.Set, ast.Tuple, ast.List)):
            elts = n.elts
        elif isinstance(n, ast.Dict):
            elts = n.keys
        elif (isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
              and n.func.id in ("frozenset", "set", "tuple", "list")
              and n.args and isinstance(n.args[0], (ast.Set, ast.Tuple,
                                                     ast.List))):
            elts = n.args[0].elts
        else:
            continue
        words = {e.value.upper() for e in elts
                 if isinstance(e, ast.Constant) and isinstance(e.value, str)}
        if len(words & _CLAUSE_END_WORDS) >= 2:
            lists.append((n.lineno, sorted(words & _CLAUSE_END_WORDS)))
    assert not lists, f"clause keyword lists outside _CLAUSES: {lists}"
    bound = {t.id for n in ast.walk(tree) if isinstance(n, ast.Assign)
             for t in n.targets if isinstance(t, ast.Name)}
    assert not {"_CLAUSE_STARTERS", "_COMMA_SCOPE"} & bound


FUNCTIONS = os.path.join(PKG, "functions")

# Methods that change the container they are called on.
_MUTATORS = {
    "add", "append", "appendleft", "clear", "discard", "extend", "insert",
    "pop", "popitem", "remove", "setdefault", "update", "__setitem__",
    "__delitem__",
}
_CONTAINER_CALLS = {
    "dict", "list", "set", "defaultdict", "OrderedDict", "Counter", "deque",
    "WeakKeyDictionary", "WeakValueDictionary",
}


def _module_containers(tree: ast.Module) -> set[str]:
    """Names a module binds at top level to a mutable container. A
    ``weakref.WeakSet`` is left out: the UDF modules keep one as a
    per-session registration memo, whose entries are the sessions
    themselves and go with them, so no statement can see another's."""
    out: set[str] = set()
    for n in tree.body:
        if isinstance(n, ast.Assign):
            targets, value = n.targets, n.value
        elif isinstance(n, ast.AnnAssign) and n.value is not None:
            targets, value = [n.target], n.value
        else:
            continue
        call = value.func if isinstance(value, ast.Call) else None
        called = (
            call.id if isinstance(call, ast.Name)
            else call.attr if isinstance(call, ast.Attribute) else None
        )
        if isinstance(
            value, (ast.Dict, ast.List, ast.Set, ast.DictComp, ast.ListComp,
                    ast.SetComp)
        ) or called in _CONTAINER_CALLS:
            out |= {t.id for t in targets if isinstance(t, ast.Name)}
    return out


def _module_state_writes(path: str) -> set[str]:
    """``function:name`` for every write inside a function to a module
    container (item assignment or deletion, augmented assignment, a
    mutating method call) and every ``global`` statement."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    containers = _module_containers(tree)
    found: set[str] = set()

    def item_of(node) -> str | None:
        """The container name of a ``name[key]`` target."""
        if isinstance(node, ast.Subscript) and isinstance(node.value, ast.Name):
            return node.value.id
        return None

    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for n in ast.walk(fn):
            names: list[str] = []
            if isinstance(n, ast.Global):
                found |= {f"{fn.name}:global {g}" for g in n.names}
            elif isinstance(n, (ast.Assign, ast.AugAssign, ast.Delete)):
                targets = (
                    n.targets if isinstance(n, (ast.Assign, ast.Delete))
                    else [n.target]
                )
                names = [t for t in map(item_of, targets) if t]
            elif (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and isinstance(n.func.value, ast.Name)
                and n.func.attr in _MUTATORS
            ):
                names = [n.func.value.id]
            found |= {f"{fn.name}:{x}" for x in names if x in containers}
    return found


def _attr_uses(path: str, attrs: set[str]) -> set[str]:
    """``function`` (``Class.method`` for methods; ``<module>`` outside
    any) for every use of one of ``attrs`` as an attribute."""
    return {
        f"{os.path.basename(path)}:{fn}"
        for fn, used in _attrs_by_function(path).items()
        if used & attrs
    }


def test_one_query_context_per_call():
    # what a statement may name travels in its QueryContext: functions/
    # keeps no module state a function writes, ch_sql is the one place
    # that binds frames to the session, and the name-keyed registries
    # stay deleted
    paths = [p for p, _tree in _py_files(FUNCTIONS)]
    writes = sorted(
        f"{os.path.basename(p)}:{w}" for p in paths
        for w in _module_state_writes(p)
    )
    assert not writes, f"module state written by functions: {writes}"
    binds = set().union(*(
        _attr_uses(p, {
            "createOrReplaceTempView", "createTempView",
            "createGlobalTempView", "createOrReplaceGlobalTempView",
            "registerTempTable",
        })
        for p in [*paths, DDL]
    ))
    assert binds == {"ch_sql.py:ch_sql"}, sorted(binds)
    deleted = {
        "_REPLACING", "_SAMPLING", "_VIEW_COLS", "_VIEW_ARRAY_COLS",
        "_MERGED", "_JOIN_TABLES", "register_merged_view",
        "register_replacing_table", "register_sampling_key",
        "deregister_table", "register_join_table", "register_dictionary",
    }
    defined = set()
    for _path, tree in _py_files(PKG):
        for n in ast.walk(tree):
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                              ast.ClassDef)):
                defined.add(n.name)
            elif isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store):
                defined.add(n.id)
    assert not deleted & defined, sorted(deleted & defined)
