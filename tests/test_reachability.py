"""Every module of the package is reachable from an entry point.

A static walk over the import statements (function-level imports
included) starting at the CLI (``crawlspark.__main__``), the corpus
generator (``crawlspark.testdata``) and the query registry
(``__spark_entry__.py``) must reach every ``crawlspark/**/*.py``, so a
module nothing uses cannot creep back in. Every crawlspark import in
the query registry must name a module that exists."""

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRY_POINTS = ("crawlspark.__main__", "crawlspark.testdata")
QUERY_REGISTRY = os.path.join(ROOT, "__spark_entry__.py")


def _module_file(name: str) -> str | None:
    base = os.path.join(ROOT, *name.split("."))
    if os.path.isfile(os.path.join(base, "__init__.py")):
        return os.path.join(base, "__init__.py")
    if os.path.isfile(base + ".py"):
        return base + ".py"
    return None


def _imported_names(path: str, module: str) -> set[str]:
    """Every dotted name an import in ``path`` may refer to: ``from a
    import b`` yields both ``a`` and ``a.b`` (b may be a submodule)."""
    package = module if path.endswith("__init__.py") else module.rpartition(".")[0]
    names = set()
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = package.split(".")[: len(package.split(".")) - node.level + 1]
                base = ".".join(parts + ([node.module] if node.module else []))
            else:
                base = node.module
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def _reachable(roots) -> dict[str, str]:
    """module name -> file for every crawlspark module reached from roots."""
    seen: dict[str, str] = {}
    stack = list(roots)
    while stack:
        name = stack.pop()
        if name in seen or name.split(".")[0] != "crawlspark":
            continue
        path = _module_file(name)
        if path is None:
            continue  # an attribute imported from a module, not a module
        seen[name] = path
        parts = name.split(".")
        stack.extend(".".join(parts[:i]) for i in range(1, len(parts)))  # parent packages
        stack.extend(_imported_names(path, name))
    return seen


def _package_files() -> set[str]:
    out = set()
    for root, _dirs, files in os.walk(os.path.join(ROOT, "crawlspark")):
        out.update(os.path.join(root, f) for f in files if f.endswith(".py"))
    return out


def _registry_imports() -> set[str]:
    return {
        n for n in _imported_names(QUERY_REGISTRY, "__spark_entry__")
        if n.split(".")[0] == "crawlspark"
    }


def test_every_package_module_is_reached_from_an_entry_point():
    roots = (*ENTRY_POINTS, *_registry_imports())
    reached = set(_reachable(roots).values())
    dead = sorted(os.path.relpath(p, ROOT) for p in _package_files() - reached)
    assert not dead, f"modules no entry point imports: {dead}"


def test_query_registry_imports_existing_modules():
    """``from crawlspark.x import name``: crawlspark.x must be a module
    (name may be a function); a query importing a deleted module would
    otherwise fail only when it runs."""
    tree = ast.parse(open(QUERY_REGISTRY).read(), QUERY_REGISTRY)
    modules = {
        node.module for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and not node.level
        and node.module and node.module.split(".")[0] == "crawlspark"
    }
    assert modules, "the walk found no crawlspark import in __spark_entry__.py"
    missing = sorted(m for m in modules if _module_file(m) is None)
    assert not missing, f"__spark_entry__.py imports missing modules: {missing}"


USE_ROOTS = ("crawlspark", "perfbench", "tests")


def _py_files(*roots: str) -> list[str]:
    out = [QUERY_REGISTRY]
    for r in roots:
        for root, _dirs, files in os.walk(os.path.join(ROOT, r)):
            out.extend(os.path.join(root, f) for f in files if f.endswith(".py"))
    return sorted(out)


def _names_used(node: ast.AST, aliases: dict[str, str]) -> set[str]:
    """Every name ``node`` refers to a definition by: identifiers and
    attributes (through ``import … as`` aliases), and string constants
    written beside a ``crawlspark.`` module path — ``perfbench/tracing.py``
    wraps engine functions as (label, module, "Class.method"). An import
    alone names nothing: a re-export nobody uses is not a use."""
    names = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif isinstance(n, (ast.Tuple, ast.List, ast.Call)):
            items = n.args if isinstance(n, ast.Call) else n.elts
            strs = [i.value for i in items
                    if isinstance(i, ast.Constant) and isinstance(i.value, str)]
            if any(v.startswith("crawlspark.") for v in strs):
                names.update(p for v in strs for p in v.split(".") if p.isidentifier())
    return names | {aliases[n] for n in names if n in aliases}


def test_every_package_definition_is_named_outside_itself():
    """A top-level ``def``/``class`` of the package that nothing names —
    in the package, the query registry, ``perfbench/`` or the tests —
    is dead code; its own body does not count (a recursive function
    names itself)."""
    package = os.path.join(ROOT, "crawlspark") + os.sep
    defined: dict[str, str] = {}
    used: set[str] = set()
    for path in _py_files(*USE_ROOTS):
        tree = ast.parse(open(path).read(), path)
        aliases = {
            a.asname: a.name for n in ast.walk(tree)
            if isinstance(n, (ast.Import, ast.ImportFrom)) for a in n.names if a.asname
        }
        for stmt in tree.body:
            names = _names_used(stmt, aliases)
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names.discard(stmt.name)
                if path.startswith(package):
                    defined[stmt.name] = os.path.relpath(path, ROOT)
            used |= names
    dead = sorted(f"{path}:{name}" for name, path in defined.items() if name not in used)
    assert not dead, f"top-level definitions nothing names: {dead}"


COVERAGE = os.path.join(ROOT, "COVERAGE.md")
# a backticked `path.py` or `path.py::name`, or a bare `::name` that
# continues the last path of its table cell
_COVERAGE_REF = re.compile(r"`([\w/]+\.py)?(?:::([^`]+))?`")


def _coverage_file(ref: str) -> str | None:
    """A path relative to the repo, ``crawlspark/`` or ``tests/``; a
    bare module name is an operator."""
    bases = ("", "crawlspark", "tests") + (("crawlspark/operators",) if "/" not in ref else ())
    for base in bases:
        path = os.path.join(ROOT, base, ref)
        rel = os.path.relpath(path, ROOT)
        if rel.split(os.sep)[0] in ("crawlspark", "tests") and os.path.isfile(path):
            return path
    return None


def _top_level(body) -> dict[str, list]:
    """name -> body (a class's statements, else []) of each def, class
    and assigned name in ``body``."""
    out = {}
    for stmt in body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
            out[stmt.name] = []
        elif isinstance(stmt, ast.ClassDef):
            out[stmt.name] = stmt.body
        elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
            targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
            out.update((t.id, []) for t in targets if isinstance(t, ast.Name))
    return out


def _resolves(path: str, name: str) -> bool:
    """``name`` is ``def``, ``Class.method`` or ``prefix*``, defined at
    the top level of ``path``."""
    scope = _top_level(ast.parse(open(path).read(), path).body)
    head, *rest = name.split(".")
    if head.endswith("*"):
        return not rest and any(n.startswith(head[:-1]) for n in scope)
    if head not in scope:
        return False
    return all(part in _top_level(scope[head]) for part in rest)


def test_coverage_map_names_existing_code():
    """Every file and definition COVERAGE.md names in backticks exists,
    so a cut that deletes code has to take its rows out too."""
    dead = []
    for line in open(COVERAGE).read().splitlines():
        for cell in line.split("|"):
            path = None
            for file_ref, names in _COVERAGE_REF.findall(cell):
                if file_ref:
                    ref, path = file_ref, _coverage_file(file_ref)
                    if path is None:
                        dead.append(ref)
                if names and path is not None:
                    dead.extend(
                        f"{ref}::{n}" for n in names.split("/") if not _resolves(path, n)
                    )
    dead = sorted(set(dead))
    assert not dead, f"COVERAGE.md names {len(dead)} missing files or definitions: {dead}"


def test_every_crawl_config_field_is_read():
    """Every ``CrawlConfig`` field is read in the package as
    ``cfg.<field>`` or ``config.<field>``; ``validate`` reads its fields
    as ``self.<field>``, which does not count. A knob stays only while a
    behaviour needs it, so one whose last reader is deleted fails here."""
    epoch = os.path.join(ROOT, "crawlspark", "plans", "epoch.py")
    tree = ast.parse(open(epoch).read(), epoch)
    cls = next(n for n in tree.body if isinstance(n, ast.ClassDef) and n.name == "CrawlConfig")
    fields = {s.target.id for s in cls.body if isinstance(s, ast.AnnAssign)}
    assert fields, "the walk found no CrawlConfig field"
    read = set()
    for path in _package_files():
        for n in ast.walk(ast.parse(open(path).read(), path)):
            if (
                isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load)
                and isinstance(n.value, ast.Name) and n.value.id in ("cfg", "config")
            ):
                read.add(n.attr)
    unread = sorted(fields - read)
    assert not unread, f"CrawlConfig fields nothing reads: {unread}"
