"""Every module of the package is reachable from an entry point.

A static walk over the import statements (function-level imports
included) starting at the CLI (``crawlspark.__main__``), the corpus
generator (``crawlspark.testdata``) and the query registry
(``__spark_entry__.py``) must reach every ``crawlspark/**/*.py``, so a
module nothing uses cannot creep back in. Every crawlspark import in
the query registry must name a module that exists."""

import ast
import os

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
