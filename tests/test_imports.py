"""Every module under llmap_spark imports, and every name the package and
its scripts import from it exists: a stale import of a deleted module or
function fails here in milliseconds instead of deep inside a Spark job."""

from __future__ import annotations

import ast
import importlib.util
import inspect
import pkgutil
from pathlib import Path

import llmap_spark

ROOT = Path(__file__).resolve().parent.parent
# every file whose imports a deletion can leave dangling, function-local
# (lazy) ones included; read only, never executed
SOURCES = sorted(
    [*ROOT.glob("llmap_spark/**/*.py"), ROOT / "__spark_entry__.py",
     ROOT / "bench.py", *ROOT.glob("bench/*.py"),
     *ROOT.glob("perfbench/*.py")])


def test_every_module_imports():
    names = [m.name for m in pkgutil.walk_packages(
        llmap_spark.__path__, prefix="llmap_spark.")]
    assert "llmap_spark.plans.pipeline" in names
    for name in names:
        importlib.import_module(name)


def _package_imports(path: Path):
    """(module, name) for every `from llmap_spark... import name` in the
    file (name None for a plain `import llmap_spark...`), at any depth."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and not node.level and (
                node.module.split(".")[0] == "llmap_spark"):
            for alias in node.names:
                yield node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "llmap_spark":
                    yield alias.name, None


def test_no_dangling_package_imports():
    seen = set()
    for path in SOURCES:
        for module, name in _package_imports(path):
            seen.add((module, name))
            where = f"{path.relative_to(ROOT)}: {module}"
            mod = importlib.import_module(module)
            if name is not None and not hasattr(mod, name):
                # `from pkg import submodule` binds a module, not an attribute
                assert hasattr(mod, "__path__") and importlib.util.find_spec(
                    f"{module}.{name}"), f"{where} has no {name}"
    # the walk reaches lazy imports: this one is only ever made inside
    # function bodies
    assert ("llmap_spark.operators.dedup", "minhash_lsh_candidates") in seen


def _package_calls(path: Path):
    """(line, module, name, n_positional, keywords) for every call, at any
    depth, of a name the file imports from llmap_spark; n_positional is
    None when the call unpacks *args."""
    tree = ast.parse(path.read_text(), str(path))
    imported = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and not node.level and (
                node.module.split(".")[0] == "llmap_spark"):
            for alias in node.names:
                imported[alias.asname or alias.name] = (node.module,
                                                        alias.name)
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
                and node.func.id in imported):
            starred = any(isinstance(a, ast.Starred) for a in node.args)
            yield (node.lineno, *imported[node.func.id],
                   None if starred else len(node.args),
                   [kw.arg for kw in node.keywords if kw.arg is not None])


def test_package_call_sites_match_signatures():
    """A removed keyword option fails here at every caller, the read-only
    benchmark scripts included, instead of at run time."""
    seen = set()
    for path in SOURCES:
        rel = str(path.relative_to(ROOT))
        for line, module, name, n_pos, keywords in _package_calls(path):
            obj = getattr(importlib.import_module(module), name)
            if not callable(obj):
                continue
            seen.add((rel, name, *keywords))
            try:
                sig = inspect.signature(obj)
            except (TypeError, ValueError):
                continue  # a builtin without an introspectable signature
            args = () if n_pos is None else range(n_pos)
            try:
                sig.bind_partial(*args, **dict.fromkeys(keywords))
            except TypeError as exc:
                raise AssertionError(f"{rel}:{line}: {name}: {exc}") from None
    assert ("perfbench/job.py", "minhash_lsh_candidates",
            "materialize") in seen


# what the extraction funnel and the curation chain run: their CLIs, the
# plans, the snapshot sink, the oracle, and the benchmark's job scripts
REACH_ROOTS = sorted(
    [ROOT / "llmap_spark/run_extract.py", ROOT / "llmap_spark/run_curate.py",
     *ROOT.glob("llmap_spark/plans/*.py"),
     ROOT / "llmap_spark/sources/snapshot.py", ROOT / "llmap_spark/oracle.py",
     *ROOT.glob("perfbench/*.py")])


def _module_path(name: str) -> Path:
    p = ROOT / name.replace(".", "/")
    return p / "__init__.py" if p.is_dir() else p.with_suffix(".py")


def test_every_module_is_reachable():
    """Every module the funnel and the chain never import is dead weight:
    a new module without a caller fails here, and so does a module that
    loses its last one. Packages are judged by their submodules."""
    modules = {m.name: m.ispkg for m in pkgutil.walk_packages(
        llmap_spark.__path__, prefix="llmap_spark.")}
    reached: set[str] = set()
    todo = [".".join(p.relative_to(ROOT).with_suffix("").parts)
            for p in REACH_ROOTS]
    while todo:
        name = todo.pop()
        parts = name.split(".")
        # importing a.b.c runs a/__init__.py and a/b/__init__.py too
        for i in range(1, len(parts) + 1):
            mod = ".".join(parts[:i])
            if mod in reached or not _module_path(mod).is_file():
                continue  # seen, or a directory of scripts (perfbench/)
            reached.add(mod)
            for module, imported in _package_imports(_module_path(mod)):
                sub = f"{module}.{imported}"
                todo.append(sub if sub in modules else module)
    leaves = {m for m, ispkg in modules.items() if not ispkg}
    assert leaves - reached == set(), "modules nothing reaches"
