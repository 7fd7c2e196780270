"""Every ``dexspark`` module is reached from an entry point.

Walks the import graph with ``ast`` (absolute, relative and
function-local imports; no module is executed, no Spark session) from
the entry points a user or a benchmark runs:

* ``dexspark/cli.py`` — the engine's command line;
* ``__spark_entry__.py`` — the ``queries()`` entry point;
* ``bench.py``, ``perfbench/*.py`` and ``tools/*.py`` — the benchmarks
  and their tooling.

A module that only ``tests/`` imports is a second copy of something the
engine already does, or dead weight; it gets wired to one of these
entry points, folded into a sibling, or deleted. The list below names
each module left unreached, with its reason, so a new orphan fails
here and so does wiring one of the listed modules without updating the
list.
"""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

UNREACHED = {
    "dexspark.xxh64": (
        "pure-Python mirror of Spark's xxhash64, the reference that "
        "tests/test_fim.py and tests/test_dsir.py compare the JVM against"
    ),
}


def _module_files() -> dict[str, str]:
    """dotted module name -> file, for every module under dexspark/."""
    out = {}
    for dirpath, _, files in os.walk(os.path.join(REPO, "dexspark")):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), REPO)[:-3]
            parts = rel.split(os.sep)
            if parts[-1] == "__init__":
                parts = parts[:-1]
            out[".".join(parts)] = os.path.join(dirpath, f)
    return out


def _imported(path: str, package: str) -> set[str]:
    """Dotted names a file imports, relative imports resolved against
    ``package``; ``from X import name`` yields both X and X.name (the
    name may be a submodule)."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split(".")
                base = base[: len(base) - (node.level - 1)]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module
            out.add(mod)
            out.update(f"{mod}.{a.name}" for a in node.names)
    return out


def _entry_files() -> list[str]:
    """The top-level scripts (outside the package) that run dexspark."""
    files = [
        os.path.join(REPO, "__spark_entry__.py"),
        os.path.join(REPO, "bench.py"),
    ]
    for d in ("perfbench", "tools"):
        files += sorted(
            os.path.join(REPO, d, f)
            for f in os.listdir(os.path.join(REPO, d))
            if f.endswith(".py")
        )
    return files


def _reached(modules: dict[str, str]) -> set[str]:
    reached: set[str] = set()
    todo = [(f, "") for f in _entry_files()]

    def visit(name: str) -> None:
        # importing a.b.c runs a/__init__ and a/b/__init__ too
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            mod = ".".join(parts[:i])
            if mod in modules and mod not in reached:
                reached.add(mod)
                f = modules[mod]
                pkg = mod if f.endswith("__init__.py") else (
                    mod.rpartition(".")[0]
                )
                todo.append((f, pkg))

    visit("dexspark.cli")  # python -m dexspark.cli
    while todo:
        path, package = todo.pop()
        for name in _imported(path, package):
            visit(name)
    return reached


def test_unreached_modules_are_exactly_the_listed_ones():
    modules = _module_files()
    assert "dexspark.cli" in modules and "dexspark.lake" in modules
    unreached = set(modules) - _reached(modules)
    assert unreached == set(UNREACHED), (
        f"unreached now: {sorted(unreached)}; "
        f"listed: {sorted(UNREACHED)}"
    )


def test_walker_resolves_relative_and_local_imports(tmp_path):
    """The walker sees the import forms the package uses: relative
    imports one and two levels up, ``from . import x``, and imports
    inside a function body."""
    src = tmp_path / "m.py"
    src.write_text(
        "from .fim import fim_transform\n"
        "from . import dsir\n"
        "from ..lake import LakeTable\n"
        "def f():\n"
        "    import dexspark.stream\n"
        "    from ..events import open_binlog\n"
    )
    got = _imported(str(src), "dexspark.operators")
    assert {
        "dexspark.operators.fim",
        "dexspark.operators.dsir",
        "dexspark.lake",
        "dexspark.stream",
        "dexspark.events",
    } <= got
