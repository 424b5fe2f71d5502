"""Every module under transformers_spark/ must have a caller outside
tests/: the program itself, tools/, perfbench/, examples/ or
__spark_entry__.py. A module that only tests import is library code no
one runs; delete it with its tests, or move what a test needs into the
test. Imports are read with ``ast``, so nothing is executed."""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "transformers_spark"
CALLER_ROOTS = (PACKAGE, "tools", "perfbench", "examples", "__spark_entry__.py")

# samples.py runs the reference's sample task directories; only the
# reference-corpus tests (tests/test_sample_tasks.py) call it, and they
# are the check that every reference sample still runs end to end.
ALLOWED_TEST_ONLY = {f"{PACKAGE}.samples"}


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, REPO)[: -len(".py")]
    parts = rel.split(os.sep)
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _py_files(root: str) -> list[str]:
    top = os.path.join(REPO, root)
    if os.path.isfile(top):
        return [top]
    out = []
    for dirpath, dirnames, files in os.walk(top):
        dirnames[:] = [d for d in dirnames if d not in ("tests", "__pycache__")]
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    return out


def _imported(path: str, modules: set[str]) -> set[str]:
    """The package modules ``path`` imports, relative imports resolved
    against its own package; ``from pkg import name`` counts ``pkg.name``
    when that is a module, else ``pkg``."""
    name = _module_name(path)
    is_pkg = path.endswith("__init__.py")
    package = name if is_pkg else name.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(open(path).read(), path)):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split(".")
                base = base[: len(base) - (node.level - 1)]
                target = ".".join(base + ([node.module] if node.module else []))
            else:
                target = node.module
            for a in node.names:
                sub = f"{target}.{a.name}"
                found.add(sub if sub in modules else target)
    return found & modules


def _parents(mod: str) -> list[str]:
    parts = mod.split(".")
    return [".".join(parts[:i]) for i in range(1, len(parts) + 1)]


def test_every_package_module_has_a_caller_outside_tests():
    modules = {_module_name(p) for p in _py_files(PACKAGE)}
    imported = set()
    for root in CALLER_ROOTS:
        for path in _py_files(root):
            for mod in _imported(path, modules):
                # importing a submodule imports (and uses) its packages
                imported.update(p for p in _parents(mod) if p != _module_name(path))
    orphans = sorted(modules - imported - ALLOWED_TEST_ONLY)
    assert not orphans, (
        f"imported by nothing outside tests/: {orphans} — delete them with "
        "the tests that check only them, or give them a caller"
    )

