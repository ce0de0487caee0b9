"""Every import of the engine package resolves, in every file of the repo.

Scripts, benchmark drivers and function-local imports run in no test, so
a deleted module or function could otherwise leave a dangling import
behind. This test parses each file (it executes none of them) and, for
every ``scotty_window_processor_spark`` import — module level or inside
a function — imports the module and checks that each imported name
exists.
"""

import ast
import importlib
import importlib.util
import os

PKG = "scotty_window_processor_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _source_files():
    for top in (PKG, "tests", "scripts", "perfbench"):
        for dirpath, _, names in os.walk(os.path.join(ROOT, top)):
            yield from (os.path.join(dirpath, n) for n in sorted(names) if n.endswith(".py"))
    for name in ("__spark_entry__.py", "bench.py", "bench_extra.py"):
        yield os.path.join(ROOT, name)


def _package_of(path):
    """Dotted package of a file inside the engine package, else None."""
    rel = os.path.relpath(os.path.dirname(path), ROOT)
    return rel.replace(os.sep, ".") if rel.split(os.sep)[0] == PKG else None


def _engine_imports(path):
    """(line, module, names) for each engine import in ``path``; ``names``
    is empty for a plain ``import module``."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PKG:
                    yield node.lineno, alias.name, []
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                module = importlib.util.resolve_name(
                    "." * node.level + (node.module or ""), _package_of(path)
                )
            else:
                module = node.module
            if module.split(".")[0] == PKG:
                yield node.lineno, module, [a.name for a in node.names if a.name != "*"]


def _unresolved(module, names):
    try:
        mod = importlib.import_module(module)
    except ImportError as e:
        return [f"{module}: {e}"]
    missing = []
    for name in names:
        if hasattr(mod, name):
            continue
        try:  # a submodule that its package does not import eagerly
            importlib.import_module(f"{module}.{name}")
        except ImportError:
            missing.append(f"{module}.{name}")
    return missing


def test_every_engine_import_resolves():
    checked, problems = 0, []
    for path in _source_files():
        for line, module, names in _engine_imports(path):
            checked += 1
            for p in _unresolved(module, names):
                problems.append(f"{os.path.relpath(path, ROOT)}:{line}: {p}")
    assert checked > 100, f"only {checked} engine imports found: the scan is broken"
    assert not problems, "unresolved imports:\n" + "\n".join(problems)


def test_every_gate_has_an_oracle_and_is_recorded():
    import __spark_entry__ as entrymod

    gates = entrymod.queries()
    assert set(gates) == set(entrymod.oracle_sql())
    # the correctness record keeps only the first 50 gates of queries()
    # (CORRECTNESS_r06.json has exactly 50): a gate past that is never run
    assert len(gates) <= 50, f"{len(gates)} gates: the tail is never recorded"
