"""Static checks over the standalone scripts (no Spark, no imports executed).

Every ``tools/*.py`` script plus ``bench.py`` and ``bench_extra.py`` must
byte-compile, and every import of a sibling script (``core_ladder`` ->
``scaling_run``/``spark_pilot``, ``scaling_run`` -> ``bench``, ...) must
name a script that exists and names it defines, so deleting or renaming a
script cannot leave a dangling import behind.  Any other absolute import
must be the standard library or one of the third-party packages the
scripts use (``THIRD_PARTY``), so an import of a wholly deleted script
fails too; nothing has to be installed for the check.
"""

import ast
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(REPO, "tools")
SCRIPTS = sorted(
    [os.path.join(TOOLS, f) for f in os.listdir(TOOLS) if f.endswith(".py")]
    + [os.path.join(REPO, "bench.py"), os.path.join(REPO, "bench_extra.py")]
)
# the scripts put their own directory, the repo root and (bench.py) tools/
# on sys.path before importing siblings
SEARCH_DIRS = (TOOLS, REPO)
THIRD_PARTY = {"pyspark", "numpy", "pandas", "duckdb"}


def _parse(path):
    with open(path, encoding="utf-8") as f:
        src = f.read()
    compile(src, path, "exec")
    return ast.parse(src, path)


def _imports(tree):
    """(top-level module, imported names or None) for every absolute import."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                yield a.name.split(".")[0], None
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            yield node.module.split(".")[0], (
                [a.name for a in node.names] if "." not in node.module else None)


def _local_file(mod, importer):
    for d in (os.path.dirname(importer),) + SEARCH_DIRS:
        if os.path.isfile(os.path.join(d, mod + ".py")):
            return os.path.join(d, mod + ".py")
        if os.path.isdir(os.path.join(d, mod)):
            return os.path.join(d, mod)
    return None


def _top_level_names(tree):
    names = set()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names |= {n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)}
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names |= {(a.asname or a.name).split(".")[0] for a in node.names}
    return names


def _sibling_edges():
    """{(importer, sibling)} over all scripts, checking each edge."""
    edges = set()
    for path in SCRIPTS:
        for mod, names in _imports(_parse(path)):
            local = _local_file(mod, path)
            if local and local.endswith(".py") and os.path.dirname(local) in SEARCH_DIRS:
                edges.add((os.path.basename(path)[:-3], mod))
                if names:
                    missing = set(names) - _top_level_names(_parse(local))
                    assert not missing, (
                        f"{os.path.relpath(path, REPO)} imports {sorted(missing)} "
                        f"from {mod}, which does not define them")
    return edges


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: os.path.relpath(p, REPO))
def test_script_byte_compiles(path):
    _parse(path)


def test_sibling_imports_resolve():
    edges = _sibling_edges()
    # the known sibling imports are seen, so the check is not vacuous
    assert {("core_ladder", "scaling_run"), ("core_ladder", "spark_pilot"),
            ("scaling_run", "bench"), ("bench", "spark_pilot"),
            ("sf1_bench", "spark_pilot"), ("delta_sweep", "xfail_inverse")} <= edges


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: os.path.relpath(p, REPO))
def test_absolute_imports_exist(path):
    unknown = {mod for mod, _ in _imports(_parse(path))
               if _local_file(mod, path) is None
               and mod not in sys.stdlib_module_names and mod not in THIRD_PARTY}
    assert not unknown, (
        f"{os.path.relpath(path, REPO)} imports {sorted(unknown)}: no file in the "
        "repository, not stdlib, not a known third-party package")
