"""The non-test entry points (the bench driver contract, the benchmark
package and the scripts) still resolve against the library: every
`from distill_spark... import name` they contain names something that
exists, every keyword the benchmark passes to such a name is one of its
parameters, and every `cfg.<attr>` the benchmark reads exists on
DedupConfig(). Deleting a name, parameter or field one of them uses
fails here, not in a later benchmark run."""

import ast
import glob
import importlib
import inspect
import os

import pytest

from distill_spark.config import DedupConfig

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = sorted(glob.glob(os.path.join(ROOT, "perfbench", "*.py")))
ENTRY_FILES = (
    [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
    + PERFBENCH
    + sorted(glob.glob(os.path.join(ROOT, "scripts", "*.py")))
)


def _tree(path):
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), filename=path)


def _library_imports(tree):
    """(module, name or None) for every absolute import of distill_spark."""
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module.split(".")[0] == "distill_spark":
                for alias in node.names:
                    yield node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "distill_spark":
                    yield alias.name, None


def _resolves(module, name):
    mod = importlib.import_module(module)
    if name is None or hasattr(mod, name):
        return True
    try:  # a submodule not yet imported by its package
        importlib.import_module(f"{module}.{name}")
        return True
    except ModuleNotFoundError:
        return False


def test_entry_files_found():
    names = {os.path.basename(p) for p in ENTRY_FILES}
    assert {"bench.py", "__spark_entry__.py", "tracing.py", "check_oracle.py"} <= names


@pytest.mark.parametrize("path", ENTRY_FILES, ids=lambda p: os.path.relpath(p, ROOT))
def test_library_imports_resolve(path):
    missing = [f"{m}.{n}" if n else m
               for m, n in _library_imports(_tree(path)) if not _resolves(m, n)]
    assert not missing, f"{os.path.relpath(path, ROOT)} imports missing names: {missing}"


@pytest.mark.parametrize("path", PERFBENCH, ids=lambda p: os.path.relpath(p, ROOT))
def test_perfbench_cfg_reads_exist(path):
    cfg = DedupConfig()
    reads = {node.attr for node in ast.walk(_tree(path))
             if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load)
             and isinstance(node.value, ast.Name) and node.value.id == "cfg"}
    missing = sorted(a for a in reads if not hasattr(cfg, a))
    assert not missing, f"{os.path.relpath(path, ROOT)} reads missing cfg attrs: {missing}"


@pytest.mark.parametrize("path", PERFBENCH, ids=lambda p: os.path.relpath(p, ROOT))
def test_perfbench_keywords_are_parameters(path):
    tree = _tree(path)
    imported = {n: getattr(importlib.import_module(m), n, None)
                for m, n in _library_imports(tree) if n}
    imported = {n: obj for n, obj in imported.items() if callable(obj)}
    bad = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name) \
                and node.func.id in imported:
            params = inspect.signature(imported[node.func.id]).parameters
            if any(p.kind is p.VAR_KEYWORD for p in params.values()):
                continue
            bad += [f"{node.func.id}({kw.arg}=) at line {node.lineno}"
                    for kw in node.keywords
                    if kw.arg is not None and kw.arg not in params]
    assert not bad, f"{os.path.relpath(path, ROOT)} passes unknown keywords: {bad}"
