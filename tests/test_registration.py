"""One way for a key to enter the inventory: a module-level ``@register``
on its builder. No builder is registered from inside another function, no
module outside ``registry.py`` writes into ``QUERIES``, and every import of
the package sits at module top, so a module's dependencies are read from
its head.

AST and imports only, no Spark."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "gvcf_hbase_spark")
MUTATORS = {"update", "pop", "popitem", "setdefault", "clear", "__setitem__", "__delitem__"}


def _modules():
    for root, _, files in os.walk(PKG):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as f:
                    yield os.path.relpath(path, PKG), ast.parse(f.read(), path)


def _function_children(node: ast.AST, inside: bool = False):
    """Every node that sits inside some function body, once."""
    for child in ast.iter_child_nodes(node):
        if inside:
            yield child
        yield from _function_children(
            child, inside or isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
        )


def _names_queries(node: ast.AST) -> bool:
    return any(
        getattr(n, "id", None) == "QUERIES" or getattr(n, "attr", None) == "QUERIES"
        for n in ast.walk(node)
    )


def test_no_builder_is_registered_inside_a_function():
    found = []
    for rel, tree in _modules():
        for node in _function_children(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for deco in node.decorator_list:
                fn = deco.func if isinstance(deco, ast.Call) else deco
                if getattr(fn, "id", getattr(fn, "attr", None)) == "register":
                    found.append(f"{rel}:{node.lineno} {node.name}")
    assert not found, "keys registered inside a function:\n" + "\n".join(found)


def test_only_the_registry_writes_queries():
    found = []
    for rel, tree in _modules():
        if rel == "registry.py":
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
                targets = [node.target]
            elif isinstance(node, ast.Delete):
                targets = node.targets
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in MUTATORS
            ):
                targets = [node.func.value]
            else:
                continue
            if any(_names_queries(t) for t in targets):
                found.append(f"{rel}:{node.lineno}")
    assert not found, "QUERIES written outside registry.py:\n" + "\n".join(found)


def test_package_imports_sit_at_module_top():
    found = []
    for rel, tree in _modules():
        for node in _function_children(tree):
            if isinstance(node, ast.ImportFrom):
                mods = [node.module or ""] if not node.level else ["gvcf_hbase_spark"]
            elif isinstance(node, ast.Import):
                mods = [alias.name for alias in node.names]
            else:
                continue
            if any(m.split(".")[0] == "gvcf_hbase_spark" for m in mods):
                found.append(f"{rel}:{node.lineno}")
    assert not found, "function-local package imports:\n" + "\n".join(found)


def _inventory_order(preimport: str) -> list[str]:
    code = (
        f"import json, sys; sys.path.insert(0, {os.path.dirname(PKG)!r}); {preimport}"
        "from gvcf_hbase_spark.registry import load_all; print(json.dumps(list(load_all())))"
    )
    run = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, timeout=300)
    assert run.returncode == 0, run.stderr[-4000:]
    return json.loads(run.stdout.strip().splitlines()[-1])


def test_inventory_order_does_not_depend_on_import_order():
    """Keys past the priority window follow _MODULES order, so a process
    that imported an operator module before load_all() enumerates the
    inventory exactly as a fresh one does."""
    fresh = _inventory_order("")
    assert len(fresh) == len(set(fresh))
    assert _inventory_order("import gvcf_hbase_spark.operators.curation; ") == fresh
