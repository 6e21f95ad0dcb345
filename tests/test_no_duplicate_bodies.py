"""One implementation per operator core: no two function bodies in the
package are the same code. A pasted copy has to be mended by hand in every
place it lives; a shared helper next to its callers is mended once.

AST only, no Spark: each function body of at least ``MIN_NODES`` AST
nodes (docstring stripped, so copies with different docstrings still
match) is dumped without positions and hashed; two equal hashes fail."""

from __future__ import annotations

import ast
import hashlib
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "gvcf_hbase_spark")
MIN_NODES = 40


def _sizes(node: ast.AST, out: dict) -> int:
    """Node count of every subtree under ``node``, in one pass."""
    out[node] = 1 + sum(_sizes(child, out) for child in ast.iter_child_nodes(node))
    return out[node]


def _body_hashes():
    for root, _, files in os.walk(PKG):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            sizes: dict = {}
            _sizes(tree, sizes)
            for node in sizes:
                if not isinstance(node, ast.FunctionDef):
                    continue
                body = node.body
                if ast.get_docstring(node) is not None:
                    body = body[1:]
                if 1 + sum(sizes[stmt] for stmt in body) < MIN_NODES:
                    continue
                mod = ast.Module(body=body, type_ignores=[])
                digest = hashlib.sha1(ast.dump(mod).encode()).hexdigest()
                yield digest, f"{os.path.relpath(path, PKG)}:{node.lineno} {node.name}"


def test_no_two_function_bodies_are_equal():
    seen: dict[str, list[str]] = {}
    for digest, where in _body_hashes():
        seen.setdefault(digest, []).append(where)
    dups = [sites for sites in seen.values() if len(sites) > 1]
    assert not dups, "identical function bodies (share one helper):\n" + "\n".join(
        " = ".join(sites) for sites in dups
    )
