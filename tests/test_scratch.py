"""One home for the files a key's build writes: ``sources.tables.scratch_dir``
(a fresh directory per build under one root the process owns) and
``sources.tables.fixture_copy`` (a derived copy of a fixture table,
written once per table version). No other package code picks a temp path,
renames a directory into place or removes one, and a process that builds
file-writing keys leaves no ``gvcf_*`` entry in its temp directory."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import textwrap

import pytest

from gvcf_hbase_spark.sources import tables
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "gvcf_hbase_spark")
SF_SMALL = os.path.join(os.path.dirname(SF_DIR), "sf0.001")
HELPERS = {"scratch_dir", "fixture_copy"}
TEMP_NAMES = {"tempfile", "mkdtemp", "gettempdir"}


def _is_helper(rel: str, stmt: ast.stmt) -> bool:
    """Top-level statements of sources/tables.py that make up the helpers:
    the two functions, the module imports and the scratch root."""
    if rel != os.path.join("sources", "tables.py"):
        return False
    if isinstance(stmt, ast.FunctionDef):
        return stmt.name in HELPERS
    target = getattr(stmt, "target", None)
    return isinstance(stmt, ast.Import) or getattr(target, "id", None) == "_SCRATCH_ROOT"


def _temp_file_idiom(node: ast.AST) -> bool:
    if isinstance(node, ast.Import):
        return any(a.name == "tempfile" for a in node.names)
    if isinstance(node, ast.ImportFrom):
        return node.module == "tempfile" or any(
            a.name in TEMP_NAMES | {"rename", "rmtree"} for a in node.names
        )
    if isinstance(node, ast.Name):
        return node.id in TEMP_NAMES
    if isinstance(node, ast.Attribute):
        owner = getattr(node.value, "id", None)
        return node.attr in TEMP_NAMES or (owner, node.attr) in {
            ("os", "rename"),
            ("shutil", "rmtree"),
        }
    return isinstance(node, ast.Constant) and str(node.value).startswith("/tmp")


def temp_file_sites(pkg: str = PKG) -> list[str]:
    """``file:line top-level-name`` of every temp-file idiom in the package
    outside the two helpers."""
    found = set()
    for root, _, files in os.walk(pkg):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, pkg)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for stmt in tree.body:
                if _is_helper(rel, stmt):
                    continue
                owner = getattr(stmt, "name", "<module>")
                for node in ast.walk(stmt):
                    if _temp_file_idiom(node):
                        found.add(f"{rel}:{node.lineno} {owner}")
    return sorted(found)


def test_temp_files_only_through_the_helpers():
    """Key builds get their directories from scratch_dir or fixture_copy; a
    mkdtemp, gettempdir, '/tmp' literal, os.rename or shutil.rmtree
    anywhere else is a second answer to where files live and how long."""
    found = temp_file_sites()
    assert not found, "temp-file idioms outside the helpers:\n" + "\n".join(found)


def test_builds_leave_nothing_in_the_temp_dir(tmp_path):
    """A process that builds and runs the file-writing keys, then exits,
    leaves no gvcf_* entry in its temp directory: every build's directory
    lives under the process's scratch root, which goes at exit."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from gvcf_hbase_spark.registry import load_all
        from gvcf_hbase_spark.session import get_spark
        from gvcf_hbase_spark.sources import tables

        spark = get_spark("scratch-lifetime")
        specs = load_all()
        for key in ("sink_bulk_put", "join_dpp_partitioned", "source_binary_files"):
            specs[key].fn(spark, {SF_SMALL!r}).write.format("noop").mode("overwrite").save()
        root = getattr(tables, "_SCRATCH_ROOT", None)
        print("ROOT", root.name if root else "")
        spark.stop()
        """
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    run = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True, timeout=600
    )
    assert run.returncode == 0, run.stderr[-4000:]
    left = sorted(p for p in os.listdir(tmp_path) if p.startswith("gvcf_"))
    assert not left, f"left behind in the temp dir: {left}"
    root = run.stdout.split("ROOT", 1)[1].strip()
    assert root.startswith(str(tmp_path)) and not os.path.exists(root)


@pytest.fixture()
def fixture_dir(tmp_path, monkeypatch):
    """A one-file fixture table and a private temp dir for its copies."""
    monkeypatch.setattr(tables.tempfile, "tempdir", str(tmp_path / "tmp"))
    os.makedirs(tmp_path / "tmp")
    sf = tmp_path / "sf"
    os.makedirs(sf)
    (sf / "t.parquet").write_bytes(b"v1")
    return str(sf)


def _writer(calls: list):
    def write(d: str) -> None:
        calls.append(d)
        with open(os.path.join(d, "part"), "w") as f:
            f.write(str(len(calls)))

    return write


def test_fixture_copy_writes_once_per_table_version(fixture_dir):
    calls: list[str] = []
    first = tables.fixture_copy(fixture_dir, "t", "copy", _writer(calls))
    assert tables.fixture_copy(fixture_dir, "t", "copy", _writer(calls)) == first
    assert len(calls) == 1 and not os.path.exists(calls[0])  # published by rename
    assert open(os.path.join(first, "part")).read() == "1"

    # a rewritten table file is a new version, written again
    path = os.path.join(fixture_dir, "t.parquet")
    with open(path, "wb") as f:
        f.write(b"version 2")
    second = tables.fixture_copy(fixture_dir, "t", "copy", _writer(calls))
    assert second != first and len(calls) == 2
    assert open(os.path.join(second, "part")).read() == "2"


def test_fixture_copy_failed_write_leaves_no_copy(fixture_dir):
    tmp_root = tables.tempfile.gettempdir()

    def boom(d: str) -> None:
        with open(os.path.join(d, "half"), "w") as f:
            f.write("partial")
        raise RuntimeError("writer crashed")

    with pytest.raises(RuntimeError):
        tables.fixture_copy(fixture_dir, "t", "copy", boom)
    copies = os.path.join(tmp_root, "gvcf_fixture_copies")
    assert os.listdir(copies) == []  # neither the final path nor the private dir

    calls: list[str] = []
    out = tables.fixture_copy(fixture_dir, "t", "copy", _writer(calls))
    assert len(calls) == 1 and os.listdir(copies) == [os.path.basename(out)]


def test_fixture_copy_without_fingerprint_writes_every_call(tmp_path):
    """A path with no local fingerprint is never cached: each call writes
    a fresh scratch directory."""
    calls: list[str] = []
    missing = str(tmp_path / "not_local")
    a = tables.fixture_copy(missing, "t", "copy", _writer(calls))
    b = tables.fixture_copy(missing, "t", "copy", _writer(calls))
    assert a != b and calls == [a, b]
    assert os.path.dirname(a) == tables._SCRATCH_ROOT.name
