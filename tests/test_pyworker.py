"""The per-task worker fix (`_pyworker`): an unchanged archive is not
re-read, a changed one still is, the driver is untouched, a reused
worker keeps the fix from its second task on, and every Python stage
in the package goes through `python_stage`."""

from __future__ import annotations

import ast
import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from claude_readability_hook_spark import _pyworker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "claude_readability_hook_spark")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


def test_stat_checked_reread_on_a_temp_zip(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    first, second = "crh_pyworker_mod_a", "crh_pyworker_mod_b"
    _write_zip(archive, {first: "X = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _pyworker._invalidate_if_changed
    )
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(first).X == 1
        importlib.invalidate_caches()  # first call reads once and stamps
        del reads[:]
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []  # unchanged archive: not re-read

        _write_zip(archive, {first: "X = 1\n", second: "Y = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == 1  # size changed: re-read
        assert importlib.import_module(second).Y == 2
    finally:
        for name in (first, second):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_install_outside_a_task_is_a_no_op():
    before = zipimport.zipimporter.__dict__["invalidate_caches"]
    try:
        _pyworker.install()
        _pyworker.install()
        assert zipimport.zipimporter.__dict__["invalidate_caches"] is before
    finally:
        zipimport.zipimporter.invalidate_caches = before


# Runs as __main__ in a fresh local[2] JVM, so the probe is pickled by
# value and no earlier test has warmed the worker pool.
_PROBE = """
import json, os, sys, time, zipimport
import pyarrow as pa
from pyspark.sql import SparkSession
from claude_readability_hook_spark._pyworker import python_stage

def probe(batches):
    zips = [f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)]
    # the worker re-reads before each task; a stamped importer means
    # that call already went through the stat-checked method
    stamped = any(hasattr(f, "_stat_stamp") for f in zips)
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pylist([{
        "pid": os.getpid(), "t": time.monotonic_ns(),
        "stamped": stamped, "zips": len(zips),
    }])

spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
rows = (spark.range(0, 8, 1, 8)
        .mapInArrow(python_stage(probe), "pid long, t long, stamped boolean, zips long")
        .collect())
print(json.dumps([r.asDict() for r in rows]))
spark.stop()
"""


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="CPython 3.13 is lazy")
def test_reused_worker_keeps_the_fix(tmp_path):
    script = tmp_path / "probe.py"
    script.write_text(textwrap.dedent(_PROBE))
    env = dict(os.environ, PYTHONPATH=ROOT)
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    rows = json.loads(proc.stdout.strip().splitlines()[-1])
    assert len(rows) == 8
    assert all(r["zips"] > 0 for r in rows)
    by_pid = {}
    for r in sorted(rows, key=lambda r: r["t"]):
        by_pid.setdefault(r["pid"], []).append(r["stamped"])
    assert len(by_pid) < len(rows)  # workers were reused
    for seen in by_pid.values():
        assert seen[0] is False  # setup of a fresh worker ran the original
        assert all(seen[1:])


def _stage_calls():
    for dirpath, _dirnames, filenames in os.walk(PKG):
        for fn in filenames:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("mapInArrow", "mapInPandas")
                ):
                    yield os.path.relpath(path, ROOT), node


def test_every_python_stage_goes_through_python_stage():
    calls = list(_stage_calls())
    assert len(calls) >= 26
    unwrapped = [
        f"{path}:{node.lineno}"
        for path, node in calls
        if not (
            node.args
            and isinstance(node.args[0], ast.Call)
            and isinstance(node.args[0].func, ast.Name)
            and node.args[0].func.id == "python_stage"
        )
    ]
    assert unwrapped == []
