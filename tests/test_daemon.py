"""The worker daemon's stat-gated zip invalidation: its semantics without
Spark, its presence in the workers of a ``get_spark`` session, and a
session started away from the checkout."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from splade_easy_spark import daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
needs_gate = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="Python 3.12+ re-reads zip archives lazily"
)


def _write_zip(path, modules, mtime_ns):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")
    os.utime(path, ns=(mtime_ns, mtime_ns))


@needs_gate
def test_gate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """An unchanged archive is not re-read; a rewritten one is, and the
    module added to it imports."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["gate_mod_a"], 1_000_000_000_000_000_000)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        daemon.stat_gated(zipimport.zipimporter.invalidate_caches),
    )
    for name in ("gate_mod_a", "gate_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("gate_mod_a").NAME == "gate_mod_a"
    importlib.invalidate_caches()  # the gate's first read of each archive

    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or real(p))
    importlib.invalidate_caches()
    assert reads == []  # unchanged: nothing re-read

    _write_zip(archive, ["gate_mod_a", "gate_mod_b"], 2_000_000_000_000_000_000)
    importlib.invalidate_caches()
    assert archive in reads
    assert importlib.import_module("gate_mod_b").NAME == "gate_mod_b"


@needs_gate
def test_gate_is_live_in_workers(spark):
    """Each worker inherits the gate from the daemon it forks from, so it
    is in place from the worker's first task, and a task's
    ``invalidate_caches`` re-reads none of the worker's zip archives."""

    # defined here so that it ships by value: workers cannot import tests
    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pyarrow as pa

        from splade_easy_spark import daemon

        reads = 0
        real = zipimport._read_directory

        def spy(path):
            nonlocal reads
            reads += 1
            return real(path)

        zipimport._read_directory = spy
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "gated": [zipimport.zipimporter.invalidate_caches.__module__ == daemon.__name__],
            "forked": [daemon.installed_in not in (None, os.getpid())],
            "zips": [sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())],
            "reads": [reads],
        })

    rows = spark.range(0, 8, 1, 8).mapInArrow(
        probe, "gated BOOLEAN, forked BOOLEAN, zips LONG, reads LONG"
    ).collect()
    assert len(rows) == 8
    for r in rows:
        assert r["gated"] and r["forked"], r
        assert r["zips"] > 0 and r["reads"] == 0, r


def test_session_starts_outside_the_checkout(tmp_path):
    """The daemon ``get_spark`` names is importable with neither the
    checkout as cwd nor a PYTHONPATH: the session puts the package root
    on the workers' path."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from splade_easy_spark.session import get_spark
        s = get_spark("outside", cores=1, extra_conf={{"spark.driver.memory": "1g"}})
        n = len(s.range(3).mapInArrow(lambda it: it, "id LONG").collect())
        print("daemon", s.conf.get("spark.python.daemon.module"), "rows", n)
        s.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "daemon splade_easy_spark.daemon rows 3" in out.stdout
