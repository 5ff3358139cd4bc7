"""The engine's PySpark daemon (``plans/pydaemon.py``): zip importers
re-read an archive's directory only when the archive changed, the workers
``get_spark`` starts carry that patch, and a session started outside the
checkout still runs every kind of Python UDF."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from featurescreening_jl_spark.plans import pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "fsdaemon_zpkg"
PATCHED = "featurescreening_jl_spark.plans.pydaemon._invalidate_caches"
STOCK = "zipimport.zipimporter.invalidate_caches"


def _write_zip(path: str, modules: dict[str, str]) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)
    os.replace(tmp, path)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding package ``PKG`` on ``sys.path``, its module ``a``
    imported, the backport installed, and a list that records every
    directory read of the archive."""
    path = str(tmp_path / "pkg.zip")
    _write_zip(path, {f"{PKG}/__init__.py": "", f"{PKG}/a.py": "A = 1\n"})
    # restored at teardown, whatever install() does meanwhile
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    pydaemon.install()
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive_path):
        reads.append(archive_path)
        return real(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(path)
    try:
        assert importlib.import_module(f"{PKG}.a").A == 1
        yield path, reads
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == PKG]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
            del sys.path_importer_cache[key]


def _importers(path: str) -> list:
    return [
        imp for key, imp in sys.path_importer_cache.items()
        if key.startswith(path) and isinstance(imp, zipimport.zipimporter)
    ]


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="stock is lazy")
class TestBackport:
    def test_unchanged_archive_is_not_reread(self, archive):
        path, reads = archive
        importlib.invalidate_caches()  # stamps every importer of the zip
        first = reads.count(path)
        assert first >= 1 and len(_importers(path)) >= 2
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(path) == first

    def test_rewritten_archive_is_reread(self, archive):
        path, reads = archive
        importlib.invalidate_caches()
        before = reads.count(path)
        _write_zip(path, {
            f"{PKG}/__init__.py": "",
            f"{PKG}/a.py": "A = 1\n",
            f"{PKG}/b.py": "B = 2\n",
        })
        importlib.invalidate_caches()
        assert reads.count(path) > before
        assert importlib.import_module(f"{PKG}.b").B == 2

    def test_deleted_archive_takes_the_stock_path(self, archive):
        path, reads = archive
        importlib.invalidate_caches()
        before = reads.count(path)
        os.remove(path)
        importlib.invalidate_caches()
        # the stock method tried the read, failed, and emptied the importer
        assert reads.count(path) > before
        assert path not in zipimport._zip_directory_cache
        assert all(imp._files == {} for imp in _importers(path))


def test_stock_method_kept_from_313(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    pydaemon.install()
    assert zipimport.zipimporter.invalidate_caches is stock


@pytest.mark.spark
def test_workers_run_the_backport(spark):
    # defined in the test, so it pickles by value, not by module name
    def method(it):
        import zipimport

        import pandas as pd

        fn = zipimport.zipimporter.invalidate_caches
        for batch in it:
            yield pd.DataFrame(
                {"fn": [f"{fn.__module__}.{fn.__qualname__}"] * len(batch)}
            )

    rows = (
        spark.range(8, numPartitions=4)
        .mapInPandas(method, "fn string")
        .distinct()
        .collect()
    )
    want = STOCK if sys.version_info >= (3, 13) else PATCHED
    assert [r.fn for r in rows] == [want]


_SESSION_SCRIPT = """
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from featurescreening_jl_spark.plans.session import get_spark


def tag(it):
    import zipimport
    import callermod
    fn = zipimport.zipimporter.invalidate_caches
    for b in it:
        yield b.assign(fn=f"{{fn.__module__}}.{{fn.__qualname__}}",
                       tag=callermod.TAG)


spark = get_spark("pydaemon-outside", parallelism=2, extra_conf={{
    "spark.driver.memory": "1g",
    "spark.executorEnv.PYTHONPATH": {caller!r},
}})
rows = spark.range(4, numPartitions=2).mapInPandas(
    tag, "id long, fn string, tag string").collect()
plus = spark.range(3).select(
    F.udf(lambda x: x + 1, "long")("id").alias("y")).collect()
print(json.dumps({{
    "fn": sorted({{r.fn for r in rows}}),
    "tag": sorted({{r.tag for r in rows}}),
    "y": [r.y for r in plus],
}}))
spark.stop()
"""


@pytest.mark.spark
@pytest.mark.slow
def test_session_started_outside_the_checkout(tmp_path):
    """The workers find the daemon (and the caller's own worker path)
    without the engine on PYTHONPATH or in the working directory."""
    caller = tmp_path / "caller"
    caller.mkdir()
    (caller / "callermod.py").write_text("TAG = 'caller'\n")
    script = tmp_path / "job.py"
    script.write_text(textwrap.dedent(
        _SESSION_SCRIPT.format(repo=REPO, caller=str(caller))
    ))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    want = STOCK if sys.version_info >= (3, 13) else PATCHED
    assert out == {"fn": [want], "tag": ["caller"], "y": [1, 2, 3]}
