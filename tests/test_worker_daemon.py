"""The Python worker daemon re-reads a zip import archive only when it
changed, and workers find the package from any working directory."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pandas as pd
import pytest

from data_pipeline_rsna_spark import worker_daemon

ROOT = Path(__file__).resolve().parent.parent


def test_workers_do_not_reread_unchanged_zip_archives(spark):
    def count_reads(it):
        # zip directory reads made by one invalidate_caches() call, and
        # the zipimporters the worker holds
        import importlib
        import sys
        import zipimport

        read = zipimport._read_directory
        calls = []

        def counted(path):
            calls.append(path)
            return read(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in it:
            pass
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield pd.DataFrame({"reads": [len(calls)], "zips": [zips]})

    rows = (
        spark.range(8).repartition(8)
        .mapInPandas(count_reads, "reads long, zips long")
        .collect()
    )
    assert len(rows) == 8
    assert all(r.zips > 0 for r in rows)    # workers import from zips
    assert [r.reads for r in rows] == [0] * 8


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def _load(importer: zipimport.zipimporter, name: str):
    spec = importer.find_spec(name)
    assert spec is not None, f"{name} is not in the archive"
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_patched_invalidate_caches_rereads_only_changed_archives(
    tmp_path, monkeypatch
):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"wd_probe_a": "X = 1\n"})
    read = zipimport._read_directory
    reads = []

    def counted(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    importer = zipimport.zipimporter(str(archive))
    assert _load(importer, "wd_probe_a").X == 1
    worker_daemon.invalidate_caches(importer)     # stamps the importer
    reads.clear()
    worker_daemon.invalidate_caches(importer)
    assert reads == []                            # unchanged: not re-read

    _write_zip(archive, {"wd_probe_a": "X = 1\n", "wd_probe_b": "Y = 2\n"})
    worker_daemon.invalidate_caches(importer)
    assert reads == [str(archive)]
    assert _load(importer, "wd_probe_b").Y == 2


@pytest.mark.slow  # a second driver JVM: ~10-18 s
def test_workers_find_the_package_from_any_working_directory(tmp_path):
    driver = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        from data_pipeline_rsna_spark.operators import multimodal as mm
        from data_pipeline_rsna_spark.session import get_spark

        spark = get_spark("cwd-probe", master="local[2]")
        sc = spark.sparkContext
        assert sc.parallelize(range(4), 2).map(lambda x: x + 1).sum() == 10
        src = mm.synth_images(spark, 4)
        back = mm.jpeg_lossless_roundtrip(src)
        assert sorted(back.collect()) == sorted(src.collect())
        spark.stop()
        print("ok")
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", driver], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.splitlines()[-1] == "ok"
