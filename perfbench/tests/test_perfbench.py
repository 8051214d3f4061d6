"""Tests of the benchmark itself: input determinism, output checks, spans.

Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import pytest

from perfbench import run, session
from perfbench.tracing import Tracer
from perfbench.workloads import (
    CheckFailed,
    DicomAugment,
    NearDupDedup,
    RsnaEtl,
)

ROOT = Path(__file__).resolve().parents[2]

TINY = {
    "rsna_etl": lambda: RsnaEtl(40, (8, 2)),
    "dicom_augment": lambda: DicomAugment(2, 2),
    "near_dup_dedup": lambda: NearDupDedup(300),
}

# spans every traced iteration of a workload must contain
LAYER_SPANS = {
    "rsna_etl": {"sources.scan", "pipelines.rsna", "relational.split",
                 "augmentation.augment", "sinks.tfrecord.write"},
    "dicom_augment": {"sources.scan", "multimodal.decode", "relational.split",
                      "multimodal.kernel", "sinks.images.write"},
    "near_dup_dedup": {"sources.scan", "dedup.exact", "dedup.clusters",
                       "dedup.candidates", "dedup.signatures", "dedup.cc",
                       "lineage.cut"},
}


@pytest.mark.parametrize("name", sorted(TINY))
def test_generators_are_seeded(name, tmp_path):
    wl = TINY[name]()
    a = wl.generate(tmp_path / "a", 7)
    b = wl.generate(tmp_path / "b", 7)
    c = wl.generate(tmp_path / "c", 8)
    assert a.files and a.files == b.files        # byte-identical per seed
    assert a.digest != c.digest                  # other seed, other content
    assert len(a.files) == len(c.files)
    if name == "rsna_etl":
        for key in ("n_boxes", "n_invalid"):
            assert a.truth[key] == c.truth[key]
        assert len(a.truth["positives"]) == len(c.truth["positives"])
        assert len(a.truth["patients"]) == len(c.truth["patients"])
    elif name == "near_dup_dedup":
        sizes = lambda g: sorted(len(x) for x in g.truth["planted_groups"])  # noqa: E731
        assert sizes(a) == sizes(c)
    else:
        size = lambda g: sorted(  # noqa: E731
            os.path.getsize(Path(g.path) / f) for f in g.files)
        assert size(a) == size(c)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    session.configure_env(tmp_path_factory.mktemp("perfbench-work"))
    s, _, _ = session.start_session(session.process_start_epoch())
    yield s
    session.stop_session(s)


def _iteration(spark, name, work: Path, tracer=None):
    wl = TINY[name]()
    inp = wl.generate(work / "in", 3)
    out = work / "out"
    counters = run.counters.SparkCounters(spark)
    it = run.run_iteration(spark, wl, inp, out, 3, counters, tracer,
                           run_id=f"test-{name}")
    return wl, inp, it


@pytest.mark.parametrize("name", sorted(TINY))
def test_smoke_run_passes_check_and_traces_every_layer(spark, name, tmp_path):
    wl, inp, plain = _iteration(spark, name, tmp_path / "plain")
    assert plain.ok and plain.items > 0 and plain.wall_s > 0
    tracer = Tracer(spark)
    _, _, traced = _iteration(spark, name, tmp_path / "traced", tracer)
    assert traced.ok
    assert traced.check["digest"] == plain.check["digest"]
    names = {s.name for s in tracer.spans}
    assert LAYER_SPANS[name] <= names
    root = [s for s in tracer.spans if s.parent is None]
    assert [s.name for s in root] == ["iteration"]
    assert all(s.end >= s.start for s in tracer.spans)
    json.dumps([s.to_json() for s in tracer.spans])
    if name == "near_dup_dedup":
        assert traced.layers["dedup.cc_rounds"] >= 1
        assert traced.layers["dedup.planted_recall"] > 0.9
        assert 0 < traced.layers["dedup.candidate_precision"] <= 1


def test_flipped_shard_byte_fails_check(spark, tmp_path):
    wl = TINY["rsna_etl"]()
    inp = wl.generate(tmp_path / "in", 5)
    oc = wl.run(spark, inp, tmp_path / "out")
    wl.check(oc, inp, 5)
    shard = max((tmp_path / "out" / "train").iterdir(),
                key=lambda p: p.stat().st_size)
    data = bytearray(shard.read_bytes())
    data[len(data) // 2] ^= 0x01
    shard.write_bytes(bytes(data))
    with pytest.raises(CheckFailed):
        wl.check(oc, inp, 5)


def test_missing_png_fails_check(spark, tmp_path):
    wl = TINY["dicom_augment"]()
    inp = wl.generate(tmp_path / "in", 5)
    oc = wl.run(spark, inp, tmp_path / "out")
    wl.check(oc, inp, 5)
    next((tmp_path / "out" / "train").glob("*.png")).unlink()
    with pytest.raises(CheckFailed):
        wl.check(oc, inp, 5)


def test_metric_tables_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert set(run.WORKLOADS) == {w["name"] for w in spec["workloads"]}


def test_exits_nonzero_without_the_package(tmp_path):
    """A directory holding only the benchmark must fail without a result."""
    import subprocess
    import sys

    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "rsna_etl",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
