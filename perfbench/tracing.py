"""Spans around the package's layer entry points, recorded from outside.

A traced iteration installs wrappers over the module attributes listed
in ``TRACED`` (the package looks these names up at call time, so calls
made inside ``run_rsna_pipeline`` or ``dedup_clusters`` are wrapped too)
and removes them afterwards; the package itself is not edited. Each
span carries a name, start, end, parent span and run id, and tags the
Spark jobs it starts with its own job tag, so Spark counters can be
attributed per span afterwards.

A wrapped function that returns a DataFrame is lazy: its span closes
only after the tracer has materialized that output into Spark's no-op
sink (every column is computed, nothing is kept). The DataFrame handed
back to the caller is the original one, so downstream work runs exactly
as in an untraced iteration, recomputation included; the extra
materializations are the tracing overhead. Untraced iterations install
no wrappers and materialize nothing.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

MATERIALIZE_TAG = "perfbench-materialize"

# span name -> (module, attribute) pairs wrapped during traced iterations
TRACED: dict[str, tuple[tuple[str, str], ...]] = {
    "sources.scan": (
        ("data_pipeline_rsna_spark.sources.readers", "read_labels_csv"),
        ("data_pipeline_rsna_spark.operators.multimodal", "read_binary_dir"),
        ("data_pipeline_rsna_spark.sources.formats", "read_table"),
    ),
    "relational.split": (
        ("data_pipeline_rsna_spark.operators.relational", "deterministic_split"),
    ),
    "augmentation.augment": (
        ("data_pipeline_rsna_spark.operators.augmentation", "augment"),
    ),
    "sinks.tfrecord.write": (
        ("data_pipeline_rsna_spark.sinks.tfrecord", "write_tfrecord_shards"),
    ),
    "multimodal.decode": (
        ("data_pipeline_rsna_spark.operators.multimodal", "decode_dicom_batch"),
    ),
    "multimodal.kernel": (
        ("data_pipeline_rsna_spark.operators.multimodal", "apply_stage_chain"),
    ),
    "sinks.images.write": (
        ("data_pipeline_rsna_spark.sinks.images", "write_png_dir"),
    ),
    "dedup.exact": (
        ("data_pipeline_rsna_spark.operators.dedup", "exact_dedup_groups"),
    ),
    "dedup.clusters": (
        ("data_pipeline_rsna_spark.operators.dedup", "dedup_clusters"),
    ),
    "dedup.candidates": (
        ("data_pipeline_rsna_spark.operators.dedup", "minhash_lsh_candidates"),
    ),
    "dedup.signatures": (
        ("data_pipeline_rsna_spark.operators.dedup", "minhash_signatures"),
    ),
    "dedup.cc": (
        ("data_pipeline_rsna_spark.operators.dedup", "connected_components"),
    ),
    # dedup imports lineage_cut by name, so its own binding is the one
    # connected_components calls
    "lineage.cut": (
        ("data_pipeline_rsna_spark.operators.dedup", "lineage_cut"),
    ),
    "pipelines.rsna": (
        ("data_pipeline_rsna_spark.pipelines", "run_rsna_pipeline"),
    ),
}

# spans whose materialized output is also collected to the driver, for
# checks that need the rows (candidate precision)
COLLECTED = {"dedup.candidates": ("doc_a", "doc_b")}


@dataclass
class Span:
    span_id: int
    parent: int | None
    run_id: str
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    rows: list | None = None          # collected output, never serialized

    @property
    def tag(self) -> str:
        return f"perfbench-{self.run_id}-{self.span_id}"

    def to_json(self) -> dict:
        return {"id": self.span_id, "parent": self.parent, "run_id": self.run_id,
                "name": self.name, "start": self.start, "end": self.end,
                **self.attrs}


class Tracer:
    """Records spans for one traced iteration at a time (``run_id``)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.run_id = ""
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def iteration(self, run_id: str):
        """Wrap the package entry points and open the root span."""
        self.run_id = run_id
        saved = []
        for name, targets in TRACED.items():
            for mod_name, attr in targets:
                mod = importlib.import_module(mod_name)
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, self._wrap(name, orig))
        try:
            with self.span("iteration"):
                yield
        finally:
            for mod, attr, orig in saved:
                setattr(mod, attr, orig)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(len(self.spans), parent, self.run_id, name, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.addJobTag(sp.tag)
        try:
            yield sp
        finally:
            self.sc.removeJobTag(sp.tag)
            self._stack.pop()
            sp.end = time.time()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    self._materialize(sp, out)
                return out
        return traced

    def _materialize(self, sp: Span, df: DataFrame) -> None:
        self.sc.addJobTag(MATERIALIZE_TAG)
        try:
            cols = COLLECTED.get(sp.name)
            if cols is not None:
                sp.rows = [tuple(r) for r in df.select(*cols).collect()]
                sp.attrs["rows"] = len(sp.rows)
            else:
                obs = Observation()
                df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                    "noop").mode("overwrite").save()
                sp.attrs["rows"] = obs.get["rows"]
        finally:
            self.sc.removeJobTag(MATERIALIZE_TAG)

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.span_id]

    def self_s(self, sp: Span) -> float:
        return (sp.end - sp.start) - sum(
            c.end - c.start for c in self.children(sp)
        )

    def depth(self, sp: Span) -> int:
        d = 0
        while sp.parent is not None:
            sp = self.spans[sp.parent]
            d += 1
        return d
