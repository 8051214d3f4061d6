"""Benchmark entry point.

    python3 perfbench/run.py --workload rsna_etl --seed 1 --seconds 1 --trace 0

One run: start a session (``setup_s``), generate the seeded inputs, then
time iterations back to back until ``--seconds`` have been measured, at
least one. The first timed iteration is the first run of the pipeline in
the session: what a batch job pays every time it runs. Every
iteration's output is checked after its timer stops and deleted
afterwards. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). Lines before
it, prefixed ``#``, give each metric with its sample count, the input
and output digests and the fail ratio.

With ``--trace 1`` an untimed warm-up iteration on a small input comes
first. Then ``--seconds`` is split three ways: untraced iterations, traced
ones (spans around every layer call), and untraced ones again. The
untraced iterations give the Spark counters and the wall-time baseline. Spans are written as JSON to
``.perfbench_work/traces/`` when the run ends, with each layer's self
time and the tracing overhead.

Load model: a closed loop with one client; one driver process on
``local[4]``; iterations run back to back.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import counters, session  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


END_TO_END = {            # name -> unit
    "setup_s": "s", "wall_s": "s", "items_per_s": "1/s", "cpu_s": "s",
}
SPAN_NAMES = (
    "sources.scan", "relational.split", "augmentation.augment",
    "sinks.tfrecord.write", "multimodal.decode", "multimodal.kernel",
    "sinks.images.write", "dedup.exact", "dedup.clusters",
    "dedup.candidates", "dedup.signatures", "dedup.cc", "lineage.cut",
    "pipelines.rsna", "iteration",
)
SPARK_COUNTERS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B", "spark.shuffle_read_bytes": "B",
    "spark.shuffle_fetch_wait_s": "s", "spark.spill_bytes": "B",
    "spark.driver_gap_s": "s",
}
PER_LAYER = {
    "process.peak_rss_mb": "MB",
    "session.first_job_s": "s",
    "sources.scan_s": "s", "sources.input_bytes": "B",
    "sources.input_rows": "count",
    "relational.split_s": "s", "relational.split_jobs": "count",
    "augmentation.rows_out": "count", "augmentation.s": "s",
    "augmentation.shuffle_write_bytes": "B",
    "sinks.tfrecord.encode_s": "s", "sinks.tfrecord.write_s": "s",
    "sinks.tfrecord.bytes_written": "B", "sinks.tfrecord.files": "count",
    "multimodal.decode_s": "s", "multimodal.kernel_s": "s",
    "multimodal.python_bytes_in": "B", "multimodal.python_bytes_out": "B",
    "sinks.images.write_s": "s", "sinks.images.bytes_written": "B",
    "sinks.images.files": "count",
    "dedup.signatures_s": "s", "dedup.candidates_s": "s",
    "dedup.candidate_pairs": "count", "dedup.candidate_precision": "ratio",
    "dedup.planted_recall": "ratio", "dedup.cc_rounds": "count",
    "dedup.cc_s": "s", "lineage.cuts": "count", "lineage.cut_s": "s",
    **SPARK_COUNTERS,
    **{f"{n}.self_s": "s" for n in SPAN_NAMES},
    "trace.overhead_s": "s",
}


class Iteration:
    """Measurements of one timed iteration."""

    def __init__(self):
        self.ok = False
        self.wall_s = self.cpu_s = self.peak_rss_mb = 0.0
        self.items = 0
        self.check: dict = {}
        self.layers: dict[str, float] = {}


def run_iteration(spark, wl, inp, out: Path, seed: int, spark_counters,
                  tracer=None, run_id: str = "") -> Iteration:
    it = Iteration()
    sampler = counters.RssSampler(os.getpid())
    mark = spark_counters.mark()
    cpu0 = counters.tree_cpu_s(os.getpid())
    sampler.start()
    t_start = time.time()
    t0 = time.perf_counter()
    try:
        if tracer is None:
            oc = wl.run(spark, inp, out)
        else:
            with tracer.iteration(run_id):
                oc = wl.run(spark, inp, out)
        it.wall_s = time.perf_counter() - t0
    finally:
        t_end = time.time()
        it.peak_rss_mb = sampler.stop()
    it.cpu_s = counters.tree_cpu_s(os.getpid()) - cpu0
    it.items = oc.items
    jobs = spark_counters.jobs_since(mark)
    it.check = wl.check(oc, inp, seed)
    it.layers = spark_layer(jobs, t_start, t_end)
    if tracer is not None:
        it.layers.update(span_layers(tracer, run_id, jobs, spark_counters,
                                     mark, it.check, wl, inp))
    it.ok = True
    return it


def spark_layer(jobs, t_start: float, t_end: float) -> dict[str, float]:
    stages = [st for j in jobs for st in j.stages.values() if st]
    s = lambda f: sum(st[f] for st in stages)  # noqa: E731
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": s("tasks"),
        "spark.failed_tasks": s("failed_tasks"),
        "spark.executor_run_s": s("executor_run_s"),
        "spark.executor_cpu_s": s("executor_cpu_s"),
        "spark.gc_s": s("gc_s"),
        "spark.shuffle_write_bytes": s("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": s("shuffle_read_bytes"),
        "spark.shuffle_fetch_wait_s": s("shuffle_fetch_wait_s"),
        "spark.spill_bytes": s("disk_spill_bytes"),
        "spark.driver_gap_s": (t_end - t_start)
        - counters.covered_s(jobs, t_start, t_end),
    }


def span_layers(tracer, run_id, jobs, spark_counters, mark, check, wl,
                inp) -> dict[str, float]:
    from perfbench.tracing import MATERIALIZE_TAG

    spans = [s for s in tracer.spans if s.run_id == run_id]
    by_tag = {s.tag: s for s in spans}
    # each job belongs to the deepest span whose tag it carries
    owner = {}
    for j in jobs:
        tagged = [by_tag[t] for t in j.tags if t in by_tag]
        if tagged:
            owner[j.job_id] = max(tagged, key=tracer.depth)
    for sp in spans:
        mine = [j for j in jobs if sp.tag in j.tags]
        sp.attrs["jobs"] = sum(1 for j in mine if MATERIALIZE_TAG not in j.tags)
        sp.attrs["materialize_jobs"] = len(mine) - sp.attrs["jobs"]
        sp.attrs["self_s"] = tracer.self_s(sp)
        for f in counters.STAGE_FIELDS:
            sp.attrs[f] = counters.sum_stages(mine, f)
            sp.attrs[f"self_{f}"] = counters.sum_stages(
                [j for j in mine if owner.get(j.job_id) is sp], f)

    def named(name):
        return [s for s in spans if s.name == name]

    def dur(name):
        return sum(s.end - s.start for s in named(name))

    def attr(name, key):
        return sum(s.attrs.get(key, 0) for s in named(name))

    def jobs_of(*names):
        tags = {s.tag for n in names for s in named(n)}
        return [j for j in jobs if j.tags & tags]

    tfr = jobs_of("sinks.tfrecord.write")
    mm_jobs = {j.job_id for j in jobs_of("multimodal.decode", "multimodal.kernel")}
    py_in, py_out = spark_counters.python_bytes(mark, mm_jobs)
    cc_ids = {s.span_id for s in named("dedup.cc")}
    cuts_in_cc = sum(1 for s in named("lineage.cut") if s.parent in cc_ids)
    precision = 0.0
    for s in named("dedup.candidates"):
        precision = wl.candidate_precision(inp, s.rows or [])
    out = {
        "sources.scan_s": dur("sources.scan"),
        "sources.input_bytes": attr("sources.scan", "input_bytes"),
        "sources.input_rows": attr("sources.scan", "input_rows"),
        "relational.split_s": dur("relational.split"),
        "relational.split_jobs": attr("relational.split", "jobs"),
        "augmentation.rows_out": attr("augmentation.augment", "rows"),
        "augmentation.s": dur("augmentation.augment"),
        "augmentation.shuffle_write_bytes": attr("augmentation.augment",
                                                 "shuffle_write_bytes"),
        "sinks.tfrecord.encode_s": counters.sum_stages(
            tfr, "executor_run_s", lambda st: st["shuffle_write_bytes"] > 0),
        "sinks.tfrecord.write_s": counters.sum_stages(
            tfr, "executor_run_s", lambda st: st["shuffle_write_bytes"] == 0),
        "multimodal.decode_s": dur("multimodal.decode"),
        "multimodal.kernel_s": dur("multimodal.kernel"),
        "multimodal.python_bytes_in": py_in,
        "multimodal.python_bytes_out": py_out,
        "sinks.images.write_s": dur("sinks.images.write"),
        "dedup.signatures_s": dur("dedup.signatures"),
        "dedup.candidates_s": sum(s.attrs["self_s"]
                                  for s in named("dedup.candidates")),
        "dedup.candidate_pairs": attr("dedup.candidates", "rows"),
        "dedup.candidate_precision": precision,
        "dedup.cc_rounds": max(cuts_in_cc - len(cc_ids), 0),
        "dedup.cc_s": dur("dedup.cc"),
        "lineage.cuts": len(named("lineage.cut")),
        "lineage.cut_s": dur("lineage.cut"),
        **{f"{n}.self_s": sum(s.attrs["self_s"] for s in named(n))
           for n in SPAN_NAMES},
    }
    if "planted_recall" in check:
        out["dedup.planted_recall"] = check["planted_recall"]
    sink = ("sinks.tfrecord" if any(named("sinks.tfrecord.write"))
            else "sinks.images" if any(named("sinks.images.write")) else None)
    if sink is not None:
        out[f"{sink}.bytes_written"] = check["bytes_written"]
        out[f"{sink}.files"] = check["files"]
    return out


def median(values):
    return statistics.median(values) if values else 0.0


def main(argv=None) -> int:
    t_process = session.process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import data_pipeline_rsna_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable here: {exc}",
              file=sys.stderr)
        return 2

    work_root = ROOT / ".perfbench_work"
    work = work_root / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    session.configure_env(work)
    spark, setup_s, first_job_s = session.start_session(t_process)
    try:
        return measure(args, spark, work, work_root, setup_s, first_job_s)
    finally:
        session.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def measure(args, spark, work: Path, work_root: Path, setup_s: float,
            first_job_s: float) -> int:
    from perfbench.tracing import Tracer

    wl = WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    inp = wl.generate(work / "in", args.seed)
    gen_s = time.perf_counter() - t0
    print(f"# inputs sha256={inp.digest} files={len(inp.files)} "
          f"generate_s={gen_s:.3f}", flush=True)
    spark_counters = counters.SparkCounters(spark)
    tracer = Tracer(spark)
    attempted = failed = 0
    digests: set[str] = set()
    untraced: list[Iteration] = []
    traced: list[Iteration] = []

    def attempt(k: int, kind: str, timed: bool, w=wl, w_inp=inp):
        nonlocal attempted, failed
        out = work / "out" / f"{kind}{k}"
        run_id = f"{args.workload}-{args.seed}-{k}"
        try:
            it = run_iteration(spark, w, w_inp, out, args.seed, spark_counters,
                               tracer if kind == "traced" else None, run_id)
            if timed:
                digests.add(it.check["digest"])
        except Exception:  # reported and counted; the run goes on
            traceback.print_exc()
            it = Iteration()
        finally:
            shutil.rmtree(out, ignore_errors=True)
        if timed:
            attempted += 1
            failed += 0 if it.ok else 1
        print(f"# {kind} iteration {k}: ok={it.ok} wall_s={it.wall_s:.3f} "
              f"cpu_s={it.cpu_s:.3f}", flush=True)
        return it

    if args.trace:
        warm = wl.warmup()
        attempt(0, "warmup", False, warm, warm.generate(work / "warmup-in", args.seed))
    # traced iterations sit between two untraced phases, so a warm-up
    # trend over the run cancels out of the overhead
    phases = [("timed", untraced)] if not args.trace else [
        ("timed", untraced), ("traced", traced), ("timed", untraced)]
    budget = args.seconds / len(phases)
    k = 0
    for kind, sink in phases:
        spent, start = 0.0, len(sink)
        while len(sink) == start or spent < budget:
            it = attempt(k, kind, timed=True)
            k += 1
            sink.append(it)
            spent += max(it.wall_s, 0.5)
            if not it.ok and len(sink) - start >= 3 and not any(
                    i.ok for i in sink[start:]):
                break
    ok = [i for i in untraced if i.ok]
    if not ok:
        print("perfbench: no timed iteration succeeded", file=sys.stderr)
        return 1
    if len(digests) != 1:
        print(f"perfbench: outputs differ across iterations: {sorted(digests)}",
              file=sys.stderr)
    correct = failed == 0 and len(digests) == 1
    print(f"# output digest={next(iter(digests))} attempted={attempted} "
          f"failed={failed} fail_ratio={failed / attempted:.4f}", flush=True)

    if not args.trace:
        values = {
            "setup_s": (setup_s, 1),
            "wall_s": (median([i.wall_s for i in ok]), len(ok)),
            "items_per_s": (median([i.items / i.wall_s for i in ok]), len(ok)),
            "cpu_s": (median([i.cpu_s for i in ok]), len(ok)),
        }
        units = END_TO_END
    else:
        tok = [i for i in traced if i.ok]
        values = {name: (median([i.layers.get(name, 0.0) for i in tok]), len(tok))
                  for name in PER_LAYER}
        for name in SPARK_COUNTERS:
            values[name] = (median([i.layers[name] for i in ok]), len(ok))
        values["session.first_job_s"] = (first_job_s, 1)
        # peak RSS moves by more than a tenth between runs (JVM heap
        # growth follows GC timing), so it is a per-layer figure
        values["process.peak_rss_mb"] = (max(i.peak_rss_mb for i in ok), len(ok))
        overhead = (median([i.wall_s for i in tok]) - median([i.wall_s for i in ok])
                    if tok else 0.0)
        values["trace.overhead_s"] = (overhead, min(len(tok), len(ok)))
        units = PER_LAYER
        write_trace(work_root, args, tracer, values, ok, tok)
    for name, (v, n) in values.items():
        print(f"# {args.workload} {name} = {v:.6g} {units[name]} (n={n})")
    if not args.trace:
        print(f"# {args.workload} peak_rss_mb = "
              f"{max(i.peak_rss_mb for i in ok):.6g} MB (n={len(ok)}, per-layer)")
        print(f"# {args.workload} fail_ratio = {failed / attempted:.6g} "
              f"(n={attempted})")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {name: {"value": v, "unit": units[name]}
                    for name, (v, _) in values.items()},
    }), flush=True)
    return 0


def write_trace(work_root: Path, args, tracer, values, untraced, traced) -> None:
    out = work_root / "traces" / f"{args.workload}-seed{args.seed}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "untraced_wall_s": [i.wall_s for i in untraced],
        "traced_wall_s": [i.wall_s for i in traced],
        "overhead_s": values["trace.overhead_s"][0],
        "self_s": {n: values[f"{n}.self_s"][0] for n in SPAN_NAMES},
        "spans": [s.to_json() for s in tracer.spans],
    }, indent=1))
    print(f"# spans written to {out.relative_to(ROOT)}")


if __name__ == "__main__":
    sys.exit(main())
