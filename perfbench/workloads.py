"""The three benchmark workloads: inputs, the timed pipeline, the check.

Each workload calls the package only through module attributes (never
``from module import fn``), so the tracer's wrappers see every call.

``run`` is the timed part: from generated input to complete output.
``check`` runs after the timer stops and raises ``CheckFailed`` when the
output is wrong; it returns a digest that must be identical across the
iterations of a run, plus the per-layer facts that only the output can
give (bytes and files written, planted-duplicate recall).
"""

from __future__ import annotations

import functools
import hashlib
import math
import os
import random
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

from . import inputs


class CheckFailed(AssertionError):
    pass


def require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


@dataclass
class Outcome:
    items: int                       # work units the run delivered
    out_dir: Path
    info: dict = field(default_factory=dict)


def _digest(lines) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode() if isinstance(line, str) else line)
        h.update(b"\n")
    return h.hexdigest()


def _train_count(n: int, train_frac: float = 0.8) -> int:
    # deterministic_split's cutoff: round(n * frac), half up
    return int(math.floor(n * train_frac + 0.5))


# ---------------------------------------------------------------------------
# rsna_etl
# ---------------------------------------------------------------------------


class RsnaEtl:
    """Labels CSV -> 7-stage augmentation -> 256/32 TFRecord shards."""

    name = "rsna_etl"
    per_negative, per_positive = 20, 190   # augmentation fan-out per patient

    def __init__(self, n_patients: int = 200, shards: tuple[int, int] = (256, 32)):
        self.n_patients = n_patients
        self.train_shards, self.val_shards = shards

    def warmup(self) -> RsnaEtl:
        return RsnaEtl(40, (8, 2))

    def generate(self, work: Path, seed: int) -> inputs.Generated:
        return inputs.gen_rsna_labels(work / "labels", seed, self.n_patients)

    def run(self, spark, inp: inputs.Generated, out: Path) -> Outcome:
        from data_pipeline_rsna_spark import pipelines
        from data_pipeline_rsna_spark.sources import readers

        raw = readers.read_labels_csv(spark, inp.path)
        res = pipelines.run_rsna_pipeline(
            spark, raw, str(out), self.train_shards, self.val_shards
        )
        return Outcome(res.train_records + res.val_records, out,
                       {"result": res})

    def check(self, oc: Outcome, inp: inputs.Generated, seed: int) -> dict:
        from data_pipeline_rsna_spark.sinks import tfrecord as tfr

        patients = inp.truth["patients"]
        positives = set(inp.truth["positives"])
        cut = _train_count(len(patients))
        split_of = {p: ("train" if i < cut else "val")
                    for i, p in enumerate(patients)}
        expect = {"train": 0, "val": 0}
        for p, s in split_of.items():
            expect[s] += self.per_positive if p in positives else self.per_negative
        res = oc.info["result"]
        require(res.train_records == expect["train"]
                and res.val_records == expect["val"],
                f"pipeline counts {res.train_records}/{res.val_records} != "
                f"closed form {expect['train']}/{expect['val']}")
        payload_digests: list[str] = []
        nbytes = nfiles = 0
        sample = random.Random(seed)
        n_shards = self.train_shards + self.val_shards
        spot = set(sample.sample(range(n_shards), min(32, n_shards)))
        for split, shards in (("train", self.train_shards),
                              ("val", self.val_shards)):
            d = oc.out_dir / split
            names = sorted(os.listdir(d))
            want = [f"data-{i:05d}-of-{shards:05d}.tfrecord"
                    for i in range(shards)]
            require(names == want, f"{split}: {len(names)} shard files, "
                    f"expected {shards} named -of-{shards:05d}")
            n = 0
            for i, name in enumerate(names):
                path = d / name
                nbytes += path.stat().st_size
                try:
                    payloads = tfr.read_tfrecords(str(path))
                except AssertionError as exc:   # CRC or framing failure
                    raise CheckFailed(f"{split}/{name}: {exc}") from exc
                n += len(payloads)
                payload_digests.extend(
                    hashlib.sha256(p).hexdigest() for p in payloads
                )
                if nfiles + i in spot and payloads:
                    # the first 36 characters of an image id are its patient
                    sid = tfr.decode_example(sample.choice(payloads))[
                        "image/source_id"][0].decode()
                    require(split_of.get(sid[:36]) == split,
                            f"{sid} written to {split}")
            nfiles += len(names)
            require(n == expect[split],
                    f"{split}: {n} records on disk, expected {expect[split]}")
        digest = _digest(sorted(payload_digests) + [f"skipped={res.skipped_boxes}"])
        return {"digest": digest, "bytes_written": nbytes, "files": nfiles}


# ---------------------------------------------------------------------------
# dicom_augment
# ---------------------------------------------------------------------------


class DicomAugment:
    """DICOM dir -> decode (persisted) -> split -> 7 stage chains -> PNGs.

    Every input yields 8 PNGs: the decoded frame and one per stage chain.
    The sink names files by ``img_id``, so variant ``k`` of image ``i`` is
    written as ``i * 8 + k`` in its split's directory."""

    name = "dicom_augment"
    variants = 8

    def __init__(self, n_files: int = 8, sample_pngs: int = 4):
        self.n_files = n_files
        self.sample_pngs = sample_pngs

    def warmup(self) -> DicomAugment:
        return DicomAugment(2, 1)

    def generate(self, work: Path, seed: int) -> inputs.Generated:
        return inputs.gen_dicom_dir(work / "dicom", seed, self.n_files)

    @staticmethod
    def stage_ops() -> list[str]:
        from data_pipeline_rsna_spark.operators import multimodal as mm

        return list(mm.STAGE_KERNEL_CHAINS)

    def run(self, spark, inp: inputs.Generated, out: Path) -> Outcome:
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from data_pipeline_rsna_spark.operators import multimodal as mm
        from data_pipeline_rsna_spark.operators import relational as rel
        from data_pipeline_rsna_spark.sinks import images

        files = mm.read_binary_dir(spark, inp.path)
        decoded = mm.decode_dicom_batch(files).persist()
        manifest = []
        try:
            split = rel.deterministic_split(
                decoded.select("img_id"), "img_id"
            ).select("img_id", "split")
            with_split = decoded.join(split, "img_id")
            for s in ("train", "val"):
                base = with_split.filter(F.col("split") == s).drop("split")
                chains = [base] + [mm.apply_stage_chain(base, op)
                                   for op in self.stage_ops()]
                tagged = [
                    df.withColumn("img_id", F.col("img_id") * self.variants + k)
                    for k, df in enumerate(chains)
                ]
                union = functools.reduce(DataFrame.unionByName, tagged)
                rows = images.write_png_dir(union, str(out / s)).collect()
                manifest += [(s, r.img_id, r.n_bytes) for r in rows]
        finally:
            decoded.unpersist()
        return Outcome(len(manifest) // self.variants, out,
                       {"manifest": manifest})

    def reference(self, src: np.ndarray, img_id: int, k: int) -> np.ndarray:
        """Variant ``k`` of a source frame, computed in numpy with the
        engine's kernels and seeding convention (multimodal.apply_kernel
        with its default shift_max=4, nearest-neighbour scale)."""
        from data_pipeline_rsna_spark.operators import image_kernels as ik
        from data_pipeline_rsna_spark.operators import multimodal as mm

        if k == 0:
            return src
        arr = src
        for step, op in enumerate(mm.STAGE_KERNEL_CHAINS[self.stage_ops()[k - 1]]):
            rng = ik.seeded_rng(str(img_id), step, op)
            if op == "shift":
                rx = int(rng.integers(-4, 5))
                ry = int(rng.integers(-4, 5))
                arr = ik.shift_image(arr, rx, ry)
            else:
                arr = ik.scale_image(arr, float(rng.uniform(0.8, 1.25)))
        return arr

    def check(self, oc: Outcome, inp: inputs.Generated, seed: int) -> dict:
        from data_pipeline_rsna_spark.functions import codecs

        ids = inp.truth["ids"]
        cut = _train_count(len(ids))
        split_of = {i: ("train" if n < cut else "val") for n, i in enumerate(ids)}
        expected = {(split_of[i], i * self.variants + k)
                    for i in ids for k in range(self.variants)}
        on_disk = set()
        nbytes = 0
        file_digests = []
        for s in ("train", "val"):
            d = oc.out_dir / s
            for name in sorted(os.listdir(d)) if d.is_dir() else ():
                require(name.endswith(".png"), f"unexpected file {s}/{name}")
                on_disk.add((s, int(name[:-4])))
                data = (d / name).read_bytes()
                nbytes += len(data)
                file_digests.append(f"{s}/{name} {hashlib.sha256(data).hexdigest()}")
        require(len(on_disk) == len(ids) * self.variants,
                f"{len(on_disk)} PNGs on disk, expected "
                f"{len(ids)} x {self.variants}")
        require(on_disk == expected, "PNG files do not match the split "
                "and variant layout")
        require(len(oc.info["manifest"]) == len(expected),
                "sink manifest row count differs from the files written")
        side = inputs.IMAGE_SIDE
        for s, fid in random.Random(seed).sample(sorted(expected),
                                                 self.sample_pngs):
            img_id, k = divmod(fid, self.variants)
            raw = (Path(inp.path) / f"patient_{img_id:06d}.dcm").read_bytes()
            # the generator writes the pixel data as the file's last element
            src = np.frombuffer(raw[-side * side:], np.uint8).reshape(side, side)
            got = codecs.decode_png_gray((oc.out_dir / s / f"{fid}.png").read_bytes())
            want = self.reference(src, img_id, k)
            require(got.shape == want.shape and np.array_equal(got, want),
                    f"{s}/{fid}.png differs from the numpy kernel chain")
        return {"digest": _digest(file_digests), "bytes_written": nbytes,
                "files": len(on_disk)}


# ---------------------------------------------------------------------------
# near_dup_dedup
# ---------------------------------------------------------------------------


class NearDupDedup:
    """Parquet corpus -> exact groups + MinHash-LSH connected components."""

    name = "near_dup_dedup"

    def __init__(self, n_docs: int = 1000):
        self.n_docs = n_docs

    def warmup(self) -> NearDupDedup:
        return NearDupDedup(300)

    def generate(self, work: Path, seed: int) -> inputs.Generated:
        return inputs.gen_docs(work / "docs", seed, self.n_docs,
                               exact_groups=self.n_docs // 100,
                               chains=self.n_docs // 60)

    def run(self, spark, inp: inputs.Generated, out: Path) -> Outcome:
        from data_pipeline_rsna_spark.operators import dedup
        from data_pipeline_rsna_spark.sources import formats

        docs = formats.read_table(spark, inp.path, "parquet")
        exact = dedup.exact_dedup_groups(docs).toPandas()
        clusters = dedup.dedup_clusters(docs).toPandas()
        return Outcome(self.n_docs, out, {"exact": exact, "clusters": clusters})

    @staticmethod
    def pairs(groups) -> set[tuple[int, int]]:
        return {(a, b) for g in groups for a in g for b in g if a < b}

    def check(self, oc: Outcome, inp: inputs.Generated, seed: int) -> dict:
        exact, clusters = oc.info["exact"], oc.info["clusters"]
        comp = dict(zip(clusters["doc_id"].tolist(),
                        clusters["component"].tolist()))
        groups = {(int(k), int(n))
                  for k, n in zip(exact["keeper_id"], exact["n_copies"])}
        for g in inp.truth["exact_groups"]:
            require((min(g), len(g)) in groups,
                    f"exact group {sorted(g)} not reported as one group")
            require(len({comp.get(d) for d in g}) == 1 and g[0] in comp,
                    f"exact group {sorted(g)} split across components")
        planted = self.pairs(inp.truth["planted_groups"])
        found = sum(1 for a, b in planted
                    if a in comp and comp.get(a) == comp.get(b))
        dup_rows = sorted(
            f"{k} {n} {h}" for k, n, h in
            zip(exact["keeper_id"], exact["n_copies"], exact["content_hash"])
            if n > 1
        )
        digest = _digest(dup_rows + sorted(f"{d} {c}" for d, c in comp.items()))
        return {"digest": digest, "planted_recall": found / len(planted)}

    def candidate_precision(self, inp: inputs.Generated,
                            candidates: list[tuple[int, int]]) -> float:
        planted = self.pairs(inp.truth["planted_groups"])
        if not candidates:
            return 0.0
        return sum(1 for p in candidates if tuple(sorted(p)) in planted) / len(candidates)


WORKLOADS = {w.name: w for w in (RsnaEtl, DicomAugment, NearDupDedup)}
