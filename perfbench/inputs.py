"""Seeded input generators for the three benchmark workloads.

Each generator writes its files into a directory and returns a
``Generated`` record: the paths, the planted ground truth the output
checks compare against, and the sha256 of every file written. The same
seed gives byte-identical files; another seed gives other content with
the same sizes and proportions (counts, box-count mix, document lengths
and planted-group shapes are fixed lists that the seed only permutes),
so a claim can be re-checked on an unseen seed without changing the
amount of work.

Only numpy, pyarrow and the standard library are used here: the package
under test receives the generated files and nothing else.
"""

from __future__ import annotations

import hashlib
import random
import struct
import uuid
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

IMAGE_SIDE = 1024


@dataclass
class Generated:
    path: str                       # file or directory handed to the package
    files: dict[str, str]           # relative file name -> sha256
    truth: dict = field(default_factory=dict)

    @property
    def digest(self) -> str:
        h = hashlib.sha256()
        for name in sorted(self.files):
            h.update(f"{name}\0{self.files[name]}\n".encode())
        return h.hexdigest()


def _sha256(path: Path) -> str:
    return hashlib.sha256(path.read_bytes()).hexdigest()


# ---------------------------------------------------------------------------
# rsna_etl: stage_2_train_labels.csv-shaped labels
# ---------------------------------------------------------------------------

# RSNA stage-2 training labels: 26,684 patients, 6,012 positive (22.5%);
# positives carry 1 box (43.5%), 2 (54.3%), 3 (2.0%) or 4 (0.2%).
POSITIVE_SHARE = 0.225
BOX_COUNT_SHARES = ((1, 0.435), (2, 0.543), (3, 0.020), (4, 0.002))
INVALID_BOX_SHARE = 0.01


def _box_counts(n_pos: int) -> list[int]:
    """Fixed box-count multiset for n_pos positives (largest remainder)."""
    raw = [(k, share * n_pos) for k, share in BOX_COUNT_SHARES]
    counts = {k: int(v) for k, v in raw}
    left = n_pos - sum(counts.values())
    for k, v in sorted(raw, key=lambda kv: kv[1] - int(kv[1]), reverse=True):
        if left == 0:
            break
        counts[k] += 1
        left -= 1
    return [k for k, c in counts.items() for _ in range(c)]


def _valid_box(rng: random.Random) -> tuple[int, int, int, int]:
    w = rng.randint(60, 420)
    h = rng.randint(80, 560)
    return rng.randint(0, IMAGE_SIDE - w), rng.randint(0, IMAGE_SIDE - h), w, h


def _invalid_box(rng: random.Random) -> tuple[int, int, int, int]:
    w = rng.randint(60, 420)
    h = rng.randint(80, 560)
    kind = rng.randrange(3)
    if kind == 0:  # runs past the right edge
        return IMAGE_SIDE - w // 2, rng.randint(0, IMAGE_SIDE - h), w, h
    if kind == 1:  # runs past the bottom edge
        return rng.randint(0, IMAGE_SIDE - w), IMAGE_SIDE - h // 3, w, h
    return rng.randint(0, IMAGE_SIDE - 1), rng.randint(0, IMAGE_SIDE - h), 0, h


def gen_rsna_labels(out_dir: Path, seed: int, n_patients: int) -> Generated:
    """``patientId,x,y,width,height,Target`` rows: one row per box for a
    positive patient, one empty-box row for a negative one. Patient ids
    are UUID strings, so the split takes its non-numeric ranking path."""
    rng = random.Random(f"rsna_etl:{seed}")
    n_pos = round(n_patients * POSITIVE_SHARE)
    box_counts = _box_counts(n_pos) + [0] * (n_patients - n_pos)
    rng.shuffle(box_counts)
    n_boxes = sum(box_counts)
    invalid = set(rng.sample(range(n_boxes), round(n_boxes * INVALID_BOX_SHARE)))
    lines = ["patientId,x,y,width,height,Target"]
    seen: set[str] = set()
    positives: list[str] = []
    box_i = 0
    for k in box_counts:
        pid = str(uuid.UUID(int=rng.getrandbits(128), version=4))
        while pid in seen:
            pid = str(uuid.UUID(int=rng.getrandbits(128), version=4))
        seen.add(pid)
        if k == 0:
            lines.append(f"{pid},,,,,0")
            continue
        positives.append(pid)
        for _ in range(k):
            x, y, w, h = (_invalid_box if box_i in invalid else _valid_box)(rng)
            lines.append(f"{pid},{x}.0,{y}.0,{w}.0,{h}.0,1")
            box_i += 1
    out_dir.mkdir(parents=True, exist_ok=True)
    path = out_dir / "stage_2_train_labels.csv"
    path.write_text("\n".join(lines) + "\n")
    return Generated(
        path=str(path),
        files={path.name: _sha256(path)},
        truth={
            "patients": sorted(seen),
            "positives": sorted(positives),
            "n_boxes": n_boxes,
            "n_invalid": len(invalid),
        },
    )


# ---------------------------------------------------------------------------
# dicom_augment: 1024x1024 8-bit MONOCHROME2 explicit-VR-LE DICOMs
# ---------------------------------------------------------------------------


def _dicom_element(group: int, elem: int, vr: bytes, val: bytes) -> bytes:
    if len(val) % 2:
        val += b"\x00"
    head = struct.pack("<HH", group, elem) + vr
    if vr in (b"OB", b"OW", b"UN"):
        return head + b"\x00\x00" + struct.pack("<I", len(val)) + val
    return head + struct.pack("<H", len(val)) + val


def dicom_bytes(pixels: np.ndarray) -> bytes:
    """Part-10 file: preamble, file meta group, image pixel module."""
    rows, cols = pixels.shape
    us = lambda v: struct.pack("<H", v)  # noqa: E731
    meta_body = _dicom_element(0x0002, 0x0001, b"OB", b"\x00\x01") + (
        _dicom_element(0x0002, 0x0010, b"UI", b"1.2.840.10008.1.2.1")
    )
    meta = _dicom_element(
        0x0002, 0x0000, b"UL", struct.pack("<I", len(meta_body))
    )
    body = b"".join((
        _dicom_element(0x0028, 0x0002, b"US", us(1)),
        _dicom_element(0x0028, 0x0004, b"CS", b"MONOCHROME2"),
        _dicom_element(0x0028, 0x0010, b"US", us(rows)),
        _dicom_element(0x0028, 0x0011, b"US", us(cols)),
        _dicom_element(0x0028, 0x0100, b"US", us(8)),
        _dicom_element(0x0028, 0x0101, b"US", us(8)),
        _dicom_element(0x0028, 0x0102, b"US", us(7)),
        _dicom_element(0x0028, 0x0103, b"US", us(0)),
        _dicom_element(0x7FE0, 0x0010, b"OB", pixels.tobytes()),
    ))
    return b"\x00" * 128 + b"DICM" + meta + meta_body + body


def xray_like(rng: np.random.Generator, side: int = IMAGE_SIDE) -> np.ndarray:
    """Smooth chest-film-like field (bright mediastinum, two darker lung
    lobes, vertical falloff) plus sensor noise, as uint8."""
    y, x = np.mgrid[0:side, 0:side].astype(np.float32) / side
    cx = 0.5 + rng.uniform(-0.04, 0.04)
    field = 150 + 60 * np.exp(-((x - cx) / 0.09) ** 2)
    for lobe in (cx - 0.22, cx + 0.22):
        ry, rx = rng.uniform(0.22, 0.3), rng.uniform(0.12, 0.16)
        field -= 85 * np.exp(-(((x - lobe) / rx) ** 2 + ((y - 0.48) / ry) ** 2))
    field += 25 * (y - 0.5) + rng.uniform(-12, 12)
    field += rng.normal(0.0, 6.0, size=(side, side)).astype(np.float32)
    return np.clip(field, 0, 255).astype(np.uint8)


def gen_dicom_dir(out_dir: Path, seed: int, n_files: int) -> Generated:
    """``patient_<id>.dcm`` files; ids are distinct seeded integers, so
    both the split and the per-image kernel seeds move with the seed."""
    rng = np.random.default_rng([seed, 0xD1C0])
    ids = sorted(int(i) for i in rng.choice(10**6, size=n_files, replace=False))
    out_dir.mkdir(parents=True, exist_ok=True)
    files = {}
    for img_id in ids:
        path = out_dir / f"patient_{img_id:06d}.dcm"
        path.write_bytes(dicom_bytes(xray_like(rng)))
        files[path.name] = _sha256(path)
    return Generated(path=str(out_dir), files=files, truth={"ids": ids})


# ---------------------------------------------------------------------------
# near_dup_dedup: Zipf-vocabulary documents with planted duplicates
# ---------------------------------------------------------------------------

VOCAB_SIZE = 20_000
ZIPF_S = 1.05
DOC_LEN_RANGE = (80, 240)
EXACT_GROUP_SIZES = (2, 2, 2, 3, 3, 4)   # copies per planted exact group
CHAIN_LENGTHS = (3, 4, 5, 6, 7, 8)       # docs per planted near-dup chain
EDIT_RANGE = (0.02, 0.08)                # token edits per chain step


def _vocab() -> list[str]:
    syll = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "de", "vu",
            "sha", "gre", "bo", "fin", "tel", "qua", "zor", "pen", "dal", "wex"]
    words = []
    for i in range(VOCAB_SIZE):
        parts, n = [], i + 1
        while n:
            n, r = divmod(n, len(syll))
            parts.append(syll[r])
        words.append("".join(parts))
    return words


def _edit(tokens: list[int], rate: float, rng: np.random.Generator,
          cdf: np.ndarray) -> list[int]:
    out = list(tokens)
    for _ in range(max(1, round(rate * len(tokens)))):
        pos = int(rng.integers(len(out)))
        op = int(rng.integers(3))
        word = int(np.searchsorted(cdf, rng.random()))
        if op == 0:
            out[pos] = word
        elif op == 1:
            out.insert(pos, word)
        elif len(out) > DOC_LEN_RANGE[0]:
            del out[pos]
        else:
            out[pos] = word
    return out


def gen_docs(out_dir: Path, seed: int, n_docs: int,
             exact_groups: int, chains: int) -> Generated:
    """Parquet corpus ``(doc_id bigint, text string)`` in four files.

    ``exact_groups`` groups of identical copies and ``chains`` near-dup
    chains (each member a 2-8% token edit of the previous one) are
    planted among independent documents; doc ids are a seeded
    permutation, so a chain's minimum id sits at a random position and
    label propagation needs several rounds to resolve it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 0xD0C5])
    words = _vocab()
    p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
    cdf = np.cumsum(p / p.sum())
    group_sizes = [EXACT_GROUP_SIZES[i % len(EXACT_GROUP_SIZES)]
                   for i in range(exact_groups)]
    chain_lens = [CHAIN_LENGTHS[i % len(CHAIN_LENGTHS)] for i in range(chains)]
    n_planted = sum(group_sizes) + sum(chain_lens)
    n_free = n_docs - n_planted
    if n_free < 0:
        raise ValueError("planted groups exceed the corpus size")
    n_roots = n_free + exact_groups + chains
    lengths = np.linspace(*DOC_LEN_RANGE, num=n_roots).round().astype(int)
    rng.shuffle(lengths)

    def fresh(length: int) -> list[int]:
        return list(np.searchsorted(cdf, rng.random(length)))

    docs: list[list[int]] = []
    groups: list[list[int]] = []      # indexes into docs, per planted group
    exact: list[list[int]] = []
    li = iter(lengths)
    for size in group_sizes:
        base = fresh(next(li))
        exact.append(list(range(len(docs), len(docs) + size)))
        docs.extend([base] * size)
    groups.extend(exact)
    for n in chain_lens:
        cur = fresh(next(li))
        members = [len(docs)]
        docs.append(cur)
        for _ in range(n - 1):
            cur = _edit(cur, float(rng.uniform(*EDIT_RANGE)), rng, cdf)
            members.append(len(docs))
            docs.append(cur)
        groups.append(members)
    for _ in range(n_free):
        docs.append(fresh(next(li)))
    ids = rng.permutation(n_docs).astype(np.int64) + 1
    texts = [" ".join(words[t] for t in d) for d in docs]
    order = rng.permutation(n_docs)
    out_dir.mkdir(parents=True, exist_ok=True)
    files = {}
    for part, chunk in enumerate(np.array_split(order, 4)):
        table = pa.table({
            "doc_id": pa.array(ids[chunk], pa.int64()),
            "text": pa.array([texts[i] for i in chunk], pa.string()),
        })
        path = out_dir / f"part-{part:05d}.parquet"
        pq.write_table(table, path, compression="snappy")
        files[path.name] = _sha256(path)
    return Generated(
        path=str(out_dir),
        files=files,
        truth={
            "exact_groups": [[int(ids[i]) for i in g] for g in exact],
            "planted_groups": [[int(ids[i]) for i in g] for g in groups],
        },
    )
