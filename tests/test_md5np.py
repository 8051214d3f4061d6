"""Parity of the vectorized single-block MD5 against hashlib."""

import hashlib
import random

import numpy as np
import pytest

from data_pipeline_rsna_spark.functions import md5np


def _pack(messages: list[bytes]) -> np.ndarray:
    data = np.frombuffer(b"".join(messages), dtype=np.uint8)
    lens = np.array([len(m) for m in messages], dtype=np.int64)
    starts = np.cumsum(lens) - lens
    return md5np.pack_single_blocks(data, starts, lens)


def test_md5_matches_hashlib_all_lengths():
    rng = random.Random(1321)
    messages = [b""]
    for ln in range(0, 56):
        messages.append(bytes(rng.randrange(256) for _ in range(ln)))
    # realistic key shapes too
    messages += [f"{i}|{i % 7}|boot|{i % 8}".encode() for i in range(200)]
    digests = md5np.md5_digest_bytes(_pack(messages))
    for i, msg in enumerate(messages):
        assert digests[i].tobytes() == hashlib.md5(msg).digest(), (
            i,
            msg,
        )


def test_md5_rejects_nothing_but_matches_random_large_batch():
    rng = np.random.default_rng(42)
    lens = rng.integers(0, 56, size=5000)
    blob = rng.integers(0, 256, size=int(lens.sum()), dtype=np.uint8)
    starts = np.cumsum(lens) - lens
    msgs = [
        blob[s : s + ln].tobytes() for s, ln in zip(starts, lens)
    ]
    digests = md5np.md5_digest_bytes(
        md5np.pack_single_blocks(blob, starts, lens)
    )
    # spot-check a sample plus the extremes
    for i in list(range(0, 5000, 271)) + [0, 4999]:
        assert digests[i].tobytes() == hashlib.md5(msgs[i]).digest()


def test_u28_draws_match_hex_substring_semantics():
    messages = [f"key{i}|boot|{i % 8}".encode() for i in range(300)]
    digests = md5np.md5_digest_bytes(_pack(messages))
    draws = md5np.u28_draws(digests)
    for i, msg in enumerate(messages):
        hx = hashlib.md5(msg).hexdigest()
        for j in range(4):
            assert draws[i, j] == int(hx[j * 7 : j * 7 + 7], 16), (
                i,
                j,
                hx,
            )


def test_hashlib_fallback_and_packer_agree():
    messages = [b"x" * 55, b"", b"abc"]
    vec = md5np.md5_digest_bytes(_pack(messages))
    fb = np.array(
        [np.frombuffer(hashlib.md5(m).digest(), dtype=np.uint8)
         for m in messages]
    )
    assert (vec == fb).all()


def test_pack_rejects_oversize_by_contract():
    # packer itself is unguarded by design (callers pre-mask); a
    # 56-byte message would corrupt the padding - make sure the
    # documented MAX constant is what callers must compare against
    assert md5np.MAX_SINGLE_BLOCK == 55


def test_u28_draws_from_words_equals_byte_path():
    messages = [f"k{i}|boot|{i % 8}".encode() for i in range(1000)]
    blocks = _pack(messages)
    a, b, c, d = md5np.md5_words(blocks)
    fast = md5np.u28_draws_from_words(a, b, c, d)
    slow = md5np.u28_draws(md5np.md5_digest_bytes(blocks))
    assert (fast == slow).all()


def test_append_suffix_matches_repack():
    keys = [f"key-{i}".encode() for i in range(500)]
    blocks = _pack(keys)
    lens = np.array([len(k) for k in keys], dtype=np.int64)
    for g in range(10):  # same-length stamps, re-stamp path included
        md5np.append_suffix(blocks, lens, f"|boot|{g}".encode())
        direct = _pack([k + f"|boot|{g}".encode() for k in keys])
        assert (blocks == direct).all(), g
