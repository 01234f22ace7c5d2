"""r14: the batched FLAC subframe planner must reproduce the scalar
_write_subframe path bit-for-bit — same decisions (CONSTANT / FIXED /
LPC / VERBATIM, order, rice parameter), same emitted bytes, and plan
costs equal to the scalar encodings' exact bit lengths."""

from __future__ import annotations

import random

import pytest

from neuroimaging_data_pipeline_spark.multimodal import flac as fl
from neuroimaging_data_pipeline_spark.multimodal.bitio import BitWriter


def _textures(n_blocks: int, rnd: random.Random) -> list[list[int]]:
    L = n_blocks * fl._BLOCK
    ts = [
        [5] * L,                                          # constant
        [i % 97 - 40 for i in range(L)],                  # ramp (FIXED)
        [rnd.randrange(-32768, 32768) for _ in range(L)], # noise (VERBATIM)
        [(i * i * 37) % 4001 - 2000 for i in range(L)],   # quadratic
        [32767 if i % 5 == 0 else -32768 for i in range(L)],
        [(i % 16) * ((-1) ** (i // 16)) for i in range(L)],
    ]
    s = [100, 103]  # smooth recurrence: strong LPC candidate
    for _ in range(L - 2):
        s.append((2 * s[-1] - s[-2] + rnd.randrange(-2, 3)) % 20000 - 10000)
    ts.append(s[:L])
    return ts


@pytest.mark.parametrize("depth", [16, 17])
def test_planned_subframes_bit_identical(depth):
    rnd = random.Random(20260818)
    for nb in (1, 3, 9, 25):
        for t in _textures(nb, rnd):
            if depth == 17:
                t = [min(65535, max(-65536, v * 2)) for v in t]
            plans, costs = fl._plan_channel(t, depth)
            for i in range(0, len(t), fl._BLOCK):
                blk = t[i : i + fl._BLOCK]
                b_old = BitWriter()
                fl._write_subframe(b_old, blk, depth)
                bits_old = b_old.nbits()
                bytes_old = b_old.bytes_()
                b_new = BitWriter()
                fl._emit_subframe(b_new, blk, depth, plans[i // fl._BLOCK])
                assert b_new.nbits() == bits_old
                assert b_new.bytes_() == bytes_old
                assert costs[i // fl._BLOCK] == bits_old


def test_plan_many_matches_per_channel():
    rnd = random.Random(7)
    chans = [t for nb in (1, 2, 5) for t in _textures(nb, rnd)]
    batched, bcosts = fl._plan_many(chans, 16)
    for c, plans, costs in zip(chans, batched, bcosts):
        solo_p, solo_c = fl._plan_channel(c, 16)
        assert plans == solo_p
        assert list(costs) == list(solo_c)


def test_full_encoders_match_scalar_paths():
    """Whole-file byte equality: the planned encoders vs a frame loop
    that uses the scalar per-block path (plan=None)."""
    import hashlib

    rnd = random.Random(99)
    for nb in (1, 4, 11):
        ts = _textures(nb, rnd)
        for a in range(len(ts)):
            left, right = ts[a], ts[(a + 1) % len(ts)]
            inter = [v for pair in zip(left, right) for v in pair]
            md5 = hashlib.md5(fl._pcm_bytes(inter)).digest()
            out = fl._container(len(left), 2, md5, {"T": "x"})
            for i in range(0, len(left), fl._BLOCK):
                out += fl._frame_stereo(
                    i // fl._BLOCK,
                    left[i : i + fl._BLOCK],
                    right[i : i + fl._BLOCK],
                )
            assert fl.encode_flac_stereo(left, right, {"T": "x"}) == bytes(out)
        chans = ts[:6]
        length = len(chans[0])
        inter = [v for tup in zip(*chans) for v in tup]
        md5 = hashlib.md5(fl._pcm_bytes(inter)).digest()
        out = fl._container(length, len(chans), md5, {})
        for i in range(0, length, fl._BLOCK):
            out += fl._frame_multi(
                i // fl._BLOCK, [c[i : i + fl._BLOCK] for c in chans]
            )
        assert fl.encode_flac_multichannel(chans, {}) == bytes(out)


def test_doc_fixtures_roundtrip_planned():
    for i in (0, 3, 7, 11, 23):
        left, right = fl._doc_stereo(i)
        d = fl.decode_flac(
            fl.encode_flac_stereo(left, right, {"TITLE": f"doc {i}"})
        )
        assert d["md5_ok"]
        d = fl.decode_flac(fl.encode_flac(fl._doc_samples(i), {}))
        assert d["md5_ok"]
        d = fl.decode_flac(
            fl.encode_flac_multichannel(fl._doc_multichannel(i), {})
        )
        assert d["md5_ok"]
