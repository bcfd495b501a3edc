"""Pinned outputs of ``decode_jpeg_pixels`` over a seeded corpus of
hostile JPEG streams.

The corpus mutates one valid stream of each frame layout the decoder
handles: baseline 4:4:4, SOF1 extended sequential, restart intervals 1
and 3, a multi-scan 4:2:0 sequential frame, progressive 4:4:4,
progressive 4:2:0 with restarts, and one Motion-JPEG frame cut from an
AVI.  Each mutant is one of four kinds: random byte flips, a truncation,
0xFF fill bytes inserted before a marker or into the entropy data, or
the frame's SOF marker swapped for another SOFn.

The SHA-256 over every output (None or the stats dict) pins the exact
behaviour of the marker walk and the scan decoder on malformed input,
beside what the spec-driven property tests cover on valid input: a
change to either that moves any mutant's result fails here.
"""

from __future__ import annotations

import hashlib
import random
import struct
import tracemalloc

from curw_mike_data_handler_spark.operators import multimodal as mm

_SEED = 20260
_MUTANTS_PER_STREAM = 38
_SOFS = (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC9, 0xCA)
# sha256 over repr() of the valid streams' outputs, then every mutant's
_DIGEST = "1d8e4c4009af77ae61afe33fdb9437466ab70c0fa943a0da3ef8ea4dfba237b2"


def _blocks(rng: random.Random, n: int) -> list[list[int]]:
    """n zigzag blocks whose zero runs and magnitudes stay inside the
    compact baseline AC table (and so inside the progressive one)."""
    out = []
    for _ in range(n):
        block = [0] * 64
        block[0] = rng.randint(-200, 200)
        k = 1
        while k < 64:
            gap, szmax = rng.choice([(0, 10), (1, 2), (2, 1), (3, 1), (16, 10)])
            k += gap
            if k >= 64 or rng.random() < 0.15:
                break
            sz = rng.randint(1, szmax)
            mag = rng.randint(1 << (sz - 1), (1 << sz) - 1)
            block[k] = mag if rng.random() < 0.5 else -mag
            k += 1
        out.append(block)
    return out


def _valid_streams(rng: random.Random) -> list[bytes]:
    def mcus(n):
        return [_blocks(rng, 3) for _ in range(n)]

    hv420 = [(2, 2), (1, 1), (1, 1)]
    avi = mm.make_avi(16, 16, n_frames=2, mjpeg=True)
    at = avi.index(b"00dc")
    size = int.from_bytes(avi[at + 4 : at + 8], "little")
    return [
        mm.make_jpeg(24, 16, pixels=True),
        mm.make_jpeg_from_coefficients(16, 8, mcus(2), extended=True),
        mm.make_jpeg_from_coefficients(32, 8, mcus(4), restart_interval=1),
        mm.make_jpeg_from_coefficients(32, 16, mcus(8), restart_interval=3),
        # luma on its own 2x2 grid, chroma 1x1 each, one scan per component
        mm.make_multiscan_baseline_jpeg(
            16, 16, [_blocks(rng, 4), _blocks(rng, 1), _blocks(rng, 1)], hv=hv420
        ),
        mm.make_progressive_jpeg_from_coefficients(16, 8, mcus(2)),
        mm.make_progressive_jpeg_from_planes(
            32, 16,
            [
                [_blocks(rng, 4) for _ in range(2)],
                [_blocks(rng, 2)],
                [_blocks(rng, 2)],
            ],
            sampling=tuple(hv420),
            restart_interval=1,
        ),
        avi[at + 8 : at + 8 + size],
    ]


def _marker_positions(b: bytes) -> list[int]:
    return [
        i for i in range(len(b) - 1)
        if b[i] == 0xFF and b[i + 1] not in (0x00, 0xFF)
    ]


def _mutate(rng: random.Random, b: bytes) -> bytes:
    kind = rng.randrange(4)
    if kind == 0:  # flip 1-3 bytes
        out = bytearray(b)
        for _ in range(rng.randint(1, 3)):
            out[rng.randrange(len(out))] = rng.randrange(256)
        return bytes(out)
    if kind == 1:  # truncate anywhere
        return b[: rng.randrange(len(b) + 1)]
    if kind == 2:  # 0xFF fill before a marker, or inside the entropy data
        at = rng.choice(_marker_positions(b) if rng.random() < 0.5 else range(len(b)))
        return b[:at] + b"\xff" * rng.randint(1, 3) + b[at:]
    # swap the frame's SOF marker for another SOFn
    sof = next(
        i for i in _marker_positions(b) if b[i + 1] in (0xC0, 0xC1, 0xC2)
    )
    return b[: sof + 1] + bytes([rng.choice(_SOFS)]) + b[sof + 2 :]


def _corpus() -> tuple[list[bytes], list[bytes]]:
    rng = random.Random(_SEED)
    valid = _valid_streams(rng)
    mutants = [
        _mutate(rng, b) for b in valid for _ in range(_MUTANTS_PER_STREAM)
    ]
    return valid, mutants


def test_hostile_jpeg_streams_decode_to_pinned_outputs():
    valid, mutants = _corpus()
    good = [mm.decode_jpeg_pixels(b) for b in valid]
    assert all(isinstance(g, dict) for g in good)
    got = [mm.decode_jpeg_pixels(b) for b in mutants]
    assert all(g is None or isinstance(g, dict) for g in got)
    # both outcomes occur, so the digest pins real decodes and rejections
    n_decoded = sum(g is not None for g in got)
    assert 0 < n_decoded < len(got)
    digest = hashlib.sha256(repr(good + got).encode()).hexdigest()
    assert digest == _DIGEST, (digest, n_decoded, len(got))


def test_sof_dimensions_beyond_the_entropy_data_cost_bounded_memory():
    """A valid 16x16 stream whose SOF is rewritten to claim a huge frame
    is rejected before any grid is sized from the claim: the decoder's
    peak allocation stays far below what the claimed frame needs."""
    for stream, sof_marker in (
        (mm.make_progressive_jpeg(16, 16), b"\xff\xc2"),  # 531 bytes
        (mm.make_jpeg(16, 16, pixels=True), b"\xff\xc0"),
    ):
        assert mm.decode_jpeg_pixels(stream) is not None
        sof = stream.index(sof_marker)
        for side in (2048, 65535):
            claim = stream[: sof + 5] + struct.pack(">HH", side, side) + stream[sof + 9 :]
            tracemalloc.start()
            try:
                got = mm.decode_jpeg_pixels(claim)
                peak = tracemalloc.get_traced_memory()[1]
            finally:
                tracemalloc.stop()
            assert got is None
            assert peak < 16 * 2**20, (side, peak)
