"""Vorbis I floor1 + residue-2 entropy-layer decode (round 11, VERDICT
r10 item 6; operators/vorbis.py): the spec's own codeword-assignment
example, float32 pack/unpack exactness, full Ogg-Vorbis round trips
through the independent fixture writer, fail-closed guards for every
out-of-subset stream feature, and a pinned fixture hash."""

from __future__ import annotations

import hashlib
import random

import pytest

from duckdb_server_spark.operators.vorbis import (
    Codebook,
    Floor1,
    Residue2,
    assign_codewords,
    decode_ogg_vorbis,
    decode_vorbis_pcm,
    encode_ogg_vorbis,
    encode_vorbis_audio,
    float32_pack,
    float32_unpack,
    ilog,
    parse_vorbis_setup,
)


def _subset():
    bookA = Codebook(1, 64, [6] * 64)
    bookB = Codebook(
        4, 16, [4] * 16, lookup_type=2, minimum=-3.0, delta=1.0,
        multiplicands=[(e + j) % 8 for e in range(16) for j in range(4)],
    )
    bookC = Codebook(4, 16, [4] * 16)
    floor = Floor1([0], [3], [0], multiplier=1, rangebits=6,
                   x_list=[0, 64, 8, 16, 32])
    residue = Residue2(0, 128, 32, 2, 2, cascades=[0, 1],
                       books=[[-1] * 8, [1] + [-1] * 7])
    return [bookA, bookB, bookC], floor, residue


def test_spec_codeword_assignment_example():
    # Vorbis I §3.2.1's worked example pins the assignment algorithm
    codes = assign_codewords([2, 4, 4, 4, 4, 2, 3, 3])
    assert codes == {
        0: (2, 0b00), 1: (4, 0b0100), 2: (4, 0b0101), 3: (4, 0b0110),
        4: (4, 0b0111), 5: (2, 0b10), 6: (3, 0b110), 7: (3, 0b111),
    }


def test_oversubscribed_lengths_rejected():
    with pytest.raises(ValueError, match="over-subscribed"):
        assign_codewords([1, 1, 1])


def test_float32_round_trip():
    for v in (0.0, 1.0, -1.0, -3.0, 0.5, 7.0, 255.0, -0.25):
        assert float32_unpack(float32_pack(v)) == v


def test_ilog():
    assert [ilog(x) for x in (0, 1, 2, 3, 4, 7, 255)] == [
        0, 1, 2, 2, 3, 3, 8]


def test_round_trip_fuzz():
    books, floor, residue = _subset()
    rng = random.Random(1111)
    for _ in range(40):
        posts = [rng.randrange(256), rng.randrange(256)] + [
            rng.randrange(64) for _ in range(3)
        ]
        cw = rng.randrange(16)
        classes = [(cw >> 3) & 1, (cw >> 2) & 1, (cw >> 1) & 1, cw & 1]
        n_needed = 8 * sum(classes)
        rentries = [rng.randrange(16) for _ in range(n_needed)]
        pkt = encode_vorbis_audio(posts, rentries, [cw], floor,
                                  residue, books)
        blob = encode_ogg_vorbis([pkt], books, floor, residue)
        fr = decode_ogg_vorbis(blob)["frames"][0]
        assert fr["posts"] == posts
        vec = fr["residue"]
        it = iter(rentries)
        for part, cls in enumerate(classes):
            seg = vec[part * 32 : (part + 1) * 32]
            if not cls:
                assert seg == [0.0] * 32
                continue
            exp = []
            for _ in range(8):
                e = next(it)
                exp += [((e + j) % 8) - 3.0 for j in range(4)]
            assert seg == exp


def test_multi_packet_stream():
    books, floor, residue = _subset()
    pkts = [
        encode_vorbis_audio([i, i + 1, i % 64, 0, 5], [], [0], floor,
                            residue, books)
        for i in range(3)
    ]
    out = decode_ogg_vorbis(encode_ogg_vorbis(pkts, books, floor,
                                              residue))
    assert out["n_packets"] == 3
    assert [f["posts"][0] for f in out["frames"]] == [0, 1, 2]


def test_silent_floor_skips_residue():
    books, floor, residue = _subset()
    # a packet whose floor nonzero bit is 0: hand-build (audio bit 0,
    # then floor bit 0)
    pkt = bytes([0b00])
    blob = encode_ogg_vorbis([pkt], books, floor, residue)
    fr = decode_ogg_vorbis(blob)["frames"][0]
    assert fr["posts"] is None and fr["residue"] is None


def test_pcm_plug_point_retired_in_round_13():
    # r11 pinned PCM as fail-closed naming the inverse-dB plug point;
    # round 13 landed the float layer (closed-form table + formula
    # IMDCT/window — tests/test_r13_vorbis_pcm.py), so the same call
    # now returns the windowed time-domain block
    books, floor, residue = _subset()
    pkt = encode_vorbis_audio([1, 2, 3, 4, 5], [], [0], floor, residue,
                              books)
    setup = parse_vorbis_setup(
        __import__(
            "duckdb_server_spark.operators.vorbis",
            fromlist=["encode_vorbis_setup"],
        ).encode_vorbis_setup(books, floor, residue)
    )
    block = decode_vorbis_pcm(pkt, setup)
    assert len(block) == 256
    assert all(isinstance(v, float) for v in block[:4])


def test_routed_through_decode_ogg_audio():
    from duckdb_server_spark.operators.ogg import decode_ogg_audio

    books, floor, residue = _subset()
    pkt = encode_vorbis_audio([9, 8, 7, 6, 5], [], [0], floor, residue,
                              books)
    out = decode_ogg_audio(encode_ogg_vorbis([pkt], books, floor,
                                             residue))
    assert out["codec"] == "vorbis"
    assert out["frames"][0]["posts"] == [9, 8, 7, 6, 5]


# --- fail-closed guards --------------------------------------------------------


def _setup_bytes(mutate=None):
    from duckdb_server_spark.operators.vorbis import encode_vorbis_setup

    books, floor, residue = _subset()
    raw = encode_vorbis_setup(books, floor, residue)
    return bytearray(raw)


def test_lookup_type_1_lattice_round_trip():
    # round 11: type-1 implicit lattice — dims 2, entries 9,
    # lookup1_values = 3; multiplicands [0,1,2] -> values (m - 1.0)
    from duckdb_server_spark.operators.vorbis import lookup1_values

    assert lookup1_values(9, 2) == 3
    assert lookup1_values(10, 2) == 3
    assert lookup1_values(8, 3) == 2
    lat = Codebook(2, 9, [4] * 9, lookup_type=1, minimum=-1.0,
                   delta=1.0, multiplicands=[0, 1, 2])
    # entry e decomposes base-3 LSB-first: dim0 = e % 3, dim1 = e // 3
    assert lat.vq_vector(0) == [-1.0, -1.0]
    assert lat.vq_vector(5) == [1.0, 0.0]
    assert lat.vq_vector(7) == [0.0, 1.0]
    # survives the header round trip
    from duckdb_server_spark.operators.vorbis import (
        _BitReaderLSB, _BitWriterLSB,
    )

    bw = _BitWriterLSB()
    lat.write_header(bw)
    back = Codebook.parse(_BitReaderLSB(bw.render()))
    assert back.lookup_type == 1 and back.multiplicands == [0, 1, 2]
    assert back.vq_vector(5) == [1.0, 0.0]


def test_residue_through_type1_codebook():
    # the residue VQ path accumulates identically through a lattice book
    books, floor, residue = _subset()
    lat = Codebook(4, 16, [4] * 16, lookup_type=1, minimum=-1.0,
                   delta=1.0, multiplicands=[0, 1])  # lookup1_values(16,4)=2
    books = [books[0], lat, books[2]]
    pkt = encode_vorbis_audio([1, 2, 3, 4, 5],
                              [9, 0, 15, 6, 3, 12, 5, 10], [0b1000],
                              floor, residue, books)
    out = decode_ogg_vorbis(encode_ogg_vorbis([pkt], books, floor,
                                              residue))
    vec = out["frames"][0]["residue"]
    exp = []
    for e in [9, 0, 15, 6, 3, 12, 5, 10]:
        exp += [float((e >> k) & 1) - 1.0 for k in range(4)]
    assert vec[:32] == exp
    assert vec[32:] == [0.0] * 96


def test_unknown_floor_type_fails_closed():
    # round 15: floor type 0 DECODES (tests/test_r15_vorbis_floor0) —
    # the fail-closed pin moves to the spec-invalid type 2
    from duckdb_server_spark.operators.vorbis import (
        _BitWriterLSB,
        _common_header,
    )

    books, floor, residue = _subset()
    bw = _BitWriterLSB()
    bw.write(0, 8)
    books[0].write_header(bw)
    bw.write(0, 6)
    bw.write(0, 16)
    bw.write(0, 6)
    bw.write(2, 16)  # floor type 2: not in the spec's 0/1 set
    with pytest.raises(NotImplementedError, match="floor type 2"):
        parse_vorbis_setup(_common_header(5) + bw.render())


def test_truncated_packet_fails_closed():
    books, floor, residue = _subset()
    pkt = encode_vorbis_audio(
        [10, 20, 30, 40, 50],
        [1] * 16, [0b1001], floor, residue, books,
    )
    blob = encode_ogg_vorbis([pkt[:-2]], books, floor, residue)
    with pytest.raises(ValueError, match="underrun|invalid"):
        decode_ogg_vorbis(blob)


PINNED_FIXTURE_SHA256 = (
    "1367e2638114c77aba66ae9396606c6d5f7fccdb8498775fb9e16b61955c0b53"
)


def test_fixture_bytes_pinned():
    books, floor, residue = _subset()
    pkt = encode_vorbis_audio(
        [200, 100, 63, 0, 31],
        [5, 4, 3, 2, 1, 0, 15, 14], [0b0100], floor, residue, books,
    )
    blob = encode_ogg_vorbis([pkt], books, floor, residue)
    assert hashlib.sha256(blob).hexdigest() == PINNED_FIXTURE_SHA256


def test_bit_writer_masks_wide_field():
    # fields of 32+ bits skip the range check; an oversized value must be
    # cut to its width rather than spill into the next field
    from duckdb_server_spark.operators.vorbis import _BitReaderLSB, _BitWriterLSB

    bw = _BitWriterLSB()
    bw.write(0xF_DEADBEEF, 32)  # 36 significant bits
    bw.write(0b0101, 4)
    br = _BitReaderLSB(bw.render())
    assert br.read(32) == 0xDEADBEEF
    assert br.read(4) == 0b0101
