"""Regression pins for the round-6 ADVICE findings.

Each test locks in one reviewed fix:
- probe-memo keys never embed a failed (None) plan hash (dedup.py);
- Ogg-encapsulated FLAC is labeled ``flac`` by both
  ``parse_media_header`` and ``_real_decode`` (multimodal.py);
- animated-GIF disposal method 3 restores the pre-draw region
  (multimodal.py);
- FLAC frame-footer CRC-16 mismatches and reserved sample-size codes
  degrade to the last verified frame instead of nulling the file
  (flac_codec.py).
"""

from __future__ import annotations

import numpy as np

import ic_spark.operators.dedup as dd
from flacref import _crc8, encode_flac
from ic_spark.operators.flac_codec import decode_flac
from ic_spark.operators.multimodal import (
    _gif_frames,
    _real_decode,
    parse_media_header,
)
from test_operators import _animated_gif_bytes


# ------------------------------------------------------------- dedup memo


def test_probe_memo_skips_failed_plan_key(spark, monkeypatch):
    """A None semanticHash must DISABLE memoization — a key tuple
    containing None would alias unrelated DataFrames that share params
    and hand one corpus another's hot-key probe."""
    df = spark.createDataFrame(
        [(i, f"tok{i} tok{i + 1} common words here", "b") for i in range(40)],
        "id long, content string, blk string",
    )
    dd._PROBE_MEMO.clear()
    monkeypatch.setattr(dd, "plan_key", lambda _df: None)
    dd.token_jaccard_pairs(df, "id", "content", ["blk"], threshold=0.1).count()
    assert dd._PROBE_MEMO == {}
    monkeypatch.undo()

    dd._PROBE_MEMO.clear()
    dd.token_jaccard_pairs(df, "id", "content", ["blk"], threshold=0.1).count()
    assert dd._PROBE_MEMO, "working plan key should memoize the probe"
    assert all(
        None not in key for key in dd._PROBE_MEMO
    ), "no memo key may embed a None plan hash"


# --------------------------------------------------------- Ogg-FLAC label


def _ogg_flac_bytes(samples, block_size=64):
    """Minimal Ogg encapsulation of a native FLAC stream (RFC 3533
    pages; packet 1 = \\x7fFLAC mapping header + fLaC/STREAMINFO,
    packet 2 = the audio frames)."""
    native = encode_flac([samples], block_size=block_size)
    meta_len = 4 + 4 + 34  # magic + block header + STREAMINFO
    first = b"\x7fFLAC\x01\x00\x00\x00" + native[:meta_len]
    frames = native[meta_len:]

    def page(payload, seq, header_type=0):
        lac = []
        rest = payload
        while True:
            take = min(255, len(rest))
            lac.append(take)
            rest = rest[take:]
            if take < 255:
                break
        hdr = (
            b"OggS"
            + bytes([0, header_type])
            + b"\x00" * 8
            + (7).to_bytes(4, "little")
            + seq.to_bytes(4, "little")
            + b"\x00" * 4
            + bytes([len(lac)])
            + bytes(lac)
        )
        # real page CRC (r10: the Ogg-FLAC walker verifies CRCs like
        # the vorbis one — real Ogg pages always carry them)
        from ic_spark.operators.vorbis_codec import _ogg_crc

        raw = bytearray(hdr + payload)
        raw[22:26] = _ogg_crc(bytes(raw)).to_bytes(4, "little")
        return bytes(raw)

    return page(first, 0, 2) + page(frames, 1, 4)


def test_parse_media_header_ogg_flac():
    """Ogg-FLAC gets format=flac with STREAMINFO-derived duration, not
    format=unknown — container must not change the label."""
    samples = [int(80 * np.sin(i / 5)) for i in range(1000)]
    ogg = _ogg_flac_bytes(samples)
    got = parse_media_header(ogg)
    assert got == {
        "format": "flac",
        "width": None,
        "height": None,
        "duration_ms": 1000 * 1000 // 8000,
    }
    # and identical to the native stream's header parse
    native = encode_flac([samples], block_size=64)
    assert parse_media_header(native) == got


def test_real_decode_labels_ogg_flac():
    """The decode feature string is container-independent: Ogg-FLAC
    and native FLAC both label ``flac`` (same codec path)."""
    samples = [int(80 * np.sin(i / 5)) for i in range(500)]
    ogg_feat = _real_decode(_ogg_flac_bytes(samples))
    native_feat = _real_decode(encode_flac([samples], block_size=64))
    assert ogg_feat is not None and ogg_feat.startswith("flac-")
    assert ogg_feat == native_feat


# ------------------------------------------------------- GIF disposal 3


def test_gif_disposal3_restores_previous_region():
    """Disposal 3 = restore-to-previous: the region a frame drew over
    must return to its PRE-DRAW pixels before the next frame
    composites (GIF89a spec §23)."""
    pal = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    f1 = [[1] * 4 for _ in range(4)]  # full red
    f2 = [[2] * 2 for _ in range(2)]  # green patch at (1,1), disposal 3
    f3 = [[3]]  # blue pixel at (0,0)
    gif = _animated_gif_bytes(
        [f1, f2, f3],
        pal,
        delays_cs=[5, 5, 5],
        offsets=[(0, 0), (1, 1), (0, 0)],
        disposals=[0, 3, 0],
    )
    frames, total_ms = _gif_frames(gif)
    assert len(frames) == 3 and total_ms == 150
    _, c2 = frames[1]
    assert c2[1, 1].tolist() == [0, 255, 0]  # patch visible on frame 2
    _, c3 = frames[2]
    assert c3[0, 0].tolist() == [0, 0, 255]  # frame 3's own pixel
    assert c3[1, 1].tolist() == [255, 0, 0]  # red RESTORED, not green
    assert c3[2, 2].tolist() == [255, 0, 0]


def test_gif_disposal2_still_clears_to_background():
    """The disposal-3 fix must not disturb disposal 2 (restore to
    background = zeros)."""
    pal = [(0, 0, 0), (255, 0, 0), (0, 255, 0)]
    f1 = [[1] * 3 for _ in range(3)]
    f2 = [[2]]
    gif = _animated_gif_bytes(
        [f1, f2], pal, delays_cs=[5, 5], offsets=[(0, 0), (1, 1)],
        disposals=[2, 0],
    )
    frames, _ = _gif_frames(gif)
    _, c2 = frames[1]
    assert c2[1, 1].tolist() == [0, 255, 0]  # frame 2 pixel
    assert c2[0, 0].tolist() == [0, 0, 0]  # frame 1 cleared to bg


# --------------------------------------------------- FLAC degradation


def test_flac_footer_crc16_mismatch_keeps_verified_frames():
    """Corrupting a frame's CRC-16 footer drops THAT frame and ends the
    stream at the last verified frame — not None for the whole file."""
    samples = [int(100 * np.sin(i / 3)) for i in range(128)]
    enc = bytearray(encode_flac([samples], block_size=64))  # 2 frames
    # sanity: intact stream decodes fully
    arr, rate, nch = decode_flac(bytes(enc))
    assert arr.shape == (128, 1)
    # corrupt the final frame's 2-byte CRC-16 footer (last bytes)
    enc[-1] ^= 0xFF
    enc[-2] ^= 0xFF
    got = decode_flac(bytes(enc))
    assert got is not None
    arr, rate, nch = got
    assert arr.shape == (64, 1)
    assert (arr[:, 0] == np.asarray(samples[:64])).all()


def test_flac_frame_body_corruption_keeps_verified_frames():
    """A bit flip inside a frame BODY (past the CRC-8-gated header) is
    caught by the footer CRC-16: earlier frames survive."""
    samples = [int(100 * np.sin(i / 3)) for i in range(128)]
    enc = bytearray(encode_flac([samples], block_size=64))
    # locate frame 2: its byte offset = meta + len(frame 1), where
    # frame 1 is byte-identical to the single-frame encoding's frame
    # (frame bytes depend only on the block + frame_no, not on total).
    meta_len = 4 + 4 + 34
    one = encode_flac([samples[:64]], block_size=64)
    f2_off = meta_len + (len(one) - meta_len)
    # (STREAMINFO total_samples differs; the FRAME bytes must match)
    assert bytes(enc[meta_len:f2_off]) == one[meta_len:]
    # flip a byte mid-body of frame 2 (past the ~7-byte header+crc8,
    # before the 2-byte footer)
    mid = f2_off + (len(enc) - f2_off) // 2
    assert mid > f2_off + 8 and mid < len(enc) - 2
    enc[mid] ^= 0x55
    got = decode_flac(bytes(enc))
    assert got is not None
    arr, _, _ = got
    assert arr.shape == (64, 1)
    assert (arr[:, 0] == np.asarray(samples[:64])).all()


def test_flac_reserved_sample_size_code_degrades():
    """ss_code 3 is reserved; a frame header claiming it (CRC-8 made
    consistent, i.e. a plausible desync) ends the stream at the last
    good frame instead of raising KeyError → None."""
    samples = [int(100 * np.sin(i / 3)) for i in range(128)]
    enc = bytearray(encode_flac([samples], block_size=64))
    meta_len = 4 + 4 + 34
    one = encode_flac([samples[:64]], block_size=64)
    f2 = meta_len + (len(one) - meta_len)
    # frame header layout here: 2B sync/flags, 1B bs|sr codes, 1B
    # chan|ss|res, 1B utf8 frame_no, 1B (bs-1) for bs_code 6, 1B crc8
    assert enc[f2] == 0xFF and (enc[f2 + 1] & 0xFC) == 0xF8
    enc[f2 + 3] = (enc[f2 + 3] & ~0x0E) | (3 << 1)  # ss bits ← 3
    enc[f2 + 6] = _crc8(bytes(enc[f2 : f2 + 6]))  # keep header CRC valid
    got = decode_flac(bytes(enc))
    assert got is not None
    arr, _, _ = got
    assert arr.shape == (64, 1)
    assert (arr[:, 0] == np.asarray(samples[:64])).all()
