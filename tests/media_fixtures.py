"""Byte-exact media headers for the multimodal header-sniffer tests.

Built with ``int.to_bytes`` from the published container layouts, so no
codec library is needed. Negative media ids keep them disjoint from the
test data's ``doc_id`` values.
"""

from __future__ import annotations


def planted_image_headers() -> list[tuple[int, bytes]]:
    """Five byte-exact REAL image headers (struct-built, no codec lib):
    PNG 640x360, GIF 320x200, JPEG 1024x768 (SOF0 behind an APP0 segment),
    BMP 64x48, WebP 480x320 (RIFF/VP8 lossy with the mandatory 9D 01 2A
    start code).  Negative media_ids keep them disjoint from doc_ids."""
    png = (
        b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
        + (640).to_bytes(4, "big") + (360).to_bytes(4, "big")
        + b"\x08\x06\x00\x00\x00"
    )  # 29 bytes
    gif = (
        b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little")
        + b"\xf7\x00\x00"
    )  # 13 bytes
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00"
        + b"\x01\x01\x00" + b"\x00\x01\x00\x01" + b"\x00\x00"
        + b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
        + (768).to_bytes(2, "big") + (1024).to_bytes(2, "big")
        + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
        + b"\xff\xd9"
    )  # 41 bytes
    bmp = (
        b"BM" + (26).to_bytes(4, "little") + b"\x00\x00\x00\x00"
        + (26).to_bytes(4, "little") + (40).to_bytes(4, "little")
        + (64).to_bytes(4, "little", signed=True)
        + (48).to_bytes(4, "little", signed=True)
    )  # 26 bytes
    vp8_frame = (
        b"\x30\x01\x00" + b"\x9d\x01\x2a"
        + (480).to_bytes(2, "little") + (320).to_bytes(2, "little")
    )
    webp = (
        b"RIFF" + (12 + len(vp8_frame)).to_bytes(4, "little") + b"WEBP"
        + b"VP8 " + len(vp8_frame).to_bytes(4, "little") + vp8_frame
    )  # 30 bytes
    return [(-1, png), (-2, gif), (-3, jpeg), (-4, bmp), (-5, webp)]


def planted_av_containers() -> list[tuple[int, bytes]]:
    """Two byte-exact REAL audio/video container headers (struct-built,
    no codec lib): a WAV (PCM mono 8 kHz, 32-byte data chunk -> 2 ms) and
    an MP4 (isom ftyp + moov with mvhd timescale=1000/duration=5000 and a
    640x360 v0 tkhd video track)."""
    wav = (
        b"RIFF" + (68).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")      # PCM, mono
        + (8000).to_bytes(4, "little") + (16000).to_bytes(4, "little")
        + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
        + b"data" + (32).to_bytes(4, "little") + b"\x00" * 32
    )  # 76 bytes
    ftyp = (16).to_bytes(4, "big") + b"ftyp" + b"isom" + (0).to_bytes(4, "big")
    mvhd_body = (
        bytes([0, 0, 0, 0]) + (0).to_bytes(8, "big")
        + (1000).to_bytes(4, "big") + (5000).to_bytes(4, "big")
        + (0x00010000).to_bytes(4, "big") + (0x0100).to_bytes(2, "big")
        + b"\x00" * 10 + b"\x00" * 36 + b"\x00" * 24 + (2).to_bytes(4, "big")
    )
    mvhd = (8 + len(mvhd_body)).to_bytes(4, "big") + b"mvhd" + mvhd_body
    tkhd_body = (
        bytes([0, 0, 0, 7]) + (0).to_bytes(8, "big") + (1).to_bytes(4, "big")
        + (0).to_bytes(4, "big") + (5000).to_bytes(4, "big")
        + b"\x00" * 8 + b"\x00" * 8 + b"\x00" * 36
        + (640 << 16).to_bytes(4, "big") + (360 << 16).to_bytes(4, "big")
    )
    tkhd = (8 + len(tkhd_body)).to_bytes(4, "big") + b"tkhd" + tkhd_body
    trak = (8 + len(tkhd)).to_bytes(4, "big") + b"trak" + tkhd
    moov = (8 + len(mvhd) + len(trak)).to_bytes(4, "big") + b"moov" + mvhd + trak
    mp4 = ftyp + moov  # 232 bytes
    return [(-6, wav), (-7, mp4)]
