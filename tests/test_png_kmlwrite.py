"""PNG fallback decoder (S12/G19)."""

import numpy as np

from azure_workflow_for_kml_satellite_spark.functions import png as P


def test_png_roundtrip_and_red_channel():
    img = np.zeros((5, 4, 4), np.uint8)
    img[:, :, 0] = np.arange(20).reshape(5, 4) * 10  # red ramp
    img[:, :, 3] = 255
    img[0, 0, 3] = 0  # one transparent pixel excluded
    data = P.encode_png_rgba(img)
    decoded, bpp = P.decode_png(data)
    assert bpp == 4 and decoded.shape == (5, 4, 4)
    assert np.array_equal(decoded, img)
    reds = P.extract_red_channel(data)
    assert len(reds) == 19  # 20 px minus the transparent one
    assert reds[0] == 10  # (0,1) after skipping transparent (0,0)


def test_png_ndvi_remap():
    # red=255 → NDVI 0.8; red=0 → −0.2 (reference: ndvi.py:556)
    img = np.zeros((1, 2, 4), np.uint8)
    img[0, 0] = [255, 0, 0, 255]
    img[0, 1] = [0, 0, 0, 255]
    st = P.png_tile_ndvi_stats(P.encode_png_rgba(img))
    assert st["max"] == 0.8 and st["min"] == -0.2 and st["mean"] == 0.3


def test_png_rejects_unsupported():
    assert P.decode_png(b"not a png") is None
    assert P.extract_red_channel(b"\x89PNG\r\n\x1a\njunk") == []


def test_paeth_filter_roundtrip():
    # hand-build a 2-row PNG using Paeth filtering and check decode
    import struct
    import zlib

    w, h, bpp = 3, 2, 4
    rng = np.random.default_rng(7)
    img = rng.integers(0, 255, size=(h, w, bpp), dtype=np.uint8)
    # encode with filter type 4 on row 1
    rows = b"\x00" + img[0].tobytes()
    line0 = img[0].reshape(-1)
    line1 = img[1].reshape(-1)
    filtered = bytearray()
    for i in range(len(line1)):
        left = int(line1[i - bpp]) if i >= bpp else 0
        up = int(line0[i])
        ul = int(line0[i - bpp]) if i >= bpp else 0
        filtered.append((int(line1[i]) - P._paeth(left, up, ul)) & 0xFF)
    raw = rows + b"\x04" + bytes(filtered)

    def chunk(tag, data):
        return struct.pack(">I", len(data)) + tag + data + struct.pack(
            ">I", zlib.crc32(tag + data) & 0xFFFFFFFF
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    decoded, _ = P.decode_png(png)
    assert np.array_equal(decoded, img)
