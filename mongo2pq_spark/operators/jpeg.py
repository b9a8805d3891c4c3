"""Baseline JPEG codec in pure stdlib + numpy — a REAL pixel codec,
retiring the decode stub for baseline JPEG exactly the way the PNG
codec (``operators/multimodal.py``) retired it for PNG: reference
implementation, correctness and testability over throughput, with a
codec-library swap documented as the production path behind the same
function contract.

Scope (fail-loud outside it):

- ``encode_jpeg``: baseline sequential DCT, 8-bit, grayscale or
  YCbCr 4:4:4, 4:2:2, 4:4:0 or 4:2:0 (chroma subsampling decodes
  for real as of r16; box upsample). The Huffman tables are our own
  canonical fixed-length layouts and are DECLARED in the stream's DHT
  segments — any conforming decoder reads tables from DHT, so the
  output is standards-compliant without transcribing the Annex K
  defaults (which are only *typical*, never required).
- ``encode_jpeg_progressive`` (r17): the same pixel contract emitted
  as an SOF2 progressive scan script — interleaved DC first pass
  with successive approximation, per-component spectral-selection AC
  bands, AC refinement passes with EOB runs and correction bits, a
  final DC refinement.
- ``decode_jpeg_pixels``: parses DQT/SOF/DHT/DRI/SOS generically (so
  it also decodes third-party streams, whatever tables they
  declare), Huffman-decodes the entropy stream with 0xFF00
  unstuffing and sequence-validated RSTn restart markers,
  dequantizes, inverse-DCTs (batched), and color-converts — baseline
  sequential, progressive (full T.81 Annex G successive
  approximation / spectral selection, r17), AND 12-bit precision
  (SOF1 extended sequential r17; color and progressive too as of
  r18 — uint16 output, chroma centered at 2048, the widened DC/AC
  category bounds of T.81 Table F.1). ``NotImplementedError`` on
  lossless/hierarchical SOFs and arithmetic coding (the QM-coder
  needs T.81 Table D.3's 113-row state machine verbatim — transcribing
  it from memory risks a self-consistent-but-nonconforming codec, the
  exact hazard the foreign-vector tests exist to catch);
  ``ValueError`` on corrupt payloads — the same typed-error
  contract as the PNG decoder.

Exactness property the registered roundtrip query leans on: an image
whose 8×8 blocks are each CONSTANT is DC-only — with an all-ones
quantization table the FDCT/quantize/IDCT chain reproduces it
bit-exactly (AC terms are ~1e-16 float noise that rounds to zero), so
a closed-form SQL oracle can pin the full encode→decode pipeline.
General images round-trip within a small rounding tolerance (the
per-coefficient quantization round composes through the IDCT and, for
color, the YCbCr matrix: ≤2 grayscale, ≤3 RGB — property-tested),
covered by unit tests.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from mongo2pq_spark.operators.bitio import BitReader, BitWriter, prefix_lut

JPEG_MAGIC = b"\xff\xd8"


def _zigzag_order():
    """The standard zigzag scan as (y, x) pairs, generated from the
    construction rule (anti-diagonals, alternating direction) rather
    than transcribed."""
    order = []
    for s in range(15):
        diag = [(y, s - y) for y in range(8) if 0 <= s - y < 8]
        order.extend(diag[::-1] if s % 2 == 0 else diag)
    return order


_ZIGZAG = _zigzag_order()

#: our canonical Huffman layouts (declared in DHT; see module doc):
#: DC — 12 categories, all 4-bit codes; AC — 162 symbols, all 8-bit
_DC_BITS = [0, 0, 0, 12] + [0] * 12
_DC_VALS = list(range(12))
_AC_BITS = [0] * 7 + [162] + [0] * 8
_AC_VALS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]
#: progressive AC layout: the sequential symbols PLUS EOBn run-length
#: symbols (n<<4, n=1..14 — EOB runs of 2..32767 blocks, T.81 G.1.2.2)
_AC_PROG_BITS = [0] * 7 + [176] + [0] * 8
_AC_PROG_VALS = [0x00, 0xF0] + [n << 4 for n in range(1, 15)] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]
#: 12-bit (extended sequential, SOF1) layouts: DC categories reach 15
#: and AC sizes 14 (T.81 Tables F.1/F.2 ranges at P=12)
_DC12_BITS = [0, 0, 0, 0, 16] + [0] * 11
_DC12_VALS = list(range(16))
_AC12_BITS = [0] * 7 + [226] + [0] * 8
_AC12_VALS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 15)
]
#: 12-bit progressive AC layout (r18): the 12-bit run/size surface
#: plus the EOBn symbols, all 8-bit codes (240 symbols)
_AC12_PROG_BITS = [0] * 7 + [240] + [0] * 8
_AC12_PROG_VALS = [0x00, 0xF0] + [n << 4 for n in range(1, 15)] + [
    (run << 4) | size for run in range(16) for size in range(1, 15)
]


def _build_codes(bits, vals):
    """Canonical Huffman code assignment (JPEG B.2.4.2): symbol →
    (code, length)."""
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            k += 1
            code += 1
        code <<= 1
    return codes


def _build_decode_map(bits, vals):
    """(length, code) → symbol, for the bit-serial decoder."""
    return {
        (length, code): sym
        for sym, (code, length) in _build_codes(bits, vals).items()
    }


def _dct_matrix():
    import numpy as np

    m = np.empty((8, 8))
    m[0, :] = 1.0 / np.sqrt(8.0)
    for u in range(1, 8):
        for x in range(8):
            m[u, x] = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return m


_ENTROPY_STREAM = "JPEG entropy stream"


def _close_segment(bw: BitWriter) -> bytes:
    """Close one entropy-coded segment: pad the last byte with 1-bits
    and stuff every 0xFF to 0xFF 00 (F.1.2.3). Stuffing is per
    segment, so the RSTn markers between segments stay markers."""
    bw.align(1)
    return bw.getvalue().replace(b"\xff", b"\xff\x00")


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _rgb_to_ycbcr(arr, center: float = 128.0):
    """JFIF color transform; ``center`` is the chroma zero point —
    half the sample range (128 at 8-bit, 2048 at 12)."""
    import numpy as np

    r, g, b = (arr[:, :, i].astype(np.float64) for i in range(3))
    return np.stack(
        [
            0.299 * r + 0.587 * g + 0.114 * b,
            center - 0.168735892 * r - 0.331264108 * g + 0.5 * b,
            center + 0.5 * r - 0.418687589 * g - 0.081312411 * b,
        ],
        axis=2,
    )


def _ycbcr_to_rgb(planes, center: float = 128.0, maxval: int = 255):
    import numpy as np

    y = planes[:, :, 0]
    cb = planes[:, :, 1] - center
    cr = planes[:, :, 2] - center
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136286 * cb - 0.714136286 * cr,
            y + 1.772 * cb,
        ],
        axis=2,
    )
    return np.clip(np.rint(rgb), 0, maxval).astype(
        "uint8" if maxval <= 255 else "uint16"
    )


_SAMPLING_MODES = {
    "444": ((1, 1), (1, 1), (1, 1)),
    "422": ((2, 1), (1, 1), (1, 1)),
    "420": ((2, 2), (1, 1), (1, 1)),
}


def _block_coef_zz(block, q, m, center: float = 128.0):
    """FDCT → quantize → zigzag coefficient list for one 8×8 block
    (shared by the sequential and progressive encoders); ``center``
    is the level shift — 128 at 8-bit precision, 2048 at 12."""
    import numpy as np

    coef = np.rint((m @ (block - center) @ m.T) / q).astype(int)
    return [int(coef[y, x]) for (y, x) in _ZIGZAG]


def _encode_block(writer, block, q, comp, dc_prev, dc_codes, ac_codes, m,
                  center: float = 128.0, max_ac_size: int = 10):
    """One 8×8 block through FDCT → quantize → Huffman (shared by
    every sampling mode; DC predictor is per component)."""
    zz = _block_coef_zz(block, q, m, center)
    diff = zz[0] - dc_prev[comp]
    dc_prev[comp] = zz[0]
    cat = _category(diff)
    code, length = dc_codes[cat]
    writer.write(code, length)
    if cat:
        bits = diff if diff >= 0 else diff + (1 << cat) - 1
        writer.write(bits, cat)
    run = 0
    for v in zz[1:]:
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            writer.write(code, length)
            run -= 16
        size = _category(v)
        if size > max_ac_size:
            raise ValueError(
                f"AC coefficient {v} exceeds the {max_ac_size}-bit "
                "magnitude of the declared table (use a "
                "larger quantization table)"
            )
        code, length = ac_codes[(run << 4) | size]
        writer.write(code, length)
        bits = v if v >= 0 else v + (1 << size) - 1
        writer.write(bits, size)
        run = 0
    if run:
        code, length = ac_codes[0x00]  # EOB
        writer.write(code, length)


def _prepare_planes(arr, qtable, subsampling: str, precision: int = 8):
    """Shared front half of both encoders: validate, color-convert,
    pad to MCU multiples, box-downsample chroma. Returns
    (planes, samp, h, w, ph, pw, n_comp, q). ``precision=12`` (r18,
    color too) takes an integer array in 0..4095."""
    import numpy as np

    if precision == 12:
        arr = np.asarray(arr)
        if not np.issubdtype(arr.dtype, np.integer):
            raise ValueError("12-bit input must be an integer array")
        if arr.size and (int(arr.min()) < 0 or int(arr.max()) > 4095):
            raise ValueError("12-bit sample outside 0..4095")
        arr = np.ascontiguousarray(arr, dtype="int32")
    else:
        arr = np.ascontiguousarray(arr, dtype="uint8")
    if arr.ndim == 2:
        arr = arr[:, :, None]
    if arr.ndim != 3 or arr.shape[2] not in (1, 3):
        raise ValueError(
            f"expected h×w or h×w×{{1,3}} array, got shape {arr.shape}"
        )
    h, w, n_comp = arr.shape
    if h == 0 or w == 0:
        raise ValueError("empty image")
    if subsampling not in _SAMPLING_MODES:
        raise ValueError(f"unknown subsampling {subsampling!r}")
    if n_comp == 1:
        samp = ((1, 1),)
    else:
        samp = _SAMPLING_MODES[subsampling]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    q = (
        np.ones((8, 8), dtype=np.float64)
        if qtable is None
        else np.asarray(qtable, dtype=np.float64).reshape(8, 8)
    )
    if (q < 1).any() or (q > 255).any():
        raise ValueError("quantization table entries must be in 1..255")

    full = (
        _rgb_to_ycbcr(arr, center=float(1 << (precision - 1)))
        if n_comp == 3
        else arr[:, :, 0].astype(np.float64)[:, :, None]
    )
    # pad to MCU multiples by edge replication
    mcu_h, mcu_w = 8 * vmax, 8 * hmax
    ph, pw = -(-h // mcu_h) * mcu_h, -(-w // mcu_w) * mcu_w
    full = np.pad(full, ((0, ph - h), (0, pw - w), (0, 0)), mode="edge")
    planes = []
    for ci, (hi, vi) in enumerate(samp):
        plane = full[:, :, ci]
        fy, fx = vmax // vi, hmax // hi
        if fy > 1 or fx > 1:  # box downsample
            plane = plane.reshape(
                ph // fy, fy, pw // fx, fx
            ).mean(axis=(1, 3))
        planes.append(plane)
    return planes, samp, h, w, ph, pw, n_comp, q


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def _frame_segments(
    h, w, n_comp, samp, q, sof_marker: int, precision: int = 8
) -> bytes:
    """DQT + SOF + DC DHT shared by both encoders (the AC table
    differs: sequential vs progressive-with-EOBn vs 12-bit)."""
    qzz = bytes(int(q[y, x]) for (y, x) in _ZIGZAG)
    sof_comps = b"".join(
        struct.pack(
            ">BBB", cid + 1, (samp[cid][0] << 4) | samp[cid][1], 0
        )
        for cid in range(n_comp)
    )
    dc_bits, dc_vals = (
        (_DC12_BITS, _DC12_VALS) if precision == 12 else (_DC_BITS, _DC_VALS)
    )
    return (
        _seg(0xDB, b"\x00" + qzz)  # DQT, 8-bit, table 0
        + _seg(
            sof_marker,
            struct.pack(">BHHB", precision, h, w, n_comp) + sof_comps,
        )
        + _seg(0xC4, bytes([0x00] + dc_bits) + bytes(dc_vals))  # DC0
    )


def encode_jpeg(
    arr, qtable=None, subsampling: str = "444",
    restart_interval: int | None = None,
    precision: int = 8,
) -> bytes:
    """Baseline JPEG writer: h×w (grayscale) or h×w×3 (RGB, stored as
    YCbCr) uint8 array → standards-compliant JFIF-less baseline JPEG
    bytes. ``qtable`` is the 8×8 quantization table used for ALL
    components (default all-ones — near-lossless, the reference
    setting the exact-roundtrip oracle relies on). ``subsampling``
    (3-channel only): '444', '422', or '420' (r16) — chroma planes
    box-downsampled and the scan emitted in interleaved MCU order
    with the matching SOF sampling factors, the layout camera/encoder
    output overwhelmingly ships. ``restart_interval`` (r17) emits a
    DRI segment and RSTn markers every that-many MCUs with DC
    predictors reset — the error-resilience framing real encoders
    add to large images. ``precision=12`` (r17; color r18) emits
    EXTENDED sequential (SOF1) 12-bit — grayscale OR YCbCr color
    with any supported subsampling — from an integer array in
    0..4095, with the widened DC/AC tables (categories to 15, sizes
    to 14) declared in DHT."""
    import numpy as np

    if precision == 12:
        planes, samp, h, w, ph, pw, n_comp, q = _prepare_planes(
            arr, qtable, subsampling, precision=12
        )
        center, max_ac = 2048.0, 14
        dc_codes = _build_codes(_DC12_BITS, _DC12_VALS)
        ac_codes = _build_codes(_AC12_BITS, _AC12_VALS)
        ac_dht = _seg(
            0xC4, bytes([0x10] + _AC12_BITS) + bytes(_AC12_VALS)
        )
        sof_marker = 0xC1  # extended sequential
    elif precision == 8:
        planes, samp, h, w, ph, pw, n_comp, q = _prepare_planes(
            arr, qtable, subsampling
        )
        center, max_ac = 128.0, 10
        dc_codes = _build_codes(_DC_BITS, _DC_VALS)
        ac_codes = _build_codes(_AC_BITS, _AC_VALS)
        ac_dht = _seg(0xC4, bytes([0x10] + _AC_BITS) + bytes(_AC_VALS))
        sof_marker = 0xC0
    else:
        raise ValueError(f"precision must be 8 or 12, got {precision}")
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcu_h, mcu_w = 8 * vmax, 8 * hmax
    if restart_interval is not None and restart_interval < 1:
        raise ValueError("restart_interval must be >= 1")

    m = _dct_matrix()
    entropy = bytearray()
    writer = BitWriter()
    dc_prev = [0] * n_comp
    mcu_idx = 0
    for my in range(ph // mcu_h):
        for mx in range(pw // mcu_w):
            if (
                restart_interval
                and mcu_idx
                and mcu_idx % restart_interval == 0
            ):
                entropy += _close_segment(writer)
                entropy += bytes(
                    [0xFF, 0xD0 + ((mcu_idx // restart_interval - 1) % 8)]
                )
                writer = BitWriter()
                dc_prev = [0] * n_comp
            for ci, (hi, vi) in enumerate(samp):
                for r in range(vi):
                    for c in range(hi):
                        by, bx = my * vi + r, mx * hi + c
                        block = planes[ci][
                            by * 8:by * 8 + 8, bx * 8:bx * 8 + 8
                        ]
                        _encode_block(
                            writer, block, q, ci, dc_prev,
                            dc_codes, ac_codes, m,
                            center=center, max_ac_size=max_ac,
                        )
            mcu_idx += 1
    entropy += _close_segment(writer)

    sos_comps = b"".join(
        struct.pack(">BB", cid + 1, 0x00) for cid in range(n_comp)
    )
    dri = (
        _seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        JPEG_MAGIC
        + _frame_segments(h, w, n_comp, samp, q, sof_marker, precision)
        + ac_dht
        + dri
        + _seg(0xDA, bytes([n_comp]) + sos_comps + b"\x00\x3f\x00")
        + entropy
        + b"\xff\xd9"  # EOI
    )


def _emit_ac_first(bw, blocks, ss, se, al, ac_codes, max_size=10):
    """Progressive AC first pass (T.81 G.1.2.2): point-transformed
    band coefficients with EOBn run-length coding across all-zero
    band remainders. ``blocks`` iterates zigzag lists in scan order."""
    eobrun = 0

    def flush_eob():
        nonlocal eobrun
        if eobrun:
            n = eobrun.bit_length() - 1
            code, ln = ac_codes[n << 4]
            bw.write(code, ln)
            if n:
                bw.write(eobrun - (1 << n), n)
            eobrun = 0

    for zz in blocks:
        band = []
        for k in range(ss, se + 1):
            v = zz[k]
            band.append(-((-v) >> al) if v < 0 else v >> al)
        last = max(
            (i for i, v in enumerate(band) if v), default=None
        )
        if last is None:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
            continue
        flush_eob()
        run = 0
        for v in band[:last + 1]:
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]
                bw.write(code, ln)
                run -= 16
            size = _category(v)
            if size > max_size:
                raise ValueError(
                    f"AC coefficient {v} exceeds the declared table"
                )
            code, ln = ac_codes[(run << 4) | size]
            bw.write(code, ln)
            bw.write(v if v >= 0 else v + (1 << size) - 1, size)
            run = 0
        if last < len(band) - 1:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()


def _emit_ac_refine(bw, blocks, ss, se, al, ac_codes):
    """Progressive AC refinement (T.81 G.1.2.3, the libjpeg
    formulation): newly-nonzero coefficients code as (run|1)+sign,
    already-nonzero ones ride as buffered correction bits attached to
    the symbol (or EOB run) that flushes them."""
    eobrun = 0
    be: list[int] = []  # correction bits buffered across an EOB run

    def flush_eob():
        nonlocal eobrun, be
        if eobrun:
            n = eobrun.bit_length() - 1
            code, ln = ac_codes[n << 4]
            bw.write(code, ln)
            if n:
                bw.write(eobrun - (1 << n), n)
            for bit in be:
                bw.write(bit, 1)
            eobrun, be = 0, []

    for zz in blocks:
        absv = [abs(zz[k]) >> al for k in range(ss, se + 1)]
        eob_idx = max(
            (i for i, t in enumerate(absv) if t == 1), default=-1
        )
        run = 0
        br: list[int] = []  # this block's pending correction bits
        for i, t in enumerate(absv):
            if t == 0:
                run += 1
                continue
            while run > 15 and i <= eob_idx:
                flush_eob()
                code, ln = ac_codes[0xF0]
                bw.write(code, ln)
                run -= 16
                for bit in br:
                    bw.write(bit, 1)
                br = []
            if t > 1:
                br.append(t & 1)
                continue
            flush_eob()
            code, ln = ac_codes[(run << 4) | 1]
            bw.write(code, ln)
            bw.write(1 if zz[ss + i] >= 0 else 0, 1)
            for bit in br:
                bw.write(bit, 1)
            br = []
            run = 0
        if run > 0 or br:
            eobrun += 1
            be += br
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()


def encode_jpeg_progressive(
    arr, qtable=None, subsampling: str = "444", precision: int = 8
) -> bytes:
    """Progressive JPEG writer (SOF2 — r17, VERDICT r16 #6): the same
    pixel contract as ``encode_jpeg`` but emitted as a T.81 Annex G
    scan script exercising the full progressive surface — interleaved
    DC first pass with successive approximation (Al=1), per-component
    spectral-selection AC bands (1–5, 6–63) at Al=1, matching AC
    refinement passes to Al=0 (correction bits + EOB runs), and the
    final DC refinement. The AC DHT declares the EOBn symbols the
    run-length coding needs. Decodes bit-identically to the baseline
    encoding of the same array (successive approximation is exact
    once all passes land). ``precision=12`` (r18) emits the same
    scan script at 12-bit — grayscale or color — with the widened
    DC/AC tables."""
    if precision not in (8, 12):
        raise ValueError(f"precision must be 8 or 12, got {precision}")
    planes, samp, h, w, ph, pw, n_comp, q = _prepare_planes(
        arr, qtable, subsampling, precision=precision
    )
    center = float(1 << (precision - 1))
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    m = _dct_matrix()
    # coefficient plan: per comp, zigzag lists in the comp's own
    # raster block order (AC scans are non-interleaved by spec)
    coefs = []
    for ci, (hi, vi) in enumerate(samp):
        pl = planes[ci]
        nby, nbx = pl.shape[0] // 8, pl.shape[1] // 8
        coefs.append(
            [
                [
                    _block_coef_zz(
                        pl[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8],
                        q, m, center=center,
                    )
                    for bx in range(nbx)
                ]
                for by in range(nby)
            ]
        )

    if precision == 12:
        dc_codes = _build_codes(_DC12_BITS, _DC12_VALS)
        ac_codes = _build_codes(_AC12_PROG_BITS, _AC12_PROG_VALS)
        ac_bits, ac_vals = _AC12_PROG_BITS, _AC12_PROG_VALS
    else:
        dc_codes = _build_codes(_DC_BITS, _DC_VALS)
        ac_codes = _build_codes(_AC_PROG_BITS, _AC_PROG_VALS)
        ac_bits, ac_vals = _AC_PROG_BITS, _AC_PROG_VALS

    def mcu_dc_blocks():
        """Interleaved DC traversal: every comp's vi×hi blocks per
        MCU (degenerates to raster order at 1×1)."""
        for my in range(ph // (8 * vmax)):
            for mx in range(pw // (8 * hmax)):
                for ci, (hi, vi) in enumerate(samp):
                    for r in range(vi):
                        for c in range(hi):
                            yield ci, coefs[ci][my * vi + r][mx * hi + c]

    # non-interleaved AC scans cover the component's SPEC block grid
    # (ceil of its scaled dims, T.81 A.2.2) — NOT the MCU-padded grid
    # the interleaved DC scans traverse; padding blocks simply never
    # receive AC data (they are cropped on decode anyway)
    spec_grid = []
    for ci, (hi, vi) in enumerate(samp):
        cw = -(-w * hi // hmax)
        ch2 = -(-h * vi // vmax)
        spec_grid.append((-(-ch2 // 8), -(-cw // 8)))

    out = bytearray()
    out += JPEG_MAGIC
    out += _frame_segments(h, w, n_comp, samp, q, 0xC2, precision)
    out += _seg(0xC4, bytes([0x10] + ac_bits) + bytes(ac_vals))

    def sos(comp_ids, ss, se, ah, al):
        body = bytes([len(comp_ids)])
        for cid in comp_ids:
            body += struct.pack(">BB", cid + 1, 0x00)
        return _seg(0xDA, body + bytes([ss, se, (ah << 4) | al]))

    al_dc, al_ac = 1, 1
    # scan 1: DC first pass, all components, interleaved, Al=1
    bw = BitWriter()
    dc_prev = [0] * n_comp
    for ci, zz in mcu_dc_blocks():
        v = zz[0] >> al_dc  # DC point transform: arithmetic shift
        diff = v - dc_prev[ci]
        dc_prev[ci] = v
        cat = _category(diff)
        code, ln = dc_codes[cat]
        bw.write(code, ln)
        if cat:
            bw.write(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
    out += sos(list(range(n_comp)), 0, 0, 0, al_dc) + _close_segment(bw)

    def comp_blocks(ci):
        nby, nbx = spec_grid[ci]
        for by in range(nby):
            for bx in range(nbx):
                yield coefs[ci][by][bx]

    # per component: spectral-selection AC bands, first pass then
    # the matching refinement (same bands, Ah=1 → Al=0)
    bands = [(1, 5), (6, 63)]
    for ci in range(n_comp):
        for ss, se in bands:
            bw = BitWriter()
            _emit_ac_first(
                bw, comp_blocks(ci), ss, se, al_ac, ac_codes,
                max_size=14 if precision == 12 else 10,
            )
            out += sos([ci], ss, se, 0, al_ac) + _close_segment(bw)
    for ci in range(n_comp):
        for ss, se in bands:
            bw = BitWriter()
            _emit_ac_refine(bw, comp_blocks(ci), ss, se, 0, ac_codes)
            out += sos([ci], ss, se, al_ac, 0) + _close_segment(bw)

    # final scan: DC refinement, one bit per block
    bw = BitWriter()
    for ci, zz in mcu_dc_blocks():
        bw.write(zz[0] & 1, 1)
    out += sos(list(range(n_comp)), 0, 0, al_dc, 0) + _close_segment(bw)

    out += b"\xff\xd9"
    return bytes(out)


def _extend(bits: int, cat: int) -> int:
    """Magnitude decode (F.2.2.1): low-order ``cat`` bits → signed."""
    if cat == 0:
        return 0
    return bits if bits >= (1 << (cat - 1)) else bits - (1 << cat) + 1


def _split_entropy(payload: bytes, pos: int):
    """Un-stuff entropy bytes from ``pos`` to the next real marker,
    splitting at RSTn markers (sequence-validated D0..D7 cycling).
    Returns (segments, new pos)."""
    segments = []
    cur = bytearray()
    rst_count = 0
    while pos < len(payload):
        b = payload[pos]
        if b == 0xFF:
            nxt = payload[pos + 1] if pos + 1 < len(payload) else None
            if nxt == 0x00:
                cur.append(0xFF)
                pos += 2
                continue
            if nxt is not None and 0xD0 <= nxt <= 0xD7:
                if nxt - 0xD0 != rst_count % 8:
                    raise ValueError(
                        f"restart marker RST{nxt - 0xD0} out of "
                        f"sequence (expected RST{rst_count % 8})"
                    )
                rst_count += 1
                segments.append(bytes(cur))
                cur = bytearray()
                pos += 2
                continue
            break  # EOI or next segment
        cur.append(b)
        pos += 1
    segments.append(bytes(cur))
    return segments, pos


def decode_jpeg_pixels(payload: bytes):
    """Decode a baseline OR progressive (SOF2 — r17, VERDICT r16 #6)
    JPEG to ``(height, width, channels, uint8 ndarray)`` — channels 1
    (grayscale) or 3 (RGB). Progressive scans cover the full T.81
    Annex G surface: spectral selection, successive approximation
    (DC and AC first/refinement passes, EOB runs, correction bits),
    non-interleaved per-component AC scans over the component's own
    block grid. Restart markers (DRI + RSTn, sequence-validated)
    decode in both modes. See the module docstring for the remaining
    envelope and the typed-error contract."""
    import numpy as np

    if payload[:2] != JPEG_MAGIC:
        raise ValueError("not a JPEG payload")
    qtables: dict[int, "np.ndarray"] = {}
    huff: dict[tuple[int, int], dict] = {}
    sof = None
    progressive = False
    dri = 0
    scans = []
    pos = 2
    try:
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                raise ValueError("corrupt JPEG segment stream")
            # ITU T.81 B.1.1.2: any number of 0xFF FILL bytes may
            # precede a marker — conforming encoders use them for
            # alignment, so skip to the last 0xFF of the run
            while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
                pos += 1
            marker = payload[pos + 1]
            if marker == 0xD9:  # EOI
                break
            (length,) = struct.unpack(">H", payload[pos + 2:pos + 4])
            body = payload[pos + 4:pos + 2 + length]
            pos += 2 + length
            if marker == 0xDB:  # DQT (possibly several tables)
                i = 0
                while i < len(body):
                    pq, tq = body[i] >> 4, body[i] & 15
                    if pq != 0:
                        raise NotImplementedError(
                            "16-bit quantization tables unsupported"
                        )
                    tbl = np.zeros((8, 8))
                    for k, (y, x) in enumerate(_ZIGZAG):
                        tbl[y, x] = body[i + 1 + k]
                    qtables[tq] = tbl
                    i += 65
            elif marker in (0xC0, 0xC1, 0xC2):
                sof = body
                progressive = marker == 0xC2
            elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                            0xCB, 0xCD, 0xCE, 0xCF):
                raise NotImplementedError(
                    "reference decoder handles baseline sequential "
                    "and progressive Huffman JPEG only (SOF marker "
                    f"0x{marker:02x})"
                )
            elif marker == 0xC4:  # DHT (possibly several tables)
                i = 0
                while i < len(body):
                    tc, th = body[i] >> 4, body[i] & 15
                    bits = list(body[i + 1:i + 17])
                    n = sum(bits)
                    vals = list(body[i + 17:i + 17 + n])
                    table = _build_decode_map(bits, vals)
                    huff[(tc, th)] = (table, prefix_lut(table))
                    i += 17 + n
            elif marker == 0xDD:  # DRI
                (dri,) = struct.unpack(">H", body[:2])
            elif marker == 0xDA:  # SOS — entropy data follows
                n_scan = body[0]
                scan_comps = [
                    (body[1 + 2 * i], body[2 + 2 * i] >> 4,
                     body[2 + 2 * i] & 15)
                    for i in range(n_scan)
                ]
                ss = body[1 + 2 * n_scan]
                se = body[2 + 2 * n_scan]
                ahal = body[3 + 2 * n_scan]
                segments, pos = _split_entropy(payload, pos)
                scans.append(
                    {
                        "comps": scan_comps,
                        "ss": ss,
                        "se": se,
                        "ah": ahal >> 4,
                        "al": ahal & 15,
                        "segments": segments,
                        "huff": dict(huff),  # tables in effect NOW
                        "dri": dri,
                    }
                )
                if not progressive:
                    break  # single-scan sequential
    except (struct.error, IndexError) as exc:
        raise ValueError(f"truncated JPEG stream: {exc}") from exc
    if sof is None or not scans:
        raise ValueError("JPEG missing SOF/SOS")

    precision, h, w, n_comp = struct.unpack(">BHHB", sof[:6])
    if precision not in (8, 12):
        raise NotImplementedError(f"{precision}-bit JPEG unsupported")
    if n_comp not in (1, 3):
        raise NotImplementedError(f"{n_comp}-component JPEG unsupported")
    comps = []
    for i in range(n_comp):
        cid, sampling, tq = sof[6 + 3 * i:9 + 3 * i]
        hi, vi = sampling >> 4, sampling & 15
        if not (1 <= hi <= 4 and 1 <= vi <= 4):
            raise ValueError(
                f"sampling factors {hi}x{vi} corrupt (T.81: 1-4 each)"
            )
        if hi not in (1, 2) or vi not in (1, 2):
            raise NotImplementedError(
                f"sampling factors {hi}x{vi} unsupported "
                "(1-2 each: 4:4:4, 4:2:2, 4:4:0, 4:2:0)"
            )
        comps.append((cid, tq, hi, vi))
    if n_comp == 1 and comps[0][2:] != (1, 1):
        raise NotImplementedError(
            "subsampled single-component JPEG is not meaningful"
        )

    hmax = max(hi for _, _, hi, _ in comps)
    vmax = max(vi for _, _, _, vi in comps)
    mcu_h, mcu_w = 8 * vmax, 8 * hmax
    mcus_y, mcus_x = -(-h // mcu_h), -(-w // mcu_w)
    # coefficient accumulators (zigzag order) at full interleaved
    # coverage; progressive scans refine them pass by pass
    coefs = [
        np.zeros((mcus_y * vi, mcus_x * hi, 64), dtype=np.int32)
        for _, _, hi, vi in comps
    ]
    # non-interleaved scans traverse ONLY the component's own block
    # grid (ceil of its scaled dims — T.81 A.2.2), not MCU padding
    nblocks = []
    for _cid, _tq, hi, vi in comps:
        cw = -(-w * hi // hmax)
        ch = -(-h * vi // vmax)
        nblocks.append((-(-ch // 8), -(-cw // 8)))

    for scan in scans:
        _decode_scan(scan, comps, coefs, nblocks, mcus_y, mcus_x,
                     progressive, max_dc_cat=11 if precision == 8 else 15)

    # reconstruct: dequantize + batched IDCT per component
    m = _dct_matrix()
    nat = np.empty(64, dtype=np.int64)
    for k, (y, x) in enumerate(_ZIGZAG):
        nat[k] = y * 8 + x
    planes = []
    for ci, (_cid, tq, hi, vi) in enumerate(comps):
        q = qtables.get(tq)
        if q is None:
            raise ValueError("SOF references an undeclared DQT")
        by, bx = coefs[ci].shape[:2]
        zz = coefs[ci].reshape(-1, 64).astype(np.float64)
        natural = np.zeros_like(zz)
        natural[:, nat] = zz
        blocks = natural.reshape(-1, 8, 8) * q[None, :, :]
        recon = (
            np.matmul(np.matmul(m.T, blocks), m)
            + float(1 << (precision - 1))
        )
        planes.append(
            recon.reshape(by, bx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(by * 8, bx * 8)
        )

    # upsample subsampled planes back to full resolution (box — the
    # exact inverse of the encoder's box downsample for
    # constant-per-cell content, which is what keeps the DC-block
    # oracle bit-exact through 4:2:0)
    out_planes = np.zeros((mcus_y * mcu_h, mcus_x * mcu_w, n_comp))
    for ci, (_cid, _tq, hi, vi) in enumerate(comps):
        plane = planes[ci]
        fy, fx = vmax // vi, hmax // hi
        if fy > 1:
            plane = np.repeat(plane, fy, axis=0)
        if fx > 1:
            plane = np.repeat(plane, fx, axis=1)
        out_planes[:, :, ci] = plane
    maxval = (1 << precision) - 1
    if n_comp == 1:
        out = np.clip(
            np.rint(out_planes[:h, :w, :]), 0, maxval
        ).astype("uint8" if precision == 8 else "uint16")
    else:
        out = _ycbcr_to_rgb(
            out_planes[:h, :w, :],
            center=float(1 << (precision - 1)),
            maxval=maxval,
        )
    return h, w, n_comp, out


def _decode_scan(scan, comps, coefs, nblocks, mcus_y, mcus_x,
                 progressive, max_dc_cat=11):
    """Execute one scan against the coefficient accumulators:
    sequential full-block, or one progressive pass (DC/AC ×
    first/refinement), with restart-interval segment switching.
    ``max_dc_cat`` is the DC-difference category bound — 11 at 8-bit
    precision, 15 at 12 (T.81 Table F.1)."""
    huff = scan["huff"]
    ss, se = scan["ss"], scan["se"]
    ah, al = scan["ah"], scan["al"]
    segments = scan["segments"]
    dri = scan["dri"]
    cid_to_idx = {c[0]: i for i, c in enumerate(comps)}
    try:
        idxs = [cid_to_idx[sc[0]] for sc in scan["comps"]]
    except KeyError as exc:
        raise ValueError(f"SOS names unknown component {exc}") from exc
    tables = []
    for (sc_cid, td, ta) in scan["comps"]:
        dc_tbl, ac_tbl = huff.get((0, td)), huff.get((1, ta))
        tables.append((dc_tbl, ac_tbl))
    if not progressive:
        if len(idxs) != len(comps) or idxs != list(range(len(comps))):
            raise ValueError("SOS component order differs from SOF")
        if (ss, se, ah, al) != (0, 63, 0, 0):
            raise ValueError("sequential scan with progressive header")
    else:
        if ss == 0 and se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        if ss > 0 and len(idxs) != 1:
            raise ValueError("progressive AC scans are one-component")
        if not (0 <= ss <= se <= 63):
            raise ValueError(f"bad spectral band {ss}..{se}")

    # traversal units (restart intervals count these): interleaved
    # MCUs when the scan has >1 component, single blocks otherwise
    def units():
        if len(idxs) > 1:
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    unit = []
                    for pos_in_scan, ci in enumerate(idxs):
                        _cid, _tq, hi, vi = comps[ci]
                        for r in range(vi):
                            for c in range(hi):
                                unit.append(
                                    (pos_in_scan, ci,
                                     my * vi + r, mx * hi + c)
                                )
                    yield unit
        else:
            ci = idxs[0]
            nby, nbx = nblocks[ci]
            for by in range(nby):
                for bx in range(nbx):
                    yield [(0, ci, by, bx)]

    state = {
        "reader": BitReader(segments[0], _ENTROPY_STREAM),
        "seg": 0,
        "dc_prev": [0] * len(idxs),
        "eobrun": 0,
    }

    def decode_sym(tbl) -> int:
        table, lut = tbl
        sym = state["reader"].read_code(table, lut, 16)
        if sym is None:
            raise ValueError("invalid JPEG Huffman code")
        return sym

    unit_idx = 0
    for unit in units():
        if dri and unit_idx and unit_idx % dri == 0:
            state["seg"] += 1
            if state["seg"] >= len(segments):
                raise ValueError(
                    "restart interval declared but marker missing"
                )
            state["reader"] = BitReader(
                segments[state["seg"]], _ENTROPY_STREAM
            )
            state["dc_prev"] = [0] * len(idxs)
            state["eobrun"] = 0
        for pos_in_scan, ci, by, bx in unit:
            dc_tbl, ac_tbl = tables[pos_in_scan]
            row = coefs[ci][by, bx]
            if not progressive:
                if dc_tbl is None or ac_tbl is None:
                    raise ValueError("SOS references an undeclared DHT")
                _decode_block_seq(
                    state, decode_sym, dc_tbl, ac_tbl, row, pos_in_scan,
                    max_dc_cat,
                )
            elif ss == 0:
                if ah == 0:
                    if dc_tbl is None:
                        raise ValueError(
                            "SOS references an undeclared DHT"
                        )
                    state["dc_prev"][pos_in_scan] += _dc_diff(
                        state["reader"], decode_sym(dc_tbl), max_dc_cat
                    )
                    row[0] = state["dc_prev"][pos_in_scan] << al
                else:
                    if state["reader"].read_bit():
                        row[0] |= 1 << al
            else:
                if ac_tbl is None:
                    raise ValueError("SOS references an undeclared DHT")
                if ah == 0:
                    _decode_ac_first(
                        state, decode_sym, ac_tbl, row, ss, se, al
                    )
                else:
                    _decode_ac_refine(
                        state, decode_sym, ac_tbl, row, ss, se, al
                    )
        unit_idx += 1
    if state["seg"] != len(segments) - 1:
        raise ValueError(
            f"scan carries {len(segments) - 1} restart markers for "
            f"{state['seg']} interval boundaries"
        )


def _dc_diff(reader, cat: int, max_cat: int) -> int:
    """The DC difference of category ``cat``, which T.81 Table F.1
    bounds by ``max_cat``."""
    if cat > max_cat:
        raise ValueError(f"DC category > {max_cat}")
    return _extend(reader.read(cat), cat)


def _decode_block_seq(state, decode_sym, dc_tbl, ac_tbl, row,
                      comp_pos, max_dc_cat):
    """Sequential full-block decode into a 64-entry zigzag row."""
    reader = state["reader"]
    state["dc_prev"][comp_pos] += _dc_diff(
        reader, decode_sym(dc_tbl), max_dc_cat
    )
    row[0] = state["dc_prev"][comp_pos]
    k = 1
    while k < 64:
        sym = decode_sym(ac_tbl)
        if sym == 0x00:  # EOB
            break
        if sym == 0xF0:  # ZRL
            k += 16
            continue
        k += sym >> 4
        if k > 63:
            raise ValueError("AC run overflows the block")
        row[k] = _extend(reader.read(sym & 15), sym & 15)
        k += 1


def _decode_ac_first(state, decode_sym, ac_tbl, row, ss, se, al):
    """Progressive AC first pass (T.81 G.1.2.2 / libjpeg
    decode_mcu_AC_first): band coefficients at precision Al, EOB-run
    blocks entirely zero."""
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    reader = state["reader"]
    k = ss
    while k <= se:
        sym = decode_sym(ac_tbl)
        r, s = sym >> 4, sym & 15
        if s:
            k += r
            if k > se:
                raise ValueError("AC run overflows the band")
            v = _extend(reader.read(s), s)
            row[k] = v << al
            k += 1
        else:
            if r != 15:
                eobrun = 1 << r
                if r:
                    eobrun += reader.read(r)
                state["eobrun"] = eobrun - 1  # current block counts
                return
            k += 16  # ZRL
    if k > se + 1:
        raise ValueError("ZRL overflows the band")


def _decode_ac_refine(state, decode_sym, ac_tbl, row, ss, se, al):
    """Progressive AC refinement (T.81 G.1.2.3 / libjpeg
    decode_mcu_AC_refine): newly-nonzero coefficients plus one
    correction bit per already-nonzero coefficient passed — including
    the band remainders of EOB-run blocks."""
    reader = state["reader"]
    p1 = 1 << al

    def correct(k):
        if reader.read_bit():
            if row[k] & p1 == 0:
                row[k] += p1 if row[k] >= 0 else -p1

    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            sym = decode_sym(ac_tbl)
            r, s = sym >> 4, sym & 15
            newval = 0
            if s:
                if s != 1:
                    raise ValueError(
                        "refinement coefficient size must be 1"
                    )
                newval = p1 if reader.read_bit() else -p1
            else:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.read(r)
                    state["eobrun"] = eobrun
                    break  # rest handled by the EOB logic below
                # r == 15: ZRL — s stays 0
            while k <= se:
                if row[k] != 0:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval:
                if k > se:
                    raise ValueError("refinement run overflows band")
                row[k] = newval
            k += 1
    if state["eobrun"] > 0:
        while k <= se:
            if row[k] != 0:
                correct(k)
            k += 1
        state["eobrun"] -= 1


def jpeg_pixel_stats(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow-batched REAL JPEG pixel decode via the shared
    ``pixel_stats_with`` harness (see ``multimodal.py``) — the DuckDB
    oracle recomputes the emitted scalars from a deterministic
    block-constant generation rule (DC-only blocks round-trip
    bit-exactly; see module docstring)."""
    from mongo2pq_spark.operators.multimodal import pixel_stats_with

    return pixel_stats_with(decode_jpeg_pixels, df, id_col, payload_col)
