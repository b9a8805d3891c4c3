"""CCITT Group 3 / Group 4 fax codecs in pure stdlib — the bilevel
compressions scanned-document TIFFs actually ship with (the classic
large-scale OCR-ingestion source is overwhelmingly G4-in-TIFF).

Implements, from the public ITU-T T.4 (Group 3) and T.6 (Group 4)
specifications:

- modified Huffman (MH) 1-D run-length coding: per-color terminating
  codes 0..63, makeup codes 64..1728, and the shared extended makeup
  codes 1792..2560 (T.4 Table 2/3 + Annex A);
- modified READ (MR) 2-D coding: pass / horizontal / vertical modes
  against the previous (reference) line (T.4 §4.2.1);
- modified modified READ (MMR, T.6): pure 2-D with an imaginary
  all-white first reference line and no EOLs.

Wire framing per TIFF6 §Section 10/11 compression values:

- 2 ("CCITTRLE"):  MH per row, each row starting on a byte boundary;
- 3 ("CCITTFAX3"): T.4 — EOL (000000000001) before every row; with
  T4Options bit 0 set, a tag bit after each EOL selects 1-D (1) or
  2-D (0) coding for that row;
- 4 ("CCITTFAX4"): T.6 — no EOLs, EOFB terminator.

Each TIFF strip restarts the coder (reference line reset), so strips
stay independently decodable — the property that makes fax TIFFs
splittable into parallel map tasks at scale.

Encoder exists for fixture generation (decode∘encode identity is the
oracle); the decoder is the product surface, fed per-strip from
operators/tiff.py. Both sides are white-run-first (a row starting
black emits the zero-length white code), MSB-first bit packing
(TIFF FillOrder 1).

Reference parity note: the reference engine (Rahlir/mongo2pq) has no
image handling — this module is mandated multimodal extension scope,
like operators/tiff.py it plugs into.
"""

from __future__ import annotations

from mongo2pq_spark.operators.bitio import BitReader, BitWriter, prefix_lut

# ITU-T T.4 Table 2 — white run codes (run: bitstring).
_WHITE_CODES = {
    0: "00110101", 1: "000111", 2: "0111", 3: "1000", 4: "1011",
    5: "1100", 6: "1110", 7: "1111", 8: "10011", 9: "10100",
    10: "00111", 11: "01000", 12: "001000", 13: "000011",
    14: "110100", 15: "110101", 16: "101010", 17: "101011",
    18: "0100111", 19: "0001100", 20: "0001000", 21: "0010111",
    22: "0000011", 23: "0000100", 24: "0101000", 25: "0101011",
    26: "0010011", 27: "0100100", 28: "0011000", 29: "00000010",
    30: "00000011", 31: "00011010", 32: "00011011", 33: "00010010",
    34: "00010011", 35: "00010100", 36: "00010101", 37: "00010110",
    38: "00010111", 39: "00101000", 40: "00101001", 41: "00101010",
    42: "00101011", 43: "00101100", 44: "00101101", 45: "00000100",
    46: "00000101", 47: "00001010", 48: "00001011", 49: "01010010",
    50: "01010011", 51: "01010100", 52: "01010101", 53: "00100100",
    54: "00100101", 55: "01011000", 56: "01011001", 57: "01011010",
    58: "01011011", 59: "01001010", 60: "01001011", 61: "00110010",
    62: "00110011", 63: "00110100",
    # makeup codes (T.4 Table 3)
    64: "11011", 128: "10010", 192: "010111", 256: "0110111",
    320: "00110110", 384: "00110111", 448: "01100100",
    512: "01100101", 576: "01101000", 640: "01100111",
    704: "011001100", 768: "011001101", 832: "011010010",
    896: "011010011", 960: "011010100", 1024: "011010101",
    1088: "011010110", 1152: "011010111", 1216: "011011000",
    1280: "011011001", 1344: "011011010", 1408: "011011011",
    1472: "010011000", 1536: "010011001", 1600: "010011010",
    1664: "011000", 1728: "010011011",
}

# ITU-T T.4 Table 2/3 — black run codes.
_BLACK_CODES = {
    0: "0000110111", 1: "010", 2: "11", 3: "10", 4: "011",
    5: "0011", 6: "0010", 7: "00011", 8: "000101", 9: "000100",
    10: "0000100", 11: "0000101", 12: "0000111", 13: "00000100",
    14: "00000111", 15: "000011000", 16: "0000010111",
    17: "0000011000", 18: "0000001000", 19: "00001100111",
    20: "00001101000", 21: "00001101100", 22: "00000110111",
    23: "00000101000", 24: "00000010111", 25: "00000011000",
    26: "000011001010", 27: "000011001011", 28: "000011001100",
    29: "000011001101", 30: "000001101000", 31: "000001101001",
    32: "000001101010", 33: "000001101011", 34: "000011010010",
    35: "000011010011", 36: "000011010100", 37: "000011010101",
    38: "000011010110", 39: "000011010111", 40: "000001101100",
    41: "000001101101", 42: "000011011010", 43: "000011011011",
    44: "000001010100", 45: "000001010101", 46: "000001010110",
    47: "000001010111", 48: "000001100100", 49: "000001100101",
    50: "000001010010", 51: "000001010011", 52: "000000100100",
    53: "000000110111", 54: "000000111000", 55: "000000100111",
    56: "000000101000", 57: "000001011000", 58: "000001011001",
    59: "000000101011", 60: "000000101100", 61: "000001011010",
    62: "000001100110", 63: "000001100111",
    # makeup codes
    64: "0000001111", 128: "000011001000", 192: "000011001001",
    256: "000001011011", 320: "000000110011", 384: "000000110100",
    448: "000000110101", 512: "0000001101100", 576: "0000001101101",
    640: "0000001001010", 704: "0000001001011", 768: "0000001001100",
    832: "0000001001101", 896: "0000001110010", 960: "0000001110011",
    1024: "0000001110100", 1088: "0000001110101",
    1152: "0000001110110", 1216: "0000001110111",
    1280: "0000001010010", 1344: "0000001010011",
    1408: "0000001010100", 1472: "0000001010101",
    1536: "0000001011010", 1600: "0000001011011",
    1664: "0000001100100", 1728: "0000001100101",
}

# T.4 Annex A — extended makeup codes 1792..2560, shared by both colors.
_EXT_CODES = {
    1792: "00000001000", 1856: "00000001100", 1920: "00000001101",
    1984: "000000010010", 2048: "000000010011", 2112: "000000010100",
    2176: "000000010101", 2240: "000000010110", 2304: "000000010111",
    2368: "000000011100", 2432: "000000011101", 2496: "000000011110",
    2560: "000000011111",
}

# 2-D mode codes (T.4 Table 4): vertical offsets −3..3, pass, horizontal.
_V_CODES = {
    0: "1", 1: "011", 2: "000011", 3: "0000011",
    -1: "010", -2: "000010", -3: "0000010",
}
# pass and horizontal mode codes (T.4 Table 4) and EOL, as (code, nbits)
_PASS = (0b0001, 4)
_HORIZ = (0b001, 3)
_EOL = (0b000000000001, 12)


def _codes(bitstrings: dict) -> dict:
    """value → (code, nbits), from the spec's bit strings."""
    return {v: (int(c, 2), len(c)) for v, c in bitstrings.items()}


def _decoder(codes: dict) -> tuple[dict, list]:
    """The (table, lut) pair ``BitReader.read_code`` decodes with."""
    table = {(nbits, code): v for v, (code, nbits) in codes.items()}
    return table, prefix_lut(table)


_ENC_RUNS = (
    _codes({**_WHITE_CODES, **_EXT_CODES}),
    _codes({**_BLACK_CODES, **_EXT_CODES}),
)
_ENC_V = _codes(_V_CODES)
_DEC_RUNS = tuple(_decoder(codes) for codes in _ENC_RUNS)
_DEC_MODES = _decoder(
    {("v", d): code for d, code in _ENC_V.items()}
    | {("p", 0): _PASS, ("h", 0): _HORIZ}
)
_RUN_MAX_BITS = 13  # the longest run codes (black makeup 512..1728)
_MODE_MAX_BITS = 7


_BIT_REVERSE = bytes(
    int(f"{i:08b}"[::-1], 2) for i in range(256)
)


def reverse_fill_order(data: bytes) -> bytes:
    """Per-byte bit reversal — TIFF FillOrder 2 (LSB-first) fax
    payloads become the MSB-first stream the coders here speak.
    Involutive, so the encoder reuses it to WRITE FillOrder-2
    fixtures."""
    return bytes(data).translate(_BIT_REVERSE)


def _emit_run(bw: BitWriter, run: int, color: int) -> None:
    """One run as [extended-makeup]* [makeup] terminating-code."""
    table = _ENC_RUNS[color]
    while run > 2623:  # 2560 extended + 63 terminating headroom
        bw.write(*table[2560])
        run -= 2560
    if run >= 64:
        bw.write(*table[(run // 64) * 64])
        run %= 64
    bw.write(*table[run])


def _decode_run(br: BitReader, color: int) -> int:
    """MH run for ``color``: makeup codes accumulate until a
    terminating (<64) code closes the run."""
    table, lut = _DEC_RUNS[color]
    total = 0
    while True:
        val = br.read_code(table, lut, _RUN_MAX_BITS)
        if val is None:
            raise ValueError(
                f"invalid CCITT {'black' if color else 'white'} code"
            )
        total += val
        if val < 64:
            return total


def _changes(row: bytes) -> list[int]:
    """Changing-element positions of a pixel row (white=0/black=1),
    with the imaginary white pixel before position 0 (T.4 §4.2.1.1):
    colors at successive entries alternate starting black."""
    prev = 0
    out = []
    for i, p in enumerate(row):
        if p != prev:
            out.append(i)
            prev = p
    return out


def _b1_b2(ref_changes: list[int], a0: int, color: int, w: int):
    """(b1, b2) per T.4: b1 = first reference changing element right
    of a0 with color opposite to a0's; b2 = the next one after b1.
    Entry j of the changes list flips to black when j is even."""
    import bisect

    j = bisect.bisect_right(ref_changes, a0)
    # desired color-after at b1 is the opposite of the current color
    want_black = color == 0
    if j < len(ref_changes) and (j % 2 == 0) != want_black:
        j += 1
    b1 = ref_changes[j] if j < len(ref_changes) else w
    b2 = ref_changes[j + 1] if j + 1 < len(ref_changes) else w
    return b1, b2


def _encode_1d_row(bw: BitWriter, row: bytes) -> None:
    """MH row: alternating runs, white first (zero-length white code
    when the row opens black)."""
    runs = []
    color = 0
    run = 0
    for p in row:
        if p == color:
            run += 1
        else:
            runs.append(run)
            color ^= 1
            run = 1
    runs.append(run)
    for i, r in enumerate(runs):
        _emit_run(bw, r, i & 1)


def _encode_2d_row(bw: BitWriter, row: bytes, ref: bytes, w: int) -> None:
    ref_changes = _changes(ref)
    a0, color = -1, 0
    while a0 < w:
        b1, b2 = _b1_b2(ref_changes, a0, color, w)
        # a1: first changing element on the coding line right of a0
        # (the run [max(a0,0), a1) is all ``color``)
        a1 = max(a0, 0)
        while a1 < w and row[a1] == color:
            a1 += 1
        if b2 < a1:
            bw.write(*_PASS)
            a0 = b2
        elif abs(a1 - b1) <= 3:
            bw.write(*_ENC_V[a1 - b1])
            a0 = a1
            color ^= 1
        else:
            a2 = a1
            while a2 < w and row[a2] == (color ^ 1):
                a2 += 1
            bw.write(*_HORIZ)
            _emit_run(bw, a1 - max(a0, 0), color)
            _emit_run(bw, a2 - a1, color ^ 1)
            a0 = a2


def _decode_1d_row(br: BitReader, w: int) -> bytes:
    row = bytearray(w)
    pos = 0
    color = 0
    while pos < w:
        run = _decode_run(br, color)
        if pos + run > w:
            raise ValueError(
                f"CCITT 1-D run overflows row ({pos}+{run} > {w})"
            )
        if color:
            row[pos:pos + run] = b"\x01" * run
        pos += run
        color ^= 1
    return bytes(row)


def _decode_2d_row(br: BitReader, ref: bytes, w: int) -> bytes:
    ref_changes = _changes(ref)
    mode_table, mode_lut = _DEC_MODES
    row = bytearray(w)
    a0, color = -1, 0
    while a0 < w:
        b1, b2 = _b1_b2(ref_changes, a0, color, w)
        hit = br.read_code(mode_table, mode_lut, _MODE_MAX_BITS)
        if hit is None:
            raise ValueError("invalid CCITT 2-D mode code")
        mode, d = hit
        start = max(a0, 0)
        if mode == "p":
            if color:
                row[start:b2] = b"\x01" * (b2 - start)
            a0 = b2
        elif mode == "v":
            a1 = b1 + d
            if a1 < start or a1 > w:
                raise ValueError(
                    f"CCITT vertical mode lands at {a1} outside row"
                )
            if color:
                row[start:a1] = b"\x01" * (a1 - start)
            a0 = a1
            color ^= 1
        else:  # horizontal: two MH runs, color unchanged
            r1 = _decode_run(br, color)
            r2 = _decode_run(br, color ^ 1)
            if start + r1 + r2 > w:
                raise ValueError(
                    f"CCITT horizontal runs overflow row "
                    f"({start}+{r1}+{r2} > {w})"
                )
            if color:
                row[start:start + r1] = b"\x01" * r1
            else:
                row[start + r1:start + r1 + r2] = b"\x01" * r2
            a0 = start + r1 + r2
    if a0 != w:
        raise ValueError(f"CCITT 2-D row decodes to {a0} of {w} px")
    return bytes(row)


def _expect_eol(br: BitReader) -> None:
    """Consume fill bits + EOL: zeros until the terminating 1, at
    least 11 of them (T.4 §4.1.2; fill lengthens the zero span)."""
    zeros = br.read_unary()
    if zeros < 11:
        raise ValueError(
            f"expected CCITT EOL, saw {zeros} zero bits before 1"
        )


def ccitt_encode(
    rows, mode: int, two_d: bool = False
) -> bytes:
    """Encode an (h, w) 0/1 array (white=0) per TIFF compression
    ``mode`` ∈ {2: MH byte-aligned rows, 3: T.4 G3, 4: T.6 G4}.
    ``two_d`` selects T.4 2-D coding (first row 1-D, rest 2-D —
    a legal K choice the tag bits make self-describing)."""
    import numpy as np

    a = np.asarray(rows, dtype="uint8")
    h, w = a.shape
    if int(a.max(initial=0)) > 1:
        raise ValueError("CCITT input must be 0/1 bilevel")
    bw = BitWriter()
    if mode == 2:
        for y in range(h):
            _encode_1d_row(bw, a[y].tobytes())
            bw.align(0)
    elif mode == 3:
        prev = None
        for y in range(h):
            bw.write(*_EOL)
            if two_d:
                bw.write(1 if prev is None else 0, 1)  # 1: 1-D row
            if two_d and prev is not None:
                _encode_2d_row(bw, a[y].tobytes(), prev, w)
            else:
                _encode_1d_row(bw, a[y].tobytes())
            prev = a[y].tobytes()
    elif mode == 4:
        ref = bytes(w)  # imaginary all-white reference line
        for y in range(h):
            cur = a[y].tobytes()
            _encode_2d_row(bw, cur, ref, w)
            ref = cur
        bw.write(*_EOL)  # EOFB: two EOLs
        bw.write(*_EOL)
    else:
        raise ValueError(f"CCITT fixture mode {mode}")
    bw.align(0)
    return bw.getvalue()


def ccitt_encode_k(
    rows, k: int, byte_align: bool = False
) -> bytes:
    """Encode per the PDF CCITTFaxDecode /K convention (ISO 32000
    §7.4.6): K < 0 pure 2-D (T.6/G4, EOFB-terminated), K = 0 pure
    1-D without EOLs (``byte_align`` = /EncodedByteAlign starts each
    row on a byte boundary), K > 0 mixed mode (EOL + tag bit per
    row, first row 1-D). Input is ink bits per the BlackIs1=true
    convention (1 = black); the caller flips for BlackIs1=false."""
    import numpy as np

    a = np.asarray(rows, dtype="uint8")
    h, w = a.shape
    if int(a.max(initial=0)) > 1:
        raise ValueError("CCITT input must be 0/1 bilevel")
    if k < 0:
        return ccitt_encode(a, 4)
    if k > 0:
        return ccitt_encode(a, 3, two_d=True)
    bw = BitWriter()
    for y in range(h):
        _encode_1d_row(bw, a[y].tobytes())
        if byte_align:
            bw.align(0)
    bw.align(0)
    return bw.getvalue()


def ccitt_decode_k(
    data: bytes, w: int, n_rows: int, k: int,
    byte_align: bool = False,
) -> bytes:
    """Decode a PDF CCITTFaxDecode stream (same K semantics as the
    encoder above) to byte-aligned packed rows, white=0/black=1
    (BlackIs1=true); the caller inverts for the PDF default
    BlackIs1=false where 0 means black."""
    import numpy as np

    if k < 0:
        return ccitt_decode(data, w, n_rows, 4)
    if k > 0:
        return ccitt_decode(data, w, n_rows, 3, two_d=True)
    br = BitReader(data, "CCITT stream")
    rows = []
    for y in range(n_rows):
        if byte_align and y:
            br.align()
        rows.append(_decode_1d_row(br, w))
    arr = np.frombuffer(b"".join(rows), dtype="uint8").reshape(
        n_rows, w
    )
    return np.packbits(arr, axis=1).tobytes()


def ccitt_decode(
    data: bytes, w: int, n_rows: int, mode: int, two_d: bool = False
) -> bytes:
    """Decode one TIFF strip to byte-aligned packed rows (MSB-first,
    stride ⌈w/8⌉ — the layout _tiff_rows_to_samples expects for
    1-bit samples), white=0/black=1. ``mode`` is the TIFF compression
    value (2/3/4); ``two_d`` is T4Options bit 0 for mode 3."""
    import numpy as np

    br = BitReader(data, "CCITT stream")
    rows = []
    ref = bytes(w)
    for y in range(n_rows):
        if mode == 2:
            if y:
                br.align()
            row = _decode_1d_row(br, w)
        elif mode == 3:
            _expect_eol(br)
            if two_d:
                row = (
                    _decode_1d_row(br, w)
                    if br.read_bit()
                    else _decode_2d_row(br, ref, w)
                )
            else:
                row = _decode_1d_row(br, w)
        elif mode == 4:
            row = _decode_2d_row(br, ref, w)
        else:
            raise NotImplementedError(f"CCITT mode {mode}")
        ref = row
        rows.append(row)
    arr = np.frombuffer(b"".join(rows), dtype="uint8").reshape(
        n_rows, w
    )
    return np.packbits(arr, axis=1).tobytes()
