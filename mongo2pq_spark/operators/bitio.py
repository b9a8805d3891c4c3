"""MSB-first bit I/O shared by the FLAC, JPEG, CCITT and TIFF LZW
codecs: one reader, one writer and one prefix-code decode.

All four formats pack bits most-significant first within each byte
(TIFF FillOrder 1; FLAC frames; the JPEG entropy stream once
un-stuffed; TIFF LZW codes). GIF LZW is LSB-first and keeps its own
packing in ``operators/multimodal.py``.

The reader's hot paths avoid per-bit Python loops:
``read`` slices the covering byte span through one C-level
``int.from_bytes``, ``read_unary`` scans whole bytes via
``bit_length``, and ``read_code`` resolves every prefix code of ≤8
bits with one lookup in a 256-entry first-level table
(``prefix_lut``), walking bit by bit only past it. Container-level
framing stays with the codecs: JPEG byte stuffing and RST markers,
FLAC CRCs, CCITT EOLs.
"""

from __future__ import annotations


def prefix_lut(table: dict) -> list:
    """First-level decode table for a prefix code given as
    ``{(length, code): value}``: an 8-bit window → ``(length, value)``
    for every code of ≤8 bits (each fills its ``2**(8 - length)``
    slots). Longer codes leave None, and ``BitReader.read_code`` walks
    them bit by bit. A code that does not fit its length (an
    over-subscribed table) can never be read and gets no slot."""
    lut = [None] * 256
    for (length, code), value in table.items():
        if length <= 8 and code < 1 << length:
            base = code << (8 - length)
            lut[base:base + (1 << (8 - length))] = [
                (length, value)
            ] * (1 << (8 - length))
    return lut


class BitReader:
    """Reads ``data`` MSB-first from byte offset ``start``. Running
    past the end raises ``ValueError("truncated <name>")``."""

    __slots__ = ("data", "pos", "_nbits", "_name")

    def __init__(self, data: bytes, name: str, start: int = 0):
        self.data = data
        self.pos = start * 8  # bit position
        self._nbits = len(data) * 8
        self._name = name

    def _truncated(self) -> ValueError:
        return ValueError(f"truncated {self._name}")

    def read(self, nbits: int) -> int:
        pos = self.pos
        end = pos + nbits
        if end > self._nbits:
            raise self._truncated()
        chunk = int.from_bytes(self.data[pos >> 3:(end + 7) >> 3], "big")
        self.pos = end
        return (chunk >> (-end & 7)) & ((1 << nbits) - 1)

    def read_bit(self) -> int:
        pos = self.pos
        if pos >= self._nbits:
            raise self._truncated()
        self.pos = pos + 1
        return (self.data[pos >> 3] >> (7 - (pos & 7))) & 1

    def read_signed(self, nbits: int) -> int:
        """``nbits`` of two's complement; width 0 reads 0."""
        v = self.read(nbits)
        if nbits and v >> (nbits - 1):
            v -= 1 << nbits
        return v

    def read_unary(self) -> int:
        """The count of 0-bits before the next 1-bit, which is
        consumed."""
        data, pos, total = self.data, self.pos, self._nbits
        q = 0
        while True:
            if pos >= total:
                raise self._truncated()
            avail = 8 - (pos & 7)  # bits left in this byte
            window = data[pos >> 3] & ((1 << avail) - 1)
            if window:
                lead_zeros = avail - window.bit_length()
                self.pos = pos + lead_zeros + 1
                return q + lead_zeros
            q += avail
            pos += avail

    def read_code(self, table: dict, lut: list, max_bits: int):
        """One prefix code of ``table`` (``{(length, code): value}``,
        ``lut = prefix_lut(table)``), at most ``max_bits`` long → its
        value, or None when no code matches."""
        pos = self.pos
        end = pos + 8
        if end <= self._nbits:
            window = (
                int.from_bytes(self.data[pos >> 3:(end + 7) >> 3], "big")
                >> (-end & 7)
            ) & 0xFF
            hit = lut[window]
            if hit is not None:
                self.pos = pos + hit[0]
                return hit[1]
            # no code of ≤8 bits prefixes the window: walk on from 9
            self.pos = end
            code, length = window, 8
        else:
            code, length = 0, 0
        while length < max_bits:
            code = (code << 1) | self.read_bit()
            length += 1
            value = table.get((length, code))
            if value is not None:
                return value
        return None

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def byte_pos(self) -> int:
        assert self.pos % 8 == 0, "unaligned"
        return self.pos >> 3


class BitWriter:
    """Packs values MSB-first; whole bytes leave the accumulator as
    soon as they fill."""

    __slots__ = ("_buf", "_acc", "_n")

    def __init__(self):
        self._buf = bytearray()
        self._acc = 0
        self._n = 0  # bits held in _acc, always < 8 between writes

    def write(self, value: int, nbits: int) -> None:
        """The low ``nbits`` of ``value`` (negative values write their
        two's complement)."""
        n = self._n + nbits
        acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        if n >= 8:
            rem = n & 7
            self._buf += (acc >> rem).to_bytes(n >> 3, "big")
            acc &= (1 << rem) - 1
            n = rem
        self._acc, self._n = acc, n

    write_signed = write

    def write_unary(self, q: int) -> None:
        """``q`` 0-bits, then a 1-bit."""
        self.write(1, q + 1)

    def align(self, fill: int) -> None:
        """Pad to a byte boundary with ``fill`` (0 or 1) bits."""
        if self._n:
            pad = 8 - self._n
            self.write(-fill, pad)  # -1 masks to all 1-bits

    def getvalue(self) -> bytes:
        assert self._n == 0, "unaligned"
        return bytes(self._buf)
