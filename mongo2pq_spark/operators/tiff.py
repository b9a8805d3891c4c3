"""Baseline TIFF codec in pure stdlib + numpy — the scanner/archive
image format (scanned-document corpora, geo rasters, medical exports)
joining the PNG/JPEG/BMP/GIF matrix: IFD metadata walk (both byte
orders, multi-page chains) and REAL pixel decode for the compressions
scanned output actually uses — uncompressed (1), LZW (5, the
early-change TIFF variant, with the horizontal-differencing
predictor), Deflate (8 and legacy 32946 — r17, stdlib zlib), and
PackBits RLE (32773).

Scope (fail-loud outside it): 1 (bilevel scans) / 8 / 16 bits per
sample, 1 (grayscale) or 3 (RGB) samples per pixel, photometric
0/1/2 (white-is-zero inverts over the full sample range), strip- OR
tile-organized (r17 — tiles are how large geo/scan rasters actually
ship), first page decoded (multi-page files report ``n_pages`` in
metadata — the triage contract the GIF/AVI decoders share). r18
adds the CCITT fax codings 2 (MH RLE) / 3 (T.4 G3 1-D and 2-D) /
4 (T.6 G4) via operators/ccitt.py — the scanned-document corpus
compressions, pure ITU-spec bit-twiddling like the LZW decoder —
in both fill orders (FillOrder 2 LSB-first payloads bit-reverse per
byte), plus JPEG-in-TIFF (6 old-style via JPEGInterchangeFormat,
7 new-style per Tech Note 2 with the shared JPEGTables merge)
through operators/jpeg.py. T.4/T.6 uncompressed mode, tiled CCITT,
and tiled/12-bit JPEG-in-TIFF raise ``NotImplementedError``.

Reference parity note: the reference engine (Rahlir/mongo2pq) has no
image handling at all — this module is part of the mandated
large-scale multimodal extension scope, like operators/jpeg.py.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from mongo2pq_spark.operators.bitio import BitReader, BitWriter

TIFF_MAGICS = (b"II*\x00", b"MM\x00*")


def _tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF-variant LZW (TIFF6 §13): 8-bit symbols, Clear=256,
    EOI=257, MSB-first bit packing, EARLY code-width change (both
    sides switch one code sooner than GIF — the documented TIFF
    quirk), reset well before the 12-bit table edge."""
    clear, eoi = 256, 257
    bw = BitWriter()
    emit = bw.write

    def fresh():
        return {bytes([i]): i for i in range(256)}, 258, 9

    table, next_code, width = fresh()
    emit(clear, width)
    prefix = b""
    for b in bytes(data):
        cand = prefix + bytes([b])
        if cand in table:
            prefix = cand
            continue
        emit(table[prefix], width)
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width):  # early change
            if width < 12:
                width += 1
            else:
                emit(clear, width)
                table, next_code, width = fresh()
        prefix = bytes([b])
    if prefix:
        emit(table[prefix], width)
    emit(eoi, width)
    bw.align(0)
    return bw.getvalue()


def _tiff_lzw_decode(data: bytes, n_out: int) -> bytes:
    """Mirror of the encoder / libtiff semantics: width grows at
    table size 2^width − 1 (the decoder's dictionary lags the
    encoder's by one entry, so early change lands one sooner here
    too). Typed ``ValueError`` on bad codes/truncation/overrun."""
    clear, eoi = 256, 257
    out = bytearray()
    table: list[bytes] = []
    width = 9
    prev: bytes | None = None
    br = BitReader(data, "TIFF LZW stream (no EOI)")

    def reset():
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9
        prev = None

    reset()
    while True:
        code = br.read(width)
        if code == clear:
            reset()
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= 256:
                raise ValueError(
                    f"first TIFF LZW code after clear is {code}"
                )
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]
        else:
            raise ValueError(
                f"TIFF LZW code {code} beyond table {len(table)}"
            )
        out += entry
        if prev is not None and len(table) < 4094:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) - 1 and width < 12:
                width += 1
        prev = entry
        if len(out) > n_out:
            raise ValueError(
                f"TIFF LZW strip decodes past its {n_out} bytes"
            )
    if len(out) != n_out:
        raise ValueError(
            f"TIFF LZW strip decodes {len(out)} of {n_out} bytes"
        )
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """PackBits RLE (TIFF6 §9): runs of 3+ as (257−n, byte), literal
    spans otherwise — the classic scanner compression."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        lit_start = i
        i += run
        while i < n and i - lit_start < 128:
            run = 1
            while (
                i + run < n and run < 3 and data[i + run] == data[i]
            ):
                run += 1
            if run >= 3:
                break
            i += 1
        out += bytes([i - lit_start - 1]) + data[lit_start:i]
    return bytes(out)


def _packbits_decode(data: bytes, n_out: int) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < n_out:
        h = data[i]
        i += 1
        if h < 128:  # literal run of h+1
            if i + h + 1 > len(data):
                raise ValueError("truncated PackBits literal")
            out += data[i:i + h + 1]
            i += h + 1
        elif h > 128:  # repeat next byte 257-h times
            if i >= len(data):
                raise ValueError("truncated PackBits run")
            out += bytes([data[i]]) * (257 - h)
            i += 1
        # h == 128: no-op per spec
    if len(out) != n_out:
        raise ValueError(
            f"PackBits strip decodes {len(out)} of {n_out} bytes"
        )
    return bytes(out)


def _tiff_pack_rows(rows, bits: int, endian: str) -> bytes:
    """Serialize an (n, w, spp) sample block to TIFF row bytes: each
    ROW byte-aligned, sub-byte samples MSB-first, 16-bit samples in
    the file's byte order."""
    import numpy as np

    if bits == 8:
        return rows.astype("uint8").tobytes()
    if bits == 16:
        return rows.astype(endian + "u2").tobytes()
    out = bytearray()
    for r in rows.reshape(rows.shape[0], -1):
        b = np.asarray(r, dtype="uint8") & 1
        pad = (-len(b)) % 8
        if pad:
            b = np.concatenate([b, np.zeros(pad, dtype="uint8")])
        out += np.packbits(b).tobytes()
    return bytes(out)


def _split_jpeg_tables(stream: bytes) -> tuple[bytes, bytes]:
    """Split a complete JPEG interchange stream into (tables stream,
    abbreviated stream) per TIFF Tech Note 2: DQT/DHT segments move
    into an SOI…EOI tables stream (the JPEGTables tag 347 payload),
    everything else — frame header, scans, entropy data — stays in
    the per-strip abbreviated stream."""
    if stream[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream")
    tables = bytearray(b"\xff\xd8")
    abbrev = bytearray(b"\xff\xd8")
    pos = 2
    while pos + 4 <= len(stream):
        if stream[pos] != 0xFF:
            raise ValueError("corrupt JPEG segment stream")
        marker = stream[pos + 1]
        if marker == 0xDA:  # SOS: scan header + entropy to the end
            abbrev += stream[pos:]
            break
        (ln,) = struct.unpack(">H", stream[pos + 2:pos + 4])
        seg = stream[pos:pos + 2 + ln]
        (tables if marker in (0xDB, 0xC4) else abbrev).extend(seg)
        pos += 2 + ln
    tables += b"\xff\xd9"
    return bytes(tables), bytes(abbrev)


def _tiff_compress(raw: bytes, compression: int) -> bytes:
    if compression == 5:
        return _tiff_lzw_encode(raw)
    if compression == 8:
        import zlib

        return zlib.compress(raw, 9)
    if compression == 32773:
        return _packbits_encode(raw)
    return raw


def build_tiff(
    arr,
    compression: int = 1,
    predictor: int = 1,
    rows_per_strip: int | None = None,
    endian: str = "<",
    extra_pages: int = 0,
    bits: int = 8,
    tile: tuple[int, int] | None = None,
    t4_2d: bool = False,
    jpeg_tables: bool = False,
    fill_order: int = 1,
) -> bytes:
    """Fixture writer: (h, w) grayscale or (h, w, 3) RGB sample array
    → TIFF in either byte order, strip-organized or (r17) TILED via
    ``tile=(tw, th)``, at ``bits`` ∈ {1, 8, 16} per sample, with
    compression 1 (none), 5 (LZW), 8 (Deflate — r17), 32773
    (PackBits), (r18) the CCITT fax codings 2 (MH RLE) / 3 (T.4
    G3, ``t4_2d`` setting T4Options bit 0) / 4 (T.6 G4) for 1-bit
    bilevel (``fill_order=2`` bit-reverses CCITT payloads and tags
    FillOrder 2 — the LSB-first layout real fax files ship), or
    (r18) JPEG-in-TIFF — 7 (new-style Tech Note 2 per-strip
    streams, ``jpeg_tables`` moving DQT/DHT into the shared tag-347
    stream) and 6 (old-style single interchange stream via
    JPEGInterchangeFormat 513/514); ``predictor=2`` adds
    horizontal differencing (LZW/Deflate, 8/16-bit).
    ``extra_pages`` chains additional IFDs reusing the same segments
    (multi-page triage fixtures)."""
    import numpy as np

    a = np.asarray(arr)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.ndim != 3 or a.shape[2] not in (1, 3):
        raise ValueError(f"expected (h,w) or (h,w,3), got {a.shape}")
    h, w, spp = a.shape
    if compression not in (1, 2, 3, 4, 5, 6, 7, 8, 32773):
        raise ValueError(f"fixture compression {compression}")
    if bits not in (1, 8, 16):
        raise ValueError(f"fixture bits {bits}")
    if bits == 1 and spp != 1:
        raise ValueError("1-bit fixtures are bilevel grayscale")
    ccitt = compression in (2, 3, 4)
    if ccitt and (bits != 1 or spp != 1):
        raise ValueError("CCITT fixtures are 1-bit bilevel")
    if ccitt and tile is not None:
        raise ValueError("CCITT fixtures are strip-organized")
    if fill_order not in (1, 2) or (fill_order == 2 and not ccitt):
        raise ValueError("fill_order 2 is a CCITT fixture option")
    jpeg = compression in (6, 7)
    if jpeg and bits != 8:
        raise ValueError("JPEG-in-TIFF fixtures are 8-bit")
    if jpeg and (tile is not None or predictor == 2):
        raise ValueError("JPEG-in-TIFF fixtures are plain strips")
    if int(a.max(initial=0)) >= (1 << bits):
        raise ValueError(f"sample value out of range for {bits}-bit")
    if predictor == 2 and compression not in (5, 8):
        raise ValueError("predictor 2 is an LZW/Deflate option")
    if predictor == 2 and bits == 1:
        raise ValueError("predictor 2 needs 8/16-bit samples")

    def differenced(block):
        if predictor != 2:
            return block
        wide = block.astype(np.int64)
        d = np.concatenate([wide[:, :1, :], np.diff(wide, axis=1)], axis=1)
        return d & ((1 << bits) - 1)  # mod-2^bits differencing

    segments = []
    jpeg_tables_blob = b""
    if tile is None:
        rps = rows_per_strip or max(1, h // 3)
        if compression == 6:
            # old-style JPEG-in-TIFF: ONE full interchange stream,
            # referenced by JPEGInterchangeFormat (513/514)
            from mongo2pq_spark.operators.jpeg import encode_jpeg

            img = a[:, :, 0] if spp == 1 else a
            segments.append(encode_jpeg(img))
            rps = h
        for y0 in [] if compression == 6 else range(0, h, rps):
            if ccitt:
                from mongo2pq_spark.operators.ccitt import (
                    ccitt_encode,
                    reverse_fill_order,
                )

                seg = ccitt_encode(
                    a[y0:y0 + rps, :, 0], compression, t4_2d
                )
                if fill_order == 2:
                    seg = reverse_fill_order(seg)
                segments.append(seg)
                continue
            if compression == 7:
                from mongo2pq_spark.operators.jpeg import encode_jpeg

                strip = a[y0:y0 + rps]
                img = strip[:, :, 0] if spp == 1 else strip
                stream = encode_jpeg(img)
                if jpeg_tables:
                    jpeg_tables_blob, stream = _split_jpeg_tables(stream)
                segments.append(stream)
                continue
            raw = _tiff_pack_rows(
                differenced(a[y0:y0 + rps]), bits, endian
            )
            segments.append(_tiff_compress(raw, compression))
    else:
        tw, th = tile
        if tw % 16 or th % 16:
            raise ValueError("TIFF tile dimensions are multiples of 16")
        for y0 in range(0, h, th):
            for x0 in range(0, w, tw):
                block = np.zeros((th, tw, spp), dtype=a.dtype)
                part = a[y0:y0 + th, x0:x0 + tw]
                block[: part.shape[0], : part.shape[1]] = part
                raw = _tiff_pack_rows(differenced(block), bits, endian)
                segments.append(_tiff_compress(raw, compression))

    e = endian
    out = bytearray()
    out += (b"II*\x00" if e == "<" else b"MM\x00*")
    out += b"\x00\x00\x00\x00"  # first-IFD offset patched below
    seg_offsets = []
    for s in segments:
        seg_offsets.append(len(out))
        out += s

    # two-pass IFD layout: collect the tag spec, then materialize
    # with out-of-line arrays placed after the entry table
    spec = [
        (256, 3, "H", [w]),
        (257, 3, "H", [h]),
        (258, 3, "H", [bits] * spp),
        (259, 3, "H", [compression]),
        # CCITT fixtures are photometric 0 (min-is-white, the fax
        # norm): the input array is INK bits (1=black), and the
        # decoder's black-is-zero normalization returns 1−input.
        # JPEG RGB is stored as YCbCr (photometric 6) per the spec.
        (
            262, 3, "H",
            [
                (6 if jpeg else 2)
                if spp == 3
                else (0 if ccitt else 1)
            ],
        ),
    ]
    if jpeg_tables_blob:
        spec.append((347, 7, None, jpeg_tables_blob))
    if compression == 6:
        spec += [
            (513, 4, "I", [seg_offsets[0]]),
            (514, 4, "I", [len(segments[0])]),
        ]
    if tile is None:
        spec += [
            (273, 4, "I", seg_offsets),
            (278, 3, "H", [rps]),
            (279, 4, "I", [len(s) for s in segments]),
        ]
    else:
        spec += [
            (322, 3, "H", [tile[0]]),
            (323, 3, "H", [tile[1]]),
            (324, 4, "I", seg_offsets),
            (325, 4, "I", [len(s) for s in segments]),
        ]
    if spp == 3:
        spec.append((277, 3, "H", [spp]))
    if predictor == 2:
        spec.append((317, 3, "H", [predictor]))
    if compression == 3:
        spec.append((292, 4, "I", [1 if t4_2d else 0]))
    if compression == 4:
        spec.append((293, 4, "I", [0]))
    if fill_order == 2:
        spec.append((266, 3, "H", [2]))
    spec.sort(key=lambda t: t[0])

    ifd_offsets = []
    for _page in range(1 + extra_pages):
        ifd_at = len(out)
        ifd_len = 2 + 12 * len(spec) + 4
        extra = bytearray()
        entries = []
        for tag, typ, fmt, values in spec:
            if fmt is None:  # raw bytes (BYTE/UNDEFINED tags)
                data = bytes(values)
            else:
                data = b"".join(struct.pack(e + fmt, v) for v in values)
            if len(data) <= 4:
                inline = data.ljust(4, b"\x00")
            else:
                inline = struct.pack(
                    e + "I", ifd_at + ifd_len + len(extra)
                )
                extra.extend(data)
            entries.append(
                struct.pack(e + "HHI", tag, typ, len(values)) + inline
            )
        ifd_offsets.append(ifd_at)
        out += struct.pack(e + "H", len(entries))
        out += b"".join(entries)
        out += b"\x00\x00\x00\x00"  # next-IFD link patched below
        out += extra
    # patch the IFD chain
    struct.pack_into(e + "I", out, 4, ifd_offsets[0])
    for i in range(len(ifd_offsets) - 1):
        at = ifd_offsets[i]
        n = struct.unpack(e + "H", out[at:at + 2])[0]
        struct.pack_into(e + "I", out, at + 2 + 12 * n, ifd_offsets[i + 1])
    return bytes(out)


def _walk_ifds(payload: bytes):
    """Yield (endian, {tag: (type, count, values)}) per IFD in chain
    order; values resolved through inline/offset layout for SHORT/
    LONG types (what the baseline tags use) and, r18, raw ``bytes``
    for BYTE/UNDEFINED (the JPEGTables tag 347 payload)."""
    if payload[:4] not in TIFF_MAGICS:
        raise ValueError("not a TIFF payload")
    e = "<" if payload[:2] == b"II" else ">"
    (ifd_at,) = struct.unpack(e + "I", payload[4:8])
    seen = set()
    while ifd_at:
        if ifd_at in seen:
            raise ValueError("TIFF IFD chain cycle")
        seen.add(ifd_at)
        if ifd_at + 2 > len(payload):
            raise ValueError("truncated TIFF IFD")
        (n,) = struct.unpack(e + "H", payload[ifd_at:ifd_at + 2])
        tags = {}
        for k in range(n):
            at = ifd_at + 2 + 12 * k
            if at + 12 > len(payload):
                raise ValueError("truncated TIFF IFD entry")
            tag, typ, count = struct.unpack(
                e + "HHI", payload[at:at + 8]
            )
            if typ == 3:
                size, fmt = 2, "H"
            elif typ == 4:
                size, fmt = 4, "I"
            elif typ in (1, 7):  # BYTE / UNDEFINED → raw bytes
                if count <= 4:
                    raw = payload[at + 8:at + 8 + count]
                else:
                    (off,) = struct.unpack(
                        e + "I", payload[at + 8:at + 12]
                    )
                    raw = payload[off:off + count]
                    if len(raw) < count:
                        raise ValueError(
                            f"TIFF tag {tag} bytes beyond payload"
                        )
                tags[tag] = (typ, count, bytes(raw))
                continue
            else:
                tags[tag] = (typ, count, None)
                continue
            total = size * count
            if total <= 4:
                raw = payload[at + 8:at + 8 + total]
            else:
                (off,) = struct.unpack(
                    e + "I", payload[at + 8:at + 12]
                )
                raw = payload[off:off + total]
                if len(raw) < total:
                    raise ValueError(
                        f"TIFF tag {tag} values beyond payload"
                    )
            tags[tag] = (
                typ,
                count,
                list(struct.unpack(e + fmt * count, raw)),
            )
        next_at = ifd_at + 2 + 12 * n
        if next_at + 4 > len(payload):
            raise ValueError("truncated TIFF next-IFD link")
        (ifd_at,) = struct.unpack(
            e + "I", payload[next_at:next_at + 4]
        )
        yield e, tags


def _tag1(tags, tag, default=None):
    t = tags.get(tag)
    if t is None or t[2] is None:
        return default
    return t[2][0]


def parse_tiff_metadata(payload: bytes) -> dict:
    """Triage walk: ``{endian, width, height, bits_per_sample,
    samples_per_pixel, compression, n_pages}`` (first page's shape,
    full chain counted) — the pre-decode filter shared with
    GIF/PDF/MP4 triage."""
    first = None
    n_pages = 0
    for e, tags in _walk_ifds(payload):
        n_pages += 1
        if first is None:
            first = (e, tags)
    if first is None:
        raise ValueError("TIFF has no IFDs")
    e, tags = first
    width = _tag1(tags, 256)
    height = _tag1(tags, 257)
    if width is None or height is None:
        raise ValueError("TIFF IFD lacks width/height")
    return {
        "endian": "little" if e == "<" else "big",
        "width": int(width),
        "height": int(height),
        "bits_per_sample": int(_tag1(tags, 258, 1)),
        "samples_per_pixel": int(_tag1(tags, 277, 1)),
        "compression": int(_tag1(tags, 259, 1)),
        "n_pages": n_pages,
    }


def _tiff_decode_segment(seg: bytes, comp: int, n_out: int, i: int):
    """One strip/tile through its codec, length-checked."""
    if comp == 5:
        return _tiff_lzw_decode(seg, n_out)
    if comp == 32773:
        return _packbits_decode(seg, n_out)
    if comp in (8, 32946):
        import zlib

        try:
            raw = zlib.decompress(seg)
        except zlib.error as exc:
            raise ValueError(
                f"corrupt Deflate TIFF segment {i}: {exc}"
            ) from exc
        if len(raw) != n_out:
            raise ValueError(
                f"Deflate segment {i} decodes {len(raw)} of {n_out}B"
            )
        return raw
    if len(seg) != n_out:
        raise ValueError(
            f"uncompressed segment {i} is {len(seg)}B, needs {n_out}"
        )
    return seg


def _tiff_rows_to_samples(raw, n_rows, w_seg, spp, bits, e):
    """(n_rows × byte-aligned-row) bytes → (n_rows, w_seg, spp)
    sample array (MSB-first sub-byte unpacking, file-endian 16-bit)."""
    import numpy as np

    stride = (w_seg * spp * bits + 7) // 8
    if bits == 8:
        return np.frombuffer(raw, dtype="uint8").reshape(
            n_rows, w_seg, spp
        )
    if bits == 16:
        return np.frombuffer(raw, dtype=e + "u2").reshape(
            n_rows, w_seg, spp
        ).astype("uint16")
    per_row = np.frombuffer(raw, dtype="uint8").reshape(n_rows, stride)
    bits_arr = np.unpackbits(per_row, axis=1)[:, : w_seg * spp]
    return bits_arr.reshape(n_rows, w_seg, spp)


def decode_tiff_pixels(payload: bytes):
    """Decode the FIRST page to ``(h, w, c, ndarray)`` (c = 1 or 3;
    uint16 output for 16-bit samples, uint8 otherwise — 1-bit
    bilevel yields raw 0/1 values).

    r17 widened scope: strip- AND tile-organized files, compression
    1 / LZW / Deflate (8 and legacy 32946) / PackBits, predictor 2
    undifferencing at 8/16-bit, sample depths 1 (bilevel scans) /
    8 / 16, photometric 0 inverted to black-is-zero over the full
    sample range. r18: CCITT fax strips (compression 2/3/4 — MH,
    T.4 G3 1-D/2-D per T4Options, T.6 G4) decode for real through
    operators/ccitt.py. The typed refusal left: JPEG-in-TIFF."""
    import numpy as np

    for e, tags in _walk_ifds(payload):
        break
    else:
        raise ValueError("TIFF has no IFDs")
    w = _tag1(tags, 256)
    h = _tag1(tags, 257)
    if w is None or h is None:
        raise ValueError("TIFF IFD lacks width/height")
    spp = int(_tag1(tags, 277, 1))
    bits_list = tags.get(258, (3, 1, [8]))[2] or [8]
    bits = int(bits_list[0])
    if any(b != bits for b in bits_list):
        raise NotImplementedError(
            f"mixed per-channel bit depths {bits_list}"
        )
    if spp not in (1, 3) or bits not in (1, 8, 16):
        raise NotImplementedError(
            f"{bits_list}-bit x{spp} TIFF unsupported "
            "(1/8/16-bit gray, 8/16-bit RGB)"
        )
    comp = int(_tag1(tags, 259, 1))
    ccitt = comp in (2, 3, 4)
    t4_2d = False
    if ccitt:
        # r18: real CCITT decode (operators/ccitt.py, ITU-T T.4/T.6)
        if bits != 1 or spp != 1:
            raise ValueError(
                f"CCITT TIFF must be 1-bit bilevel, got {bits}x{spp}"
            )
        t4opts = int(_tag1(tags, 292, 0))
        t6opts = int(_tag1(tags, 293, 0))
        if comp == 3 and t4opts & 2:
            raise NotImplementedError(
                "T.4 uncompressed mode (T4Options bit 1)"
            )
        if comp == 4 and t6opts & 2:
            raise NotImplementedError(
                "T.6 uncompressed mode (T6Options bit 1)"
            )
        t4_2d = comp == 3 and bool(t4opts & 1)
        fill_order = int(_tag1(tags, 266, 1))
        if fill_order not in (1, 2):
            raise ValueError(f"TIFF FillOrder {fill_order} is illegal")
    jpeg = comp in (6, 7)
    if jpeg and bits != 8:
        raise NotImplementedError(f"{bits}-bit JPEG-in-TIFF")
    if comp not in (1, 2, 3, 4, 5, 6, 7, 8, 32946, 32773):
        raise NotImplementedError(f"TIFF compression {comp}")
    photometric = int(_tag1(tags, 262, 1))
    if photometric not in (0, 1, 2) and not (
        jpeg and photometric == 6
    ):
        raise NotImplementedError(
            f"TIFF photometric {photometric} unsupported"
        )
    predictor = int(_tag1(tags, 317, 1))
    if predictor not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {predictor}")
    if predictor == 2 and bits == 1:
        raise ValueError("predictor 2 on 1-bit samples is spec-illegal")

    tiled = 322 in tags or 323 in tags or 324 in tags or 325 in tags
    if ccitt and tiled:
        raise NotImplementedError("tiled CCITT TIFF")
    if jpeg:
        # r18: JPEG-in-TIFF decodes through operators/jpeg.py —
        # old-style (6) via the JPEGInterchangeFormat stream,
        # new-style (7) per Tech Note 2: each strip an abbreviated
        # stream completed by the shared JPEGTables (347) DQT/DHT
        if tiled:
            raise NotImplementedError("tiled JPEG-in-TIFF")
        from mongo2pq_spark.operators.jpeg import decode_jpeg_pixels

        if comp == 6:
            off = _tag1(tags, 513)
            cnt = _tag1(tags, 514)
            if off is None or cnt is None:
                raise NotImplementedError(
                    "old-style JPEG-in-TIFF without "
                    "JPEGInterchangeFormat (513/514)"
                )
            stream = payload[off:off + cnt]
            if len(stream) < cnt:
                raise ValueError("JPEGInterchangeFormat beyond payload")
            jh, jw, jc, arr = decode_jpeg_pixels(stream)
            if (jh, jw) != (h, w) or jc != spp:
                raise ValueError(
                    f"JPEG stream is {jh}x{jw}x{jc}, IFD says "
                    f"{h}x{w}x{spp}"
                )
            return h, w, spp, arr
        tables = tags.get(347, (7, 0, b""))[2] or b""
        if tables and (
            tables[:2] != b"\xff\xd8" or tables[-2:] != b"\xff\xd9"
        ):
            raise ValueError("JPEGTables is not an SOI…EOI stream")
        rps = int(_tag1(tags, 278, h))
        offsets = tags.get(273, (4, 0, []))[2] or []
        counts = tags.get(279, (4, 0, []))[2] or []
        if not offsets or len(offsets) != len(counts):
            raise ValueError(
                "TIFF strip offsets/counts missing/mismatched"
            )
        if len(offsets) != -(-h // rps):
            raise ValueError(
                f"TIFF declares {len(offsets)} strips for {-(-h // rps)}"
            )
        parts = []
        for i, (off, cnt) in enumerate(zip(offsets, counts)):
            seg = payload[off:off + cnt]
            if len(seg) < cnt:
                raise ValueError(f"TIFF strip {i} beyond payload")
            if seg[:2] != b"\xff\xd8":
                raise ValueError(f"JPEG strip {i} lacks SOI")
            if tables:
                seg = b"\xff\xd8" + tables[2:-2] + seg[2:]
            n_rows = min(rps, h - i * rps)
            jh, jw, jc, arr = decode_jpeg_pixels(seg)
            if jw != w or jc != spp or jh < n_rows:
                raise ValueError(
                    f"JPEG strip {i} is {jh}x{jw}x{jc}, expected "
                    f">={n_rows}x{w}x{spp}"
                )
            parts.append(arr[:n_rows])
        out = np.concatenate(parts, axis=0)
        if photometric == 0:
            out = (255 - out.astype(np.int64)).astype("uint8")
        return h, w, spp, out
    dtype = "uint16" if bits == 16 else "uint8"
    if tiled:
        tw = _tag1(tags, 322)
        th = _tag1(tags, 323)
        offsets = tags.get(324, (4, 0, []))[2] or []
        counts = tags.get(325, (4, 0, []))[2] or []
        if tw is None or th is None or not offsets:
            raise ValueError("tiled TIFF lacks tile geometry/offsets")
        if len(offsets) != len(counts):
            raise ValueError("TIFF tile offsets/counts mismatched")
        across = -(-w // tw)
        down = -(-h // th)
        if len(offsets) != across * down:
            raise ValueError(
                f"TIFF declares {len(offsets)} tiles for {across * down}"
            )
        arr = np.zeros((h, w, spp), dtype=dtype)
        stride = (tw * spp * bits + 7) // 8
        for i, (off, cnt) in enumerate(zip(offsets, counts)):
            seg = payload[off:off + cnt]
            if len(seg) < cnt:
                raise ValueError(f"TIFF tile {i} beyond payload")
            raw = _tiff_decode_segment(seg, comp, th * stride, i)
            block = _tiff_rows_to_samples(raw, th, tw, spp, bits, e)
            if predictor == 2:
                block = (
                    np.cumsum(block.astype(np.int64), axis=1)
                    & ((1 << bits) - 1)
                ).astype(dtype)
            y0 = (i // across) * th
            x0 = (i % across) * tw
            ny = min(th, h - y0)
            nx = min(tw, w - x0)
            arr[y0:y0 + ny, x0:x0 + nx] = block[:ny, :nx]
    else:
        rps = int(_tag1(tags, 278, h))
        offsets = tags.get(273, (4, 0, []))[2] or []
        counts = tags.get(279, (4, 0, []))[2] or []
        if not offsets or len(offsets) != len(counts):
            raise ValueError(
                "TIFF strip offsets/counts missing/mismatched"
            )
        expect_strips = -(-h // rps)
        if len(offsets) != expect_strips:
            raise ValueError(
                f"TIFF declares {len(offsets)} strips for {expect_strips}"
            )
        stride = (w * spp * bits + 7) // 8
        parts = []
        for i, (off, cnt) in enumerate(zip(offsets, counts)):
            seg = payload[off:off + cnt]
            if len(seg) < cnt:
                raise ValueError(f"TIFF strip {i} beyond payload")
            n_rows = min(rps, h - i * rps)
            if ccitt:
                from mongo2pq_spark.operators.ccitt import (
                    ccitt_decode,
                    reverse_fill_order,
                )

                if fill_order == 2:
                    # r18: LSB-first fax payloads (FillOrder 2 —
                    # common in real fax TIFFs) bit-reverse per byte
                    # into the MSB-first stream the coder speaks
                    seg = reverse_fill_order(seg)
                raw = ccitt_decode(seg, w, n_rows, comp, t4_2d)
            else:
                raw = _tiff_decode_segment(
                    seg, comp, n_rows * stride, i
                )
            parts.append(
                _tiff_rows_to_samples(raw, n_rows, w, spp, bits, e)
            )
        arr = np.concatenate(parts, axis=0).astype(dtype)
        if predictor == 2:
            arr = (
                np.cumsum(arr.astype(np.int64), axis=1)
                & ((1 << bits) - 1)
            ).astype(dtype)
    if ccitt and photometric == 1:
        # T.4/T.6 runs are white/black, decoded as white=0/black=1
        # (the photometric-0 raw convention); min-is-black files
        # store white as 1, so flip before the generic normalization
        arr = (1 - arr.astype(np.int64)).astype(dtype)
    if photometric == 0:  # white-is-zero → invert over the full range
        maxval = (1 << bits) - 1
        arr = (maxval - arr.astype(np.int64)).astype(dtype)
    return h, w, spp, arr


TIFF_META_SCHEMA = (
    "doc_id bigint, endian string, width int, height int, "
    "bits_per_sample int, samples_per_pixel int, compression int, "
    "n_pages int"
)


def tiff_metadata(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow-batched TIFF triage — map-only, the metadata-walk scale
    shape shared by GIF/MP3/MP4/PDF/FLAC."""
    from mongo2pq_spark.deploy import ensure_shipped

    ensure_shipped(df.sparkSession)

    def parse_batches(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                m = parse_tiff_metadata(bytes(payload))
                m["doc_id"] = doc_id
                rows.append(m)
            yield pd.DataFrame(rows)

    return df.mapInPandas(parse_batches, TIFF_META_SCHEMA)


def tiff_pixel_stats(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow-batched REAL TIFF pixel decode via the shared
    ``pixel_stats_with`` harness."""
    from mongo2pq_spark.operators.multimodal import pixel_stats_with

    return pixel_stats_with(decode_tiff_pixels, df, id_col, payload_col)
