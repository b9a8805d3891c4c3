"""Pure-Python/numpy FLAC codec: lossless encode AND decode of the
audio-frame layer (rice-coded residuals, CONSTANT/VERBATIM/FIXED/LPC
subframes, all four channel assignments, wasted bits, escape
partitions, CRC-8/CRC-16, STREAMINFO raw-PCM md5) — retiring the
audio FRAME-decode stub for lossless compressed corpora (VERDICT r15
#7; ``operators/audio.py`` previously parsed STREAMINFO only).

Reference parity: the reference pipeline treats media as opaque
binary columns; this engine's multimodal extension decodes them on
executors (SURVEY.md §2 extension scope). Everything here is from
the public FLAC format specification (RFC 9639); no codec library is
required — the container deliberately ships none.

Scale shape: the codec is driver-free — ``flac_pcm_stats`` runs it
inside Arrow-batched ``mapInPandas``, the same map-only contract as
the WAV/PNG/MP3 codecs, so a 100 TB lossless-audio corpus decodes
embarrassingly parallel with no shuffle. The Python bit-loop cost is
per-byte CPU on the executor, exactly where a real deployment swaps
in a native codec behind the same column contract.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

from mongo2pq_spark.operators.bitio import BitReader, BitWriter

FLAC_MAGIC = b"fLaC"

# fixed-predictor coefficient table, order 0..4 (the spec's closed
# polynomial predictors)
_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _make_crc8_table() -> list[int]:
    table = []
    for byte in range(256):
        crc = byte
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
        table.append(crc)
    return table


def _make_crc16_table() -> list[int]:
    table = []
    for byte in range(256):
        crc = byte << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
        table.append(crc)
    return table


#: table-driven CRCs (r19, guide §4.2 — the per-bit inner loops were
#: ~10% of a frame decode in profiling); same polynomials (0x07,
#: 0x8005), bit-identical values by construction — the tables are the
#: unrolled per-byte step of the former loops
_CRC8_TABLE = _make_crc8_table()
_CRC16_TABLE = _make_crc16_table()


def _crc8(data: bytes) -> int:
    crc = 0
    table = _CRC8_TABLE
    for b in data:
        crc = table[crc ^ b]
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    table = _CRC16_TABLE
    for b in data:
        crc = ((crc << 8) & 0xFFFF) ^ table[(crc >> 8) ^ b]
    return crc


def _utf8_code(bw: BitWriter, value: int) -> None:
    """The frame header's UTF-8-style variable-length number."""
    if value < 0x80:
        bw.write(value, 8)
        return
    for nbytes in range(2, 8):
        if value < 1 << (nbytes * 5 + 1 if nbytes < 7 else 36):
            break
    payload_bits = 6 * (nbytes - 1)
    lead = ((0xFF << (8 - nbytes)) & 0xFF) | (value >> payload_bits)
    bw.write(lead, 8)
    for k in range(nbytes - 2, -1, -1):
        bw.write(0x80 | ((value >> (6 * k)) & 0x3F), 8)


def _utf8_decode(br: BitReader) -> int:
    lead = br.read(8)
    if lead < 0x80:
        return lead
    nbytes = 0
    mask = 0x80
    while lead & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        raise ValueError("bad UTF-8-coded frame number")
    value = lead & (0x7F >> nbytes)
    for _ in range(nbytes - 1):
        cont = br.read(8)
        if cont & 0xC0 != 0x80:
            raise ValueError("bad UTF-8 continuation in frame number")
        value = (value << 6) | (cont & 0x3F)
    return value


def _pack_pcm(samples, bps: int) -> bytes:
    """Interleaved little-endian signed PCM — the byte stream the
    STREAMINFO md5 is defined over. 24-bit packs via the int32 view
    (numpy has no 3-byte dtype)."""
    import numpy as np

    nbytes = bps // 8
    if nbytes in (1, 2, 4):
        return samples.astype(f"<i{nbytes}").tobytes()
    b = samples.astype("<i4").tobytes()
    arr = np.frombuffer(b, dtype=np.uint8).reshape(-1, 4)
    return arr[:, :3].tobytes()


def _zigzag(res):
    import numpy as np

    r = np.asarray(res, dtype=np.int64)
    return np.where(r >= 0, r << 1, (-r << 1) - 1)


def _rice_cost(zz, param: int) -> int:
    return int((zz >> param).sum()) + len(zz) * (param + 1)


def _best_rice_param(zz, max_param: int = 14) -> int:
    best_p, best_c = 0, None
    for p in range(max_param + 1):
        c = _rice_cost(zz, p)
        if best_c is None or c < best_c:
            best_p, best_c = p, c
    return best_p


def _write_residuals(bw: BitWriter, res, block_size: int, order: int) -> None:
    """Residual coding: rice method 0, best partition order among the
    divisible ones, per-partition best parameter with the ESCAPE
    (raw verbatim bits) chosen whenever it is cheaper — the full
    coding surface the decoder must handle."""
    import numpy as np

    zz_all = _zigzag(res)
    best = None
    for po in range(0, 7):
        nparts = 1 << po
        if block_size % nparts or (block_size >> po) <= order:
            if po == 0:
                pass
            else:
                break
        plan, cost = [], 2 + 4
        off = 0
        ok = True
        for p in range(nparts):
            n = (block_size >> po) - (order if p == 0 else 0)
            if n <= 0:
                ok = False
                break
            zz = zz_all[off:off + n]
            off += n
            param = _best_rice_param(zz)
            rc = _rice_cost(zz, param)
            raw_bits = int(max(zz.max(), 1)).bit_length() + 1 if len(zz) else 1
            ec = 5 + raw_bits * n
            # the escape header's width field is 5 bits, so raw_bits
            # > 31 cannot be declared — writing it would silently
            # mask to the low 5 bits and corrupt the stream (ADVICE
            # r16). Rice coding has no such cap, so the escape
            # candidate is simply excluded for such partitions.
            if raw_bits <= 31 and ec < rc:
                plan.append(("esc", raw_bits, zz))
                cost += 4 + ec
            else:
                plan.append(("rice", param, zz))
                cost += 4 + rc
        if not ok:
            continue
        if best is None or cost < best[0]:
            best = (cost, po, plan)
    cost, po, plan = best
    bw.write(0, 2)  # method: 4-bit rice
    bw.write(po, 4)
    for kind, arg, zz in plan:
        if kind == "esc":
            bw.write(0xF, 4)  # escape param
            bw.write(arg, 5)
            r = np.where(zz & 1, -((zz + 1) >> 1), zz >> 1)
            for v in r:
                bw.write_signed(int(v), arg)
        else:
            bw.write(arg, 4)
            for v in zz:
                v = int(v)
                bw.write_unary(v >> arg)
                bw.write(v, arg)


def _read_residuals(br: BitReader, block_size: int, order: int):
    import numpy as np

    method = br.read(2)
    if method > 1:
        raise ValueError("reserved residual coding method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    po = br.read(4)
    out = np.empty(block_size - order, dtype=np.int64)
    idx = 0
    for p in range(1 << po):
        n = (block_size >> po) - (order if p == 0 else 0)
        if n < 0 or (block_size >> po) == 0:
            raise ValueError("bad partition order")
        param = br.read(pbits)
        if param == escape:
            raw = br.read(5)
            for i in range(n):
                out[idx + i] = br.read_signed(raw)
        else:
            for i in range(n):
                q = br.read_unary()
                r = br.read(param) if param else 0
                v = (q << param) | r
                out[idx + i] = -((v + 1) >> 1) if v & 1 else v >> 1
        idx += n
    return out


def _fixed_residual(samples, order: int):
    import numpy as np

    a = np.asarray(samples, dtype=np.int64)
    for _ in range(order):
        a = np.diff(a)
    return a


def _lpc_coefs(samples, order: int, precision: int = 12):
    """Levinson-Durbin on the autocorrelation, then uniform
    quantization — the standard public LPC recipe. Returns
    (qcoefs, shift) or None when the signal is degenerate."""
    import numpy as np

    x = np.asarray(samples, dtype=np.float64)
    n = len(x)
    if n <= order:
        return None
    auto = np.array(
        [np.dot(x[: n - k], x[k:]) for k in range(order + 1)]
    )
    if auto[0] == 0:
        return None
    err = auto[0]
    coefs = np.zeros(order)
    for i in range(order):
        acc = auto[i + 1] - np.dot(coefs[:i], auto[i:0:-1][:i])
        k = acc / err
        coefs[i] = k
        coefs[:i] = coefs[:i] - k * coefs[:i][::-1]
        err *= 1 - k * k
        if err <= 0:
            return None
    cmax = np.abs(coefs).max()
    if cmax == 0 or not np.isfinite(cmax):
        return None
    shift = precision - 1 - int(np.floor(np.log2(cmax))) - 1
    shift = max(1, min(15, shift))
    q = np.round(coefs * (1 << shift)).astype(np.int64)
    lim = 1 << (precision - 1)
    q = np.clip(q, -lim, lim - 1)
    if not q.any():
        return None
    return q, shift


def _lpc_residual(samples, q, shift: int):
    import numpy as np

    a = np.asarray(samples, dtype=np.int64)
    order = len(q)
    n = len(a)
    pred = np.zeros(n - order, dtype=np.int64)
    for j in range(order):
        pred += q[j] * a[order - 1 - j : n - 1 - j]
    return a[order:] - (pred >> shift)


def _subframe_cost_fixed(samples, order: int) -> int:
    zz = _zigzag(_fixed_residual(samples, order))
    return len(zz) and _rice_cost(zz, _best_rice_param(zz))


def _write_subframe(bw: BitWriter, samples, bps: int) -> None:
    """Best-of CONSTANT / FIXED(0..4) / LPC(8) subframe, with wasted-
    bits detection (common trailing zeros shift out, the spec's
    headroom trick) — every subframe type the decoder handles is
    producible, so the roundtrip oracle exercises them all."""
    import numpy as np

    a = np.asarray(samples, dtype=np.int64)
    n = len(a)
    if n and (a == a[0]).all():
        bw.write(0, 1)
        bw.write(0, 6)  # CONSTANT
        bw.write(0, 1)  # no wasted bits
        bw.write_signed(int(a[0]), bps)
        return
    wasted = 0
    if a.any():
        trailing = min(
            int(v & -v).bit_length() - 1 for v in a if v != 0
        )
        wasted = max(0, min(trailing, bps - 2))
    eff_bps = bps - wasted
    aw = a >> wasted

    candidates = []
    max_fixed = min(4, n - 1) if n > 1 else 0
    for order in range(0, max_fixed + 1):
        res = _fixed_residual(aw, order)
        zz = _zigzag(res)
        cost = order * eff_bps + (
            _rice_cost(zz, _best_rice_param(zz)) if len(zz) else 0
        )
        candidates.append((cost, "fixed", order, None))
    lpc_order = 8
    if n > lpc_order * 2:
        lp = _lpc_coefs(aw, lpc_order)
        if lp is not None:
            q, shift = lp
            res = _lpc_residual(aw, q, shift)
            zz = _zigzag(res)
            cost = (
                lpc_order * eff_bps
                + 4
                + 5
                + lpc_order * 12
                + _rice_cost(zz, _best_rice_param(zz))
            )
            candidates.append((cost, "lpc", lpc_order, (q, shift)))
    candidates.append((n * eff_bps, "verbatim", 0, None))
    _, kind, order, extra = min(candidates, key=lambda c: c[0])

    bw.write(0, 1)
    if kind == "verbatim":
        bw.write(1, 6)
    elif kind == "fixed":
        bw.write(0b001000 | order, 6)
    else:
        bw.write(0b100000 | (order - 1), 6)
    if wasted:
        bw.write(1, 1)
        bw.write_unary(wasted - 1)
    else:
        bw.write(0, 1)

    if kind == "verbatim":
        for v in aw:
            bw.write_signed(int(v), eff_bps)
        return
    for v in aw[:order]:
        bw.write_signed(int(v), eff_bps)
    if kind == "fixed":
        res = _fixed_residual(aw, order)
    else:
        q, shift = extra
        bw.write(12 - 1, 4)  # precision-1
        bw.write(shift, 5)
        for c in q:
            bw.write_signed(int(c), 12)
        res = _lpc_residual(aw, q, shift)
    _write_residuals(bw, res, n, order)


def _read_subframe(br: BitReader, block_size: int, bps: int):
    import numpy as np

    if br.read(1):
        raise ValueError("subframe header padding bit set")
    stype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = br.read_unary() + 1
    eff_bps = bps - wasted
    if stype == 0:  # CONSTANT
        v = br.read_signed(eff_bps)
        out = np.full(block_size, v, dtype=np.int64)
    elif stype == 1:  # VERBATIM
        out = np.array(
            [br.read_signed(eff_bps) for _ in range(block_size)],
            dtype=np.int64,
        )
    elif 8 <= stype <= 12:  # FIXED
        order = stype - 8
        warm = [br.read_signed(eff_bps) for _ in range(order)]
        res = _read_residuals(br, block_size, order)
        out = np.empty(block_size, dtype=np.int64)
        out[:order] = warm
        coefs = _FIXED_COEFS[order]
        for i in range(order, block_size):
            pred = 0
            for j, c in enumerate(coefs):
                pred += c * out[i - 1 - j]
            out[i] = res[i - order] + pred
    elif stype >= 32:  # LPC
        order = (stype & 0x1F) + 1
        warm = [br.read_signed(eff_bps) for _ in range(order)]
        prec = br.read(4) + 1
        if prec == 16:
            raise ValueError("invalid LPC precision escape")
        shift = br.read_signed(5)
        if shift < 0:
            raise ValueError("negative LPC shift is reserved")
        coefs = [br.read_signed(prec) for _ in range(order)]
        res = _read_residuals(br, block_size, order)
        out = np.empty(block_size, dtype=np.int64)
        out[:order] = warm
        try:
            for i in range(order, block_size):
                pred = 0
                for j in range(order):
                    pred += coefs[j] * int(out[i - 1 - j])
                out[i] = res[i - order] + (pred >> shift)
        except OverflowError as exc:  # corrupt coefficients diverge
            raise ValueError("LPC prediction overflows int64") from exc
    else:
        raise ValueError(f"reserved subframe type {stype}")
    if wasted:
        out = out << wasted
    return out


_BLOCKSIZE_CODES = {
    192: 1, 576: 2, 1152: 3, 2304: 4, 4608: 5,
    256: 8, 512: 9, 1024: 10, 2048: 11, 4096: 12,
    8192: 13, 16384: 14, 32768: 15,
}
_SAMPLE_SIZE_CODES = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}


def encode_flac(
    samples,
    sample_rate: int = 8000,
    bps: int = 16,
    block_size: int = 4096,
    stereo_mode: str = "auto",
) -> bytes:
    """Encode int samples ``(frames, channels)`` (or 1-D mono) to a
    spec-conformant FLAC stream: STREAMINFO (with the raw-PCM md5
    integrity pin) + fixed-blocking frames; per-channel best-of
    CONSTANT/FIXED/LPC subframes with rice/escape partitioned
    residuals; stereo decorrelation per ``stereo_mode`` ('auto',
    'independent', 'left_side', 'right_side', 'mid_side').
    Lossless by construction — the decoder proves it via md5."""
    import numpy as np

    a = np.asarray(samples, dtype=np.int64)
    if a.ndim == 1:
        a = a[:, None]
    frames, channels = a.shape
    if not 1 <= channels <= 8:
        raise ValueError("1-8 channels")
    if bps not in (8, 16, 24, 32):
        # the STREAMINFO md5 is defined over PACKED samples; only
        # whole-byte widths keep the numpy fast path honest
        raise ValueError("bps must be 8/16/24/32")
    if channels != 2 and stereo_mode not in ("auto", "independent"):
        raise ValueError("stereo_mode requires 2 channels")
    lim = 1 << (bps - 1)
    if a.min() < -lim or a.max() >= lim:
        raise ValueError(f"samples out of {bps}-bit range")

    md5_raw = hashlib.md5(_pack_pcm(a, bps)).digest()

    out = bytearray(FLAC_MAGIC)
    body = bytearray()
    bs_min = min(block_size, frames) if frames else block_size
    body += bs_min.to_bytes(2, "big") + block_size.to_bytes(2, "big")
    body += (0).to_bytes(3, "big") * 2
    packed = (
        (sample_rate << 44)
        | ((channels - 1) << 41)
        | ((bps - 1) << 36)
        | frames
    )
    body += packed.to_bytes(8, "big")
    body += md5_raw
    out += bytes([0x80]) + len(body).to_bytes(3, "big") + body

    for fno, start in enumerate(range(0, frames, block_size)):
        blk = a[start:start + block_size]
        out += _encode_frame(
            blk, fno, sample_rate, bps, block_size, stereo_mode
        )
    return bytes(out)


def _encode_frame(blk, fno, sample_rate, bps, nominal_bs, stereo_mode):
    import numpy as np

    n, channels = blk.shape
    mode = stereo_mode
    if channels == 2:
        if mode == "auto":
            left, right = blk[:, 0], blk[:, 1]
            side = left - right
            costs = {
                "independent": _est(left) + _est(right),
                "left_side": _est(left) + _est(side),
                "right_side": _est(side) + _est(right),
                "mid_side": _est((left + right) >> 1) + _est(side),
            }
            mode = min(costs, key=costs.get)
    else:
        mode = "independent"

    bw = BitWriter()
    bw.write(0b11111111111110, 14)
    bw.write(0, 1)  # reserved
    bw.write(0, 1)  # fixed blocking
    bs_code = _BLOCKSIZE_CODES.get(n)
    if bs_code is None:
        bs_code = 6 if n <= 256 else 7
    bw.write(bs_code, 4)
    bw.write(0, 4)  # sample rate: from STREAMINFO
    if mode == "independent":
        bw.write(channels - 1, 4)
    else:
        bw.write(
            {"left_side": 8, "right_side": 9, "mid_side": 10}[mode], 4
        )
    bw.write(_SAMPLE_SIZE_CODES[bps], 3)
    bw.write(0, 1)  # reserved
    _utf8_code(bw, fno)
    if bs_code == 6:
        bw.write(n - 1, 8)
    elif bs_code == 7:
        bw.write(n - 1, 16)
    bw.align(0)
    bw.write(_crc8(bw.getvalue()), 8)

    if mode == "independent":
        chans = [(blk[:, c], bps) for c in range(channels)]
    elif mode == "left_side":
        chans = [(blk[:, 0], bps), (blk[:, 0] - blk[:, 1], bps + 1)]
    elif mode == "right_side":
        chans = [(blk[:, 0] - blk[:, 1], bps + 1), (blk[:, 1], bps)]
    else:  # mid_side
        chans = [
            ((blk[:, 0] + blk[:, 1]) >> 1, bps),
            (blk[:, 0] - blk[:, 1], bps + 1),
        ]
    for ch, ch_bps in chans:
        _write_subframe(bw, ch, ch_bps)
    bw.align(0)
    bw.write(_crc16(bw.getvalue()), 16)
    return bw.getvalue()


def _est(ch) -> int:
    zz = _zigzag(_fixed_residual(ch, min(2, max(0, len(ch) - 1))))
    if not len(zz):
        return 0
    return _rice_cost(zz, _best_rice_param(zz))


def decode_flac(payload: bytes) -> dict:
    """Full FLAC decode: STREAMINFO + every audio frame, verifying
    the frame-header CRC-8, the whole-frame CRC-16, frame sequencing,
    and the STREAMINFO raw-PCM md5 over the decoded output. Returns
    ``{samples (frames, channels) int64 ndarray, sample_rate,
    channels, bps, total_samples, md5_ok}`` — ``md5_ok`` is True /
    False for a set STREAMINFO md5, ``None`` when the producer left
    it unset (all zeros, spec-legal: unverifiable, not corrupt).
    ``ValueError`` on any structural or integrity violation —
    fail-loud like every codec in this repo."""
    import numpy as np

    from mongo2pq_spark.operators.audio import parse_flac_streaminfo

    info = parse_flac_streaminfo(payload)
    # walk the metadata chain to the first audio frame — bounds-
    # checked so a truncated chain (is-last flag never set) surfaces
    # as the documented typed ValueError, not an IndexError escaping
    # a whole mapInPandas stage (ADVICE r16)
    pos = 4
    while True:
        if pos + 4 > len(payload):
            raise ValueError(
                "truncated FLAC metadata chain (no last-block flag "
                "before end of payload)"
            )
        hdr = payload[pos]
        blen = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        pos += 4 + blen
        if hdr & 0x80:
            break
    channels, bps = info["channels"], info["bps"]
    total = info["total_samples"]
    chunks = []
    expect_fno = 0
    got = 0
    while got < total:
        blk, pos, fno = _decode_frame(payload, pos, info)
        if fno != expect_fno:
            raise ValueError(
                f"frame number {fno} != expected {expect_fno}"
            )
        expect_fno += 1
        chunks.append(blk)
        got += blk.shape[0]
    samples = (
        np.concatenate(chunks, axis=0)
        if chunks
        else np.empty((0, channels), dtype=np.int64)
    )
    if samples.shape[0] != total:
        raise ValueError("decoded sample count != STREAMINFO total")
    # an all-zero STREAMINFO md5 is spec-legal "unset" (the encoder
    # didn't compute it) — report None (unverifiable) rather than
    # False, so callers don't reject legal files as corrupt (ADVICE
    # r16); a SET md5 is verified bit-exact as before
    md5_ok = (
        None
        if info["raw_md5"] == "0" * 32
        else hashlib.md5(_pack_pcm(samples, bps)).hexdigest()
        == info["raw_md5"]
    )
    return {
        "samples": samples,
        "sample_rate": info["sample_rate"],
        "channels": channels,
        "bps": bps,
        "total_samples": total,
        "md5_ok": md5_ok,
    }


def _decode_frame(payload: bytes, pos: int, info: dict):
    import numpy as np

    br = BitReader(payload, "FLAC bitstream", pos)
    if br.read(14) != 0b11111111111110:
        raise ValueError("lost frame sync")
    if br.read(1):
        raise ValueError("frame header reserved bit set")
    variable = br.read(1)
    bs_code = br.read(4)
    sr_code = br.read(4)
    ch_code = br.read(4)
    ss_code = br.read(3)
    if br.read(1):
        raise ValueError("frame header reserved bit 2 set")
    fno = _utf8_decode(br)
    if bs_code == 0:
        raise ValueError("reserved block size code")
    elif bs_code == 1:
        block_size = 192
    elif bs_code <= 5:
        block_size = 576 << (bs_code - 2)
    elif bs_code == 6:
        block_size = br.read(8) + 1
    elif bs_code == 7:
        block_size = br.read(16) + 1
    else:
        block_size = 256 << (bs_code - 8)
    if sr_code == 12:
        br.read(8)
    elif sr_code in (13, 14):
        br.read(16)
    elif sr_code == 15:
        raise ValueError("invalid sample rate code")
    br.align()
    hdr_end = br.byte_pos()
    crc8 = br.read(8)
    if _crc8(payload[pos:hdr_end]) != crc8:
        raise ValueError("frame header CRC-8 mismatch")

    bps = info["bps"]
    if ss_code:
        sizes = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}
        if ss_code not in sizes:
            raise ValueError("reserved sample size code")
        if sizes[ss_code] != bps:
            raise ValueError("frame bps != STREAMINFO bps")
    if variable:
        raise ValueError(
            "variable blocking not produced by this encoder"
        )

    if ch_code <= 7:
        channels = ch_code + 1
        subs = [
            _read_subframe(br, block_size, bps) for _ in range(channels)
        ]
        blk = np.stack(subs, axis=1)
    elif ch_code in (8, 9, 10):
        extra0 = 1 if ch_code == 9 else 0
        extra1 = 1 if ch_code in (8, 10) else 0
        s0 = _read_subframe(br, block_size, bps + extra0)
        s1 = _read_subframe(br, block_size, bps + extra1)
        if ch_code == 8:  # left/side
            left, right = s0, s0 - s1
        elif ch_code == 9:  # right/side
            left, right = s0 + s1, s1
        else:  # mid/side
            mid = (s0 << 1) | (s1 & 1)
            left, right = (mid + s1) >> 1, (mid - s1) >> 1
        blk = np.stack([left, right], axis=1)
    else:
        raise ValueError(f"reserved channel assignment {ch_code}")
    if info["channels"] != blk.shape[1]:
        raise ValueError("frame channels != STREAMINFO channels")
    br.align()
    end = br.byte_pos()
    crc16 = br.read(16)
    if _crc16(payload[pos:end]) != crc16:
        raise ValueError("frame CRC-16 mismatch")
    return blk, end + 2, fno


FLAC_PCM_SCHEMA = (
    "doc_id bigint, channels int, sample_rate int, n_frames bigint, "
    "duration_ms bigint, sample_sum bigint, peak_abs int, "
    "md5_ok boolean"
)


def flac_pcm_stats(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow-batched full FLAC decode to corpus-filter scalars —
    map-only, the WAV/PNG/MP3 codecs' scale shape. ``md5_ok`` is the
    in-band losslessness proof: the STREAMINFO md5 was computed by
    the PRODUCER over raw PCM, so a True here certifies this
    decoder's output bit-exact against it."""
    from mongo2pq_spark.deploy import ensure_shipped

    ensure_shipped(df.sparkSession)

    def decode_batches(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                d = decode_flac(bytes(payload))
                s = d["samples"]
                rows.append(
                    {
                        "doc_id": doc_id,
                        "channels": d["channels"],
                        "sample_rate": d["sample_rate"],
                        "n_frames": s.shape[0],
                        "duration_ms": s.shape[0] * 1000
                        // d["sample_rate"],
                        "sample_sum": int(s.sum()),
                        "peak_abs": int(abs(s).max()) if s.size else 0,
                        "md5_ok": d["md5_ok"],
                    }
                )
            yield pd.DataFrame(rows)

    return df.mapInPandas(decode_batches, FLAC_PCM_SCHEMA)
