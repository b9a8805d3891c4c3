"""Property-based tests (hypothesis) for the pure driver-side core:
the unify lattice's algebraic laws and inference total-ness."""

from datetime import datetime, timezone

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mongo2pq_spark.schema.inference import cast_from_string, infer_type
from mongo2pq_spark.schema.unify import unify_types

NOW = datetime(2026, 1, 1, 12, 0, 0)

LATTICE_TYPES = [
    pa.int8(), pa.int16(), pa.int32(), pa.int64(),
    pa.uint8(), pa.uint16(), pa.uint32(), pa.uint64(),
    pa.float16(), pa.float32(), pa.float64(),
    pa.date32(), pa.date64(), pa.timestamp("s"), pa.timestamp("ms"),
    pa.bool_(), pa.string(), pa.binary(),
]

types = st.sampled_from(LATTICE_TYPES)


@given(t=types)
def test_unify_idempotent(t):
    assert unify_types(t, t).equals(t)


@given(t1=types, t2=types)
def test_unify_commutative(t1, t2):
    assert unify_types(t1, t2).equals(unify_types(t2, t1))


@given(t1=types, t2=types)
def test_unify_closed_over_lattice(t1, t2):
    result = unify_types(t1, t2)
    assert any(result.equals(t) for t in LATTICE_TYPES)


@given(t1=types, t2=types, t3=types)
@settings(max_examples=300)
def test_unify_associative_within_numeric(t1, t2, t3):
    """Within the numeric families the fold IS associative (widest
    wins, int⊔float→float)."""
    numeric = [
        pa.int8(), pa.int16(), pa.int32(), pa.int64(),
        pa.float16(), pa.float32(), pa.float64(),
    ]
    if not all(any(t.equals(n) for n in numeric) for t in (t1, t2, t3)):
        return
    left = unify_types(unify_types(t1, t2), t3)
    right = unify_types(t1, unify_types(t2, t3))
    assert left.equals(right)


def test_unify_is_not_associative_on_mixed_temporal_numeric():
    """Documented quirk (same as the reference's resolver): merge order
    matters when temporal and numeric types mix —
    (ts ⊔ date32) ⊔ int32 = string, but ts ⊔ (date32 ⊔ int32) = int32.
    Sample-order-dependent schemas are inherent to this ruleset; the
    engine mitigates by folding in deterministic row order."""
    ts, d32, i32 = pa.timestamp("s"), pa.date32(), pa.int32()
    left = unify_types(unify_types(ts, d32), i32)
    right = unify_types(ts, unify_types(d32, i32))
    assert left.equals(pa.string())
    assert right.equals(pa.int32())


@given(
    value=st.one_of(
        st.integers(min_value=-(2**100), max_value=2**100),
        st.floats(allow_nan=False),
        st.text(max_size=40),
        st.binary(max_size=20),
        st.booleans(),
        st.datetimes(),
        st.none(),
    )
)
@settings(max_examples=500)
def test_infer_type_total_and_closed(value):
    """infer_type never raises on scalars and always lands in the
    lattice type set."""
    result = infer_type(value, "f", now=NOW)
    assert any(result.equals(t) for t in LATTICE_TYPES)


@given(text=st.text(max_size=60))
@settings(max_examples=500)
def test_cast_from_string_total(text):
    result = cast_from_string(text)
    assert isinstance(result, (bool, int, float, str, datetime))


@given(n=st.integers(min_value=-(2**62), max_value=2**62))
def test_int_inference_width_consistent(n):
    t = infer_type(n, "f", now=NOW)
    if t.equals(pa.int32()):
        assert -(2**31) <= n <= 2**31 - 1
    elif t.equals(pa.int64()):
        assert abs(n) < 2**63
    # timestamp[s] allowed inside the epoch window


# -- mongodump decode surface -------------------------------------------

json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**53), max_value=2**53),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=20),
)

nested_docs = st.recursive(
    json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(
            st.text(min_size=1, max_size=8).filter(lambda k: "$" not in k),
            children,
            max_size=4,
        ),
    ),
    max_leaves=20,
)

docs = st.dictionaries(
    st.text(min_size=1, max_size=8).filter(lambda k: "$" not in k),
    nested_docs,
    max_size=6,
)


def _peek_decode(doc: dict, flatten: bool) -> dict:
    """A document through the peek's per-line decode."""
    import json

    from mongo2pq_spark.sources.mongodump import _decode_raw, _unwrap_doc

    return _unwrap_doc(_decode_raw(json.dumps(doc), flatten)[0])


@given(doc=docs)
def test_flatten_doc_removes_all_dicts_and_is_idempotent(doc):
    flat = _peek_decode(doc, True)
    assert all(not isinstance(v, dict) for v in flat.values())
    assert _peek_decode(flat, True) == flat  # idempotent
    # no leaf is lost unless shadowed by a dotted-key collision
    def leaves(d, prefix=""):
        n = 0
        for k, v in d.items():
            if isinstance(v, dict):
                n += leaves(v, prefix + k + ".")
            else:
                n += 1
        return n

    assert len(flat) <= leaves(doc)


@given(doc=docs)
def test_unwrap_extended_json_total_on_wrapper_free_docs(doc):
    """Documents without $-wrappers pass through unwrap unchanged."""
    from mongo2pq_spark.sources.mongodump import unwrap_extended_json

    assert unwrap_extended_json(doc) == doc


@given(line=st.text(max_size=60), flatten=st.booleans())
def test_decode_line_never_raises_outside_decode_errors(line, flatten):
    """The permissive contract of the peek: ANY input line either
    decodes or raises one of _DECODE_ERRORS — nothing else can escape,
    so permissive mode can never crash on a corrupt line."""
    from mongo2pq_spark.sources.mongodump import (
        _DECODE_ERRORS,
        _decode_raw,
        _unwrap_doc,
    )

    try:
        out = _unwrap_doc(_decode_raw(line, flatten)[0])
        assert isinstance(out, dict)
    except _DECODE_ERRORS:
        pass


#: the most read tasks one example of the split property may plan
MAX_SPLITS = 64


@settings(max_examples=15, deadline=None)
@given(
    pads=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=60),
    data=st.data(),
)
def test_split_read_partition_protocol_is_exact(spark, tmp_path_factory, pads, data):
    """PROPERTY: for any file of variable-length JSON lines and any
    split size, the byte-range split read of ``read_mongodump`` equals
    the unsplit read — no line lost, none duplicated, regardless of
    where boundaries fall (mid-line, on a newline, at a line start).
    The split size is bounded below by the file size over
    ``MAX_SPLITS``, so no example plans more tasks than that."""
    import json as jsonlib

    from mongo2pq_spark.sources.mongodump import read_mongodump

    d = tmp_path_factory.mktemp("splitfuzz")
    path = d / "f.jsonl"
    lines = [jsonlib.dumps({"n": i, "p": "x" * pad}) for i, pad in enumerate(pads)]
    path.write_text("\n".join(lines) + "\n")
    size = path.stat().st_size
    split_size = data.draw(
        st.integers(min_value=-(-size // MAX_SPLITS), max_value=size), "split_size"
    )

    def read_all(k):
        df = read_mongodump(spark, str(path), split_size=k)
        return sorted(r["n"] for r in df.collect())

    whole = read_all(0)
    assert whole == list(range(len(pads)))
    assert read_all(split_size) == whole


@given(
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    c=st.sampled_from([1, 3]),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_roundtrip_tolerance_property(h, w, c, seed):
    """Baseline-JPEG property: ANY uint8 image (odd sizes, all channel
    modes) round-trips through the all-ones-quantization codec within
    the documented tolerance — ≤2 grayscale (quantization rounding
    composed through the IDCT), ≤3 RGB (plus the YCbCr matrix) — with
    exact shape recovery."""
    import numpy as np

    from mongo2pq_spark.operators.jpeg import decode_jpeg_pixels, encode_jpeg

    rng = np.random.RandomState(seed)
    shape = (h, w) if c == 1 else (h, w, c)
    img = rng.randint(0, 256, shape, dtype="uint8")
    hh, ww, cc, out = decode_jpeg_pixels(encode_jpeg(img))
    assert (hh, ww, cc) == (h, w, c)
    flat_in = img.reshape(h, w, c).astype(int)
    assert np.abs(out.astype(int) - flat_in).max() <= (2 if c == 1 else 3)


@given(
    n=st.integers(1, 200),
    ch=st.integers(1, 3),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_wav_roundtrip_exact_property(n, ch, rate, seed):
    """PCM WAV property: ANY int16 frame matrix round-trips exactly
    (PCM is lossless by construction; this pins the interleaving and
    chunk arithmetic for every shape)."""
    import numpy as np

    from mongo2pq_spark.operators.audio import decode_wav_samples, encode_wav

    rng = np.random.RandomState(seed)
    frames = rng.randint(-32768, 32768, (n, ch)).astype("int16")
    n_ch, r, arr = decode_wav_samples(encode_wav(frames, rate))
    assert (n_ch, r) == (ch, rate)
    assert np.array_equal(arr, frames.astype("int32"))


@given(
    dur=st.integers(0, 10**7),
    w=st.integers(0, 8192),
    hgt=st.integers(0, 8192),
    n_audio=st.integers(0, 4),
    ts=st.sampled_from([600, 1000, 90000]),
)
@settings(max_examples=40, deadline=None)
def test_mp4_metadata_roundtrip_property(dur, w, hgt, n_audio, ts):
    """ISO-BMFF property: build→parse recovers brand, track layout,
    dimensions, and duration (up to the timescale's ms granularity)."""
    from mongo2pq_spark.operators.video import (
        build_mp4_stub,
        parse_mp4_metadata,
    )

    m = parse_mp4_metadata(
        build_mp4_stub(dur, w, hgt, n_audio_tracks=n_audio, timescale=ts)
    )
    assert m["brand"] == "isom"
    assert m["n_tracks"] == 1 + n_audio
    assert m["n_video_tracks"] == 1 and m["n_audio_tracks"] == n_audio
    assert (m["video_width"], m["video_height"]) == (w, hgt)
    # duration survives the unit conversion within its granularity:
    # ms→units→ms floors twice, losing < 1000/ts ms + 1 ms, never gains
    assert 0 <= dur - m["duration_ms"] < 1000 / ts + 1


@given(
    batches=st.lists(st.integers(1, 9), min_size=1, max_size=8),
    crash_at=st.integers(0, 7),
)
@settings(max_examples=40, deadline=None)
def test_run_log_offsets_property(tmp_path_factory, batches, crash_at):
    """RunLog property: for ANY increment history with one crash-resume
    anywhere in it, offsets equal the prefix sums of completed batch
    counts and the crashed run resumes with its original parameters."""
    from mongo2pq_spark.plans.bandstore_core import RunLog

    log = RunLog(tmp_path_factory.mktemp("runlog") / "runs")
    expected_offset = 0
    for i, nb in enumerate(batches):
        rid, off, got_nb = log.begin_numbered(nb, f"/inc/{i}")
        assert off == expected_offset and got_nb == nb
        if i == crash_at % len(batches):
            # crash: a retry with the same path resumes identically,
            # ignoring a different requested batch count
            assert log.begin_numbered(nb + 3, f"/inc/{i}") == (rid, off, nb)
        log.mark_done(rid)
        expected_offset += nb


@given(
    h=st.integers(1, 16),
    w=st.integers(1, 16),
    c=st.sampled_from([1, 2, 3, 4]),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_exact_property(h, w, c, seed):
    """PNG property: ANY uint8 image, every supported channel count,
    round-trips BIT-EXACTLY (PNG is lossless; this pins the scanline
    serialization and IHDR color-type mapping for every shape)."""
    import numpy as np

    from mongo2pq_spark.operators.multimodal import (
        decode_png_pixels,
        encode_png,
    )

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, (h, w, c), dtype="uint8")
    hh, ww, cc, out = decode_png_pixels(encode_png(img))
    assert (hh, ww, cc) == (h, w, c)
    assert np.array_equal(out, img)


@given(st.text(max_size=200))
@settings(max_examples=200, deadline=None)
def test_bpe_pretokenize_is_lossless(text):
    """Concatenating the pre-tokenizer's runs must reproduce any
    input exactly — the foundation of the BPE round-trip oracle."""
    from mongo2pq_spark.operators.bpe import pretokenize

    parts = pretokenize(text)
    assert "".join(parts) == text
    assert all(parts)  # no empty runs


@given(st.binary(max_size=40), st.integers(min_value=0, max_value=20))
@settings(max_examples=150, deadline=None)
def test_bpe_encode_word_roundtrips_any_bytes(word, n_merges):
    """encode_word must be lossless for ANY byte string under ANY
    (deterministically learned) merge table."""
    from mongo2pq_spark.operators.bpe import encode_word, learn_bpe_local

    merges = learn_bpe_local(
        [(b"abab", 9), (b"bcbc", 5), (word, 3)], n_merges=n_merges
    )
    ranks = {p: i for i, p in enumerate(merges)}
    assert b"".join(encode_word(word, ranks)) == word


@given(
    st.lists(
        st.integers(min_value=-8000, max_value=8000),
        min_size=0, max_size=300,
    ),
    st.integers(min_value=1, max_value=4),  # gain
    st.integers(min_value=1, max_value=3),  # channel duplication
)
@settings(max_examples=150, deadline=None)
def test_audio_fp_gain_and_channel_invariance(samples, gain, n_ch):
    """For ANY sample stream: a positive gain remaster and a channel
    duplication never change the envelope fingerprint (the invariance
    the audio near-dedup queries stake their fixtures on)."""
    import numpy as np

    from mongo2pq_spark.operators.audio import audio_envelope_bits

    arr = np.asarray(samples, dtype="int32")[:, None]
    base = audio_envelope_bits(arr)
    assert audio_envelope_bits(arr * gain) == base
    assert audio_envelope_bits(np.repeat(arr, n_ch, axis=1)) == base


# -- round-11 fourth-continuation operators (pure driver-side cores) --


@given(
    n_frames=st.integers(min_value=1, max_value=40),
    sri=st.integers(min_value=0, max_value=2),
    mono=st.booleans(),
    id3=st.integers(min_value=0, max_value=300),
    id3v1=st.booleans(),
    data=st.data(),
)
@settings(max_examples=200, deadline=None)
def test_mp3_build_parse_roundtrip_property(
    n_frames, sri, mono, id3, id3v1, data
):
    """Any in-scope MPEG-1 L3 stream the builder can produce, the
    parser recovers exactly: frame count, rate, channels, bitrate
    envelope, byte totals."""
    from mongo2pq_spark.operators.audio import (
        MP3_BITRATES_V1L3,
        MP3_SAMPLE_RATES_V1,
        build_mp3_stub,
        mp3_frame_length,
        parse_mp3_metadata,
    )

    idxs = data.draw(
        st.lists(st.integers(min_value=1, max_value=14),
                 min_size=n_frames, max_size=n_frames)
    )
    pads = data.draw(
        st.lists(st.integers(min_value=0, max_value=1),
                 min_size=n_frames, max_size=n_frames)
    )
    p = build_mp3_stub(idxs, sri, pads, mono=mono,
                       id3v2_body=id3, id3v1=id3v1)
    m = parse_mp3_metadata(p)
    sr = MP3_SAMPLE_RATES_V1[sri]
    brs = [MP3_BITRATES_V1L3[i - 1] for i in idxs]
    assert m["n_frames"] == n_frames
    assert m["sample_rate"] == sr
    assert m["channels"] == (1 if mono else 2)
    assert m["bitrate_min_kbps"] == min(brs)
    assert m["bitrate_max_kbps"] == max(brs)
    assert m["is_vbr"] == (min(brs) != max(brs))
    assert m["audio_bytes"] == sum(
        mp3_frame_length(b, sr, pd) for b, pd in zip(brs, pads)
    )
    assert m["has_id3v2"] == (id3 > 0)


@given(
    n_pages=st.integers(min_value=1, max_value=30),
    pad=st.integers(min_value=0, max_value=200),
    title=st.one_of(
        st.none(),
        st.text(
            alphabet=st.characters(
                min_codepoint=32, max_codepoint=126,
                blacklist_characters="()\\",
            ),
            max_size=30,
        ),
    ),
    encrypted=st.booleans(),
)
@settings(max_examples=200, deadline=None)
def test_pdf_build_parse_roundtrip_property(n_pages, pad, title, encrypted):
    """Any in-scope PDF the builder can produce, the xref walk
    recovers exactly — page/object counts, encryption, title policy —
    regardless of how padding shifts the offsets."""
    from mongo2pq_spark.operators.pdf import (
        build_pdf_stub,
        parse_pdf_metadata,
    )

    m = parse_pdf_metadata(
        build_pdf_stub(n_pages, title=title, encrypted=encrypted, pad=pad)
    )
    assert m["n_pages"] == n_pages
    expect_objs = 2 + n_pages + (title is not None) + encrypted
    assert m["n_objects"] == expect_objs
    assert m["encrypted"] == encrypted
    if encrypted or title is None:
        assert m["title"] is None
    else:
        assert m["title"] == title


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                min_codepoint=32, max_codepoint=1000,
            ),
            max_size=40,
        ),
        min_size=1,
        max_size=5,
    ),
)
@settings(max_examples=200, deadline=None)
def test_unigram_viterbi_lossless_property(texts):
    """pretokenize ∘ viterbi ∘ concat is the identity on ARBITRARY
    unicode under any vocab (byte-fallback totality) — the invariant
    the registered round-trip oracle checks corpus-wide."""
    from mongo2pq_spark.operators.bpe import pretokenize
    from mongo2pq_spark.operators.unigram_tok import (
        learn_unigram_local,
        viterbi_encode,
    )

    logp = learn_unigram_local([(b"spark", 3), (b" ", 5)], vocab_size=20,
                               seed_size=20)
    for t in texts:
        toks = [
            piece
            for w in pretokenize(t)
            for piece in viterbi_encode(w.encode("utf-8"), logp)
        ]
        assert b"".join(toks) == t.encode("utf-8")


@given(
    host=st.text(alphabet="abcDEF", min_size=1, max_size=8),
    scheme=st.sampled_from(["http", "https", "HTTP", "HTTPS"]),
    path=st.text(alphabet="abXY9/", max_size=10),
    params=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "utm_x", "utm_y", "id"]),
            st.text(alphabet="xyz12", min_size=1, max_size=3),
        ),
        max_size=4,
    ),
    frag=st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_url_canonicalize_idempotent_property(
    spark, host, scheme, path, params, frag
):
    """canonicalize(canonicalize(u)) == canonicalize(u) — the key-rule
    invariant that makes the canonical form a stable dedup key — and
    the result never retains fragments, default ports, or utm_*
    parameters."""
    from mongo2pq_spark.operators.text import canonicalize_urls

    q = "&".join(f"{k}={v}" for k, v in params)
    url = f"{scheme}://{host}.io/{path}"
    if q:
        url += "?" + q
    if frag:
        url += "#sec"
    df = spark.createDataFrame([(1, url)], "doc_id long, url string")
    once = canonicalize_urls(df).collect()[0]["url_canon"]
    df2 = spark.createDataFrame([(1, once)], "doc_id long, url string")
    twice = canonicalize_urls(df2).collect()[0]["url_canon"]
    assert twice == once, (url, once, twice)
    assert "#" not in once and "utm_" not in once
    assert ":80/" not in once and ":443/" not in once


# -- MSB-first bit I/O and the decoders built on it ----------------------


def _unsigned_op(w):
    return st.tuples(st.just("write"), st.just(w), st.integers(0, (1 << w) - 1))


def _signed_op(w):
    half = 1 << max(w - 1, 0)
    return st.tuples(
        st.just("write_signed"), st.just(w),
        st.integers(-half, half - 1) if w else st.just(0),
    )


bit_ops = st.lists(
    st.one_of(
        st.integers(0, 70).flatmap(_unsigned_op),
        st.integers(0, 70).flatmap(_signed_op),
        st.tuples(st.just("write_unary"), st.just(0), st.integers(0, 80)),
        st.tuples(st.just("align"), st.just(0), st.integers(0, 1)),
    ),
    max_size=40,
)


@given(ops=bit_ops, fill=st.integers(0, 1))
@settings(max_examples=300, deadline=None)
def test_bitio_writes_read_back(ops, fill):
    """Any sequence of writes reads back equal: widths 0 to 70 (past
    32 and 64), unary runs up to 80 zeros across byte boundaries, and
    both ``align`` fills, whose pad bits read back as the fill."""
    from mongo2pq_spark.operators.bitio import BitReader, BitWriter

    bw = BitWriter()
    for op, w, v in ops + [("align", 0, fill)]:
        if op == "align":
            bw.align(v)
        elif op == "write_unary":
            bw.write_unary(v)
        else:
            getattr(bw, op)(v, w)
    data = bw.getvalue()
    br = BitReader(data, "test stream")
    for op, w, v in ops + [("align", 0, fill)]:
        if op == "align":
            pad = -br.pos % 8
            assert br.read(pad) == ((1 << pad) - 1 if v else 0)
            br.align()
        elif op == "write_unary":
            assert br.read_unary() == v
        elif op == "write_signed":
            assert br.read_signed(w) == v
        else:
            assert br.read(w) == v
    assert br.byte_pos() == len(data)
    for read in (br.read_bit, br.read_unary, lambda: br.read(1)):
        with pytest.raises(ValueError, match="truncated test stream"):
            read()


@st.composite
def prefix_codes(draw):
    """A random prefix-free code, complete or not, with code lengths
    1 to 16: grow a binary tree by splitting leaves, then drop some
    leaves so that some bit patterns match no code."""
    leaves = [(1, 0), (1, 1)]
    for _ in range(draw(st.integers(0, 30))):
        length, code = leaves.pop(draw(st.integers(0, len(leaves) - 1)))
        if length == 16:
            leaves.append((length, code))
            continue
        leaves += [(length + 1, code << 1), (length + 1, (code << 1) | 1)]
    kept = [leaf for leaf in leaves if draw(st.integers(0, 4))] or leaves[:1]
    return {leaf: i for i, leaf in enumerate(kept)}


@given(
    table=prefix_codes(),
    picks=st.lists(st.integers(0, 2**16), max_size=12),
    tail=st.lists(st.integers(0, 1), max_size=20),
)
@settings(max_examples=300, deadline=None)
def test_bitio_read_code_equals_a_bitwise_walk(table, picks, tail):
    """``read_code`` decodes like a plain bit-by-bit walk over the
    table: the same value, or None for a miss, at the same position,
    and it raises "truncated" where the walk runs out of bits. The
    stream is codes of the table plus random tail bits, so decoding
    also ends within 8 bits of the end and misses."""
    from mongo2pq_spark.operators.bitio import BitReader, prefix_lut

    codes = sorted(table)
    bits = "".join(
        format(code, f"0{length}b")
        for length, code in (codes[p % len(codes)] for p in picks)
    ) + "".join(map(str, tail))
    bits += "0" * (-len(bits) % 8)
    data = int(bits, 2).to_bytes(len(bits) // 8, "big") if bits else b""
    max_bits = max(length for length, _ in table)
    lut = prefix_lut(table)

    def walk(pos):
        code = 0
        for length in range(1, max_bits + 1):
            if pos + length > len(bits):
                return "truncated", None
            code = (code << 1) | int(bits[pos + length - 1])
            if (length, code) in table:
                return table[(length, code)], pos + length
        return None, None

    br = BitReader(data, "test stream")
    while True:
        want, end = walk(br.pos)
        if want == "truncated":
            with pytest.raises(ValueError, match="truncated"):
                br.read_code(table, lut, max_bits)
            return
        got = br.read_code(table, lut, max_bits)
        assert got == want
        if want is None:
            return
        assert br.pos == end


def _fuzz_cases():
    """name → (encoded stream, decoder) for small seeded streams."""
    import numpy as np

    from mongo2pq_spark.operators.ccitt import ccitt_decode, ccitt_encode
    from mongo2pq_spark.operators.flac import decode_flac, encode_flac
    from mongo2pq_spark.operators.jpeg import decode_jpeg_pixels, encode_jpeg
    from mongo2pq_spark.operators.tiff import (
        _tiff_lzw_decode,
        _tiff_lzw_encode,
    )

    rng = np.random.RandomState(11)
    t = np.arange(2000) / 8000
    pcm = np.stack(
        [9000 * np.sin(2 * np.pi * f * t) + rng.normal(0, 300, t.size)
         for f in (220, 330)],
        axis=1,
    ).astype(np.int64)
    yy, xx = np.mgrid[0:24, 0:24]
    smooth = (np.sin(xx / 5.0) + np.cos(yy / 4.0)) * 60 + 128
    rgb = np.stack(
        [smooth + 20 * k + rng.normal(0, 8, smooth.shape) for k in range(3)],
        axis=2,
    ).clip(0, 255).astype("uint8")
    fax = np.zeros((16, 64), dtype="uint8")
    for _ in range(12):
        y, x = rng.randint(0, 16), rng.randint(0, 64)
        fax[y:y + rng.randint(1, 5), x:x + rng.randint(1, 20)] = 1
    raw = rgb[:16, :16].tobytes()
    return {
        "flac": (encode_flac(pcm, block_size=576), decode_flac),
        "jpeg_420_restarts": (
            encode_jpeg(rgb, subsampling="420", restart_interval=1),
            decode_jpeg_pixels,
        ),
        "ccitt_mode2": (
            ccitt_encode(fax, 2), lambda d: ccitt_decode(d, 64, 16, 2)
        ),
        "ccitt_mode3_2d": (
            ccitt_encode(fax, 3, two_d=True),
            lambda d: ccitt_decode(d, 64, 16, 3, two_d=True),
        ),
        "ccitt_mode4": (
            ccitt_encode(fax, 4), lambda d: ccitt_decode(d, 64, 16, 4)
        ),
        "tiff_lzw": (
            _tiff_lzw_encode(raw), lambda d: _tiff_lzw_decode(d, len(raw))
        ),
    }


FUZZ_CODECS = [
    "flac", "jpeg_420_restarts", "ccitt_mode2", "ccitt_mode3_2d",
    "ccitt_mode4", "tiff_lzw",
]


@pytest.mark.parametrize("codec", FUZZ_CODECS)
def test_decoders_fail_typed_on_corrupt_streams(codec):
    """A truncated stream, or one with 1-4 flipped bits, either
    decodes or raises ValueError (corrupt) or NotImplementedError
    (legal but unsupported); no other exception escapes a decoder.
    The intact stream decodes."""
    import random

    good, decode = _fuzz_cases()[codec]
    decode(good)
    rng = random.Random(codec)
    for _ in range(100):
        data = bytearray(good)
        if rng.random() < 0.3:
            del data[rng.randrange(len(data)):]
        else:
            for _ in range(rng.randint(1, 4)):
                bit = rng.randrange(len(data) * 8)
                data[bit >> 3] ^= 0x80 >> (bit & 7)
        try:
            decode(bytes(data))
        except (ValueError, NotImplementedError):
            pass
