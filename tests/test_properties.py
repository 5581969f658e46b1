"""Property-based tests (hypothesis) for the seams of the engine — the
XML block parser, the deterministic fake decoder, and the LSH hyperplane
family. All but the parser run without a SparkSession, so they're cheap
enough to explore thousands of inputs per run; the parser properties
batch many blocks into each Spark job instead."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mapreduce_itwiki_spark.operators.multimodal import (
    decode_png_gray,
    encode_png_gray,
    fake_decode,
)
from mapreduce_itwiki_spark.operators.similarity import (
    BAND_BITS,
    LSH_BANDS,
    NUM_HYPERPLANES,
    hyperplane,
)
from mapreduce_itwiki_spark.sources.xml_pages import _parse_pages

# text safe to embed in XML element content without escaping
xml_safe = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_characters="<>&\x00", exclude_categories=("Cs", "Cc")
    ),
    min_size=1,
).map(str.strip).filter(bool)


def test_parse_page_block_roundtrips(spark):
    """Any well-formed <page> block parses back to exactly (title, text).
    Each example is a list of blocks, as the ``</page>``-delimited scan
    yields them, parsed as one DataFrame in one Spark job."""
    parsed = []

    @given(pages=st.lists(st.tuples(xml_safe, xml_safe), min_size=10, max_size=20))
    @settings(max_examples=20, deadline=None)
    def check(pages):
        blocks = spark.createDataFrame(
            [
                (f"junk-prefix\n<page><title>{title}</title><ns>0</ns>"
                 f"<revision><text>{text}</text></revision>",)
                for title, text in pages
            ],
            "value string",
        )
        got = [(r.title, r.text) for r in _parse_pages(blocks).collect()]
        assert sorted(got) == sorted(pages)
        parsed.append(len(pages))

    check()
    assert sum(parsed) >= 200


def test_parse_page_block_never_raises(spark):
    """Arbitrary garbage (dirty dumps are the norm) parses to at most one
    (title, text) row per block — never an exception that would fail a
    100 TB scan. About two of three draws open with ``<page>`` so the XML
    parser, not just the ``<page`` filter, sees the garbage."""
    parsed = []

    junk_block = st.one_of(
        st.text(max_size=200),
        st.text(max_size=200).map("<page>".__add__),
        st.text(alphabet="<>/&;![]-= pagetilrvsxn", max_size=200).map("<page>".__add__),
    )

    @given(junk=st.lists(junk_block, min_size=10, max_size=20))
    @settings(max_examples=20, deadline=None)
    def check(junk):
        blocks = spark.createDataFrame(
            [(i, b) for i, b in enumerate(junk)], "i int, value string"
        )
        ids = [r.i for r in _parse_pages(blocks).collect()]
        assert len(ids) == len(set(ids))
        parsed.append(len(junk))

    check()
    assert sum(parsed) >= 200


@given(payload=st.binary(max_size=64), n=st.integers(min_value=1, max_value=16))
@settings(max_examples=200)
def test_fake_decode_shape_and_range(payload, n):
    """The stub decoder honors the codec contract: exactly n features,
    each a float in [0, 255] (byte value or zero-pad)."""
    out = fake_decode(payload, n_features=n)
    assert len(out) == n
    assert all(isinstance(v, float) and 0.0 <= v <= 255.0 for v in out)
    # prefix is the actual bytes
    for i, b in enumerate(payload[:n]):
        assert out[i] == float(b)


@given(
    width=st.integers(min_value=1, max_value=16),
    height=st.integers(min_value=1, max_value=16),
    data=st.data(),
)
@settings(max_examples=100)
def test_png_codec_roundtrips(width, height, data):
    """The pure-stdlib PNG codec is lossless: encode(decode) recovers
    width, height, and every pixel byte for arbitrary grayscale images."""
    pixels = bytes(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=255),
                min_size=width * height,
                max_size=width * height,
            )
        )
    )
    png = encode_png_gray(pixels, width)
    assert png.startswith(b"\x89PNG")
    w, h, out = decode_png_gray(png)
    assert (w, h, out) == (width, height, pixels)


@given(
    samples=st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=128
    ),
    rate=st.sampled_from([8000, 16000, 44100]),
)
@settings(max_examples=100)
def test_wav_codec_roundtrips(samples, rate):
    """The stdlib WAV codec is lossless over 16-bit PCM."""
    from mapreduce_itwiki_spark.operators.multimodal import (
        decode_wav_pcm16,
        encode_wav_pcm16,
    )

    got_rate, got = decode_wav_pcm16(encode_wav_pcm16(samples, rate))
    assert got_rate == rate
    assert got == samples


def test_png_decoder_handles_sub_and_up_filters():
    """Un-filtering is real: hand-built PNGs using Sub(1) and Up(2)
    filters decode to the correct pixels (our encoder only emits
    None(0), so these exercise the spec paths a foreign encoder hits)."""
    import struct
    import zlib

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    # 3x2 image, row0 = [10, 20, 30] via Sub deltas, row1 = [11, 22, 33] via Up deltas
    raw = bytes([1, 10, 10, 10]) + bytes([2, 1, 2, 3])
    ihdr = struct.pack(">IIBBBBB", 3, 2, 8, 0, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    w, h, px = decode_png_gray(png)
    assert (w, h) == (3, 2)
    assert list(px) == [10, 20, 30, 11, 22, 33]


def _codec_cases():
    """codec → (encode 768 random bytes into one valid file, decoder)."""
    import struct

    from mapreduce_itwiki_spark.operators import multimodal as mm

    return {
        "png": (lambda b: mm.encode_png_gray(b[:64], 8), mm.decode_png_gray),
        "jpeg_gray": (lambda b: mm.encode_jpeg_gray(b[:256], 16), mm.decode_jpeg_gray),
        "jpeg_color": (lambda b: mm.encode_jpeg_color(b, 16), mm.decode_jpeg_color),
        "wav": (
            lambda b: mm.encode_wav_pcm16(list(struct.unpack("<16h", b[:32]))),
            mm.decode_wav_pcm16,
        ),
        "gif": (
            lambda b: mm.encode_gif_gray([b[i : i + 256] for i in (0, 256, 512)], 16),
            mm.decode_gif_gray,
        ),
    }


@pytest.mark.parametrize("codec", sorted(_codec_cases()))
@given(content=st.binary(min_size=768, max_size=768))
@settings(max_examples=5, deadline=None)
def test_every_prefix_decodes_or_raises_value_error(codec, content):
    """A truncated file is malformed input: every proper prefix of a
    valid PNG / gray JPEG / color JPEG / WAV / GIF either decodes or
    raises ValueError — never struct.error, IndexError, KeyError or
    zlib.error."""
    encode, decode = _codec_cases()[codec]
    blob = encode(content)
    decode(blob)
    for n in range(len(blob)):
        try:
            decode(blob[:n])
        except ValueError:
            pass


def test_gif_every_strict_prefix_raises():
    """Only the 0x3B trailer ends a GIF: a 4-frame file cut anywhere,
    including between two frames, raises instead of decoding to fewer
    frames."""
    import random

    from mapreduce_itwiki_spark.operators.multimodal import (
        decode_gif_gray,
        encode_gif_gray,
    )

    rng = random.Random(7)
    frames = [bytes(rng.randrange(256) for _ in range(256)) for _ in range(4)]
    gif = encode_gif_gray(frames, 16)
    assert decode_gif_gray(gif) == (16, 16, frames)
    for n in range(len(gif)):
        with pytest.raises(ValueError):
            decode_gif_gray(gif[:n])


def test_wav_short_data_chunk_raises():
    """A data chunk shorter than its declared length is an error, not
    a silently shorter signal."""
    from mapreduce_itwiki_spark.operators.multimodal import (
        decode_wav_pcm16,
        encode_wav_pcm16,
    )

    wav = encode_wav_pcm16(list(range(16)))
    assert decode_wav_pcm16(wav) == (8000, list(range(16)))
    with pytest.raises(ValueError, match="truncated"):
        decode_wav_pcm16(wav[:-4])


@given(j=st.integers(min_value=0, max_value=NUM_HYPERPLANES - 1),
       dim=st.integers(min_value=4, max_value=128))
@settings(max_examples=200)
def test_hyperplane_family_properties(j, dim):
    """Hyperplanes are pure, integer-valued, bounded, and sparse on the
    residue pattern the band design relies on (nonzero iff i ≡ −j mod 4);
    each 4-plane band jointly covers every residue class."""
    h = hyperplane(j, dim)
    assert h == hyperplane(j, dim)  # pure
    assert len(h) == dim
    for i, x in enumerate(h):
        assert isinstance(x, int) and -9 <= x <= 9
        if (i + j) % 4 != 0:
            assert x == 0
    assert any(x != 0 for x in h)


def test_bands_cover_all_residues():
    """Within any band, the 4 planes' supports partition the coordinate
    space — no coordinate is ignored by a whole band."""
    dim = 64
    for b in range(LSH_BANDS):
        covered = set()
        for r in range(BAND_BITS):
            j = b * BAND_BITS + r
            covered |= {i % 4 for i in range(dim) if hyperplane(j, dim)[i] != 0}
        assert covered == {0, 1, 2, 3}, (b, covered)


def _morton_py(x: int, y: int, bits: int) -> int:
    """Independent Python rendering of the Morton interleave."""
    acc = 0
    for i in range(bits):
        acc |= ((x >> i) & 1) << (2 * i)
        acc |= ((y >> i) & 1) << (2 * i + 1)
    return acc


@given(
    x=st.integers(min_value=0, max_value=(1 << 16) - 1),
    y=st.integers(min_value=0, max_value=(1 << 16) - 1),
)
@settings(max_examples=300, deadline=None)  # each example runs a DuckDB
# query; under a loaded host one call can trip hypothesis's 200 ms
# per-example deadline (observed flaking in the full-suite run only)
def test_morton_key_bijective_and_order(x, y):
    """The SQL-text Morton key (operators/layout.py:zorder_key_sql) must
    agree with an independent bitwise implementation, be a bijection on
    (x, y) (deinterleave recovers both inputs), and respect the
    quadrant order that makes range partitioning meaningful: any point
    in the lower quadrant (both coords below 2^15) keys strictly below
    any point in the upper quadrant (both coords at/above 2^15)."""
    import duckdb

    from mapreduce_itwiki_spark.operators.layout import zorder_key_sql

    expr = zorder_key_sql(str(x), str(y))
    got = duckdb.sql(f"SELECT {expr} AS z").fetchone()[0]
    expect = _morton_py(x, y, 16)
    assert got == expect
    # bijection: deinterleave
    back_x = sum(((got >> (2 * i)) & 1) << i for i in range(16))
    back_y = sum(((got >> (2 * i + 1)) & 1) << i for i in range(16))
    assert (back_x, back_y) == (x, y)
    # quadrant order
    half = 1 << 15
    if x < half and y < half:
        assert got < _morton_py(half, half, 16)


@given(
    n=st.integers(min_value=1, max_value=400),
    window=st.integers(min_value=2, max_value=64),
)
@settings(max_examples=200)
def test_chunker_arithmetic_covers_every_token(n, window):
    """The chunk arithmetic used by chunk_documents_overlap (pure
    integer formulas, verified here without Spark): with stride
    s = 3w/4, chunks [i*s, i*s+w) must cover tokens 0..n-1 with no gap,
    the first chunk starts at 0, consecutive starts differ by exactly
    the stride, and every chunk is non-empty."""
    stride = max(1, (window * 3) // 4)
    n_extra = 0 if n <= window else -(-(n - window) // stride)  # ceil
    starts = [i * stride for i in range(n_extra + 1)]
    assert starts[0] == 0
    covered = set()
    for s0 in starts:
        length = min(window, n - s0)
        assert length >= 1  # chunk never empty
        covered.update(range(s0, s0 + length))
    assert covered == set(range(n))  # no token lost to a boundary


def _bpe_ref_merge(word: str, merges) -> list[str]:
    """Independent greedy-left BPE: one left-to-right pass per merge."""
    syms = list(word)
    for a, b in merges:
        i, out = 0, []
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


@given(word=st.text(alphabet="theandorinst", min_size=0, max_size=24))
@settings(max_examples=500)
def test_bpe_replace_cascade_equals_greedy_bpe(word):
    """The replace-cascade trick behind bpe_encode_tokens must equal a
    symbol-list BPE implementation: replacing '|A||B|' with '|AB|' via
    sequential non-overlapping left-to-right string replacement IS the
    greedy-left merge rule, for every word over the merge alphabet."""
    import re

    from mapreduce_itwiki_spark.plans.training_data import BPE_MERGES

    enc = re.sub(r"(.)", r"|\1|", word)
    for a, b in BPE_MERGES:
        enc = enc.replace(f"|{a}||{b}|", f"|{a}{b}|")
    assert enc.count("|") // 2 == len(_bpe_ref_merge(word, BPE_MERGES))


@given(
    u=st.integers(min_value=1, max_value=(1 << 60) - 1),
    w1=st.integers(min_value=1, max_value=10_000),
    w2=st.integers(min_value=1, max_value=10_000),
)
@settings(max_examples=300)
def test_weighted_priority_monotone_in_weight(u, w1, w2):
    """weighted_sample_topk's priority u/w must be monotone: for the
    same coin, a larger weight gives a smaller (better) priority — the
    property that makes inclusion odds scale with document size."""
    if w1 < w2:
        assert u / w1 >= u / w2
    elif w1 > w2:
        assert u / w1 <= u / w2


@given(word=st.text(alphabet="theandorinst", min_size=0, max_size=24))
@settings(max_examples=300)
def test_bpe_merge_cascade_is_idempotent(word):
    """Re-running the merge cascade on already-encoded text changes
    nothing: after one pass no '|A||B|' pattern remains for any merge
    (each pass consumed them all), so BPE encoding is a fixpoint —
    the property that makes re-tokenizing a tokenized shard safe."""
    import re

    from mapreduce_itwiki_spark.plans.training_data import BPE_MERGES

    enc = re.sub(r"(.)", r"|\1|", word)
    for a, b in BPE_MERGES:
        enc = enc.replace(f"|{a}||{b}|", f"|{a}{b}|")
    once = enc
    for a, b in BPE_MERGES:
        enc = enc.replace(f"|{a}||{b}|", f"|{a}{b}|")
    assert enc == once


#: a hostile stopword list — every entry carries regex metacharacters
#: that would corrupt the alternation if stopword_regex ever stopped
#: escaping (VERDICT r4 #7: the original f-string interpolation was a
#: foot-gun on edit)
_META_WORDS = ("a.c", "x|y", "(", "c++", "[the]", "a*", "?", "\\d", "$5", "e{2}")


@given(
    toks=st.lists(
        st.text(
            alphabet="axc.|(+)[]*?\\d${}e125",
            min_size=1,
            max_size=6,
        ).filter(lambda t: " " not in t),
        min_size=0,
        max_size=20,
    )
)
@settings(max_examples=500)
def test_stopword_regex_escapes_metacharacters(toks):
    """stopword_regex(words) must count exactly the split-token
    occurrences of ``words`` — including words made of regex
    metacharacters — because every word is re.escape'd. The reference
    is the trivial split-and-membership count."""
    import re

    from mapreduce_itwiki_spark.functions.text import stopword_regex

    text = " ".join(toks)
    pat = stopword_regex(_META_WORDS)
    got = len(re.findall(pat, f" {text} "))
    want = sum(1 for t in toks if t in _META_WORDS)
    assert got == want, (text, got, want)


@given(
    vec=st.lists(
        st.floats(min_value=-10, max_value=10, allow_nan=False, width=32),
        min_size=64,
        max_size=64,
    ),
    band_bits=st.sampled_from([4, 5, 6, 8]),
)
@settings(max_examples=40, deadline=None)
def test_band_keys_py_shape_across_geometries(vec, band_bits):
    """The driver-side banding twin must honor an arbitrary band width
    (the stored-geometry contract of the index manifest): LSH_BANDS
    keys, each band_bits chars of '0'/'1', derived from plane
    j = b·band_bits + r — so the pkey set a probe prunes with is always
    derivable from the embedding plus the index's stored width alone."""
    from mapreduce_itwiki_spark.operators.similarity import (
        LSH_BANDS,
        band_keys_py,
        hyperplane,
        pkeys_py,
    )

    keys = band_keys_py(vec, band_bits)
    assert len(keys) == LSH_BANDS
    assert all(len(k) == band_bits and set(k) <= {"0", "1"} for k in keys)
    # bit (b, r) is the sign of plane b*band_bits + r — recompute one
    for b in range(LSH_BANDS):
        for r in range(band_bits):
            h = hyperplane(b * band_bits + r, 64)
            acc = None
            for i, x in enumerate(h):
                if x == 0:
                    continue
                t = float(vec[i]) * float(x)
                acc = t if acc is None else acc + t
            want = "1" if (acc if acc is not None else 0.0) >= 0 else "0"
            assert keys[b][r] == want
    pk = pkeys_py(vec, band_bits)
    assert pk == sorted({f"{b}_{k}" for b, k in enumerate(keys)})
