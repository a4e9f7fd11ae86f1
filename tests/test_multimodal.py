"""Pure-Python media header parsers: synth -> parse round-trips with
known answers, spec-vector checks on hand-crafted bytes, and the
never-raise contract on malformed input (a 100 TB crawl contains garbage;
one bad file must not kill a task).  The registered mm_media_headers
query runs the same synth+parse distributed and is hash-checked against
an arithmetic DuckDB oracle by tests/test_oracle_parity.py."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from flink_kafka_consumer_cassandra_output_spark.operators import multimodal as mm


def test_png_round_trip():
    hd = mm.parse_media_header(mm.synth_png(640, 480, b"pixels"))
    assert hd == {"fmt": "png", "width": 640, "height": 480}


def test_jpeg_round_trip():
    hd = mm.parse_media_header(mm.synth_jpeg(1920, 1080, b"scan data"))
    assert hd == {"fmt": "jpeg", "width": 1920, "height": 1080}


def test_gif_round_trip():
    hd = mm.parse_media_header(mm.synth_gif(13, 7))
    assert hd == {"fmt": "gif", "width": 13, "height": 7}


def test_wav_round_trip_duration_floor():
    # 44100 Hz stereo 16-bit, 44100 samples + one extra byte: exactly 1s of
    # audio plus a remainder that must FLOOR away, not round.
    payload = bytes(44100 * 2 * 2 + 1)
    hd = mm.parse_media_header(mm.synth_wav(2, 44100, 16, payload))
    assert hd == {
        "fmt": "wav",
        "channels": 2,
        "sample_rate": 44100,
        "bits": 16,
        "duration_ms": 1000,
    }


def test_png_spec_vector():
    """Hand-assembled IHDR per the PNG spec, not via the synthesizer --
    catches a synth+parse pair that agree on the same wrong offsets."""
    raw = (
        b"\x89PNG\r\n\x1a\n"
        b"\x00\x00\x00\x0dIHDR"
        b"\x00\x00\x00\x01"  # width 1
        b"\x00\x00\x00\x02"  # height 2
        b"\x08\x06\x00\x00\x00"
        b"\x1f\x15\xc4\x89"  # (real CRC of the 1x2 IHDR)
    )
    assert mm.parse_media_header(raw) == {"fmt": "png", "width": 1, "height": 2}


def test_jpeg_progressive_sof2_and_restart_markers():
    """SOF2 (progressive) must be recognized, and standalone RSTn/TEM
    markers between segments must not desync the walk."""
    raw = (
        b"\xff\xd8"
        b"\xff\x01"  # TEM, standalone
        b"\xff\xd0"  # RST0, standalone
        b"\xff\xc2\x00\x11\x08\x00\x0a\x00\x14" + bytes(10)  # SOF2 h=10 w=20
    )
    assert mm.parse_media_header(raw) == {"fmt": "jpeg", "width": 20, "height": 10}


def test_wav_sub_byte_sample_width():
    """bits_per_sample < 8 (IMA ADPCM is 4) must not zero a truncated
    bytes-per-sample: 8000 samples of 4-bit mono at 8 kHz = 4000 bytes =
    1000 ms, computed in bits end-to-end."""
    hd = mm.parse_media_header(mm.synth_wav(1, 8000, 4, bytes(4000)))
    assert hd is not None and hd["duration_ms"] == 1000


def test_jpeg_fill_bytes_before_marker():
    """Extra 0xFF fill bytes may pad any marker (ITU T.81); the walk must
    skip them instead of desyncing."""
    raw = (
        b"\xff\xd8"
        b"\xff\xff\xff"  # fill bytes
        b"\xff\xc0\x00\x11\x08\x00\x05\x00\x06" + bytes(10)
    )
    assert mm.parse_media_header(raw) == {"fmt": "jpeg", "width": 6, "height": 5}


def test_wav_odd_chunk_word_alignment():
    """A 3-byte odd-sized chunk before fmt must advance by 4 (RIFF pads
    chunks to word boundaries) or every later field misparses."""
    odd = b"LIST" + (3).to_bytes(4, "little") + b"abc" + b"\x00"  # pad byte
    wav = mm.synth_wav(1, 8000, 16, bytes(16000))
    raw = wav[:12] + odd + wav[12:]
    hd = mm.parse_media_header(raw)
    assert hd is not None and hd["duration_ms"] == 1000


@pytest.mark.parametrize(
    "blob",
    [
        mm.synth_png(9, 9, b"x"),
        mm.synth_jpeg(9, 9, b"x"),
        mm.synth_gif(9, 9, b"x"),
        mm.synth_wav(1, 8000, 16, b"xx"),
    ],
    ids=["png", "jpeg", "gif", "wav"],
)
def test_truncated_prefixes_never_raise(blob):
    """Every prefix of every container parses to a dict or None -- never
    an exception (the crawl-garbage contract)."""
    for i in range(len(blob)):
        mm.parse_media_header(blob[:i])  # must not raise


def test_garbage_returns_none():
    assert mm.parse_media_header(b"") is None
    assert mm.parse_media_header(b"not a container at all") is None
    assert mm.parse_media_header(b"\xff\xd8\x00\x00") is None  # lost sync


@settings(max_examples=500, deadline=None)
@given(st.binary(max_size=256))
def test_arbitrary_bytes_never_raise(blob):
    """Hypothesis sweep of the crawl-garbage contract: any byte string
    parses to a dict or None, never an exception."""
    hd = mm.parse_media_header(blob)
    assert hd is None or isinstance(hd, dict)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=128))
def test_magic_prefixed_garbage_never_raises(blob):
    """Same, but forced down each parser's innards: valid magic, then
    arbitrary bytes (the adversarial half-file case)."""
    for magic in (
        b"\x89PNG\r\n\x1a\n",
        b"\xff\xd8",
        b"GIF89a",
        b"RIFF\x10\x00\x00\x00WAVE",
    ):
        hd = mm.parse_media_header(magic + blob)
        assert hd is None or isinstance(hd, dict)


def test_decode_media_sniffs_not_trusts_labels():
    """A PNG mislabeled as audio parses as what it IS."""
    hd = mm.decode_media(mm.synth_png(3, 4), "audio/wav")
    assert hd == {"fmt": "png", "width": 3, "height": 4}


def test_decode_media_still_refuses_unrecognized():
    with pytest.raises(NotImplementedError, match="codec"):
        mm.decode_media(b"\x00\x01\x02\x03 opaque", "video/mp4")


def test_media_headers_query_covers_all_formats(spark, sf_dir):
    """The registered query must exercise all five parsers distributed and
    parse EVERY row (a None from parse_media_header would surface as a
    NULL fmt)."""
    from flink_kafka_consumer_cassandra_output_spark.plans import all_specs

    rows = all_specs()["mm_media_headers"].builder(spark, sf_dir).collect()
    fmts = {r.fmt for r in rows}
    assert fmts == {"png", "jpeg", "gif", "wav", "mp4"}
    assert all(r.fmt is not None for r in rows)
    by_fmt = {f: next(r for r in rows if r.fmt == f) for f in fmts}
    assert by_fmt["png"].width == by_fmt["png"].doc_id % 640 + 1
    assert by_fmt["wav"].sample_rate == 8000 * (by_fmt["wav"].doc_id % 3 + 1)
    assert by_fmt["wav"].width is None and by_fmt["png"].channels is None


def test_mp4_round_trip_spec_vector():
    """ISO-BMFF known answer: mvhd v0 timescale/duration land at the
    spec's byte offsets and duration_ms floors correctly."""
    import flink_kafka_consumer_cassandra_output_spark.operators.multimodal as mm

    hd = mm.parse_media_header(mm.synth_mp4(600, 90000, b"frames"))
    assert hd == {"fmt": "mp4", "duration_ms": 150000}
    # floor, not round: 1001 units at timescale 600 = 1668.33ms -> 1668
    assert mm.parse_media_header(mm.synth_mp4(600, 1001))["duration_ms"] == 1668


def test_mp4_truncation_and_garbage_never_raise():
    import flink_kafka_consumer_cassandra_output_spark.operators.multimodal as mm

    blob = mm.synth_mp4(600, 90000, b"payload")
    for cut in range(len(blob)):
        mm.parse_media_header(blob[:cut])  # must not raise
    # ftyp magic with garbage after it: None, not an exception
    assert mm.parse_media_header(b"\x00\x00\x00\x08ftyp\xff\xff") is None
    # zero timescale is undecodable, not a ZeroDivisionError
    assert mm.parse_media_header(mm.synth_mp4(0, 100)) is None


def test_mp4_mvhd_version1_64bit_fields():
    """A v1 mvhd (64-bit ctime/mtime/duration) parses via the version
    branch, not the v0 offsets."""
    import flink_kafka_consumer_cassandra_output_spark.operators.multimodal as mm

    def box(btype, body):
        return (8 + len(body)).to_bytes(4, "big") + btype + body

    mvhd = (
        bytes([1, 0, 0, 0])  # version 1
        + bytes(16)  # ctime, mtime (64-bit each)
        + (1000).to_bytes(4, "big")  # timescale
        + (7_500_000).to_bytes(8, "big")  # duration (64-bit)
        + bytes(80)
    )
    blob = box(b"ftyp", b"isom" + bytes(4) + b"isom") + box(
        b"moov", box(b"mvhd", mvhd)
    )
    assert mm.parse_media_header(blob) == {"fmt": "mp4", "duration_ms": 7_500_000}


# ---------------------------------------------------------------------------
# r11: real uncompressed decode (BMP / PPM / WAV-PCM)
# ---------------------------------------------------------------------------


def test_bmp_decode_roundtrip_with_row_padding():
    """width=5 -> 15-byte rows padded to 16: the padding and the bottom-up
    flip must both be honored for pixels to come back in synth order."""
    d = mm.decode_bmp(mm.synth_bmp(5, 3, doc_id=7))
    assert (d["width"], d["height"]) == (5, 3)
    expect = [
        ((7 + x + y) % 256, (21 + 7 * x) % 256, (5 * y + 7) % 256)
        for y in range(3)
        for x in range(5)
    ]
    assert d["pixels"] == expect


def test_bmp_top_down_negative_height():
    """A top-down BMP (negative height) must decode to the SAME top-down
    pixel list as the bottom-up encoding of the same image."""
    blob = bytearray(mm.synth_bmp(4, 2, doc_id=3))
    bottom_up = mm.decode_bmp(bytes(blob))
    # flip to top-down: negate height, reverse the two 12-byte rows
    # (width 4 -> stride 12, no padding)
    blob[22:26] = (-2).to_bytes(4, "little", signed=True)
    px = blob[54:]
    blob[54:] = px[12:24] + px[0:12]
    top_down = mm.decode_bmp(bytes(blob))
    assert top_down["pixels"] == bottom_up["pixels"]


def test_ppm_header_comments_and_whitespace():
    raw = b"P6\n# a comment\n 4\t2 # trailing\n255\n" + bytes(range(24))
    d = mm.decode_ppm(raw)
    assert (d["width"], d["height"]) == (4, 2)
    assert d["pixels"][0] == (0, 1, 2) and d["pixels"][-1] == (21, 22, 23)


def test_ppm_matches_bmp_pixels():
    assert (
        mm.decode_ppm(mm.synth_ppm(6, 4, doc_id=11))["pixels"]
        == mm.decode_bmp(mm.synth_bmp(6, 4, doc_id=11))["pixels"]
    )


def test_wav_pcm_decode_signed_samples_and_chunk_alignment():
    samples = [-32768, -1, 0, 1, 32767]
    pcm = b"".join(s.to_bytes(2, "little", signed=True) for s in samples)
    d = mm.decode_wav_pcm(mm.synth_wav(2, 44100, 16, pcm))
    assert d["samples"] == samples
    assert (d["channels"], d["sample_rate"], d["bits"]) == (2, 44100, 16)
    # odd-sized data chunk: the RIFF walk must word-align past it and the
    # sample decode must ignore the trailing half-sample byte
    d2 = mm.decode_wav_pcm(mm.synth_wav(1, 8000, 16, pcm + b"\x7f"))
    assert d2["samples"] == samples


@pytest.mark.parametrize(
    "blob, decoder",
    [
        (b"BMxx", "decode_bmp"),  # truncated header
        (b"P6\n4 2\n65535\n" + bytes(48), "decode_ppm"),  # 16-bit maxval
        (b"RIFF\x00\x00\x00\x00WAVE", "decode_wav_pcm"),  # no fmt/data
    ],
)
def test_uncompressed_decoders_raise_on_malformed(blob, decoder):
    with pytest.raises(ValueError):
        getattr(mm, decoder)(blob)


def test_decode_media_dispatches_on_magic_not_label():
    assert mm.decode_media(mm.synth_bmp(2, 2, 1), "audio/wav")["fmt"] == "bmp"
    assert mm.decode_media(mm.synth_ppm(2, 2, 1), "image/png")["fmt"] == "ppm"
    pcm = (12345).to_bytes(2, "little", signed=True)
    assert (
        mm.decode_media(mm.synth_wav(1, 8000, 16, pcm), "x")["fmt"] == "wav_pcm"
    )
    # compressed containers still yield header-only metadata
    assert mm.decode_media(mm.synth_png(3, 4), "x") == {
        "fmt": "png", "width": 3, "height": 4,
    }


def test_decode_media_non_pcm_wav_falls_back_to_header():
    """A float-format WAV (format=3) can't be sample-decoded by the PCM
    path but must still return header metadata, not raise."""
    blob = bytearray(mm.synth_wav(1, 8000, 16, bytes(4)))
    fmt_off = blob.index(b"fmt ") + 8
    blob[fmt_off : fmt_off + 2] = (3).to_bytes(2, "little")
    hd = mm.decode_media(bytes(blob), "x")
    assert hd["fmt"] == "wav" and "samples" not in hd


@settings(max_examples=60, deadline=None, derandomize=True)
@given(
    st.integers(1, 40), st.integers(1, 24), st.integers(0, 10**12)
)
def test_bmp_ppm_decode_synth_identity_fuzz(w, h, doc_id):
    """decode(synth(x)) == x over random dimensions and ids: sweeps every
    row-padding residue (w*3 % 4) and the channel-formula mod wraps; BMP
    (bottom-up, padded) and PPM (top-down, unpadded) must agree exactly."""
    b = mm.decode_bmp(mm.synth_bmp(w, h, doc_id))
    p = mm.decode_ppm(mm.synth_ppm(w, h, doc_id))
    assert (b["width"], b["height"]) == (w, h) == (p["width"], p["height"])
    assert b["pixels"] == p["pixels"]
    expect0 = (
        doc_id % 256,
        (3 * doc_id) % 256,
        (5 * 0 + doc_id) % 256,
    )
    assert b["pixels"][0] == expect0
    assert len(b["pixels"]) == w * h


@settings(max_examples=60, deadline=None, derandomize=True)
@given(
    st.lists(st.integers(-32768, 32767), min_size=0, max_size=200),
    st.integers(1, 8),
    st.sampled_from([8000, 16000, 44100, 48000]),
)
def test_wav_pcm_decode_synth_identity_fuzz(samples, channels, rate):
    pcm = b"".join(s.to_bytes(2, "little", signed=True) for s in samples)
    d = mm.decode_wav_pcm(mm.synth_wav(channels, rate, 16, pcm))
    assert d["samples"] == samples
    assert (d["channels"], d["sample_rate"], d["bits"]) == (channels, rate, 16)


@settings(max_examples=30, deadline=None, derandomize=True)
@given(
    st.integers(1, 8),
    st.sampled_from([8000, 16000, 44100, 48000]),
    st.integers(0, 50),
)
def test_wav_ieee_float_fuzz_falls_back_to_header(channels, rate, n_frames):
    """r11 VERDICT item 8: a proper IEEE-float WAV (format=3, bits=32) takes
    the header-metadata fallback path in decode_media -- the one decode
    branch the identity fuzz doesn't pin.  The fallback must carry the
    true channels/rate/bits from the fmt chunk and never a samples list."""
    blob = bytearray(mm.synth_wav(channels, rate, 32, bytes(4 * channels * n_frames)))
    fmt_off = blob.index(b"fmt ") + 8
    blob[fmt_off : fmt_off + 2] = (3).to_bytes(2, "little")  # IEEE float
    hd = mm.decode_media(bytes(blob), "x")
    assert hd["fmt"] == "wav"
    assert (hd["channels"], hd["sample_rate"], hd["bits"]) == (channels, rate, 32)
    assert "samples" not in hd and "pixels" not in hd


@settings(max_examples=40, deadline=None, derandomize=True)
@given(st.integers(1, 20), st.integers(1, 12), st.integers(0, 10**9))
def test_bmp_top_down_decode_fuzz(w, h, doc_id):
    """A top-down BMP (negative height, rows already in display order)
    must decode pixel-identical to its bottom-up twin — the branch the
    identity fuzz never reaches because synth_bmp always writes
    bottom-up."""
    bottom_up = mm.synth_bmp(w, h, doc_id)
    want = mm.decode_bmp(bottom_up)
    stride = w * 3 + ((-(w * 3)) % 4)
    px = bottom_up[54:]
    rows = [px[i * stride : (i + 1) * stride] for i in range(h)]
    td = bytearray(bottom_up[:54])
    td[22:26] = (-h).to_bytes(4, "little", signed=True)
    got = mm.decode_bmp(bytes(td) + b"".join(reversed(rows)))
    assert got == want


@settings(max_examples=40, deadline=None, derandomize=True)
@given(st.integers(1, 20), st.integers(1, 12), st.integers(0, 10**6))
def test_ppm_crlf_disambiguation_fuzz(w, h, seed):
    """CRLF-adjacent classes across random dimensions (r13 VERDICT item 7:
    exact-size disambiguation under the strict no-trailing-bytes
    contract).  A clean Windows text-mode file (only the header separator
    translated) now DECODES pixel-identical to the original; a conforming
    exact-size lone-\\r file whose raster legitimately begins 0x0A (pixel
    formula: red = doc_id % 256, so doc_id = 10 mod 256) still decodes
    with the 0x0A as pixel data; a file matching NEITHER exact size still
    raises."""
    import pytest

    good = mm.synth_ppm(w, h, seed)
    hdr_end = good.index(b"255\n") + 3
    crlf = good[:hdr_end] + b"\r\n" + good[hdr_end + 1 :]
    # the recovered class: CRLF reading is the unique exact-size parse
    assert mm.decode_ppm(crlf)["pixels"] == mm.decode_ppm(good)["pixels"]

    doc2 = seed - seed % 256 + 10  # forces raster[0] == 0x0A
    g2 = mm.synth_ppm(w, h, doc2)
    hdr2 = g2.index(b"255\n") + 3
    lone = g2[:hdr2] + b"\r" + g2[hdr2 + 1 :]
    d = mm.decode_ppm(lone)
    assert d["pixels"] == mm.decode_ppm(g2)["pixels"]
    assert d["pixels"][0][0] == 0x0A
    # the documented residual collision: lone-\r PLUS a trailing newline is
    # byte-identical to a CRLF file, invalid under the strict contract, and
    # decodes under the CRLF reading (first pixel is the shifted byte, not
    # the 0x0A) -- the trade-off r13 VERDICT item 7 accepts explicitly
    d3 = mm.decode_ppm(lone + b"\n")
    shifted = g2[hdr2 + 2 :] + b"\n"  # the CRLF reading's raster bytes
    assert d3["pixels"] == [
        (shifted[i], shifted[i + 1], shifted[i + 2])
        for i in range(0, len(shifted), 3)
    ]
    # two bytes of slack match neither reading: still a loud error
    with pytest.raises(ValueError, match="ambiguous"):
        mm.decode_ppm(lone + b"\n\n")


@settings(max_examples=40, deadline=None, derandomize=True)
@given(st.integers(1, 20), st.integers(1, 12), st.integers(0, 10**6))
def test_ppm_trailing_bytes_raise(w, h, seed):
    """Strict no-trailing-bytes contract (the disambiguation above relies
    on it): any bytes after the exact raster raise, same as Avro/WAV."""
    import pytest

    good = mm.synth_ppm(w, h, seed)
    with pytest.raises(ValueError, match="trailing"):
        mm.decode_ppm(good + b"x")
    with pytest.raises(ValueError, match="trailing"):
        mm.decode_ppm(good + bytes(7))


def test_bmp_degenerate_dimensions_raise():
    """r11 ADVICE: negative width gave stride<0, a vacuously-passing
    truncation check and a silent empty-pixels result; the decoder must
    raise instead."""
    import pytest

    blob = bytearray(mm.synth_bmp(4, 3, 7))
    blob[18:22] = (-4).to_bytes(4, "little", signed=True)
    with pytest.raises(ValueError, match="degenerate"):
        mm.decode_bmp(bytes(blob))
    blob = bytearray(mm.synth_bmp(4, 3, 7))
    blob[22:26] = (0).to_bytes(4, "little", signed=True)
    with pytest.raises(ValueError, match="degenerate"):
        mm.decode_bmp(bytes(blob))
    blob = bytearray(mm.synth_bmp(4, 3, 7))
    blob[18:22] = (0).to_bytes(4, "little", signed=True)
    with pytest.raises(ValueError, match="degenerate"):
        mm.decode_bmp(bytes(blob))


def test_ppm_degenerate_dimensions_raise():
    """r12 ADVICE: the PPM header tokenizer accepts "-4" as a width token,
    making need = width*height*3 negative so the truncation check vacuously
    passed and the decoder silently returned negative dims with an empty
    pixel list -- the same raise-loudly violation the BMP guard fixed."""
    import pytest

    for hdr in (b"P6\n-4 3\n255\n", b"P6\n4 -3\n255\n", b"P6\n0 3\n255\n"):
        with pytest.raises(ValueError, match="degenerate"):
            mm.decode_ppm(hdr + bytes(36))


def test_ppm_crlf_after_maxval_exact_size_disambiguates():
    """r11 ADVICE found CRLF after maxval silently shifting every pixel;
    r12 hard-rejected the Windows file because its size collides with a
    lone-\\r writer that appended ONE trailing newline.  r13 VERDICT item
    7 resolves the ambiguity via the strict no-trailing-bytes contract:
    exactly one reading accounts for every byte.  Exact lone-\\r size
    decodes with the 0x0A as pixel data; exact CRLF size decodes as the
    translated Windows file (the trailing-newline lone-\\r file is
    byte-identical and invalid under the strict contract); any other
    length still raises loudly."""
    import pytest

    good = mm.synth_ppm(2, 2, 5)
    want = mm.decode_ppm(good)["pixels"]
    hdr_end = good.index(b"255\n") + 3
    # Windows text-mode translation ("\n" -> "\r\n") of a raster with no
    # 0x0A bytes: exact under the CRLF reading only -- decodes clean.
    crlf = good[:hdr_end] + b"\r\n" + good[hdr_end + 1 :]
    assert mm.decode_ppm(crlf)["pixels"] == want
    # Conforming lone-\r separator with a raster that happens to start
    # 0x0A: exact under the lone-\r reading only -- decodes.
    raster = good[hdr_end + 1 :]
    lone_cr = good[:hdr_end] + b"\r" + b"\n" + raster[1:]
    d = mm.decode_ppm(lone_cr)
    assert d["pixels"][0][0] == 0x0A
    assert d["pixels"][1:] == want[1:]
    # Neither reading exact: still a loud error.
    with pytest.raises(ValueError, match="ambiguous"):
        mm.decode_ppm(lone_cr + b"\n\n")
    # Trailing junk: raise loudly.
    with pytest.raises(ValueError, match="ambiguous"):
        mm.decode_ppm(crlf + b"junk")
    # a non-whitespace separator is equally malformed (the tokenizer folds
    # it into the maxval token, so the raise comes from int(), not the
    # separator check -- either way it is a loud ValueError)
    junk = good[:hdr_end] + b"x" + good[hdr_end + 1 :]
    with pytest.raises(ValueError):
        mm.decode_ppm(junk)
    # the conforming single-\n file still round-trips
    assert mm.decode_ppm(good)["pixels"] == mm.decode_bmp(mm.synth_bmp(2, 2, 5))["pixels"]


@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.integers(1, 4), st.integers(1, 200), st.integers(0, 10**9))
def test_wav_truncation_always_raises_fuzz(channels, n_frames, cutseed):
    """Every strict prefix of a valid PCM WAV must raise, never silently
    return fewer samples (the chunk walker used to tolerate a declared
    chunk size running past the buffer — found by porting the Avro
    truncation fuzz here)."""
    import pytest

    pcm = bytes((i * 7) % 256 for i in range(2 * channels * n_frames))
    blob = mm.synth_wav(channels, 8000, 16, pcm)
    cut = cutseed % (len(blob) - 1) if len(blob) > 1 else 0
    with pytest.raises(ValueError):
        mm.decode_wav_pcm(blob[:cut])


@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.integers(1, 4), st.integers(1, 50), st.integers(1, 7))
def test_wav_partial_trailing_chunk_header_raises(channels, n_frames, cut):
    """ADVICE r13 gap: a prefix cutting 1-7 bytes into a chunk header
    AFTER complete fmt/data chunks used to exit the walker silently (the
    earlier fuzz only passed because synth_wav places data last).  Append
    a LIST chunk after data and cut inside its 8-byte header."""
    import pytest

    pcm = bytes((i * 7) % 256 for i in range(2 * channels * n_frames))
    base = bytearray(mm.synth_wav(channels, 8000, 16, pcm))
    trailing = b"LIST" + (4).to_bytes(4, "little") + b"INFO"
    blob = bytes(base) + trailing[:cut]
    # patch the RIFF size so only the trailing header is the defect
    blob = (
        blob[:4] + (len(blob) - 8).to_bytes(4, "little") + blob[8:]
    )
    with pytest.raises(ValueError, match="partial chunk header"):
        mm.decode_wav_pcm(blob)
    # the complete-trailing-chunk form still decodes fine
    whole = bytes(base) + trailing
    whole = whole[:4] + (len(whole) - 8).to_bytes(4, "little") + whole[8:]
    assert mm.decode_wav_pcm(whole)["samples"] == mm.decode_wav_pcm(bytes(base))["samples"]


@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.integers(1, 12), st.integers(1, 8), st.integers(0, 10**9))
def test_bmp_ppm_truncation_always_raises_fuzz(w, h, cutseed):
    """Strict-prefix property for the pixel decoders, completing the set
    (Avro and WAV have the same pin): any prefix of a valid BMP/PPM must
    raise ValueError, never return a silently short or shifted pixel
    list."""
    import pytest

    for blob, decode in ((mm.synth_bmp(w, h, 7), mm.decode_bmp),
                         (mm.synth_ppm(w, h, 7), mm.decode_ppm)):
        cut = cutseed % (len(blob) - 1) if len(blob) > 1 else 0
        with pytest.raises(ValueError):
            decode(blob[:cut])


# ---- PNG decode (r14: real inflate + unfilter, stdlib zlib only) ----------

def _png_from_rows(rows, color_type=2, bit_depth=8, interlace=0):
    """Assemble a PNG from pre-filtered scanlines (each: filter byte +
    filtered data) -- the test-side encoder for exercising specific
    filter types."""
    import zlib

    h = len(rows)
    bpp = 3 if color_type == 2 else 4
    w = (len(rows[0]) - 1) // bpp
    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes((bit_depth, color_type, 0, 0, interlace))
    )
    return (
        mm._PNG_MAGIC
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"IDAT", zlib.compress(b"".join(bytes(r) for r in rows)))
        + mm._png_chunk(b"IEND", b"")
    )


@settings(max_examples=40, deadline=None, derandomize=True)
@given(st.integers(1, 16), st.integers(1, 12), st.integers(0, 10**6))
def test_png_roundtrip_matches_bmp_pattern(w, h, doc_id):
    """decode(synth_png_rgb(x)) must equal the BMP decode of the same
    pixel pattern -- the cross-format identity that pins the whole
    inflate + unfilter path."""
    d = mm.decode_png(mm.synth_png_rgb(w, h, doc_id))
    assert d["fmt"] == "png" and (d["width"], d["height"]) == (w, h)
    assert d["pixels"] == mm.decode_bmp(mm.synth_bmp(w, h, doc_id))["pixels"]


def test_png_all_filter_types_by_hand():
    """Filters 1-4 unfiltered against hand-forward-filtered scanlines of
    a known 3x3 image (the test filters FORWARD, production unfilters --
    independent directions)."""
    w = h = 3
    img = [
        [(10, 20, 30), (40, 50, 60), (70, 80, 90)],
        [(15, 25, 35), (45, 55, 65), (75, 85, 95)],
        [(200, 210, 220), (230, 240, 250), (5, 15, 25)],
    ]
    flat = [bytes(v for px in row for v in px) for row in img]

    def fwd(ft, cur, prior):
        out = bytearray([ft])
        for i in range(len(cur)):
            a = cur[i - 3] if i >= 3 else 0
            b = prior[i]
            c = prior[i - 3] if i >= 3 else 0
            if ft == 0:
                out.append(cur[i])
            elif ft == 1:
                out.append((cur[i] - a) & 0xFF)
            elif ft == 2:
                out.append((cur[i] - b) & 0xFF)
            elif ft == 3:
                out.append((cur[i] - ((a + b) >> 1)) & 0xFF)
            else:
                out.append((cur[i] - mm._paeth(a, b, c)) & 0xFF)
        return out

    want = [px for row in img for px in row]
    for f1, f2, f3 in [(1, 2, 3), (4, 1, 4), (2, 4, 3), (3, 3, 1)]:
        prior = bytes(3 * w)
        rows = []
        for ft, cur in zip((f1, f2, f3), flat):
            rows.append(fwd(ft, cur, prior))
            prior = cur
        d = mm.decode_png(_png_from_rows(rows))
        assert d["pixels"] == want, (f1, f2, f3)


def test_png_rgba_roundtrip():
    import zlib  # noqa: F401  (used by _png_from_rows)

    rows = [
        bytearray([0]) + bytes((1, 2, 3, 255, 4, 5, 6, 128)),
        bytearray([0]) + bytes((7, 8, 9, 0, 10, 11, 12, 64)),
    ]
    d = mm.decode_png(_png_from_rows(rows, color_type=6))
    assert d["width"] == 2 and d["height"] == 2
    assert d["pixels"] == [(1, 2, 3, 255), (4, 5, 6, 128),
                           (7, 8, 9, 0), (10, 11, 12, 64)]


def test_png_strictness_rejections():
    import pytest

    good = mm.synth_png_rgb(4, 3, 7)
    # trailing bytes after IEND
    with pytest.raises(ValueError, match="trailing"):
        mm.decode_png(good + b"x")
    # CRC corruption (flip one bit inside the IDAT body)
    blob = bytearray(good)
    idat_at = good.index(b"IDAT")
    blob[idat_at + 6] ^= 0x01
    with pytest.raises(ValueError, match="CRC"):
        mm.decode_png(bytes(blob))
    # interlaced: rebuild IHDR with interlace=1 (fresh CRC, so only the
    # interlace flag is the defect)
    rows = [bytearray([0]) + bytes(12)]
    with pytest.raises(ValueError, match="interlace"):
        mm.decode_png(_png_from_rows(rows, interlace=1))
    # unsupported color type / depth combos (r17 closed the layout
    # matrix -- gray+alpha and RGBA16 decode now -- so the rejection
    # cases are a spec-legal-but-undecoded depth (gray at 2) and a
    # spec-ILLEGAL combination (16-bit palette))
    with pytest.raises(ValueError, match="unsupported"):
        mm.decode_png(_png_from_rows(rows, bit_depth=2, color_type=0))
    with pytest.raises(ValueError, match="unsupported"):
        mm.decode_png(_png_from_rows(rows, bit_depth=16, color_type=3))
    # palette PNG without a PLTE chunk must refuse by name
    with pytest.raises(ValueError, match="PLTE"):
        mm.decode_png(_png_from_rows([bytearray([0]) + bytes(4)], color_type=3))
    # inflated size vs IHDR mismatch
    import zlib as _z
    short = (
        mm._PNG_MAGIC
        + mm._png_chunk(b"IHDR", (4).to_bytes(4, "big") + (3).to_bytes(4, "big")
                        + bytes((8, 2, 0, 0, 0)))
        + mm._png_chunk(b"IDAT", _z.compress(bytes(5)))
        + mm._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="size mismatch"):
        mm.decode_png(short)
    # header-only synthetic container falls through to header metadata in
    # decode_media but raises in decode_png
    hdr_only = mm.synth_png(10, 20, b"garbage")
    with pytest.raises(ValueError):
        mm.decode_png(hdr_only)
    assert mm.decode_media(hdr_only, "x") == {"fmt": "png", "width": 10, "height": 20}


@settings(max_examples=80, deadline=None, derandomize=True)
@given(st.integers(1, 12), st.integers(1, 8), st.integers(0, 10**9))
def test_png_truncation_always_raises_fuzz(w, h, cutseed):
    """Strict-prefix property, same pin as Avro/WAV/BMP/PPM: any prefix
    of a valid PNG must raise ValueError (partial chunk header, missing
    CRC, truncated body, or missing IEND), never return pixels."""
    import pytest

    blob = mm.synth_png_rgb(w, h, 7)
    cut = cutseed % (len(blob) - 1) if len(blob) > 1 else 0
    with pytest.raises(ValueError):
        mm.decode_png(blob[:cut])


# ---- GIF decode (r14: real variable-width LZW, pure Python) ---------------

@settings(max_examples=40, deadline=None, derandomize=True)
@given(st.integers(1, 16), st.integers(1, 12), st.integers(0, 10**6))
def test_gif_roundtrip_matches_palette_pattern(w, h, doc_id):
    d = mm.decode_gif(mm.synth_gif_indexed(w, h, doc_id))
    assert d["fmt"] == "gif" and (d["width"], d["height"]) == (w, h)
    want = []
    for y in range(h):
        for x in range(w):
            k = (x + y * w + doc_id) % 16
            want.append(
                ((11 * k + doc_id) % 256, (7 * k + 3 * doc_id) % 256,
                 (5 * k + doc_id) % 256)
            )
    assert d["pixels"] == want


@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.integers(1, 400), st.integers(2, 8), st.integers(0, 10**9))
def test_lzw_roundtrip_fuzz(n, mcs, seed):
    """The LZW codec pair round-trips across code sizes, including the
    width-growth schedule (the encoder must simulate the DECODER's
    table counter -- bumping on its own counter desyncs one code early,
    the bug this fuzz originally caught)."""
    import random

    rng = random.Random(seed)
    idx = [rng.randrange(1 << mcs) for _ in range(n)]
    assert mm._lzw_decode(mcs, mm._lzw_encode(mcs, idx), n) == idx


def test_lzw_twelve_bit_cap():
    idx = [i % 4 for i in range(30000)]
    assert mm._lzw_decode(2, mm._lzw_encode(2, idx), len(idx)) == idx


def test_gif_spec_vector_from_the_wild():
    """The ubiquitous 1x1 transparent GIF, byte-for-byte as published --
    external validation that the decoder speaks real GIF (including the
    graphics-control extension skip), not just its own encoder's
    dialect."""
    one = bytes.fromhex(
        "47494638396101000100800000000000ffffff"
        "21f90401000000002c00000000010001000002024401003b"
    )
    d = mm.decode_gif(one)
    assert (d["width"], d["height"]) == (1, 1)
    assert d["pixels"] == [(0, 0, 0)]


def test_gif_strictness_rejections():
    import pytest

    good = mm.synth_gif_indexed(4, 3, 7)
    with pytest.raises(ValueError, match="trailing"):
        mm.decode_gif(good + b"x")
    # interlace flag flipped on sequentially-laid-out data (r15: the flag
    # is SUPPORTED now, so this is no longer an error -- the decoder
    # faithfully de-interlaces, yielding the row-permuted raster)
    blob = bytearray(good)
    desc = good.index(b"\x2c")
    blob[desc + 9] |= 0x40
    scrambled = mm.decode_gif(bytes(blob))
    base = mm.decode_gif(good)
    rows = [base["pixels"][y * 4:(y + 1) * 4] for y in range(3)]
    order = mm._gif_interlace_order(3)
    expect = [None] * 3
    for k, y in enumerate(order):
        expect[y] = rows[k]
    assert scrambled["pixels"] == [p for r in expect for p in r]
    # corrupt LZW: flip a bit mid-stream (after descriptor + min code size
    # + first sub-block length byte)
    blob = bytearray(good)
    blob[desc + 12] ^= 0x10
    with pytest.raises(ValueError):
        mm.decode_gif(bytes(blob))
    # no palette at all: clear the GCT flag and splice the table out
    headless = bytearray(good)
    headless[10] &= 0x7F
    headless = headless[:13] + headless[13 + 48:]
    with pytest.raises(ValueError, match="color table"):
        mm.decode_gif(bytes(headless))
    # header-only synthetic container decodes via fallthrough in
    # decode_media but raises in decode_gif
    hdr_only = mm.synth_gif(10, 20, b"garbage")
    with pytest.raises(ValueError):
        mm.decode_gif(hdr_only)
    assert mm.decode_media(hdr_only, "x") == {"fmt": "gif", "width": 10, "height": 20}


@settings(max_examples=80, deadline=None, derandomize=True)
@given(st.integers(1, 12), st.integers(1, 8), st.integers(0, 10**9))
def test_gif_truncation_always_raises_fuzz(w, h, cutseed):
    """Strict-prefix property, completing the Avro/WAV/BMP/PPM/PNG set."""
    import pytest

    blob = mm.synth_gif_indexed(w, h, 7)
    cut = cutseed % (len(blob) - 1) if len(blob) > 1 else 0
    with pytest.raises(ValueError):
        mm.decode_gif(blob[:cut])


# ---- MP4 sample-table demux (r14: real container-level frame sampling) ----

@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.integers(0, 2100))
def test_mp4_demux_roundtrip_all_boundary_sizes(n):
    """mux -> demux must yield exactly the payload's every-4th-64-byte
    keyframes, including the 0/63/64/255/256 chunk boundaries the
    integer range covers."""
    payload = bytes((i * 7) % 256 for i in range(n))
    frames = mm.demux_mp4_samples(mm.synth_mp4_samples(payload))
    exp, k = [], 0
    while k * 256 < n and k < 8:
        exp.append((k, k * 256, payload[k * 256 : k * 256 + 64]))
        k += 1
    assert frames == exp
    # the mvhd header still parses on the same blob
    assert mm.parse_media_header(mm.synth_mp4_samples(payload))["fmt"] == "mp4"


def test_mp4_demux_strictness():
    import pytest

    blob = mm.synth_mp4_samples(bytes(600))
    # truncation anywhere raises (box walk or table cut)
    for cut in (10, len(blob) // 2, len(blob) - 1):
        with pytest.raises(ValueError):
            mm.demux_mp4_samples(blob[:cut])
    # a missing stss is a loud error, not silent no-frames
    at = blob.index(b"stss")
    broken = blob[: at] + b"free" + blob[at + 4 :]
    with pytest.raises(ValueError, match="missing sample tables"):
        mm.demux_mp4_samples(broken)
    # an stco offset pointing outside mdat raises
    at = blob.index(b"stco")
    bad = bytearray(blob)
    bad[at + 12 : at + 16] = (len(blob) + 99).to_bytes(4, "big")
    with pytest.raises(ValueError, match="outside mdat"):
        mm.demux_mp4_samples(bytes(bad))
    # stsc/stsz disagreement raises (declare one fewer sample)
    at = blob.index(b"stsz")
    bad = bytearray(blob)
    n = int.from_bytes(blob[at + 12 : at + 16], "big")
    bad[at + 12 : at + 16] = (n - 1).to_bytes(4, "big")
    with pytest.raises(ValueError):
        mm.demux_mp4_samples(bytes(bad))


def test_mp4_demux_matches_byte_slicer_on_fixture(spark, sf_dir):
    """The registered query's demux path must reproduce the byte-slicer
    operator frame-for-frame on the real fixture (shared oracle
    justification)."""
    from flink_kafka_consumer_cassandra_output_spark.operators import multimodal as M

    media = M.media_from_documents(
        __import__("flink_kafka_consumer_cassandra_output_spark.sources.tables", fromlist=["load"]).load(spark, sf_dir, "documents")
    )
    a = M.sample_frames(media).orderBy("doc_id", "sample_idx").collect()
    b = M.sample_frames_mp4(media).orderBy("doc_id", "sample_idx").collect()
    assert a == b and len(a) > 0


# ---- baseline grayscale JPEG (r14: real Huffman + IDCT, DC-exact gate) ----

@settings(max_examples=40, deadline=None, derandomize=True)
@given(st.integers(1, 4), st.integers(1, 3), st.integers(0, 10**6))
def test_jpeg_gray_dc_exact_roundtrip(wb, hb, doc_id):
    """Constant 8x8 blocks FDCT to a DC that is a multiple of 8, so the
    float IDCT is exact in IEEE doubles and decode(synth(x)) == x
    bit-for-bit."""
    w, h = 8 * wb, 8 * hb
    d = mm.decode_jpeg_gray(mm.synth_jpeg_gray(w, h, doc_id))
    assert (d["width"], d["height"]) == (w, h)
    want = [
        (31 * doc_id + 7 * (x // 8) + 13 * (y // 8)) % 256
        for y in range(h)
        for x in range(w)
    ]
    assert d["pixels"] == want


def test_jpeg_ac_path_against_numpy_idct():
    """The general AC machinery (run/size symbols, EXTEND, de-zigzag,
    dequant, full IDCT) checked against an INDEPENDENT numpy matrix-IDCT
    on a hand-crafted single-block scan with nonzero AC coefficients."""
    import numpy as np

    # tables: DC as production; AC gets EOB, (run0,size1), (run1,size2)
    ac_lengths = [0, 3] + [0] * 14
    ac_symbols = [0x00, 0x01, 0x12]
    dc_lengths, dc_symbols, dc_codes = mm._HT_DC
    ac_codes = mm._canonical_codes(ac_lengths, ac_symbols)
    bw = mm._BitWriter()
    # DC = 40 (diff 40, category 6); AC zigzag[1] = 1 (size 1, bit '1');
    # then run=1 skip to zigzag[3], value = -2 (size 2, raw bits 01)
    code, n = dc_codes[6]; bw.write(code, n); bw.write(40, 6)
    code, n = ac_codes[0x01]; bw.write(code, n); bw.write(1, 1)
    code, n = ac_codes[0x12]; bw.write(code, n); bw.write(0b01, 2)
    code, n = ac_codes[0x00]; bw.write(code, n)
    scan = bw.flush()

    def seg(marker, body):
        return bytes((0xFF, marker)) + (len(body) + 2).to_bytes(2, "big") + body

    blob = (
        b"\xff\xd8"
        + seg(0xDB, bytes((0x00,)) + bytes([2] * 64))  # quant = 2 everywhere
        + seg(0xC4, bytes((0x00,)) + bytes(dc_lengths) + bytes(dc_symbols))
        + seg(0xC4, bytes((0x10,)) + bytes(ac_lengths) + bytes(ac_symbols))
        + seg(0xC0, bytes((8,)) + (8).to_bytes(2, "big") + (8).to_bytes(2, "big")
              + bytes((1, 1, 0x11, 0)))
        + seg(0xDA, bytes((1, 1, 0x00, 0, 63, 0)))
        + scan + b"\xff\xd9"
    )
    got = mm.decode_jpeg_gray(blob)
    # independent reference: orthonormal DCT matrix IDCT
    coeffs = np.zeros((8, 8))
    coeffs[mm._ZIGZAG[0][0]][mm._ZIGZAG[0][1]] = 40 * 2
    coeffs[mm._ZIGZAG[1][0]][mm._ZIGZAG[1][1]] = 1 * 2
    coeffs[mm._ZIGZAG[3][0]][mm._ZIGZAG[3][1]] = -2 * 2
    C = np.zeros((8, 8))
    for u in range(8):
        for x in range(8):
            C[u, x] = (np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8)) * np.cos(
                (2 * x + 1) * u * np.pi / 16
            )
    ref = C.T @ coeffs @ C + 128.0
    want = np.clip(np.round(ref), 0, 255).astype(int)
    got_arr = np.array(got["pixels"]).reshape(8, 8)
    # guard the comparison away from .5 rounding boundaries
    assert np.abs(ref - np.floor(ref) - 0.5).min() > 1e-9
    assert (got_arr == want).all(), (got_arr, want)


def test_jpeg_strictness_rejections():
    import pytest

    good = mm.synth_jpeg_gray(16, 8, 7)
    with pytest.raises(ValueError, match="trailing"):
        mm.decode_jpeg_gray(good + b"x")
    # a BASELINE-encoded scan relabeled SOF2 routes to the progressive
    # decoder (SOF2 is supported since r15) and fails ITS validation:
    # the baseline SOS declares band 0..63, illegal for a DC scan
    blob = bytearray(good)
    sof_at = good.index(b"\xff\xc0")
    blob[sof_at + 1] = 0xC2
    with pytest.raises(ValueError, match="DC scan with Se"):
        mm.decode_jpeg_gray(bytes(blob))
    # the header-only synthesizer (3-component, no tables) refuses loudly
    with pytest.raises(ValueError):
        mm.decode_jpeg_gray(mm.synth_jpeg(16, 8, b"opaque"))


def _blocks(wb: int, hb: int):
    """Dimensions (8*w, 8*h) for w in 1..wb, h in 1..hb."""
    return st.tuples(st.integers(1, wb), st.integers(1, hb)).map(
        lambda b: (8 * b[0], 8 * b[1]))


def _max12(d):
    vals = d["pixels"] if d["fmt"] == "jpeg_gray12" else [v for px in d["pixels"] for v in px]
    return max(vals) <= 4095


#: One row per JPEG encoder case.  ``trunc``: (dimension strategy, doc id,
#: synth kwargs, hypothesis max_examples) of its strict-prefix fuzz;
#: ``strict``: (w, h, doc id, fmt, extra check) of its decode_media
#: strict-mode case; ``route``: (w, h, doc id, fmt, the process decoder)
#: decode_jpeg_gray must dispatch to.
JPEG_CASES = {
    "gray": dict(synth=mm.synth_jpeg_gray, trunc=(_blocks(3, 2), 7, {}, 80)),
    "ac": dict(synth=mm.synth_jpeg_gray_ac, trunc=(_blocks(2, 2), 11, {}, 80)),
    "color": dict(synth=mm.synth_jpeg_color, trunc=(_blocks(2, 2), 13, {}, 60)),
    "420": dict(synth=mm.synth_jpeg_color_420, trunc=(st.just((16, 16)), 11, {}, 60)),
    "partial_mcu": dict(
        synth=mm.synth_jpeg_color_420, trunc=(st.just((21, 13)), 7, {}, 60)),
    "progressive": dict(
        synth=mm.synth_jpeg_progressive, trunc=(st.just((16, 16)), 11, {}, 80)),
    "progressive_refined": dict(
        synth=mm.synth_jpeg_progressive_refined, trunc=(st.just((16, 16)), 11, {}, 60)),
    "restart": dict(
        synth=mm.synth_jpeg_gray_restart,
        trunc=(st.just((24, 16)), 7, {"interval": 2}, 60),
        strict=(16, 16, 9, "jpeg_gray", lambda d: "pixels" in d)),
    "progressive_restart": dict(
        synth=mm.synth_jpeg_progressive_restart,
        trunc=(st.just((24, 16)), 7, {"interval": 2}, 60)),
    "gray12": dict(
        synth=mm.synth_jpeg_gray12, trunc=(st.just((24, 16)), 7, {}, 60),
        strict=(16, 16, 9, "jpeg_gray12", _max12)),
    "color12": dict(
        synth=mm.synth_jpeg_color12, trunc=(st.just((17, 11)), 7, {}, 60),
        strict=(16, 12, 9, "jpeg_rgb12", _max12)),
    "arith": dict(  # odd doc id: restart arm
        synth=mm.synth_jpeg_gray_arith, trunc=(st.just((24, 16)), 7, {}, 60),
        strict=(20, 13, 42, "jpeg_gray", lambda d: len(d["pixels"]) == 20 * 13),
        route=(16, 16, 8, "jpeg_gray", mm._decode_jpeg_arith)),
    "hier": dict(
        synth=mm.synth_jpeg_gray_hier, trunc=(st.just((20, 12)), 7, {}, 60),
        strict=(18, 10, 3, "jpeg_gray_hier", lambda d: len(d["pixels"]) == 180),
        route=(16, 12, 9, "jpeg_gray_hier", mm._decode_jpeg_hierarchical)),
    "arith_prog": dict(  # odd doc id: restart arm
        synth=mm.synth_jpeg_gray_arith_prog, trunc=(st.just((24, 16)), 7, {}, 60),
        strict=(20, 13, 42, "jpeg_gray", lambda d: len(d["pixels"]) == 20 * 13),
        route=(16, 12, 8, "jpeg_gray", mm._decode_jpeg_arith_progressive)),
    "lossless": dict(  # odd doc id: restart arm
        synth=mm.synth_jpeg_gray_lossless, trunc=(st.just((20, 11)), 7, {}, 60),
        strict=(12, 7, 5, "jpeg_gray_lossless", lambda d: len(d["pixels"]) == 84),
        route=(14, 9, 4, "jpeg_gray_lossless", mm._decode_jpeg_lossless)),
}


def _jpeg_cases(field):
    return [name for name, case in JPEG_CASES.items() if field in case]


@pytest.mark.parametrize("name", _jpeg_cases("trunc"))
def test_jpeg_truncation_always_raises_fuzz(name):
    """Strict-prefix property: every proper prefix of an encoder's file
    raises ValueError, never decodes and never crashes otherwise."""
    synth = JPEG_CASES[name]["synth"]
    dims, doc_id, kwargs, examples = JPEG_CASES[name]["trunc"]

    @settings(max_examples=examples, deadline=None, derandomize=True)
    @given(dims, st.integers(0, 10**9))
    def run(wh, cutseed):
        blob = synth(*wh, doc_id, **kwargs)
        cut = cutseed % (len(blob) - 1) if len(blob) > 1 else 0
        with pytest.raises(ValueError):
            mm.decode_jpeg_gray(blob[:cut])

    run()


@pytest.mark.parametrize("name", _jpeg_cases("strict"))
def test_jpeg_strict_decode_media_accepts(name):
    """decode_media(strict=True) must pass the encoder's payload through
    the real decoder (no degradation to header metadata)."""
    w, h, doc_id, fmt, check = JPEG_CASES[name]["strict"]
    d = mm.decode_media(JPEG_CASES[name]["synth"](w, h, doc_id), "x", strict=True)
    assert d["fmt"] == fmt and check(d)


@pytest.mark.parametrize("name", _jpeg_cases("route"))
def test_jpeg_routes_through_decode_jpeg_gray(name):
    """The shared walk must dispatch each process to its decoder (not
    refuse it as non-baseline; for hierarchical files, on DHP BEFORE the
    frame header -- otherwise the half-resolution reference frame would
    silently decode as the whole image)."""
    w, h, doc_id, fmt, decoder = JPEG_CASES[name]["route"]
    blob = JPEG_CASES[name]["synth"](w, h, doc_id)
    d = mm.decode_jpeg_gray(blob)
    assert d == decoder(blob) and d["fmt"] == fmt and d["width"] == w


#: sha256 per ``synth_jpeg_*`` over :data:`JPEG_DIGEST_GRID`, recorded
#: from the encoders before they moved onto the shared file assembler.
JPEG_ENCODER_DIGESTS = {
    "color": "e9cfb14c523c22b8eb5ba49c1b3c7f910f4fcd9470c4d8885b731f580c9b9996",
    "color12": "ce9a20c89e2fd9f41ce338d7eadea28744de097b5c66eed95928a3c1293c32cb",
    "color_420": "9b07c41c5dce477e250d25fa15253ab333de0a3bad3fab9be211af085b865925",
    "color_arith": "d429152e0c4fd61ac5405420748d44131fd80ad3b88bfdb6e238b17cf3a30d61",
    "gray": "62275c0bc3916018874a13cc1b5b8736578556c488cf6bda17c02d7fef58619f",
    "gray12": "d60c57e108ac439204a2f50339bd881e7480a2dfcad880d3cd1e8984ed0b19a4",
    "gray12_arith": "e61eee72ca20efa047c219bdfef697fa905f7c247c631bf3dec4517fe3f78813",
    "gray_ac": "dc989c40b23f245b795cfc56c341c378088db4b390d749886cfac11f0fa62546",
    "gray_arith": "29a61e47bfe93170988df7e20862ef3da0b27f7f970e4815b53d1e83aa9555dd",
    "gray_arith_prog": "7358da9c9e86859320b6027ef10af0614bc1199d2cc0c18353defcf040b33df3",
    "gray_hier": "f4520e664269167aa29928383d2a0967f4a5939ed5f0a96ae40224be446d9f92",
    "gray_lossless": "3a6d61523c6e412e5d0ae942964ef9c2ac865ed3e39797d5ce4a56c7bb547a2e",
    "gray_restart": "330ad73032095811ed0425ecd51b6f4f6d57ba750b4a4bbafb51293e901c8e51",
    "progressive": "3473869a61017f7ba9e3019936de877bb4402d08e76e29a5aff684b54b21f1b2",
    "progressive_refined": "c603a36016602fb1ac29ac95980ac9b293e720badbd6a7333e950ab85883497f",
    "progressive_restart": "93d287bedbc56d56fa29e8cc5dad0a3e698b2f716abcbaf6b619d6a35f6b534f",
}
#: (w, h, doc id): 8-multiples, partial MCUs (21x13, 17-wide) and odd doc
#: ids (the arithmetic/lossless restart arms); encoders taking
#: ``interval`` also run at ``interval=2``.
JPEG_DIGEST_GRID = [(8, 8, 0), (21, 13, 7), (24, 16, 3), (16, 16, 10), (40, 24, 5)]


def test_jpeg_encoder_bytes_pinned():
    """Every JPEG encoder's output is pinned byte for byte: the decode
    gates hash decoded statistics, so a re-ordered segment or a different
    but valid table would pass them unnoticed."""
    import hashlib
    import inspect

    got = {}
    for name in sorted(n for n in dir(mm) if n.startswith("synth_jpeg_")):
        synth = getattr(mm, name)
        kwargs = [{}]
        if "interval" in inspect.signature(synth).parameters:
            kwargs.append({"interval": 2})
        h = hashlib.sha256()
        for w, hh, doc_id in JPEG_DIGEST_GRID:
            for kw in kwargs:
                blob = synth(w, hh, doc_id, **kw)
                h.update(len(blob).to_bytes(4, "big") + blob)
        got[name[len("synth_jpeg_"):]] = h.hexdigest()
    assert got == JPEG_ENCODER_DIGESTS


def test_jpeg_short_sof_sos_bodies_raise_valueerror_not_indexerror():
    """ADVICE r14: a length-consistent but SHORT SOF0/SOS body must raise
    ValueError (caught by decode_media's strictness fallthrough), never
    IndexError (which would crash the operator)."""
    import pytest

    def seg(marker, body):
        return bytes((0xFF, marker)) + (len(body) + 2).to_bytes(2, "big") + body

    good = mm.synth_jpeg_gray(8, 8, 3)
    dqt_at = good.index(b"\xff\xdb")
    sof_at = good.index(b"\xff\xc0")
    sos_at = good.index(b"\xff\xda")
    prelude = good[:sof_at]  # SOI + DQT + both DHTs, all real

    # 5-byte SOF0 body (precision + dims only, no component spec)
    short_sof = seg(0xC0, bytes((8,)) + (8).to_bytes(2, "big") + (8).to_bytes(2, "big"))
    blob = prelude + short_sof + good[sos_at:]
    with pytest.raises(ValueError, match="short JPEG SOF0"):
        mm.decode_jpeg_gray(blob)

    # 2-byte SOS body (Ns + half a component pair, no Ss/Se/AhAl)
    scan_end = good.index(b"\xff\xd9")
    real_sos_end = sos_at + 2 + int.from_bytes(good[sos_at + 2 : sos_at + 4], "big")
    short_sos = seg(0xDA, bytes((1, 1)))
    blob2 = good[:sos_at] + short_sos + good[real_sos_end:scan_end] + b"\xff\xd9"
    with pytest.raises(ValueError, match="short JPEG SOS"):
        mm.decode_jpeg_gray(blob2)
    assert dqt_at > 0  # sanity: the synth blob had the expected layout

    # DHT body shorter than its 16 code-length counts
    short_dht = seg(0xC4, bytes((0x00, 0, 0)))
    blob3 = good[:dqt_at] + short_dht + good[dqt_at:]
    with pytest.raises(ValueError, match="DHT cut"):
        mm.decode_jpeg_gray(blob3)


def test_ppm_crlf_residual_collision_now_warns():
    """ADVICE r14: the documented lone-CR-plus-trailing-newline collision
    decodes under the CRLF reading but must be LOUD (a warning), and the
    warning must fire only when the file's last byte is 0x0A (the only
    byte-consistent ambiguous subcase)."""
    import warnings

    g2 = mm.synth_ppm(2, 2, 10)  # doc_id=10 -> raster[0] == 0x0A
    hdr2 = g2.index(b"255\n") + 3
    lone = g2[:hdr2] + b"\r" + g2[hdr2 + 1 :]
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        mm.decode_ppm(lone + b"\n")
    assert any("CRLF disambiguation" in str(x.message) for x in w)

    # a conforming CRLF file whose raster does NOT end 0x0A stays quiet
    good = mm.synth_ppm(2, 2, 3)
    hdr = good.index(b"255\n") + 3
    crlf = good[:hdr] + b"\r\n" + good[hdr + 1 :]
    assert crlf[-1:] != b"\n"
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        out = mm.decode_ppm(crlf)
    assert out["pixels"] == mm.decode_ppm(good)["pixels"]
    assert not [x for x in w2 if "CRLF" in str(x.message)]


def _expected_ac_pixels(doc_id, w, h):
    sgn = lambda x: 1 if x % 4 in (0, 3) else -1  # noqa: E731
    rows = [[0] * w for _ in range(h)]
    for by in range(h // 8):
        for bx in range(w // 8):
            m = (17 * doc_id + 5 * bx + 11 * by) % 129 - 64
            n = (7 * doc_id + 3 * bx + by) % 27
            for y in range(8):
                for x in range(8):
                    rows[8 * by + y][8 * bx + x] = 128 + m + n * sgn(x) * sgn(y)
    return [v for r in rows for v in r]


@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.integers(1, 3), st.integers(1, 3), st.integers(0, 10**9))
def test_jpeg_ac_decode_synth_identity_fuzz(wb, hb, doc_id):
    """The AC image class is integer-certifiable: decode(synth_ac(x)) must
    equal the closed-form 128 + m + n*s(x)*s(y) raster exactly (the (4,4)
    basis is +-1/2 per sample), across block counts and doc ids -- this is
    the local twin of the mm_jpeg_ac_stats external hash gate."""
    w, h = 8 * wb, 8 * hb
    d = mm.decode_jpeg_gray(mm.synth_jpeg_gray_ac(w, h, doc_id))
    assert d["width"] == w and d["height"] == h
    assert d["pixels"] == _expected_ac_pixels(doc_id, w, h)


def test_jpeg_ac_scan_really_carries_zrl_and_ac_symbols():
    """Guards against a synth regression that silently degrades to DC-only
    (which would still round-trip): with n != 0 somewhere, the AC image
    must differ from the DC-only image of the same params, and its pixels
    must not be blockwise-constant."""
    d = mm.decode_jpeg_gray(mm.synth_jpeg_gray_ac(8, 8, 1))  # n = 7 for block (0,0)
    assert len(set(d["pixels"])) > 1
    # blockwise non-constant: the two AC half-populations both present
    m = (17 * 1) % 129 - 64
    n = 7 * 1 % 27
    assert {128 + m + n, 128 + m - n} <= set(d["pixels"])


def _expected_color_pixels(d, w, h):
    sgn = lambda x: 1 if x % 4 in (0, 3) else -1  # noqa: E731
    clamp = lambda v: min(255, max(0, v))  # noqa: E731
    out = []
    for y in range(h):
        for x in range(w):
            bx, by = x // 8, y // 8
            ss = sgn(x % 8) * sgn(y % 8)
            yv = 128 + ((17*d + 5*bx + 11*by) % 129 - 64) + ((7*d + 3*bx + by) % 27) * ss
            cb = ((13*d + 7*bx + 3*by) % 101 - 50) + ((11*d + bx + 5*by) % 23) * ss
            cr = ((19*d + 3*bx + 7*by) % 101 - 50) + ((5*d + 9*bx + by) % 23) * ss
            out.append((
                clamp(yv + ((91881 * cr + 32768) >> 16)),
                clamp(yv - ((22554 * cb + 46802 * cr + 32768) >> 16)),
                clamp(yv + ((116130 * cb + 32768) >> 16)),
            ))
    return out


@settings(max_examples=40, deadline=None, derandomize=True)
@given(st.integers(1, 3), st.integers(1, 3), st.integers(0, 10**9))
def test_jpeg_color_decode_synth_identity_fuzz(wb, hb, doc_id):
    """3-component 4:4:4 decode(synth(x)) == closed form: interleaved
    MCUs, per-component table selection (chroma tables at a different
    code length, dequant 2s on halved coefficients), independent DC
    predictors, and the libjpeg fixed-point YCbCr->RGB -- all integer-
    certifiable (the local twin of the mm_jpeg_color_stats hash gate)."""
    w, h = 8 * wb, 8 * hb
    d = mm.decode_jpeg_gray(mm.synth_jpeg_color(w, h, doc_id))
    assert d["fmt"] == "jpeg_rgb" and d["width"] == w and d["height"] == h
    assert d["pixels"] == _expected_color_pixels(doc_id, w, h)


def test_jpeg_color_is_not_grayscale_degenerate():
    """The color class must actually exercise the chroma math: some pixel
    has R != G or G != B (a grayscale-in-color-container fixture would
    leave the conversion untested)."""
    d = mm.decode_jpeg_gray(mm.synth_jpeg_color(24, 24, 5))
    assert any(r != g or g != b for r, g, b in d["pixels"])


def test_jpeg_color_unsupported_sampling_raises():
    """Sampling factors beyond 1-2 must refuse loudly, per the strictness
    contract (1x1 and 2x2/2x1/1x2 mixes decode via replication since the
    4:2:0 work; 3+ would need the general fractional upsampler)."""
    import pytest

    blob = bytearray(mm.synth_jpeg_color(8, 8, 3))
    sof_at = bytes(blob).index(b"\xff\xc0")
    # component 1's sampling byte: SOF0 body starts at sof_at+4;
    # precision(1)+dims(4)+ncomp(1) -> comp0 id at +6, sampling at +7
    blob[sof_at + 4 + 7] = 0x33  # 3x3 sampling: out of decode scope
    with pytest.raises(ValueError, match="sampling"):
        mm.decode_jpeg_gray(bytes(blob))
    # 2x2 Y on an 8x8 image is structurally valid since the partial-MCU
    # work (pad + crop), but this FILE was encoded 4:4:4 -- the
    # reinterpreted scan runs out of entropy data mid-MCU and the
    # strictness contract still raises
    blob[sof_at + 4 + 7] = 0x22
    with pytest.raises(ValueError):
        mm.decode_jpeg_gray(bytes(blob))


def _multirun_per_chunk(n_samples):
    pc, left = [], n_samples
    while left:
        take = 1 if len(pc) % 2 == 0 else min(2, left)
        pc.append(min(take, left))
        left -= pc[-1]
    return pc


@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.integers(0, 2000), st.integers(0, 3))
def test_mp4_demux_variant_invariance_fuzz(nbytes, variant):
    """co64 64-bit offsets, largesize mdat, and irregular multi-run stsc
    chunking (the box-format variants real muxers emit -- r14 VERDICT
    task 8) must demux to EXACTLY the default-stco output: samples stay
    contiguous in mdat, so (sample_idx, payload_offset, bytes) is
    invariant by construction."""
    payload = bytes((7 * i) % 256 for i in range(nbytes))
    base = mm.demux_mp4_samples(mm.synth_mp4_samples(payload))
    n = (nbytes + 63) // 64
    if variant == 0:
        blob = mm.synth_mp4_samples(payload, co64=True)
    elif variant == 1:
        blob = mm.synth_mp4_samples(payload, largesize_mdat=True)
    elif variant == 2:
        blob = mm.synth_mp4_samples(payload, co64=True, largesize_mdat=True)
    else:
        if n < 3:
            return
        blob = mm.synth_mp4_samples(payload, per_chunk=_multirun_per_chunk(n))
    assert mm.demux_mp4_samples(blob) == base


def test_mp4_demux_multirun_stsc_really_multirun():
    """Guard the fuzz against a degenerate pattern: the irregular chunking
    must actually produce >= 3 stsc runs in the file."""
    payload = bytes(64 * 9)
    blob = mm.synth_mp4_samples(payload, per_chunk=_multirun_per_chunk(9))
    at = blob.index(b"stsc") + 4
    n_runs = int.from_bytes(blob[at + 4 : at + 8], "big")
    assert n_runs >= 3, n_runs


def test_mp4_demux_stco_co64_conflict_and_absence_raise():
    import pytest

    blob = mm.synth_mp4_samples(bytes(300))
    co64_blob = mm.synth_mp4_samples(bytes(300), co64=True)
    # splice the co64 box from the variant next to the stco file's stbl:
    # simplest conflict construction -- append a second moov carrying co64
    at = co64_blob.index(b"moov") - 4
    ln = int.from_bytes(co64_blob[at : at + 4], "big")
    second_moov = co64_blob[at : at + ln]
    with pytest.raises(ValueError, match="both stco and co64"):
        mm.demux_mp4_samples(blob + second_moov)
    # neither offset table: excise stco by renaming the box type
    broken = blob.replace(b"stco", b"xxco")
    with pytest.raises(ValueError, match="stco"):
        mm.demux_mp4_samples(broken)


@settings(max_examples=80, deadline=None, derandomize=True)
@given(st.integers(0, 3), st.integers(0, 10**9))
def test_mp4_demux_variant_truncation_always_raises_fuzz(variant, cutseed):
    """Strict-prefix property across every mux variant, including the
    largesize header path."""
    import pytest

    payload = bytes(64 * 6 + 5)
    if variant == 0:
        blob = mm.synth_mp4_samples(payload)
    elif variant == 1:
        blob = mm.synth_mp4_samples(payload, co64=True)
    elif variant == 2:
        blob = mm.synth_mp4_samples(payload, largesize_mdat=True)
    else:
        blob = mm.synth_mp4_samples(payload, per_chunk=_multirun_per_chunk(7))
    cut = cutseed % (len(blob) - 1) if len(blob) > 1 else 0
    with pytest.raises(ValueError):
        mm.demux_mp4_samples(blob[:cut])


def _expected_420_pixels(d, w, h):
    sgn = lambda x: 1 if x % 4 in (0, 3) else -1  # noqa: E731
    clamp = lambda v: min(255, max(0, v))  # noqa: E731
    out = []
    for y in range(h):
        for x in range(w):
            my, ny = mm._color_block_mn(0, d, x // 8, y // 8)
            cx, cy = x // 2, y // 2
            mb, nb = mm._color_block_mn(1, d, cx // 8, cy // 8)
            mr, nr = mm._color_block_mn(2, d, cx // 8, cy // 8)
            yv = 128 + my + ny * sgn(x % 8) * sgn(y % 8)
            cb = mb + nb * sgn(cx % 8) * sgn(cy % 8)
            cr = mr + nr * sgn(cx % 8) * sgn(cy % 8)
            out.append((
                clamp(yv + ((91881 * cr + 32768) >> 16)),
                clamp(yv - ((22554 * cb + 46802 * cr + 32768) >> 16)),
                clamp(yv + ((116130 * cb + 32768) >> 16)),
            ))
    return out


@settings(max_examples=30, deadline=None, derandomize=True)
@given(st.integers(1, 2), st.integers(1, 2), st.integers(0, 10**9))
def test_jpeg_420_decode_synth_identity_fuzz(wb, hb, doc_id):
    """4:2:0 decode(synth(x)) == closed form: the 2x2-sampled Y walk (four
    blocks per MCU, dx fastest), half-res chroma with replication
    upsampling, per-component tables and predictors -- the local twin of
    the mm_jpeg_420_stats hash gate."""
    w, h = 16 * wb, 16 * hb
    d = mm.decode_jpeg_gray(mm.synth_jpeg_color_420(w, h, doc_id))
    assert d["fmt"] == "jpeg_rgb" and d["width"] == w and d["height"] == h
    assert d["pixels"] == _expected_420_pixels(doc_id, w, h)


def test_jpeg_420_chroma_actually_half_resolution():
    """Adjacent full-res pixels sharing a chroma sample must differ only
    through Y when their chroma coordinates coincide -- a full-res chroma
    decode (wrong sampling walk) would break this for some doc."""
    d = mm.decode_jpeg_gray(mm.synth_jpeg_color_420(16, 16, 9))
    px = d["pixels"]
    # pixels (0,0) and (1,0) share chroma (0,0): their (r-y, g-y, b-y)
    # offsets must match exactly
    exp = _expected_420_pixels(9, 16, 16)
    assert px == exp
    # and the file is genuinely non-4:4:4: chroma blob count per MCU is 6
    blob = mm.synth_jpeg_color_420(16, 16, 9)
    sof_at = blob.index(b"\xff\xc0")
    assert blob[sof_at + 4 + 7] == 0x22  # Y sampling byte


def test_jpeg_partial_mcu_crop_is_a_prefix_of_the_padded_image():
    """Since the r15 partial-MCU work, a declared height SMALLER than the
    encoded MCU grid decodes to the cropped prefix (the spec's padding
    semantics), not an error -- pin that the crop is exactly the first
    rows of the full decode."""
    full = mm.decode_jpeg_gray(mm.synth_jpeg_color_420(16, 16, 1))
    blob = bytearray(mm.synth_jpeg_color_420(16, 16, 1))
    sof_at = bytes(blob).index(b"\xff\xc0")
    blob[sof_at + 5 : sof_at + 7] = (8).to_bytes(2, "big")
    cropped = mm.decode_jpeg_gray(bytes(blob))
    assert cropped["height"] == 8 and cropped["width"] == 16
    assert cropped["pixels"] == full["pixels"][: 16 * 8]


@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.integers(1, 17), st.integers(1, 17), st.integers(0, 10**9))
def test_png_adam7_and_gif_interlace_invariance_fuzz(w, h, doc_id):
    """Adam7 PNG and four-pass-interlaced GIF must decode to EXACTLY the
    sequential layout's raster (deinterlacing restores it), across every
    small-dimension edge case -- widths/heights below the pass origins
    produce empty Adam7 passes that contribute zero bytes."""
    a = mm.decode_png(mm.synth_png_rgb(w, h, doc_id))
    b = mm.decode_png(mm.synth_png_rgb(w, h, doc_id, interlaced=True))
    assert a == b
    g1 = mm.decode_gif(mm.synth_gif_indexed(w, h, doc_id))
    g2 = mm.decode_gif(mm.synth_gif_indexed(w, h, doc_id, interlaced=True))
    assert g1 == g2


def test_png_adam7_is_really_interlaced_on_the_wire():
    """The two layouts must differ as BYTES (else the fuzz is vacuous),
    and the interlaced file must declare method 1 in IHDR."""
    seq = mm.synth_png_rgb(9, 9, 5)
    adam = mm.synth_png_rgb(9, 9, 5, interlaced=True)
    assert seq != adam
    assert adam[len(mm._PNG_MAGIC) + 8 + 12] == 1  # IHDR interlace byte
    gif_i = mm.synth_gif_indexed(9, 9, 5, interlaced=True)
    desc_at = 6 + 7 + 48  # header + LSD + 16-color GCT
    assert gif_i[desc_at] == 0x2C and gif_i[desc_at + 9] & 0x40


@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.integers(0, 10**9))
def test_png_adam7_truncation_always_raises_fuzz(cutseed):
    """Strict-prefix property for the interlaced layout: a cut anywhere
    (chunk framing, CRC, or mid-pass after inflate) still raises."""
    import pytest

    blob = mm.synth_png_rgb(11, 7, 13, interlaced=True)
    cut = cutseed % (len(blob) - 1) if len(blob) > 1 else 0
    with pytest.raises(ValueError):
        mm.decode_png(blob[:cut])


def test_png_adam7_mid_pass_cut_raises():
    """A VALID zlib stream that ends mid-pass (re-deflated truncation)
    must raise the size-mismatch error, not silently scatter a partial
    image."""
    import zlib

    import pytest

    blob = mm.synth_png_rgb(11, 7, 13, interlaced=True)
    # rebuild with the inflated raster cut short but re-deflated whole
    at = len(mm._PNG_MAGIC) + 8 + 13 + 4  # past IHDR chunk
    raw = b""
    pos = len(mm._PNG_MAGIC)
    while pos < len(blob):
        ln = int.from_bytes(blob[pos:pos + 4], "big")
        ctype = blob[pos + 4:pos + 8]
        if ctype == b"IDAT":
            raw = zlib.decompress(blob[pos + 8:pos + 8 + ln])
        pos += 12 + ln
    cut_idat = zlib.compress(raw[:-5])
    ihdr_body = (11).to_bytes(4, "big") + (7).to_bytes(4, "big") + bytes((8, 2, 0, 0, 1))
    rebuilt = (
        mm._PNG_MAGIC
        + mm._png_chunk(b"IHDR", ihdr_body)
        + mm._png_chunk(b"IDAT", cut_idat)
        + mm._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="raster size|mid-pass"):
        mm.decode_png(rebuilt)
    assert at > 0


@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.integers(1, 30), st.integers(1, 30), st.integers(0, 10**9))
def test_jpeg_partial_mcu_gray_identity_fuzz(w, h, doc_id):
    """Arbitrary (non-multiple-of-8) dims: the decoder pads to the MCU
    grid and crops; every cropped pixel keeps the closed per-block form
    (local twin of the mm_jpeg_partial_mcu_stats gray arm)."""
    d = mm.decode_jpeg_gray(mm.synth_jpeg_gray_ac(w, h, doc_id))
    assert d["width"] == w and d["height"] == h
    assert d["pixels"] == [
        128
        + ((17 * doc_id + 5 * (x // 8) + 11 * (y // 8)) % 129 - 64)
        + ((7 * doc_id + 3 * (x // 8) + (y // 8)) % 27)
        * (1 if x % 8 % 4 in (0, 3) else -1)
        * (1 if y % 8 % 4 in (0, 3) else -1)
        for y in range(h)
        for x in range(w)
    ]


@settings(max_examples=30, deadline=None, derandomize=True)
@given(st.integers(1, 35), st.integers(1, 35), st.integers(0, 10**9))
def test_jpeg_partial_mcu_420_identity_fuzz(w, h, doc_id):
    """4:2:0 at arbitrary dims: 16x16 MCU padding + crop + half-res
    chroma replication all compose exactly (local twin of the gate's
    color arm)."""
    d = mm.decode_jpeg_gray(mm.synth_jpeg_color_420(w, h, doc_id))
    assert d["width"] == w and d["height"] == h
    assert d["pixels"] == _expected_420_pixels(doc_id, w, h)


@settings(max_examples=40, deadline=None, derandomize=True)
@given(st.integers(1, 3), st.integers(1, 3), st.integers(0, 10**9))
def test_jpeg_progressive_matches_baseline_fuzz(wb, hb, doc_id):
    """The progressive (SOF2) file carries the SAME pixel class as the
    baseline color synth, so both must decode identically: multi-scan
    coefficient accumulation + EOBRUN + spectral banding against the
    single-scan baseline (the local twin of the mm_jpeg_progressive_stats
    gate, whose oracle is mm_jpeg_color_stats's verbatim)."""
    w, h = 8 * wb, 8 * hb
    base = mm.decode_jpeg_gray(mm.synth_jpeg_color(w, h, doc_id))
    prog = mm.decode_jpeg_gray(mm.synth_jpeg_progressive(w, h, doc_id))
    assert prog == base


def test_jpeg_progressive_refusals_are_loud():
    import pytest

    blob = bytearray(mm.synth_jpeg_progressive(16, 16, 3))
    # Ah > 0 (successive-approximation refinement): patch the last scan's
    # approximation byte.  SOS body layout: Ns, (id, tables)*Ns, Ss, Se, AhAl
    sos_positions = []
    i = 0
    while True:
        i = bytes(blob).find(b"\xff\xda", i)
        if i < 0:
            break
        sos_positions.append(i)
        i += 2
    assert len(sos_positions) == 7  # DC + 3x2 AC scans
    last = sos_positions[-1]
    ln = int.from_bytes(blob[last + 2:last + 4], "big")
    # relabeling a FIRST AC scan as a refinement scan (Ah=1, Al=0) is
    # structurally valid since r15, but its data stream then carries
    # magnitude categories > 1, which refinement forbids -- still loud
    blob2 = bytearray(blob)
    blob2[last + 2 + ln - 1] = 0x10  # Ah=1, Al=0
    with pytest.raises(ValueError, match="refinement magnitude"):
        mm.decode_jpeg_gray(bytes(blob2))
    # a non-decrementing approximation sequence (Ah=2, Al=0) is corrupt
    blob5 = bytearray(blob)
    blob5[last + 2 + ln - 1] = 0x20
    with pytest.raises(ValueError, match="approximation"):
        mm.decode_jpeg_gray(bytes(blob5))
    # DRI decodes for real since r16.  An interval LARGER than any scan's
    # unit count declares segments no scan ever completes: no boundary is
    # reached, no RST expected, and the raster is unchanged.
    base = mm.decode_jpeg_gray(bytes(blob))
    dri = b"\xff\xdd\x00\x04\x00\x08"  # interval 8 > 4 MCUs of 16x16
    at = bytes(blob).find(b"\xff\xc2")
    blob3 = bytes(blob[:at]) + dri + bytes(blob[at:])
    assert mm.decode_jpeg_gray(blob3)["pixels"] == base["pixels"]
    # an interval SMALLER than the unit count demands RST markers the
    # stream does not carry: loud, not a silent desync
    dri_small = b"\xff\xdd\x00\x04\x00\x01"
    blob6 = bytes(blob[:at]) + dri_small + bytes(blob[at:])
    with pytest.raises(ValueError):
        mm.decode_jpeg_gray(blob6)
    # a DC scan with Se != 0 is corrupt
    first = sos_positions[0]
    ln0 = int.from_bytes(blob[first + 2:first + 4], "big")
    blob4 = bytearray(blob)
    blob4[first + 2 + ln0 - 2] = 5  # Se=5 on the DC scan
    with pytest.raises(ValueError):
        mm.decode_jpeg_gray(bytes(blob4))


def _expected_refined_pixels(d, w, h):
    sgn = lambda x: 1 if x % 4 in (0, 3) else -1  # noqa: E731
    return [
        128 + mm._refined_block_mn(d, x // 8, y // 8)[0]
        + mm._refined_block_mn(d, x // 8, y // 8)[1] * sgn(x % 8) * sgn(y % 8)
        for y in range(h)
        for x in range(w)
    ]


@settings(max_examples=40, deadline=None, derandomize=True)
@given(st.integers(1, 3), st.integers(1, 3), st.integers(0, 10**9))
def test_jpeg_progressive_refined_identity_fuzz(wb, hb, doc_id):
    """Successive-approximation refinement: odd raw coefficients under
    quant 8 make the decoded raster EXACTLY 128 + m + n*s(x)*s(y) with
    every refinement/correction bit worth a full pixel step -- the local
    twin of the mm_jpeg_progressive_stats refined arm."""
    w, h = 8 * wb, 8 * hb
    d = mm.decode_jpeg_gray(mm.synth_jpeg_progressive_refined(w, h, doc_id))
    assert d["fmt"] == "jpeg_gray" and d["width"] == w and d["height"] == h
    assert d["pixels"] == _expected_refined_pixels(doc_id, w, h)


def test_jpeg_refinement_bits_are_load_bearing():
    """Flipping ONE DC-refinement bit must change the decoded raster by
    exactly one pixel step in one block -- proves the refinement path is
    consumed AND applied, not skipped (quant 8 makes the bit decisive)."""
    blob = mm.synth_jpeg_progressive_refined(8, 8, 3)
    base = mm.decode_jpeg_gray(blob)
    # second SOS is the DC refinement scan; its entropy data starts right
    # after the header (2 marker + declared length)
    i = blob.find(b"\xff\xda", blob.find(b"\xff\xda") + 2)
    data_at = i + 2 + int.from_bytes(blob[i + 2:i + 4], "big")
    patched = bytearray(blob)
    patched[data_at] ^= 0x80  # first block's DC refinement bit 1 -> 0
    got = mm.decode_jpeg_gray(bytes(patched))
    diffs = [a - b for a, b in zip(base["pixels"], got["pixels"])]
    assert set(diffs) == {1}  # whole 8x8 block dropped by exactly 1


# ---------------------------------------------------------------------------
# r16: decode_media strict mode + DRI naming (VERDICT r15 task 3, ADVICE r15)
# ---------------------------------------------------------------------------


def _corrupt_entropy(blob: bytes) -> bytes:
    """Truncate a JPEG/PNG/GIF payload mid-body so the real decoder
    rejects it but the header parser still sees valid dimensions."""
    return blob[: len(blob) - 4]


def test_decode_media_strict_raises_where_lenient_degrades():
    """VERDICT r15 'What's wrong' #2: corrupt bytes in a recognized
    container degrade to header metadata by default; strict=True raises
    the decoder's ValueError instead."""
    import pytest

    cases = [
        _corrupt_entropy(mm.synth_jpeg_color(16, 16, 7)),
        _corrupt_entropy(mm.synth_png_rgb(6, 5, 3)),
        _corrupt_entropy(mm.synth_gif_indexed(7, 4, 9)),
    ]
    for blob in cases:
        lenient = mm.decode_media(blob, "x")
        assert "pixels" not in lenient  # degraded to header metadata
        with pytest.raises(ValueError):
            mm.decode_media(blob, "x", strict=True)


def test_decode_media_strict_non_pcm_wav_raises():
    """strict mode also covers the documented non-PCM WAV fallthrough."""
    import pytest

    blob = bytearray(mm.synth_wav(1, 8000, 16, bytes(4)))
    fmt_off = blob.index(b"fmt ") + 8
    blob[fmt_off : fmt_off + 2] = (3).to_bytes(2, "little")
    assert mm.decode_media(bytes(blob), "x")["fmt"] == "wav"
    with pytest.raises(ValueError):
        mm.decode_media(bytes(blob), "x", strict=True)


def test_decode_media_strict_passes_clean_payloads():
    """strict must be a no-op on payloads the real decoders accept."""
    for blob, fmt in [
        (mm.synth_jpeg_color(16, 16, 7), "jpeg_rgb"),
        (mm.synth_jpeg_gray_ac(16, 8, 5), "jpeg_gray"),
        (mm.synth_bmp(3, 2, 1), "bmp"),
        (mm.synth_wav(1, 8000, 16, bytes(8)), "wav_pcm"),
    ]:
        assert mm.decode_media(blob, "x", strict=True)["fmt"] == fmt


@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.integers(0, 10**9))
def test_decode_media_strict_truncation_fuzz(cutseed):
    """Fuzz pin for BOTH modes: any strict-prefix cut of a color JPEG
    either still decodes (cut inside trailing padding) or raises in
    strict mode, while lenient mode never raises once the header parses."""
    import pytest

    blob = mm.synth_jpeg_color(16, 16, 11)
    cut = cutseed % (len(blob) - 1) if len(blob) > 1 else 0
    prefix = blob[:cut]
    try:
        strict_result = mm.decode_media(prefix, "x", strict=True)
        strict_raised = False
    except (ValueError, NotImplementedError):
        strict_raised = True
    if not strict_raised:
        assert "pixels" in strict_result or strict_result["fmt"] != "jpeg_rgb"
    # lenient mode on the same prefix: header metadata or a decode,
    # never an escape of the pixel decoder's ValueError
    try:
        lenient = mm.decode_media(prefix, "x")
    except NotImplementedError:
        pass  # cut shorter than any recognizable header: allowed
    else:
        assert isinstance(lenient, dict) and "fmt" in lenient


def test_baseline_dri_zero_interval_decodes():
    """A DRI segment with interval 0 is a legal no-op the baseline walk
    must tolerate (ADVICE r15: previously skipped, then misattributed)."""
    blob = mm.synth_jpeg_gray(8, 8, 3)
    sos_at = blob.index(b"\xff\xda")
    dri = bytes((0xFF, 0xDD, 0x00, 0x04, 0x00, 0x00))
    patched = blob[:sos_at] + dri + blob[sos_at:]
    d = mm.decode_jpeg_gray(patched)
    assert d["pixels"] == mm.decode_jpeg_gray(blob)["pixels"]


# -- r16: baseline restart intervals (DRI/RST) decode for real ------------


@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.integers(1, 41), st.integers(1, 33), st.integers(0, 10**12))
def test_jpeg_restart_decode_identity_fuzz(w, h, doc_id):
    """A DRI-encoded grayscale JPEG (RSTn markers every doc_id%4+1 MCUs,
    per-segment byte alignment + DC predictor reset) must decode back to
    synth_jpeg_gray's closed-form raster exactly -- including partial-MCU
    dimensions and >8 segments (RST number wraparound)."""
    d = mm.decode_jpeg_gray(mm.synth_jpeg_gray_restart(w, h, doc_id))
    assert d["fmt"] == "jpeg_gray" and d["width"] == w and d["height"] == h
    exp = [
        (31 * doc_id + 7 * (x // 8) + 13 * (y // 8)) % 256
        for y in range(h)
        for x in range(w)
    ]
    assert d["pixels"] == exp


def test_jpeg_restart_predictor_reset_is_load_bearing():
    """The DC predictor RESET at a restart boundary is observable: the
    synth encodes diffs against a reset predictor, so a decoder that
    carried the predictor across the boundary would reconstruct different
    values.  Pin by checking a boundary block's value equals the closed
    form (which a non-resetting decoder cannot reproduce unless the
    carried predictor happens to be 0 -- choose doc_id so block 0's DC is
    nonzero)."""
    # doc_id=1: block (0,0) value = 31 % 256 = 31 -> DC = 8*(31-128) != 0
    d = mm.decode_jpeg_gray(mm.synth_jpeg_gray_restart(16, 8, 1, interval=1))
    assert d["pixels"][0] == 31          # block 0
    assert d["pixels"][8] == (31 + 7) % 256  # block 1, first px after RST


def test_jpeg_restart_wrong_sequence_number_raises():
    """An out-of-order RSTn (T.81: n cycles 0..7 in segment order) is
    corruption and must raise by name, not desync silently."""
    import pytest

    blob = bytearray(mm.synth_jpeg_gray_restart(24, 8, 3, interval=1))
    at = blob.index(b"\xff\xd0")  # first restart marker (RST0)
    blob[at + 1] = 0xD1  # claim RST1 where RST0 is required
    with pytest.raises(ValueError, match="expected RST0"):
        mm.decode_jpeg_gray(bytes(blob))


def test_jpeg_restart_missing_marker_raises():
    """Deleting a restart marker must raise (the aligned consume finds
    entropy bytes instead), never decode shifted data."""
    import pytest

    blob = mm.synth_jpeg_gray_restart(24, 8, 3, interval=1)
    at = blob.index(b"\xff\xd0")
    cut = blob[:at] + blob[at + 2:]
    with pytest.raises(ValueError):
        mm.decode_jpeg_gray(cut)


# ---------------------------------------------------------------------------
# r16: filtered-PNG gate locals (mm_png_filtered_stats)
# ---------------------------------------------------------------------------


@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.integers(1, 40), st.integers(5, 24), st.integers(0, 10**12))
def test_png_filtered_decode_identity_fuzz(w, h, doc_id):
    """synth_png_rgb_filtered encodes row y with filter (y+doc_id)%5; the
    decoder must invert all five reconstructions back to the synth_bmp
    closed-form pattern exactly (h >= 5 forces every filter type)."""
    d = mm.decode_media(mm.synth_png_rgb_filtered(w, h, doc_id), "x", strict=True)
    assert d["fmt"] == "png" and d["width"] == w and d["height"] == h
    exp = [
        (
            (doc_id + x + y) % 256,
            (3 * doc_id + 7 * x) % 256,
            (5 * y + doc_id) % 256,
        )
        for y in range(h)
        for x in range(w)
    ]
    assert d["pixels"] == exp


def test_png_filtered_uses_all_five_filter_types():
    """The gate's contract: with height >= 5 the encoded raster contains
    every filter tag 0..4 (read them back out of the decompressed IDAT)."""
    import zlib

    blob = mm.synth_png_rgb_filtered(6, 7, 3)
    idat_at = blob.index(b"IDAT")
    ln = int.from_bytes(blob[idat_at - 4 : idat_at], "big")
    raw = zlib.decompress(blob[idat_at + 4 : idat_at + 4 + ln])
    stride = 6 * 3
    tags = {raw[r * (stride + 1)] for r in range(7)}
    assert tags == {0, 1, 2, 3, 4}


@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.integers(0, 10**9))
def test_png_filtered_truncation_always_raises_fuzz(cutseed):
    import pytest

    blob = mm.synth_png_rgb_filtered(9, 8, 13)
    cut = cutseed % (len(blob) - 1) if len(blob) > 1 else 0
    with pytest.raises(ValueError):
        mm.decode_png(blob[:cut])


def _expected_prog_restart_pixels(doc_id, w, h):
    out = []
    for y in range(h):
        for x in range(w):
            m, n = mm._refined_block_mn(doc_id, x // 8, y // 8)
            sx = 1 if x % 4 in (0, 3) else -1
            sy = 1 if y % 4 in (0, 3) else -1
            out.append(128 + m + n * sx * sy)
    return out


@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.integers(1, 33), st.integers(1, 25), st.integers(0, 10**12))
def test_jpeg_progressive_restart_identity_fuzz(w, h, doc_id):
    """Progressive restarts: DRI segments every doc_id%3+1 units in ALL
    THREE scans (DC first + two banded AC scans), per-segment byte
    alignment, predictor reset, EOB runs never crossing a boundary -- the
    decoded raster must equal the refinement gate's closed form."""
    d = mm.decode_jpeg_gray(mm.synth_jpeg_progressive_restart(w, h, doc_id))
    assert d["fmt"] == "jpeg_gray" and d["width"] == w and d["height"] == h
    assert d["pixels"] == _expected_prog_restart_pixels(doc_id, w, h)


def test_jpeg_progressive_restart_eob_run_crossing_raises():
    """An EOB run that crosses a restart boundary is corruption the
    decoder must refuse by name: splice scan 2's per-segment EOB framing
    into one long run covering blocks past the boundary."""
    import pytest

    # interval 1 on a 24x8 image (3 blocks, 2 RST markers in each scan).
    blob = mm.synth_jpeg_progressive_restart(24, 8, 2, interval=1)
    # scan 2 is the AC band 1..38 scan: its segments each carry EOB(1).
    # Replace the whole scan's data with EOB(3) followed by the two RST
    # markers (run now spans all three blocks, crossing both boundaries).
    # EOB(3): symbol (1<<4)|0 then 1 extension bit -- build via the
    # synth's own table by re-encoding.
    ac_y = mm._HT_ACP[2]
    bw = mm._BitWriter()
    code, nbits = ac_y[(1 << 4) | 0]
    bw.write(code, nbits)
    bw.write(3 - 2, 1)  # EOBn: run 3 = (1<<1) + 1
    long_run = bw.flush()
    # locate the second SOS (scan 2) and its entropy span
    first = blob.index(b"\xff\xda")
    second = blob.index(b"\xff\xda", first + 2)
    hdr_len = int.from_bytes(blob[second + 2 : second + 4], "big")
    data_at = second + 2 + hdr_len
    third = blob.index(b"\xff\xda", data_at)  # scan 3 marker
    patched = (
        blob[:data_at] + long_run + b"\xff\xd0\xff\xd1" + blob[third:]
    )
    with pytest.raises(ValueError, match="EOB run crosses restart"):
        mm.decode_jpeg_gray(patched)


def test_jpeg_progressive_restart_wrong_sequence_raises():
    import pytest

    blob = bytearray(mm.synth_jpeg_progressive_restart(24, 8, 2, interval=1))
    at = blob.index(b"\xff\xd0")
    blob[at + 1] = 0xD5
    with pytest.raises(ValueError, match="expected RST0"):
        mm.decode_jpeg_gray(bytes(blob))


def test_jpeg_restart_marker_without_dri_still_raises():
    """A RST marker in entropy data with NO DRI declared stays corruption
    (the r15 refusal shape survives for streams that never declared an
    interval)."""
    import pytest

    blob = mm.synth_jpeg_progressive_restart(24, 8, 2, interval=1)
    # drop the DRI segment (6 bytes: FF DD 00 04 00 01)
    at = blob.index(b"\xff\xdd")
    cut = blob[:at] + blob[at + 6:]
    with pytest.raises(ValueError, match="without DRI"):
        mm.decode_jpeg_gray(cut)


# -- r16: 12-bit extended sequential (SOF1) -------------------------------


@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.integers(1, 41), st.integers(1, 33), st.integers(0, 10**12))
def test_jpeg12_decode_identity_fuzz(w, h, doc_id):
    """A 12-bit SOF1 grayscale JPEG must decode back to the constant
    block class exactly: level shift 2048, clamp 0..4095, DC diff
    categories up to 15 under the synthesizer's length-5 DHT."""
    d = mm.decode_jpeg_gray(mm.synth_jpeg_gray12(w, h, doc_id))
    assert d["fmt"] == "jpeg_gray12" and d["width"] == w and d["height"] == h
    exp = [
        (997 * doc_id + 131 * (x // 8) + 241 * (y // 8)) % 4096
        for y in range(h)
        for x in range(w)
    ]
    assert d["pixels"] == exp


def test_jpeg12_samples_exceed_8bit_range():
    """The gate is vacuous unless decoded samples actually leave 0..255:
    pin that a representative image carries values above 255."""
    vals = mm.decode_jpeg_gray(mm.synth_jpeg_gray12(80, 80, 1))["pixels"]
    assert max(vals) > 255 and min(vals) >= 0 and max(vals) <= 4095


def test_jpeg12_sof0_precision_12_refused():
    """Baseline (SOF0) is 8-bit by definition (T.81 Table B.2): the same
    stream relabeled SOF0 must refuse by name."""
    import pytest

    blob = bytearray(mm.synth_jpeg_gray12(8, 8, 3))
    at = blob.index(b"\xff\xc1")
    blob[at + 1] = 0xC0
    with pytest.raises(ValueError, match="precision=12"):
        mm.decode_jpeg_gray(bytes(blob))


def test_jpeg12_with_dri_orthogonal():
    """12-bit SOF1 and DRI are orthogonal features of the same marker
    walk: splicing a DRI whose interval exceeds the MCU count (no RST
    markers required) into a 12-bit stream must decode identically."""
    blob = mm.synth_jpeg_gray12(16, 16, 9)  # 4 MCUs
    base = mm.decode_jpeg_gray(blob)
    at = blob.index(b"\xff\xda")
    dri = bytes((0xFF, 0xDD, 0x00, 0x04, 0x00, 0x08))  # interval 8 > 4
    patched = blob[:at] + dri + blob[at:]
    got = mm.decode_jpeg_gray(patched)
    assert got["fmt"] == "jpeg_gray12" and got["pixels"] == base["pixels"]


# -- r17: 12-bit extended sequential COLOR (SOF1, 3-component) ------------


def _expected_color12_pixels(d, w, h):
    sgn = lambda x: 1 if x % 4 in (0, 3) else -1  # noqa: E731
    clamp = lambda v: min(4095, max(0, v))  # noqa: E731
    out = []
    for y in range(h):
        for x in range(w):
            bx, by = x // 8, y // 8
            ss = sgn(x % 8) * sgn(y % 8)
            yv = 2048 + ((331*d + 17*bx + 29*by) % 3001 - 1500) \
                + ((7*d + 3*bx + by) % 27) * ss
            cb = ((431*d + 23*bx + 41*by) % 2001 - 1000) \
                + ((11*d + bx + 5*by) % 23) * ss
            cr = ((523*d + 31*bx + 37*by) % 2001 - 1000) \
                + ((5*d + 9*bx + by) % 23) * ss
            out.append((
                clamp(yv + ((91881 * cr + 32768) >> 16)),
                clamp(yv - ((22554 * cb + 46802 * cr + 32768) >> 16)),
                clamp(yv + ((116130 * cb + 32768) >> 16)),
            ))
    return out


@settings(max_examples=40, deadline=None, derandomize=True)
@given(st.integers(1, 33), st.integers(1, 29), st.integers(0, 10**12))
def test_jpeg_color12_decode_identity_fuzz(w, h, doc_id):
    """12-bit SOF1 color decode(synth(x)) == closed form at arbitrary
    (partial-MCU) dimensions: interleaved MCUs under per-component
    12-bit tables (chroma DC categories at length 6 vs luma 5, halved
    chroma coefficients against a dequant of 2s), luma DC diffs to
    category 15, the 2048 level shift, and the 12-bit fixed-point
    YCbCr->RGB -- the local twin of the mm_jpeg_color12_stats gate."""
    d = mm.decode_jpeg_gray(mm.synth_jpeg_color12(w, h, doc_id))
    assert d["fmt"] == "jpeg_rgb12" and d["width"] == w and d["height"] == h
    assert d["pixels"] == _expected_color12_pixels(doc_id, w, h)


def test_jpeg_color12_channels_exceed_8bit_range():
    """Vacuity guard: decoded channels must actually use the 12-bit
    range (values above 255) AND the chroma math must move channels
    apart (some pixel with R != G or G != B)."""
    d = mm.decode_jpeg_gray(mm.synth_jpeg_color12(32, 32, 7))
    flat = [v for px in d["pixels"] for v in px]
    assert max(flat) > 255 and min(flat) >= 0 and max(flat) <= 4095
    assert any(r != g or g != b for r, g, b in d["pixels"])


def test_jpeg_color12_sof0_relabel_refused():
    """Baseline (SOF0) is 8-bit by definition (T.81 Table B.2): the same
    12-bit color stream relabeled SOF0 must refuse by name."""
    import pytest

    blob = bytearray(mm.synth_jpeg_color12(8, 8, 3))
    at = blob.index(b"\xff\xc1")
    blob[at + 1] = 0xC0
    with pytest.raises(ValueError, match="precision=12"):
        mm.decode_jpeg_gray(bytes(blob))


# -- r17: PNG sample layouts (gray16, rgb16, palette incl. sub-byte) ------


def _png_gray16_exp(d, w, h):
    return [(1009*d + 389*x + 677*y) % 65536 for y in range(h) for x in range(w)]


def _png_rgb16_exp(d, w, h):
    return [
        ((257*d + 513*x + 769*y) % 65536,
         (101*d + 37*x + 59*y) % 65536,
         (811*d + 23*x + 97*y) % 65536)
        for y in range(h) for x in range(w)
    ]


def _png_palette_exp(d, w, h, depth):
    n = 1 << depth
    out = []
    for y in range(h):
        for x in range(w):
            i = (d + 3*x + 5*y) % n
            out.append(((17*d + 29*i) % 256, (13*d + 7*i) % 256, (11*d + 3*i) % 256))
    return out


@settings(max_examples=40, deadline=None, derandomize=True)
@given(st.integers(1, 13), st.integers(1, 11), st.integers(0, 10**9))
def test_png_gray16_decode_identity_fuzz(w, h, doc_id):
    """16-bit grayscale: big-endian sample reads and the five filters at
    the 2-byte filter bpp must reconstruct the closed form exactly."""
    d = mm.decode_png(mm.synth_png_gray16(w, h, doc_id))
    assert d["fmt"] == "png_gray16" and (d["width"], d["height"]) == (w, h)
    assert d["pixels"] == _png_gray16_exp(doc_id, w, h)


@settings(max_examples=40, deadline=None, derandomize=True)
@given(st.integers(1, 13), st.integers(1, 11), st.integers(0, 10**9))
def test_png_rgb16_decode_identity_fuzz(w, h, doc_id):
    d = mm.decode_png(mm.synth_png_rgb16(w, h, doc_id))
    assert d["fmt"] == "png_rgb16" and (d["width"], d["height"]) == (w, h)
    assert d["pixels"] == _png_rgb16_exp(doc_id, w, h)


@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.integers(1, 13), st.integers(1, 11), st.integers(0, 10**9),
       st.sampled_from([1, 2, 4, 8]))
def test_png_palette_decode_identity_fuzz(w, h, doc_id, depth):
    """Palette at every legal depth: MSB-first unpacking, per-row
    padding restarts (widths not multiples of 8/depth), filters over
    PACKED bytes at bpp 1, and the PLTE composition."""
    d = mm.decode_png(mm.synth_png_palette(w, h, doc_id, depth))
    assert d["fmt"] == "png_palette" and (d["width"], d["height"]) == (w, h)
    assert d["pixels"] == _png_palette_exp(doc_id, w, h, depth)


def test_png_gray16_values_exceed_8bit_range():
    vals = mm.decode_png(mm.synth_png_gray16(16, 16, 3))["pixels"]
    assert max(vals) > 255 and max(vals) <= 65535 and min(vals) >= 0


def test_png_palette_index_overrun_raises():
    """A palette image whose PLTE is SHORTER than the indices it uses
    must refuse loudly (same pin as the GIF palette)."""
    import zlib as _z

    import pytest

    blob = mm.synth_png_palette(4, 4, 3, 8)
    plte_at = blob.index(b"PLTE")
    ln = int.from_bytes(blob[plte_at - 4 : plte_at], "big")
    body = blob[plte_at + 4 : plte_at + 4 + ln][:6]  # keep only 2 colors
    rebuilt = (
        blob[: plte_at - 4]
        + mm._png_chunk(b"PLTE", body)
        + blob[plte_at + 8 + ln :]
    )
    with pytest.raises(ValueError, match="palette"):
        mm.decode_png(rebuilt)
    assert _z  # silence unused import on the happy path


def test_png_new_layouts_adam7_scatter():
    """The generalized Adam7 path (per-pass strides at each layout's
    filter bpp; sub-byte padding restarting per PASS row) must scatter
    to the same raster the sequential layout decodes to.  Built by hand:
    filter-0 rows per pass, pass geometry per the spec."""
    import zlib as _z

    for depth, color_type, seq_synth in [
        (16, 0, lambda w, h, d: mm.synth_png_gray16(w, h, d)),
        (4, 3, lambda w, h, d: mm.synth_png_palette(w, h, d, 4)),
    ]:
        w, h, did = 9, 6, 11
        seq = mm.decode_png(seq_synth(w, h, did))
        channels = {0: 1, 3: 1}[color_type]
        # image sample grid from the sequential decode is the truth; we
        # re-encode it interlaced and expect the identical raster back
        raw = bytearray()
        for x0, y0, dx, dy in mm._ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            for j in range(ph):
                y = y0 + j * dy
                raw.append(0)  # filter None
                if depth == 16:
                    for i in range(pw):
                        v = seq["pixels"][y * w + (x0 + i * dx)]
                        raw += v.to_bytes(2, "big")
                else:  # depth-4 palette: repack indices MSB-first per pass row
                    n = 1 << depth
                    idxs = [
                        (did + 3 * (x0 + i * dx) + 5 * y) % n for i in range(pw)
                    ]
                    per = 8 // depth
                    for i in range(0, pw, per):
                        b = 0
                        for k, v in enumerate(idxs[i : i + per]):
                            b |= v << (8 - depth * (k + 1))
                        raw.append(b)
        ihdr = (
            w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes((depth, color_type, 0, 0, 1))
        )
        blob = mm._PNG_MAGIC + mm._png_chunk(b"IHDR", ihdr)
        if color_type == 3:
            n = 1 << depth
            plte = bytes(
                v for i in range(n)
                for v in ((17*did + 29*i) % 256, (13*did + 7*i) % 256, (11*did + 3*i) % 256)
            )
            blob += mm._png_chunk(b"PLTE", plte)
        blob += mm._png_chunk(b"IDAT", _z.compress(bytes(raw)))
        blob += mm._png_chunk(b"IEND", b"")
        got = mm.decode_png(blob)
        assert got["pixels"] == seq["pixels"], (depth, color_type)
        assert channels == 1


@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.integers(0, 10**9), st.sampled_from(["gray16", "rgb16", "pal1", "pal8"]))
def test_png_new_layouts_truncation_always_raises_fuzz(cutseed, kind):
    import pytest

    blob = {
        "gray16": lambda: mm.synth_png_gray16(9, 6, 7),
        "rgb16": lambda: mm.synth_png_rgb16(9, 6, 7),
        "pal1": lambda: mm.synth_png_palette(9, 6, 7, 1),
        "pal8": lambda: mm.synth_png_palette(9, 6, 7, 8),
    }[kind]()
    cut = cutseed % (len(blob) - 1) if len(blob) > 1 else 0
    with pytest.raises(ValueError):
        mm.decode_png(blob[:cut])


def test_png_new_layouts_strict_decode_media_accepts():
    for blob, want in [
        (mm.synth_png_gray16(8, 5, 2), "png_gray16"),
        (mm.synth_png_rgb16(8, 5, 2), "png_rgb16"),
        (mm.synth_png_palette(8, 5, 2, 2), "png_palette"),
    ]:
        d = mm.decode_media(blob, "x", strict=True)
        assert d["fmt"] == want


# -- r17: animated GIF composition -----------------------------------------


def _gif_anim_sim(w, h, d, nf, disposal):
    """Reference composition simulator (independent of the decoder):
    canvas starts at the background color; each frame draws its rect's
    opaque pixels; disposal 2 restores the rect to background, 3
    restores the pre-draw canvas, 0/1 leave it."""
    def color(i):
        return ((23*d + 29*i) % 256, (19*d + 7*i) % 256, (5*d + 3*i) % 256)

    canvas = [color(d % 16)] * (w * h)
    out = []
    for f in range(nf):
        fx = (d + 2*f) % (w - 2); fy = (3*d + f) % (h - 2)
        fw = min(w - fx, f % 3 + 2); fh = min(h - fy, (f + d) % 3 + 2)
        t = (d + f) % 16
        saved = canvas[:]
        for j in range(fh):
            for i in range(fw):
                x, y = fx + i, fy + j
                idx = (d + 7*f + 3*x + 5*y) % 16
                if idx != t:
                    canvas[y * w + x] = color(idx)
        out.append(canvas[:])
        if disposal == 2:
            for j in range(fh):
                for i in range(fw):
                    canvas[(fy + j) * w + fx + i] = color(d % 16)
        elif disposal == 3:
            canvas = saved
    return out


@settings(max_examples=40, deadline=None, derandomize=True)
@given(st.integers(4, 13), st.integers(4, 11), st.integers(0, 10**9),
       st.integers(1, 5), st.sampled_from([0, 1, 2, 3]))
def test_gif_anim_decode_identity_fuzz(w, h, doc_id, nf, disposal):
    """Composed frames must match the reference simulator for EVERY
    disposal method: transparency holes leave the canvas, disposal 2
    restores the rect to the background color, disposal 3 restores the
    pre-draw canvas (history-carrying)."""
    d = mm.decode_gif_frames(mm.synth_gif_animated(w, h, doc_id, nf, disposal))
    assert d["fmt"] == "gif_anim" and d["n_frames"] == nf
    assert (d["width"], d["height"]) == (w, h)
    assert d["frames"] == _gif_anim_sim(w, h, doc_id, nf, disposal)


def test_gif_anim_single_image_agrees_with_decode_gif():
    """A whole-canvas single frame with no transparency must compose to
    exactly what the single-image decoder sees -- pin by building a
    plain synth_gif_indexed stream and running BOTH decoders."""
    blob = mm.synth_gif_indexed(7, 5, 11)
    one = mm.decode_gif(blob)
    anim = mm.decode_gif_frames(blob)
    assert anim["n_frames"] == 1
    assert anim["frames"][0] == one["pixels"]


def test_gif_anim_transparency_actually_exercised():
    """Vacuity guard: some frame must contain a transparent pixel whose
    canvas show-through differs from what an opaque draw would give."""
    w, h, d, nf = 10, 8, 3, 4
    got = mm.decode_gif_frames(mm.synth_gif_animated(w, h, d, nf))
    def color(i):
        return ((23*d + 29*i) % 256, (19*d + 7*i) % 256, (5*d + 3*i) % 256)
    bg = color(d % 16)
    hole_seen = False
    for f in range(nf):
        fx = (d + 2*f) % (w - 2); fy = (3*d + f) % (h - 2)
        fw = min(w - fx, f % 3 + 2); fh = min(h - fy, (f + d) % 3 + 2)
        t = (d + f) % 16
        for j in range(fh):
            for i in range(fw):
                x, y = fx + i, fy + j
                if (d + 7*f + 3*x + 5*y) % 16 == t:
                    assert got["frames"][f][y * w + x] == bg
                    if color(t) != bg:
                        hole_seen = True
    assert hole_seen, "no frame carried a visible transparency hole"


@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.integers(0, 10**9))
def test_gif_anim_truncation_always_raises_fuzz(cutseed):
    import pytest

    blob = mm.synth_gif_animated(9, 7, 5, 3)
    cut = cutseed % (len(blob) - 1) if len(blob) > 1 else 0
    with pytest.raises(ValueError):
        mm.decode_gif_frames(blob[:cut])


def test_gif_anim_rect_overrun_raises():
    """A frame rect overrunning the logical screen must refuse loudly
    (doctor the first image descriptor's width)."""
    import pytest

    blob = bytearray(mm.synth_gif_animated(9, 7, 5, 2))
    at = blob.index(b"\x2c")  # first image descriptor
    blob[at + 5 : at + 7] = (200).to_bytes(2, "little")  # fw = 200 >> 9
    with pytest.raises(ValueError, match="overruns"):
        mm.decode_gif_frames(bytes(blob))


# --------------------------------------------------------------------------
# Arithmetic-coded JPEG (SOF9, r17): QM-coder + Annex F models
# --------------------------------------------------------------------------

@settings(max_examples=40, deadline=None, derandomize=True)
@given(st.integers(0, 10**9))
def test_qm_coder_roundtrip_fuzz(seed):
    """The Annex D coder pair must be exactly inverse over random
    decision streams: random context counts, random source bias
    (including heavy skew, which drives the estimation state machine
    deep into the Table D.3 chains and exercises renormalization,
    carry resolution, and byte stuffing)."""
    import random

    rng = random.Random(seed)
    nctx = rng.randint(1, 8)
    p = rng.choice([0.5, 0.1, 0.9, 0.02, 0.98])
    bits = [1 if rng.random() < p else 0 for _ in range(rng.randint(1, 2500))]
    ctxs = [rng.randrange(nctx) for _ in bits]
    enc = mm._QMEncoder()
    bins = mm._qm_fresh_bins(nctx)
    for b, cx in zip(bits, ctxs):
        enc.encode(bins, cx, b)
    data = enc.flush()
    dec = mm._QMDecoder(data)
    bins2 = mm._qm_fresh_bins(nctx)
    assert [dec.decode(bins2, cx) for cx in ctxs] == bits


def test_qm_coder_stuffing_and_carry_paths_exercised():
    """A long adversarial stream must actually produce stuffed 0xFF 0x00
    pairs (otherwise the carry/stuffing branches are dead code in every
    other test) and still round-trip."""
    import random

    rng = random.Random(12345)
    streams_with_ff = 0
    for trial in range(30):
        bits = [1 if rng.random() < 0.5 else 0 for _ in range(4000)]
        enc = mm._QMEncoder()
        bins = mm._qm_fresh_bins(1)
        for b in bits:
            enc.encode(bins, 0, b)
        data = enc.flush()
        if b"\xff\x00" in data:
            streams_with_ff += 1
        dec = mm._QMDecoder(data)
        bins2 = mm._qm_fresh_bins(1)
        assert [dec.decode(bins2, 0) for _ in bits] == bits
    assert streams_with_ff > 0


def test_qm_table_adapts_near_entropy():
    """Behavioural pin on the Table D.3 transcription: coding a heavily
    biased source must land within 15% of the source entropy.  A
    corrupted Qe/next-state row set cannot adapt and blows far past
    this bound, so the transcription caveat recorded at the coder is
    bounded by this test."""
    import math
    import random

    rng = random.Random(1)
    p, n = 0.05, 20000
    bits = [1 if rng.random() < p else 0 for _ in range(n)]
    enc = mm._QMEncoder()
    bins = mm._qm_fresh_bins(1)
    for b in bits:
        enc.encode(bins, 0, b)
    coded_bits = len(enc.flush()) * 8
    entropy = n * (-p * math.log2(p) - (1 - p) * math.log2(1 - p))
    assert coded_bits < entropy * 1.15


@settings(max_examples=25, deadline=None, derandomize=True)
@given(st.integers(4, 24), st.integers(4, 20), st.integers(0, 10**6))
def test_jpeg_arith_decode_identity_fuzz(w, h, doc_id):
    """An SOF9 stream must decode back to the synth_jpeg_gray_ac image
    class exactly -- QM DC conditioning chain, AC EOB/zero-run/sign/
    magnitude trees, and (odd doc_ids) restart segmentation with full
    coder reset."""
    d = mm._decode_jpeg_arith(mm.synth_jpeg_gray_arith(w, h, doc_id))
    assert d["fmt"] == "jpeg_gray" and d["width"] == w and d["height"] == h

    def s(v):
        return 1 if v % 4 in (0, 3) else -1

    exp = [
        128
        + ((17 * doc_id + 5 * (x // 8) + 11 * (y // 8)) % 129 - 64)
        + ((7 * doc_id + 3 * (x // 8) + (y // 8)) % 27)
        * s(x % 8) * s(y % 8)
        for y in range(h)
        for x in range(w)
    ]
    assert d["pixels"] == exp


def test_jpeg_arith_wrong_restart_sequence_raises():
    """Swapping an RSTn for the wrong index must raise by name (the
    decoder verifies the 0..7 cycle, T.81 E.2.4)."""
    blob = bytearray(mm.synth_jpeg_gray_arith(24, 16, 7))
    at = blob.index(b"\xff\xd0")
    blob[at + 1] = 0xD5
    with pytest.raises(ValueError, match="expected RST0"):
        mm._decode_jpeg_arith(bytes(blob))


def test_jpeg_arith_restart_and_plain_agree():
    """The restart arm is pure framing: forcing the no-DRI path (even
    doc_id) and the restart path (odd doc_id) onto the same pixels via
    the closed form is already covered by the identity fuzz; here pin
    that a restart stream really contains RST markers (the arm is not
    vacuous)."""
    blob = mm.synth_jpeg_gray_arith(32, 24, 7)
    assert b"\xff\xd0" in blob
    assert b"\xff\xdd" in blob  # DRI present
    plain = mm.synth_jpeg_gray_arith(32, 24, 8)
    assert b"\xff\xdd" not in plain


def test_jpeg_arith_dac_conditioning_comes_from_file():
    """Patching the DAC's DC conditioning (U=1 -> U=3) must still decode
    exactly: encoder and decoder must both read conditioning from the
    stream, so re-synthesizing with a coder that uses the patched bound
    keeps them in lockstep.  (A decoder with a HARD-CODED default would
    desynchronize on this stream.)"""
    # encode with U=3 by driving the model functions directly
    doc_id, w, h = 4, 16, 16
    enc = mm._QMEncoder()
    dc_bins = mm._qm_fresh_bins(mm._QM_DC_BINS)
    ac_bins = mm._qm_fresh_bins(mm._QM_AC_BINS)
    dc_ctx = 0
    prev = 0
    for by in range(2):
        for bx in range(2):
            m = (17 * doc_id + 5 * bx + 11 * by) % 129 - 64
            n = (7 * doc_id + 3 * bx + by) % 27
            dc = 8 * m
            dc_ctx = mm._qm_enc_dc(enc, dc_bins, dc - prev, dc_ctx, (0, 3))
            prev = dc
            ac = [0] * 64
            ac[39] = 8 * n
            mm._qm_enc_ac_band(enc, ac_bins, ac, 5, 1, 63, 0)
    scan = enc.flush()

    def seg_hdr(marker, body):
        return bytes((0xFF, marker)) + (len(body) + 2).to_bytes(2, "big") + body

    blob = (
        b"\xff\xd8"
        + seg_hdr(0xDB, bytes((0x00,)) + bytes([1] * 64))
        + seg_hdr(0xCC, bytes((0x00, 0x30, 0x10, 0x05)))  # DC U=3
        + seg_hdr(0xC9, bytes((8,)) + h.to_bytes(2, "big")
                  + w.to_bytes(2, "big") + bytes((1, 1, 0x11, 0)))
        + seg_hdr(0xDA, bytes((1, 1, 0x00, 0, 63, 0)))
        + scan + b"\xff\xd9"
    )
    d = mm._decode_jpeg_arith(blob)
    ref = mm._decode_jpeg_arith(mm.synth_jpeg_gray_arith(w, h, doc_id))
    assert d["pixels"] == ref["pixels"]


@settings(max_examples=15, deadline=None, derandomize=True)
@given(st.integers(4, 20), st.integers(4, 18), st.integers(0, 10**6))
def test_jpeg_color_arith_agrees_with_huffman_twin(w, h, doc_id):
    """Cross-entropy-coding invariant: the arithmetic color synth codes
    the SAME image class as the Huffman color synth, so both files must
    decode to identical RGB rasters -- pinning the 3-component MCU
    interleave, per-TABLE statistics areas (Cb/Cr share conditioning
    tables while keeping independent predictors/categories), and the
    chroma dequant-of-2s path under the QM coder."""
    a = mm._decode_jpeg_arith(mm.synth_jpeg_color_arith(w, h, doc_id))
    b = mm.decode_jpeg_gray(mm.synth_jpeg_color(w, h, doc_id))
    assert a["fmt"] == b["fmt"] == "jpeg_rgb"
    assert a["pixels"] == b["pixels"]


@settings(max_examples=15, deadline=None, derandomize=True)
@given(st.integers(4, 24), st.integers(4, 20), st.integers(0, 10**6))
def test_jpeg_gray12_arith_agrees_with_huffman_twin(w, h, doc_id):
    """12-bit precision under arithmetic coding: same constant-block
    class as the SOF1 Huffman twin, so decoded samples (level shift
    2048, clamp 0..4095, DC categories to 15) must match exactly."""
    a = mm._decode_jpeg_arith(mm.synth_jpeg_gray12_arith(w, h, doc_id))
    b = mm.decode_jpeg_gray(mm.synth_jpeg_gray12(w, h, doc_id))
    assert a["fmt"] == b["fmt"] == "jpeg_gray12"
    assert a["pixels"] == b["pixels"]


def test_jpeg_gray12_arith_samples_exceed_8bit_range():
    vals = mm._decode_jpeg_arith(mm.synth_jpeg_gray12_arith(80, 80, 1))["pixels"]
    assert max(vals) > 255 and 0 <= min(vals) and max(vals) <= 4095


# --------------------------------------------------------------------------
# Hierarchical JPEG (Annex J, r17)
# --------------------------------------------------------------------------

@settings(max_examples=25, deadline=None, derandomize=True)
@given(st.integers(4, 22), st.integers(4, 18), st.integers(0, 10**6))
def test_jpeg_hier_decode_identity_fuzz(w, h, doc_id):
    """A DHP pyramid must decode to the exact closed form expand(r)+d:
    half-width reference, J.1.1.2 horizontal expansion (rounded
    neighbour mean, edge replication), zero-prediction differential
    frame accumulation."""
    d = mm._decode_jpeg_hierarchical(mm.synth_jpeg_gray_hier(w, h, doc_id))
    assert d["fmt"] == "jpeg_gray_hier"
    assert d["width"] == w and d["height"] == h
    w1 = (w + 1) // 2
    exp = []
    for y in range(h):
        for x in range(w):
            u0, u1 = x // 2, min(x // 2 + 1, w1 - 1)
            r0 = 64 + (31 * doc_id + 17 * (u0 // 8) + 7 * (y // 8)) % 128
            r1 = 64 + (31 * doc_id + 17 * (u1 // 8) + 7 * (y // 8)) % 128
            e = r0 if x % 2 == 0 else (r0 + r1 + 1) // 2
            exp.append(
                e + ((23 * doc_id + 13 * (x // 8) + 3 * (y // 8)) % 65 - 32))
    assert d["pixels"] == exp


def test_jpeg_hier_exp_before_frame_raises():
    """An EXP segment with no reference to expand must refuse."""
    blob = mm.synth_jpeg_gray_hier(16, 12, 9)
    at = blob.index(b"\xff\xdf")
    exp_seg = blob[at:at + 5]
    dhp_end = blob.index(b"\xff\xc1")
    patched = blob[:dhp_end] + exp_seg + blob[dhp_end:at] + blob[at + 5:]
    with pytest.raises(ValueError, match="EXP before any reference"):
        mm._decode_jpeg_hierarchical(patched)


def test_jpeg_hier_expand_vertical_and_both_axes():
    """The EXP filter must expand on either axis independently (the
    synthesizer only drives Eh=1, so pin Ev and Eh+Ev directly against
    a hand computation)."""
    import numpy as np

    p = np.array([[10, 20], [30, 41]], dtype=np.int64)
    hv = mm._hier_expand(p, 0, 1)
    assert hv.tolist() == [[10, 20], [20, 31], [30, 41], [30, 41]]
    hb = mm._hier_expand(p, 1, 1)
    assert hb.shape == (4, 4)
    assert hb[0].tolist() == [10, 15, 20, 20]
    assert hb[1].tolist() == [20, 26, 31, 31]


def test_jpeg_hier_second_nondifferential_frame_raises():
    """Two non-differential frames in one pyramid must refuse (the
    second would silently replace the reference)."""
    blob = mm.synth_jpeg_gray_hier(16, 12, 9)
    at = blob.index(b"\xff\xc5")
    patched = bytearray(blob)
    patched[at + 1] = 0xC1
    with pytest.raises(ValueError, match="second non-differential"):
        mm._decode_jpeg_hierarchical(bytes(patched))


# --------------------------------------------------------------------------
# Arithmetic-coded progressive JPEG (SOF10, r17)
# --------------------------------------------------------------------------

@settings(max_examples=25, deadline=None, derandomize=True)
@given(st.integers(4, 24), st.integers(4, 20), st.integers(0, 10**6))
def test_jpeg_arith_prog_decode_identity_fuzz(w, h, doc_id):
    """The nine-scan SOF10 script must decode back to the three-basis
    closed form exactly -- banded first scans, DC/AC bit-plane
    refinements (with real bits: the coefficient class is multiples of
    8 but not 32), newly-significant placements, and (odd doc_ids)
    per-scan restart segmentation."""
    d = mm._decode_jpeg_arith_progressive(
        mm.synth_jpeg_gray_arith_prog(w, h, doc_id))
    assert d["fmt"] == "jpeg_gray" and d["width"] == w and d["height"] == h

    def s(v):
        return 1 if v % 4 in (0, 3) else -1

    exp = []
    for y in range(h):
        for x in range(w):
            bx, by = x // 8, y // 8
            m = (17 * doc_id + 5 * bx + 11 * by) % 129 - 64
            o = (13 * doc_id + bx + 7 * by) % 21
            n = (7 * doc_id + 3 * bx + by) % 27
            exp.append(128 + m + o * s(x % 8) + n * s(x % 8) * s(y % 8))
    assert d["pixels"] == exp


def test_jpeg_arith_prog_nondecrementing_approximation_raises():
    """A refinement scan whose Ah is not Al+1 must refuse by name."""
    blob = bytearray(mm.synth_jpeg_gray_arith_prog(16, 12, 8))
    # the second scan is the DC refinement with AhAl = 0x54: corrupt it
    at = blob.index(bytes((0x00, 0x00, 0x54)))
    blob[at + 2] = 0x53  # Ah=5, Al=3: skips a bit plane
    with pytest.raises(ValueError, match="non-decrementing"):
        mm._decode_jpeg_arith_progressive(bytes(blob))


def test_jpeg_arith_prog_refinement_carries_real_bits():
    """The gate is vacuous if the refinement scans carry no information:
    pin that truncating the script after the first-scan stages (decode
    with only Al=5 planes) yields DIFFERENT pixels than the full
    script, i.e. the refinement bits matter for this class."""
    did, w, h = 9, 17, 13
    full = mm._decode_jpeg_arith_progressive(
        mm.synth_jpeg_gray_arith_prog(w, h, did))["pixels"]
    # rebuild a 5-scan variant: DC first + AC first bands only
    blob = mm.synth_jpeg_gray_arith_prog(w, h, did)
    # find all SOS offsets
    offs = []
    i = 2
    while i + 1 < len(blob):
        if blob[i] == 0xFF and blob[i + 1] == 0xDA:
            offs.append(i)
        i += 1
    assert len(offs) == 9
    # scans 1 (DC first), 4, 5 (AC first) -- drop refinements 2,3,6..9
    keep = [blob[:offs[0]]]
    bounds = offs + [len(blob) - 2]
    for idx in (0, 3, 4):
        keep.append(blob[bounds[idx]:bounds[idx + 1]])
    partial = b"".join(keep) + b"\xff\xd9"
    got = mm._decode_jpeg_arith_progressive(partial)["pixels"]
    assert got != full


# --------------------------------------------------------------------------
# Lossless JPEG (SOF3, Annex H, r17)
# --------------------------------------------------------------------------

@settings(max_examples=35, deadline=None, derandomize=True)
@given(st.integers(3, 25), st.integers(3, 21), st.integers(0, 10**6))
def test_jpeg_lossless_decode_identity_fuzz(w, h, doc_id):
    """An SOF3 stream must decode back to the per-pixel class exactly
    for whichever of the seven Table H.1 predictors doc_id selects,
    including restart-segment prediction resets on odd doc_ids."""
    d = mm._decode_jpeg_lossless(mm.synth_jpeg_gray_lossless(w, h, doc_id))
    assert d["fmt"] == "jpeg_gray_lossless"
    assert d["width"] == w and d["height"] == h
    assert d["pixels"] == [
        (7 * doc_id + 3 * x + 5 * y) % 256
        for y in range(h)
        for x in range(w)
    ]


def test_jpeg_lossless_all_seven_predictors_round_trip():
    """Explicitly pin one doc per predictor selector (the fuzz covers
    them statistically; this makes the rotation visible)."""
    for sel_minus_1 in range(7):
        did = 7 * 3 + sel_minus_1  # arbitrary base, doc_id % 7 cycles
        w, h = 17, 11
        d = mm._decode_jpeg_lossless(mm.synth_jpeg_gray_lossless(w, h, did))
        assert d["pixels"][0] == (7 * did) % 256


def test_jpeg_lossless_wrong_predictor_decodes_wrong():
    """The gate is vacuous if the predictor selector doesn't matter:
    patching Ss in the scan header must change the decoded pixels (and
    still decode without error, since lossless streams are
    self-consistent under any predictor)."""
    blob = bytearray(mm.synth_jpeg_gray_lossless(16, 10, 8))  # sel = 2
    at = len(blob) - 2
    while not (blob[at] == 0xFF and blob[at + 1] == 0xDA):
        at -= 1
    sel_at = at + 2 + 2 + 1 + 2  # len(2) + Ns(1) + comp(2) -> Ss
    assert blob[sel_at] == 8 % 7 + 1
    blob[sel_at] = 7
    good = mm._decode_jpeg_lossless(mm.synth_jpeg_gray_lossless(16, 10, 8))
    patched = mm._decode_jpeg_lossless(bytes(blob))
    assert patched["pixels"] != good["pixels"]


def test_jpeg_lossless_bad_selector_raises():
    blob = bytearray(mm.synth_jpeg_gray_lossless(16, 10, 8))
    at = len(blob) - 2
    while not (blob[at] == 0xFF and blob[at + 1] == 0xDA):
        at -= 1
    blob[at + 7] = 0  # Ss = 0 invalid for lossless
    with pytest.raises(ValueError, match="predictor selector"):
        mm._decode_jpeg_lossless(bytes(blob))


# --------------------------------------------------------------------------
# Compressed audio: G.711 mu-law / A-law + IMA ADPCM (r17)
# --------------------------------------------------------------------------

def test_g711_known_answer_values():
    """Spec-pinned expansions: positive/negative zero codes decode to 0,
    the extreme codes to the laws' known extremes."""
    assert mm._ulaw_to_linear(0xFF) == 0
    assert mm._ulaw_to_linear(0x7F) == 0
    assert mm._ulaw_to_linear(0x00) == -32124
    assert mm._ulaw_to_linear(0x80) == 32124
    assert mm._alaw_to_linear(0x55) == -8
    assert mm._alaw_to_linear(0xD5) == 8
    assert mm._alaw_to_linear(0x2A) == -32256
    assert mm._alaw_to_linear(0xAA) == 32256


def test_g711_expansion_is_sign_symmetric():
    """Both laws are sign-symmetric in the code's sign bit: flipping it
    must negate the output exactly (mu-law zero maps to zero)."""
    for b in range(128):
        u_pos, u_neg = mm._ulaw_to_linear(b | 0x80), mm._ulaw_to_linear(b)
        assert u_pos == -u_neg
        a0, a1 = mm._alaw_to_linear(b), mm._alaw_to_linear(b | 0x80)
        assert a0 == -a1


@settings(max_examples=30, deadline=None, derandomize=True)
@given(st.integers(1, 400), st.integers(0, 10**6), st.booleans())
def test_g711_wav_decode_identity_fuzz(n, doc_id, alaw):
    law = "alaw" if alaw else "ulaw"
    d = mm.decode_wav_pcm(mm.synth_wav_g711(n, doc_id, law))
    assert d["fmt"] == f"wav_{law}" and len(d["samples"]) == n
    dec = mm._alaw_to_linear if alaw else mm._ulaw_to_linear
    assert d["samples"] == [dec((doc_id + 11 * i) % 256) for i in range(n)]


@settings(max_examples=30, deadline=None, derandomize=True)
@given(st.integers(1, 8), st.integers(1, 12), st.integers(0, 10**6))
def test_ima_adpcm_decode_matches_reference_simulator(nb, half, doc_id):
    """An independent in-test replay of the IMA state machine (step
    table walk, clamps, nibble order) must agree with the decoder for
    arbitrary block counts / sizes / header states."""
    spb = 2 * half + 1
    d = mm.decode_wav_pcm(mm.synth_wav_ima(nb, spb, doc_id))
    assert d["fmt"] == "wav_ima_adpcm"
    exp = []
    for b in range(nb):
        pred = (doc_id * 97 + 311 * b) % 4001 - 2000
        index = (doc_id * 13 + 7 * b) % 89
        exp.append(pred)
        for i in range(spb - 1):
            nib = (doc_id + 7 * i + b) % 16
            step = mm._IMA_STEPS[index]
            diff = step >> 3
            if nib & 1:
                diff += step >> 2
            if nib & 2:
                diff += step >> 1
            if nib & 4:
                diff += step
            pred = pred - diff if nib & 8 else pred + diff
            pred = max(-32768, min(32767, pred))
            index = max(0, min(88, index + (-1, -1, -1, -1, 2, 4, 6, 8)[nib & 7]))
            exp.append(pred)
    assert d["samples"] == exp


def test_ima_adpcm_clamps_are_exercised():
    """The fuzz is vacuous if neither clamp ever fires: pin that some
    synthesized stream drives the predictor to an int16 rail and the
    index to a table edge."""
    hit_pred = hit_idx = False
    for did in range(40):
        d = mm.decode_wav_pcm(mm.synth_wav_ima(6, 21, did))
        if -32768 in d["samples"] or 32767 in d["samples"]:
            hit_pred = True
    # index clamp: all-magnitude-7 nibbles push index to 88 fast; the
    # cycling nibble class includes long high-magnitude runs, so walk
    # the state machine directly for the edge check
    index = 0
    for _ in range(30):
        _, index = mm._ima_adpcm_step(0, index, 7)
    hit_idx = index == 88
    assert hit_pred and hit_idx


def test_ima_adpcm_bad_index_raises():
    blob = bytearray(mm.synth_wav_ima(2, 9, 3))
    at = blob.index(b"data") + 8 + 2  # first block's index byte
    blob[at] = 89
    with pytest.raises(ValueError, match="step index"):
        mm.decode_wav_pcm(bytes(blob))


def test_ima_adpcm_partial_block_raises():
    blob = mm.synth_wav_ima(2, 9, 3)
    # resize the data chunk down by one byte: partial block
    at = blob.index(b"data")
    size = int.from_bytes(blob[at + 4 : at + 8], "little")
    cut = bytearray(blob[: at + 8 + size - 1])
    cut[at + 4 : at + 8] = (size - 1).to_bytes(4, "little")
    cut[4:8] = (len(cut) - 8).to_bytes(4, "little")
    with pytest.raises(ValueError, match="partial ADPCM block"):
        mm.decode_wav_pcm(bytes(cut))


def test_wav_codec_strict_decode_media_accepts():
    d = mm.decode_media(mm.synth_wav_g711(50, 9, "alaw"), "x", strict=True)
    assert d["fmt"] == "wav_alaw" and len(d["samples"]) == 50
    d = mm.decode_media(mm.synth_wav_ima(3, 9, 9), "x", strict=True)
    assert d["fmt"] == "wav_ima_adpcm"


# --------------------------------------------------------------------------
# PNG alpha layouts: gray+alpha 8/16, RGBA 16 (r17, test-pinned; the
# oracle gate slot is budgeted to the r18 rotation)
# --------------------------------------------------------------------------

@settings(max_examples=25, deadline=None, derandomize=True)
@given(st.integers(2, 14), st.integers(2, 12), st.integers(0, 10**6),
       st.sampled_from([8, 16]))
def test_png_graya_decode_identity_fuzz(w, h, doc_id, depth):
    """Gray+alpha rows filter at the 2- or 4-byte bpp the spec
    prescribes; the (y+d)%5 filter cycle makes a wrong lag or a
    dropped alpha byte decode wrong values."""
    mod = 1 << depth
    d = mm.decode_png(mm.synth_png_graya(w, h, doc_id, depth))
    assert d["fmt"] == ("png_graya" if depth == 8 else "png_graya16")
    assert d["pixels"] == [
        ((409 * doc_id + 31 * x + 61 * y) % mod,
         (611 * doc_id + 43 * x + 29 * y) % mod)
        for y in range(h)
        for x in range(w)
    ]


@settings(max_examples=25, deadline=None, derandomize=True)
@given(st.integers(2, 12), st.integers(2, 10), st.integers(0, 10**6))
def test_png_rgba16_decode_identity_fuzz(w, h, doc_id):
    d = mm.decode_png(mm.synth_png_rgba16(w, h, doc_id))
    assert d["fmt"] == "png_rgba16"
    assert d["pixels"] == [
        ((257 * doc_id + 513 * x + 769 * y) % 65536,
         (101 * doc_id + 37 * x + 59 * y) % 65536,
         (811 * doc_id + 23 * x + 97 * y) % 65536,
         (577 * doc_id + 71 * x + 83 * y) % 65536)
        for y in range(h)
        for x in range(w)
    ]


def test_png_graya16_values_exceed_8bit_range():
    d = mm.decode_png(mm.synth_png_graya(20, 20, 1, 16))
    assert max(v for px in d["pixels"] for v in px) > 255


@settings(max_examples=40, deadline=None, derandomize=True)
@given(st.integers(0, 10**9), st.sampled_from(["graya8", "graya16", "rgba16"]))
def test_png_alpha_truncation_always_raises_fuzz(cutseed, kind):
    blob = {
        "graya8": lambda: mm.synth_png_graya(9, 7, 5, 8),
        "graya16": lambda: mm.synth_png_graya(9, 7, 5, 16),
        "rgba16": lambda: mm.synth_png_rgba16(9, 7, 5),
    }[kind]()
    cut = cutseed % (len(blob) - 1) if len(blob) > 1 else 0
    with pytest.raises(ValueError):
        mm.decode_png(blob[:cut])


def test_png_alpha_strict_decode_media_accepts():
    d = mm.decode_media(mm.synth_png_graya(8, 6, 2, 16), "x", strict=True)
    assert d["fmt"] == "png_graya16" and len(d["pixels"]) == 48
    d = mm.decode_media(mm.synth_png_rgba16(8, 6, 2), "x", strict=True)
    assert d["fmt"] == "png_rgba16"


# --------------------------------------------------------------------------
# BMP RLE8 + WAV PCM bit-depth variants (r17, test-pinned)
# --------------------------------------------------------------------------

@settings(max_examples=30, deadline=None, derandomize=True)
@given(st.integers(2, 16), st.integers(2, 12), st.integers(0, 10**6))
def test_bmp_rle8_decode_identity_fuzz(w, h, doc_id):
    """RLE8 BMPs alternate RUN-mode and ABSOLUTE-mode rows against one
    closed form: both escape paths, word alignment, bottom-up order,
    and the palette composition must all hold for the pixels to
    match."""
    d = mm.decode_bmp(mm.synth_bmp_rle8(w, h, doc_id))
    assert d["fmt"] == "bmp_rle8" and d["width"] == w and d["height"] == h
    L = doc_id % 3 + 2
    exp = []
    for y in range(h):
        for x in range(w):
            i = (doc_id + 7 * (x // L) + 5 * y) % 256
            exp.append(((17 * doc_id + 29 * i) % 256,
                        (13 * doc_id + 7 * i) % 256,
                        (11 * doc_id + 3 * i) % 256))
    assert d["pixels"] == exp


def test_bmp_rle8_delta_skips_to_index_zero():
    """A hand-built stream with a delta escape: skipped pixels take
    palette entry 0 (the deterministic convention documented in the
    decoder)."""
    # 4x2 bitmap: bottom row = run(4, idx 1); top row: run(1, idx 2),
    # delta(+2, 0), run(1, idx 3), EOB
    rle = bytes((4, 1, 0x00, 0x00,
                 1, 2, 0x00, 0x02, 2, 0, 1, 3, 0x00, 0x01))
    palette = bytearray(1024)
    for i in range(256):
        palette[4 * i] = i      # blue = i
        palette[4 * i + 2] = i  # red = i
    data_off = 14 + 40 + 1024
    info = ((40).to_bytes(4, "little")
            + (4).to_bytes(4, "little", signed=True)
            + (2).to_bytes(4, "little", signed=True)
            + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
            + (1).to_bytes(4, "little") + len(rle).to_bytes(4, "little")
            + bytes(8) + (256).to_bytes(4, "little") + bytes(4))
    blob = (b"BM" + (data_off + len(rle)).to_bytes(4, "little") + bytes(4)
            + data_off.to_bytes(4, "little") + info + palette + rle)
    d = mm.decode_bmp(blob)
    # top-down: top row (storage row 1) = [2, 0, 0, 3]; bottom = [1]*4
    reds = [p[0] for p in d["pixels"]]
    assert reds == [2, 0, 0, 3, 1, 1, 1, 1]


def test_bmp_rle8_overrun_raises():
    blob = bytearray(mm.synth_bmp_rle8(5, 3, 4))
    at = int.from_bytes(blob[10:14], "little")
    blob[at] = 255  # first run now overflows the 5-pixel row
    with pytest.raises(ValueError, match="overflows the row"):
        mm.decode_bmp(bytes(blob))


@settings(max_examples=40, deadline=None, derandomize=True)
@given(st.integers(0, 10**9))
def test_bmp_rle8_truncation_always_raises_fuzz(cutseed):
    blob = mm.synth_bmp_rle8(9, 5, 7)
    cut = cutseed % (len(blob) - 1) if len(blob) > 1 else 0
    with pytest.raises(ValueError):
        mm.decode_bmp(blob[:cut])


@settings(max_examples=25, deadline=None, derandomize=True)
@given(st.integers(1, 300), st.integers(0, 10**6),
       st.sampled_from([8, 24, 32]))
def test_wav_pcm_bit_depths_identity_fuzz(n, doc_id, bits):
    d = mm.decode_wav_pcm(mm.synth_wav_pcm_bits(n, doc_id, bits))
    assert d["fmt"] == f"wav_pcm{bits}" and d["bits"] == bits
    if bits == 8:
        exp = [(doc_id + 13 * i) % 256 for i in range(n)]
    elif bits == 24:
        exp = [((doc_id * 1009 + 9973 * i) % (1 << 24)) - (1 << 23)
               for i in range(n)]
    else:
        exp = [((doc_id * 2003 + 65521 * i) % (1 << 32)) - (1 << 31)
               for i in range(n)]
    assert d["samples"] == exp


def test_wav_pcm_partial_sample_raises():
    blob = bytearray(mm.synth_wav_pcm_bits(10, 3, 24))
    at = blob.index(b"data")
    size = int.from_bytes(blob[at + 4 : at + 8], "little")
    cut = bytearray(blob[: at + 8 + size - 1])
    cut[at + 4 : at + 8] = (size - 1).to_bytes(4, "little")
    cut[4:8] = (len(cut) - 8).to_bytes(4, "little")
    cut += b"\x00"  # keep RIFF word alignment
    with pytest.raises(ValueError, match="partial"):
        mm.decode_wav_pcm(bytes(cut))


# --------------------------------------------------------------------------
# Baseline TIFF (r17, test-pinned)
# --------------------------------------------------------------------------

@settings(max_examples=40, deadline=None, derandomize=True)
@given(st.integers(2, 18), st.integers(2, 14), st.integers(0, 10**6))
def test_tiff_decode_identity_fuzz(w, h, doc_id):
    """Four synth arms (II/MM byte order x none/PackBits compression,
    gray/RGB photometric) against closed-form pixel classes: the IFD
    walk, strip tables, rows-per-strip tails, and per-strip PackBits
    framing must all hold."""
    d = mm.decode_tiff(mm.synth_tiff(w, h, doc_id))
    rgb = doc_id % 8 >= 4
    assert d["fmt"] == ("tiff_rgb" if rgb else "tiff_gray")
    assert d["width"] == w and d["height"] == h
    exp = []
    for y in range(h):
        for x in range(w):
            if rgb:
                exp.append(((23 * doc_id + 5 * x + 3 * y) % 256,
                            (29 * doc_id + x + 11 * y) % 256,
                            (31 * doc_id + 9 * x + y) % 256))
            else:
                exp.append((19 * doc_id + 3 * x + 7 * y) % 256)
    assert d["pixels"] == exp


def test_tiff_both_byte_orders_same_image():
    """doc_ids 2k and 2k+1 differ only in byte order within an arm
    quadrant; pin explicitly that II and MM streams carrying the same
    pixel class decode to the same-shaped output (values differ by
    doc_id, so just structure + a spot value)."""
    a = mm.decode_tiff(mm.synth_tiff(7, 5, 4))   # II, RGB arm
    b = mm.decode_tiff(mm.synth_tiff(7, 5, 5))   # MM, RGB arm
    assert a["width"] == b["width"] and a["fmt"] == b["fmt"] == "tiff_rgb"
    assert a["pixels"][0] == ((23 * 4) % 256, (29 * 4) % 256, (31 * 4) % 256)
    assert b["pixels"][0] == ((23 * 5) % 256, (29 * 5) % 256, (31 * 5) % 256)


def test_tiff_packbits_roundtrip_fuzz():
    import random

    rng = random.Random(5)
    for _ in range(60):
        n = rng.randint(1, 400)
        data = bytes(
            rng.choice([rng.randrange(256), 7]) for _ in range(n)
        )  # mix of runs and literals
        enc = mm._packbits_encode(data)
        assert mm._packbits_decode(enc, n) == data


def test_tiff_packbits_underrun_and_overrun_raise():
    with pytest.raises(ValueError, match="underrun"):
        mm._packbits_decode(bytes((0x00, 0x41)), 5)
    with pytest.raises(ValueError, match="overrun"):
        mm._packbits_decode(bytes((0xFE, 0x41)), 2)  # 3 repeats into 2


@settings(max_examples=50, deadline=None, derandomize=True)
@given(st.integers(0, 10**9))
def test_tiff_truncation_always_raises_fuzz(cutseed):
    blob = mm.synth_tiff(11, 7, 6)  # PackBits RGB arm
    cut = cutseed % (len(blob) - 1) if len(blob) > 1 else 0
    try:
        d = mm.decode_tiff(blob[:cut])
    except ValueError:
        return
    # a prefix that still parses must at least not fabricate the full
    # image (the IFD lives at the END of the stream, so any cut before
    # it must raise on the IFD read)
    raise AssertionError(f"prefix of {cut} bytes decoded silently: {d['fmt']}")


def test_tiff_strip_count_mismatch_raises():
    blob = bytearray(mm.synth_tiff(9, 7, 0))  # II, uncompressed, gray
    # RowsPerStrip=3, height=7 -> 3 strips; patch height to 8 -> wants 3
    at = blob.index((257).to_bytes(2, "little"))
    blob[at + 8 : at + 12] = (20).to_bytes(4, "little")
    with pytest.raises(ValueError, match="strip count"):
        mm.decode_tiff(bytes(blob))


def test_tiff_strict_decode_media_accepts():
    d = mm.decode_media(mm.synth_tiff(8, 6, 3), "x", strict=True)  # gray arm
    assert d["fmt"] == "tiff_gray" and len(d["pixels"]) == 48
    d = mm.decode_media(mm.synth_tiff(8, 6, 5), "x", strict=True)  # RGB arm
    assert d["fmt"] == "tiff_rgb"


# --------------------------------------------------------------------------
# Netpbm family P1-P5 (r17, test-pinned; P6 keeps its original decoder)
# --------------------------------------------------------------------------

@settings(max_examples=40, deadline=None, derandomize=True)
@given(st.integers(1, 16), st.integers(1, 12), st.integers(0, 10**6),
       st.sampled_from([1, 2, 3, 4, 5]))
def test_pnm_decode_identity_fuzz(w, h, doc_id, kind):
    """All five non-P6 Netpbm kinds against closed forms: ASCII
    tokenization with header comments (P1 packed digits on odd
    doc_ids), P4's MSB-first bit packing with byte-padded rows, P5's
    exact-size binary raster."""
    d = mm.decode_pnm(mm.synth_pnm(w, h, doc_id, kind))
    assert d["width"] == w and d["height"] == h
    if kind in (1, 4):
        assert d["pixels"] == [(doc_id + x + y) % 2
                               for y in range(h) for x in range(w)]
    elif kind in (2, 5):
        assert d["pixels"] == [(19 * doc_id + 3 * x + 7 * y) % 256
                               for y in range(h) for x in range(w)]
    else:
        assert d["pixels"] == [
            ((23 * doc_id + 5 * x + 3 * y) % 256,
             (29 * doc_id + x + 11 * y) % 256,
             (31 * doc_id + 9 * x + y) % 256)
            for y in range(h) for x in range(w)
        ]


def test_pnm_p4_padding_bits_ignored():
    """A width-9 P4 row spans two bytes; the 7 pad bits must not leak
    into the next row's pixels."""
    d = mm.decode_pnm(mm.synth_pnm(9, 3, 1, 4))
    assert len(d["pixels"]) == 27
    assert d["pixels"][:9] == [(1 + x) % 2 for x in range(9)]
    assert d["pixels"][9:18] == [(2 + x) % 2 for x in range(9)]


def test_pnm_sample_above_maxval_raises():
    blob = b"P2\n2 1\n100\n50 101\n"
    with pytest.raises(ValueError, match="maxval"):
        mm.decode_pnm(blob)


def test_pnm_trailing_garbage_raises():
    blob = mm.synth_pnm(4, 3, 2, 5) + b"x"
    with pytest.raises(ValueError, match="mismatch"):
        mm.decode_pnm(blob)
    blob2 = mm.synth_pnm(4, 3, 2, 2) + b"7\n"
    with pytest.raises(ValueError, match="trailing"):
        mm.decode_pnm(blob2)


@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.integers(0, 10**9), st.sampled_from([1, 2, 3, 4, 5]))
def test_pnm_truncation_raises_or_never_fabricates(cutseed, kind):
    """Binary kinds raise on any cut.  An ASCII prefix may still carry
    the complete raster (e.g. only the final newline cut) -- then it
    must decode IDENTICALLY to the full blob; any other prefix must
    raise.  Either way a truncated stream never fabricates pixels."""
    blob = mm.synth_pnm(7, 5, 9, kind)
    full = mm.decode_pnm(blob)
    cut = cutseed % (len(blob) - 1) if len(blob) > 1 else 0
    try:
        d = mm.decode_pnm(blob[:cut])
    except ValueError:
        return
    assert d == full, f"prefix of {cut} bytes decoded DIFFERENT pixels"


def test_decode_gate_degrade_fails_loudly(monkeypatch):
    """Every decode-stats gate checks the decoded format (and, for the
    animated GIF, the frame count) before it emits a row: a blob that
    decodes to anything else raises ValueError naming the gate and the
    document instead of emitting plausible stats.  The gate table and the
    registered mm_<key>_stats queries name the same 17 gates."""
    import re

    from flink_kafka_consumer_cassandra_output_spark.plans import all_specs

    gates = mm.DECODE_GATES
    pixel, gif_anim = gates["pixel"], gates["gif_anim"]
    monkeypatch.setitem(
        gates, "jpeg_ac", lambda d: (mm.synth_jpeg_color(8, 8, d), "jpeg_gray")
    )
    # the pixel gate's BMP arm (doc_id % 6 == 0) hands over a PPM
    monkeypatch.setitem(
        gates,
        "pixel",
        lambda d: (mm.synth_ppm(3, 2, d), "bmp") if d % 6 == 0 else pixel(d),
    )
    # one frame more than the gate expects
    monkeypatch.setitem(
        gates,
        "gif_anim",
        lambda d: (mm.synth_gif_animated(5, 4, d, d % 3 + 3), "gif_anim"),
    )
    with pytest.raises(ValueError, match=r"^jpeg_ac_stats: .* doc 5 \(fmt='jpeg_rgb'"):
        mm._decode_stats_row("jpeg_ac", 5)
    with pytest.raises(ValueError, match=r"^pixel_stats: .* doc 12 \(fmt='ppm'"):
        mm._decode_stats_row("pixel", 12)
    assert mm._decode_stats_row("pixel", 13)[1] == "ppm"  # other arms untouched
    with pytest.raises(ValueError, match=r"^gif_anim_stats: .* doc 7 .*n_frames=4"):
        mm._decode_stats_row("gif_anim", 7)
    assert gif_anim(7)[1] == "gif_anim"

    registered = {n for n in all_specs() if re.fullmatch(r"mm_\w+_stats", n)}
    assert {f"mm_{k}_stats" for k in gates} == registered
