"""Golden digests for the media codec layer.

Every encoder runs on seeded inputs and the SHA-256 of its output is
pinned, so any change to the shared bit I/O, prefix-code or LZW code
that alters a single output byte fails here. Each payload is then fed
to its decoder and the decoded result is pinned the same way.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from flink_precisely_demo_spark.operators.avi import (
    demux_mjpeg_avi,
    mux_mjpeg_avi,
)
from flink_precisely_demo_spark.operators.codec import (
    LsbReader,
    LsbWriter,
    MsbReader,
    MsbWriter,
    canonical_codes,
    encoder_codes,
    lzw_decode,
    lzw_encode,
)
from flink_precisely_demo_spark.operators.flac import decode_flac, encode_flac
from flink_precisely_demo_spark.operators.gif import decode_gif, encode_gif
from flink_precisely_demo_spark.operators.jpeg import (
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_progressive,
)
from flink_precisely_demo_spark.operators.mp3 import (
    make_cbr_mp3,
    mp3_stream_info,
)
from flink_precisely_demo_spark.operators.multimodal import (
    _decode_aiff,
    _decode_au,
    encode_aiff_pcm16,
    encode_au,
)
from flink_precisely_demo_spark.operators.pdf import (
    encode_pdf,
    pdf_text_pages,
)
from flink_precisely_demo_spark.operators.png import decode_png, encode_png
from flink_precisely_demo_spark.operators.tiff import decode_tiff, encode_tiff
from flink_precisely_demo_spark.operators.webp import (
    decode_webp,
    encode_webp_lossless,
)


def _img(h: int, w: int, seed: int) -> np.ndarray:
    """A gradient plus seeded noise: smooth enough for the predictors
    and LZ77 to find structure, noisy enough to hit long codes and
    0xFF bytes in the JPEG entropy stream."""
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    base = np.stack([yy * 5 + xx, xx * 3, (yy + xx) * 2], axis=-1)
    return ((base + rng.integers(0, 48, (h, w, 3))) % 256).astype(np.uint8)


def _palette_img(h: int, w: int, ncolors: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    palette = rng.integers(0, 256, (ncolors, 3), dtype=np.uint8)
    return palette[rng.integers(0, ncolors, (h, w))]


def _tone(n: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    t = np.arange(n) / 8000.0
    return 0.4 * np.sin(2 * np.pi * 330 * t) + 0.05 * rng.standard_normal(n)


def _pcm(n: int, seed: int) -> np.ndarray:
    return np.round(_tone(n, seed) * 32767).astype(np.int64)


#: name -> (payload builder, decoder of that payload)
CASES = {
    "jpeg_444": (lambda: encode_jpeg(_img(21, 27, 1), quality=85),
                 decode_jpeg),
    "jpeg_420_restart": (lambda: encode_jpeg(
        _img(19, 35, 2), quality=70, subsampling="4:2:0",
        restart_interval=2), decode_jpeg),
    "jpeg_gray": (lambda: encode_jpeg(_img(17, 13, 3)[..., 0],
                                      quality=95), decode_jpeg),
    "jpeg_progressive": (lambda: encode_jpeg_progressive(
        _img(21, 27, 4), quality=85), decode_jpeg),
    "jpeg_progressive_successive_420": (lambda: encode_jpeg_progressive(
        _img(19, 35, 5), quality=75, subsampling="4:2:0",
        successive=True), decode_jpeg),
    # uniform noise at quality 100: the progressive entropy stream
    # carries 0xFF bytes, so byte stuffing is pinned there too
    "jpeg_progressive_noise": (lambda: encode_jpeg_progressive(
        np.random.default_rng(2).integers(0, 256, (16, 16, 3),
                                          dtype=np.uint8),
        quality=100, successive=True), decode_jpeg),
    **{f"png_filter{f}": (lambda f=f: encode_png(_img(11, 13, 10 + f),
                                                  filter_type=f),
                          decode_png)
       for f in range(5)},
    "gif_small": (lambda: encode_gif(_palette_img(9, 14, 5, 20)),
                  decode_gif),
    # 256 random colors over 160x160 pixels: every width bump and
    # several 4096-code dictionary resets
    "gif_reset": (lambda: encode_gif(_palette_img(160, 160, 256, 21)),
                  decode_gif),
    "tiff_lzw_predictor_le": (lambda: encode_tiff(
        _img(48, 64, 30), byte_order="<", lzw=True, predictor=True),
        decode_tiff),
    "tiff_lzw_predictor_be": (lambda: encode_tiff(
        _img(48, 64, 31), byte_order=">", lzw=True, predictor=True),
        decode_tiff),
    "tiff_lzw_small": (lambda: encode_tiff(_img(6, 9, 32), lzw=True),
                       decode_tiff),
    "tiff_packbits_le": (lambda: encode_tiff(
        _img(9, 11, 33), byte_order="<", packbits=True), decode_tiff),
    "tiff_packbits_be_gray": (lambda: encode_tiff(
        _img(9, 11, 34)[..., 1], byte_order=">", packbits=True),
        decode_tiff),
    "webp_effort0": (lambda: encode_webp_lossless(_img(9, 11, 40),
                                                  effort=0), decode_webp),
    "webp_effort1": (lambda: encode_webp_lossless(_img(12, 16, 41) // 16
                                                  * 16), decode_webp),
    "flac_mono": (lambda: encode_flac(_pcm(3000, 50), 8000,
                                      block_size=1024), decode_flac),
    "flac_stereo": (lambda: encode_flac(np.stack(
        [_pcm(700, 51), _pcm(700, 52) // 3], axis=1), 16000,
        block_size=256), decode_flac),
    "pdf_flate": (lambda: encode_pdf(["hello (world)\nsecond line",
                                      "page two"]), pdf_text_pages),
    "pdf_plain_tj_hex": (lambda: encode_pdf(
        ["kerned words here", "hex \\ strings"], flate=False,
        tj_words=True, hex_strings=True, split_contents=True),
        pdf_text_pages),
    "avi_mjpeg": (lambda: mux_mjpeg_avi(
        [encode_jpeg(_img(8, 8, 60 + s), quality=80) for s in range(3)],
        fps=12.5, width=8, height=8), demux_mjpeg_avi),
    "mp3_mpeg2": (lambda: make_cbr_mp3(12, 64, 22050), mp3_stream_info),
    "mp3_mpeg1": (lambda: make_cbr_mp3(5, 128, 44100), mp3_stream_info),
    "au_mulaw": (lambda: encode_au(_tone(900, 70), 8000, mulaw=True),
                 _decode_au),
    "aiff_pcm16": (lambda: encode_aiff_pcm16(_tone(900, 71), 11025),
                   _decode_aiff),
}

#: name -> (sha256 of the encoded payload, sha256 of the decoded result)
GOLDEN = {
    "aiff_pcm16": (
        "dc506bf58a7fff19ab9917edf6dbfab55b40200e44a749782c9c66f4a35ef097",
        "6e5292bf9a4d1afb223624a81979146c206e318195f6140e67823b7360499366"),
    "au_mulaw": (
        "d7b865c7beea9e07f31e9a3cd9c0077a0e10ad87feeda22b1097ba0d42c477b3",
        "adeb27fd5459ea2ea7bac84e57d2276658a384c5aff704611ca2411c88301b03"),
    "avi_mjpeg": (
        "734fcf09c88009127eb5e061a1071ecdee6b4ecdae49778a7c42232b83483a3a",
        "2c48253eed4190379201dd09a584a314e8515976049758dc27e61d24e3d3aaa2"),
    "flac_mono": (
        "4f956abcf0b58f019c66f308fa51d166ef3db3da661946873f78891463e6dde0",
        "f4714d4c29dfbce8117746d2c94b3ca354626c385f159b749f9a6898d015cb2d"),
    "flac_stereo": (
        "c526a9e13ff348461d3bc70d1472a25d56cab74fbbbf04cfa313d708fcea2798",
        "c3c5d24b414f8b5017b954b4d2c70993f3da450c74bff1d4117ff65739e63ef5"),
    "gif_reset": (
        "87593fb8aeb2bfe9edaf3ecd8f7475cfaf7df28907eea4039cd73a7fd78040ee",
        "1e75ab93c02599b2dd6fa59581780aff4297e15bd8272f27d46d099d4bb06353"),
    "gif_small": (
        "a0ce42933e031432d985771e54c2925482dc896b7407afeb1e5f281c888d782c",
        "fdec7e344adc35393ffe92312700c89c500411391b379519721496d7a2368a20"),
    "jpeg_420_restart": (
        "4f3ae1ae9198a5f7d5e471baafc8bb7e487232c228d01db0ed0d7b69c2f571bd",
        "5b724d1df54c410fb87ab6c7bec8412ee70a7cb9ceb7bc98c1b3e4191271f26d"),
    "jpeg_444": (
        "5e4611b652f289ac0911b0aa7ab133234d3302afd41c2e377ffc09b6c4ecb510",
        "1140cb06f6f6de129ef06ffaddc3a7979a687437d72b753cda8bb8f323116294"),
    "jpeg_gray": (
        "5b81a989b5b814da3d9f08d280968cb60bb8f86273919e6a7fa5013f6e9fa790",
        "e535dd50472e4fe3417ca2d0698f3ede808aa98f5e89fd6c929f0cbd90c74aa0"),
    "jpeg_progressive": (
        "ad51e25e94ea9013ea8d9259b0fa908757cfdffd93738fa2ebc30cd313808820",
        "58e80eb0f3749e2c204ccb9d2c170392410bb8efcacfb660f392723a18186b7b"),
    "jpeg_progressive_noise": (
        "c267e29e9dada1c8339a929b75ab7dbba95c7975f99e79174b7c3b0d41ba14a8",
        "242d3456fbc3e76d0c9f613154db04b7060b06e8a956cdae6b84cd9929d16f75"),
    "jpeg_progressive_successive_420": (
        "ba69842783d1e5721110e3ab4b178dcedf51202fed7e746727d5b7adaceede62",
        "19ebbbd42a9d7bf5170a5d6a73db409bf5062b5f9cbaf2d2d84530a3bbb38819"),
    "mp3_mpeg1": (
        "7d331d5992b564e1ec2cb918798cb2637a678ec43263df45748be52a2a73ae87",
        "8260f6813c7dd6bed86c4e8f8a13e9c62ab1d9934b97e75a105715d490e2dc3f"),
    "mp3_mpeg2": (
        "427e6c215e09cebab959ee63f56566ba13385c59d1c5a94e22b5c1faa566667e",
        "ced77b1208805e1a9682a6e04008379a29215bad2834235adc10320949df6dd1"),
    "pdf_flate": (
        "9ed56ff382b0eed3b8f21badf20e81283a5b609d41814dfb485b12fd468dfea9",
        "f87e33f84724543361696bed5bb60b7a0878ad8585c05dcf253c3691204dbbbe"),
    "pdf_plain_tj_hex": (
        "c7df006478ecc2302fb3c7a87faf35a63a6356dbaaf9ba4836a022ba8c1cd2bd",
        "c1ced4a42c3e81dfbdc938c2550a366c9a55a334cc74a29682c53461d549b8cd"),
    "png_filter0": (
        "e50c53ab91523bc2b32f64a2f28cfab7f40efa9b0df0bb9cc5aa1085bdb341ca",
        "b96db6cc34b634199dd882422d7cd8c0bbd5e921d88f0e064fbed78e187d6992"),
    "png_filter1": (
        "e62c79b3bb5b6b9e739570a27afba7c494efd89997c1e94772e9dc798e3734cc",
        "d742e9aea090be75b48779ae5b799da7b44fd367c904796ab9d149e1d255d152"),
    "png_filter2": (
        "5789bef02638b2f51667fe87f8bb8839439046f612967de862cd2e1eed1df9e8",
        "8fa917b5fd442e57d8e2247eece0581a3f7749671e295e68338444b77b42be30"),
    "png_filter3": (
        "18fb67b8fcf787673992fadce1af7bdb66a42965c04957b9a4083d24c0228404",
        "3404c537a2cea7f675640380215b4ddf74510f6603f89473f0f335672677b0b1"),
    "png_filter4": (
        "149fe3e44e23ebbd7b2486b52a6c72700a804cad81be5bd8846f497afe4ed0ef",
        "1d57ad5688a3bb552071541887f04f7ae89a15c43256cef1ebe5d0a05627e037"),
    "tiff_lzw_predictor_be": (
        "874cba5f5a6a423ee3cb6677172b8cc8acb3ffed95333e00da2d2fcf23519ebe",
        "b64533cd75545390d70988ed655f407972c0b628136d4fa217bf166e9ddb7671"),
    "tiff_lzw_predictor_le": (
        "9d3e2f71cdd75538959e33c57f255a790f73c1b58516ab9457ff7a44c9367827",
        "30aad1cf476cf556d7517fc2b25bd77baaf725668b256dea2409419deefd6915"),
    "tiff_lzw_small": (
        "ada05a40477930f2fda11f5be6e2a831542ab79898adc5405774e18943a786c8",
        "b4e10a62a7e1f1f2958c94398209f2b988259288dba0aff5e08e3f68645cca57"),
    "tiff_packbits_be_gray": (
        "86744b60c5c029aba1d9ad036ce4437808a1ac6f68ee8eb3d8267403567acb35",
        "7ecda65e31d81b24dae662090b6186fbe3e2fb21cb4e7cd506447bc57ee6d0ff"),
    "tiff_packbits_le": (
        "cdf127be599baa65cb86a1948768be5d3b26eeaefdbf7985545a750aeb9076f3",
        "73a28b1f3de71760237bbf991eb0f720362c2b0024ddb65e4669ff0a490d7bde"),
    "webp_effort0": (
        "2de8aae10f270af52e28b6b50c9033ce0f75fd74f92f7898b42feabdd4ff5630",
        "3ac5fbfc8fad6c957eba3b0e0789cb2c5d921bd4757d533d1c59d3c2e171e980"),
    "webp_effort1": (
        "0a0595fadb88566bce2339eb193287f4be2f68a77b7448525c9e177f60ba81e1",
        "80b1fd5913596390d1af8a34f5c941bc9c7c8c6575bf44937805bb983513230b"),
}


def _digest(obj) -> str:
    """SHA-256 over a canonical byte form of a decoder's result
    (arrays keep dtype and shape; containers recurse in order)."""
    h = hashlib.sha256()

    def feed(o):
        if isinstance(o, np.ndarray):
            h.update(f"nd{o.dtype.str}{o.shape}".encode())
            h.update(np.ascontiguousarray(o).tobytes())
        elif isinstance(o, (bytes, bytearray)):
            h.update(b"b%d:" % len(o) + bytes(o))
        elif isinstance(o, (list, tuple)):
            h.update(b"[%d" % len(o))
            for x in o:
                feed(x)
        elif isinstance(o, dict):
            h.update(b"{%d" % len(o))
            for k in sorted(o):
                feed(k)
                feed(o[k])
        else:
            h.update(repr(o).encode())

    feed(obj)
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(CASES))
def test_golden_digest(name):
    build, decode = CASES[name]
    payload = build()
    enc_digest, dec_digest = GOLDEN[name]
    assert hashlib.sha256(payload).hexdigest() == enc_digest
    assert _digest(decode(payload)) == dec_digest


# ------------------------------------------------------ truncation fuzz

#: golden payloads too large to cut at every byte in the default suite;
#: each of their decoders keeps smaller payloads in the sweep
_TOO_BIG_TO_SWEEP = {"flac_mono", "gif_reset", "tiff_lzw_predictor_le",
                     "tiff_lzw_predictor_be"}


@pytest.mark.parametrize("name", sorted(set(CASES) - _TOO_BIG_TO_SWEEP))
def test_every_truncation_decodes_or_raises_valueerror(name):
    """Every prefix of a golden payload either decodes or raises
    ValueError (UnsupportedCodecError included) — never the
    IndexError / struct.error / zlib.error of a parser running off
    the end, which the codec docstrings rule out."""
    build, decode = CASES[name]
    payload = build()
    for k in range(len(payload)):
        try:
            decode(payload[:k])
        except ValueError:
            pass


def test_truncated_avi_raises_instead_of_cutting_a_frame():
    """A frame chunk whose declared size runs past the end of the file
    is an error, not a shorter frame."""
    frames = [encode_jpeg(_img(24, 32, s), quality=90) for s in range(2)]
    avi = mux_mjpeg_avi(frames, fps=10.0)
    assert demux_mjpeg_avi(avi)[0] == frames
    with pytest.raises(ValueError, match="overruns"):
        demux_mjpeg_avi(avi[:-40])


# ------------------------------------------------ shared primitives

_LZW_FLAVOURS = {"gif": dict(msb=False, early=0),
                 "tiff": dict(msb=True, early=1)}


def _symbols(seed: int, min_code_size: int, n: int) -> bytes:
    rng = np.random.default_rng(seed)
    return rng.integers(0, 1 << min_code_size, n, dtype=np.uint8).tobytes()


@settings(max_examples=8, deadline=None)
@given(flavour=st.sampled_from(sorted(_LZW_FLAVOURS)),
       min_code_size=st.integers(2, 8),
       seed=st.integers(0, 2**32 - 1))
def test_lzw_roundtrip_across_resets(flavour, min_code_size, seed):
    fl = _LZW_FLAVOURS[flavour]
    data = _symbols(seed, min_code_size, 12_000 * (10 - min_code_size))
    enc = lzw_encode(data, min_code_size, **fl)
    # no code is wider than 12 bits, so more than 2 x 4096 codes went
    # out: every width bump and at least two dictionary resets
    assert len(enc) * 8 // 12 > 2 * 4096
    assert lzw_decode(enc, min_code_size, **fl) == data


@settings(max_examples=40, deadline=None)
@example(flavour="tiff", min_code_size=2, seed=0, n=2, cut=1.0)
@given(flavour=st.sampled_from(sorted(_LZW_FLAVOURS)),
       min_code_size=st.integers(2, 8),
       seed=st.integers(0, 2**32 - 1),
       n=st.integers(0, 3000),
       cut=st.floats(0, 1))
def test_lzw_truncated_stream_decodes_to_a_prefix(flavour, min_code_size,
                                                  seed, n, cut):
    fl = _LZW_FLAVOURS[flavour]
    data = _symbols(seed, min_code_size, n)
    enc = lzw_encode(data, min_code_size, **fl)
    out = lzw_decode(enc[:int(cut * len(enc))], min_code_size, **fl)
    assert data.startswith(out)


def test_tiff_lzw_end_code_at_a_width_bump():
    """When the last code lands on a width bump, an early-change
    decoder widens before it reads END, so END must go out at the new
    width (libtiff's post-encode step). Written at the old width it
    decoded to trailing garbage or, right after a reset, raised."""
    from flink_precisely_demo_spark.operators.tiff import decode_tiff

    blob = np.random.default_rng(0).integers(0, 256, 5000, np.uint8).tobytes()
    for n in (770, 1812, 4199, 4715):
        enc = lzw_encode(blob[:n], 8, msb=True, early=1)
        assert lzw_decode(enc, 8, msb=True, early=1) == blob[:n]
    img = np.frombuffer(blob[:4199], np.uint8).reshape(1, 4199)
    assert np.array_equal(decode_tiff(encode_tiff(img, lzw=True))[..., 0],
                          img)


_fields = st.lists(st.tuples(st.integers(0, 33), st.integers(0, 2**40)),
                   max_size=60)


@settings(max_examples=60, deadline=None)
@given(fields=_fields)
def test_bit_writers_and_readers_roundtrip(fields):
    """Writers keep the low ``n`` bits of each value; readers return
    them in order in both bit orders."""
    want = [v & ((1 << n) - 1) for n, v in fields]
    nbytes = -(-sum(n for n, _ in fields) // 8)
    for writer, reader in ((MsbWriter, MsbReader), (LsbWriter, LsbReader)):
        w = writer()
        for n, v in fields:
            w.write(v, n)
        data = w.flush()
        assert len(data) == nbytes
        r = reader(data)
        assert [r.read(n) for n, _ in fields] == want


@settings(max_examples=60, deadline=None)
@given(data=st.binary(max_size=12), head=st.integers(0, 96),
       extra=st.integers(1, 40),
       fill=st.sampled_from([None, 0x00, 0xFF, 0xA5]))
def test_msb_reader_past_the_end_raises_or_fills(data, head, extra, fill):
    head = min(head, len(data) * 8)
    tail = bytes([fill or 0]) * 6
    stream = int.from_bytes(data + tail, "big")
    total = (len(data) + len(tail)) * 8
    r = MsbReader(data, fill=fill, underrun="test: underrun")
    assert r.read(head) == (stream >> (total - head)) & ((1 << head) - 1)
    if fill is None and head + extra > len(data) * 8:
        with pytest.raises(ValueError, match="test: underrun"):
            r.read(extra)
        with pytest.raises(ValueError, match="test: underrun"):
            LsbReader(data, underrun="test: underrun").read(head + extra)
    else:
        got = r.read(extra)
        assert got == (stream >> (total - head - extra)) & ((1 << extra) - 1)


@settings(max_examples=40, deadline=None)
@given(lengths=st.lists(st.integers(1, 16), min_size=2, max_size=40)
       .filter(lambda ls: sum(2.0 ** -n for n in ls) <= 1),
       seed=st.integers(0, 2**32 - 1))
def test_canonical_codes_roundtrip_through_both_readers(lengths, seed):
    """Any Kraft-valid set of code lengths gives a prefix code whose
    encoded symbols the shared symbol reader decodes back, in either
    bit order."""
    table = canonical_codes(sorted((n, s) for s, n in enumerate(lengths)))
    codes = encoder_codes(table)
    assert sorted(codes) == list(range(len(lengths)))
    assert all(codes[s][1] == n for s, n in enumerate(lengths))
    msg = np.random.default_rng(seed).integers(0, len(lengths), 50).tolist()
    msb, lsb = MsbWriter(), LsbWriter()
    for s in msg:
        msb.write(*codes[s])
        lsb.write_code(*codes[s])
    for reader in (MsbReader(msb.flush()), LsbReader(lsb.flush())):
        assert [reader.symbol(table) for _ in msg] == msg
