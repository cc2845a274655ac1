"""Image-XObject emission + inventory: writer → parser roundtrip in all four
emission modes, text-path isolation, and the Spark-side inventory operator.
(The value-level DuckDB oracle parity for `pdf_images` is covered by
tests/test_entry_oracle.py.)"""

import pytest

from b_pdf_parser_spark.pdfmodel import extract_pdf_pages_and_tables, image_inventory
from b_pdf_parser_spark.pdfwriter import build_pdf, make_image

SPANS = [
    [(40.0, 700.0, "Hello world"), (40.0, 680.0, "Line two")],
    [(40.0, 700.0, "Page two text")],
]
IMAGES = [
    make_image(0, 64, 48, "DCTDecode", seed=3),
    make_image(0, 16, 16, "CCITTFaxDecode", seed=5),
    make_image(1, 32, 8, "JPXDecode", seed=7),
]


@pytest.mark.parametrize("xref_stream", [False, True])
@pytest.mark.parametrize("type0", [False, True])
def test_image_roundtrip_all_modes(xref_stream, type0):
    pdf = build_pdf(SPANS, xref_stream=xref_stream, type0=type0, images=IMAGES)
    inv = image_inventory(pdf)
    assert [r["name"] for r in inv] == ["Im0", "Im1", "Im2"]
    assert inv[0] == {
        "page": 0, "name": "Im0", "width": 64, "height": 48,
        "filter": "DCTDecode", "n_bytes": 64 * 48 // 4,
    }
    assert inv[1]["filter"] == "CCITTFaxDecode"
    assert inv[2]["page"] == 1 and inv[2]["width"] == 32


@pytest.mark.parametrize("xref_stream", [False, True])
@pytest.mark.parametrize("type0", [False, True])
def test_images_do_not_perturb_text(xref_stream, type0):
    with_imgs = build_pdf(SPANS, xref_stream=xref_stream, type0=type0, images=IMAGES)
    without = build_pdf(SPANS, xref_stream=xref_stream, type0=type0)
    assert extract_pdf_pages_and_tables(with_imgs)[0] == extract_pdf_pages_and_tables(without)[0]
    assert extract_pdf_pages_and_tables(with_imgs)[0][0] == "Hello world\nLine two\n"
    assert image_inventory(without) == []


def test_image_payload_is_deterministic():
    a = make_image(0, 10, 10, seed=4)
    b = make_image(0, 10, 10, seed=4)
    assert a["data"] == b["data"] and len(a["data"]) == 25
    assert make_image(0, 10, 10, seed=5)["data"] != a["data"]


def test_spark_inventory_operator(spark):
    from b_pdf_parser_spark.operators.multimodal import (
        pdf_image_features,
        synth_imagedoc_df,
    )

    inv = pdf_image_features(synth_imagedoc_df(spark, 40, num_partitions=4))
    rows = {(r.doc_id, r.name): r for r in inv.collect()}
    # doc_id % 4 images per doc → sum over 0..39 of i%4 = 10 * (0+1+2+3)
    assert len(rows) == 60
    r = rows[(7, "Im1")]  # width 8+(7+1)%32, height 8+(7*1)%24, (7+1)%3==2
    assert (r.width, r.height, r.filter) == (16, 15, "JPXDecode")
    assert r.n_bytes == max(1, 16 * 15 // 4)
    assert not any(r.filter.startswith("error:") for r in rows.values())


# ---- error-contract property tests ------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

import b_pdf_parser_spark.pdfmodel as pm  # noqa: E402


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=2048))
def test_image_inventory_never_raises_anything_but_pdferror(data):
    try:
        image_inventory(b"%PDF-" + data)
    except pm.PdfError:
        pass


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=2048))
def test_image_inventory_total_on_mutated_real_pdf(data):
    # splice garbage into a real image-bearing PDF: inventory must either
    # answer or raise PdfError, never anything else
    pdf = bytearray(build_pdf(SPANS, images=IMAGES))
    if data:
        off = len(data) % max(1, len(pdf) - 1)
        pdf[off : off + len(data)] = data
    try:
        image_inventory(bytes(pdf))
    except pm.PdfError:
        pass


def test_with_data_returns_stream_bytes_verbatim():
    pdf = build_pdf(SPANS, images=IMAGES)
    plain = image_inventory(pdf)
    withd = image_inventory(pdf, with_data=True)
    assert [
        {k: v for k, v in r.items() if k != "data"} for r in withd
    ] == plain
    for r in withd:
        assert isinstance(r["data"], bytes) and len(r["data"]) == r["n_bytes"]


def test_pdf_jpeg_decode_flat_blocks_roundtrip_and_decoy_routing():
    # real JPEG XObject decodes to the exact flat-block pixels; the CCITT
    # decoy with pseudo bytes must be routed PAST the codec, and routing
    # it INTO the codec (tampered filter name) must fail loudly
    from b_pdf_parser_spark.jpegcodec import (
        QUANT_CHROMA, QUANT_LUM, decode_jpeg, encode_jpeg,
    )
    from b_pdf_parser_spark.operators.multimodal import _jpeg_flat_pixels

    q8 = ((8,) + QUANT_LUM[1:], (8,) + QUANT_CHROMA[1:])
    px = _jpeg_flat_pixels(9, 16, 8, 3)
    jpeg = encode_jpeg(16, 8, 3, px, qtables=q8, restart_interval=2)
    imgs = [
        {"page": 0, "width": 16, "height": 8, "filter": "DCTDecode",
         "data": jpeg},
        make_image(0, 16, 8, "CCITTFaxDecode", seed=3),
    ]
    pdf = build_pdf(SPANS, images=imgs)
    recs = image_inventory(pdf, with_data=True)
    assert [r["filter"] for r in recs] == ["DCTDecode", "CCITTFaxDecode"]
    w, h, ch, out = decode_jpeg(recs[0]["data"])
    assert (w, h, ch) == (16, 8, 3)
    from test_jpegcodec import rgb_to_ycbcr, ycbcr_to_rgb

    exp = bytearray()
    for k in range(0, len(px), 3):
        exp += bytes(ycbcr_to_rgb(*rgb_to_ycbcr(px[k], px[k + 1], px[k + 2])))
    assert out == bytes(exp)
    with pytest.raises(ValueError):
        decode_jpeg(recs[1]["data"])  # pseudo bytes are not a JPEG


def _chained_jpeg_pdf(chain, encode, other=None):
    # one page, one 8x8 gray JPEG XObject stored under a filter chain that
    # ends in /DCTDecode (the writer emits single filters only); ``other``
    # is a second image XObject on the same page
    from b_pdf_parser_spark.jpegcodec import QUANT_CHROMA, QUANT_LUM, encode_jpeg
    from b_pdf_parser_spark.operators.multimodal import _jpeg_flat_pixels
    from b_pdf_parser_spark.pdfwriter import _emit_classic

    q8 = ((8,) + QUANT_LUM[1:], (8,) + QUANT_CHROMA[1:])
    px = _jpeg_flat_pixels(5, 8, 8, 1)
    stored = encode(encode_jpeg(8, 8, 1, px, qtables=q8))
    image = (
        b"<< /Type /XObject /Subtype /Image /Width 8 /Height 8 "
        b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Filter [%s] "
        b"/Length %d >>\nstream\n" % (chain, len(stored))
        + stored + b"\nendstream"
    )
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
           b"/Resources << /XObject << /Im0 4 0 R%s >> >> >>"
           % (b" /Im1 5 0 R" if other else b""),
        4: image,
    }
    if other:
        objs[5] = other
    return px, stored, _emit_classic(objs, {})


def test_filter_chain_before_dct_decodes_through_pixel_kernel(spark):
    # image_inventory(with_data=True) hands the codec the bytes after every
    # filter before /DCTDecode; n_bytes stays the stored length
    import base64
    import zlib

    from b_pdf_parser_spark.operators.multimodal import pdf_pixel_features

    docs = {
        0: _chained_jpeg_pdf(b"/DCTDecode", lambda b: b),
        1: _chained_jpeg_pdf(b"/FlateDecode /DCTDecode", zlib.compress),
        2: _chained_jpeg_pdf(b"/ASCII85Decode /DCTDecode",
                             lambda b: base64.a85encode(b) + b"~>"),
    }
    for px, stored, pdf in docs.values():
        (rec,) = image_inventory(pdf, with_data=True)
        assert rec["filter"] == "DCTDecode"
        assert rec["n_bytes"] == len(stored)
        assert rec["data"][:3] == b"\xff\xd8\xff"
    df = spark.createDataFrame(
        [(i, pdf) for i, (_, _, pdf) in docs.items()], "doc_id BIGINT, pdf BINARY"
    )
    rows = {r.doc_id: r for r in pdf_pixel_features(df, "DCTDecode").collect()}
    assert sorted(rows) == [0, 1, 2]
    for i, (px, _, _) in docs.items():
        r = rows[i]
        assert r.error is None, r.error
        assert (r.width, r.height, r.channels) == (8, 8, 1)
        assert (r.n_values, r.value_sum) == (64, sum(px))


def test_pixel_kernel_never_decodes_the_images_it_skips(spark):
    # a corrupt /FlateDecode image next to a good /DCTDecode one: the DCT
    # pixel kernel decodes only DCT streams, so the document yields its
    # pixel row, not a document error row
    from b_pdf_parser_spark.operators.multimodal import pdf_pixel_features

    junk = b"not a zlib stream" * 4
    corrupt = (
        b"<< /Type /XObject /Subtype /Image /Width 8 /Height 8 "
        b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /FlateDecode "
        b"/Length %d >>\nstream\n" % len(junk) + junk + b"\nendstream"
    )
    px, _, pdf = _chained_jpeg_pdf(b"/DCTDecode", lambda b: b, other=corrupt)
    recs = image_inventory(pdf, with_data="DCTDecode")
    assert [(r["filter"], "data" in r) for r in recs] == [
        ("DCTDecode", True), ("FlateDecode", False)]
    with pytest.raises(pm.PdfError):
        image_inventory(pdf, with_data=True)
    df = spark.createDataFrame([(0, pdf)], "doc_id BIGINT, pdf BINARY")
    (row,) = pdf_pixel_features(df, "DCTDecode").collect()
    assert row.error is None, row.error
    assert (row.name, row.width, row.height, row.n_values, row.value_sum) == (
        "Im0", 8, 8, 64, sum(px))
