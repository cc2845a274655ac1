"""Image payloads as opaque ``binary`` columns, decoded to exact integer
features by the package's from-scratch codecs.

* ``pdf_image_features`` inventories every image XObject the PDF walk
  finds (``pdfmodel.image_inventory``); no pixel is decoded.
* ``pdf_pixel_features`` runs the ``filter_name`` XObjects of each PDF
  through one filter → codec table (``_PIXEL_CODECS``): /DCTDecode →
  ``jpegcodec`` (baseline, progressive and arithmetic-coded JPEG),
  /JPXDecode → ``jpxcodec`` (JPEG 2000) and /CCITTFaxDecode →
  ``ccittcodec`` (Group 3 and 4 fax).
* ``real_media_features`` decodes stand-alone JPEG and JPEG 2000 payloads
  with the same codecs, and PNG and BMP payloads with ``mediacodec``.

Each corpus here (``synth_*_df``) is a pure function of the row index, so
a DuckDB oracle recomputes the exact pixel sums from the generating
formulas. A payload no codec handles, or a corrupt one, becomes an error
row; the batch survives.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame

from . import arrow_kernel

__all__ = [
    "MEDIA_SCHEMA_DDL",
    "REAL_FEATURES_SCHEMA_DDL",
    "IMAGEDOC_SCHEMA_DDL",
    "IMAGE_INV_SCHEMA_DDL",
    "PIXEL_SCHEMA_DDL",
    "real_media_dims",
    "encode_real_media",
    "synth_real_media_df",
    "real_media_features",
    "synth_imagedoc_df",
    "pdf_image_features",
    "synth_jpegdoc_df",
    "synth_jpxdoc_df",
    "synth_ccittdoc_df",
    "pdf_pixel_features",
]

MEDIA_SCHEMA_DDL = "media_id BIGINT, kind STRING, payload BINARY"


def _value_features(vals) -> dict:
    """The exact integer reduction every decode oracle recomputes: count,
    sum and the (k+1)-weighted sum — position-sensitive, so a row-order,
    channel-order or padding bug changes it even when the plain sum
    survives."""
    return {
        "n_values": len(vals),
        "value_sum": int(sum(vals)),
        "weighted_sum": int(sum((k + 1) * v for k, v in enumerate(vals))),
    }


# ---------------------------------------------------------------------------
# Stand-alone image payloads: JPEG and JPEG 2000 through the PDF path's
# codecs, PNG and BMP through ``mediacodec``
# ---------------------------------------------------------------------------

REAL_FEATURES_SCHEMA_DDL = (
    "media_id BIGINT, fmt STRING, width INT, height INT, channels INT, "
    "n_values BIGINT, value_sum BIGINT, weighted_sum BIGINT, error STRING"
)


def real_media_dims(i: int) -> dict:
    """The generating formulas for stand-alone payload ``i``, shared by the
    corpus builder and the DuckDB oracle. Every block is 12 docs:

    * ``i < 12`` — JPEGs of flat 8×8 blocks (``_jpeg_flat_pixels`` seeded
      ``i``; DC quant 8 makes the decode bit-exact, through the codec's
      fixed-point YCbCr round trip for colour): baseline SOF0 with
      restart interval 0/2/3, progressive SOF2 on the restart-free docs
      below 6;
    * ``12 <= i < 24`` — JPEG 2000 codestreams of the ramp
      ``(i*31 + k*7) % 251``, lossless through the reversible 5/3 path,
      with 0/1/2 wavelet levels;
    * ``24 <= i < 36`` — 8-bit grey/RGB/RGBA PNG of the same ramp;
    * ``36 <= i < 48`` — palette PNG (depth 1/2/4/8): index
      ``(i*31 + p*7) % psize`` for pixel ``p`` through
      ``_shared_palette``, with a tRNS chunk (``_trns_alpha``) on half
      the docs, which makes the canonical output RGBA;
    * ``48 <= i < 54`` — sub-byte greyscale PNG: sample
      ``(i*31 + k*7) % 2**d`` scaled by the exact ``255 // (2**d - 1)``;
    * ``54 <= i < 60`` — 16-bit grey/RGB/RGBA PNG: sample
      ``(i*4099 + k*2053) % 65536`` canonicalised to its high byte;
    * ``60 <= i < 72`` — BMP: 24-bit of the ``% 251`` ramp on even ``i``,
      8-bit indexed through ``_shared_palette`` on odd ``i``.

    The PNG row filter rotates from ``i`` and Adam7 interlace alternates;
    BMP widths 9..16 hit every row padding. Neither changes the decoded
    values, so neither appears in the oracle."""
    ch = (1, 3)[i % 2]
    if i < 12:
        return {"fmt": "jpeg", "w": 8 * (1 + i % 3), "h": 8 * (1 + (i // 3) % 2),
                "ch": ch, "restart": (0, 2, 3)[i % 3], "prog": i % 3 == 0 and i < 6}
    d = {"w": 9 + i % 8, "h": 7 + i % 6, "interlace": i % 2 == 1}
    if i < 24:
        return {**d, "fmt": "jp2k", "ch": ch, "levels": i % 3}
    if i < 36:
        return {**d, "fmt": "png", "kind": "ramp", "ch": (1, 3, 4)[i % 3], "depth": 8}
    if i < 48:
        depth = (1, 2, 4, 8)[i % 4]
        trns = (i // 4) % 2 == 1
        return {**d, "fmt": "png", "kind": "palette", "ch": 4 if trns else 3,
                "depth": depth, "psize": 1 << depth, "trns": trns}
    if i < 54:
        return {**d, "fmt": "png", "kind": "gray", "ch": 1, "depth": (1, 2, 4)[i % 3]}
    if i < 60:
        return {**d, "fmt": "png", "kind": "deep", "ch": (1, 3, 4)[i % 3], "depth": 16}
    if i % 2 == 0:
        return {**d, "fmt": "bmp", "kind": "ramp", "ch": 3}
    return {**d, "fmt": "bmp", "kind": "palette", "ch": 3,
            "psize": (4, 16, 64, 256)[(i // 2) % 4]}


def _jpeg_flat_pixels(i: int, w: int, h: int, ch: int) -> bytes:
    """Flat-per-8×8-block pixel buffer: block ``b`` (row-major), channel
    ``c`` gets ``(i*31 + b*17 + c*101) % 256`` — the one formula the DuckDB
    oracles' ``_jpeg_flat_ctes`` evaluate per decoded value position."""
    bw = w // 8
    out = bytearray()
    for y in range(h):
        for x in range(w):
            b = (y // 8) * bw + (x // 8)
            for c in range(ch):
                out.append((i * 31 + b * 17 + c * 101) % 256)
    return bytes(out)


def _q8_tables():
    """Annex-K tables with the DC step forced to 8, for every flat-block
    stratum: 8 divides 8*(v-128) for every integer v, so flat blocks
    decode bit-exactly (the AC steps are irrelevant — a flat block's 63
    AC coefficients are 0)."""
    from ..jpegcodec import QUANT_CHROMA, QUANT_LUM

    return ((8,) + QUANT_LUM[1:], (8,) + QUANT_CHROMA[1:])


def _shared_palette(i: int, psize: int):
    """Entry ``j`` of doc ``i``'s palette, for palette PNG and 8-bit BMP
    alike; the oracle restates it."""
    return [
        ((i * 7 + j * 3) % 256, (i * 11 + j * 5) % 256, (i * 13 + j * 9) % 256)
        for j in range(psize)
    ]


def _trns_alpha(i: int, psize: int):
    """tRNS alpha for the first ``psize // 2`` palette entries (at least
    one); the entries past its end decode opaque (255), as the spec says."""
    return [(i * 19 + j * 7) % 256 for j in range(max(1, psize // 2))]


def encode_real_media(i: int) -> bytes:
    """The payload of doc ``i`` (pure function, no RNG)."""
    d = real_media_dims(i)
    w, h, ch = d["w"], d["h"], d["ch"]
    ramp = bytes((i * 31 + k * 7) % 251 for k in range(w * h * ch))
    if d["fmt"] == "jpeg":
        from ..jpegcodec import encode_jpeg, encode_jpeg_progressive

        px = _jpeg_flat_pixels(i, w, h, ch)
        if d["prog"]:
            return encode_jpeg_progressive(w, h, ch, px, qtables=_q8_tables())
        return encode_jpeg(w, h, ch, px, qtables=_q8_tables(),
                           restart_interval=d["restart"])
    if d["fmt"] == "jp2k":
        from ..jpxcodec import encode_jpx

        return encode_jpx(w, h, ch, ramp, levels=d["levels"])
    if d["fmt"] == "bmp":
        from ..mediacodec import encode_bmp

        if d["kind"] == "ramp":
            return encode_bmp(w, h, ramp)
        idx = bytes((i * 31 + p * 7) % d["psize"] for p in range(w * h))
        return encode_bmp(w, h, idx, palette=_shared_palette(i, d["psize"]))
    from ..mediacodec import encode_png

    kw = {"filter_seed": i, "interlace": d["interlace"]}
    if d["kind"] == "ramp":
        return encode_png(w, h, ch, ramp, **kw)
    if d["kind"] == "palette":
        psize = d["psize"]
        idx = bytes((i * 31 + p * 7) % psize for p in range(w * h))
        return encode_png(w, h, 1, idx, palette=_shared_palette(i, psize),
                          depth=d["depth"],
                          trns=_trns_alpha(i, psize) if d["trns"] else None, **kw)
    if d["kind"] == "gray":
        px = bytes((i * 31 + k * 7) % (1 << d["depth"]) for k in range(w * h))
        return encode_png(w, h, 1, px, depth=d["depth"], **kw)
    vals = [(i * 4099 + k * 2053) % 65536 for k in range(w * h * ch)]
    return encode_png(w, h, ch, vals, depth=16, **kw)


def synth_real_media_df(spark, n: int, num_partitions: int = 8) -> DataFrame:
    """Row ``i`` is ``(i, real_media_dims(i)["fmt"], encode_real_media(i))``,
    a pure function of ``i``."""
    return arrow_kernel(
        spark.range(0, n, 1, num_partitions),
        lambda bs: ([
            {"media_id": i, "kind": real_media_dims(i)["fmt"],
             "payload": encode_real_media(i)}
            for i in b["id"].tolist()
        ] for b in bs),
        MEDIA_SCHEMA_DDL,
    )


def _real_decode_one(media_id: int, payload: Optional[bytes]) -> dict:
    """Magic bytes → codec → one feature row; an empty, unknown or corrupt
    payload becomes an error row."""
    row = {
        "media_id": media_id, "fmt": None, "width": None, "height": None,
        "channels": None, "n_values": None, "value_sum": None,
        "weighted_sum": None, "error": None,
    }
    try:
        data = bytes(payload or b"")
        if data[:3] == b"\xff\xd8\xff":
            from ..jpegcodec import decode_jpeg as decode
            fmt = "jpeg"
        elif data[:4] == b"\xff\x4f\xff\x51":
            from ..jpxcodec import decode_jpx as decode
            fmt = "jp2k"
        elif data[:8] == b"\x89PNG\r\n\x1a\n":
            from ..mediacodec import decode_png as decode
            fmt = "png"
        elif data[:2] == b"BM":
            from ..mediacodec import decode_bmp as decode
            fmt = "bmp"
        else:
            raise NotImplementedError(f"no decoder for this payload (magic {data[:4]!r})")
        w, h, ch, vals = decode(data)
        row.update(_value_features(vals), fmt=fmt, width=w, height=h, channels=ch)
    except Exception as e:  # malformed/unsupported → error row, batch survives
        row["error"] = f"{type(e).__name__}: {e}"
    return row


def real_media_features(media: DataFrame) -> DataFrame:
    """Decode each stand-alone JPEG, JPEG 2000, PNG or BMP payload → exact
    integer features (dimensions, channels and the order-sensitive value
    sums of the top-down interleaved pixels), one Arrow-batch Python
    dispatch per payload."""

    def run(batches):
        for b in batches:
            yield [
                _real_decode_one(i, p)
                for i, p in zip(b["media_id"].tolist(), b["payload"].tolist())
            ]

    return arrow_kernel(media, run, REAL_FEATURES_SCHEMA_DDL)


# ---------------------------------------------------------------------------
# PDF-embedded images (the multimodal face of the PDF walk)
# ---------------------------------------------------------------------------

IMAGEDOC_SCHEMA_DDL = "doc_id BIGINT, pdf BINARY"
IMAGE_INV_SCHEMA_DDL = (
    "doc_id BIGINT, page INT, name STRING, width INT, height INT, "
    "filter STRING, n_bytes BIGINT"
)

_IMG_FILTERS = ("DCTDecode", "CCITTFaxDecode", "JPXDecode")


def _synth_pdfdoc_df(spark, n, num_partitions, caption, images, tail=()) -> DataFrame:
    """The one image-PDF generator shell: doc ``i`` is one page with the
    line ``f"{caption} doc {i}"`` (plus ``tail`` spans) and the XObjects
    ``images(i)``, classic xref on odd ``i`` and an xref stream on even —
    every byte a pure function of ``i``, so the DuckDB oracles recompute
    the expected rows from the same formulas."""

    def gen(batches):
        from b_pdf_parser_spark.pdfwriter import build_pdf

        for b in batches:
            yield [
                {"doc_id": i, "pdf": build_pdf(
                    [[(40.0, 700.0, f"{caption} doc {i}"), *tail]],
                    xref_stream=(i % 2 == 0), images=images(i),
                )}
                for i in b["id"].tolist()
            ]

    return arrow_kernel(spark.range(0, n, 1, num_partitions), gen, IMAGEDOC_SCHEMA_DDL)


def synth_imagedoc_df(spark, n: int, num_partitions: int = 8) -> DataFrame:
    """``n`` PDFs carrying ``doc_id % 4`` pseudo-byte image XObjects each
    (filters rotating DCT/CCITT/JPX) — the inventory corpus: the Spark
    path runs the REAL writer → parser roundtrip."""

    def images(i):
        from b_pdf_parser_spark.pdfwriter import make_image

        return [
            make_image(0, 8 + (i + j) % 32, 8 + (i * j) % 24,
                       _IMG_FILTERS[(i + j) % 3], seed=i * 17 + j)
            for j in range(i % 4)
        ]

    return _synth_pdfdoc_df(spark, n, num_partitions, "image", images,
                            tail=((40.0, 680.0, "with pictures"),))


def pdf_image_features(docs: DataFrame) -> DataFrame:
    """Inventory every image XObject in each PDF payload (one Arrow-batch
    Python dispatch per document; pixels are never decoded — see
    ``pdfmodel.image_inventory``)."""

    def run(batches):
        from b_pdf_parser_spark.pdfmodel import image_inventory

        for b in batches:
            rows = []
            for did, pdf in zip(b["doc_id"].tolist(), b["pdf"].tolist()):
                try:
                    for rec in image_inventory(bytes(pdf)):
                        rows.append({"doc_id": int(did), **rec})
                except Exception as e:  # corrupt doc → error row, job survives
                    rows.append({
                        "doc_id": int(did), "page": -1, "name": "",
                        "width": 0, "height": 0,
                        "filter": f"error:{type(e).__name__}", "n_bytes": 0,
                    })
            yield rows

    return arrow_kernel(docs, run, IMAGE_INV_SCHEMA_DDL)


# ---------------------------------------------------------------------------
# PDF image XObjects → pixels: one filter-routed kernel over the codecs
# ---------------------------------------------------------------------------

PIXEL_SCHEMA_DDL = (
    "doc_id BIGINT, page INT, name STRING, width INT, height INT, "
    "channels INT, n_values BIGINT, value_sum BIGINT, weighted_sum BIGINT, "
    "error STRING"
)


def _decode_dct(rec: dict):
    from b_pdf_parser_spark.jpegcodec import decode_jpeg

    return decode_jpeg(rec["data"])


def _decode_jpx(rec: dict):
    from b_pdf_parser_spark.jpxcodec import decode_jpx

    return decode_jpx(rec["data"])


def _decode_ccitt(rec: dict):
    """Routed by /K as a conforming reader must: Group 4 for K < 0,
    Group 3 otherwise; /EncodedByteAlign passes through, and /BlackIs1
    (black decodes to 1-bits) inverts the conforming sample values."""
    from b_pdf_parser_spark.ccittcodec import decode_g3, decode_g4

    w, h, k = rec["width"], rec["height"], rec.get("ccitt_k", 0)
    eba = rec.get("ccitt_byte_align", False)
    if k < 0:
        px = decode_g4(rec["data"], w, h, byte_align=eba)
    else:
        px = decode_g3(rec["data"], w, h, k=k, byte_align=eba)
    if rec.get("ccitt_black1", False):
        px = bytes(255 - v for v in px)
    return w, h, 1, px


# /Filter of the image XObject → codec returning (w, h, channels, pixels)
_PIXEL_CODECS = {
    "DCTDecode": _decode_dct,
    "JPXDecode": _decode_jpx,
    "CCITTFaxDecode": _decode_ccitt,
}


def pdf_pixel_features(docs: DataFrame, filter_name: str) -> DataFrame:
    """PDF walk → the ``filter_name`` image XObjects' codec input (every
    earlier filter in the chain applied,
    ``image_inventory(with_data=filter_name)``) → REAL from-scratch decode
    → exact integer pixel features, one row per image. Images under other
    filters are routed past the codec with their streams undecoded (the
    corpora plant a pseudo-byte decoy per doc, so a routing bug becomes
    an error row); a decode whose dimensions disagree with the XObject's
    /Width /Height fails. A corrupt document, or a corrupt stream under
    ``filter_name``, yields one error row for the document. One Arrow-batch Python dispatch per document."""
    decode = _PIXEL_CODECS[filter_name]

    def run(batches):
        from b_pdf_parser_spark.pdfmodel import image_inventory

        for b in batches:
            rows = []
            for did, pdf in zip(b["doc_id"].tolist(), b["pdf"].tolist()):
                try:
                    for rec in image_inventory(bytes(pdf), with_data=filter_name):
                        if rec["filter"] != filter_name:
                            continue
                        w, h, ch, px = decode(rec)
                        if (w, h) != (rec["width"], rec["height"]):
                            raise ValueError(
                                f"XObject dims {rec['width']}x{rec['height']}"
                                f" != {filter_name} dims {w}x{h}"
                            )
                        rows.append({
                            "doc_id": int(did), "page": rec["page"],
                            "name": rec["name"], "width": w, "height": h,
                            "channels": ch, **_value_features(px),
                            "error": None,
                        })
                except Exception as e:  # corrupt doc/stream → error row
                    rows.append({
                        "doc_id": int(did), "page": -1, "name": "",
                        "width": None, "height": None, "channels": None,
                        "n_values": None, "value_sum": None,
                        "weighted_sum": None,
                        "error": f"{type(e).__name__}: {e}",
                    })
            yield rows

    return arrow_kernel(docs, run, PIXEL_SCHEMA_DDL)


def _jpeg_xobject_dims(i: int, j: int) -> dict:
    """Generating formulas for embedded JPEG ``j`` of doc ``i`` — shared
    by the corpus builder and the DuckDB oracle. Pixel seed ``s = i*13 +
    j*7`` feeds the same flat-block formula as the real-media corpus."""
    return {
        "w": 8 * (1 + (i + j) % 3),
        "h": 8 * (1 + j % 2),
        "ch": (1, 3)[(i + j) % 2],
        "restart": (0, 2, 3)[(i + j) % 3],
        # progressive SOF2 on half the restart-free XObjects (decoded
        # pixels — and hence the oracle formulas — are identical)
        "prog": (i + j) % 3 == 0 and i % 2 == 0,
        "seed": i * 13 + j * 7,
    }


def synth_jpegdoc_df(spark, n: int, num_partitions: int = 8) -> DataFrame:
    """``n`` deterministic PDFs, each embedding ``i % 3`` REAL JPEGs
    (flat 8×8 blocks, DC quant 8 — the bit-exact stratum; baseline SOF0
    with restart rotation + progressive SOF2 on half the restart-free
    slots) as /DCTDecode image XObjects, plus one pseudo-byte CCITT
    decoy per doc."""

    def images(i):
        from b_pdf_parser_spark.jpegcodec import encode_jpeg, encode_jpeg_progressive
        from b_pdf_parser_spark.pdfwriter import make_image

        q8 = _q8_tables()
        imgs = []
        for j in range(i % 3):
            d = _jpeg_xobject_dims(i, j)
            px = _jpeg_flat_pixels(d["seed"], d["w"], d["h"], d["ch"])
            if d["prog"]:
                payload = encode_jpeg_progressive(
                    d["w"], d["h"], d["ch"], px, qtables=q8,
                )
            else:
                payload = encode_jpeg(
                    d["w"], d["h"], d["ch"], px,
                    qtables=q8, restart_interval=d["restart"],
                )
            imgs.append({
                "page": 0, "width": d["w"], "height": d["h"],
                "filter": "DCTDecode", "data": payload,
            })
        return imgs + [make_image(0, 16, 8, "CCITTFaxDecode", seed=i)]

    return _synth_pdfdoc_df(spark, n, num_partitions, "jpeg", images)


def _jpx_xobject_dims(i: int, j: int) -> dict:
    """Generating formulas for embedded JPEG 2000 image ``j`` of doc
    ``i`` — shared by the corpus builder and the DuckDB oracle. The
    pixel at (x, y, channel c) is ``(s + 7x + 11y + 97c) % 256`` with
    seed ``s = i*13 + j*7``; the 5/3+MQ path is LOSSLESS so the decoded
    samples ARE the formula (no quantization argument needed).
    ``levels`` rotates 0/1/2 wavelet decompositions — the decoded pixels
    are identical across levels, so the oracle is level-independent
    while the transform/packet routing is pinned (the same cheap hazard
    trick as the CCITT /K rotation)."""
    return {
        "w": 6 + (i * 5 + j * 3) % 19,
        "h": 5 + (i * 2 + j) % 14,
        "ch": (1, 3)[(i + j) % 2],
        "levels": (i + j) % 3,
        "seed": i * 13 + j * 7,
    }


def _jpx_pixels(s: int, w: int, h: int, ch: int) -> bytes:
    return bytes(
        (s + 7 * x + 11 * y + 97 * c) % 256
        for y in range(h) for x in range(w) for c in range(ch)
    )


def synth_jpxdoc_df(spark, n: int, num_partitions: int = 8) -> DataFrame:
    """``n`` deterministic PDFs, each embedding ``i % 3`` REAL JPEG 2000
    codestreams (from-scratch ``jpxcodec``: MQ coder, EBCOT Tier-1,
    reversible 5/3 — lossless) as /JPXDecode image XObjects with the
    wavelet level count rotating 0/1/2, plus one pseudo-byte DCTDecode
    decoy per doc."""

    def images(i):
        from b_pdf_parser_spark.jpxcodec import encode_jpx
        from b_pdf_parser_spark.pdfwriter import make_image

        imgs = []
        for j in range(i % 3):
            d = _jpx_xobject_dims(i, j)
            px = _jpx_pixels(d["seed"], d["w"], d["h"], d["ch"])
            imgs.append({
                "page": 0, "width": d["w"], "height": d["h"],
                "filter": "JPXDecode",
                "data": encode_jpx(d["w"], d["h"], d["ch"], px,
                                   levels=d["levels"]),
            })
        return imgs + [make_image(0, 16, 8, "DCTDecode", seed=i)]

    return _synth_pdfdoc_df(spark, n, num_partitions, "jpx", images)


def _ccitt_xobject_dims(i: int, j: int) -> dict:
    """Generating formulas for embedded CCITT G4 image ``j`` of doc ``i``
    — shared by the corpus builder and the DuckDB oracle. Widths are
    mostly NOT byte multiples (fax rows are bit-packed, so alignment bugs
    only show on odd widths)."""
    return {
        "w": 21 + (i * 13 + j * 5) % 17,
        "h": 10 + (i * 3 + j) % 9,
    }


def _ccitt_pattern_pixels(i: int, j: int, w: int, h: int) -> bytes:
    """Bi-level test pattern (0 = black, 255 = white): white iff
    ``(x//3 + y//2 + i*7 + j*3) % 5 < 3``. The 3-wide runs exercise
    horizontal mode, the every-2-rows phase shift exercises the vertical
    modes, and the wrap of the modulus produces pass-mode rows — while
    staying a closed form a SQL oracle can restate per pixel."""
    return bytes(
        255 if ((x // 3 + y // 2 + i * 7 + j * 3) % 5) < 3 else 0
        for y in range(h)
        for x in range(w)
    )


def synth_ccittdoc_df(spark, n: int, num_partitions: int = 8) -> DataFrame:
    """``n`` deterministic PDFs, each embedding ``1 + i % 2`` REAL CCITT
    bi-level images as /CCITTFaxDecode XObjects (/DeviceGray, 1 bpc —
    the scanned-document-PDF shape) with the /K regime rotating over
    Group 4 (/K -1), Group 3 1-D (/K 0) and Group 3 2-D (/K 4) by
    ``(i + j) % 3`` — half the K=0 images in the PDF-DEFAULT
    /EndOfLine-false shape (rows packed with NO EOL framing, which the
    decoder must auto-detect), a quarter of all images byte-aligned per
    row (/EncodedByteAlign), a fifth carrying /BlackIs1 (the coded runs
    are unchanged; the conforming sample values invert, and the oracle
    inverts in lockstep) — plus one pseudo-byte DCTDecode decoy per doc.
    Together the corpus rotates the ENTIRE practical /CCITTFaxDecode
    parameter surface: K, EndOfLine, EncodedByteAlign, BlackIs1,
    Columns, Rows. The decoded pixels are identical across regimes
    (bi-level fax coding is lossless), so the oracle formulas don't
    depend on K — only the decode PATH does, which is exactly what the
    rotation pins."""

    def images(i):
        from b_pdf_parser_spark.ccittcodec import encode_g3, encode_g4
        from b_pdf_parser_spark.pdfwriter import make_image

        imgs = []
        for j in range(1 + i % 2):
            d = _ccitt_xobject_dims(i, j)
            px = _ccitt_pattern_pixels(i, j, d["w"], d["h"])
            k = (-1, 0, 4)[(i + j) % 3]
            # half the K=0 images ship the PDF-DEFAULT shape:
            # /EndOfLine false, rows packed with no framing
            eol = not (k == 0 and (i // 3) % 2 == 0)
            byte_align = (i * 3 + j) % 4 == 1
            black1 = (i + j) % 5 == 2
            if k < 0:
                enc = encode_g4(d["w"], d["h"], px, byte_align=byte_align)
            else:
                enc = encode_g3(d["w"], d["h"], px, k=k, eol=eol,
                                byte_align=byte_align)
            imgs.append({
                "page": 0, "width": d["w"], "height": d["h"],
                "filter": "CCITTFaxDecode", "k": k, "eol": eol,
                "byte_align": byte_align, "black_is_1": black1,
                "data": enc,
            })
        return imgs + [make_image(0, 16, 8, "DCTDecode", seed=i)]

    return _synth_pdfdoc_df(spark, n, num_partitions, "ccitt", images)
