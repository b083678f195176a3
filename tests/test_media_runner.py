"""The one per-blob runner of the media operators (ops/multimodal.map_blobs):
every operator yields typed rows under one status rule, and no ops module
but the runner grows its own blob loop back."""

import ast
import pathlib

import pytest

from marky_spark import fixtures as fx
from marky_spark.ops.gifcodec import gif_encode
from marky_spark.ops.mp4meta import build_mp4
from marky_spark.ops.pngcodec import png_encode
from marky_spark.ops.wavcodec import wav_encode
from marky_spark.ops.webpcodec import webp_encode

_PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "marky_spark"

_PNG = png_encode(bytes(range(4 * 3 * 3)), 4, 3, 3)
_WAV = wav_encode([[1], [-2], [3], [-4]], 8000, bits=16)
_PAYLOADS = {
    "null": None,
    "empty": b"",
    "text": b"just some document text, not media",
    "truncated_png": _PNG[:40],
    "valid": _PNG,
    "imageless_pdf": fx.pdf_bytes([[(72, 700, "only text")]]),
    # an ftyp box, then a moov box cut short
    "truncated_mp4": build_mp4(tracks=[("vide", "avc1", 64, 48)])[:40],
    "still_gif": gif_encode(bytes(12), 4, 3, bytes(range(12))),
    "still_webp": webp_encode(bytes(range(4 * 3 * 3)), 4, 3, 3),
}
_STILLS = ("valid", "still_gif", "still_webp")  # "valid" is a still PNG


def _operators():
    from marky_spark.ops import audio, lossy_audio, metastrip, mp4meta
    from marky_spark.ops import multimodal as mm
    from marky_spark.ops import pdfmedia

    return {
        "decode_media": mm.decode_media,
        "resize_media": mm.resize_media,
        "decode_pixels": mm.decode_pixels,
        "pixel_features": mm.pixel_features,
        "media_features": mm.media_features,
        "frame_sample": mm.frame_sample,
        "scan_features": mm.scan_features,
        "audio_features": audio.audio_features,
        "audio_meta": lossy_audio.audio_meta,
        "strip_metadata": metastrip.strip_metadata,
        "video_meta": mp4meta.video_meta,
        "pdf_media": pdfmedia.pdf_media,
    }


@pytest.mark.parametrize("payload", sorted(_PAYLOADS))
@pytest.mark.parametrize("op", sorted(_operators()))
def test_every_operator_yields_typed_rows(spark, op, payload):
    blob = _PAYLOADS[payload]
    if payload == "valid" and op == "audio_features":
        blob = _WAV
    media = spark.createDataFrame(
        [("m", "application/octet-stream",
          None if blob is None else bytearray(blob))],
        "media_ref string, mime string, payload binary")
    rows = _operators()[op](media).collect()
    if op == "pdf_media" and payload == "imageless_pdf":
        assert rows == []
    elif op == "frame_sample":
        assert len(rows) >= 1
    else:
        assert len(rows) == 1
    for r in rows:
        status = r["ok"]
        assert status in ("ok", "unsupported", "codec_unavailable") \
            or status.startswith("error: "), status
        if status != "ok":
            assert [k for k, v in r.asDict().items()
                    if v is not None] == ["media_ref", "ok"], r
    statuses = [r["ok"] for r in rows]
    if op == "video_meta" and payload == "truncated_mp4":
        assert statuses[0].startswith("error: "), statuses
    elif op == "video_meta":  # a payload no container claims is not video
        assert statuses == ["unsupported"], statuses
    if op == "frame_sample" and payload in _STILLS:  # a still has no frames
        assert statuses == ["unsupported"], statuses
    if payload == "valid":
        assert all(r["ok"] == "ok" for r in rows) or op in (
            "scan_features", "audio_meta", "video_meta", "pdf_media",
            "frame_sample"), rows


def test_status_rule_types_foreign_and_package_errors():
    """The rule itself, without Spark: a package error keeps its message,
    a foreign exception is prefixed with its type."""
    from marky_spark.ops.multimodal import _blob_rows
    from marky_spark.ops.pngcodec import PngError

    def raises(exc):
        def fn(blob):
            raise exc
        return fn

    assert _blob_rows(raises(PngError("bad chunk")), b"", 4) == [
        (None, None, "error: bad chunk")]
    assert _blob_rows(raises(KeyError("k")), b"", 4) == [
        (None, None, "error: KeyError: 'k'")]
    assert _blob_rows(raises(NotImplementedError()), b"", 3) == [
        (None, "codec_unavailable")]
    assert _blob_rows(lambda b: None, b"", 3) == [(None, "unsupported")]
    assert _blob_rows(lambda b: (1, 2), b"", 4) == [(1, 2, "ok")]
    assert _blob_rows(lambda b: [(1, 2, "skipped: x")], b"", 4) == [
        (1, 2, "skipped: x")]
    assert _blob_rows(lambda b: [], b"", 4) == []


def test_status_rule_types_recursion_limit():
    from marky_spark.ops.multimodal import _blob_rows

    def nest(blob, depth=0):
        return nest(blob, depth + 1)

    assert _blob_rows(nest, b"x", 4) == [
        (None, None, "error: nesting exceeds the recursion limit")]


# the streamed ingest walks carry the member index in their error rows
_EXEMPT = {("multimodal.py", "map_blobs"), ("archive.py", "explode_archive"),
           ("warc.py", "warc_records")}


def _maps_blobs(node: ast.AST) -> bool:
    """``<x>.select("media_ref", "payload").mapInPandas(...)``."""
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr == "mapInPandas"):
        return False
    sel = node.func.value
    return (isinstance(sel, ast.Call) and isinstance(sel.func, ast.Attribute)
            and sel.func.attr == "select"
            and [getattr(a, "value", None) for a in sel.args]
            == ["media_ref", "payload"])


def test_no_ops_module_but_the_runner_maps_blobs():
    found = set()
    for path in sorted((_PACKAGE / "ops").glob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for fn in tree.body:
            if isinstance(fn, ast.FunctionDef) and any(
                    _maps_blobs(n) for n in ast.walk(fn)):
                found.add((path.name, fn.name))
    assert found == _EXEMPT


# the image codec modules: every encoder they define but png_encode builds
# test and bench corpora, since every image the engine derives is a PNG
_IMAGE_CODECS = {f"{c}codec" for c in (
    "avi", "bmp", "fax", "gif", "ico", "jpeg", "png", "pnm", "tiff", "webp")}


def _image_encoders() -> set[str]:
    names = set()
    for codec in _IMAGE_CODECS:
        tree = ast.parse((_PACKAGE / "ops" / f"{codec}.py").read_text(
            encoding="utf-8"))
        names |= {fn.name for fn in tree.body
                  if isinstance(fn, ast.FunctionDef) and "encode" in fn.name
                  and not fn.name.startswith("_")}
    return names - {"png_encode"}


def _names(node: ast.AST):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name


def test_no_engine_function_names_an_image_encoder_but_png():
    """Outside a ``synth_*`` builder, only an encoder in its codec module
    may name an image encoder other than ``png_encode``."""
    encoders = _image_encoders()
    assert {"gif_encode", "jpeg_encode", "tiff_encode"} <= encoders
    found = set()
    for path in sorted([*(_PACKAGE / "ops").glob("*.py"),
                        *(_PACKAGE / "kernels").glob("*.py")]):
        codec = path.stem in _IMAGE_CODECS
        for node in ast.parse(path.read_text(encoding="utf-8")).body:
            name = getattr(node, "name", "<module>")
            if name.startswith("synth_") or (codec and "encode" in name):
                continue
            found |= {(path.name, name, n) for n in _names(node)
                      if n in encoders}
    assert found == set()
