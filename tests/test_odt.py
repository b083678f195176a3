"""ODT kernel (kernels/odtk — beyond-the-reference format): byte-exact
span goldens over the content.xml surface (headings, styled spans,
links, lists, tables, images), container sniffing, and the poison-pill
contract on hostile input."""
import pytest

from marky_spark.fixtures import b64, odt_styles, odt_zip
from marky_spark.kernels import ConvertError
from marky_spark.kernels.odtk import convert_odt


def _md(body: str, styles: str = "", media=None) -> str:
    segs = convert_odt(b64(odt_zip(body, styles, media=media)))
    return "\n\n".join(s[1] for s in segs if s[0] == "markdown")


def test_headings_and_paragraphs():
    out = _md('<text:h text:outline-level="2">Two</text:h>'
              '<text:p>body text</text:p>'
              '<text:h text:outline-level="9">Deep</text:h>')
    assert out == "## Two\n\nbody text\n\n###### Deep"


def test_styled_spans_resolve_automatic_styles():
    out = _md('<text:p>a <text:span text:style-name="B1">bo</text:span>'
              ' <text:span text:style-name="I1">it</text:span>'
              ' <text:span text:style-name="X1">bi</text:span></text:p>',
              odt_styles(both=("X1",)))
    assert out == "a **bo** *it* ***bi***"


def test_nested_span_inherits_outer_style():
    out = _md('<text:p><text:span text:style-name="B1">b '
              '<text:span text:style-name="I1">bi</text:span>'
              ' b2</text:span></text:p>', odt_styles())
    assert out == "**b** ***bi*** **b2**"


def test_link_spaces_tab_break():
    out = _md('<text:p><text:a xlink:href="https://e.io/p">lab</text:a>'
              ' s<text:s text:c="3"/>e<text:tab/>t'
              '<text:line-break/>n</text:p>')
    assert out == "[lab](https://e.io/p) s   e\tt\nn"


def test_lists_nest_with_indentation():
    out = _md('<text:list><text:list-item><text:p>one</text:p>'
              '</text:list-item><text:list-item><text:p>two</text:p>'
              '<text:list><text:list-item><text:p>deep</text:p>'
              '</text:list-item></text:list></text:list-item></text:list>')
    assert out == "- one\n\n- two\n\n  - deep"


def test_table_uniform_pipe_renderer():
    out = _md('<table:table><table:table-row>'
              '<table:table-cell><text:p>h1</text:p></table:table-cell>'
              '<table:table-cell><text:p>h2</text:p></table:table-cell>'
              '</table:table-row><table:table-row>'
              '<table:table-cell><text:p>p|q</text:p></table:table-cell>'
              '<table:table-cell><text:p>v</text:p></table:table-cell>'
              '</table:table-row></table:table>')
    assert out == "| h1 | h2 |\n| --- | --- |\n| p\\|q | v |"


def test_embedded_image_becomes_data_uri_segment():
    from marky_spark.ops.pngcodec import png_encode

    png = png_encode(bytes(12), 2, 2, 3)
    segs = convert_odt(b64(odt_zip(
        '<text:p>before</text:p>'
        '<text:p><draw:frame><draw:image xlink:href="Pictures/i.png"/>'
        '</draw:frame></text:p>'
        '<text:p>after</text:p>',
        media={"Pictures/i.png": png})))
    kinds = [s[0] for s in segs]
    assert kinds == ["markdown", "image", "markdown"]
    assert segs[1][1].startswith("![](data:image/png;base64,")
    assert segs[1][2] == "Pictures/i.png"


def test_markdown_specials_escaped():
    assert _md('<text:p>a*b ~c\\d</text:p>') == "a\\*b \\~c\\\\d"


def test_mimetype_gate_and_sniff():
    from marky_spark.cli import sniff_kind

    blob = odt_zip("<text:p>x</text:p>")
    assert sniff_kind("doc.bin", blob) == "odt"
    # epub mimetype wins its own branch, never odt
    assert sniff_kind("doc.rtf-like", b"{\\rtf1 x}") == "rtf"


def test_hostile_inputs_raise_convert_error():
    import zipfile
    import io

    with pytest.raises(ConvertError):
        convert_odt(b64(b"not a zip at all"))
    # zip without content.xml
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("mimetype", "application/vnd.oasis.opendocument.text")
    with pytest.raises(ConvertError, match="content.xml"):
        convert_odt(b64(buf.getvalue()))
    # malformed xml
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("content.xml", "<broken")
    with pytest.raises(ConvertError, match="malformed"):
        convert_odt(b64(buf.getvalue()))
    # wrong mimetype
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("mimetype", "application/x-something")
        zf.writestr("content.xml", "<x/>")
    with pytest.raises(ConvertError, match="mimetype"):
        convert_odt(b64(buf.getvalue()))


def test_frozen_corpus_sample_matches_golden():
    import hashlib

    from marky_spark.convert import convert_document
    from marky_spark.corpus import make_extra_doc
    from marky_spark.frozen_golden import EXTRA_GOLDEN

    golden = {d: (h, n) for d, h, n in EXTRA_GOLDEN["odt"]}
    for i in (0, 3, 31, 63, 199, 399):
        doc = make_extra_doc("odt", i)
        row = convert_document(doc["doc_id"], [
            {"kind": s[0], "text": s[1], "media_ref": s[2], "offset": s[3]}
            for s in doc["spans"]])
        h, n = golden[doc["doc_id"]]
        assert row["status"] == "ok"
        assert hashlib.md5(row["markdown"].encode()).hexdigest() == h
        assert row["md_chars"] == n


# --------------------------------------------------------- ODS / ODP

class TestOds:
    def test_first_sheet_uniform_table(self):
        from marky_spark.fixtures import ods_zip
        from marky_spark.kernels.odtk import convert_ods

        blob = ods_zip([["h1", "h2"], ["a", "b"], ["p|q", "v"]])
        out = convert_ods(b64(blob))[0][1]
        assert out == ("| h1 | h2 |\n| --- | --- |\n"
                       "| a | b |\n| p\\|q | v |\n")
        assert "IGNORED" not in out     # second sheet skipped (xlsx parity)

    def test_repeated_columns_and_trailing_trim(self):
        from marky_spark.fixtures import ods_zip
        from marky_spark.kernels.odtk import convert_ods

        blob = ods_zip([["h", "h", "h"], ["a", "", ""]],
                       repeats={(0, 0): 3, (1, 1): 2})
        # row 0: 'h' repeated 3 + 'h','h' → width 5? header defines width
        out = convert_ods(b64(blob))[0][1]
        lines = out.strip().split("\n")
        assert lines[0].count("|") == 6   # 5 header cells
        assert lines[2].startswith("| a |")

    def test_hostile_repeat_is_capped(self):
        from marky_spark.fixtures import ods_zip
        from marky_spark.kernels.odtk import convert_ods

        blob = ods_zip([["x"]], repeats={(0, 0): 10_000_000})
        out = convert_ods(b64(blob))[0][1]
        assert len(out) < 100_000        # capped, not 10M cells

    def test_hostile_ods_is_typed(self):
        from marky_spark.kernels.odtk import convert_ods

        with pytest.raises(ConvertError):
            convert_ods(b64(b"junk"))
        with pytest.raises(ConvertError, match="spreadsheet"):
            convert_ods(b64(odt_zip("<text:p>x</text:p>")))


class TestOdp:
    def test_slides_titles_and_tables(self):
        from marky_spark.fixtures import odp_zip
        from marky_spark.kernels.odtk import convert_odp

        blob = odp_zip([
            {"title": "First", "paras": ["<text:p>hello</text:p>"],
             "table": [["x", "y"]]},
            {"title": None, "paras": ["<text:p>second</text:p>"]},
        ])
        out = convert_odp(b64(blob))[0][1]
        assert out == ("<!-- Slide number: 1 -->\n\n# First\n\nhello\n\n"
                       "| x | y |\n| --- | --- |\n\n"
                       "<!-- Slide number: 2 -->\n\nsecond")

    def test_hostile_odp_is_typed(self):
        from marky_spark.kernels.odtk import convert_odp

        with pytest.raises(ConvertError):
            convert_odp(b64(b"junk"))
        with pytest.raises(ConvertError, match="presentation"):
            convert_odp(b64(odt_zip("<text:p>x</text:p>")))


def test_frozen_ods_odp_samples_match_golden():
    import hashlib

    from marky_spark.convert import convert_document
    from marky_spark.corpus import make_extra_doc
    from marky_spark.frozen_golden import EXTRA_GOLDEN

    for kind in ("ods", "odp"):
        golden = {d: (h, n) for d, h, n in EXTRA_GOLDEN[kind]}
        for i in (0, 5, 31, 127, 399):
            doc = make_extra_doc(kind, i)
            row = convert_document(doc["doc_id"], [
                {"kind": s[0], "text": s[1], "media_ref": s[2],
                 "offset": s[3]} for s in doc["spans"]])
            h, n = golden[doc["doc_id"]]
            assert row["status"] == "ok"
            assert hashlib.md5(row["markdown"].encode()).hexdigest() == h
            assert row["md_chars"] == n


def test_text_s_expansion_is_capped():
    out = _md('<text:p>a<text:s text:c="999999999"/>b</text:p>')
    assert len(out) < 10_000


def test_dtd_content_is_rejected():
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("content.xml",
                    '<!DOCTYPE x [<!ENTITY a "bbb">]><x>&a;</x>')
    with pytest.raises(ConvertError, match="DTD"):
        convert_odt(b64(buf.getvalue()))


def test_dtd_after_long_comment_is_rejected():
    """The DTD check covers the whole prolog, not a fixed-size prefix."""
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("content.xml",
                    '<?xml version="1.0"?><!--' + "x" * 5000 + "-->"
                    '<!DOCTYPE x [<!ENTITY a "bbb">]><x>&a;</x>')
    with pytest.raises(ConvertError, match="DTD"):
        convert_odt(b64(buf.getvalue()))
