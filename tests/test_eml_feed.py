"""EML + RSS/Atom kernels (kernels/emlk, kernels/feedk —
beyond-the-reference formats): span goldens, MIME-walk semantics,
sniffing, and the poison-pill contract."""
import pytest

from marky_spark.kernels import ConvertError
from marky_spark.kernels.emlk import convert_eml
from marky_spark.kernels.feedk import convert_feed


def _eml_md(eml: str) -> str:
    return "".join(s[1] for s in convert_eml(eml)
                   if s[0] == "markdown")


class TestEml:
    def test_header_block_and_plain_body(self):
        out = _eml_md("From: a@b.c\nTo: d@e.f\nSubject: Hi\n"
                      "Date: Mon, 17 Aug 2026 10:00:00 +0000\n\n"
                      "body line one\nline two\n")
        assert out.startswith("# Hi\n\n**From:** a@b.c\n**To:** d@e.f\n"
                              "**Date:** Mon, 17 Aug 2026 10:00:00 +0000")
        assert out.endswith("body line one\nline two")

    def test_alternative_prefers_html_through_html_kernel(self):
        eml = ("Subject: S\nMIME-Version: 1.0\n"
               "Content-Type: multipart/alternative; boundary=X\n\n"
               "--X\nContent-Type: text/plain\n\nplain loses\n"
               "--X\nContent-Type: text/html\n\n"
               "<html><body><h1>T</h1><p>a <b>b</b></p></body></html>\n"
               "--X--\n")
        out = _eml_md(eml)
        assert "# T" in out and "a **b**" in out
        assert "plain loses" not in out

    def test_mixed_parts_and_attachment_marker(self):
        eml = ("Subject: S\nMIME-Version: 1.0\n"
               "Content-Type: multipart/mixed; boundary=X\n\n"
               "--X\nContent-Type: text/plain\n\nfirst\n"
               "--X\nContent-Type: application/zip\n"
               "Content-Disposition: attachment; filename=z.zip\n\nZZ\n"
               "--X--\n")
        out = _eml_md(eml)
        assert "first" in out
        assert "[attachment: z.zip (application/zip, 2 bytes)]" in out

    def test_image_attachment_becomes_data_uri_segment(self):
        import base64

        png = b"\x89PNG\r\n\x1a\nfakepixels"
        eml = ("Subject: S\nMIME-Version: 1.0\n"
               "Content-Type: multipart/mixed; boundary=X\n\n"
               "--X\nContent-Type: text/plain\n\nbody\n"
               "--X\nContent-Type: image/png\n"
               "Content-Disposition: attachment; filename=p.png\n"
               "Content-Transfer-Encoding: base64\n\n"
               + base64.b64encode(png).decode() + "\n--X--\n")
        segs = convert_eml(eml)
        imgs = [s for s in segs if s[0] == "image"]
        assert len(imgs) == 1
        assert imgs[0][2] == "p.png"
        assert imgs[0][1].startswith("![](data:image/png;base64,")

    def test_quoted_printable_charset(self):
        eml = ("Subject: S\nContent-Type: text/plain; charset=utf-8\n"
               "Content-Transfer-Encoding: quoted-printable\n\n"
               "caf=C3=A9 ok\n")
        assert "café ok" in _eml_md(eml)

    def test_unknown_charset_never_crashes(self):
        eml = ("Subject: S\nContent-Type: text/plain; "
               "charset=x-not-a-charset\n\nraw bytes here\n")
        assert "raw bytes here" in _eml_md(eml)

    def test_non_email_is_typed(self):
        with pytest.raises(ConvertError, match="email"):
            convert_eml("just a plain paragraph of text")

    def test_encoded_word_subject_renders_decoded(self):
        words = " ".join(f"=?utf-8?q?w=C3=A9{i}?=" for i in range(400))
        out = _eml_md(f"From: a@b.c\nSubject: {words}\n\nbody\n")
        assert out.startswith("# " + "".join(f"wé{i}" for i in range(400)))

    @pytest.mark.parametrize("header", ["Subject: ", "To: ",
                                        "Content-Type: text/plain; name="])
    def test_over_long_header_is_typed(self, header):
        """stdlib's header parser is quadratic in a field's encoded words;
        a field over the cap is refused before it is parsed, whether the
        kernel renders it or the MIME walk reads it."""
        words = " ".join(f"=?utf-8?q?w=C3=A9{i}?=" for i in range(5000))
        eml = (f"From: a@b.c\nSubject: s\nMIME-Version: 1.0\n"
               f"Content-Type: multipart/mixed; boundary=X\n\n"
               f"--X\n{header}{words}\n\nbody\n--X--\n")
        if header != "Content-Type: text/plain; name=":
            eml = f"{header}{words}\n" + eml
        with pytest.raises(ConvertError, match="longer than 65536"):
            convert_eml(eml)

    def test_long_plain_address_list_is_refused_over_the_cap(self):
        """The cap holds for any field, not only encoded words: a plain
        To list over 65,536 characters makes the whole message an error
        (stdlib takes about 1 s on 87 KB of plain addresses), while one
        just under the cap still renders."""
        def eml(n):
            to = ", ".join(f"user{i}@example.com" for i in range(n))
            return f"From: a@b.c\nTo: {to}\nSubject: s\n\nbody\n"

        under, over = eml(3000), eml(3200)
        assert len(under) < 65536 < len(over)
        assert "user2999@example.com" in _eml_md(under)
        with pytest.raises(ConvertError, match="header 'To' is longer than"):
            convert_eml(over)


class TestFeed:
    def test_rss_items_render_through_html_kernel(self):
        rss = ('<?xml version="1.0"?><rss version="2.0"><channel>'
               "<title>Blog</title><description>about</description>"
               "<item><title>P1</title><link>https://b.io/1</link>"
               "<pubDate>Mon, 17 Aug 2026 10:00:00 GMT</pubDate>"
               "<description>&lt;p&gt;hi &lt;b&gt;bold&lt;/b&gt;"
               "&lt;/p&gt;</description></item></channel></rss>")
        out = convert_feed(rss)[0][1]
        assert out.startswith("# Blog\n\nabout")
        assert "## [P1](https://b.io/1)" in out
        assert "*Mon, 17 Aug 2026 10:00:00 GMT*" in out
        assert "hi **bold**" in out

    def test_rss_content_encoded_wins_over_description(self):
        rss = ('<rss version="2.0" xmlns:content='
               '"http://purl.org/rss/1.0/modules/content/"><channel>'
               "<title>T</title><item><title>X</title>"
               "<description>short</description>"
               "<content:encoded>&lt;p&gt;full text&lt;/p&gt;"
               "</content:encoded></item></channel></rss>")
        out = convert_feed(rss)[0][1]
        assert "full text" in out and "short" not in out

    def test_atom_entries_and_alternate_link(self):
        atom = ('<feed xmlns="http://www.w3.org/2005/Atom">'
                "<title>A</title><entry><title>E</title>"
                '<link rel="self" href="https://a.io/self"/>'
                '<link rel="alternate" href="https://a.io/alt"/>'
                "<updated>2026-08-17</updated>"
                "<summary>sum</summary></entry></feed>")
        out = convert_feed(atom)[0][1]
        assert "## [E](https://a.io/alt)" in out
        assert "*2026-08-17*" in out and "sum" in out

    def test_hostile_feed_is_typed(self):
        with pytest.raises(ConvertError, match="feed"):
            convert_feed("<html><body>no</body></html>")
        with pytest.raises(ConvertError, match="malformed"):
            convert_feed("<rss version='2.0'><channel><broken</rss>")
        with pytest.raises(ConvertError, match="channel"):
            convert_feed("<rss version='2.0'></rss>")


def test_frozen_eml_feed_samples_match_golden():
    import hashlib

    from marky_spark.convert import convert_document
    from marky_spark.corpus import make_extra_doc
    from marky_spark.frozen_golden import EXTRA_GOLDEN

    for kind in ("eml", "feed"):
        golden = {d: (h, n) for d, h, n in EXTRA_GOLDEN[kind]}
        for i in (0, 1, 2, 33, 127, 399):
            doc = make_extra_doc(kind, i)
            row = convert_document(doc["doc_id"], [
                {"kind": s[0], "text": s[1], "media_ref": s[2],
                 "offset": s[3]} for s in doc["spans"]])
            h, n = golden[doc["doc_id"]]
            assert row["status"] == "ok"
            assert hashlib.md5(row["markdown"].encode()).hexdigest() == h
            assert row["md_chars"] == n


def test_sniffing_eml_and_feed():
    from marky_spark.cli import sniff_kind

    assert sniff_kind("m.eml", b"anything") == "eml"
    assert sniff_kind("x.bin", b"From: a@b.c\nSubject: s\n\nhi") == "eml"
    assert sniff_kind("f.rss", b"zz") == "feed"
    assert sniff_kind(
        "f.bin", b'<?xml version="1.0"?><rss version="2.0"/>') == "feed"
    assert sniff_kind(
        "f.bin", b'<feed xmlns="http://www.w3.org/2005/Atom"/>') == "feed"
    # plain html stays html
    assert sniff_kind("f.bin", b"<html><body>x</body></html>") == "html"


# ------------------------------------------------------ mbox front door

class TestMbox:
    def test_iter_messages_and_mboxrd(self):
        import io

        from marky_spark.ops.mbox import MboxError, _iter_messages

        raw = (b"From a@b.c Mon Aug 17 10:00:00 2026\n"
               b"Subject: one\n\nbody\n>From quoted\n>>From stays\n"
               b"From d@e.f Tue Aug 18 10:00:00 2026\n"
               b"Subject: two\n\nsecond\n")
        msgs = list(_iter_messages(io.BytesIO(raw)))
        assert len(msgs) == 2
        assert msgs[0][0].startswith("From a@b.c")
        assert b"From quoted" in msgs[0][1]       # one '>' stripped
        assert b">From stays" in msgs[0][1]       # '>>From' loses one '>'
        assert b"second" in msgs[1][1]
        with pytest.raises(MboxError, match="From line"):
            list(_iter_messages(io.BytesIO(b"not a mailbox\n")))

    def test_dir_streaming_and_drop_accounting(self, spark, tmp_path):
        import gzip

        from marky_spark.convert import convert
        from marky_spark.ingest import docs_from_mbox_dir

        def msg(i):
            return (f"From s{i}@e.c Mon Aug 17 10:00:00 2026\n"
                    f"From: s{i}@e.c\nSubject: M{i}\n\nbody {i}\n\n")

        (tmp_path / "a.mbox").write_text("".join(msg(i) for i in range(8)))
        with gzip.open(tmp_path / "b.mbox.gz", "wt") as f:
            f.write("".join(msg(10 + i) for i in range(5)))
        (tmp_path / "c.mbox").write_text("garbage, not a mailbox\n")

        docs = docs_from_mbox_dir(spark, str(tmp_path))
        out = convert(docs).toPandas()
        assert (out.status == "ok").sum() == 13
        assert (out.status == "error").sum() == 1
        drop = out[out.status == "error"].iloc[0]
        assert drop.conv_kind == "_drop_mbox"
        sample = out[out.doc_id.str.endswith("a.mbox#0")].iloc[0]
        assert sample.markdown.startswith("# M0")


def test_feed_dtd_is_rejected():
    with pytest.raises(ConvertError, match="DTD"):
        convert_feed('<rss version="2.0"><!DOCTYPE x [<!ENTITY a "b">]>'
                     "<channel><title>t</title></channel></rss>")


def test_feed_cdata_doctype_still_converts():
    md = "".join(s[1] for s in convert_feed(
        '<rss version="2.0"><channel><title>t</title><item><title>i</title>'
        "<description><![CDATA[<!DOCTYPE html><p>hello</p>]]></description>"
        "</item></channel></rss>"))
    assert "hello" in md


def test_mbox_single_huge_line_is_bounded():
    """A multi-MB physical line streams in bounded fragments — the walk
    never buffers a whole unterminated line, and a 'From ' appearing at
    a fragment boundary mid-line never splits the message."""
    import io

    from marky_spark.ops.mbox import _iter_messages

    frag = (b"y" * ((1 << 20) - 10) + b"From not a separator"
            + b"z" * 100 + b"\n")
    msgs = list(_iter_messages(io.BytesIO(b"From a@b.c Mon\n\n" + frag)))
    assert len(msgs) == 1
    assert b"From not a separator" in msgs[0][1]
