"""Linear-time gate: a kernel's time per input byte on a hostile shape
must not grow with the input.

For each shape, ``convert_document`` runs on one thread at ``n`` and at
``16 n`` repetitions of the shape's unit (the fastest of 5 timings each:
on a shared machine other work only ever adds time, so the minimum is the
steadiest reading of CPU-bound code). The time per byte at ``16 n`` must be
at most 4× the time per byte at ``n``. A ratio cancels the machine's
speed: linear code reads about 1×, code quadratic in its input about 16×.
"""
import time

import pytest

from marky_spark.convert import convert_document

_WORDS = "alpha beta gamma delta epsilon zeta eta theta"


def _nested_div(k):
    return "<div>" * k + "deep text" + "</div>" * k


def _unclosed_li_p(k):
    return "<ul>" + "<li><p>item text " * k


def _nested_blocks(k):
    return "<table><tr><td><ul><li><blockquote>" * k + "x"


def _attributes(k):
    # 500 attributes at n, 8,000 at 16 n
    attrs = " ".join(f'data-a{i}="v{i} &amp; w"' for i in range(k))
    return f"<p {attrs}>text</p>"


def _link_nav(k):
    links = " ".join(f'<a href="/p{i}">link {i}</a>' for i in range(k))
    return (f"<html><body><nav>{links}</nav><div class='menu'>{links}</div>"
            f"<article><p>{_WORDS}</p></article></body></html>")


def _eml_encoded_subject(k):
    words = " ".join(f"=?utf-8?q?w=C3=A9rd{i}?=" for i in range(k))
    return f"From: a@b.c\nTo: d@e.f\nSubject: {words}\n\nbody\n"


# (kind, shape, n): n repetitions of the unit take a few ms or more
SHAPES = [
    ("html", _nested_div, 2000),
    ("html", _unclosed_li_p, 1000),
    ("html", _nested_blocks, 400),
    ("html", _attributes, 500),
    ("html", _link_nav, 500),
    # 28 KB at n: the stdlib header parser is quadratic in encoded words
    ("eml", _eml_encoded_subject, 1200),
]


def _per_byte(kind, text):
    spans = [{"kind": kind, "text": text, "media_ref": "", "offset": 0}]
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        row = convert_document("gate", spans)
        times.append(time.perf_counter() - t0)
    assert row["status"] in ("ok", "error"), row
    return min(times) / len(text)


@pytest.mark.parametrize("kind,shape,n", SHAPES,
                         ids=[f"{k}-{s.__name__.lstrip('_')}"
                              for k, s, _ in SHAPES])
def test_time_per_byte_is_flat(kind, shape, n):
    small = _per_byte(kind, shape(n))
    large = _per_byte(kind, shape(16 * n))
    assert large <= 4 * small, (
        f"{kind} {shape.__name__}: {large * 1e9:.0f} ns/byte at 16n vs "
        f"{small * 1e9:.0f} ns/byte at n")
