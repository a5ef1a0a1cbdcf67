"""Robustness: arbitrary malformed input must produce a string or a
RenderError — never an unhandled exception (the operator contract: a bad
row becomes an `error` value, not a task failure)."""

from __future__ import annotations

import random

import pytest

from rust_html2text_spark.engine.api import html_to_text
from rust_html2text_spark.engine.errors import RenderError

FRAGMENTS = [
    "<table>", "</table>", "<tr>", "<td>", "</td>", "</tr>", "<p>", "</p>",
    "<ul>", "<li>", "</ul>", "<div>", "</div>", "<a href='x'>", "</a>",
    "<pre>", "</pre>", "<b>", "<em>", "</em>", "<h1>", "</h3>", "<br>",
    "<img src='y'>", "<span>", "</span>", "<blockquote>", "</blockquote>",
    "text here ", "&amp; &nonsense; &#65; &#xZZ;", "<!-- comment ",
    "<!DOCTYPE html>", "<?php ?>", "<![CDATA[junk]]>", "<dl><dt>t<dd>d",
    "\x00\x01", "🎉 日本語 \xa0", "<<<>>>", "<td colspan='999999999'>",
    "<td rowspan='-3'>", "<ol start='zzz'><li>x", "<table><table><table>",
    "<style>p { color: }</style>", "<svg><circle/></svg>",
    "<foo bar='", "<a name=frag id=",
]


def test_fuzz_no_crash():
    rng = random.Random(1234)
    for trial in range(300):
        html = "".join(
            rng.choice(FRAGMENTS) for _ in range(rng.randint(1, 30))
        ).encode("utf-8")
        width = rng.choice([1, 3, 10, 80])
        try:
            out = html_to_text(html, width)
            assert isinstance(out, str)
        except RenderError:
            pass  # legitimate (e.g. TooNarrow)


def test_invalid_utf8_replaced():
    out = html_to_text(b"<p>ok \xff\xfe bytes</p>", 80)
    assert "ok" in out


def test_zero_width_errors():
    with pytest.raises(RenderError):
        html_to_text(b"<p>x</p>", 0)


def test_template_contents_not_rendered():
    """html5ever keeps <template> children out-of-tree; the reference
    renders nothing for them (template_contents never traversed)."""
    out = html_to_text(b"<p>a</p><template><p>hidden</p></template><p>b</p>", 80)
    assert out == "a\n\nb\n"


def test_rcdata_textarea():
    """textarea is RCDATA: tags inside are text, charrefs decode
    (html5ever tokenizer states)."""
    out = html_to_text(b"<p><textarea>a <b>raw</b> &amp; x</textarea></p>", 80)
    assert out == "a <b>raw</b> & x\n"


def test_rawtext_xmp():
    """xmp is raw text: tags AND charrefs stay literal."""
    out = html_to_text(b"<xmp><b>raw</b> &amp; x</xmp>", 80)
    assert out == "<b>raw</b> &amp; x\n"


def test_nbsp_foster_parented_from_table():
    """NBSP is not WHATWG 'ASCII whitespace': text containing it inside a
    table foster-parents out and renders before the table."""
    out = html_to_text("<table>\xa0<tr><td>x</td></tr></table>".encode(), 80)
    assert out.startswith("\xa0\n")
    assert "x" in out


def test_rowspan_zero_does_not_crash():
    """rowspan="0" divides cell heights; the reference divides unguarded
    (text_renderer.rs:1665-1677) and would panic — we render stably."""
    from rust_html2text_spark.engine.api import html_to_text

    html = (
        b"<table><tr><td rowspan=0>a</td><td>b</td></tr>"
        b"<tr><td>c</td></tr></table>"
    )
    out = html_to_text(html, 20)
    assert "a" in out and "b" in out and "c" in out
    # deterministic across calls
    assert out == html_to_text(html, 20)


def test_tab_at_zero_width_terminates():
    """A <pre> tab inside a table cell squeezed to zero width by huge
    colspans hit an unguarded tab-expansion loop (the reference's
    text_renderer.rs:759-773 spins forever on the same input).  Both the
    per-char and bulk pre paths must terminate."""
    from rust_html2text_spark.engine.api import html_to_lines, html_to_text

    html = (
        b'<table><tr><th colspan="x">xx</th></tr>'
        b'<tr><th colspan="" rowspan="3"> </th><th colspan="65535">  </th></tr>'
        b'<tr><td colspan="65535"> </td>'
        b'<td colspan="999999999" rowspan="2"><blockquote><pre>\t</pre>'
        b"</blockquote></td><td></td></tr></table>"
    )
    out = html_to_text(html, 30)  # plain decorator: bulk pre path
    assert isinstance(out, str)
    lines = html_to_lines(html, 30)  # rich decorator: per-char path
    assert len(lines) > 0


def _long_line_page(kind: str, n: int) -> bytes:
    """~n bytes of one unbroken line: a <pre> of ASCII or accented words,
    or a <p> holding a single overlong token."""
    if kind == "token":
        return ("<p>" + "x" * n + "</p>").encode()
    if kind == "ascii":
        words = ["alpha", "beta", "gamma"]
    else:
        words = ["héllo", "wörld", "café"]
    body = " ".join(words[i % 3] for i in range(n // 6))
    return ("<pre>" + body + "</pre>").encode()


def _best_of_3(html: bytes, config) -> float:
    import time

    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        html_to_text(html, 80, config)
        best = min(best, time.perf_counter() - t0)
    return best


def _config(name: str):
    from rust_html2text_spark.engine.api import plain_config, rich_config

    return plain_config() if name == "plain" else rich_config()


@pytest.mark.parametrize("kind", ["ascii", "accented", "token"])
@pytest.mark.parametrize("config_name", ["plain", "rich"])
def test_long_line_cost_is_linear(kind, config_name):
    """Per-row cost stays byte-linear on one very long line: 8x the bytes
    must cost well under 24x the time (linear is ~8x).  A word buffer
    grown with `str +=` on an attribute, or a hard wrap that re-slices
    the remainder for every output line, is quadratic and lands at
    30-40x here."""
    config = _config(config_name)
    small = _best_of_3(_long_line_page(kind, 64 << 10), config)
    large = _best_of_3(_long_line_page(kind, 512 << 10), config)
    assert large / small < 24, (small, large)


def _table_page(kind: str, n: int) -> bytes:
    """~n bytes of tables: repeated 4-deep nested tables, or one row of
    n/11 cells (~3k columns at 32 KiB, ~24k at 256 KiB)."""
    if kind == "nested":
        block = "<table><tr><td>" * 4 + "alpha beta" + "</td></tr></table>" * 4
        return ("<html><body>" + block * (n // len(block)) + "</body></html>").encode()
    cell = "<td>ab</td>"
    return ("<table><tr>" + cell * (n // len(cell)) + "</tr></table>").encode()


@pytest.mark.parametrize("kind", ["nested", "wide"])
@pytest.mark.parametrize("config_name", ["plain", "rich"])
def test_table_cost_is_linear(kind, config_name):
    """The oversized-row lane (operators/kernel.py) routes by byte length,
    which is sound only while per-row cost grows linearly with bytes.
    Nested and wide tables are the table-layout shapes most likely to
    break that: 8x the bytes must cost well under 24x the time (~8-10x
    measured; a quadratic column or nesting pass would land above 30x)."""
    config = _config(config_name)
    small = _best_of_3(_table_page(kind, 32 << 10), config)
    large = _best_of_3(_table_page(kind, 256 << 10), config)
    assert large / small < 24, (small, large)
