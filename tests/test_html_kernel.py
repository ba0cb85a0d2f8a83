"""Byte-level unit tests for the HTML→markdown kernel (no Spark).

Pins markdownify-0.14.1 default semantics as described in
SURVEY.md §2.8 F1 and kernels/html_md.py.
"""

import hashlib
import json
import time

import pytest

from lexoid_spark.corpus.gen import HTML_CLASSES, _BUILDERS, _html_giant, _rng
from lexoid_spark.kernels.html_md import html_to_md
from lexoid_spark.kernels.segmenter import segment_md


def test_h1_underlined():
    assert html_to_md("<h1>Hello</h1>") == "\n\nHello\n=====\n\n"


def test_h2_underlined():
    assert html_to_md("<h2>Hi</h2>") == "\n\nHi\n--\n\n"


def test_h3_atx():
    assert html_to_md("<h3>Sec</h3>") == "\n\n### Sec\n\n"


def test_paragraphs_single_blank_line():
    assert html_to_md("<p>a</p><p>b</p>") == "\n\na\n\nb\n\n"


def test_strong_em():
    assert html_to_md("<p><strong>s</strong> and <em>e</em></p>") == (
        "\n\n**s** and *e*\n\n"
    )


def test_chomp_moves_spaces_outside():
    assert html_to_md("<p>a<strong> b </strong>c</p>") == "\n\na **b** c\n\n"


def test_inline_code():
    assert html_to_md("<p>run <code>ls -l</code> now</p>") == (
        "\n\nrun `ls -l` now\n\n"
    )


def test_link_inline():
    assert html_to_md('<p><a href="http://x.test/a">text</a></p>') == (
        "\n\n[text](http://x.test/a)\n\n"
    )


def test_autolink():
    assert html_to_md(
        '<p><a href="http://x.test/a">http://x.test/a</a></p>'
    ) == "\n\n<http://x.test/a>\n\n"


def test_escaping_asterisk_underscore():
    assert html_to_md("<p>a*b and c_d</p>") == "\n\na\\*b and c\\_d\n\n"


def test_unordered_list_bullets():
    got = html_to_md("<ul><li>a</li><li>b</li></ul>")
    assert got == "\n\n* a\n* b\n"


def test_nested_list_bullet_cycle_and_tab_indent():
    got = html_to_md("<ul><li>a<ul><li>b</li></ul></li></ul>")
    assert got == "\n\n* a\n\t+ b\n"


def test_ordered_list():
    got = html_to_md("<ol><li>a</li><li>b</li></ol>")
    assert got == "\n\n1. a\n2. b\n"


def test_ordered_list_start():
    got = html_to_md('<ol start="3"><li>a</li><li>b</li></ol>')
    assert got == "\n\n3. a\n4. b\n"


def test_blockquote():
    assert html_to_md("<blockquote>quoted</blockquote>") == "\n> quoted\n\n"


def test_hr():
    assert html_to_md("<p>a</p><hr><p>b</p>") == "\n\na\n\n---\n\nb\n\n"


def test_br_two_spaces():
    assert html_to_md("<p>a<br>b</p>") == "\n\na  \nb\n\n"


def test_pre_code_block():
    assert html_to_md("<pre>x = 1\ny = 2</pre>") == "\n\n```\nx = 1\ny = 2\n```\n\n"


def test_pre_preserves_and_does_not_escape():
    assert html_to_md("<pre>a * b _ c</pre>") == "\n\n```\na * b _ c\n```\n\n"


def test_script_style_dropped():
    got = html_to_md(
        "<head><style>p{color:red}</style></head>"
        "<body><script>var x=1;</script><p>keep</p></body>"
    )
    assert got == "\n\nkeep\n\n"
    assert "color" not in got and "var x" not in got


def test_table_pipe():
    html = (
        "<table><tr><th>a</th><th>b</th></tr>"
        "<tr><td>1</td><td>2</td></tr></table>"
    )
    got = html_to_md(html)
    assert got == "\n\n| a | b |\n| --- | --- |\n| 1 | 2 |\n\n"


def test_table_without_header_row():
    html = "<table><tr><td>1</td><td>2</td></tr></table>"
    got = html_to_md(html)
    assert got == "\n\n|  |  |\n| --- | --- |\n| 1 | 2 |\n\n"


def test_whitespace_collapse():
    assert html_to_md("<p>a   b\t c</p>") == "\n\na b c\n\n"


def test_invalid_utf8_bytes_ignored():
    payload = b"<p>ok \xff\xfe here</p>"
    got = html_to_md(payload)
    assert "ok" in got and "here" in got


def test_img_alt():
    assert html_to_md('<p><img src="i.png" alt="pic"></p>') == (
        "\n\n![pic](i.png)\n\n"
    )


def test_del_strikethrough():
    assert html_to_md("<p><del>gone</del></p>") == "\n\n~~gone~~\n\n"


def test_div_transparent():
    assert html_to_md("<div><p>a</p></div><div><p>b</p></div>") == "\n\na\n\nb\n\n"


def test_heading_inline_content():
    assert html_to_md("<h1><em>T</em>itle</h1>") == "\n\n*T*itle\n=======\n\n"


def test_main_content_strips_tag_blocklist():
    from lexoid_spark.kernels.html_md import html_to_md

    html = (
        "<html><body><nav><ul><li>home</li></ul></nav>"
        "<header><p>chrome</p></header>"
        "<h1>Keep</h1><p>body text</p>"
        "<aside><p>related</p></aside>"
        "<form><input name='q'/></form>"
        "<footer><p>footer</p></footer></body></html>"
    )
    md = html_to_md(html, main_content=True)
    assert "Keep" in md and "body text" in md
    for junk in ("home", "chrome", "related", "footer"):
        assert junk not in md
    # default path keeps everything (reference markdownify parity)
    assert "home" in html_to_md(html)


def test_main_content_strips_class_id_blocklist():
    from lexoid_spark.kernels.html_md import html_to_md

    html = (
        "<html><body>"
        "<div class='cookie-banner'><p>accept</p></div>"
        "<div id='social-share'><p>tweet</p></div>"
        "<div class='menu top'><p>links</p></div>"
        "<div class='content'><p>real text</p></div>"
        "</body></html>"
    )
    md = html_to_md(html, main_content=True)
    assert "real text" in md
    for junk in ("accept", "tweet", "links"):
        assert junk not in md


def test_main_content_keeps_article_header():
    from lexoid_spark.kernels.html_md import html_to_md

    html = (
        "<html><body><article><header><h2>Inside</h2></header>"
        "<p>para</p></article></body></html>"
    )
    md = html_to_md(html, main_content=True)
    assert "Inside" in md and "para" in md


# --- byte identity + linear time ------------------------------------------

def _hostile_ol(n):
    return "<ol>\n" + "".join(f"<li>item {j}</li>\n" for j in range(n)) + "</ol>"


def _hostile_table(n):
    rows = "".join(f"<tr><td>{j}</td><td>cell {j}</td></tr>\n" for j in range(n))
    return "<table>\n<tr><th>k</th><th>v</th></tr>\n" + rows + "</table>"


def _hostile_sections(n):
    return "<html><body>\n" + "".join(
        f"<h3>Section {j}</h3>\n<p>para {j} with <b>some</b> words</p>\n"
        for j in range(n)
    ) + "</body></html>"


def _hostile_li_blanks(n):
    # comments split the whitespace into n sibling text nodes
    return "<ul><li>a" + " <!---->" * n + "b</li></ul>"


# shapes that exercise sibling lookups, the nested-whitespace filter,
# <ol> ordinals, first-row detection and main_content pruning mid-list
_EDGE_CASES = (
    "",
    "plain text only",
    "<ul><li>a <ul><li>b</li></ul> tail</li><li>c</li></ul>",
    "<ul>\n  <li>a</li>\n  text between\n  <li>b</li>\n</ul>\n<p>after</p>",
    "<ol start='x'><li>a</li> <li>b</li></ol>",
    "<ol start='-2'>\n<li>a</li>\n<li>b<ol><li>c</li>\n<li>d</li></ol></li></ol>",
    "<ul><li>t <b>x</b> </li><li> <i>y</i>  \n</li></ul><ul><li>z</li></ul>",
    "<ul><li>a</li><li class='share'>b</li><li>c</li></ul>",
    "<ol><li>a</li><li class='social'>b</li><li>c</li><li id='nav'>d</li><li>e</li></ol>",
    "<table> <thead> <tr><th>a</th><th>b</th></tr> </thead>\n"
    "<tbody> <tr><td>1</td><td colspan='2'>2</td></tr> </tbody>"
    "<tbody><tr><td>3</td></tr></tbody></table>",
    "<table><tr class='menu'><th>h</th></tr><tr><td>a\n b</td></tr></table>",
    "<table><caption>cap</caption><tr><td>x</td><td>y<br>z</td></tr></table>",
    "<p>tabs\tand  spaces \r\n and\rreturns\n\n  here</p><pre>  keep\t \n  this </pre>",
    "<p>two  spaces   only</p><p>one space</p><p>\ttab</p><p>cr\ronly</p>",
    "<div>a<p>b</p>c<h2>d</h2>e<ul><li>f</li></ul>g</div>\n\n<blockquote><p>q</p>"
    "<p>r</p></blockquote><hr>x<br>y",
    "<li>orphan</li><td>cell</td><tr><td>r</td></tr>",
    "<p><a href='u'>u</a> <a href='v' title='t \"q\"'>w</a> <img src='i' alt='a'></p>"
    "<table><tr><td><img src='j' alt='b'></td></tr></table>",
    "<h1>  </h1><h2>t</h2><h4>four</h4><h6><em>six</em></h6><p></p><pre></pre>",
    "<pre><code>x * y_z\n  w</code></pre><p><code>a_b</code> <kbd>k</kbd> <s>s</s></p>",
    "<nav><ul><li>n</li></ul></nav><header><p>h</p></header><main>"
    "<article><header><h2>in</h2></header><p>body</p></article></main>"
    "<footer>f</footer><aside>a</aside>",
)


def _golden_inputs():
    for cls in HTML_CLASSES:
        for i in range(60):
            yield _BUILDERS[cls](i, _rng(i))
    yield _html_giant(0, _rng(0), repeat=3000)
    yield _hostile_ol(1500)
    yield _hostile_table(1500)
    yield _hostile_sections(1500)
    yield _hostile_li_blanks(1500)
    yield from _EDGE_CASES


def _golden_digest():
    h = hashlib.sha256()
    for payload in _golden_inputs():
        md = html_to_md(payload)
        for out in (md, html_to_md(payload, main_content=True),
                    json.dumps(segment_md(md))):
            h.update(out.encode("utf-8", "surrogatepass"))
            h.update(b"\x00")
    return h.hexdigest()


# Recorded with the previous (quadratic) emitter and segmenter; the
# linear rewrite must reproduce every byte.
_GOLDEN_SHA256 = "203e3eca1eaa91b1c091d34c9aff66a1b47ee20adc15c0ad5257e46d1ad766ab"


def test_golden_digest_byte_identical():
    assert _golden_digest() == _GOLDEN_SHA256


def _cpu_min3(fn, arg):
    best = float("inf")
    for _ in range(3):
        t0 = time.process_time()
        fn(arg)
        best = min(best, time.process_time() - t0)
    return best


@pytest.mark.parametrize(
    "shape", [_hostile_sections, _hostile_ol, _hostile_table, _hostile_li_blanks]
)
def test_html_to_md_linear_in_page_size(shape):
    """8x the input costs well under 24x the CPU (quadratic reads ~64x).
    The 1x size doubles until it costs >= 20 ms, so timer noise stays
    small against the ratio on any host."""
    n = 500
    while True:
        t1 = _cpu_min3(html_to_md, shape(n))
        if t1 >= 0.02:
            break
        n *= 2
    t8 = _cpu_min3(html_to_md, shape(8 * n))
    assert t8 < 24 * t1, (shape.__name__, n, t1, t8)
