"""DOM-heuristic boilerplate stripping (core/html.py + core/htmlgen.py)."""
import pytest

from pdfi_spark.core.html import (
    MAX_LINK_DENSITY,
    MIN_CONTENT_WORDS,
    block_stats,
    extract_main_text,
    parse_blocks,
)
from pdfi_spark.core.htmlgen import HTML_RECIPES, ORACLE_PER_BLOCK, build_html

LONG = ("fast column table row filter key fast agg query order scan slow "
        "zebra quick jump vex more words here to make it long enough for "
        "several lines of wrapped content in the page")


@pytest.mark.parametrize("recipe", sorted(HTML_RECIPES))
def test_recipe_roundtrip_single_paragraph(recipe):
    page, expected = build_html(LONG, recipe, per_block=ORACLE_PER_BLOCK)
    assert extract_main_text(page) == expected
    if recipe != "latin1":  # latin1's golden text carries the accents
        assert expected == LONG


@pytest.mark.parametrize("recipe", sorted(HTML_RECIPES))
def test_recipe_roundtrip_multi_paragraph(recipe):
    page, expected = build_html(LONG, recipe, per_block=2)
    assert extract_main_text(page) == expected
    assert "\n" in expected  # actually multi-paragraph


def test_script_style_head_dropped_structurally():
    page = (b"<html><head><title>t</title><style>p{}</style></head><body>"
            b"<script>var x = 'not content words here at all';</script>"
            b"<p>real content words live here</p></body></html>")
    assert extract_main_text(page) == "real content words live here"


def test_link_density_boundary():
    # 9 words, 3 linked -> 1/3 == MAX_LINK_DENSITY -> still content
    at = "<p>one two three four five six <a>x y z</a></p>"
    blocks = parse_blocks(at)
    assert blocks[0]["n_words"] == 9 and blocks[0]["n_link_words"] == 3
    assert blocks[0]["is_content"]
    # 8 words, 3 linked -> 0.375 > 1/3 -> boilerplate
    over = "<p>one two three four five <a>x y z</a></p>"
    assert not parse_blocks(over)[0]["is_content"]


def test_adjacent_anchors_count_separate_words():
    # <a>privacy</a> <a>terms</a> <a>contact</a>: 3 link words even
    # though the separating spaces live outside the anchors
    page = "<p>site links here now then <a>privacy</a> <a>terms</a> <a>contact</a></p>"
    b = parse_blocks(page)[0]
    assert b["n_words"] == 8 and b["n_link_words"] == 3


def test_short_blocks_are_boilerplate():
    page = "<div>too short</div><p>%s</p>" % ("word " * MIN_CONTENT_WORDS).strip()
    blocks = parse_blocks(page)
    assert not blocks[0]["is_content"]
    assert blocks[1]["is_content"]


def test_inline_tags_do_not_split_blocks():
    page = "<p>bold <b>middle</b> and <em>emphasis</em> stay one block</p>"
    blocks = parse_blocks(page)
    assert len(blocks) == 1
    assert blocks[0]["text"] == "bold middle and emphasis stay one block"


def test_charrefs_decode():
    page = "<p>f&#97;st &amp; loose tr&#101;e words</p>"
    assert extract_main_text(page) == "fast & loose tree words"


def test_malformed_soup_is_contained():
    page = b"</div><p><b>unclosed tags still extract these words<p>and a second block here"
    got = extract_main_text(page)
    assert got == "unclosed tags still extract these words\nand a second block here"
    # garbage never raises
    assert extract_main_text(b"\xff\xfe<<<>>>") == ""
    assert extract_main_text(b"") == ""


def test_block_stats_split():
    page, _ = build_html(LONG, "boiler", per_block=ORACLE_PER_BLOCK)
    stats = block_stats(page)
    assert stats["n_content_blocks"] == 1
    assert stats["n_blocks"] == stats["n_content_blocks"] + stats["n_boiler_blocks"]
    assert stats["n_content_words"] == len(LONG.split(" "))


def test_boilerplate_is_classified_not_tag_keyed():
    # the same nav/footer CONTENT inside <p> tags must still be dropped:
    # classification rides on word count + link density, not tag names
    page = ('<p><a href="/">home</a></p>'
            '<p>actual article prose long enough to stay</p>'
            '<p>© 2026 example corp · <a>privacy</a> <a>terms</a> <a>contact</a></p>')
    assert extract_main_text(page) == "actual article prose long enough to stay"


def test_max_link_density_is_the_published_third():
    assert abs(MAX_LINK_DENSITY - 1 / 3) < 1e-12


@pytest.mark.parametrize("recipe", sorted(HTML_RECIPES))
def test_markup_special_chars_in_source_text(recipe):
    # raw &, <, > in the source must not break the generated page: the
    # generator escapes single-pass and extraction decodes back
    spiky = ("spiky <input> with & ampersands and a<b comparisons plus "
             "normal trailing words to be long enough")
    page, expected = build_html(spiky, recipe, per_block=ORACLE_PER_BLOCK)
    assert extract_main_text(page) == expected
    if recipe != "latin1":  # latin1's golden text carries the accents
        assert expected == spiky


def test_strip_boilerplate_on_real_page_column(spark):
    # production surface: a DataFrame with actual page bytes
    from pdfi_spark.ops.webtext import strip_boilerplate

    text = LONG
    page, expected = build_html(text, "boiler", per_block=ORACLE_PER_BLOCK)
    df = spark.createDataFrame(
        [("u1", page), ("u2", b"\xff\xfegarbage<<not html")],
        "url string, html binary",
    )
    rows = {r["url"]: r for r in strip_boilerplate(df).collect()}
    assert rows["u1"]["main_text"] == expected
    assert rows["u1"]["n_content_blocks"] == 1
    assert rows["u2"]["main_text"] == ""  # contained, not failed


def test_extractor_never_raises_on_arbitrary_bytes():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=400))
    def check(data):
        out = extract_main_text(data)  # must never raise
        assert isinstance(out, str)

    check()


def test_omitted_close_head_does_not_swallow_page():
    # spec-legal HTML5: </head> omitted; head must not drop the body
    page = (b"<html><head><title>t</title><meta charset=utf-8>"
            b"<body><p>real content words live here today</p></body></html>")
    assert extract_main_text(page) == "real content words live here today"


def test_null_page_rows_are_contained(spark):
    from pdfi_spark.ops.webtext import strip_boilerplate

    df = spark.createDataFrame(
        [("u1", None), ("u2", b"<p>long enough real words here</p>")],
        "url string, html binary",
    )
    rows = {r["url"]: r for r in strip_boilerplate(df).collect()}
    assert rows["u1"]["main_text"] == "" and rows["u1"]["n_blocks"] == 0
    assert rows["u2"]["main_text"] == "long enough real words here"


def test_parse_links_collects_anchors_in_order():
    from pdfi_spark.core.html import parse_links

    page = (b"<html><head><script>var a='<a href=\"/no\">x</a>';</script>"
            b"</head><body><nav><a href='/home'>home</a></nav>"
            b"<p>see <a href='/doc/7'>document  7</a> now</p>"
            b"<a name='x'>no href</a>"
            b"<svg><a href='/svg'>vector</a></svg>"
            b"<a href='/last'>the <b>end</b></a></body></html>")
    links = parse_links(page)
    # script/svg subtrees dropped, href-less anchor omitted, order kept,
    # anchor text whitespace-flattened across inline tags
    assert links == [
        {"href": "/home", "text": "home"},
        {"href": "/doc/7", "text": "document 7"},
        {"href": "/last", "text": "the end"},
    ]


def test_linked_page_plants_recoverable_citations():
    from pdfi_spark.core.html import parse_links
    from pdfi_spark.core.htmlgen import build_linked_page, outlink_targets

    page, targets = build_linked_page(13, 500, LONG, per_block=ORACLE_PER_BLOCK)
    assert targets == outlink_targets(13, 500)
    assert len(targets) == 2 + 13 % 3 and len(set(targets)) == len(targets)
    cites = [l for l in parse_links(page) if l["href"].startswith("/doc/")]
    assert [int(l["href"][5:]) for l in cites] == targets
    # boilerplate links present but distinguishable by href shape
    assert any(not l["href"].startswith("/doc/") for l in parse_links(page))
    # the article text still roundtrips despite the citation blocks
    assert extract_main_text(page).startswith(LONG)


def test_parse_links_contained_on_soup():
    from pdfi_spark.core.html import parse_links

    # unclosed anchor at EOF dropped; stray close ignored; bytes soup ok
    assert parse_links(b"</a><a href='/x'>dangling") == []
    assert parse_links(b"\xff\xfa<a href='/y'>t</a>") == [
        {"href": "/y", "text": "t"}
    ]
    # \xff\xfe IS the UTF-16 BOM: sniffed as such, the ASCII-ish tail
    # garbles into CJK code units — contained, just no links found
    assert parse_links(b"\xff\xfe<a href='/y'>t</a>") == []


def test_charset_sniffing_precedence():
    from pdfi_spark.core.html import sniff_charset

    # BOM wins over a (lying) meta declaration
    assert sniff_charset(
        b"\xef\xbb\xbf<meta charset='latin-1'><p>x</p>") == "utf-8-sig"
    assert sniff_charset(b"\xff\xfe<p>x</p>") == "utf-16"
    assert sniff_charset(b'<meta charset="iso-8859-1">') == "iso-8859-1"
    assert sniff_charset(
        b'<meta http-equiv="Content-Type" '
        b'content="text/html; charset=windows-1252">') == "windows-1252"
    # unknown codec names fall back rather than raise
    assert sniff_charset(b'<meta charset="no-such-codec">') == "utf-8"
    # declarations beyond the 1024-byte prescan window are ignored
    assert sniff_charset(
        b"<!--" + b"x" * 1100 + b'--><meta charset="iso-8859-1">') == "utf-8"
    assert sniff_charset(b"<p>plain</p>") == "utf-8"


def test_latin1_recipe_requires_the_sniff():
    from pdfi_spark.core.htmlgen import recipe_latin1

    page, expected = recipe_latin1(LONG, per_block=ORACLE_PER_BLOCK)
    # the page is genuine ISO-8859-1: the accent bytes are NOT valid UTF-8
    assert b"\xe1" in page
    with pytest.raises(UnicodeDecodeError):
        page.decode("utf-8")
    assert "á" in expected and "é" in expected
    assert extract_main_text(page) == expected


def test_charset_sniff_hardening():
    from pdfi_spark.core.html import decode_page, parse_links, sniff_charset

    # codecs that reject errors='replace' (idna) must not escape the
    # containment contract
    page = b'<meta charset="idna"><p>real content words live here</p>'
    assert "real content" in decode_page(page)
    assert parse_links(b'<meta charset="idna"><a href="/x">t</a>') == [
        {"href": "/x", "text": "t"}
    ]
    # spec remap: an ASCII-readable utf-16/32 meta label cannot be true,
    # decode as UTF-8 instead of garbling the page
    assert sniff_charset(b'<meta charset="utf-16">') == "utf-8"
    assert sniff_charset(b'<meta charset="UTF-32LE">') == "utf-8"
    # commented-out declarations are skipped, later real ones honored
    assert sniff_charset(
        b'<!-- <meta charset="koi8-r"> --><meta charset="iso-8859-1">'
    ) == "iso-8859-1"
    # an unterminated comment swallows the rest of the prescan window
    assert sniff_charset(b'<!-- <meta charset="koi8-r">') == "utf-8"


def test_nested_anchors_auto_close():
    from pdfi_spark.core.html import parse_links

    # browsers close the open anchor at a nested <a>: siblings with
    # disjoint text, and the outer anchor keeps only its own prefix
    links = parse_links(b'<a href="/outer">pre <a href="/inner">x</a>more')
    assert links == [
        {"href": "/outer", "text": "pre"},
        {"href": "/inner", "text": "x"},
    ]


def test_latin1_recipe_total_on_non_latin1_text():
    from pdfi_spark.core.htmlgen import recipe_latin1

    page, expected = recipe_latin1(
        "price €99 cash only here today", per_block=ORACLE_PER_BLOCK
    )
    assert "?" in expected  # euro sign replaced BEFORE the golden text
    assert extract_main_text(page) == expected


def test_pagerank_dangling_mass_conserved(spark):
    """The dangling-mass redistribution term is the difference between a
    probability distribution and a leak: with it, the rank vector sums
    to 1 every iteration (up to the 12-decimal snap); without it, the
    masked graph (~1/7 of sources dangle) would lose ~d/7 of its mass
    per iteration. Asserting full-vector conservation pins the term's
    presence and its scaling — a wrong denominator or a dropped
    iteration both break the sum."""
    from pyspark.sql import functions as F

    from pdfi_spark.ops.webtext import (
        PAGERANK_DANGLING_MOD,
        _pagerank_topk,
        html_outlinks,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    nodes = docs.select("doc_id")
    n_docs = nodes.count()
    edges = html_outlinks(spark, sf).filter(
        F.col("src") % PAGERANK_DANGLING_MOD != 0
    )
    # read ALL ranks, not just top-k: widen the limit to n_docs
    import pdfi_spark.ops.webtext as wt

    old_topk = wt.PAGERANK_TOPK
    wt.PAGERANK_TOPK = n_docs
    try:
        all_ranks = _pagerank_topk(nodes, edges, n_docs)
        total = all_ranks.agg(F.sum("pagerank")).collect()[0][0]
    finally:
        wt.PAGERANK_TOPK = old_topk
    # 12-decimal snap per node accumulates at most n*5e-13 + the final
    # 6-decimal display rounding (n*5e-7)
    assert abs(total - 1.0) < n_docs * 1e-6 + 1e-3, total
    # and the no-dangling graph conserves too (term contributes zero)
    wt.PAGERANK_TOPK = n_docs
    try:
        full = _pagerank_topk(
            nodes, html_outlinks(spark, sf), n_docs
        )
        total_full = full.agg(F.sum("pagerank")).collect()[0][0]
    finally:
        wt.PAGERANK_TOPK = old_topk
    assert abs(total_full - 1.0) < n_docs * 1e-6 + 1e-3, total_full


def test_canonical_url_rules(spark):
    """Each canonicalization rule pinned on a hand-built case, plus the
    deliberate non-rules (path case kept, non-default port kept,
    www NOT stripped, percent-encoding untouched)."""
    from pdfi_spark.ops.webtext import canonical_url

    cases = {
        # fragment + case + default port + dup slashes + query sort + utm
        "HTTP://WWW.Ex.COM:80//A//b?b=2&a=1&utm_x=9#f":
            "http://www.ex.com/A/b?a=1&b=2",
        "https://Host.Net:443/P?z=1": "https://host.net/P?z=1",
        # non-default port and path case survive
        "https://h.io:8080/CaseKept": "https://h.io:8080/CaseKept",
        # query dropped entirely when only tracking params remain
        "http://h.io/p?utm_a=1&utm_b=2": "http://h.io/p",
        # no query/fragment: unchanged but lowercased authority
        "HTTPS://H.IO/x%7Ey": "https://h.io/x%7Ey",
        # :80 on https is NOT default -> kept; :443 on http kept
        "https://h.io:80/p": "https://h.io:80/p",
        "http://h.io:443/p": "http://h.io:443/p",
    }
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(r,) for r in cases], "raw string")
    got = {
        r["raw"]: r["canon"]
        for r in df.select("raw",
                           canonical_url(F.col("raw")).alias("canon"))
        .collect()
    }
    assert got == cases
