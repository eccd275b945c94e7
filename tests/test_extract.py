"""Port of extractLinks table tests (`crawler_test.go:108-133`), plus
getLinks-shape cases (`crawler_test.go:252-296`).

The HTML fixtures are vendored as `tests/fixtures/fourlinks.html` and
`tests/fixtures/nolinks.html`: hand-written reconstructions of the
reference's `internal/testdata/` files of the same names, holding the
anchors FIXTURES.md §5 lists. Where the reference test data is present,
`test_vendored_html_matches_reference` checks that both extract alike."""

from pathlib import Path

import pytest

from sitemapper_spark.html_extract import extract_links

FIXTURES = Path(__file__).parent / "fixtures"
FOURLINKS = FIXTURES / "fourlinks.html"
NOLINKS = FIXTURES / "nolinks.html"
REFERENCE_TESTDATA = Path("/root/reference/sitemapper/internal/testdata")


def test_fourlinks_document_order():
    content = open(FOURLINKS).read()
    assert extract_links(content) == [
        "/aubergine",
        "biscuit/pomegranate.html",
        "tomato.html",
        "/",
    ]


def test_nolinks():
    assert extract_links(open(NOLINKS).read()) == []


@pytest.mark.skipif(
    not REFERENCE_TESTDATA.is_dir(), reason="reference test data not present"
)
@pytest.mark.parametrize("vendored", [FOURLINKS, NOLINKS], ids=lambda p: p.name)
def test_vendored_html_matches_reference(vendored):
    original = REFERENCE_TESTDATA / vendored.name
    assert extract_links(vendored.read_text()) == extract_links(
        original.read_text()
    )


def test_plain_text_no_anchors():
    assert extract_links("no links here") == []


def test_single_anchor():
    assert extract_links('<a href="https://example.com">link</a>') == [
        "https://example.com"
    ]


def test_first_href_wins_and_dedup_and_trim():
    html = (
        '<a href=" /a " href="/b">x</a>'  # first href attribute only
        '<a href="/a">dup after trim</a>'
        '<a id="k" href="/c">attr order</a>'
        "<a>no href</a>"
    )
    assert extract_links(html) == ["/a", "/c"]


def test_empty_content():
    assert extract_links("") == []
    assert extract_links(None) == []
