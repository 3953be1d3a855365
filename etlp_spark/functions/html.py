"""HTML -> text extraction: the boilerplate-strip rung between raw
crawl response records (functions/warc.py surfaces their HTML
entities as ``text``) and the text-quality / dedup / lang-id family,
which must run on prose, not markup. WET conversion records sidestep
this only when the crawl provider did the extraction; a pipeline
ingesting raw ``application/http`` responses needs it in-engine.

Pure stdlib (``html.parser`` — the no-dependency posture of the
x146+ walkers; no bs4/lxml):

- ``html_to_text(html)`` — one forgiving tag walk. Drops
  script/style/template/noscript subtrees and comments, decodes
  character references (named + numeric, via ``convert_charrefs``),
  separates BLOCK elements with whitespace while letting inline tags
  glue (``bo<i>ld</i>`` -> ``bold``), captures ``<title>`` separately
  (it is NOT body prose), captures the FIRST ``<base href>`` (the
  HTML-spec winner — the frontier feed must resolve hrefs against it
  when present, RFC 3986 §5.1.1), counts tags / links / dropped
  subtrees, and collapses all whitespace runs to single spaces. Malformed
  markup never raises — ``html.parser`` is a recovering tokenizer,
  exactly the posture a 100 TB crawl needs (real HTML is broken).
- ``extract_html_text(df)`` — one ``html_to_text`` row per input
  through ``functions._payload.per_payload`` (a None/empty input
  yields empty text, never a dead task).

Determinism contract (what the x155 oracle predicts): output text is
``" ".join(visible_data.split())`` where visible data is everything
outside dropped subtrees and outside ``<title>``, with block
boundaries contributing whitespace and inline boundaries
contributing nothing.

Reference: engine-added (SURVEY.md §2.2 text-pipeline family);
public WHATWG HTML parsing behavior via stdlib only.
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import TYPE_CHECKING

from etlp_spark.functions._payload import per_payload

if TYPE_CHECKING:  # pragma: no cover - typing only
    from pyspark.sql import DataFrame

__all__ = ["html_to_text", "extract_html_text", "BLOCK_TAGS"]

#: Subtrees whose character data is never prose.
_DROP_TAGS = frozenset({"script", "style", "template", "noscript"})

#: Elements that separate text runs (a closed, documented set — the
#: oracle predicts exactly this behavior). Everything else is inline
#: and glues: ``bo<i>ld</i>`` is one word.
BLOCK_TAGS = frozenset(
    {
        "address", "article", "aside", "blockquote", "br", "caption",
        "dd", "details", "div", "dl", "dt", "fieldset", "figcaption",
        "figure", "footer", "form", "h1", "h2", "h3", "h4", "h5",
        "h6", "header", "hr", "li", "main", "nav", "ol", "p", "pre",
        "section", "summary", "table", "tbody", "td", "tfoot", "th",
        "thead", "tr", "ul",
    }
)


#: ``extract_html_text`` output columns (after the id).
_HTML_COLS = (
    ("text", "string"),
    ("title", "string"),
    ("hrefs", "array<string>"),
    ("base_href", "string"),
    ("n_tags", "int"),
    ("n_links", "int"),
    ("n_dropped", "int"),
)


class _TextWalk(HTMLParser):
    """One pass over the token stream; fields are read once at end."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.parts: list[str] = []
        self.title_parts: list[str] = []
        self.hrefs: list[str] = []
        self.base_href: "str | None" = None
        self.drop_depth = 0
        self.title_depth = 0
        self.n_tags = 0
        self.n_links = 0
        self.n_dropped = 0

    def _boundary(self, tag: str) -> None:
        if tag in BLOCK_TAGS:
            self.parts.append(" ")

    def _link(self, attrs) -> None:
        self.n_links += 1
        for k, v in attrs:
            if k == "href" and v:
                self.hrefs.append(v)
                break

    def _base(self, attrs) -> None:
        # HTML spec: the FIRST <base href> wins document-wide; later
        # base elements are ignored
        if self.base_href is not None:
            return
        for k, v in attrs:
            if k == "href" and v:
                self.base_href = v
                break

    def handle_starttag(self, tag, attrs):  # noqa: D102
        # inside a dropped subtree NOTHING counts — script/style
        # content never reaches the tokenizer as tags (CDATA), but
        # template/noscript content DOES, and an <a> inside either
        # must not leak into the counts or the href frontier feed
        if self.drop_depth:
            if tag in _DROP_TAGS:
                self.drop_depth += 1
            return
        self.n_tags += 1
        if tag == "a":
            self._link(attrs)
        elif tag == "base":
            self._base(attrs)
        if tag in _DROP_TAGS:
            self.n_dropped += 1
            self.drop_depth = 1
            return
        if tag == "title":
            self.title_depth += 1
            return
        self._boundary(tag)

    def handle_endtag(self, tag):  # noqa: D102
        if self.drop_depth:
            if tag in _DROP_TAGS:
                self.drop_depth -= 1
            return
        if tag == "title":
            if self.title_depth:
                self.title_depth -= 1
            return
        self._boundary(tag)

    def handle_startendtag(self, tag, attrs):  # noqa: D102
        # <br/> and friends: count once, boundary once, never push
        # drop/title state (there is no subtree) — EXCEPT drop tags:
        # browsers ignore the self-closing flag on script/style, so
        # '<script/>body</script>' is an OPENED script whose body
        # must not leak into prose; mirror handle_starttag
        if self.drop_depth:
            if tag in _DROP_TAGS:
                self.drop_depth += 1
            return
        if tag in _DROP_TAGS:
            self.n_tags += 1
            self.n_dropped += 1
            self.drop_depth = 1
            return
        self.n_tags += 1
        if tag == "a":
            self._link(attrs)
        elif tag == "base":
            self._base(attrs)
        self._boundary(tag)

    def handle_data(self, data):  # noqa: D102
        if self.drop_depth:
            return
        if self.title_depth:
            self.title_parts.append(data)
        else:
            self.parts.append(data)


def html_to_text(html: "str | None") -> dict:
    """Extract prose from one HTML string. Returns ``{text, title,
    hrefs, base_href, n_tags, n_links, n_dropped}`` — text/title are
    whitespace-collapsed (single spaces, no leading/trailing),
    ``hrefs`` is the ordered list of ``<a href>`` values
    (entity-decoded by the tokenizer; the crawl-frontier feed —
    resolve with ``functions.url.resolve_url``), ``base_href`` is
    the FIRST ``<base href>`` value or None (per the HTML spec later
    base elements lose; a page carrying one re-bases every relative
    href, so the frontier resolves against
    ``resolve_url(page_uri, base_href)``), ``n_tags`` counts start +
    self-closing tags OUTSIDE dropped subtrees (script/style content
    is character data to the tokenizer; template/noscript content IS
    tokenized, so the walk suppresses its tags, links, and hrefs
    explicitly), ``n_links`` counts ``<a>``,
    ``n_dropped`` counts top-level dropped subtrees
    (script/style/template/noscript). None/empty input yields empty
    text — containment, not an error."""
    w = _TextWalk()
    if html:
        w.feed(html)
        w.close()
    return {
        "text": " ".join("".join(w.parts).split()),
        "title": " ".join("".join(w.title_parts).split()),
        "hrefs": w.hrefs,
        "base_href": w.base_href,
        "n_tags": w.n_tags,
        "n_links": w.n_links,
        "n_dropped": w.n_dropped,
    }


def extract_html_text(
    df: "DataFrame",
    id_col: str = "media_id",
    html_col: str = "html",
) -> "DataFrame":
    """One ``html_to_text`` row per input, through ``per_payload``.
    Composes directly with the WARC walk — ``read_warc`` -> filter
    text/html responses -> this -> the text-quality family, all
    before the first exchange."""
    return per_payload(
        df, lambda h: [html_to_text(h)], _HTML_COLS,
        id_col=id_col, payload_col=html_col, strict=True,
    )
