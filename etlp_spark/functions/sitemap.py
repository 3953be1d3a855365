"""sitemap.xml walking (sitemaps.org protocol): the OTHER half of
crawl-frontier seeding — x157 discovers URLs by following links,
but a site's own ``robots.txt -> Sitemap: -> sitemap.xml`` chain is
how the long tail (pages nobody links to yet) enters the frontier.
``functions/robots.py`` now surfaces the ``Sitemap:`` URLs; this
module parses the fetched documents.

Pure stdlib (``xml.etree.ElementTree`` — the x146+ no-dependency
walker posture; sitemaps are small, well-formed-or-rejected XML, so
a recovering tokenizer is NOT wanted here: the protocol says a
broken sitemap is ignored, which is exactly the damage-is-counted
containment this engine uses everywhere):

- ``parse_sitemap(text)`` — one document: detects ``<urlset>`` (leaf
  — ``<url><loc>``, optional ``<lastmod>``) vs ``<sitemapindex>``
  (``<sitemap><loc>`` references to child sitemaps), tolerating the
  sitemaps.org namespace, any other namespace, or none (matching on
  the LOCAL tag name); entries missing ``<loc>`` are skipped and
  counted as damage; non-XML / wrong-root input yields zero entries
  with ``clean=0`` and the parser error string. Nothing raises.
- ``extract_sitemap_entries(df)`` — ``per_payload`` explosion to one
  row per entry (id, kind, loc, lastmod, n_entries, clean,
  parse_error); a damaged or empty document still yields one
  loc-NULL sentinel row (the robots/WARC walker pattern).

RECURSION IS BOUNDED BY THE CALLER: this module never fetches. A
``sitemapindex`` row's ``loc`` is a reference the caller joins back
against its fetched-sitemap store for the next level (x159 does one
index level, the sitemaps.org nesting practice; an index-of-indexes
just yields further ``kind='sitemapindex'`` rows — each pass is one
hosts-sized broadcast join, never corpus-sized).

Reference: engine-added (SURVEY.md §2.2 ingestion family, with
x151/x155/x157/x158); sitemaps.org public protocol only.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from typing import TYPE_CHECKING

from etlp_spark.functions._payload import per_payload

if TYPE_CHECKING:  # pragma: no cover - typing only
    from pyspark.sql import DataFrame

__all__ = ["parse_sitemap", "extract_sitemap_entries", "walk_sitemaps"]


#: ``extract_sitemap_entries`` output columns (after the id).
_SITEMAP_COLS = (
    ("kind", "string"),
    ("loc", "string"),
    ("lastmod", "string"),
    ("n_entries", "int"),
    ("clean", "int"),
    ("parse_error", "string"),
)


def _local(tag: str) -> str:
    """Local part of a possibly-namespaced element tag."""
    return tag.rsplit("}", 1)[-1].lower()


def parse_sitemap(text: "str | None") -> dict:
    """Parse one sitemap document. Returns ``{kind, entries,
    n_entries, clean, parse_error}`` — ``kind`` is ``'urlset'`` /
    ``'sitemapindex'`` / ``''`` (unparseable or wrong root),
    ``entries`` is ``[(loc, lastmod), ...]`` in document order
    (``lastmod`` None when absent — the protocol makes it optional),
    ``clean`` flips on any damage (bad XML, wrong root, an entry
    with no ``loc``) while keeping every entry that DID parse."""
    if not text:
        return {
            "kind": "", "entries": [], "n_entries": 0,
            "clean": 0, "parse_error": "empty input",
        }
    try:
        root = ET.fromstring(text)
    except ET.ParseError as exc:
        return {
            "kind": "", "entries": [], "n_entries": 0,
            "clean": 0, "parse_error": f"not XML: {exc}",
        }
    kind = _local(root.tag)
    if kind not in ("urlset", "sitemapindex"):
        return {
            "kind": "", "entries": [], "n_entries": 0,
            "clean": 0, "parse_error": f"unexpected root <{kind}>",
        }
    child_tag = "url" if kind == "urlset" else "sitemap"
    entries: list[tuple[str, "str | None"]] = []
    clean = 1
    for el in root:
        if _local(el.tag) != child_tag:
            clean = 0  # stray element under the root: damage
            continue
        loc = None
        lastmod = None
        for sub in el:
            name = _local(sub.tag)
            if name == "loc":
                loc = (sub.text or "").strip() or None
            elif name == "lastmod":
                lastmod = (sub.text or "").strip() or None
        if loc is None:
            clean = 0  # entry with no loc: damage, counted not kept
            continue
        entries.append((loc, lastmod))
    return {
        "kind": kind, "entries": entries, "n_entries": len(entries),
        "clean": clean, "parse_error": "",
    }


def extract_sitemap_entries(
    df: "DataFrame",
    id_col: str = "url",
    xml_col: str = "xml",
) -> "DataFrame":
    """One row per sitemap entry (plus one loc-NULL sentinel row for
    damaged/empty documents) — see module doc. Output is SITE-sized
    (sitemaps cap at 50k URLs/document by protocol): broadcast it,
    join child references back against the fetched store for the
    next index level."""

    def entries(txt: "str | None") -> "list[dict]":
        meta = parse_sitemap(txt)
        return [
            {**meta, "loc": loc, "lastmod": lastmod}
            for loc, lastmod in meta["entries"] or [(None, None)]
        ]

    return per_payload(
        df, entries, _SITEMAP_COLS,
        id_col=id_col, payload_col=xml_col, strict=True,
    )


def walk_sitemaps(
    store: "DataFrame",
    seeds: "DataFrame",
    *,
    max_depth: int = 2,
    id_col: str = "url",
    xml_col: str = "xml",
) -> "DataFrame":
    """Bounded multi-level sitemap walk — the generalization of the
    one-level composition x159 does inline: starting from robots
    ``Sitemap:`` seed URLs, repeatedly join the fetched-document
    ``store`` (``id_col``/``xml_col``), parse, collect urlset
    entries, and feed ``sitemapindex`` child references into the
    next level. The walk NEVER fetches; ``max_depth`` is
    driver-side control flow over a constant (sitemaps.org practice
    is index→urlset, so 2 covers real sites; an index-of-indexes
    needs 3).

    Output: one row per outcome —
    ``(id_col, loc, lastmod, kind, depth)`` where ``kind`` is
    ``'url'`` (a seed URL from a urlset, the frontier feed),
    ``'damaged'`` (that document failed to parse — the loc-NULL
    sentinel), ``'unfetched'`` (a referenced sitemap absent from
    the store — at crawl scale this IS the next fetch list), or
    ``'unexpanded'`` (an index reference still unexpanded when
    ``max_depth`` ran out — depth starvation is reported, never
    silent). Accounting is total: every seed and every discovered
    reference lands in exactly one kind.

    Scale shape: the store and every level are SITES-sized, so each
    level is one broadcast join + one scan-stage Arrow parse; the
    levels chain linearly (no self-join — no lineage doubling, no
    checkpoint needed)."""
    from pyspark.sql import functions as F

    def out_row(df, loc, lastmod, kind: str, depth: int):
        return df.select(
            F.col(id_col),
            loc.alias("loc"),
            lastmod.alias("lastmod"),
            F.lit(kind).alias("kind"),
            F.lit(depth).alias("depth"),
        )

    null_s = F.lit(None).cast("string")
    parts = []
    level = seeds.select(id_col).distinct()
    for depth in range(max_depth):
        fetched = level.join(F.broadcast(store), id_col, "left")
        parts.append(
            out_row(
                fetched.where(F.col(xml_col).isNull()),
                null_s, null_s, "unfetched", depth,
            )
        )
        parsed = extract_sitemap_entries(
            fetched.where(F.col(xml_col).isNotNull()), id_col, xml_col
        )
        parts.append(
            out_row(
                parsed.where(F.col("kind") == "urlset"),
                F.col("loc"), F.col("lastmod"), "url", depth,
            )
        )
        parts.append(
            out_row(
                parsed.where(F.col("kind") == ""),
                null_s, null_s, "damaged", depth,
            )
        )
        level = (
            parsed.where(
                (F.col("kind") == "sitemapindex")
                & F.col("loc").isNotNull()
            )
            .select(F.col("loc").alias(id_col))
            .distinct()
        )
    parts.append(out_row(level, null_s, null_s, "unexpanded", max_depth))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
