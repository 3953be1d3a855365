"""robots.txt parsing and crawl-politeness gating (RFC 9309, the
Robots Exclusion Protocol): the filter between x157's link frontier
and the fetch scheduler — a 100 TB crawl that ignores robots rules
is both rude and legally radioactive, so the gate belongs in-engine,
next to the frontier it filters.

Pure stdlib, the x146+ walker posture:

- ``parse_robots(text, agent)`` — group-structured parse: consecutive
  ``User-agent`` lines share the following Allow/Disallow/Crawl-delay
  block; the group(s) whose agent token matches ``agent``
  (case-insensitive, exact) are selected, falling back to the ``*``
  group(s) (RFC 9309 §2.2.1); comments stripped; an EMPTY Disallow
  value is "allow everything" (no rule, per spec); unknown
  directives are COUNTED (``n_unknown``), not errors — real robots
  files carry Host:/Clean-param:/typos constantly; a line with no
  colon flips ``clean``.
- ``rule_regex(pattern)`` — RFC 9309 path patterns to Java/RE2-safe
  regex: specials escaped, ``*`` → ``.*``, one TRAILING ``$`` is the
  end-of-URL anchor (a mid-pattern ``$`` is a literal).
- ``extract_robots_rules(df)`` — ``per_payload`` explosion to ONE ROW
  PER RULE (host, allow, pattern, pattern_len, rule_regex) plus the
  group's crawl_delay_ms and the file's sitemap/unknown/clean
  counts — AND the ``Sitemap:`` URLs themselves (``sitemaps``
  array; they seed ``functions/sitemap.py``'s walker) — repeated
  per row; a host whose selected group has NO rules
  still yields one pattern-NULL row so its delay/sitemap facts
  survive. Rules tables are HOSTS-sized (not corpus-sized): the
  downstream gate is a BROADCAST join — urls x rules filtered on
  ``path RLIKE rule_regex``, then per-URL longest-match with Allow
  winning ties (RFC 9309 §2.2.2), which is ``max_by(allow,
  struct(pattern_len, allow))`` — all JVM, no UDF in the decision.

Reference: engine-added (SURVEY.md §2.2 ingestion family, with
x151/x155/x157); RFC 9309 public semantics only.
"""

from __future__ import annotations

import math
import re
from typing import TYPE_CHECKING

from etlp_spark.functions._payload import per_payload

if TYPE_CHECKING:  # pragma: no cover - typing only
    from pyspark.sql import DataFrame

__all__ = ["parse_robots", "rule_regex", "extract_robots_rules"]


#: ``extract_robots_rules`` output columns (after the id).
_ROBOTS_COLS = (
    ("allow", "int"),
    ("pattern", "string"),
    ("pattern_len", "int"),
    ("rule_regex", "string"),
    ("crawl_delay_ms", "bigint"),
    ("n_sitemaps", "int"),
    ("sitemaps", "array<string>"),
    ("n_unknown", "int"),
    ("clean", "int"),
)


def rule_regex(pattern: str) -> str:
    """RFC 9309 path pattern → anchored regex (see module doc)."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    esc = re.escape(body).replace(r"\*", ".*")
    return "^" + esc + ("$" if anchored else "")


def parse_robots(text: "str | None", agent: str = "*") -> dict:
    """Parse one robots.txt body for ``agent``. Returns ``{rules:
    [(allow, pattern), ...], crawl_delay_ms, n_sitemaps, n_unknown,
    clean}`` — rules in file order from the SELECTED group(s) only
    (exact agent match if any group names it, else the ``*``
    group(s)); ``crawl_delay_ms`` from the first selected group that
    sets one (fractional seconds kept as exact ms)."""
    agent = agent.lower()
    groups: list[tuple[list[str], list[tuple[int, str]], "int | None"]] = []
    cur_uas: list[str] = []
    cur_rules: list[tuple[int, str]] = []
    cur_delay: "int | None" = None
    in_rules = False
    n_sitemaps = 0
    sitemap_urls: list[str] = []
    n_unknown = 0
    clean = 1

    def close_group() -> None:
        nonlocal cur_uas, cur_rules, cur_delay, in_rules
        if cur_uas or cur_rules:
            groups.append((cur_uas, cur_rules, cur_delay))
        cur_uas, cur_rules, cur_delay, in_rules = [], [], None, False

    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, sep, val = line.partition(":")
        if not sep:
            clean = 0  # not a directive at all: parse damage
            continue
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if in_rules:
                close_group()  # a new UA after rules opens a new group
            cur_uas.append(val.lower())
        elif key in ("allow", "disallow"):
            in_rules = True
            if val:  # empty Disallow = allow everything: no rule
                cur_rules.append((1 if key == "allow" else 0, val))
        elif key == "crawl-delay":
            in_rules = True
            # untrusted input: 'Infinity'/'nan' parse as floats but
            # int() then raises Overflow/ValueError — non-finite (or
            # absurd) delays are parse damage, counted not crashed
            try:
                secs = float(val)
                # > 1 day is not a politeness delay, it is damage
                # (and 'Infinity' would overflow the ms conversion)
                if not math.isfinite(secs) or abs(secs) > 86_400:
                    raise ValueError(val)
                cur_delay = int(secs * 1000)
            except (ValueError, OverflowError):
                clean = 0
        elif key == "sitemap":
            n_sitemaps += 1
            # Sitemap is a FILE-level directive (outside any group,
            # RFC 9309 §2.2.4 / sitemaps.org): keep the URL — it is
            # the other half of frontier seeding (robots ->
            # sitemap.xml -> URL list, functions/sitemap.py)
            if val:
                sitemap_urls.append(val)
        else:
            n_unknown += 1
    close_group()

    sel = [g for g in groups if agent in g[0]]
    if not sel:
        sel = [g for g in groups if "*" in g[0]]
    return {
        "rules": [r for g in sel for r in g[1]],
        "crawl_delay_ms": next(
            (g[2] for g in sel if g[2] is not None), None
        ),
        "n_sitemaps": n_sitemaps,
        "sitemaps": sitemap_urls,
        "n_unknown": n_unknown,
        "clean": clean,
    }


def extract_robots_rules(
    df: "DataFrame",
    id_col: str = "host",
    text_col: str = "robots",
    *,
    agent: str = "*",
) -> "DataFrame":
    """One row per selected rule (plus one pattern-NULL row for
    rule-less hosts) — see module doc. The output is hosts-sized:
    broadcast it against the URL frontier."""

    def rules(txt: "str | None") -> "list[dict]":
        meta = parse_robots(txt, agent)
        return [
            {
                **meta,
                "allow": allow,
                "pattern": pattern,
                "pattern_len": None if pattern is None else len(pattern),
                "rule_regex": None if pattern is None else rule_regex(pattern),
            }
            for allow, pattern in meta["rules"] or [(None, None)]
        ]

    return per_payload(
        df, rules, _ROBOTS_COLS,
        id_col=id_col, payload_col=text_col, strict=True,
    )
