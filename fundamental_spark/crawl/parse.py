"""Page parsing.

Search pages (funda_spider.py:84-186) parse **fully JVM-side**: the
JSON-LD ItemList extraction is regexp_extract + from_json + transform
(whole-stage codegen, zero Python); the next-page anchor and the two
CSS selector sets (always unioned with JSON-LD, as the reference does)
are regexp extracts with JVM-side relative-href resolution. Detail pages parse into interleaved span
sequences with ONE vectorized Arrow pandas UDF (the input_hint mandate:
no per-row Python plan nodes) — HTML is genuinely irregular, so this is
the one place Python earns its keep.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType

from ..schemas import SEARCH_ITEMS_SCHEMA, SPAN_SCHEMA

_LD_RE = r'<script type="application/ld\+json">(.*?)</script>'


def jsonld_blob(html: Column) -> Column:
    return F.regexp_extract(html, _LD_RE, 1)


def _page_url_parts(page_url: Column) -> tuple[Column, Column, Column, Column]:
    """(scheme, origin, query-stripped url, directory) of a page URL —
    the per-page context ``response.urljoin`` resolves against. Hoist
    these ONCE PER PAGE (parse_search_pages stages them as columns):
    an expression built inside the per-href transform lambda would be
    re-evaluated per element — 4 regexps × #hrefs instead of 4."""
    scheme = F.regexp_extract(page_url, r"^(https?):", 1)
    origin = F.regexp_extract(page_url, r"^(https?://[^/]+)", 1)
    no_q = F.regexp_replace(page_url, r"[?#].*$", "")
    pdir = F.regexp_extract(no_q, r"^(.*/)", 1)
    # a bare origin ('https://host') has no path: its directory is '/'
    pdir = F.when(
        pdir == F.concat(scheme, F.lit("://")), F.concat(origin, F.lit("/"))
    ).otherwise(pdir)
    return scheme, origin, no_q, pdir


def _resolve_with(
    parts: tuple[Column, Column, Column, Column], href: Column
) -> Column:
    scheme, origin, no_q, pdir = parts
    return (
        F.when(href.rlike(r"^https?://"), href)
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(origin, href))
        .when(href.startswith("?"), F.concat(no_q, href))
        .otherwise(F.concat(pdir, href))
    )


def resolve_href(page_url: Column, href: Column) -> Column:
    """``response.urljoin`` twin (JVM-side) for the href shapes search
    pages emit: absolute, protocol-relative (``//host/…`` takes the
    page's scheme), root-relative (``/…`` onto the origin), query-only
    (``?…`` onto the query-stripped page URL), and path-relative
    (resolved against the page URL's directory). Parent-relative
    ``../`` segments are NOT normalized — funda pages never emit them;
    they resolve literally and the path filter drops them."""
    return _resolve_with(_page_url_parts(page_url), href)


def listing_urls(
    html: Column,
    page_url: Column | None = None,
    path_filter: str = "/detail/koop/",
    parts: tuple[Column, Column, Column, Column] | None = None,
) -> Column:
    """Listing URLs from a search page, matching funda_spider.py:94-119:
    the JSON-LD ItemList URLs (:96-107) are ALWAYS unioned with the two
    CSS-selector href sets (:109-116 — the reference extends, never
    falls back), relative hrefs resolved against the page URL
    (response.urljoin), then path-filtered (``/detail/koop/`` for the
    crawl, the looser ``/koop/`` for refresh mode, :465-477).
    Deterministic order contract: JSON-LD document order first, then
    CSS-only URLs in document order (the reference holds them in a
    Python set; SURVEY.md §3.1 fixes this order as the canonical one).
    """
    ld = F.from_json(jsonld_blob(html), SEARCH_ITEMS_SCHEMA)
    from_ld = F.coalesce(
        F.transform(ld["itemListElement"], lambda it: it["url"]),
        F.array().cast("array<string>"),
    )
    # one alternation regex: both selector shapes in DOCUMENT order
    # (two separate extracts would concatenate, losing interleaving)
    css = F.regexp_extract_all(
        html,
        F.lit(
            r'(?:data-test-id="search-result-item"'
            r'|class="search-result__header-title-col")><a href="([^"]+)"'
        ),
        1,
    )
    if parts is not None:
        css = F.transform(css, lambda u: _resolve_with(parts, u))
    elif page_url is not None:
        css = F.transform(css, lambda u: resolve_href(page_url, u))
    urls = F.array_union(from_ld, css)
    return F.filter(urls, lambda u: u.contains(path_filter))


def next_page_url(
    html: Column,
    page_url: Column | None = None,
    parts: tuple[Column, Column, Column, Column] | None = None,
) -> Column:
    u = F.regexp_extract(html, r'data-test-id="next-page-button" href="([^"]+)"', 1)
    if parts is not None:
        u = F.when(u == "", u).otherwise(_resolve_with(parts, u))
    elif page_url is not None:
        u = F.when(u == "", u).otherwise(resolve_href(page_url, u))
    return F.when(u == "", F.lit(None).cast("string")).otherwise(u)


def parse_search_pages(
    pages: DataFrame, html_col: str = "html", path_filter: str = "/detail/koop/"
) -> DataFrame:
    """pages(+html) -> one row per page with ordered candidate listing
    urls and the next-page url. Downstream: posexplode(listing_urls)."""
    h = F.col(html_col)
    # stage the per-page urljoin context ONCE (see _page_url_parts);
    # the per-href lambdas then read attributes, not regexp pipelines
    scheme, origin, no_q, pdir = _page_url_parts(F.col("url"))
    staged = (
        pages.withColumn("_rs", scheme)
        .withColumn("_ro", origin)
        .withColumn("_rq", no_q)
        .withColumn("_rd", pdir)
    )
    parts = (F.col("_rs"), F.col("_ro"), F.col("_rq"), F.col("_rd"))
    return (
        staged.withColumn(
            "listing_urls", listing_urls(h, path_filter=path_filter, parts=parts)
        )
        .withColumn("next_page", next_page_url(h, parts=parts))
        .drop("_rs", "_ro", "_rq", "_rd")
    )


# ---------------------------------------------------------------------------
# Detail page -> interleaved span sequence (vectorized Arrow UDF)
# ---------------------------------------------------------------------------
_SPAN_RE = re.compile(
    r'<script type="application/ld\+json">(?P<ld>.*?)</script>'
    r"|<h1[^>]*>(?P<h1>.*?)</h1>"
    r'|<img src="(?P<img>[^"]+)">'
    r"|<p[^>]*>(?P<p>.*?)</p>"
    r"|<dt>(?P<dt>.*?)</dt>\s*<dd>(?P<dd>.*?)</dd>",
    re.S,
)

SPANS_TYPE = ArrayType(SPAN_SCHEMA)


def parse_spans_columnar(
    htmls: list,
) -> tuple[list[int], list[str], list, list, list[int]]:
    """Columnar span parse: one pass over a batch of page bodies into
    flat (list-offsets, kind, text, media_ref, offset) arrays — the
    Arrow-native layout the executor-side documents sink (docsink.py)
    writes to parquet without ever building per-span Python dicts or
    shipping the payload back to the JVM. This is the single source of
    truth for span semantics; `_spans_of` is a per-row wrapper over it.
    A None body yields an empty span list (offset range of length 0)."""
    offsets: list[int] = [0]
    kinds: list[str] = []
    texts: list = []
    medias: list = []
    offs: list[int] = []
    for html in htmls:
        i = 0
        if html is not None:
            for m in _SPAN_RE.finditer(html):
                if m.group("ld") is not None:
                    kinds.append("text"); texts.append(m.group("ld").strip()); medias.append(None)
                elif m.group("h1") is not None:
                    kinds.append("text"); texts.append(m.group("h1").strip()); medias.append(None)
                elif m.group("img") is not None:
                    kinds.append("media"); texts.append(None); medias.append(m.group("img"))
                elif m.group("p") is not None:
                    kinds.append("text"); texts.append(m.group("p").strip()); medias.append(None)
                else:
                    kinds.append("text")
                    texts.append(f'{m.group("dt").strip()}: {m.group("dd").strip()}')
                    medias.append(None)
                offs.append(i)
                i += 1
        offsets.append(len(kinds))
    return offsets, kinds, texts, medias, offs


def _spans_of(html: str) -> list[dict]:
    _, kinds, texts, medias, offs = parse_spans_columnar([html])
    return [
        {"kind": k, "text": t, "media_ref": m, "offset": o}
        for (k, t, m, o) in zip(kinds, texts, medias, offs)
    ]


@pandas_udf(SPANS_TYPE)
def parse_spans_udf(html: pd.Series) -> pd.Series:
    return html.map(_spans_of)
