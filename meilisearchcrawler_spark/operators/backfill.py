"""Content-extraction backfill job — the trafilatura deployment hook.

The reference's extraction decision order is selector → trafilatura →
"heuristique maison" (crawler.py:520-561); this repo implements the
selector and heuristic branches exactly but cannot ship trafilatura
(library absent in-container, output not spec-able to byte equality).
Every indexed document therefore carries ``content_source`` ∈
{``selector``, ``candidate``, ``fallback``} — and every non-``selector``
row is a page where the reference would have consulted trafilatura
FIRST (measured 75% of the bench web, FIXTURES.md §9).

:func:`backfill_content` is the job a trafilatura-equipped deployment
runs to close that gap: re-extract EXACTLY those rows with a pluggable
extractor, accept results per the reference's own gate (len > 250,
crawler.py:524-526), keep the heuristic text otherwise. The extractor
is any ``(html, url) -> str | None`` callable — ``trafilatura.extract``
in production, a deterministic stub in tests.

Scale shape: one filter splits the table, one hash join keys the
re-extract targets to their page HTML (both sides corpus-sized when
75% of docs qualify — a plain shuffle join on url, AQE-sized), one
Arrow-batched mapInPandas runs the extractor, and the untouched rows
union back by name. No window, no collect, no skew key (url is
unique).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BACKFILL_SOURCES = ("candidate", "fallback")


def backfill_content(docs: DataFrame, pages: DataFrame,
                     extractor: Callable[[str, str], str | None],
                     min_chars: int = 250,
                     sources: tuple[str, ...] = BACKFILL_SOURCES) -> DataFrame:
    """Re-extract the ``content_source ∈ sources`` rows of ``docs``
    with ``extractor`` and return the full updated documents frame.

    ``pages`` maps ``url -> html`` (the page store, a recrawl output,
    or a cache dump). For each target row the extractor runs on the
    page HTML; a result longer than ``min_chars`` replaces ``content``
    (cleaned + truncated exactly like the crawl path, P8), rebuilds
    ``excerpt`` (P9) and ``content_hash`` (P4 composition over
    title|excerpt|content|images), and tags ``content_source =
    'backfill'``. A None/short result — trafilatura declining a page —
    keeps the heuristic row byte-identical, mirroring the reference's
    fallback order. Rows with no matching page HTML are kept unchanged
    (left join semantics: backfill must never drop documents)."""
    out_schema = docs.schema
    doc_cols = [f.name for f in out_schema.fields]

    targets = docs.filter(F.col("content_source").isin(*sources))
    untouched = docs.filter(
        ~F.col("content_source").isin(*sources))
    joined = targets.join(
        pages.select(F.col("url"), F.col("html").alias("_html")),
        "url", "left")

    def kernel(batches):
        from ..functions.text import (
            clean_text,
            create_excerpt,
            get_content_hash,
        )

        for pdf in batches:
            for i in pdf.index:
                html = pdf.at[i, "_html"]
                if html is None or (isinstance(html, float)):
                    continue
                extracted = extractor(html, pdf.at[i, "url"])
                if not extracted or len(extracted) <= min_chars:
                    continue
                content = clean_text(extracted)
                excerpt = create_excerpt(content)
                images = pdf.at[i, "images"]
                images_list = [dict(d) for d in images] \
                    if images is not None else []
                pdf.at[i, "content"] = content
                pdf.at[i, "excerpt"] = excerpt
                pdf.at[i, "content_hash"] = get_content_hash(
                    content, pdf.at[i, "title"], images_list, excerpt)
                pdf.at[i, "content_source"] = "backfill"
            yield pdf[doc_cols]

    refreshed = joined.mapInPandas(kernel, schema=out_schema)
    return untouched.unionByName(refreshed)


def backfill_stats(docs: DataFrame) -> DataFrame:
    """Per-source row counts — the operational dial for how much of
    the corpus a trafilatura deployment would re-extract (and, after a
    run, how much it did: ``backfill`` rows)."""
    return (docs.groupBy("content_source")
            .agg(F.count("*").alias("n"))
            .orderBy("content_source"))
