"""Vectorized html -> (text, hrefs) extraction (SURVEY §2.1 north-rule
source; BASELINE.json:15 mandates Arrow pandas UDFs, no per-row Python
UDFs at the Spark level).

Extraction spec (must match linkgraph.datagen's golden `text` column
byte-identically):
  * text  = text content of the <h1> element and every <p> element,
            in document order, joined by "\\n".
  * hrefs = every <a href=...> value, resolved absolute against the
            page url, fragment stripped, self-links dropped, deduped
            preserving first-seen order.

Replaces the reference's AdjacencyGraph text parser
(/root/reference/src/graph.rs:145-196) as the production source; the
text parser survives as a fixture loader in datagen.py.
"""

from __future__ import annotations

from html.parser import HTMLParser
from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

_CAPTURE_TAGS = {"h1", "p"}


class _PageParser(HTMLParser):
    """Collects h1/p text content and <a href> values in document order."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.chunks: list[str] = []
        self.hrefs: list[str] = []
        self._depth = 0  # inside a capture tag
        self._buf: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _CAPTURE_TAGS:
            self._depth += 1
            self._buf = []
        elif tag == "a":
            for k, v in attrs:
                if k == "href" and v is not None:
                    self.hrefs.append(v)

    def handle_endtag(self, tag: str) -> None:
        if tag in _CAPTURE_TAGS and self._depth > 0:
            self._depth -= 1
            self.chunks.append("".join(self._buf))
            self._buf = []

    def handle_data(self, data: str) -> None:
        if self._depth > 0:
            self._buf.append(data)


def extract_one(url: str, html: bytes) -> tuple[str, list[str]]:
    """Extract (text, normalized hrefs) from one page. Pure function so
    the Arrow UDF below and driver-side tests share one implementation."""
    parser = _PageParser()
    parser.feed(html.decode("utf-8", errors="replace"))
    text = "\n".join(parser.chunks)
    seen: set[str] = set()
    out: list[str] = []
    for href in parser.hrefs:
        absolute = urljoin(url, href).split("#", 1)[0]
        if absolute != url and absolute not in seen:
            seen.add(absolute)
            out.append(absolute)
    return text, out


_EXTRACT_SCHEMA = StructType(
    [
        StructField("text", StringType()),
        StructField("hrefs", ArrayType(StringType())),
    ]
)


@pandas_udf(_EXTRACT_SCHEMA)
def _extract_udf(url: pd.Series, html: pd.Series) -> pd.DataFrame:
    texts: list[str] = []
    href_lists: list[list[str]] = []
    for u, h in zip(url, html):
        t, hs = extract_one(u, h)
        texts.append(t)
        href_lists.append(hs)
    return pd.DataFrame({"text": texts, "hrefs": href_lists})


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) ->
    (url, text, hrefs array<string>) with text re-derived from html.

    Column pruning: only url+html are read from the source scan.
    """
    ex = pages.select("url", _extract_udf("url", "html").alias("ex"))
    return ex.select("url", F.col("ex.text").alias("text"), F.col("ex.hrefs").alias("hrefs"))


def edges_from_pages(pages: DataFrame) -> DataFrame:
    """(src_url, dst_url) href edges, deduped (dedup per page happens in
    the UDF; cross-page duplicates are impossible since src_url is the
    page key, so no global distinct is needed — no extra shuffle).

    One UDF pass per page: from a plain ``explode`` Catalyst infers
    ``size(hrefs) > 0`` and pushes it below the projection, where it
    re-evaluates the UDF, so the executed plan parsed every page twice
    (two ArrowEvalPython nodes; 0.98 s -> 0.56 s to count 2,000 pages
    once, local[4]). ``explode_outer`` infers no filter, and its null
    row for a page without hrefs is dropped above the Generate."""
    return (
        extract_pages(pages)
        .select(F.col("url").alias("src_url"), F.explode_outer("hrefs").alias("dst_url"))
        .where(F.col("dst_url").isNotNull())
    )


class _AnchorParser(HTMLParser):
    """Collects (href, anchor text) pairs in document order — the
    anchor-text corpus extractor (anchor text is the classic external
    page description signal: search ranking since Brin & Page '98,
    anchor-based pretraining corpora since DeepCT/HN-gen). Kept
    SEPARATE from _PageParser so the byte-identity contract of the
    north-rule text extraction is untouched."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.anchors: list[tuple[str, str]] = []
        self._href: str | None = None
        self._buf: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "a":
            # a nested/unclosed <a> implicitly closes the previous one
            # (the HTML5 tree-building rule)
            self._flush()
            for k, v in attrs:
                if k == "href" and v is not None:
                    self._href = v
                    self._buf = []
                    break

    def handle_endtag(self, tag: str) -> None:
        if tag == "a":
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._href is not None:
            self._buf.append(data)

    def _flush(self) -> None:
        if self._href is not None:
            self.anchors.append((self._href, "".join(self._buf).strip()))
            self._href = None
            self._buf = []

    def close(self) -> None:  # flush a dangling open <a> at EOF
        self._flush()
        super().close()


def extract_anchors_one(url: str, html: bytes) -> list[tuple[str, str]]:
    """(dst_url, anchor_text) pairs for one page: hrefs resolved and
    fragment-stripped exactly like extract_one, self-links dropped,
    duplicates KEPT (the same target linked twice with different
    anchor texts is signal, not noise)."""
    parser = _AnchorParser()
    parser.feed(html.decode("utf-8", errors="replace"))
    parser.close()
    out: list[tuple[str, str]] = []
    for href, text in parser.anchors:
        absolute = urljoin(url, href).split("#", 1)[0]
        if absolute != url:
            out.append((absolute, text))
    return out


_ANCHORS_SCHEMA = StructType(
    [
        StructField(
            "anchors",
            ArrayType(
                StructType(
                    [
                        StructField("dst_url", StringType()),
                        StructField("anchor", StringType()),
                    ]
                )
            ),
        )
    ]
)


@pandas_udf(_ANCHORS_SCHEMA)
def _anchors_udf(url: pd.Series, html: pd.Series) -> pd.DataFrame:
    return pd.DataFrame(
        {"anchors": [extract_anchors_one(u, h) for u, h in zip(url, html)]}
    )


def anchor_texts(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) -> (src_url, dst_url, anchor): one row per
    link occurrence, anchor = the link's visible text. The anchor-text
    corpus op — at scale, `groupBy(dst_url)` + collect_list gives each
    page its external description set (queries/training pairs).

    Same Arrow-batched shape as the text extractor: column pruning
    keeps the scan at (url, html); one explode, no joins, no shuffles
    until the caller aggregates.
    """
    ex = pages.select(
        F.col("url").alias("src_url"),
        _anchors_udf("url", "html").alias("ex"),
    )
    return ex.select(
        "src_url", F.explode("ex.anchors").alias("a")
    ).select("src_url", F.col("a.dst_url").alias("dst_url"), F.col("a.anchor").alias("anchor"))
