"""S8/C22 — HTML → plain text extraction (HtmlReader.java:32-217 twin).

The reference runs an event-driven tokenizer that drops tags (including
attribute bodies with quoted values), skips <script>/<style> content and
comments, and entity-unescapes the remaining text (HtmlReader.java:195-217,
unescape :297-299). Golden: HtmlReaderTest.java:13-19.

Here: Python's html.parser does the same event-driven walk (stdlib, no deps);
the data-side entry point is a vectorized mapInPandas/pandas_udf wrapper —
tags never reach the JVM expression layer, so this stays an Arrow-batch
transform (document-prep, not a hot query path).

Html2Xml (S9, the DOM-building variant with attribute whitelists/px→em)
lives in :mod:`solrutils_spark.sources.html2xml`.
"""

from __future__ import annotations

from html import unescape
from html.parser import HTMLParser

from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf


class _TextExtractor(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.parts: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag, attrs):
        if tag in ("script", "style"):
            self._skip_depth += 1

    def handle_endtag(self, tag):
        if tag in ("script", "style") and self._skip_depth:
            self._skip_depth -= 1

    def handle_data(self, data):
        if not self._skip_depth:
            self.parts.append(data)


def html_to_text(html: str | None) -> str | None:
    """Pure-Python twin (query-compile / tests)."""
    if html is None:
        return None
    p = _TextExtractor()
    try:
        p.feed(html)
        p.close()
    except Exception:
        # tokenizer-level leniency: reference never raises on bad HTML
        return unescape(html)
    return "".join(p.parts)


def html_to_text_col(col: Column) -> Column:
    # UDF built lazily: pandas_udf parses its DDL against the active session
    @pandas_udf("string")
    def _udf(s):
        return s.map(html_to_text)

    return _udf(col)

