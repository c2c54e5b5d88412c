"""S3 — XML ingest with XSLT-style transform (XsltUpdateHandler.java:97-246 twin).

Reference lifecycle: receive XML docs, apply a compiled XSLT Templates object
(cached at init, :63-66,114-136), sniff charset from BOM/XML prolog
(:200-246), optionally retain the raw XML in a field (:156-195), feed the
update-processor chain.

Spark shape: XML bytes are decoded with charset sniffing; the transform
is a user-supplied function applied in ``mapInPandas`` (XSLT itself needs
``lxml``, which is not in this container — the transform hook is gated behind
an import-try and raises a clear error if real XSLT is requested without lxml).
Raw-XML retention = keeping the source column (the ``content`` invariant).
"""

from __future__ import annotations

import codecs
import re
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

_PROLOG_RE = re.compile(rb'<\?xml[^>]*encoding=["\']([A-Za-z0-9._-]+)["\']')

_BOMS = [
    (codecs.BOM_UTF8, "utf-8"),
    (codecs.BOM_UTF32_LE, "utf-32-le"),
    (codecs.BOM_UTF32_BE, "utf-32-be"),
    (codecs.BOM_UTF16_LE, "utf-16-le"),
    (codecs.BOM_UTF16_BE, "utf-16-be"),
]


def sniff_charset(data: bytes, default: str = "utf-8") -> str:
    """BOM then XML-prolog sniffing (XsltUpdateHandler.java:200-246)."""
    for bom, enc in _BOMS:
        if data.startswith(bom):
            return enc
    m = _PROLOG_RE.search(data[:256])
    if m:
        return m.group(1).decode("ascii").lower()
    return default


def decode_xml_bytes(data: bytes) -> str:
    enc = sniff_charset(data)
    for bom, _ in _BOMS:
        if data.startswith(bom):
            data = data[len(bom):]
            break
    return data.decode(enc, errors="replace")


def make_xslt_transform(
    xslt_source: str,
    resolver: Callable[[str], str] | None = None,
) -> Callable[[str], str]:
    """Compile XSLT once (Templates-cache semantics, XsltUpdateHandler.java:
    114-136) → per-doc transform fn.

    Engine selection: full XSLT via lxml when available; otherwise the
    pure-Python :mod:`~solrutils_spark.sources.minixslt` SUBSET interpreter
    (covers the map-XML-to-Solr-doc stylesheets this handler exists for;
    unsupported constructs raise ``UnsupportedXsltError`` loudly rather than
    producing a silently wrong document).

    ``resolver``: optional ``href → stylesheet-source`` callback serving
    ``xsl:include`` / ``xsl:import`` (the JAXP handler resolves hrefs from
    the config dir; on a cluster, hrefs typically come from a dict shipped
    with the job). Without it, those instructions raise loudly.
    """
    try:
        from lxml import etree  # noqa: PLC0415

        parser = etree.XMLParser()
        if resolver is not None:
            class _R(etree.Resolver):
                def resolve(self, url, pubid, context):  # noqa: ANN001
                    return self.resolve_string(resolver(url), context)

            parser.resolvers.add(_R())
        transform = etree.XSLT(etree.fromstring(xslt_source.encode(), parser))

        def apply(xml: str) -> str:
            return str(transform(etree.fromstring(xml.encode())))

        return apply
    except ImportError:  # container has no lxml → subset interpreter
        from solrutils_spark.sources.minixslt import MiniXSLT

        return MiniXSLT(xslt_source, resolver=resolver)


def transform_xml(
    df: DataFrame,
    transform: Callable[[str], str],
    xml_col: str = "xml",
    out_col: str = "doc",
    keep_raw: bool = True,
) -> DataFrame:
    """Apply the (XSLT-style) transform over Arrow batches; keep raw XML when
    ``keep_raw`` (the reference's store-raw-XML option, :156-195)."""
    schema_fields = [f"{c} string" for c in df.columns] if keep_raw else [f"{xml_col} string"]
    schema = ", ".join([*schema_fields, f"{out_col} string"])
    cols = df.columns

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf[out_col] = pdf[xml_col].map(transform)
            yield pdf[[*(cols if keep_raw else [xml_col]), out_col]]

    return df.mapInPandas(gen, schema)
