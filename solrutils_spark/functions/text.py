"""C5/C19/C20 — query-char escaping, normalization, tag-id utilities.

Behavioral port of the reference's string utilities:
- :func:`escape_query_chars` — Lucene metachar escaping
  (Conversion.java:220-229 via Solr ClientUtils.escapeQueryChars; the escaped
  set is public Solr knowledge)
- :func:`normalize` — CRLF→LF + strip spaces around newlines (Util.java:452-457)
- :func:`create_valid_name` / :func:`to_tag_id` — tag-path normalization
  (Util.java:494-519; goldens from UtilTest.java:12-20)
"""

from __future__ import annotations

import re

# Solr ClientUtils.escapeQueryChars set: \ + - ! ( ) : ^ [ ] " { } ~ * ? | & ; / and whitespace
_ESCAPE_RE = re.compile(r'([\\+\-!():^\[\]"{}~*?|&;/]|\s)')

ILLEGAL_CHARS_RE = re.compile(r'[".%/\\:*?\[\]|\n\t\r ]|[\x7f-￿]')


def escape_query_chars(s: str) -> str:
    return _ESCAPE_RE.sub(r"\\\1", s)


def normalize(text: str, types: int = 1) -> str:
    if types & 1:
        text = text.strip()
        text = re.sub(r"\r\n?", "\n", text)
        text = re.sub(r"\n +", "\n", text)
        text = re.sub(r" +\n", "\n", text)
    return text


def create_valid_name(title: str) -> str:
    return ILLEGAL_CHARS_RE.sub("-", title.lower())


def to_tag_id(category: str, sep: str = ": ", join: str = "/") -> str:
    return join.join(create_valid_name(p) for p in re.split(sep, category))
