"""A10 — global BM25 statistics: N, avgdl and the idf of a term's df.

Lucene maintains these inside each segment + merged reader; the reference
depends on them implicitly through BM25 (pom.xml:36-40). The exact path
collects N, avgdl and the query's dfs in one aggregate
(:func:`solrutils_spark.query.exact.exact_index`).
"""

from __future__ import annotations

import math
from dataclasses import dataclass


@dataclass(frozen=True)
class CorpusStats:
    n_docs: int
    avgdl: float

    def idf(self, df: int) -> float:
        return math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))
