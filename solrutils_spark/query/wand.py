"""E5 — block-max TAAT top-k kernels (numpy, prune-only ⇒ rank-identical).

The reference's ranked retrieval is Lucene's BooleanQuery + BM25 TopDocs
collector with block-max WAND skipping (Lucene 8 BMW / the public block-max
WAND literature). :func:`topk_rows` is the vectorized term-at-a-time variant
and the engine's one pruned disjunctive kernel:

- terms are processed rare→hot (df ascending) into a dense accumulator
  indexed by doc_id — no Python per-posting loops;
- before decoding a block of term *t* we check the certificate::

      max(best accumulated score inside the block's doc range, 0)
        + block_upper_bound(t)                      ← from block_max_tf/min_dl
        + Σ upper bounds of not-yet-processed terms
      < θ   (θ = current k-th best accumulated score)

  Any doc in a skipped block finishes strictly below θ, and θ can only grow
  toward the true k-th final score — so skipping never changes the top-k set,
  scores, or tie-breaks (exactness guard; pinned by tests/test_index_engine.py
  ``test_wand_rank_identical`` / ``test_wand_equals_exhaustive`` comparing
  against exhaustive scoring on every reference query).

Both kernels take one input format: a sequence of posting-row records
(pandas ``itertuples`` rows or the engine's ``_PostingRow``).
``search_local`` hands :func:`topk_rows` every salt's rows at once (one
shared θ); the distributed path calls it once per salt slice inside
``applyInPandas`` — slices are independent doc_id ranges, so top-k is
embarrassingly parallel and only len(slices)·k candidate rows are merged.
:func:`topk_slice_batch` scores many queries over one slice from a shared
decode and is deliberately exhaustive.
"""

from __future__ import annotations

import numpy as np

from solrutils_spark.functions.analyzer import B, K1
from solrutils_spark.index.codec import BLOCK, decode_blocks_many, decode_run

_EMPTY = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))


# test-visible instrumentation: how many times a kernel switched into
# MaxScore lookup mode this process (one increment per switch, off the
# per-block hot path). Tests pin that the skewed-query fixture actually
# exercises the lookup branch, not just that results stay identical.
KERNEL_STATS = {"lookup_on": 0}


def _tf_norm_bound(max_tf: np.ndarray, min_dl: np.ndarray, avgdl: float) -> np.ndarray:
    mt = max_tf.astype(np.float64)
    return mt / (mt + K1 * (1.0 - B + B * min_dl.astype(np.float64) / avgdl))


def _bm25(idf: float, tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    tfv = tf.astype(np.float64)
    return idf * tfv / (tfv + K1 * (1.0 - B + B * dl.astype(np.float64) / avgdl))


def isin_sorted(ids: np.ndarray, d: np.ndarray) -> np.ndarray:
    """Mask of the entries of ``d`` present in the sorted array ``ids``."""
    if ids.size == 0:
        return np.zeros(d.size, dtype=bool)
    pos = np.minimum(np.searchsorted(ids, d), ids.size - 1)
    return ids[pos] == d


def _range_max(values: np.ndarray, left: np.ndarray, right: np.ndarray) -> np.ndarray:
    """max(values[left_i:right_i]) per range, 0.0 for empty ranges — one
    ``maximum.reduceat`` instead of a Python loop per block (left/right are
    non-decreasing because block doc-ranges ascend and values' keys are sorted).

    No padding copy: ``reduceat`` needs indices < size, so boundaries at
    ``size`` are clamped to ``size - 1`` (the segment loses its last element)
    and patched with ``values[-1]`` afterwards. The old ``np.append`` pad
    copied the WHOLE accumulator per call — profiled at ~8% of serving p50
    at 1M docs (3,952 calls x O(acc) copies)."""
    out = np.zeros(left.size, dtype=np.float64)
    size = values.size
    # left >= size would alias to values[size-1] after the clamp below — such
    # segments lie entirely past the array and must stay 0 (latent-caller
    # guard; current callers always have right <= size)
    valid = (right > left) & (left < size)
    if not valid.any() or size == 0:
        return out
    idx = np.empty(2 * left.size, dtype=np.int64)
    np.minimum(left, size - 1, out=idx[0::2], casting="unsafe")
    np.minimum(right, size - 1, out=idx[1::2], casting="unsafe")
    red = np.maximum.reduceat(values, idx)[0::2]
    tail = valid & (right >= size)
    if tail.any():
        red = np.where(tail, np.maximum(red, values[-1]), red)
    out[valid] = red[valid]
    return out


def _dense_topk(scores: np.ndarray, k: int) -> np.ndarray:
    """Exact top-k over a dense score array: indices of the k largest
    positive entries, (score desc, doc asc) order, ties at the k-th value
    broken by ascending doc id. O(n + k log k) — no full sort."""
    touched = np.flatnonzero(scores)  # ascending doc ids; BM25 scores are > 0
    vals = scores[touched]
    T = touched.size
    if T <= k:
        return touched[np.lexsort((touched, -vals))]
    kth = np.partition(vals, T - k)[T - k]
    above = np.flatnonzero(vals > kth)
    eq = np.flatnonzero(vals == kth)[: k - above.size]  # doc-asc ties
    idx = np.concatenate([above, eq])
    return touched[idx[np.lexsort((touched[idx], -vals[idx]))]]


def topk_rows(
    term_rows,
    idf_by_term: dict[str, float],
    avgdl: float,
    k: int,
    use_wand: bool = True,
    allowed_docs: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Disjunctive BM25 top-k over posting-row records → (doc_ids, scores),
    tie-broken (score desc, doc_id asc).

    ``term_rows``: posting-row records exposing the index columns as
    attributes — one salt slice's rows (distributed path) or every salt's
    rows of the query terms (``search_local``, where the records
    come straight from the pyarrow table: round-2 profiling showed the
    pandas conversion + traversal was ~45% of serving latency). A doc
    appears in exactly one salt row per term (disjoint doc ranges), so the
    skip certificate holds row-by-row with ONE accumulator and ONE θ shared
    across all the rows given — prune-only, rank-identical.

    ``use_wand=False`` keeps θ at −∞, so no block is ever skipped: the
    exhaustive reference the equality tests compare against.

    ``allowed_docs``: optional sorted int64 array — P2 filter semantics
    (restricts candidates, never contributes to score;
    BulkUpdateHandler.java:59 ``setIsFilter(true)``). Pruning STAYS enabled:
    decoded postings are intersected with ``allowed_docs`` before they reach
    the accumulator, so θ is the k-th best score over allowed docs only,
    while block upper bounds remain valid for any doc — rank-identical to
    exhaustive-over-the-filtered-domain (pinned by
    test_index_engine.py::test_filtered_wand_prunes_exactly).
    """
    rows = sorted(term_rows, key=lambda r: (r.term, r.salt))
    if not rows:
        return _EMPTY
    # per-term max upper bound across its rows (sound: a doc sees one row/term)
    term_ub: dict[str, float] = {}
    df_by_term: dict[str, int] = {}
    rows_by_term: dict[str, list] = {}
    for row in rows:
        idf = idf_by_term[row.term]
        bb = _tf_norm_bound(np.asarray(row.block_max_tf), np.asarray(row.block_min_dl), avgdl)
        ub = float(idf * bb.max()) if len(bb) else 0.0
        term_ub[row.term] = max(term_ub.get(row.term, 0.0), ub)
        # processing order: terms by df asc (global df = sum df_part)
        df_by_term[row.term] = df_by_term.get(row.term, 0) + int(row.df_part)
        rows_by_term.setdefault(row.term, []).append(row)
    terms_sorted = sorted(term_ub, key=lambda t: (df_by_term[t], t))
    remaining_after = {}
    acc_ub = 0.0
    for t in reversed(terms_sorted):
        remaining_after[t] = acc_ub
        acc_ub += term_ub[t]

    def restrict(d: np.ndarray, s: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        if allowed_docs is None:
            return d, s
        ok = isin_sorted(allowed_docs, d)
        return d[ok], s[ok]

    if len(terms_sorted) == 1 and use_wand:
        # single-term fast path: a doc's final score is exactly idf·tf_norm,
        # bounded above by its block bound — process blocks in DESCENDING
        # bound order and stop once the next bound can't beat the k-th score.
        # Exact (scores computed, never estimated); hot single-term queries
        # decode a handful of blocks instead of the full posting list.
        t = terms_sorted[0]
        idf = idf_by_term[t]
        blocks = []  # (bound, row_idx, block_idx)
        row_data = []
        for ri, row in enumerate(rows_by_term[t]):
            block_ub = idf * _tf_norm_bound(
                np.asarray(row.block_max_tf), np.asarray(row.block_min_dl), avgdl
            )
            block_last = np.asarray(row.block_last, dtype=np.int64)
            block_offset = np.asarray(row.block_offset, dtype=np.int32)
            prev_lasts = np.empty(len(block_offset), dtype=np.int64)
            prev_lasts[0] = int(row.first_doc) - 1
            prev_lasts[1:] = block_last[:-1]
            row_data.append(
                (np.frombuffer(row.payload, dtype=np.uint8), int(row.df_part),
                 block_offset, prev_lasts)
            )
            for bi, ub in enumerate(block_ub):
                blocks.append((float(ub), ri, bi))
        blocks.sort(key=lambda x: -x[0])  # stable: flat bounds keep file order
        # spiky-vs-flat dispatch: descending-bound early termination only pays
        # when a few blocks dominate (otherwise it fragments decode into
        # single blocks). Flat lists decode each row in ONE run + one global
        # top-k selection — bandwidth-bound, no per-block python.
        probe = min(len(blocks) - 1, max(8, 4 * ((k + BLOCK - 1) // BLOCK)))
        spiky = len(blocks) > 16 and blocks[0][0] > 1.02 * blocks[probe][0]
        if not spiky:
            # flat list: bulk-decode EVERY row in one call (contiguous-run
            # fast path inside decode_blocks_many) + one global selection
            docs1, tf1, dl1 = decode_blocks_many([
                (payload, n, block_offset, np.arange(len(block_offset)), prev_lasts)
                for payload, n, block_offset, prev_lasts in row_data
            ])
            docs1, scores1 = restrict(docs1, _bm25(idf, tf1, dl1, avgdl))
            sel = np.lexsort((docs1, -scores1))[: min(k, docs1.size)]
            return docs1[sel], scores1[sel]
        # chunked descending-bound scan with a running top-k buffer:
        # merges are O(k + chunk) — never O(all decoded)
        CHUNK = 256
        top_d = np.empty(0, dtype=np.int64)
        top_s = np.empty(0, dtype=np.float64)
        theta1 = -np.inf
        for c0 in range(0, len(blocks), CHUNK):
            chunk = blocks[c0 : c0 + CHUNK]
            if np.isfinite(theta1) and top_d.size >= k and chunk[0][0] < theta1:
                break
            # group the chunk's blocks per row, decode ALL rows in one call
            by_row: dict[int, list[int]] = {}
            for _ub, ri, bi in chunk:
                by_row.setdefault(ri, []).append(bi)
            d, tf, dl = decode_blocks_many([
                (row_data[ri][0], row_data[ri][1], row_data[ri][2],
                 np.unique(np.asarray(bis)), row_data[ri][3])
                for ri, bis in by_row.items()
            ])
            d, cs = restrict(d, _bm25(idf, tf, dl, avgdl))
            md = np.concatenate([top_d, d])
            ms = np.concatenate([top_s, cs])
            sel = np.lexsort((md, -ms))[: min(k, md.size)]
            top_d, top_s = md[sel], ms[sel]
            if top_d.size >= k:
                theta1 = top_s[-1]
        return top_d, top_s

    # DENSE accumulator (round 4): doc ids are dense by construction, so a
    # per-query float64 array over [min first_doc, max block_last] of the
    # rows replaces the per-term argsort-mergesort/add.reduceat merge
    # (profiled ~35% of serving p50 at 1M docs). Per term: scores[d] +=
    # idf·tf_norm — fancy-index += is exact because a doc appears at most
    # once per term; contributions still add in the SAME term order (df asc,
    # term asc), so floating-point results are bit-identical to the
    # sorted-merge accumulator it replaces. The block certificate becomes
    # maximum.reduceat over the dense array's block ranges (zeros ≡ "no
    # accumulated score", same semantics).
    #
    # MaxScore essential-terms cutoff (round 5): once θ STRICTLY exceeds
    # ub(t) + Σ ub(remaining terms), a doc touched by NO processed term has
    # final score ≤ that sum < θ ≤ true k-th score — it can't make top-k
    # under any tie-break. From that term on the kernel runs in LOOKUP mode:
    # only blocks containing an already-touched doc decode (hot tail terms
    # skip most of their blocks — decode bandwidth is the serving path's
    # measured binding cost), and adds land only on touched docs. Touched
    # docs receive every contribution in the same order, so returned scores
    # stay bit-identical to exhaustive (prune-only; pinned by the parity +
    # fuzz suites). This buys most of what impact-ordered postings would,
    # without re-encoding the doc-ordered delta layout or perturbing float
    # summation order.
    base = min(int(row.first_doc) for row in rows)
    hi = max(int(row.block_last[-1]) for row in rows)
    scores = np.zeros(hi - base + 1, dtype=np.float64)
    theta = -np.inf  # stays −∞ without use_wand: nothing is ever skipped
    # sorted unique touched doc ids, base-shifted: θ refresh is
    # O(|touched|) over scores[touched] (not a scan of the whole array once
    # per term), and lookup mode needs the id list anyway
    touched = np.empty(0, dtype=np.int64)
    lookup = False

    for t in terms_sorted:
        idf = idf_by_term[t]
        rem = remaining_after[t]
        if not lookup and np.isfinite(theta) and theta > term_ub[t] + rem:
            lookup = True  # θ only grows, rem only shrinks — stays on
            KERNEL_STATS["lookup_on"] += 1
        # a doc appears in exactly one salt row of term t, so all of t's rows
        # decode against the SAME accumulator snapshot (their doc ranges are
        # disjoint — the certificate never sees a same-term update); the
        # certificate is evaluated per row BEFORE this term's adds land, and
        # all kept blocks of ALL rows decode in ONE decode_blocks_many call
        # (amortizes the decoder's per-call fixed costs across the salts)
        parts = []
        for row in rows_by_term[t]:
            payload = np.frombuffer(row.payload, dtype=np.uint8)
            block_offset = np.asarray(row.block_offset, dtype=np.int32)
            block_last = np.asarray(row.block_last, dtype=np.int64)
            n = int(row.df_part)
            n_blocks = len(block_offset)
            prev_lasts = np.empty(n_blocks, dtype=np.int64)
            prev_lasts[0] = int(row.first_doc) - 1
            prev_lasts[1:] = block_last[:-1]

            if np.isfinite(theta):  # always true in lookup mode
                lo, hi_b = prev_lasts + 1 - base, block_last + 1 - base
                block_ub = idf * _tf_norm_bound(
                    np.asarray(row.block_max_tf), np.asarray(row.block_min_dl), avgdl
                )
                keep = _range_max(scores, lo, hi_b) + block_ub + rem >= theta
                if lookup:
                    # only blocks holding ≥1 touched doc can contribute
                    keep &= (np.searchsorted(touched, hi_b, side="left")
                             > np.searchsorted(touched, lo, side="left"))
            else:
                keep = np.ones(n_blocks, dtype=bool)

            kept = np.flatnonzero(keep)
            if kept.size == 0:
                continue
            parts.append((payload, n, block_offset, kept, prev_lasts))
        if not parts:
            continue
        d, tf, dl = decode_blocks_many(parts)
        d, nc = restrict(d, _bm25(idf, tf, dl, avgdl))
        d = d - base
        if lookup:
            ok = isin_sorted(touched, d)
            d, nc = d[ok], nc[ok]
        if d.size == 0:
            continue
        scores[d] += nc  # unique indices within a term: exact
        if not lookup:
            # d is ascending (salt rows ascend, blocks ascend) and unique
            # within the term — one merge keeps `touched` sorted-unique
            touched = d if touched.size == 0 else np.union1d(touched, d)
        if use_wand and touched.size >= k:
            tv = scores[touched]
            theta = np.partition(tv, tv.size - k)[tv.size - k]

    sel = _dense_topk(scores, k)
    return sel + base, scores[sel]


def topk_slice_batch(
    term_rows,
    plans: list[tuple[int, dict[str, float], int]],
    avgdl: float,
    allowed_docs: np.ndarray | None = None,
) -> list[tuple[int, np.ndarray, np.ndarray]]:
    """Many-queries-one-slice kernel: decode every candidate row ONCE, then
    score all queries from the decoded arrays. A Zipf-hot term shared by most
    of the batch decodes once instead of once per query — decode is the batch
    path's dominant cost. ``term_rows``: one salt slice's posting-row records
    (the same input format as :func:`topk_rows`).

    Accumulation is exhaustive with the SAME term order as :func:`topk_rows`
    (df_part asc, term asc), and WAND is prune-exact, so results are rank-
    identical to calling ``topk_rows`` per query (pinned by
    test_search_batch_rank_identical). Scores agree to rounding only: this
    kernel factors idf out of the shared tf-normalization. Returns
    [(query_id, doc_ids, scores)] for queries with ≥1 live term.

    ``allowed_docs``: optional sorted int64 array — P2 filter semantics shared
    by the WHOLE batch (restricts candidates, never contributes to score).
    The intersection happens ONCE per decoded term, not per query — the
    filtered offline-eval shape. Rank-identical to per-query
    ``topk_rows(..., allowed_docs=...)`` (pinned by
    test_search_batch_filtered_rank_identical).
    """
    decoded: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    dfp: dict[str, int] = {}
    for row in term_rows:
        payload = np.frombuffer(row.payload, dtype=np.uint8)
        block_offset = np.asarray(row.block_offset, dtype=np.int32)
        d, tf, dl = decode_run(
            payload, int(row.df_part), block_offset, 0, len(block_offset), 0
        )
        if allowed_docs is not None:
            ok = isin_sorted(allowed_docs, d)
            d, tf, dl = d[ok], tf[ok], dl[ok]
        tfv = tf.astype(np.float64)
        tfn = tfv / (tfv + K1 * (1.0 - B + B * dl.astype(np.float64) / avgdl))
        decoded[row.term] = (d, tfn)
        dfp[row.term] = int(row.df_part)

    # dense per-query accumulator over the slice's doc range (round 4): a
    # base-shifted float64 array replaces the per-term argsort-mergesort
    # merge; adds land in the same term order → identical floats. The span
    # is one salt slice (~n_docs/num_salts), so the array is small and the
    # per-query alloc trivial next to the shared decode above.
    base = hi = None
    for t, (d, tfn) in decoded.items():
        if d.size:
            base = int(d[0]) if base is None else min(base, int(d[0]))
            hi = int(d[-1]) if hi is None else max(hi, int(d[-1]))
    out = []
    if base is None:
        return out
    span = hi - base + 1
    # pre-shift doc ids once per term (shared across the whole batch)
    dloc_by_term = {t: d - base for t, (d, tfn) in decoded.items() if d.size}
    for qid, idf_by_term, k in plans:
        terms = sorted(
            (t for t in idf_by_term if t in dloc_by_term), key=lambda t: (dfp[t], t)
        )
        if not terms:
            continue
        # Deliberately EXHAUSTIVE — no MaxScore here. The decode above is
        # shared across the batch, so the per-query marginal cost is just
        # the vectorized scatter-add (~1-2 ops/posting, memory-bound). A
        # round-5 experiment added the same θ-cutoff the serving kernels
        # use; at 1M docs (15.6k-doc slices) the per-term O(span)
        # ``scores > 0`` θ refresh DOUBLED the measured marginal cost
        # (5.84 → 12.5 ms/query, BENCH/SERVING_PROBE_run3 vs the r5 rerun)
        # because there is no decode left to skip — MaxScore only pays when
        # it gates decode (topk_rows, where it stays).
        scores = np.zeros(span, dtype=np.float64)
        touched = 0
        for t in terms:
            dloc = dloc_by_term[t]
            _, tfn = decoded[t]
            scores[dloc] += idf_by_term[t] * tfn  # unique per term: exact
            touched += dloc.size
        if touched == 0:
            continue
        sel = _dense_topk(scores, k)
        out.append((qid, sel + base, scores[sel]))
    return out
