"""Block-max WAND top-k kernel over packed posting blocks (pure numpy).

Runs inside one doc-shard (one applyInPandas group): all query-term blocks
for that shard, doc-ordered. Exact top-k — property-tested against the
exhaustive scorer (SURVEY.md §5.5).

Impact = idf(term) * tfnorm(tf, dl) with BM25 tfnorm; blocks carry
``max_tfnorm`` so the block-level upper bound idf*max_tfnorm is exact.
Blocks are decoded lazily: WAND skips whole blocks whose summed upper
bounds cannot beat the current k-th score (the BMW shallow move).

Determinism: at evaluation, impacts are summed in query-term order, which
makes scores bit-identical to the scalar oracle (same IEEE op order).
"""

from __future__ import annotations

import heapq
import math

import numpy as np

from ..functions.codec import decode_block
from ..oracle.refscore import BM25_B, BM25_K1

_INF = np.iinfo(np.int64).max


def impacts_for(tfs: np.ndarray, dls: np.ndarray, idf: float, avgdl: float,
                k1: float = BM25_K1, b: float = BM25_B) -> np.ndarray:
    """Vectorized BM25 impacts — same expression shape as oracle.bm25_term."""
    tf = tfs.astype(np.float64)
    dl = dls.astype(np.float64)
    return idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))


class TermCursor:
    """Doc-ordered cursor over one term's blocks within a shard."""

    __slots__ = ("order", "idf", "avgdl", "blocks", "bi", "pi",
                 "docs", "impacts", "global_ub")

    def __init__(self, order: int, idf: float, avgdl: float,
                 blocks: list[tuple[int, float, bytes]]):
        # blocks: [(max_doc_id, max_tfnorm, buf)] in doc (block_no) order
        self.order = order
        self.idf = idf
        self.avgdl = avgdl
        self.blocks = blocks
        self.bi = 0
        self.pi = 0
        self.docs: np.ndarray | None = None
        self.impacts: np.ndarray | None = None
        self.global_ub = idf * max(b[1] for b in blocks)
        self._ensure()

    def _ensure(self) -> None:
        if self.docs is None and self.bi < len(self.blocks):
            _, _, buf = self.blocks[self.bi]
            ids, tfs, dls = decode_block(buf)
            self.docs = ids.astype(np.int64)
            self.impacts = impacts_for(tfs, dls, self.idf, self.avgdl)

    def exhausted(self) -> bool:
        return self.bi >= len(self.blocks)

    def doc(self) -> int:
        if self.exhausted():
            return _INF
        self._ensure()
        return int(self.docs[self.pi])

    def impact(self) -> float:
        return float(self.impacts[self.pi])

    def block_ub(self) -> float:
        if self.exhausted():
            return 0.0
        return self.idf * self.blocks[self.bi][1]

    def block_last_doc(self) -> int:
        if self.exhausted():
            return _INF
        return self.blocks[self.bi][0]

    def next_geq(self, target: int) -> None:
        """Advance to the first posting with doc >= target (skips blocks
        via max_doc_id without decoding them)."""
        if self.exhausted():
            return
        while self.bi < len(self.blocks) and self.blocks[self.bi][0] < target:
            self.bi += 1
            self.docs = None
            self.pi = 0
        if self.exhausted():
            return
        self._ensure()
        self.pi = int(np.searchsorted(self.docs, target, side="left")) \
            if self.pi == 0 else \
            self.pi + int(np.searchsorted(self.docs[self.pi:], target, side="left"))

    def advance(self) -> None:
        """Move one posting forward."""
        self.pi += 1
        if self.docs is not None and self.pi >= len(self.docs):
            self.bi += 1
            self.pi = 0
            self.docs = None
            self._ensure()

    def skip_block(self) -> None:
        """BMW shallow move: jump past the current block without decoding."""
        self.next_geq(self.block_last_doc() + 1)


def wand_topk(term_blocks: list[tuple[float, list[tuple[int, float, bytes]]]],
              k: int, avgdl: float) -> list[tuple[int, float]]:
    """Block-max WAND. term_blocks: per query term (in query order):
    (idf, [(max_doc_id, max_tfnorm, buf), ...]). → [(doc_id, score)] sorted
    by (-score, doc_id), length ≤ k.
    """
    cursors = [TermCursor(i, idf, avgdl, blocks)
               for i, (idf, blocks) in enumerate(term_blocks) if blocks]
    if not cursors or k <= 0:
        return []
    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap of top-k
    theta = -math.inf

    while True:
        live = [c for c in cursors if not c.exhausted()]
        if not live:
            break
        live.sort(key=lambda c: (c.doc(), c.order))
        # pivot: first cursor where cumulative global UBs can reach theta.
        # ">= theta" (not ">") keeps exact-tie candidates alive: a doc whose
        # score equals theta can still outrank heap[0] via the doc_id
        # tie-break; only UB-sum < theta is a safe prune.
        acc = 0.0
        pivot_idx = -1
        for i, c in enumerate(live):
            acc += c.global_ub
            if acc >= theta or len(heap) < k:
                pivot_idx = i
                break
        if pivot_idx < 0:
            break
        pivot_doc = live[pivot_idx].doc()
        if pivot_doc == _INF:
            break
        # all cursors that could contain the pivot doc (ties beyond pivot_idx)
        head = [c for c in live if c.doc() <= pivot_doc]
        if len(heap) >= k:
            # block-max refinement: sum of current block UBs over head
            block_acc = sum(c.block_ub() for c in head)
            if block_acc < theta:
                # cannot score within these blocks: shallow-skip the cursor
                # whose block ends first up to the earliest next boundary
                boundary = min(c.block_last_doc() for c in head)
                target = min(boundary + 1,
                             min((c.doc() for c in live
                                  if c.doc() > pivot_doc),
                                 default=boundary + 1))
                mover = min(head, key=lambda c: (c.block_last_doc(), c.order))
                mover.next_geq(max(target, mover.doc() + 1))
                continue
        if live[0].doc() == pivot_doc:
            # full evaluation — sum in query-term order for determinism
            score = 0.0
            for c in sorted(head, key=lambda c: c.order):
                if c.doc() == pivot_doc:
                    score += c.impact()
            entry = (score, -pivot_doc)
            if len(heap) < k:
                heapq.heappush(heap, entry)
            elif entry > heap[0]:
                heapq.heapreplace(heap, entry)
            if len(heap) >= k:
                theta = heap[0][0]
            for c in head:
                if c.doc() == pivot_doc:
                    c.advance()
        else:
            # advance pre-pivot cursors to the pivot
            for c in head[:-1]:
                if c.doc() < pivot_doc:
                    c.next_geq(pivot_doc)
    out = sorted(heap, key=lambda e: (-e[0], -e[1]))
    return [(-nd, s) for s, nd in out]


def exhaustive_topk(term_blocks: list[tuple[float, list[tuple[int, float, bytes]]]],
                    k: int, avgdl: float) -> list[tuple[int, float]]:
    """Decode everything, bincount-sum per doc (term order), exact top-k."""
    doc_parts, imp_parts = [], []
    for idf, blocks in term_blocks:
        for _, _, buf in blocks:
            ids, tfs, dls = decode_block(buf)
            doc_parts.append(ids.astype(np.int64))
            imp_parts.append(impacts_for(tfs, dls, idf, avgdl))
    if not doc_parts:
        return []
    docs = np.concatenate(doc_parts)
    imps = np.concatenate(imp_parts)
    uniq, inv = np.unique(docs, return_inverse=True)
    scores = np.zeros(len(uniq))
    np.add.at(scores, inv, imps)
    # exact total order (-score, doc_id): lexsort's last key is primary;
    # uniq is already ascending so equal scores break ties by doc_id
    order = np.lexsort((uniq, -scores))[:k]
    return [(int(uniq[i]), float(scores[i])) for i in order]


def batch_topk(term_ids: np.ndarray, docs: np.ndarray, impacts: np.ndarray,
               queries: list[list[int]], k: int
               ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Exact top-k of MANY queries in one vectorized pass over their terms'
    postings, each posting decoded and weighed once for the whole batch.

    ``term_ids[i]``, ``docs[i]``, ``impacts[i]``: posting i's term index,
    doc id and impact; ``queries[q]``: query q's term indices in query-term
    order. → (query index, doc_id, score) arrays ordered by query asc, then
    (score desc, doc_id asc), ≤ k rows per query: per query what
    ``exhaustive_topk`` returns, scores bit-identical — every (query, doc)
    group is summed in query-term order, the oracle's IEEE order. Groups
    are keyed by (query, doc) pairs, never by one combined integer, which
    would overflow int64 at 10^12 doc ids."""
    docs = np.asarray(docs, dtype=np.int64)
    # expand every (query, term) pair to its postings, in query-term order
    pair_q = np.array([q for q, ts in enumerate(queries) for _ in ts],
                      dtype=np.int64)
    pair_t = np.array([t for ts in queries for t in ts], dtype=np.int64)
    by_term = np.argsort(term_ids, kind="stable")
    counts = np.bincount(term_ids, minlength=pair_t.max(initial=-1) + 1)
    first = np.cumsum(counts) - counts
    lens = counts[pair_t]
    rows = by_term[np.repeat(first[pair_t] - (np.cumsum(lens) - lens), lens)
                   + np.arange(int(lens.sum()))]
    q, d, imp = np.repeat(pair_q, lens), docs[rows], impacts[rows]
    # stable: a (query, doc) group keeps its rows in query-term order, and
    # np.add.at adds them in that order
    order = np.lexsort((d, q))
    q, d, imp = q[order], d[order], imp[order]
    new = np.ones(len(q), dtype=bool)
    new[1:] = (q[1:] != q[:-1]) | (d[1:] != d[:-1])
    gid = np.cumsum(new) - 1
    scores = np.zeros(int(new.sum()))
    np.add.at(scores, gid, imp)
    q, d = q[new], d[new]
    order = np.lexsort((d, -scores, q))
    q, d, scores = q[order], d[order], scores[order]
    keep = np.arange(len(q)) - np.searchsorted(q, q) < k
    return q[keep], d[keep], scores[keep]
