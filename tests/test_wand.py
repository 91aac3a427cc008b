"""WAND == exhaustive top-k (property test, SURVEY.md §5.5), the batch
scorer == exhaustive per query, + BM25 parity with the scalar oracle."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from search_engine_tr_spark.functions.codec import BLOCK_SIZE, encode_block
from search_engine_tr_spark.operators.wand import (
    batch_topk,
    exhaustive_topk,
    impacts_for,
    wand_topk,
)
from search_engine_tr_spark.oracle.refscore import bm25_idf, bm25_term


def _pack_term(postings, avgdl, idf):
    """postings: sorted [(doc, tf, dl)] → blocks [(max_doc, max_tfnorm, buf)]."""
    blocks = []
    for off in range(0, len(postings), BLOCK_SIZE):
        chunk = postings[off:off + BLOCK_SIZE]
        docs = np.array([d for d, _, _ in chunk], dtype=np.uint64)
        tfs = np.array([t for _, t, _ in chunk], dtype=np.uint64)
        dls = np.array([l for _, _, l in chunk], dtype=np.uint64)
        tfn = impacts_for(tfs, dls, 1.0, avgdl)  # idf=1 → pure tfnorm
        blocks.append((int(docs[-1]), float(tfn.max()),
                       encode_block(docs, tfs, dls)))
    return (idf, blocks)


@st.composite
def corpora(draw):
    n_docs = draw(st.integers(2, 60))
    n_terms = draw(st.integers(1, 5))
    dls = {d: draw(st.integers(1, 50)) for d in range(n_docs)}
    avgdl = sum(dls.values()) / n_docs
    terms = []
    for _ in range(n_terms):
        docs = sorted(draw(st.sets(st.integers(0, n_docs - 1), min_size=1)))
        postings = [(d, draw(st.integers(1, min(10, dls[d]))), dls[d]) for d in docs]
        df = len(docs)
        terms.append((postings, bm25_idf(n_docs, df)))
    k = draw(st.integers(1, 15))
    return terms, avgdl, k


@given(corpora())
@settings(max_examples=150, deadline=None)
def test_wand_equals_exhaustive(case):
    terms, avgdl, k = case
    packed = [_pack_term(p, avgdl, idf) for p, idf in terms]
    w = wand_topk(packed, k, avgdl)
    e = exhaustive_topk(packed, k, avgdl)
    assert w == e


def test_wand_matches_scalar_oracle_scores():
    # 3 docs, 2 terms; verify exact float parity with oracle.bm25_term
    dls = {0: 3, 1: 2, 2: 1}
    avgdl = 2.0
    n = 3
    t1 = [(0, 2, 3), (2, 1, 1)]   # term "a": df=2
    t2 = [(0, 1, 3), (1, 1, 2)]   # term "b": df=2
    idf = bm25_idf(n, 2)
    packed = [_pack_term(t1, avgdl, idf), _pack_term(t2, avgdl, idf)]
    top = wand_topk(packed, 3, avgdl)
    expected = {
        0: bm25_term(2, 3, avgdl, idf) + bm25_term(1, 3, avgdl, idf),
        1: bm25_term(1, 2, avgdl, idf),
        2: bm25_term(1, 1, avgdl, idf),
    }
    assert {d: s for d, s in top} == expected  # bit-identical float sums


def test_wand_multiblock_skipping():
    # >BLOCK_SIZE postings forces multiple blocks; k=1 exercises skips
    avgdl = 10.0
    postings = [(d, 1 + (d % 3), 10) for d in range(0, 1000, 2)]
    idf = bm25_idf(500, len(postings))
    packed = [_pack_term(postings, avgdl, idf)]
    w = wand_topk(packed, 5, avgdl)
    e = exhaustive_topk(packed, 5, avgdl)
    assert w == e and len(w) == 5


def test_empty_and_zero_k():
    assert wand_topk([], 10, 1.0) == []
    assert wand_topk([(1.0, [])], 10, 1.0) == []


def _batch_vs_exhaustive(terms, queries, avgdl, k, perm=None):
    """batch_topk over ``terms`` ([(postings, idf)], postings fed in
    ``perm`` order, idf per posting as the query path passes it) must equal
    exhaustive_topk per query, scores compared with ==."""
    rows = [(i, d, tf, dl, idf) for i, (p, idf) in enumerate(terms)
            for d, tf, dl in p]
    if perm is not None:
        rows = [rows[i] for i in perm]
    tid, docs, tfs, dls, idf = (np.array(c) for c in zip(*rows)) if rows \
        else (np.empty(0, dtype=np.int64),) * 5
    qi, d, s = batch_topk(tid.astype(np.int64), docs.astype(np.uint64),
                          impacts_for(tfs.astype(np.uint64),
                                      dls.astype(np.uint64),
                                      idf.astype(np.float64), avgdl),
                          queries, k)
    assert qi.tolist() == sorted(qi.tolist())
    out = []
    for q, ts in enumerate(queries):
        want = exhaustive_topk([_pack_term(terms[t][0], avgdl, terms[t][1])
                                for t in ts], k, avgdl)
        got = list(zip(d[qi == q].tolist(), s[qi == q].tolist()))
        assert got == want, (q, got, want)
        out.append(got)
    return out


@st.composite
def batches(draw):
    """Terms shared across queries, some with no postings; small tf/dl
    ranges, so equal impacts on several docs are common; doc ids from 0 or
    from 2^40; k from 1 to past every query's hits."""
    n_docs = draw(st.integers(2, 40))
    base = draw(st.sampled_from([0, 2**40]))
    dls = {d: draw(st.integers(1, 6)) for d in range(n_docs)}
    avgdl = sum(dls.values()) / n_docs
    terms = []
    for _ in range(draw(st.integers(1, 6))):
        docs = sorted(draw(st.sets(st.integers(0, n_docs - 1))))
        postings = [(base + d, draw(st.integers(1, min(3, dls[d]))), dls[d])
                    for d in docs]
        terms.append((postings, bm25_idf(n_docs, max(1, len(docs)))))
    queries = draw(st.lists(st.lists(st.integers(0, len(terms) - 1),
                                     unique=True, max_size=len(terms)),
                            min_size=1, max_size=6))
    perm = draw(st.permutations(range(sum(len(p) for p, _ in terms))))
    return terms, queries, avgdl, draw(st.integers(1, 2 * n_docs)), perm


@given(batches())
@settings(max_examples=150, deadline=None)
def test_batch_topk_equals_exhaustive_per_query(case):
    _batch_vs_exhaustive(*case)


def test_batch_topk_ties_shared_terms_and_empty_queries():
    """Twin docs tie on every term: k cuts inside the tie group and doc_id
    orders it; a shared term scores in both queries; a query whose only
    term has no postings, and one with no terms, return nothing; k past
    the hits returns them all."""
    base = 2**40
    twins = [(base + d, 2, 5) for d in range(8)]
    other = [(base + d, 1, 5) for d in range(4, 12)]
    terms = [(twins, 1.5), (other, 0.75), ([], 2.0)]
    queries = [[0], [1, 0], [2], [], [0, 1]]
    got = _batch_vs_exhaustive(terms, queries, 5.0, 3)
    assert [d for d, _ in got[0]] == [base, base + 1, base + 2]
    assert len({s for _, s in got[0]}) == 1
    assert got[2] == got[3] == []
    assert [d for d, _ in got[1]] == [d for d, _ in got[4]] == \
        [base + 4, base + 5, base + 6]
    wide = _batch_vs_exhaustive(terms, queries, 5.0, 100)
    assert len(wide[1]) == 12 and wide[2] == []
