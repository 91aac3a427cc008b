"""Seeded query streams for the serve workloads.

Every query is a plain string built from the corpus vocabulary of the same
seed (``sources.synth.build_vocab``), with words drawn by the corpus
generator's own Zipf weights (``sources.synth._zipf_weights``), so the
engine sees only generated inputs. There is no query log to take shares
from, so the reference query set (``sources.synth.reference_queries``)
stands in for one: each of its queries is a *shape* (word count, case,
trailing punctuation, repeated words, words outside the vocabulary), and
generated queries copy these shapes, each equally often.
The degenerate forms therefore come in the reference set's own
proportions. Two streams:

- ``zipf_stream``: what one interactive user types; words from the whole
  vocabulary (head terms repeat, which is what the reader's per-term memo
  is for). Shapes come in rounds that hold each reference shape once, in a
  seeded order, so a run of a few queries already has close to the
  reference mix (one no-hit query costs several hit queries).
- ``distinct_batch``: a throughput batch of distinct queries with the
  reference set's word counts, words from the vocabulary below its head
  (the terms a warm reader has memoized) and none that the query path
  folds, so each query reaches term lookup, block decode and the kernel.
"""

from __future__ import annotations

import random
import string

from search_engine_tr_spark.sources.synth import _zipf_weights

# the query path folds these letters (``kapı`` → ``kapi``) while the index
# keeps them, so a vocabulary word holding one never matches
FOLDED = frozenset("ığşİĞŞ")

_TR_LOWER = str.maketrans("İI", "iı")
_TR_UPPER = str.maketrans("iı", "İI")


def query_shapes(reference: list[str], vocab: list[str]) -> list[list[tuple]]:
    """Each reference query as word slots ``(source, case, suffix)``:
    source is ``"draw"`` for a vocabulary word, ``("repeat", i)`` for a
    repeat of slot i, or ``("nohit", length)`` for a word outside the
    vocabulary; case is ``upper``, ``title`` or ``lower``; suffix is the
    word's trailing punctuation."""
    known = set(vocab)
    shapes = []
    for q in reference:
        slots, lows = [], []
        for tok in q.split():
            word = tok.rstrip(string.punctuation)
            low = word.translate(_TR_LOWER).lower()
            source = (("repeat", lows.index(low)) if low in lows
                      else "draw" if low in known else ("nohit", len(word)))
            case = ("upper" if len(word) > 1 and word.isupper()
                    else "title" if word[:1].isupper() else "lower")
            slots.append((source, case, tok[len(word):]))
            lows.append(low)
        shapes.append(slots)
    return shapes


def _fill(shape, rng: random.Random, vocab: list[str],
          weights: list[float]) -> str:
    words = []
    for source, case, suffix in shape:
        if source == "draw":
            w = rng.choices(vocab, weights=weights)[0]
        elif source[0] == "repeat":
            w = words[source[1]].lower()
        else:   # a word no page holds
            w = "".join(rng.choice("qxzjw") for _ in range(source[1]))
        if case == "upper":
            w = w.translate(_TR_UPPER).upper()   # Turkish: izmir → İZMİR
        elif case == "title":
            w = w.capitalize()
        words.append(w)
    return " ".join(w + suffix for w, (_, _, suffix) in zip(words, shape))


def zipf_stream(seed: int, vocab: list[str], reference: list[str]):
    """Endless seeded stream of interactive queries (a generator)."""
    rng = random.Random(seed * 1_000_003 + 1)
    weights = _zipf_weights(len(vocab))
    shapes = query_shapes(reference, vocab)
    while True:
        for shape in rng.sample(shapes, len(shapes)):
            yield _fill(shape, rng, vocab, weights)


def distinct_batch(seed: int, batch_no: int, vocab: list[str],
                   reference: list[str], size: int, head: int) -> list[str]:
    """``size`` distinct queries with the word counts of the reference set,
    words drawn with the corpus's Zipf weights from vocab[head:]; words the
    query path folds are left out."""
    weighted = zip(vocab, _zipf_weights(len(vocab)))
    tail = [(w, p) for i, (w, p) in enumerate(weighted)
            if i >= head and not FOLDED & set(w)]
    words, weights = [w for w, _ in tail], [p for _, p in tail]
    counts = [len(q.split()) for q in reference]
    rng = random.Random(seed * 1_000_003 + 7919 * (batch_no + 1))
    out: dict[str, None] = {}
    while len(out) < size:
        out[" ".join(rng.choices(words, weights=weights,
                                 k=rng.choice(counts)))] = None
    return list(out)
