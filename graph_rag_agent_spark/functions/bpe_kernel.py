"""Byte-pair-encoding merge learning over a word-frequency table — the
classic Sennrich et al. 2016 (arXiv:1508.07909) subword induction rule:
words are character sequences with a ``</w>`` end-of-word marker; each
round merges the most frequent adjacent symbol pair (ties broken by the
lexicographically smallest pair, so the whole procedure is deterministic).

This kernel is intentionally DRIVER-side and vocab-sized: every practical
BPE trainer (subword-nmt, SentencePiece, HuggingFace tokenizers) runs the
merge loop over the word-frequency table, which is vocabulary-sized
(10⁵-10⁷ rows after min-count thresholding), not corpus-sized. The
corpus-sized reduction to that table is the distributed part
(operators/curation.learn_bpe).
"""

from __future__ import annotations

from collections import Counter
from typing import Iterable, List, Tuple

END = "</w>"


def bpe_merges(
    word_counts: Iterable[Tuple[str, int]], n_merges: int
) -> List[Tuple[int, str, str, int]]:
    """→ [(rank, left, right, pair_count)]: the learned merge table, in
    merge order. Stops early when no adjacent pair remains (fully merged
    vocabulary)."""
    vocab: dict = {}
    for w, c in word_counts:
        if not w:
            continue
        vocab[tuple(list(w) + [END])] = vocab.get(tuple(list(w) + [END]), 0) + c
    merges: List[Tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        pairs: Counter = Counter()
        for sym, c in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        (left, right), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, left, right, cnt))
        merged = left + right
        out: dict = {}
        for sym, c in vocab.items():
            res = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == left and sym[i + 1] == right:
                    res.append(merged)
                    i += 2
                else:
                    res.append(sym[i])
                    i += 1
            key = tuple(res)
            out[key] = out.get(key, 0) + c
        vocab = out
    return merges

