"""KenLM-style character n-gram perplexity, vectorized with numpy.

A character-bigram language model with add-one smoothing, trained at import
time on a small embedded seed corpus (deterministic — no I/O, no randomness).
Scoring is fully vectorized: the whole Arrow batch becomes one codepoint
array (``masks.flat_codes``), per-pair log-probs are gathered from the
129×129 table, and per-row means come from the shared segmented reduce
(``quality._rowwise_sum``) over row offsets — zero per-row Python.

Perplexity = exp(−mean log₂... we use natural log: exp(−mean ln p)).  Gibberish
(uniform byte soup) scores ≫ natural language; the quality filter thresholds
on this.  The model is shipped to executors by closure capture of the table
(a 129×129 float64 array, ~133 KB — broadcast-friendly).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# Embedded seed corpus: plain public-domain-style English prose written for
# this project. Enough to separate language from noise; NOT a quality LM.
_SEED_CORPUS = """
the quick brown fox jumps over the lazy dog and runs across the open field
data processing at scale requires careful attention to partitioning and order
the history of science is the history of careful measurement and honest doubt
please let me know if you have any questions about the report attached below
in the morning the sun rose over the hills and the valley filled with light
a distributed system is one in which the failure of a computer you did not
know existed can render your own computer unusable said leslie lamport once
we hold these truths to be self evident that all men are created equal and
it was the best of times it was the worst of times it was the age of wisdom
call me ishmael some years ago never mind how long precisely having little
money in my purse and nothing particular to interest me on shore i thought
the customer asked whether the order had shipped and the agent replied that
the package would arrive within three business days barring customs delays
thank you for contacting support how can i help you today is there anything
else i can do for you have a wonderful rest of your day and take care now
""".strip()

_VOCAB = 128  # ASCII; everything else buckets to index 128
_DIM = _VOCAB + 1


def _train_table(corpus: str) -> np.ndarray:
    codes = np.frombuffer(corpus.lower().encode("utf-32-le"), dtype=np.uint32)
    codes = np.minimum(codes, _VOCAB).astype(np.int64)
    counts = np.ones((_DIM, _DIM), dtype=np.float64)  # add-one smoothing
    np.add.at(counts, (codes[:-1], codes[1:]), 1.0)
    probs = counts / counts.sum(axis=1, keepdims=True)
    return np.log(probs)


_LOGP = _train_table(_SEED_CORPUS)


CAP_CHARS = 4096  # perplexity from a prefix; bounds cost on huge turns


def perplexity(texts: pd.Series) -> pd.Series:
    """Series[str] → Series[float64] char-bigram perplexity (vectorized).

    Only the first CAP_CHARS characters are scored (frozen contract shared
    with the reference pipeline)."""
    from .masks import flat_codes
    from .quality import _rowwise_sum

    t = texts.fillna("").str.slice(0, CAP_CHARS).str.lower()
    codes, starts, lens = flat_codes(t)
    codes = np.minimum(codes, _VOCAB).astype(np.int64)
    # pair i = (codes[i], codes[i+1]); zero the one pair per row that
    # straddles into the next row
    lp = _LOGP[codes[:-1], codes[1:]]
    ends = starts + lens
    lp[ends[(lens > 0) & (ends <= len(lp))] - 1] = 0.0
    n_pairs = np.maximum(lens - 1, 0)
    # cut only at rows that own a pair: a 1-char row's zeroed straddle pair
    # then stays in the previous row's segment, which keeps numpy's pairwise
    # summation order — and so every value — bit-identical to the frozen
    # scorer (tests/test_goldens.py pins the digest)
    nz = n_pairs > 0
    sums = np.zeros(len(t), dtype=np.float64)
    sums[nz] = _rowwise_sum(lp, starts[nz], n_pairs[nz])
    mean_lp = np.where(nz, sums / np.maximum(n_pairs, 1), 0.0)
    ppl = np.where(nz, np.exp(-mean_lp), 0.0)
    return pd.Series(ppl, index=texts.index)
