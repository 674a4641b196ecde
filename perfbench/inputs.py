"""Seeded input generation. The engine receives only what this produces.

The generator fixes the *shape* of its output from the row position alone
(document count, words per document, word lengths) and lets the seed choose
the content. A second seed therefore gives the same number of documents,
spans and text bytes, while the words differ.

The documents mimic the ``sf*`` corpus the engine is tested on: 10 to 100
words per document from its 31-word vocabulary, one space between words, 20
sources and five languages.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_BY_LEN: dict[int, np.ndarray] = {}
for _w in VOCAB:
    _BY_LEN.setdefault(len(_w), []).append(_w)
_BY_LEN = {k: np.array(sorted(v)) for k, v in _BY_LEN.items()}
_LENS = np.array(sorted(_BY_LEN))
_LEN_P = np.array([len(_BY_LEN[k]) for k in _LENS], float) / len(VOCAB)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
_SHAPE_SEED = 20240501  # fixes shapes; never the content


def flat_documents(seed: int, n_docs: int) -> pd.DataFrame:
    """(doc_id int64, text, lang, source, n_chars), the flat ``documents``
    table the span synthesis expands.

    Words per document and the length of every word are a function of the
    position; the seed picks each word among the vocabulary words of that
    length."""
    shape = np.random.default_rng(_SHAPE_SEED)
    rng = np.random.default_rng(seed)
    n_words = 10 + (np.arange(n_docs) * 37) % 91
    texts = []
    for n in n_words:
        pat = shape.choice(_LENS, size=int(n), p=_LEN_P)
        words = np.empty(len(pat), dtype=object)
        for ln in _LENS:
            idx = np.flatnonzero(pat == ln)
            words[idx] = _BY_LEN[ln][rng.integers(0, len(_BY_LEN[ln]), len(idx))]
        texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
