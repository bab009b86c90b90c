"""Seeded documents for the corpus workload.

The corpus op is specified on the 5,000-document ``documents.parquet`` of
the sf0.1 test data, which is not part of this repository. This generator
reproduces the shape measured on that file (README.md tables the measured
and generated funnels):

- one line per document, no paragraphs; 10 to 99 tokens, uniform;
- tokens drawn uniformly from a 30-word vocabulary;
- 5% near duplicates: another document with the token ``dup`` appended
  (a near duplicate can be copied again, so short chains occur);
- 0.16% exact duplicates of another document;
- language shares as measured; source ``src0`` to ``src19`` by doc id.

The measured corpus has no repeated boilerplate lines, no shared
paragraphs or spans, no document over the 512-token window and none below
the 5-token floor, so neither does this one. The same seed gives the same
rows.
"""

from __future__ import annotations

import random

# measured on the named corpus: word, language and duplicate shares
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = {"en": 0.4118, "zh": 0.1506, "es": 0.1488, "fr": 0.1484, "de": 0.1404}
MIN_TOKENS, MAX_TOKENS = 10, 99
P_NEAR_DUP = 250 / 5000
P_EXACT_DUP = 8 / 5000
N_SOURCES = 20


def documents(n_docs: int, seed: int) -> list[dict]:
    """``n_docs`` rows of (doc_id, text, lang, source)."""
    rng = random.Random(seed)
    langs, weights = list(LANGS), list(LANGS.values())
    texts = [
        " ".join(rng.choice(VOCAB) for _ in range(rng.randint(MIN_TOKENS, MAX_TOKENS)))
        for _ in range(n_docs)
    ]
    # as in the measured corpus, every copied document is copied once:
    # targets and sources are two samples without replacement
    n_near, n_exact = round(n_docs * P_NEAR_DUP), round(n_docs * P_EXACT_DUP)
    targets = rng.sample(range(n_docs), n_near + n_exact)
    sources = rng.sample(range(n_docs), n_near + n_exact)
    for j, (t, src) in enumerate(zip(targets, sources)):
        if t != src:
            texts[t] = texts[src] + " dup" if j < n_near else texts[src]
    return [
        {
            "doc_id": i,
            "text": text,
            "lang": rng.choices(langs, weights)[0],
            "source": f"src{i % N_SOURCES}",
        }
        for i, text in enumerate(texts)
    ]
