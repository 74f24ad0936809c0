"""Seeded corpus and query streams for the benchmark.

Everything the engine sees comes from here, and only from ``seed`` plus
the size arguments: the same seed gives identical documents and queries
(``test_perfbench.py`` checks it).

The corpus is the repository's own synthetic source-code corpus
(``sources/corpus.py``, FIXTURES.md §1): document ``i`` is
``_doc_content(i, seed)``, a pure function of the two. Its identifiers
follow a Zipf law over a 50k vocabulary with the language keywords at the
head, so some keyword lists have df > N/2. Each document's token list is
``tokenizer.tokenize_text`` of its text, the engine's own tokenizer
contract.

The query shape is FIXTURES.md §2: 1 to 4 terms, and one query in five
carries an absent term. What the repo has no generator for is added here:

- query terms are drawn uniformly over the corpus dictionary, so most
  come from its tail (the median df of the dictionary is 1);
- a query is submitted with its unigrams plus all their 2-combinations
  as d-bigram keys, the expansion ``entries.q_bm25_topk_pairs`` makes;
- one query in ten repeats one of its terms.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np

from candidategeneration_spark.sources.corpus import _doc_content
from candidategeneration_spark.tokenizer import tokenize_text

MAX_TERMS = 4        # FIXTURES.md §2: 1-4 terms per query
ABSENT_SHARE = 0.2   # FIXTURES.md §2: 20% of queries mix in an absent term
REPEAT_SHARE = 0.1   # enough that every 40-query batch repeats a term


class Corpus:
    """Generated documents plus the facts a reader needs to size them."""

    def __init__(self, seed: int, n_docs: int):
        self.docs: list[tuple[int, str]] = [
            (did, _doc_content(did, seed)[1]) for did in range(n_docs)]
        self.tokens = [tokenize_text(text) for _, text in self.docs]
        df: dict[str, int] = {}
        for toks in self.tokens:
            for t in set(toks):
                df[t] = df.get(t, 0) + 1
        self.df = df
        # terms present in the corpus, most frequent first (ties by name)
        self.by_df = sorted(df, key=lambda t: (-df[t], t))

    def facts(self, distance: int) -> dict:
        pairs = set()
        for toks in self.tokens:
            n = len(toks)
            for i in range(n):
                for j in range(i + 1, min(i + 1 + distance, n)):
                    if toks[i] != toks[j]:
                        pairs.add((toks[i], toks[j]) if toks[i] < toks[j]
                                  else (toks[j], toks[i]))
        dfs = sorted(self.df.values())
        return {"docs": len(self.docs),
                "tokens": sum(len(t) for t in self.tokens),
                "vocabulary": len(self.df),
                "pair_terms": len(pairs),
                "df_max": dfs[-1],
                "df_median": dfs[len(dfs) // 2],
                "df_over_half": sum(1 for d in dfs if d > len(self.docs) / 2)}

    def pair_at(self, rng: np.random.Generator, did: int,
                distance: int) -> tuple[str, str] | None:
        """A sorted d-bigram ``(t1, t2)`` that occurs in document ``did``,
        or None. The engine's string form of it is the caller's business
        (``build.PAIR_SEP``)."""
        toks = self.tokens[did]
        if len(toks) < 2:
            return None
        i = int(rng.integers(0, len(toks) - 1))
        j = int(rng.integers(i + 1, min(i + 1 + distance, len(toks))))
        a, b = toks[i], toks[j]
        if a == b:
            return None
        return (a, b) if a < b else (b, a)


def queries(corpus: Corpus, seed: int, n: int) -> list[list]:
    """``n`` queries as lists of unigram strings and sorted ``(t1, t2)``
    pair tuples, in the order a client would send them."""
    rng = np.random.default_rng([seed, 0xAD0C])
    out = []
    for q in range(n):
        want = int(rng.integers(1, MAX_TERMS + 1))
        idx = rng.choice(len(corpus.by_df), size=want, replace=False)
        terms = [corpus.by_df[int(i)] for i in idx]
        if rng.random() < ABSENT_SHARE:
            terms[int(rng.integers(0, want))] = f"absent{q}"
        keys: list = list(terms)
        keys += [(a, b) if a < b else (b, a)
                 for a, b in combinations(terms, 2)]
        if rng.random() < REPEAT_SHARE:
            keys.append(keys[0])
        out.append(keys)
    return out
