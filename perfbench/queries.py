"""Seeded query set over the rank bands of ``corpus.build_vocabulary``.

One query of each of five families: term, AND (``+a +b``), OR (``a b c``),
phrase (``"a b"``) and sloppy phrase (``"a b"~3``). Query terms are drawn
from four bands of the corpus vocabulary:

  head    the content stems, the Zipf head right after stopwords/fillers
  mid     content words at vocabulary ranks ~500-2000
  rare    ``rare*`` words of one corpus partition, or a per-conversation
          ``errcode*`` id (df of a few to a few dozen)
  absent  a head or mid word mutated with ``zq`` so no document holds it

Each family has a fixed band pattern, so two seeds differ only in the words
that fill the slots, never in the query shapes or their mix. Head words
are dealt from a shuffled deck, so no head word repeats within a set. The
program under test receives only the generated strings.
"""

from __future__ import annotations

import numpy as np

from lucene_solr_spark.corpus import build_vocabulary

FAMILIES = ("term", "and", "or", "phrase", "sloppy")

_PATTERNS = {
    "term": ("head",),
    "and": ("head", "mid"),
    "or": ("head", "rare", "absent"),
    "phrase": ("head", "head"),
    "sloppy": ("head", "head"),
}

_HEAD = slice(50, 100)  # 33 stopwords + 17 fillers precede the stems
_MID = slice(499, 2000)
_RARE_SAMPLE = 400  # lowest-ranked rare words: present in a few docs


def _render(family: str, words: list[str]) -> str:
    if family == "term":
        return words[0]
    if family == "and":
        return " ".join(f"+{w}" for w in words)
    if family == "or":
        return " ".join(words)
    if family == "phrase":
        return '"' + " ".join(words) + '"'
    return '"' + " ".join(words) + '"~3'


class QueryGenerator:
    """Query strings for a corpus made by ``transcripts_distributed(n_turns,
    seed, partitions)``; the rare band follows that corpus' per-partition
    vocabularies and conversation ids."""

    def __init__(self, corpus_seed: int, n_turns: int, partitions: int):
        vocab, _ = build_vocabulary(corpus_seed)
        self._head = vocab[_HEAD]
        self._mid = vocab[_MID]
        self._corpus_seed = corpus_seed
        self._partitions = partitions
        # conversations are 4-32 turns long: every partition holds at
        # least this many, so errcode<id> below it exists in each one
        self._min_convs = max(1, (n_turns // partitions) // 32)
        self._rare_by_part: dict[int, list[str]] = {}

    def _rare_words(self, part: int) -> list[str]:
        words = self._rare_by_part.get(part)
        if words is None:
            # transcripts_distributed seeds partition p with seed + 1000003*p
            vocab, _ = build_vocabulary(self._corpus_seed + 1000003 * part)
            words = [w for w in vocab if w.startswith("rare")][:_RARE_SAMPLE]
            self._rare_by_part[part] = words
        return words

    def _word(self, band: str, rng: np.random.Generator,
              deck: list[str]) -> str:
        if band == "head":
            if not deck:
                deck.extend(self._head[j]
                            for j in rng.permutation(len(self._head)))
            return deck.pop()
        if band == "mid":
            return self._mid[int(rng.integers(len(self._mid)))]
        if band == "rare":
            if rng.random() < 0.5:
                return f"errcode{int(rng.integers(self._min_convs)):06x}"
            words = self._rare_words(int(rng.integers(self._partitions)))
            return words[int(rng.integers(len(words)))]
        base = self._mid if rng.random() < 0.5 else self._head
        return f"{base[int(rng.integers(len(base)))]}zq{int(rng.integers(100))}"

    def queries(self, n: int, stream: int) -> list[tuple[str, str]]:
        """``n`` (family, query string) pairs; ``stream`` picks an
        independent sequence for the same corpus."""
        rng = np.random.default_rng([self._corpus_seed, stream])
        out = []
        deck: list[str] = []
        for i in range(n):
            family = FAMILIES[i % len(FAMILIES)]
            bands = _PATTERNS[family]
            words: list[str] = []
            while len(words) < len(bands):
                w = self._word(bands[len(words)], rng, deck)
                if w not in words:
                    words.append(w)
            out.append((family, _render(family, words)))
        return out


def query_terms(q) -> list[str]:
    """Distinct analyzed terms of a parsed query, in first-seen order."""
    from lucene_solr_spark.search.query import (
        BooleanQuery,
        PhraseQuery,
        TermQuery,
    )

    if isinstance(q, TermQuery):
        return [q.term]
    if isinstance(q, PhraseQuery):
        return list(dict.fromkeys(q.terms))
    if isinstance(q, BooleanQuery):
        out: list[str] = []
        for c in q.clauses:
            out.extend(t for t in query_terms(c.query) if t not in out)
        return out
    return []
