"""Seeded curation corpus with planted duplicates, and its ground truth.

Base documents draw ~120 words uniformly from a large synthetic
vocabulary, so two unrelated documents share essentially no 3-word
shingle.  On top of them the generator plants:

- exact copies (≈5 % of the corpus): a base document verbatim;
- near-duplicate clusters of 2-8 members (≈15 %): copies that differ
  from their base by letter case and whitespace (shingle Jaccard 1.0
  after the engine's normalisation), or by one appended word (Jaccard
  ≈0.99).  Every planted pair is far above the 0.9 bar, so a MinHash
  scheme with 16 hashes in 4 bands misses one with probability ~1e-6;
- low-quality documents (≈3 %): a few punctuation-heavy words that the
  quality filter must drop.

The checker's truth is the planted structure, never the engine's output.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass

QUALITY_MIN = 0.6
SPLIT_WEIGHTS = (0.8, 0.1, 0.1)
SPLIT_NAMES = ("train", "val", "test")
SPLIT_SALT = "split"


@dataclass
class Corpus:
    docs: list[tuple[int, str]]        # (doc_id, text)
    clusters: list[list[int]]          # planted duplicate groups (≥2 ids)
    junk: set[int]                     # low-quality ids the filter drops

    def expected_survivors(self) -> set[int]:
        """Quality-passing ids, one survivor (the minimum id) per
        planted cluster."""
        ids = {d for d, _ in self.docs} - self.junk
        for members in self.clusters:
            ids -= set(members) - {min(members)}
        return ids


def _word(rng: random.Random) -> str:
    n = rng.randrange(4, 9)
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(n))


def _vary_case(rng: random.Random, words: list[str]) -> str:
    out = []
    for w in words:
        w = w.upper() if rng.random() < 0.1 else (w.capitalize() if rng.random() < 0.1 else w)
        out.append(w + ("  " if rng.random() < 0.05 else " "))
    return "".join(out).strip() + ("\n" if rng.random() < 0.5 else "")


def generate(seed: int, n_docs: int) -> Corpus:
    rng = random.Random(seed)
    vocab = [_word(rng) for _ in range(20_000)]
    n_exact = int(n_docs * 0.05)
    n_near = int(n_docs * 0.15)
    n_junk = int(n_docs * 0.03)
    n_base = n_docs - n_exact - n_near - n_junk

    bases = [[rng.choice(vocab) for _ in range(rng.randrange(110, 131))] for _ in range(n_base)]
    texts: list[str] = [" ".join(b) for b in bases]
    groups: dict[int, list[int]] = {}  # base index -> member indexes

    def plant(base: int, text: str) -> None:
        groups.setdefault(base, [base]).append(len(texts))
        texts.append(text)

    # Near-dup clusters first (2-8 members incl. the base), then exact
    # copies of other bases; a base may end up carrying both.
    left = n_near
    while left > 0:
        base = rng.randrange(n_base)
        if base in groups:
            continue
        size = min(rng.randrange(1, 8), left)
        for _ in range(size):
            words = bases[base]
            if rng.random() < 0.3:
                words = words + [rng.choice(vocab)]
            plant(base, _vary_case(rng, words))
        left -= size
    for _ in range(n_exact):
        base = rng.randrange(n_base)
        plant(base, texts[base])

    junk_idx = set()
    for _ in range(n_junk):
        junk_idx.add(len(texts))
        texts.append(" ".join(f"{rng.choice(vocab)}!!" for _ in range(rng.randrange(3, 7))))

    # Shuffle ids so cluster members are scattered through the corpus.
    ids = list(range(1, len(texts) + 1))
    rng.shuffle(ids)
    docs = [(ids[i], t) for i, t in enumerate(texts)]
    docs.sort()
    clusters = sorted(sorted(ids[i] for i in members) for members in groups.values())
    return Corpus(docs, clusters, {ids[i] for i in junk_idx})


def split_of(doc_id: int) -> str:
    """The split ``hash_split`` must assign: md5 of ``salt|id``, first 7
    hex digits as a fraction of 2^28, against cumulative weights."""
    h = int(hashlib.md5(f"{SPLIT_SALT}|{doc_id}".encode()).hexdigest()[:7], 16) / float(1 << 28)
    acc = 0.0
    for w, name in zip(SPLIT_WEIGHTS[:-1], SPLIT_NAMES[:-1]):
        acc += w
        if h < acc:
            return name
    return SPLIT_NAMES[-1]
