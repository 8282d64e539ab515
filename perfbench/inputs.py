"""Seeded inputs. Everything here is a pure function of (seed, size); the
ground truth comes from the generator, never from the program's output."""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from batch_jaro_winkler_spark.fixtures import make_corpus, make_wordlist

# crawl_full: documents from make_corpus, clique sizes, size of the
# null-text slice, full runs per round (each round ends with a null_text run)
FULL = {"docs": 2000, "cliques": (72, 90, 110), "null_docs": 200, "runs_per_round": 3}
INCREMENT = {"docs": 1200, "batch_docs": 100, "batches": 2}
# a quarter of the reference word files (english 4.86 MB, chinese 4.48 MB)
KERNEL = {"en_bytes": 1_215_000, "cjk_bytes": 1_120_000, "queries": 100}

SMALL_FULL = {"docs": 300, "cliques": (66, 70), "null_docs": 100, "runs_per_round": 1}
SMALL_INCREMENT = {"docs": 300, "batch_docs": 30, "batches": 1}
SMALL_KERNEL = {"en_bytes": 60_000, "cjk_bytes": 60_000, "queries": 20}


@dataclass
class Docs:
    ids: list[int]
    texts: list[str | None]
    true_pairs: set = field(default_factory=set)  # planted near-duplicates
    substring_pairs: set = field(default_factory=set)  # planted substrings
    cliques: list[list[int]] = field(default_factory=list)

    @property
    def text_bytes(self) -> int:
        return sum(len(t.encode()) for t in self.texts if t is not None)


def _clique(rng: random.Random, vocab: list[str], size: int) -> list[str]:
    """Boilerplate clique: half exact copies, half with one or two words
    replaced. Larger than the pipeline's all-pairs cap, so its LSH buckets
    take the hot-bucket chaining path."""
    base = [rng.choice(vocab) for _ in range(rng.randint(80, 200))]
    out = []
    for j in range(size):
        words = list(base)
        if j % 2:
            for _ in range(rng.randint(1, 2)):
                words[rng.randrange(len(words))] = rng.choice(vocab)
        out.append(" ".join(words))
    return out


def crawl_corpus(seed: int, spec: dict) -> Docs:
    c = make_corpus(spec["docs"], seed=seed)
    docs = Docs(
        ids=list(range(len(c.rows))),
        texts=[r["text"] for r in c.rows],
        true_pairs=set(c.true_pairs),
        substring_pairs=set(c.substring_pairs),
    )
    rng = random.Random(seed * 7919 + 1)
    vocab = sorted({w for t in docs.texts[:200] for w in t.split()})
    for size in spec.get("cliques", ()):
        start = len(docs.ids)
        docs.ids.extend(range(start, start + size))
        docs.texts.extend(_clique(rng, vocab, size))
        docs.cliques.append(list(range(start, start + size)))
    return docs


def null_slice(docs: Docs, seed: int, n: int) -> Docs:
    """The first ``n`` documents with about 1% of their text set to null."""
    rng = random.Random(seed * 31 + 5)
    texts = list(docs.texts[:n])
    for i in rng.sample(range(n), max(1, n // 100)):
        texts[i] = None
    return Docs(ids=list(docs.ids[:n]), texts=texts)


def increments(docs: Docs, seed: int, spec: dict) -> tuple[list[int], list[list[int]]]:
    """Split the corpus into a base and a fixed sequence of daily batches.
    Batches are drawn at random, so planted pairs straddle base and batch."""
    rng = random.Random(seed * 104729 + 3)
    order = list(docs.ids)
    rng.shuffle(order)
    b = spec["batch_docs"]
    batches = [sorted(order[i * b : (i + 1) * b]) for i in range(spec["batches"])]
    base = sorted(order[spec["batches"] * b :])
    return base, batches


@dataclass
class WordList:
    name: str
    words: list[str]
    queries: list[str]
    n_bytes: int  # utf-8 bytes plus one newline per word, like a word file


def _trim(name: str, words: list[str], target: int, n_queries: int) -> WordList:
    """Distinct words in generation order up to ``target`` bytes, sorted like
    a word file (truncating a sorted list would keep only early letters)."""
    kept, n_bytes = [], 0
    for w in dict.fromkeys(words):
        b = len(w.encode()) + 1
        if n_bytes + b > target:
            break
        kept.append(w)
        n_bytes += b
    kept.sort()
    queries = kept[:: len(kept) // n_queries][:n_queries]
    return WordList(name, kept, queries, n_bytes)


def word_lists(seed: int, spec: dict) -> list[WordList]:
    """English-like and CJK word lists sized in bytes; the queries are every
    len/100-th word, as in the reference benchmark."""
    n = spec["queries"]
    # about 9.5 bytes per ascii and 8.5 per CJK word; generate with slack
    en = make_wordlist(n_ascii=int(spec["en_bytes"] / 8), n_cjk=0, seed=seed)
    cjk = make_wordlist(n_ascii=0, n_cjk=int(spec["cjk_bytes"] / 6.5), seed=seed + 1)
    return [
        _trim("en", en, spec["en_bytes"], n),
        _trim("cjk", cjk, spec["cjk_bytes"], n),
    ]
