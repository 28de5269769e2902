"""Seeded LLM-corpus inputs with planted ground truth: one
``documents.parquet`` for ``etl.corpus.build_corpus`` and delta batches
for ``append_corpus``, each with a ``truth.json`` beside it.

The base corpus plants, over otherwise unrelated random documents:

- exact duplicates: copies of an original that differ only in letter case
  and whitespace, so they clean and tokenize to the same tokens and the
  same cleaned length; the copy with the lowest doc id survives;
- near duplicates: copies of an original with 1-5% of the tokens
  replaced; the pair collapses to its lower doc id when found;
- low-quality documents: a few stopwords among punctuation, far under the
  quality gate.

Doc ids are a seeded permutation, so the surviving copy is sometimes the
original and sometimes a copy. A delta re-crawls admitted documents
(case and whitespace variants of their text under new ids), brings novel
documents, a few in-batch copies of those and a few low-quality ones.
"""

from __future__ import annotations

import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

_SYL = ["ba", "co", "di", "fe", "gu", "ha", "ji", "ko", "lu", "ma", "ne", "po",
        "qu", "ri", "so", "tu", "ve", "wi", "xo", "ze"]
STOPWORDS = ["a", "the", "and", "of", "to", "in", "is", "it"]
LANGS = ["en", "de", "fr", "es"]
SOURCES = [f"src{i}" for i in range(5)]
SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                    ("lang", pa.string()), ("source", pa.string())])


class CorpusGen:
    """Vocabulary and document makers for one seed."""

    def __init__(self, seed: int, vocab: int = 8_000):
        self.seed = seed
        rng = random.Random(f"{seed}/vocab")
        words: set[str] = set()
        while len(words) < vocab:
            words.add("".join(rng.choice(_SYL) for _ in range(rng.randint(2, 5))))
        self.vocab = sorted(words)

    def original(self, rng) -> list[str]:
        """40-200 tokens, about one in ten a stopword."""
        n = rng.randint(40, 200)
        return [rng.choice(STOPWORDS) if rng.random() < 0.1 else rng.choice(self.vocab)
                for _ in range(n)]

    def near(self, rng, toks: list[str]) -> list[str]:
        """``toks`` with 1-5% of its tokens (at least one) replaced."""
        out = list(toks)
        k = max(1, round(rng.uniform(0.01, 0.05) * len(toks)))
        for i in rng.sample(range(len(toks)), k):
            out[i] = rng.choice(self.vocab)
        return out


def render(toks: list[str]) -> str:
    """Canonical text: single spaces, a full stop every 12 tokens."""
    words = [t + "." if (i + 1) % 12 == 0 else t for i, t in enumerate(toks)]
    return " ".join(words)


def variant(rng, text: str) -> str:
    """Same tokens and cleaned length: some words upper- or title-cased,
    some single spaces widened to runs of spaces, tabs or newlines."""
    words = text.split(" ")
    out = []
    for w in words:
        r = rng.random()
        out.append(w.upper() if r < 0.1 else w.capitalize() if r < 0.3 else w)
    seps = [rng.choice(["  ", "\t", "\n", " \t "]) if rng.random() < 0.2 else " "
            for _ in range(len(out) - 1)]
    return "".join(w + s for w, s in zip(out, seps + [""]))


def low_quality(rng) -> str:
    """3-6 stopwords among runs of punctuation."""
    n = rng.randint(3, 6)
    return " ".join(f"{rng.choice(STOPWORDS)} {rng.choice(['!!!', '???', '...', '#$%', '***'])}"
                    for _ in range(n))


def _write(out_dir: str, rows: list[tuple], truth: dict) -> str:
    os.makedirs(out_dir, exist_ok=True)
    rows = sorted(rows)
    cols = list(zip(*rows))
    table = pa.table([pa.array(c, t.type) for c, t in zip(cols, SCHEMA)], schema=SCHEMA)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh)
    return out_dir


def write_base(out_dir: str, gen: CorpusGen, n_docs: int) -> dict:
    """The base corpus: 10% exact copies, 10% near copies, 10% low
    quality, the rest originals. Returns the truth: the funnel counts
    ``build_corpus`` must report up to exact dedup, the exact-dedup
    survivors, the planted near pairs, and the texts a delta may re-crawl
    (admitted whatever near dedup finds)."""
    rng = random.Random(f"{gen.seed}/base")
    n_copy = n_near = n_low = n_docs // 10
    n_orig = n_docs - n_copy - n_near - n_low
    ids = rng.sample(range(n_docs), n_docs)
    originals = [gen.original(rng) for _ in range(n_orig)]
    docs = []  # (kind, origin index, text)
    for i, toks in enumerate(originals):
        docs.append(("orig", i, render(toks)))
    copied = rng.sample(range(n_orig // 2), n_copy // 2)
    for j in range(n_copy):  # one or two copies of each copied original
        i = copied[j % len(copied)]
        docs.append(("copy", i, variant(rng, render(originals[i]))))
    near_of = rng.sample(range(n_orig // 2, n_orig), n_near)
    for i in near_of:
        docs.append(("near", i, render(gen.near(rng, originals[i]))))
    for _ in range(n_low):
        docs.append(("low", -1, low_quality(rng)))

    rows, groups, near_pairs, orig_id = [], {}, [], {}
    for (kind, i, text), doc_id in zip(docs, ids):
        rows.append((doc_id, text, rng.choice(LANGS), rng.choice(SOURCES)))
        if kind == "orig":
            orig_id[i] = doc_id
        if kind in ("orig", "copy"):
            groups.setdefault(i, []).append(doc_id)
    for (kind, i, _), doc_id in zip(docs, ids):
        if kind == "near":
            near_pairs.append(sorted((orig_id[i], doc_id)))
    exact_survivors = sorted(min(g) for g in groups.values())
    exact_survivors += [doc_id for (kind, _, _), doc_id in zip(docs, ids) if kind == "near"]
    near_orig = set(near_of)
    recrawlable = [render(originals[i]) for i in range(n_orig) if i not in near_orig]
    truth = {
        "n_raw": n_docs,
        "n_quality": n_docs - n_low,
        "n_exact_unique": len(exact_survivors),
        "exact_survivors": sorted(exact_survivors),
        "exact_copies": n_copy,
        "near_pairs": near_pairs,
    }
    _write(out_dir, rows, truth)
    return {**truth, "recrawlable": recrawlable}


def write_delta(out_dir: str, gen: CorpusGen, k: int, n_docs: int, admitted: list[str],
                id_base: int) -> dict:
    """Delta ``k``: 30% re-crawls of distinct ``admitted`` texts, 5% low
    quality, 5% in-batch copies of its own novel documents, the rest
    novel. Returns the truth: ``append_corpus``'s funnel counts, and the
    novel texts (admitted once this delta is appended)."""
    rng = random.Random(f"{gen.seed}/delta{k}")
    n_re = round(0.3 * n_docs)
    n_low = round(0.05 * n_docs)
    n_dup = round(0.05 * n_docs)
    n_new = n_docs - n_re - n_low - n_dup
    novel = [render(gen.original(rng)) for _ in range(n_new)]
    texts = [variant(rng, t) for t in rng.sample(admitted, n_re)]
    texts += novel
    texts += [variant(rng, t) for t in rng.sample(novel, n_dup)]
    texts += [low_quality(rng) for _ in range(n_low)]
    ids = rng.sample(range(id_base, id_base + n_docs), n_docs)
    rows = [(i, t, rng.choice(LANGS), rng.choice(SOURCES)) for i, t in zip(ids, texts)]
    truth = {"n_raw": n_docs, "n_prepped": n_docs - n_low,
             "n_in_batch_unique": n_docs - n_low - n_dup, "n_novel": n_new}
    _write(out_dir, rows, truth)
    return {**truth, "novel": novel}
