"""Seeded full-text inputs: a Zipf-distributed corpus landing in batches,
a seeded search mix over it, and the brute-force evaluators the results
are checked against.

Documents carry surface noise (capitals, commas) that
``functions.text.tokenize`` undoes (lowercase, split on ``[^a-z0-9]+``,
drop empty strings), so the generator's token lists are exactly the
index's tokens and positions.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "pe", "da", "gu", "ho",
        "ze", "bi", "fa", "jo", "wu", "xe", "qi", "ly"]


class Corpus:
    """Vocabulary, batches and brute-force evaluation for one seed."""

    def __init__(self, seed: int, vocab: int = 20_000, zipf_s: float = 1.05):
        self.seed = seed
        rng = random.Random(seed)
        words: set[str] = set()
        while len(words) < vocab:
            words.add("".join(rng.choice(_SYL) for _ in range(rng.randint(2, 4))))
        self.vocab = sorted(words, key=lambda w: _stable(seed, w))
        self._cum = list(itertools.accumulate(1.0 / (r + 1) ** zipf_s for r in range(vocab)))
        self.docs: dict[int, list[str]] = {}

    def write_batch(self, out_dir: str, batch: int, n_docs: int) -> str:
        """One parquet file of (doc_id, text) for ``batch``, and its
        documents' tokens, which the brute-force evaluators use, in
        ``<out_dir>-truth/``."""
        rng = random.Random(_stable(self.seed, f"batch{batch}"))
        ids, texts = [], []
        for i in range(n_docs):
            doc_id = batch * 1_000_000 + i
            toks = rng.choices(self.vocab, cum_weights=self._cum, k=rng.randint(40, 200))
            # surface noise the tokenizer must undo: case and punctuation
            surface = [
                t.capitalize() if rng.random() < 0.1 else t + ("," if rng.random() < 0.05 else "")
                for t in toks
            ]
            ids.append(doc_id)
            texts.append(" ".join(surface) + ".")
            self.docs[doc_id] = toks
        path = os.path.join(out_dir, f"batch-{batch:05d}.parquet")
        tmp = path + ".tmp"
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}), tmp)
        os.rename(tmp, path)  # land atomically: the file source never sees a partial file
        # the truth (each document's tokens) beside the stream's directory,
        # not in it: the file source would read it as a batch
        truth_dir = out_dir.rstrip("/") + "-truth"
        os.makedirs(truth_dir, exist_ok=True)
        with open(os.path.join(truth_dir, f"batch-{batch:05d}.json"), "w") as fh:
            json.dump({str(i): self.docs[i] for i in ids}, fh)
        return path

    def searches(self, rng: random.Random, kinds: list[str]) -> list[tuple[str, object]]:
        """One search per entry of ``kinds``, in a shuffled order: (kind,
        tsquery string) or ('bm25', terms). Terms are drawn from the Zipf
        distribution, so some hit most documents and some a handful."""
        out = []
        doc_ids = sorted(self.docs)
        kinds = list(kinds)
        rng.shuffle(kinds)
        for kind in kinds:
            a, b, c = (rng.choices(self.vocab, cum_weights=self._cum)[0] for _ in range(3))
            if kind == "and":
                out.append((kind, f"{a} & {b}"))
            elif kind == "or":
                out.append((kind, f"{a} | {b}"))
            elif kind == "not":
                out.append((kind, f"{a} & !{b}"))
            elif kind == "prefix":
                out.append((kind, f"{a[:3]}:* & {b}"))
            elif kind == "phrase":
                toks = self.docs[rng.choice(doc_ids)]
                i = rng.randrange(len(toks) - 1)
                out.append((kind, f"{toks[i]} <-> {toks[i + 1]}"))
            else:
                out.append(("bm25", [a, b, c]))
        return out

    # -- brute-force evaluation over the documents indexed so far --------

    def eval_query(self, q: str, doc_ids) -> set[int]:
        from sec_dl_spark.operators.fts import parse_tsquery

        ast = parse_tsquery(q)
        sets = {d: set(self.docs[d]) for d in doc_ids}

        def ev(node) -> set[int]:
            kind = node[0]
            if kind == "term":
                return {d for d, s in sets.items() if node[1] in s}
            if kind == "prefix":
                return {d for d, s in sets.items() if any(t.startswith(node[1]) for t in s)}
            if kind == "phrase":
                ph = node[1]
                return {d for d in sets if _has_phrase(self.docs[d], ph)}
            if kind == "not":
                return set(sets) - ev(node[1])
            if kind == "and":
                return set.intersection(*(ev(p) for p in node[1]))
            if kind == "or":
                return set.union(*(ev(p) for p in node[1]))
            raise ValueError(kind)

        return ev(ast)

    def bm25(self, terms: list[str], doc_ids, k: int = 10, k1: float = 1.2,
             b: float = 0.75) -> list[tuple[int, float]]:
        """Top-k of ``operators.fts.search_bm25``'s formula: score rounded
        to 6 decimals, ordered by (score desc, doc_id)."""
        doc_ids = list(doc_ids)
        n = len(doc_ids)
        avgdl = sum(len(self.docs[d]) for d in doc_ids) / n
        terms = sorted({t.lower() for t in terms})
        tf = {t: {} for t in terms}
        for d in doc_ids:
            for tok in self.docs[d]:
                if tok in tf:
                    tf[tok][d] = tf[tok].get(d, 0) + 1
        scores: dict[int, float] = {}
        for t in terms:
            df = len(tf[t])
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            for d, f in tf[t].items():
                dl = len(self.docs[d])
                scores[d] = scores.get(d, 0.0) + idf * (f * (k1 + 1)) / (
                    f + k1 * (1 - b + b * dl / avgdl))
        ranked = sorted(((round(s, 6), d) for d, s in scores.items()), key=lambda x: (-x[0], x[1]))
        return [(d, s) for s, d in ranked[:k]]


def _has_phrase(toks: list[str], phrase: list[str]) -> bool:
    m = len(phrase)
    return any(toks[i:i + m] == phrase for i in range(len(toks) - m + 1))


def _stable(seed: int, s: str) -> int:
    import hashlib

    return int(hashlib.md5(f"{seed}|{s}".encode()).hexdigest()[:12], 16)
