"""Independent reference computations the benchmark checks the engine
against: the analyzer spec, BM25 over a live corpus and exact token-set
Jaccard. Written from the specification (lowercase, ``[a-z0-9]+`` runs;
BM25 with k1=1.2, b=0.75 and the (k1+1) numerator; per-document sums in
ascending term order), with numpy only; nothing here imports the engine.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np

K1 = 1.2
B = 0.75
TOKEN = re.compile(r"[a-z0-9]+")


def tokenize(text: str) -> list[str]:
    return TOKEN.findall(text.lower())


def query_terms(text: str) -> list[str]:
    """Distinct query terms (a repeated term counts once)."""
    return list(dict.fromkeys(tokenize(text)))


class BM25Ref:
    """BM25 over ``docs`` = [(key, text, lang)]: keys are urls or doc ids."""

    def __init__(self, docs: list[tuple[str, str, str]]):
        self.keys = [k for k, _, _ in docs]
        self.langs = np.array([lang for _, _, lang in docs])
        self.tokens = [set() for _ in docs]
        post: dict[str, tuple[list[int], list[int]]] = {}
        dl = np.empty(len(docs), dtype=np.float64)
        for i, (_, text, _) in enumerate(docs):
            toks = tokenize(text)
            dl[i] = len(toks)
            counts = Counter(toks)
            self.tokens[i] = set(counts)
            for t, tf in counts.items():
                d, f = post.setdefault(t, ([], []))
                d.append(i)
                f.append(tf)
        self.dl = dl
        self.N = len(docs)
        self.avgdl = int(dl.sum()) / self.N
        self.postings = {
            t: (np.array(d, dtype=np.int64), np.array(f, dtype=np.float64))
            for t, (d, f) in post.items()
        }
        # Σ df over terms = Σ distinct terms per doc
        self.sum_df = sum(len(d) for d, _ in self.postings.values())

    def terms_by_df(self) -> list[str]:
        return sorted(self.postings, key=lambda t: (-len(self.postings[t][0]), t))

    def scores(self, text: str, conjunctive: bool = False, lang: str | None = None, keys=None) -> dict:
        """key -> BM25 score of every matching doc (``keys`` defaults to the
        docs' own keys). ``lang`` restricts which docs may match; N, avgdl
        and df stay corpus-wide."""
        keys = self.keys if keys is None else keys
        terms = query_terms(text)
        if not terms:
            return {}
        total = np.zeros(self.N)
        n_hit = np.zeros(self.N, dtype=np.int64)
        for t in sorted(terms):
            if t not in self.postings:
                continue
            d, tf = self.postings[t]
            idf = math.log(1.0 + (self.N - len(d) + 0.5) / (len(d) + 0.5))
            total[d] += idf * (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * self.dl[d] / self.avgdl))
            n_hit[d] += 1
        keep = n_hit == len(terms) if conjunctive else n_hit > 0
        if lang is not None:
            keep &= self.langs == lang
        return {keys[i]: float(total[i]) for i in np.flatnonzero(keep)}


def token_sets(texts: list[str]) -> list[frozenset[str]]:
    return [frozenset(tokenize(t)) for t in texts]


def exact_pairs(sets: list[frozenset[str]], threshold: float) -> dict[tuple[int, int], tuple[int, int, int]]:
    """All pairs (i < j, positions in ``sets``) with token-set Jaccard >=
    threshold -> (inter, n_i, n_j), by a dense 0/1 matrix product."""
    vocab = {t: k for k, t in enumerate(sorted(set().union(*sets)))}
    m = np.zeros((len(sets), len(vocab)), dtype=np.float32)
    for i, s in enumerate(sets):
        m[i, [vocab[t] for t in s]] = 1.0
    inter = (m @ m.T).astype(np.int64)  # exact: counts stay far below 2**24
    n = np.array([len(s) for s in sets], dtype=np.int64)
    union = n[:, None] + n[None, :] - inter
    with np.errstate(divide="ignore", invalid="ignore"):
        jac = inter.astype(np.float64) / union.astype(np.float64)
    ii, jj = np.nonzero(np.triu(jac >= threshold, k=1))
    return {(int(i), int(j)): (int(inter[i, j]), int(n[i]), int(n[j])) for i, j in zip(ii, jj)}


def components(nodes: list[int], edges) -> dict[int, int]:
    """node -> minimum node of its connected component (union-find)."""
    parent = {v: v for v in nodes}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in nodes}
