"""Seeded input generators for the benchmark.

Everything here is a pure function of its arguments and a seed, built on
``numpy.random.default_rng``: the same seed gives byte-identical inputs.
Nothing imports the engine's own corpus generator, so a change to the
program cannot change the benchmark's inputs.

Inputs:
- ``WebCorpus``: a Zipf web corpus ``(url, warc_ts, html, text, lang)``
  and the live view of it that delta batches update.
- ``query_log``: a Zipf-recurring pool of 1-4 term queries (head, torso and
  tail terms; a share conjunctive, a share filtered on ``lang``).
- ``WebCorpus.delta_batch``: an upsert batch of re-indexed live urls
  with new text and new urls.
- ``near_dup_corpus``: a fixed mix of mirror clusters with small edits,
  plus unique documents, for the dedup operators.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np

LANGS = ["en", "de", "fr", "es"]
LANG_P = [0.6, 0.2, 0.1, 0.1]
BASE_TS = dt.datetime(2024, 1, 1)
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int
    vocab: int
    zipf_s: float
    mean_len: int


@dataclass(frozen=True)
class Query:
    qid: str
    text: str
    kind: str  # "plain" | "conjunctive" | "filtered"
    cls: str  # "head" | "torso" | "tail": the rarest term class it holds
    doc_filter: str | None = None


def make_vocab(rng: np.random.Generator, n: int) -> list[str]:
    """n distinct lowercase words of 3-9 letters; one word in 40 ends in a
    digit so the analyzer's ``[a-z0-9]+`` class is exercised."""
    seen: dict[str, None] = {}
    while len(seen) < n:
        lens = rng.integers(3, 10, size=n)
        for j, L in enumerate(lens):
            w = "".join(LETTERS[rng.integers(0, 26, size=L)])
            if j % 40 == 0:
                w += str(j % 10)
            seen.setdefault(w, None)
            if len(seen) == n:
                break
    return list(seen)


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def _render(words: list[str], rng: np.random.Generator) -> str:
    """Join tokens into prose: sentence case and punctuation, which the
    analyzer must strip (lowercase, ``[a-z0-9]+`` runs)."""
    words = list(words)
    step = int(rng.integers(8, 16))
    for j in range(step - 1, len(words) - 1, step):
        words[j] += "."
        words[j + 1] = words[j + 1].capitalize()
    for j in range(3, len(words), 7):
        if not words[j].endswith("."):
            words[j] += ","
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _html(text: str) -> bytes:
    return f"<html><body><p>{text}</p></body></html>".encode()


def _ts(rng: np.random.Generator, n: int, day0: int, days: int) -> list:
    secs = rng.integers(day0 * 86400, (day0 + days) * 86400, size=n)
    return [BASE_TS + dt.timedelta(seconds=int(s)) for s in secs]


class WebCorpus:
    """A seeded Zipf web corpus and the live view of it that deltas
    update. ``rows`` is the list of build rows; ``live`` maps url to
    (text, lang) for every live document."""

    def __init__(self, spec: CorpusSpec, seed: int):
        self.spec = spec
        self.rng = np.random.default_rng([seed, 1])
        self.words = make_vocab(self.rng, spec.vocab)
        self.words_arr = np.array(self.words, dtype=object)
        self.probs = zipf_probs(spec.vocab, spec.zipf_s)
        self._next_url = 0
        self.rows = self._docs(spec.n_docs, day0=0)
        self.live = {r[0]: (r[3], r[4]) for r in self.rows}

    def _texts(self, n: int) -> list[str]:
        m = self.spec.mean_len
        lens = np.clip(self.rng.lognormal(np.log(m), 0.5, size=n), 4, 8 * m).astype(np.int64)
        idx = self.rng.choice(self.spec.vocab, size=int(lens.sum()), p=self.probs)
        toks = self.words_arr[idx].tolist()
        ends = np.cumsum(lens)
        return [_render(toks[e - L:e], self.rng) for e, L in zip(ends, lens)]

    def _urls(self, n: int) -> list[str]:
        ids = self.rng.permutation(np.arange(self._next_url, self._next_url + n))
        self._next_url += n
        hosts = self.rng.zipf(1.5, size=n) % 500
        return [f"https://site{h}.example/p/{i:07d}" for h, i in zip(hosts, ids)]

    def _docs(self, n: int, day0: int, urls: list[str] | None = None) -> list[tuple]:
        urls = urls if urls is not None else self._urls(n)
        langs = self.rng.choice(LANGS, size=n, p=LANG_P)
        ts = _ts(self.rng, n, day0, 300 if day0 == 0 else 5)
        texts = self._texts(n)
        return [
            (u, t, _html(x), x, str(lang))
            for u, t, x, lang in zip(urls, ts, texts, langs)
        ]

    def delta_batch(self, n_known: int, n_new: int, day0: int) -> list[tuple]:
        """n_known re-indexed live urls with new text plus n_new urls never
        seen before, in a seeded order; urls are distinct."""
        live = sorted(self.live)
        pick = self.rng.choice(len(live), size=n_known, replace=False)
        known = [live[i] for i in sorted(pick)]
        new = self._urls(n_new)
        rows = self._docs(n_known, day0, known) + self._docs(n_new, day0, new)
        order = self.rng.permutation(len(rows))
        return [rows[i] for i in order]

    def apply(self, rows: list[tuple], upsert: bool) -> dict[str, int]:
        """Apply a batch to the live view with the engine's documented
        semantics; return the counts the engine must report."""
        counts = {"updated": 0, "inserted": 0, "skipped": 0}
        for u, _ts_, _h, text, lang in rows:
            if u in self.live:
                counts["updated"] += 1
                self.live[u] = (text, lang)
            elif upsert:
                counts["inserted"] += 1
                self.live[u] = (text, lang)
            else:
                counts["skipped"] += 1
        return counts


QUERY_KINDS = ["plain", "conjunctive", "filtered"]
QUERY_KIND_P = [0.6, 0.2, 0.2]
TERM_CLASSES = {"head": (0, 30), "torso": (30, 1000), "tail": (1000, None)}
TERM_CLASS_P = [0.3, 0.45, 0.25]


def query_pool(words: list[str], seed: int, n_pool: int) -> list[tuple[str, str, str]]:
    """Distinct (text, kind, class) query templates: 1-4 terms, each drawn
    from the head, torso or tail of the Zipf ranking of ``words``."""
    rng = np.random.default_rng([seed, 2])
    classes = list(TERM_CLASSES)
    pool: dict[tuple[str, str], str] = {}
    while len(pool) < n_pool:
        n_terms = int(rng.choice([1, 2, 3, 4], p=[0.3, 0.35, 0.2, 0.15]))
        cls = rng.choice(len(classes), size=n_terms, p=TERM_CLASS_P)
        terms = []
        for c in cls:
            lo, hi = TERM_CLASSES[classes[c]]
            terms.append(words[int(rng.integers(lo, hi or len(words)))])
        if len(set(terms)) < n_terms:
            continue
        kind = QUERY_KINDS[int(rng.choice(3, p=QUERY_KIND_P))]
        if kind == "conjunctive" and n_terms == 1:
            kind = "plain"
        text = " ".join(t.capitalize() if j % 2 else t for j, t in enumerate(terms))
        pool.setdefault((text, kind), classes[int(cls.max())])
    return [(t, k, c) for (t, k), c in pool.items()]


def query_log(words: list[str], seed: int, n: int, n_pool: int = 300, zipf_s: float = 1.0) -> list[Query]:
    """``n`` requests drawn from a Zipf pool of query texts, so texts recur;
    every request has its own query id."""
    pool = query_pool(words, seed, n_pool)
    rng = np.random.default_rng([seed, 3])
    pick = rng.choice(len(pool), size=n, p=zipf_probs(len(pool), zipf_s))
    out = []
    for i, j in enumerate(pick):
        text, kind, cls = pool[j]
        flt = f"lang = '{LANGS[j % 3 + 1]}'" if kind == "filtered" else None
        out.append(Query(f"q{seed}-{i}", text, kind, cls, flt))
    return out


def batches_of(log: list[Query], size: int) -> list[list[Query]]:
    """Group ``plain`` requests into batches of ``size`` distinct texts, in
    log order; leftover requests are dropped."""
    out, cur = [], []
    for q in log:
        if q.kind != "plain" or any(q.text == c.text for c in cur):
            continue
        cur.append(q)
        if len(cur) == size:
            out.append(cur)
            cur = []
    return out


# mirror clusters per 800 docs (size: count); the rest are unique docs.
# Fixed, so the pair count, and with it the dedup work, barely varies by seed
CLUSTERS_PER_800 = {40: 4, 20: 4, 10: 8, 5: 16, 3: 20, 2: 30}


def near_dup_corpus(seed: int, n_docs: int, vocab: int = 4000, mean_len: int = 120) -> list[tuple[int, str]]:
    """(doc_id, text) rows: mirror clusters (``CLUSTERS_PER_800``, scaled to
    ``n_docs``), each member a copy of the cluster's source with 0-3% of its
    tokens replaced, plus unique documents. Doc ids are a seeded
    permutation, so a cluster's members are scattered over the id space."""
    rng = np.random.default_rng([seed, 4])
    words = make_vocab(rng, vocab)
    probs = zipf_probs(vocab, 0.9)
    sizes = [s for s, c in CLUSTERS_PER_800.items() for _ in range(c * n_docs // 800)]
    sizes += [1] * (n_docs - sum(sizes))
    texts: list[str] = []
    for size in sizes:
        n = int(np.clip(rng.lognormal(np.log(mean_len), 0.4), 20, 6 * mean_len))
        src = rng.choice(vocab, size=n, p=probs)
        for _ in range(size):
            doc = src.copy()
            n_edit = int(rng.integers(0, max(1, n * 3 // 100) + 1))
            pos = rng.choice(n, size=n_edit, replace=False)
            doc[pos] = rng.choice(vocab, size=n_edit, p=probs)
            texts.append(_render([words[i] for i in doc], rng))
    ids = rng.permutation(n_docs)
    return sorted(zip((int(i) for i in ids), texts))
