"""Each output check must reject a wrong answer: a swapped rank, a score
off by 1e-6, a dropped or altered pair, a wrong cluster representative.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from checks import check_clusters, check_hits_satisfy, check_pairs, check_recall, check_topk, round6  # noqa: E402
from reference import BM25Ref, components, exact_pairs, token_sets  # noqa: E402

DOCS = [
    ("u1", "Spark builds an index. The index is fast.", "en"),
    ("u2", "An index of the web, built by spark and spark again.", "de"),
    ("u3", "Nothing to see here.", "en"),
    ("u4", "Fast spark; fast index; fast web.", "en"),
]


def _engine_answer(ref: BM25Ref, text: str, k: int = 10, **kw):
    """What a correct engine returns: (rank, key, score), best first, ties
    by key."""
    s = ref.scores(text, **kw)
    order = sorted(s, key=lambda u: (-s[u], u))[:k]
    return [(i + 1, u, s[u]) for i, u in enumerate(order)], s


def test_topk_accepts_correct_answer():
    ref = BM25Ref(DOCS)
    hits, want = _engine_answer(ref, "spark index")
    assert len(hits) == 3
    assert check_topk("q", hits, want, 10) == []


def test_topk_rejects_swapped_rank():
    ref = BM25Ref(DOCS)
    hits, want = _engine_answer(ref, "spark index")
    assert hits[0][2] != hits[1][2]
    swapped = [(1, hits[1][1], hits[1][2]), (2, hits[0][1], hits[0][2])] + hits[2:]
    assert check_topk("q", swapped, want, 10)


def test_topk_rejects_score_off_by_1e6():
    ref = BM25Ref(DOCS)
    hits, want = _engine_answer(ref, "spark index")
    off = [(r, u, s + 1e-6 if r == 2 else s) for r, u, s in hits]
    assert check_topk("q", off, want, 10)


def test_topk_rejects_missing_and_extra_hits():
    ref = BM25Ref(DOCS)
    hits, want = _engine_answer(ref, "spark index")
    assert check_topk("q", hits[:-1], want, 10)
    assert check_topk("q", hits + [(4, "u3", 0.5)], want, 10)


def test_topk_accepts_ties_in_any_order():
    docs = [("a", "x y", "en"), ("b", "x y", "en"), ("c", "z", "en")]
    ref = BM25Ref(docs)
    hits, want = _engine_answer(ref, "x")
    flipped = [(1, hits[1][1], hits[1][2]), (2, hits[0][1], hits[0][2])]
    assert check_topk("q", flipped, want, 10) == []


def test_conjunctive_and_filter():
    ref = BM25Ref(DOCS)
    hits, want = _engine_answer(ref, "spark web", conjunctive=True)
    assert {u for _, u, _ in hits} == {"u2", "u4"}
    terms = dict(zip(ref.keys, ref.tokens))
    langs = dict(zip(ref.keys, ref.langs))
    assert check_hits_satisfy("q", hits, ["spark", "web"], terms, None, langs) == []
    assert check_hits_satisfy("q", [(1, "u1", 1.0)], ["spark", "web"], terms, None, langs)
    hits, _ = _engine_answer(ref, "spark", lang="en")
    assert "u2" not in {u for _, u, _ in hits}
    assert check_hits_satisfy("q", [(1, "u2", 1.0)], [], terms, "en", langs)


def _pairs():
    texts = ["a b c d e", "a b c d e f", "a b c d x", "p q r", "p q r s"]
    sets = dict(enumerate(token_sets(texts)))
    exact = exact_pairs([sets[i] for i in range(len(texts))], 0.8)
    rows = [(a, b, i, na, nb, round6(i / (na + nb - i))) for (a, b), (i, na, nb) in sorted(exact.items())]
    return sets, exact, rows


def test_pairs_accept_exact_answer():
    sets, exact, rows = _pairs()
    assert set(exact) == {(0, 1)}  # J(0,1)=5/6; J(3,4)=3/4 is under 0.8
    assert check_pairs(rows, sets, 0.8) == []


def test_pairs_reject_wrong_value_and_below_threshold():
    sets, _, rows = _pairs()
    a, b, i, na, nb, j = rows[0]
    assert check_pairs([(a, b, i, na, nb, j + 1e-6)], sets, 0.8)
    assert check_pairs([(3, 4, 3, 3, 4, 0.75)], sets, 0.8)
    assert check_pairs([(a, b, i + 1, na, nb, j)], sets, 0.8)


def test_recall_rejects_a_dropped_pair():
    sets, exact, rows = _pairs()
    found = {(a, b) for a, b, *_ in rows}
    assert check_recall(found, set(exact)) == []
    dropped = rows[:-1]
    assert check_pairs(dropped, sets, 0.8) == []  # what is there is right
    assert check_recall({(a, b) for a, b, *_ in dropped}, set(exact))


def test_round6_is_half_up():
    assert round6(0.8203125) == 0.820313  # 105/128: a tie, rounded up
    assert round6(5 / 6) == 0.833333


def test_clusters():
    ids = [0, 1, 2, 3, 4]
    comp = components(ids, [(1, 4), (4, 2)])
    assert comp == {0: 0, 1: 1, 2: 1, 3: 3, 4: 1}
    good = [(d, comp[d]) for d in ids]
    assert check_clusters(good, ids, comp) == []
    assert check_clusters([(d, 2 if d == 2 else r) for d, r in good], ids, comp)
    assert check_clusters(good[:-1], ids, comp)
