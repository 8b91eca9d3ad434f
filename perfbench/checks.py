"""Output checks. Each returns a list of error strings; empty means the
engine's output agrees with the benchmark's reference."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

TOL = 1e-9


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= TOL * max(1.0, abs(b))


def check_topk(name: str, hits: list[tuple[int, str, float]], ref: dict[str, float], k: int) -> list[str]:
    """``hits`` = engine's [(rank, key, score)]; ``ref`` = key -> reference
    score of every doc that matches. The hit at rank i must score what the
    reference's i-th best scores, and every hit's own reference score; docs
    tied at a score may come in any order."""
    hits = sorted(hits)
    want = sorted(ref.values(), reverse=True)[:k]
    errs = []
    if [r for r, _, _ in hits] != list(range(1, len(want) + 1)):
        errs.append(f"{name}: ranks {[r for r, _, _ in hits]} for {len(want)} expected hits")
    if len({key for _, key, _ in hits}) != len(hits):
        errs.append(f"{name}: a doc appears twice")
    for (rank, key, score), expect in zip(hits, want):
        if key not in ref:
            errs.append(f"{name}: rank {rank} {key} does not match the query")
        elif not _close(score, ref[key]):
            errs.append(f"{name}: rank {rank} {key} scored {score!r}, reference {ref[key]!r}")
        elif not _close(score, expect):
            errs.append(f"{name}: rank {rank} scored {score!r}, reference rank {rank} scores {expect!r}")
    return errs


def check_hits_satisfy(name: str, hits, terms: list[str], doc_terms: dict[str, set], lang: str | None, doc_lang: dict[str, str]) -> list[str]:
    """Conjunctive hits hold every query term; filtered hits pass the filter."""
    errs = []
    for rank, key, _ in hits:
        if terms and not set(terms) <= doc_terms[key]:
            errs.append(f"{name}: rank {rank} {key} lacks a required term")
        if lang is not None and doc_lang[key] != lang:
            errs.append(f"{name}: rank {rank} {key} has lang {doc_lang[key]}, filter wants {lang}")
    return errs


def round6(x: float) -> float:
    """Round half up to 6 decimals, as the engine reports Jaccard."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def check_pairs(rows, sets: dict[int, frozenset], threshold: float) -> list[str]:
    """``rows`` = engine's (doc_a, doc_b, inter, n_a, n_b, jaccard). Each
    pair's Jaccard, recomputed exactly from ``sets`` (doc id -> token set),
    must reach the threshold and equal the reported value."""
    errs, seen = [], set()
    for a, b, inter, n_a, n_b, jac in rows:
        if not a < b or (a, b) in seen:
            errs.append(f"pair ({a}, {b}) out of order or repeated")
            continue
        seen.add((a, b))
        sa, sb = sets[a], sets[b]
        i_ = len(sa & sb)
        exact = i_ / (len(sa) + len(sb) - i_)
        if (inter, n_a, n_b) != (i_, len(sa), len(sb)):
            errs.append(f"pair ({a}, {b}): counts {(inter, n_a, n_b)}, exact {(i_, len(sa), len(sb))}")
        elif exact < threshold:
            errs.append(f"pair ({a}, {b}): Jaccard {exact!r} below {threshold}")
        elif jac != round6(exact):
            errs.append(f"pair ({a}, {b}): reported {jac!r}, exact {exact!r}")
    return errs


def check_recall(found: set, exact: set) -> list[str]:
    """Every pair that reaches the threshold by exact Jaccard must be
    reported. The engine's MinHash bands (r=2, b=16) miss a pair at
    J = 0.8 with probability about 8e-8, so a missed pair is a fault."""
    missed = sorted(exact - found)
    if missed:
        return [f"{len(missed)} of {len(exact)} exact pairs not reported, e.g. {missed[0]}"]
    return []


def check_clusters(rows, ids: list[int], comp: dict[int, int]) -> list[str]:
    """``rows`` = engine's (doc_id, rep_id): each doc exactly once, mapped
    to the minimum doc id of its component ``comp``."""
    errs = []
    got = {}
    for d, r in rows:
        if d in got:
            errs.append(f"doc {d} appears twice")
        got[d] = r
    if set(got) != set(ids):
        errs.append(f"{len(set(ids) ^ set(got))} docs missing or unknown")
    bad = [d for d in ids if d in got and got[d] != comp[d]]
    if bad:
        errs.append(f"{len(bad)} docs with the wrong representative, e.g. doc {bad[0]}: {got[bad[0]]} != {comp[bad[0]]}")
    return errs
