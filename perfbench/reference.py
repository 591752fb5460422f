"""Reference answers and the per-call checker.

A workload's reference answer is its neighbour-pair count plus its
pattern -> WPI map, WPI rounded to 1e-9.  Both come from NumPy code that
shares nothing with the engine or with the timed plan:

- the pair count from ``count_pairs``, a cell-grid count;
- the patterns from ``exact_patterns``: every clique enumerated, the WPI
  formula written out, and the prevalent sets selected by the definition
  rather than by the engine's candidate pruning.

It is computed once per (workload, input digest) and cached as JSON with
its provenance, so a repeated seed reuses it.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import time

import numpy as np

WPI_DIGITS = 9


def neighbour_pairs(
    codes: np.ndarray, x: np.ndarray, y: np.ndarray, d: float
) -> tuple[np.ndarray, np.ndarray]:
    """Unordered cross-feature pairs with ``sqrt(dx^2 + dy^2) <= d``, as two
    index arrays into the inputs.

    Points are bucketed into ``d x d`` cells; each cell is compared with
    itself (``i < j``) and with four forward neighbours, so every pair is
    seen once.  The distance uses the same double operations as the
    engine's predicate, so pairs at exactly ``d`` agree."""
    cx = np.floor((x - x.min()) / d).astype(np.int64)
    cy = np.floor((y - y.min()) / d).astype(np.int64)
    width = int(cy.max()) + 3
    key = (cx + 1) * width + (cy + 1)
    order = np.argsort(key, kind="stable")
    key, codes, x, y = key[order], codes[order], x[order], y[order]
    cells, start, size = np.unique(key, return_index=True, return_counts=True)

    found_a, found_b = [], []
    for off in (0, width - 1, width, width + 1, 1):
        pos = np.searchsorted(cells, cells + off)
        pos[pos == len(cells)] = 0
        hit = cells[pos] == cells + off
        a_start, a_size = start[hit], size[hit]
        b_start, b_size = start[pos[hit]], size[pos[hit]]
        # every (a, b) index pair of every matched cell pair, vectorised
        n_pairs = a_size * b_size
        if not n_pairs.sum():
            continue
        grp = np.repeat(np.arange(len(n_pairs)), n_pairs)
        within = np.arange(n_pairs.sum()) - np.repeat(np.cumsum(n_pairs) - n_pairs, n_pairs)
        ia = a_start[grp] + within // b_size[grp]
        ib = b_start[grp] + within % b_size[grp]
        keep = codes[ia] != codes[ib]
        if off == 0:
            keep &= ia < ib
        dx = x[ia] - x[ib]
        dy = y[ia] - y[ib]
        keep &= np.sqrt(dx * dx + dy * dy) <= d
        found_a.append(order[ia[keep]])
        found_b.append(order[ib[keep]])
    if not found_a:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(found_a), np.concatenate(found_b)


def count_pairs(codes: np.ndarray, x: np.ndarray, y: np.ndarray, d: float) -> int:
    return len(neighbour_pairs(codes, x, y, d)[0])


def exact_wpi(codes: np.ndarray, x: np.ndarray, y: np.ndarray, d: float) -> dict:
    """WPI of every feature set that has at least one clique, by exhaustive
    clique enumeration: ``{sorted feature codes: WPI}``.

    No candidate generation and no pruning, and the WPI formula (Yang et
    al., Def. 1-5) is written out here rather than taken from the engine,
    so this shares no code with either physical plan.  Cost grows with
    the number of cliques; it suits inputs of tens of thousands of sparse
    instances."""
    a, b = neighbour_pairs(codes, x, y, d)
    lo, hi = np.minimum(a, b), np.maximum(a, b)
    later: dict[int, set[int]] = {}
    for u, v in zip(lo.tolist(), hi.tolist()):
        later.setdefault(u, set()).add(v)
    feat = codes.tolist()
    members: dict[tuple, dict[int, set[int]]] = {}

    def extend(clique: list[int], common: set[int]) -> None:
        for v in sorted(common):
            c = clique + [v]
            part = members.setdefault(tuple(sorted(feat[i] for i in c)), {})
            for i in c:
                part.setdefault(feat[i], set()).add(i)
            extend(c, common & later.get(v, set()))

    for u in sorted(later):
        extend([u], later[u])

    counts = np.bincount(codes)
    ranked = sorted(int(c) for c in counts[counts > 0])
    m = len(ranked)
    total = sum(ranked[j] / ranked[i] for i in range(m) for j in range(i + 1, m))
    delta = 2.0 * total / (m * (m - 1)) if m > 1 else 0.0
    out = {}
    for key, part in members.items():
        n_min = min(int(counts[f]) for f in key)
        best = math.inf
        for f in key:
            v = int(counts[f]) / n_min
            ri = math.exp(-((v - 1.0) ** 2) / (2.0 * delta * delta)) if delta > 1e-9 else 0.0
            w = 1.0 / ri if ri > 1e-9 else 0.0
            best = min(best, len(part[f]) / int(counts[f]) * w)
        out[key] = best
    return out


def exact_patterns(
    names: np.ndarray, codes: np.ndarray, x: np.ndarray, y: np.ndarray, d: float, min_prev: float
) -> dict:
    """The prevalent patterns of an input and their WPI, by exhaustive
    count: ``{names in canonical order joined by ",": WPI rounded}``.

    ``codes`` index ``names``.  Canonical order is ascending (instance
    count, name), the engine's feature rank, so ``c[0]`` is the rarest
    feature.  See ``prevalent`` for the selection."""
    counts = np.bincount(codes, minlength=len(names))
    order = sorted(range(len(names)), key=lambda f: (int(counts[f]), str(names[f])))
    return {
        ",".join(str(names[f]) for f in c): round(v, WPI_DIGITS)
        for c, v in prevalent(exact_wpi(codes, x, y, d), order, min_prev).items()
    }


def prevalent(wpi: dict, order: list, min_prev: float) -> dict:
    """``{canonical feature tuple: WPI}`` of the prevalent sets among
    ``wpi`` (``{feature set: WPI}``, as ``exact_wpi`` gives it), with
    features canonically ordered by ``order`` (rarest first).

    A pair is prevalent when its WPI reaches ``min_prev``.  A larger set
    ``c`` is prevalent when its WPI reaches ``min_prev`` and every subset
    that keeps ``c[0]`` is prevalent: WPI is only conditionally
    anti-monotone (Lemma 2 of Yang et al.), so the miner builds each
    candidate from those subsets.  Lemma 3 is left out on purpose: it is
    an upper bound meant to skip candidates whose WPI is below
    ``min_prev``, so it may not change the answer."""
    pos = {f: i for i, f in enumerate(order)}
    canon = {tuple(sorted(k, key=pos.__getitem__)): v for k, v in wpi.items() if len(k) >= 2}
    out: dict = {}
    for c in sorted(canon, key=len):
        subsets = (c[:i] + c[i + 1 :] for i in range(1, len(c)))
        if canon[c] >= min_prev and (len(c) == 2 or all(s in out for s in subsets)):
            out[c] = canon[c]
    return out


def answer_of(result) -> dict:
    """The comparable part of a ``MiningResult``."""
    return {
        "pairs": int(result.pair_count),
        "wpi": {",".join(p): round(float(result.wpi[p]), WPI_DIGITS) for p in result.patterns},
    }


def by_name_set(answer: dict) -> dict:
    """``answer`` with each pattern keyed by its sorted feature names, so it
    compares with an answer whose features are ranked differently."""
    return {
        "pairs": answer["pairs"],
        "wpi": {",".join(sorted(p.split(","))): v for p, v in answer["wpi"].items()},
    }


def check(got: dict, ref: dict) -> list[str]:
    """Differences between one call's answer (``answer_of``) and the
    reference; empty when the call returned the reference answer."""
    out = []
    if got["pairs"] != ref["pairs"]:
        out.append(f"pairs {got['pairs']} != {ref['pairs']}")
    for p in sorted(set(got["wpi"]) | set(ref["wpi"])):
        a, b = got["wpi"].get(p), ref["wpi"].get(p)
        if a != b:
            out.append(f"pattern {p}: wpi {a} != {b}")
    return out


def error_rate(attempted: int, failed: int) -> float:
    """Share of timed calls that raised or returned a wrong answer."""
    return failed / attempted


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def reference(workload, path: str, cache_dir: str, d: float, min_prev: float) -> dict:
    """The reference for the input at ``path``: read from the cache, or
    built from ``count_pairs`` and ``exact_patterns`` and cached with its
    provenance."""
    digest = file_digest(path)
    cache = os.path.join(cache_dir, f"{workload.name}-{digest[:16]}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    t0 = time.perf_counter()
    names, codes, x, y = workload.arrays(path)
    ref = {
        "pairs": count_pairs(codes, x, y, d),
        "wpi": exact_patterns(names, codes, x, y, d, min_prev),
        "provenance": {
            "workload": workload.name,
            "input_sha256": digest,
            "pairs_from": "perfbench.reference.count_pairs (NumPy cell grid)",
            "patterns_from": "perfbench.reference.exact_patterns (exhaustive clique count)",
            "d": d,
            "min_prev": min_prev,
            "build_s": time.perf_counter() - t0,
            "created_unix": time.time(),
        },
    }
    os.makedirs(cache_dir, exist_ok=True)
    tmp = cache + ".tmp"
    with open(tmp, "w") as f:
        json.dump(ref, f, indent=1, sort_keys=True)
    os.replace(tmp, cache)
    return ref
