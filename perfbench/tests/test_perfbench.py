"""Self-test of the benchmark: generators, the NumPy pair counter, the
exhaustive WPI count and the committed answer it backs, and the per-call
checker, on tiny inputs.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import dataclasses
import itertools
import json
import math
import os
import sys
from collections import Counter

import numpy as np
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
from reference import (  # noqa: E402
    WPI_DIGITS,
    answer_of,
    by_name_set,
    check,
    count_pairs,
    error_rate,
    exact_wpi,
    prevalent,
    reference,
)
from workloads import (  # noqa: E402
    D,
    EVENT_TYPES,
    EVENTS_N,
    KNOWN_ANSWERS,
    MIN_PREV,
    RARE_COUNTS,
    WORKLOADS,
    event_names,
    events_table,
    events_xy,
    rare_table,
)


def brute_pairs(codes, x, y, d):
    dx = x[:, None] - x[None, :]
    dy = y[:, None] - y[None, :]
    close = np.sqrt(dx * dx + dy * dy) <= d
    cross = codes[:, None] != codes[None, :]
    return int(np.triu(close & cross, 1).sum())


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_generators_are_seeded(name):
    w = WORKLOADS[name]
    assert w.table(3).equals(w.table(3))
    assert not w.table(3).equals(w.table(4))


def test_rare_generator_keeps_counts_and_unique_ids():
    t = rare_table(5)
    assert Counter(t["feature"].to_pylist()) == RARE_COUNTS
    assert t.num_rows == WORKLOADS["rare400_subtree"].n
    assert len(set(t["id"].to_pylist())) == t.num_rows


def test_count_pairs_matches_brute_force():
    rng = np.random.default_rng(0)
    # a lattice puts many pairs at exactly d, where the predicate is inclusive
    x = rng.integers(0, 40, 1_500) * 0.5
    y = rng.integers(0, 40, 1_500) * 0.5
    codes = rng.integers(0, 4, 1_500)
    assert count_pairs(codes, x, y, 1.0) == brute_pairs(codes, x, y, 1.0)

    ids = np.arange(3_000)
    ex, ey = events_xy(ids)
    codes = rng.integers(0, 5, 3_000)
    assert count_pairs(codes, ex, ey, 25.0) == brute_pairs(codes, ex, ey, 25.0)


def brute_wpi(codes, x, y, d, pattern):
    """WPI of one feature set by trying every combination of its instances."""
    counts = np.bincount(codes)
    ranked = sorted(int(c) for c in counts)
    m = len(ranked)
    delta = 2.0 * sum(ranked[j] / ranked[i] for i in range(m) for j in range(i + 1, m)) / (m * (m - 1))
    near = {(i, j) for i, j in zip(*np.nonzero(np.hypot(x[:, None] - x, y[:, None] - y) <= d))}
    part = {f: set() for f in pattern}
    for combo in itertools.product(*[np.flatnonzero(codes == f) for f in pattern]):
        if all((a, b) in near for a, b in itertools.combinations(combo, 2)):
            for f, i in zip(pattern, combo):
                part[f].add(i)
    n_min = min(counts[f] for f in pattern)
    return min(
        len(part[f]) / counts[f] / math.exp(-((counts[f] / n_min - 1.0) ** 2) / (2.0 * delta * delta))
        for f in pattern
    )


def test_exact_wpi_matches_brute_force():
    rng = np.random.default_rng(2)
    codes = rng.integers(0, 4, 160)
    x = rng.uniform(0, 30, 160)
    y = rng.uniform(0, 30, 160)
    got = exact_wpi(codes, x, y, 3.0)
    assert any(len(p) == 3 for p in got)
    for p, v in got.items():
        assert v == pytest.approx(brute_wpi(codes, x, y, 3.0, p), abs=1e-12)


def test_prevalent_needs_only_the_subsets_that_keep_the_rarest_feature():
    # features 0 (rarest) .. 3 (commonest); every WPI reaches min_prev
    # except those of (0, 2) and (1, 3)
    wpi = {(0, 1): 0.5, (0, 2): 0.05, (0, 3): 0.5, (1, 2): 0.5, (1, 3): 0.05, (2, 3): 0.5,
           (0, 1, 2): 0.3, (0, 1, 3): 0.3, (0, 2, 3): 0.3, (1, 2, 3): 0.3, (0, 1, 2, 3): 0.2}
    got = prevalent(wpi, [0, 1, 2, 3], 0.1)
    # (0, 1, 3) stays although (1, 3) is not prevalent: that subset drops
    # the rarest feature.  The other triples keep it in a non-prevalent pair.
    assert set(got) == {(0, 1), (0, 3), (1, 2), (2, 3), (0, 1, 3)}
    # canonical order follows the rank, not the numbering
    assert set(prevalent({(0, 1): 0.5}, [1, 0], 0.1)) == {(1, 0)}


def test_known_events_answer_is_exact():
    """The committed events_levelwise answer is what the exhaustive count
    gives on the generated table, for any seed's names."""
    t = events_table(3)
    names = list(event_names(np.random.default_rng(3)))
    groups = np.array([names.index(n) for n in t["event_type"].to_pylist()])
    x, y = events_xy(t["event_id"].to_numpy())
    known = json.loads(KNOWN_ANSWERS.read_text())["events_levelwise"]
    assert count_pairs(groups, x, y, D) == known["pairs"]
    exact = {
        ",".join(map(str, p)): round(v, WPI_DIGITS)
        for p, v in exact_wpi(groups, x, y, D).items()
        if v >= MIN_PREV
    }
    assert exact == known["wpi"]
    assert len(t) == EVENTS_N


def test_known_answer_catches_a_wrong_pattern():
    w = WORKLOADS["events_levelwise"]
    known = w.known_answer(5)
    assert {n for p in known["wpi"] for n in p.split(",")} == set(EVENT_TYPES)
    # the engine lists a pattern's features rarest first, not sorted
    got = {"pairs": known["pairs"], "wpi": {",".join(reversed(p.split(","))): v
                                            for p, v in known["wpi"].items()}}
    assert check(by_name_set(got), known) == []
    p = next(iter(got["wpi"]))
    got["wpi"][p] += 1e-6
    assert len(check(by_name_set(got), known)) == 1
    assert WORKLOADS["rare400_subtree"].known_answer(5) is None


def tiny_input(name: str, out: str) -> str:
    w = WORKLOADS[name]
    t = w.table(1)
    if name == "events_levelwise":
        keep = t["event_id"].to_numpy() < 12_000
    else:
        keep = (t["x"].to_numpy() < 500) & (t["y"].to_numpy() < 500)
    path = os.path.join(out, w.file)
    pq.write_table(t.filter(keep), path)
    return path


@pytest.fixture(scope="module")
def spark():
    s = run.start_session()
    yield s
    run.stop_session(s)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_checker_counts_a_wrong_answer(spark, name, tmp_path):
    w = WORKLOADS[name]
    bench = run.Run(w, seed=1, seconds=0)
    bench.spark, bench.cache_dir = spark, str(tmp_path / "ref")
    bench.path = tiny_input(name, str(tmp_path))
    bench.inst = w.load(spark, bench.path).persist()

    _, good = bench.timed_call()
    assert good.patterns, "the tiny input must have prevalent patterns"
    wrong = dataclasses.replace(good, pair_count=good.pair_count + 1)
    bench.call = lambda: wrong
    bench.timed_call()
    bench.check_all()
    assert (bench.attempted, bench.failed) == (2, 1)
    assert error_rate(bench.attempted, bench.failed) == 0.5

    ref = reference(w, bench.path, bench.cache_dir, D, MIN_PREV)
    assert "exact_patterns" in ref["provenance"]["patterns_from"]
    assert check(answer_of(good), ref) == []
    assert check(answer_of(wrong), ref) == [f"pairs {ref['pairs'] + 1} != {ref['pairs']}"]
    dropped = dataclasses.replace(good, patterns=good.patterns[1:])
    assert len(check(answer_of(dropped), ref)) == 1
    bench.inst.unpersist()
