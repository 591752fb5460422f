"""Seeded input generators and loaders for the benchmark's workloads.

Each workload is one generated input plus the physical plan that mines it.
The generators are pure NumPy: the engine receives only the parquet file
they write.  The same ``--seed`` always gives the same bytes.

Run one generator on its own::

    python3 perfbench/workloads.py --workload rare400_subtree --seed 3 --out out
"""

from __future__ import annotations

import argparse
import json
import math
import os
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: answers pinned for the workloads whose problem does not change with the seed
KNOWN_ANSWERS = Path(__file__).resolve().parent / "known_answers.json"

#: all workloads mine with the same semantics
D = 6.0
MIN_PREV = 0.1

# ------------------------------------------------------------------ events
#: the five event types of the ``events`` table the engine's source reads
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


#: instances in the events table
EVENTS_N = 40_000
#: the label draw is fixed; see ``events_table``
EVENTS_LABEL_SEED = 0


def event_names(rng: np.random.Generator) -> np.ndarray:
    """The event type that label group ``g`` is named for this seed: the
    first draw of the seed's generator."""
    return np.array(EVENT_TYPES)[rng.permutation(len(EVENT_TYPES))]


def events_table(seed: int) -> pa.Table:
    """An ``events`` table as ``sources.events_source`` reads it: ids
    ``0..EVENTS_N-1`` with a uniform event type per row.  Coordinates are a
    fixed hash of ``event_id`` (see ``events_xy``) and the grouping of rows
    into types is one fixed draw; the seed renames the types and reorders
    the rows.  Each seed is thus the same mining problem up to names, with
    the one answer in ``known_answers.json``: with independent draws the
    number of prevalent size-4 patterns ranged from 1 to 5, whether level 5
    ran changed with it, and that moved the wall by up to 45%, hiding the
    run-to-run noise the seeds are there to show."""
    groups = np.random.default_rng(EVENTS_LABEL_SEED).integers(0, len(EVENT_TYPES), EVENTS_N)
    rng = np.random.default_rng(seed)
    names = event_names(rng)
    order = rng.permutation(EVENTS_N)
    return pa.table(
        {
            "event_id": np.arange(EVENTS_N, dtype=np.int64)[order],
            "event_type": names[groups][order],
        }
    )


def events_xy(event_id: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """NumPy replica of ``events_source.X_SQL`` / ``Y_SQL``: the same int64
    operations and the same final double division, so coordinates agree
    bit for bit with the ones Spark derives."""
    e = event_id.astype(np.int64)
    sq = (e * e) % 99991
    x = ((sq * 31 + e * 48271 + 11) % 99991) / 100.0
    y = ((sq * 57 + e * 69621 + 17) % 99991) / 100.0
    return x, y


# -------------------------------------------------------------- rare case
#: 12 features whose counts fall geometrically from 20,000 to 50 (400:1)
RARE_FEATURES = tuple(f"f{i:02d}" for i in range(12))
RARE_COUNTS = {
    f: round(20_000 * 400 ** (-i / 11)) for i, f in enumerate(RARE_FEATURES)
}
RARE_PLANE = 1_768.0

#: planted cliques, rarest centre first: every instance of a rare feature
#: that an earlier clique did not take sits at the centre of a clique with
#: one instance of each feature of a fixed group (a feature named twice
#: gets two instances).  ``f11`` splits its instances over two groups that
#: share ``f10``, so its subtree generates three size-4 candidates and
#: Lemma 2 keeps only ``(f11, f10, f09, f08)``: the other two need
#: ``(f11, f09, f07)`` or ``(f11, f08, f07)``, which have no cliques.
RARE_GROUPS: dict[str, tuple[tuple[float, tuple[str, ...]], ...]] = {
    "f11": ((0.5, ("f10", "f09", "f08", "f08")), (0.5, ("f10", "f07", "f07"))),
    "f10": ((1.0, ("f09", "f08")),),
    "f09": ((1.0, ("f08", "f07")),),
    "f08": ((1.0, ("f07", "f06")),),
    "f07": ((1.0, ("f06", "f05")),),
    "f06": ((1.0, ("f05", "f04", "f03")),),
}


def rare_table(seed: int) -> pa.Table:
    """Rare-feature instances: commons uniform on the plane, every rare
    instance at the centre of a planted clique whose members lie within
    ``0.45 * D`` of it (so all of them are pairwise within ``D``)."""
    rng = np.random.default_rng(seed)
    left = dict(RARE_COUNTS)
    feats: list[np.ndarray] = []
    xs: list[np.ndarray] = []
    ys: list[np.ndarray] = []

    def emit(f: str, x: np.ndarray, y: np.ndarray) -> None:
        left[f] -= len(x)
        if left[f] < 0:
            raise ValueError(f"planted cliques need more {f} than it has")
        feats.append(np.full(len(x), f))
        xs.append(x)
        ys.append(y)

    for rare, groups in RARE_GROUPS.items():
        n = left[rare]  # the instances earlier cliques did not take
        cx = rng.uniform(D, RARE_PLANE - D, n)
        cy = rng.uniform(D, RARE_PLANE - D, n)
        emit(rare, cx, cy)
        start = 0
        for i, (share, partners) in enumerate(groups):
            stop = n if i == len(groups) - 1 else start + round(share * n)
            m = stop - start
            for p in partners:
                r = 0.45 * D * np.sqrt(rng.uniform(0.0, 1.0, m))
                t = rng.uniform(0.0, 2.0 * math.pi, m)
                emit(p, cx[start:stop] + r * np.cos(t), cy[start:stop] + r * np.sin(t))
            start = stop
    for f in RARE_FEATURES:
        emit(f, rng.uniform(0.0, RARE_PLANE, left[f]), rng.uniform(0.0, RARE_PLANE, left[f]))

    feature = np.concatenate(feats)
    order = rng.permutation(len(feature))
    feature = feature[order]
    ident = np.char.add(np.char.add(feature.astype(str), "#"), np.arange(len(feature)).astype(str))
    return pa.table(
        {
            "feature": feature,
            "id": ident,
            "x": np.concatenate(xs)[order],
            "y": np.concatenate(ys)[order],
        }
    )


# -------------------------------------------------------------- workloads
@dataclass(frozen=True)
class Workload:
    name: str
    #: input format: "events" (an events table, read through
    #: ``sources.events_source``) or "instances" (feature, id, x, y)
    source: str
    #: ColocationMiner method the timed calls run
    plan: str
    #: instance count at full size
    n: int
    #: nominal seconds of one warm call of ``plan`` on a 4-vCPU host
    call_s: float

    @property
    def file(self) -> str:
        return f"{self.source}.parquet"

    def calls(self, seconds: float) -> int:
        """Timed calls in a run of about ``seconds``: a count set by
        ``seconds`` alone, at least one.  Calls made until the window
        closes would be fewer on a slow host, and their median would then
        fall on an earlier, slower point of the JIT warm-up curve: the
        host's slowdown would count twice."""
        return max(1, round(seconds / self.call_s))

    def table(self, seed: int) -> pa.Table:
        return events_table(seed) if self.source == "events" else rare_table(seed)

    def write(self, seed: int, out_dir: str) -> str:
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, self.file)
        pq.write_table(self.table(seed), path)
        return path

    def known_answer(self, seed: int) -> dict | None:
        """The committed answer for this seed's input, in the seed's type
        names with each pattern's names sorted (``reference.by_name_set``);
        None for a workload whose problem changes with the seed."""
        if self.source != "events":
            return None
        known = json.loads(KNOWN_ANSWERS.read_text())[self.name]
        names = event_names(np.random.default_rng(seed))
        return {
            "pairs": known["pairs"],
            "wpi": {
                ",".join(sorted(names[int(g)] for g in groups.split(","))): v
                for groups, v in known["wpi"].items()
            },
        }

    def arrays(self, path: str) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        """(feature names, feature code per row, x, y) straight from the
        parquet, for the NumPy reference; codes index the names."""
        t = pq.read_table(path)
        if self.source == "events":
            x, y = events_xy(t["event_id"].to_numpy())
            labels = t["event_type"].to_numpy(zero_copy_only=False)
        else:
            x, y = t["x"].to_numpy(), t["y"].to_numpy()
            labels = t["feature"].to_numpy(zero_copy_only=False)
        names, codes = np.unique(labels, return_inverse=True)
        return names, codes, x, y

    def load(self, spark, path: str):
        """The engine's instance DataFrame ``(feature, id, x, y)``."""
        if self.source == "events":
            from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.sources.events_source import (
                instances_from_events,
            )

            return instances_from_events(spark, os.path.dirname(path))
        return spark.read.parquet(path).select("feature", "id", "x", "y")


WORKLOADS = {
    w.name: w
    for w in (
        Workload("events_levelwise", "events", "mine", EVENTS_N, call_s=5.0),
        Workload(
            "rare400_subtree", "instances", "mine_subtrees", sum(RARE_COUNTS.values()), call_s=10.0
        ),
    )
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True, help="directory for the parquet file")
    a = ap.parse_args()
    print(WORKLOADS[a.workload].write(a.seed, a.out))


if __name__ == "__main__":
    main()
