"""Co-location mining benchmark: end-to-end walls plus a traced layer ledger.

Run from the repository root::

    python3 perfbench/run.py --workload events_levelwise --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

One run generates the workload's input from ``--seed``, starts a Spark
session at ``local[nproc]``, loads and persists the input, warms the timed
plan up, then times calls to it for about ``--seconds`` (a call count set by
``--seconds`` alone, see ``Workload.calls``) and checks each result
against the reference answer (see ``reference.py``).  With ``--trace 1``
the same run also calls each layer on its own under the ledger
(``ledger.py``) and reports per-layer metrics instead.  ``LAYERS.md`` lists
every metric.  The last line of standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

from reference import answer_of, by_name_set, check, error_rate, reference
from workloads import D, MIN_PREV, WORKLOADS

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
sys.path.insert(0, str(ROOT))
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "3g"
#: level metrics are reported for these sizes: both workloads mine levels 2-4
LEVELS = range(2, 5)
#: untimed calls of the plan before timing starts (part of ``setup_s``).  The
#: median over the timed calls absorbs the rest of the JIT warm-up; a second
#: warm-up would cost a run more than the budget of all runs allows.
WARMUPS = 1


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session():
    """Engine session at ``local[nproc]``; every scratch file it writes stays
    under the checkout's ``.perfbench`` directory."""
    import efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark as eng

    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # the environment variable wins over spark.local.dir, so pin both
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    spark = eng.get_spark(
        f"local[{nproc()}]",
        app_name="perfbench",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def hygiene(spark) -> None:
    """Drain the previous call's localCheckpoint blocks: the context cleaner
    frees them only after a driver GC."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload, seed: int, seconds: float):
        self.w = workload
        self.seed = seed
        self.seconds = seconds
        self.spark = None
        self.cache_dir = str(WORK / "reference")
        #: one entry per checked call: its answer, or None if it raised
        self.answers: list[dict | None] = []
        #: the workload's committed answer for this seed, if it has one
        self.known: dict | None = None
        self.failed = 0

    @property
    def attempted(self) -> int:
        return len(self.answers)

    def call(self):
        import efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark as eng

        miner = eng.ColocationMiner(self.spark, eng.ColocationConfig(D, MIN_PREV))
        return getattr(miner, self.w.plan)(self.inst)

    def timed_call(self):
        """One timed call of the plan; its answer is kept for ``check_all``.
        Returns (wall seconds, result or None)."""
        hygiene(self.spark)
        t0 = time.perf_counter()
        try:
            res = self.call()
        except Exception:  # a raising call is a failed call, not a dead run
            wall = time.perf_counter() - t0
            traceback.print_exc()
            res = None
        else:
            wall = time.perf_counter() - t0
        self.answers.append(None if res is None else answer_of(res))
        return wall, res

    def setup(self) -> None:
        """Generate the input (not timed), then time session start, input
        load + persist and ``WARMUPS`` calls of the plan."""
        import efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark  # noqa: F401  fail before any work

        self.path = self.w.write(self.seed, str(WORK / "inputs" / f"{self.w.name}-s{self.seed}"))
        self.known = self.w.known_answer(self.seed)
        t0 = time.perf_counter()
        self.spark = start_session()
        t1 = time.perf_counter()
        self.inst = self.w.load(self.spark, self.path).persist()
        self.rows = self.inst.count()
        t2 = time.perf_counter()
        for _ in range(WARMUPS):
            hygiene(self.spark)
            self.call()
        self.setup_s = time.perf_counter() - t0
        self.session_start_s, self.load_s = t1 - t0, t2 - t1

    def check_all(self) -> None:
        """After timing: fetch or build the reference (``reference.py``),
        then check every kept answer against it and against the committed
        answer, if there is one."""
        ref = reference(self.w, self.path, self.cache_dir, D, MIN_PREV)
        for i, got in enumerate(self.answers):
            if got is None:
                diffs = ["raised"]
            else:
                diffs = check(got, ref)
                if self.known is not None:
                    diffs += [f"known answer: {x}" for x in check(by_name_set(got), self.known)]
            if diffs:
                self.failed += 1
                print(f"[perfbench] call {i + 1} differs from the reference: {diffs[:5]}",
                      file=sys.stderr)

    def timed(self) -> list[float]:
        """The run's timed calls: ``Workload.calls(seconds)`` of them."""
        return [self.timed_call()[0] for _ in range(self.w.calls(self.seconds))]

    def end_to_end(self) -> dict:
        walls = self.timed()
        wall = statistics.median(walls)
        print(f"[perfbench] {self.w.name} walls {[round(x, 3) for x in walls]}", file=sys.stderr)
        return {
            "mine_wall_s": wall,
            "instances_per_s": self.rows / wall,
            "setup_s": self.setup_s,
        }

    def per_layer(self) -> dict:
        from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.cells import compute_bounds
        from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.pairs import neighbor_pairs
        from efficient_co_location_pattern_mining_in_large_spatial_datasets_with_rare_features_spark.operators.stars import star_edges
        from ledger import Ledger

        counts = {r["feature"]: r["count"] for r in self.inst.groupBy("feature").count().collect()}
        ledger = Ledger(self.spark)
        baseline = ledger.persistent_rdds()
        samples: list[dict] = []
        untraced: list[float] = []
        t0 = time.perf_counter()
        while not samples or time.perf_counter() - t0 < self.seconds:
            # an untraced call next to each traced one prices the tracing
            untraced.append(self.timed_call()[0])
            i = len(samples)
            hygiene(self.spark)
            with ledger.span("iteration", i):
                with ledger.span("cells.bounds", i) as bounds:
                    compute_bounds(self.inst, D)
                with ledger.span("pairs", i) as pairs:
                    pairs_rows = neighbor_pairs(self.inst, D).count()
                with ledger.span("stars", i) as stars:
                    stars_rows = star_edges(neighbor_pairs(self.inst, D), counts).count()
                with ledger.span("miner", i) as miner:
                    res = self.call()
            self.answers.append(answer_of(res))
            m = {
                "cells.bounds_s": bounds.s,
                "pairs.rows": pairs_rows,
                "stars.s": stars.s,
                "stars.rows": stars_rows,
                "miner.leaked_rdds": ledger.leaked_rdds(baseline),
            }
            for name, sp in (("pairs", pairs), ("miner", miner)):
                m[f"{name}.s"] = sp.s
                for key in ("jobs", "stages", "tasks", "shuffle_read_bytes",
                            "shuffle_write_bytes", "executor_run_s"):
                    m[f"{name}.{key}"] = getattr(sp, key)
            m["miner.failed_tasks"] = miner.failed_tasks
            m["miner.no_job_s"] = miner.no_job_s
            m["miner.busy_share"] = miner.executor_run_s / (miner.s * nproc())
            m.update(level_metrics(res.levels, miner.s))
            samples.append(m)
        spans = WORK / f"spans-{self.w.name}-s{self.seed}.json"
        ledger.write(str(spans))
        print(f"[perfbench] spans written to {spans}", file=sys.stderr)

        out = {k: statistics.median(s[k] for s in samples) for k in samples[0]}
        out.update({
            "session.start_s": self.session_start_s,
            "source.load_s": self.load_s,
            "source.rows": self.rows,
            "jvm.peak_rss_mb": jvm_peak_rss_mb(self.spark),
            "trace.overhead_s": out["miner.s"] - statistics.median(untraced),
        })
        return out


def level_metrics(levels, miner_s: float) -> dict:
    """Per-level sums over subtrees, plus the semantic pruning counts."""
    m: dict = {}
    for k in LEVELS:
        at = [lv for lv in levels if lv.k == k]
        m[f"miner.level{k}.s"] = sum(lv.seconds for lv in at)
        m[f"miner.level{k}.max_subtree_s"] = max((lv.seconds for lv in at), default=0.0)
        m[f"miner.level{k}.rows"] = sum(lv.table_rows for lv in at)
        m[f"miner.level{k}.candidates"] = sum(lv.n_candidates for lv in at)
        m[f"miner.level{k}.filtered"] = sum(lv.n_filtered for lv in at)
        m[f"miner.level{k}.prevalent"] = sum(lv.n_prevalent for lv in at)
    filtered = sum(lv.n_filtered for lv in levels)
    m["miner.subtrees"] = len({lv.subtree for lv in levels if lv.subtree is not None})
    m["miner.lemma_pruned"] = sum(lv.n_candidates for lv in levels) - filtered
    m["miner.prevalent_ratio"] = sum(lv.n_prevalent for lv in levels) / filtered if filtered else 0.0
    m["miner.unattributed_s"] = miner_s - sum(lv.seconds for lv in levels)
    return m


def units() -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def run_one(args) -> dict:
    run = Run(WORKLOADS[args.workload], args.seed, args.seconds)
    try:
        run.setup()
        values = run.per_layer() if args.trace else run.end_to_end()
        run.check_all()
    finally:
        if run.spark is not None:
            stop_session(run.spark)
    unit = units()
    for k, v in values.items():
        print(f"{args.workload:18s} {k:34s} {v:>16.6g} {unit.get(k, '')}")
    print(f"{args.workload:18s} {'error_rate':34s} {error_rate(run.attempted, run.failed):>16.6g} "
          f"({run.failed} of {run.attempted} calls)")
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": unit[k]} for k, v in values.items()},
    }


def run_all(args) -> dict:
    """Every workload, each in its own process, then one summary table."""
    results = {}
    for name in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
        results[name] = json.loads(out.strip().splitlines()[-1])
    print()
    for name, r in results.items():
        for k, v in r["metrics"].items():
            print(f"{name:18s} {k:34s} {v['value']:>16.6g} {v['unit']}")
        print(f"{name:18s} {'error_rate':34s} {error_rate(r['attempted'], r['failed']):>16.6g} ratio")
    return {
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{n}.{k}": v for n, r in results.items() for k, v in r["metrics"].items()},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    result = run_all(args) if args.workload == "all" else run_one(args)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
