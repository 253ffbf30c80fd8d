"""`lake_sync`: extractor rounds (`runner.run_once`) over a generated lake.

One fresh application: a cold round over the fresh lake (ONCE-mode
onboarding, so it includes the application's first-execution costs),
then pairs of one delta round (the generator changed ~10% of the tables
first) and one no-op round (nothing changed), for as long as the run
measures. The final delta completes every in-flight commit and opens
none, so after it the mirror must hold exactly the lake's timeline
files. It is followed by no-op rounds, at least MIN_FINAL_NOOPS and
more while they fit in the run: a single no-op round after a delta was
the noisiest figure of a run, so the no-op time is a median over
several.

After every round, untimed, the mirror must equal the generator's
ledger under BLOCK_ON_INCOMPLETE_COMMIT; a round that raises or
mismatches counts as failed.
"""

from __future__ import annotations

import os
import time
from statistics import median

from lake import Lake, mirror_files

N_TABLES = 12
MIN_FINAL_NOOPS = 2


def _config(root: str):
    from lakeview_spark.config import load_config

    return load_config(
        {
            "version": "V1",
            "metadataExtractorConfig": {
                "jobRunMode": "ONCE",
                "uploadStrategy": "BLOCK_ON_INCOMPLETE_COMMIT",
                "parserConfig": [{"lake": "bench", "databases": [{"name": "db", "basePaths": [root]}]}],
            },
        }
    )


def counting_lister(spark):
    """`list_dir_local` plus accumulators: listing calls made by table
    discovery, and calls and entries of timeline listings."""
    from lakeview_spark.sources.listing import list_dir_local

    sc = spark.sparkContext
    acc = {k: sc.accumulator(0) for k in ("discover.list_calls", "timeline_list.calls", "timeline_list.entries")}
    disc, calls, entries = (acc[k] for k in acc)

    def lister(path):
        out = list_dir_local(path)
        if "/.hoodie" in path:
            calls.add(1)
            entries.add(len(out))
        else:
            disc.add(1)
        return out

    return lister, acc


class LakeSync:
    def __init__(self, spark, tmp: str, seed: int, tracer):
        self.spark, self.tmp, self.seed, self.tracer = spark, tmp, seed, tracer
        self.attempted = 0
        self.failures: list[str] = []
        self.walls: dict[str, list[float]] = {"cold": [], "delta": [], "noop": []}
        self.lister, self.acc = (counting_lister(spark) if tracer.enabled else (None, {}))

    def setup(self) -> None:
        self.root = os.path.join(self.tmp, "lake")
        self.state = os.path.join(self.tmp, "state")
        self.mirror = os.path.join(self.tmp, "mirror")
        self.lake = Lake(self.root, self.seed, N_TABLES)
        self.config = _config(self.root)
        # write the generated lake back now, so its writeback does not
        # land inside the timed cold round
        os.sync()

    def _round(self, kind: str, final: bool = False) -> None:
        from lakeview_spark.functions.ids import uuid3_from_uri
        from lakeview_spark.runner import run_once

        if kind == "delta":
            self.lake.delta(final=final)
        kw = {"lister": self.lister} if self.lister else {}
        before = {k: a.value for k, a in self.acc.items()}
        self.attempted += 1
        with self.tracer.op(kind, f"{kind} round", self.attempted) as op:
            t0 = time.perf_counter()
            try:
                metrics = run_once(self.spark, self.config, self.state, self.mirror, **kw)
            except Exception as e:  # a failed round is counted, the run goes on
                metrics = None
                self.failures.append(f"{kind} round raised {type(e).__name__}: {e}")
            wall = time.perf_counter() - t0
        self.walls[kind].append(wall)
        if metrics is None:
            return
        got = mirror_files(self.mirror)
        want = self.lake.timeline_files(uuid3_from_uri) if final else self.lake.expected_mirror(uuid3_from_uri)
        if final and self.lake.in_flight():
            self.failures.append("final delta left commits in flight")
        elif got != want or metrics["tables_discovered"] != len(self.lake.tables):
            self.failures.append(
                f"{kind} round: mirror has {len(got - want)} unexpected and misses {len(want - got)} files"
            )
        if op is not None:
            for k, a in self.acc.items():
                op.counters[k] = a.value - before[k]
            batched = metrics.get("archived_batched_files", 0) + metrics.get("active_batched_files", 0)
            op.counters["batch.files"] = batched
            op.counters["mirror.files"] = batched + metrics.get("v2_files_uploaded", 0)

    def measure(self, seconds: float) -> None:
        """Cold round, then delta/no-op pairs while one more pair and the
        final stretch still fit in `seconds`, then the final delta and
        no-op rounds: MIN_FINAL_NOOPS, then more while one more still
        fits in `seconds`."""
        t0 = time.perf_counter()
        self._round("cold")
        pair = self.walls["cold"][0]  # first guess at a pair's length
        while time.perf_counter() - t0 + 2 * pair <= seconds:
            t1 = time.perf_counter()
            self._round("delta")
            self._round("noop")
            pair = time.perf_counter() - t1
        self._round("delta", final=True)
        for _ in range(MIN_FINAL_NOOPS):
            self._round("noop")
        while time.perf_counter() - t0 + self.walls["noop"][-1] <= seconds:
            self._round("noop")

    def end_to_end(self) -> dict:
        return {
            "first_pass_s": self.walls["cold"][0],
            "repeat_pass_s": median(self.walls["noop"]),
            "op_s": median(self.walls["delta"]),
        }

    def report(self) -> list[tuple[str, float, str, int]]:
        """The metrics under their workload names: (name, value, unit, samples)."""
        w = self.walls
        return [
            ("sync_cold_s", w["cold"][0], "s", len(w["cold"])),
            ("sync_delta_s", median(w["delta"]), "s", len(w["delta"])),
            ("sync_noop_s", median(w["noop"]), "s", len(w["noop"])),
        ]
