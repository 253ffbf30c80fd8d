"""Layer-B query mixes: registry queries forced through the noop sink.

A mix runs in a fresh application: one cold pass in a fixed order
(first executions, so the application's first-execution costs,
`materialize` scratch builds and the iterative round loops are paid
here), then warm passes for as long as the run measures (scratch read
back, plans warm), each in an order drawn from the seed. Every execution is timed from the registry call to the end of
`write.format("noop")`, so the whole result is computed and nothing is
pruned. Afterwards, untimed, each query's result digest must match the
DuckDB oracle digest stored in digests.json (rows-only for a query
without an oracle).
"""

from __future__ import annotations

import json
import os
import random
import time
from statistics import geometric_mean, median

from digest import digest

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]

# the LakeView product analytics plus the batcher at scale
DASHBOARD = [
    "checkpoint_lookback", "table_health_summary", "file_size_percentiles", "timeline_search",
    "active_batch_packing",
]
# scratch builders, one iterative round loop, one of the low-scaling tail
REGISTRY = ["dedup_minhash_lsh_pairs", "dedup_simhash", "corpus_bpe_train", "text_language_id"]
MIX = DASHBOARD + REGISTRY


class QueryMix:
    def __init__(self, spark, seed: int, tracer):
        self.mix = MIX
        self.spark, self.tracer = spark, tracer
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failures: list[str] = []
        self.cold: dict[str, float] = {}
        self.warm: list[dict[str, float]] = []  # one {query: wall} per warm pass

    def setup(self) -> None:
        from lakeview_spark.plans import QUERIES

        self.queries = QUERIES

    def _execute(self, kind: str, q: str, pass_no: int) -> float:
        self.attempted += 1
        tr = self.tracer
        with tr.op(kind, q, pass_no):
            t0 = time.perf_counter()
            try:
                with tr.span("plan", "plan"):
                    df = self.queries[q](self.spark, DATA_DIR)
                with tr.span("exec", "exec"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # a failed query is counted, the run goes on
                self.failures.append(f"{q} ({kind}) raised {type(e).__name__}: {e}")
            wall = time.perf_counter() - t0
        return wall

    def measure(self, seconds: float) -> None:
        """Cold pass, then warm passes while the next one still fits in
        `seconds` (at least one), then the output checks."""
        t0 = time.perf_counter()
        for q in self.mix:
            self.cold[q] = self._execute("cold", q, 0)
        while not self.warm or time.perf_counter() - t0 + sum(self.warm[-1].values()) <= seconds:
            n = len(self.warm) + 1
            self.warm.append({q: self._execute("warm", q, n) for q in self.rng.sample(self.mix, len(self.mix))})
        self._check()

    def _check(self) -> None:
        """Untimed output checks against the stored oracle digests."""
        with open(os.path.join(HERE, "digests.json")) as f:
            want = json.load(f)["digests"]
        for q in self.mix:
            self.attempted += 1
            try:
                got = digest(self.queries[q](self.spark, DATA_DIR).toPandas())
            except Exception as e:
                self.failures.append(f"{q} check raised {type(e).__name__}: {e}")
                continue
            if q in want and got != want[q]:
                self.failures.append(f"{q}: digest {got} != oracle {want[q]}")
            elif q not in want and got["rows"] < 1:
                self.failures.append(f"{q}: no rows")

    def _sum(self, walls: dict[str, float], group: list[str]) -> float:
        return sum(v for q, v in walls.items() if q in group)

    def end_to_end(self) -> dict:
        return {
            "first_pass_s": sum(self.cold.values()),
            "repeat_pass_s": median(sum(p.values()) for p in self.warm),
            "op_s": geometric_mean(v for p in self.warm for v in p.values()),
        }

    def report(self) -> list[tuple[str, float, str, int]]:
        """The metrics under their workload names: (name, value, unit,
        samples). The tail percentile is the highest one with at least
        ten samples beyond it, named by its value; it is left out while
        that is no higher than the median."""
        ops = sorted(v for p in self.warm for v in p.values())
        n = len(ops)
        p = int(100 * (1 - 10 / n))
        k = len(self.warm)
        tail = [(f"query_p{p}_s", ops[n * p // 100], "s", n)] if p > 50 else []
        return [
            ("registry_cold_s", self._sum(self.cold, REGISTRY), "s", len(REGISTRY)),
            ("registry_warm_s", median(self._sum(w, REGISTRY) for w in self.warm), "s", k),
            ("dashboard_first_pass_s", self._sum(self.cold, DASHBOARD), "s", len(DASHBOARD)),
            ("dashboard_pass_s", median(self._sum(w, DASHBOARD) for w in self.warm), "s", k),
            ("query_p50_s", median(ops), "s", n),
            *tail,
        ]
