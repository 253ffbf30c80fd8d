"""Outside-in tracing: spans around calls into the program's layers.

Nothing here edits the program. For a traced run `Tracer.install_*`
replaces, for the life of the run, the names the program looks up at
call time: the phase functions `runner` calls through its module
globals, the `CheckpointStore` methods, the `materialize` entry points,
and the Spark DataFrame actions and writer calls. `uninstall` puts the
originals back.

Every span sets a Spark job group of its own, so the status tracker
gives the jobs, stages and tasks each span launched (it works with the
UI off). A span's self time is its duration minus the time its child
spans cover. Builders such as `files_to_upload` and `batch_instants`
are lazy, so their spans cover planning only; an action is charged to
the phase whose DataFrame it forces, found through a tag that phase
functions put on the DataFrames they return and that the common
transformations carry forward. The tag also gives the action's role:
`state` for DataFrames of the checkpoint store, `exec` otherwise.

Each span has a role, which is what the benchmark's per-layer metrics
aggregate over both layers:

- plan: client-side work that builds a DataFrame (lazy runner builders, a
  registry call);
- exec: Spark work that an action or an eager phase runs (listing
  probes, batch count, mirror, noop sink);
- state: reads and writes of persisted intermediate state (the
  checkpoint store, `materialize` scratch).

Time inside an op that no span covers is the op's `other`.
"""

from __future__ import annotations

import contextlib
import time

from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.readwriter import DataFrameWriter

TAG = "_perfbench_phase"

ACTIONS = (
    "isEmpty", "count", "collect", "toPandas", "take", "first", "head", "tail",
    "foreachPartition", "foreach", "toLocalIterator", "show",
)
WRITES = ("parquet", "save", "saveAsTable", "insertInto")
CARRY = (
    "filter", "where", "withColumn", "withColumns", "withColumnRenamed", "select",
    "selectExpr", "drop", "join", "unionByName", "union", "alias", "distinct",
    "dropDuplicates", "orderBy", "sort", "limit", "repartition", "coalesce",
)

# runner module globals: name -> (phase, role). discover_tables and
# process_archived_v2 run their Spark jobs inside the call; the others
# only build plans, forced later by an action.
RUNNER_PHASES = {
    "discover_tables": ("discover", "exec"),
    "read_hoodie_properties": ("properties", "plan"),
    "process_archived_v2": ("archived_v2", "exec"),
    "list_timeline_files": ("timeline_list", "plan"),
    "files_to_upload": ("batch", "plan"),
    "batch_instants": ("batch", "plan"),
    "compute_checkpoint_updates": ("checkpoint", "plan"),
}
ROLES = ("plan", "exec", "state")


def _tag(df):
    return df.__dict__.get(TAG) if isinstance(df, DataFrame) else None


class Span:
    __slots__ = ("name", "role", "group", "start", "child_s", "self_s", "jobs", "tasks")

    def __init__(self, name: str, role: str, group: str):
        self.name, self.role, self.group = name, role, group
        self.start = time.perf_counter()
        self.child_s = 0.0
        self.self_s = 0.0
        self.jobs = 0
        self.tasks = 0


class Op:
    """One timed unit of work (an extractor round, a query execution)
    and every span that closed inside it. `group` numbers the pass the
    op belongs to."""

    def __init__(self, kind: str, name: str, group: int):
        self.kind, self.name, self.group = kind, name, group
        self.wall = 0.0
        self.root: Span | None = None  # the op's own span: jobs no phase claimed
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}

    def by(self, attr: str, key: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            k = getattr(s, key)
            out[k] = out.get(k, 0.0) + getattr(s, attr)
        return out

    @property
    def other_s(self) -> float:
        return self.wall - sum(s.self_s for s in self.spans)


class NullTracer:
    """Stand-in for untraced runs: every hook is a no-op."""

    enabled = False

    def span(self, name: str, role: str):
        return contextlib.nullcontext()

    @contextlib.contextmanager
    def op(self, kind: str, name: str, group: int):
        yield None

    def count(self, key: str, n: float = 1) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.stack: list[Span] = []
        self.ops: list[Op] = []
        self.current: Op | None = None
        self.overhead_s = 0.0
        self._seq = 0
        self._seen_stages: set[int] = set()
        self._in_action = False
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, role: str):
        t_in = time.perf_counter()
        self._seq += 1
        s = Span(name, role, f"perfbench-{self._seq}")
        self.sc.setJobGroup(s.group, name)
        self.stack.append(s)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t_in
        try:
            yield s
        finally:
            end = time.perf_counter()
            self.stack.pop()
            dur = end - s.start
            s.self_s = dur - s.child_s
            if self.stack:
                parent = self.stack[-1]
                parent.child_s += dur
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._count_jobs(s)
            if self.current is not None:
                self.current.spans.append(s)
            self.overhead_s += time.perf_counter() - end

    def _count_jobs(self, s: Span) -> None:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(s.group):
            s.jobs += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in self._seen_stages:
                    continue
                stage = st.getStageInfo(sid)
                if stage is not None and stage.numCompletedTasks > 0:
                    self._seen_stages.add(sid)
                    s.tasks += stage.numCompletedTasks

    @contextlib.contextmanager
    def op(self, kind: str, name: str, group: int):
        """Open a timed op; spans opened inside it belong to it. The op
        is itself a span (role `other`), so jobs no phase claims land in
        its own group."""
        o = Op(kind, name, group)
        self.current = o
        t0 = time.perf_counter()
        try:
            with self.span(name, "other") as root:
                yield o
        finally:
            o.wall = time.perf_counter() - t0
            o.spans.remove(root)
            o.root = root
            self.current = None
            self.ops.append(o)

    def count(self, key: str, n: float = 1) -> None:
        if self.current is not None:
            self.current.counters[key] = self.current.counters.get(key, 0) + n

    # -- wrappers ---------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def phase_fn(self, fn, phase: str, role: str, action_role: str = "exec", counter: str | None = None):
        """Run `fn` as a span; a DataFrame it returns is tagged so that a
        later action on it runs as a `phase` span of `action_role`."""
        tracer = self

        def traced(*a, **k):
            if counter:
                tracer.count(counter)
            with tracer.span(phase, role):
                out = fn(*a, **k)
            if isinstance(out, DataFrame):
                out.__dict__[TAG] = (phase, action_role)
            return out

        return traced

    def install_spark(self) -> None:
        """DataFrame actions and writer calls run as a span of the phase
        that tagged the DataFrame; untagged ones stay in the enclosing
        span. The mirror is the runner's only foreachPartition."""
        tracer = self

        def forced(tag, orig, *a, **k):
            if tracer._in_action or tag is None:
                return orig(*a, **k)
            tracer._in_action = True
            try:
                with tracer.span(*tag):
                    return orig(*a, **k)
            finally:
                tracer._in_action = False

        def action(name, orig):
            def traced(df, *a, **k):
                tag = ("mirror", "exec") if name.startswith("foreach") else _tag(df)
                return forced(tag, orig, df, *a, **k)

            return traced

        def write(orig):
            def traced(w, *a, **k):
                return forced(_tag(w._df), orig, w, *a, **k)

            return traced

        def carry(orig):
            def traced(df, *a, **k):
                out = orig(df, *a, **k)
                tag = df.__dict__.get(TAG)
                if tag is not None and isinstance(out, DataFrame) and TAG not in out.__dict__:
                    out.__dict__[TAG] = tag
                return out

            return traced

        for name in ACTIONS:
            self._patch(DataFrame, name, action(name, getattr(DataFrame, name)))
        for name in CARRY:
            self._patch(DataFrame, name, carry(getattr(DataFrame, name)))
        for name in WRITES:
            self._patch(DataFrameWriter, name, write(getattr(DataFrameWriter, name)))

    def install_runner(self) -> None:
        from lakeview_spark import runner
        from lakeview_spark.operators.checkpoints import CheckpointStore

        for attr, (phase, role) in RUNNER_PHASES.items():
            self._patch(runner, attr, self.phase_fn(getattr(runner, attr), phase, role))
        for attr in ("load", "upsert", "initialize_tables"):
            counter = "checkpoint.upserts" if attr == "upsert" else None
            self._patch(
                CheckpointStore,
                attr,
                self.phase_fn(getattr(CheckpointStore, attr), "checkpoint", "state", "state", counter),
            )

    def install_materialize(self) -> None:
        """Wrap `materialized` / `materialized_bucketed` wherever a module
        holds them, so each call is a `scratch` span, counted as a build
        when it wrote a new scratch table and as a hit otherwise."""
        import sys

        from lakeview_spark.operators import materialize as mat

        tracer = self
        for attr in ("materialized", "materialized_bucketed"):
            orig = getattr(mat, attr)

            def traced(*a, _orig=orig, **k):
                built = len(mat._CREATED_PATHS)
                with tracer.span("scratch", "state") as s:
                    out = _orig(*a, **k)
                if len(mat._CREATED_PATHS) > built:
                    s.name = "scratch.build"
                    tracer.count("scratch.builds")
                    tracer.count("scratch.bytes", _du(mat._CREATED_PATHS[-1]))
                else:
                    s.name = "scratch.hit"
                    tracer.count("scratch.hits")
                return out

            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("lakeview_spark") and getattr(mod, attr, None) is orig:
                    self._patch(mod, attr, traced)


def _du(path: str) -> int:
    import os

    total = 0
    for root, _, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total
