"""Seeded Hudi lake generator and its ledger.

`Lake(root, seed, n_tables)` writes a lake of V1 and V2 tables with
skewed timeline depth, then mutates it between extractor rounds the way
writers do: `delta()` appends commits to a slice of the tables, leaves
some commits in flight (requested + inflight only) and completes them
in the next delta, and bumps the LSM manifest version of a few V2
tables. `delta(final=True)` completes every in-flight commit and opens
none.

The ledger is the generator's own record of what the extractor must
have mirrored so far under BLOCK_ON_INCOMPLETE_COMMIT: per table, the
properties file, every archived file, every history file any manifest
listed, and every file of the completed commits that precede the
table's first in-flight commit. The extractor is only ever shown the
files on disk.

File shapes follow the `make_table` / `make_v2_table` fixtures of the
test suite: V1 keeps instants in `.hoodie/` and archives in
`.hoodie/archived/`; V2 keeps instants in `.hoodie/timeline/` (completed
instants named `<ts>_<completion>.<action>`) and the LSM history in
`.hoodie/timeline/history/` (`_version_`, `manifest_<v>`, parquet).
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

V1, V2 = 1, 2
PROPS = "hoodie.properties"
V2_SHARE = 1 / 3  # tables on the V2 (LSM history) layout
DEEP_SHARE = 0.15  # tables with a deep timeline
SHALLOW_COMMITS, DEEP_COMMITS = 20, 200
INFLIGHT_SHARE = 0.05  # tables given a new in-flight commit per delta
DELTA_SHARE = 0.10  # tables given new commits per delta
V2_BUMPS = 3  # V2 tables whose manifest version a delta bumps


@dataclass
class Table:
    name: str
    layout: int
    action: str  # "commit" or "deltacommit"
    uri: str = ""
    commits: list = field(default_factory=list)  # [ts, completed] in ts order
    archived: list = field(default_factory=list)  # archived/history file names
    manifest_version: int = 0

    @property
    def hoodie(self) -> str:
        return os.path.join(self.uri, ".hoodie")

    @property
    def timeline(self) -> str:
        return os.path.join(self.hoodie, "timeline") if self.layout == V2 else self.hoodie

    @property
    def history(self) -> str:
        sub = "history" if self.layout == V2 else "archived"
        return os.path.join(self.timeline, sub)

    def instant_files(self, ts: int, completed: bool) -> list[str]:
        a = self.action
        inflight = f"{ts}.inflight" if a == "commit" else f"{ts}.{a}.inflight"
        files = [f"{ts}.{a}.requested", inflight]
        if completed:
            files.append(f"{ts}_{ts + 7}.{a}" if self.layout == V2 else f"{ts}.{a}")
        return files

    def expected_active(self) -> set[str]:
        """Active files BLOCK_ON_INCOMPLETE_COMMIT lets through: the
        completed commits before the first in-flight one."""
        out = set()
        for ts, completed in self.commits:
            if not completed:
                break
            out.update(self.instant_files(ts, True))
        return out


def _touch(path: str) -> None:
    with open(path, "w") as f:
        f.write("x")


class Lake:
    """A generated lake of `n_tables` tables under `root`. Shares and
    depths are fixed; the seed chooses which tables are deep, V2,
    touched by a delta or left in flight, so every seed gives about the
    same amount of work."""

    def __init__(self, root: str, seed: int, n_tables: int):
        self.root = root
        self.rng = random.Random(seed)
        self.next_ts = 20260101000000000
        order = list(range(n_tables))
        self.rng.shuffle(order)
        v2 = set(order[: round(n_tables * V2_SHARE)])
        self.rng.shuffle(order)
        deep = set(order[: round(n_tables * DEEP_SHARE)])
        self.tables: list[Table] = []
        for i in range(n_tables):
            # two databases, one of them nested a level deeper, plus an
            # empty non-table directory per database that discovery prunes
            db = f"db{i % 2}" if i % 2 == 0 else f"db{i % 2}/warehouse"
            t = Table(
                name=f"{db}/tbl_{i:04d}",
                layout=V2 if i in v2 else V1,
                action="deltacommit" if i % 3 == 0 else "commit",
            )
            t.uri = os.path.join(root, t.name)
            self._create(t, DEEP_COMMITS if i in deep else SHALLOW_COMMITS)
            self.tables.append(t)
        for db in ("db0", "db1/warehouse"):
            os.makedirs(os.path.join(root, db, "_staging", "empty"), exist_ok=True)
        # a few tables start with a commit in flight, as in a live lake
        self._open_inflight(self._pick(INFLIGHT_SHARE))

    # -- generation -----------------------------------------------------

    def _ts(self) -> int:
        self.next_ts += 1000 + self.rng.randrange(1000)
        return self.next_ts

    def _create(self, t: Table, n_commits: int) -> None:
        os.makedirs(t.history, exist_ok=True)
        with open(os.path.join(t.hoodie, PROPS), "w") as f:
            f.write(
                f"hoodie.table.name={os.path.basename(t.name)}\n"
                f"hoodie.table.type={'MERGE_ON_READ' if t.action == 'deltacommit' else 'COPY_ON_WRITE'}\n"
                f"hoodie.table.version={8 if t.layout == V2 else 6}\n"
                f"hoodie.timeline.layout.version={t.layout}\n"
            )
        n_archived = max(2, n_commits // 10)
        if t.layout == V1:
            for k in range(1, n_archived + 1):
                self._add_archived(t, f".commits_.archive.{k}_1-0-1")
        else:
            for _ in range(n_archived):
                self._add_history(t)
            self._write_manifest(t)
        for _ in range(n_commits):
            self._add_commit(t, completed=True)

    def _add_commit(self, t: Table, completed: bool) -> None:
        ts = self._ts()
        t.commits.append([ts, completed])
        for fn in t.instant_files(ts, completed):
            _touch(os.path.join(t.timeline, fn))

    def _complete(self, t: Table) -> None:
        for c in t.commits:
            if not c[1]:
                c[1] = True
                _touch(os.path.join(t.timeline, t.instant_files(c[0], True)[-1]))

    def _add_archived(self, t: Table, fn: str) -> None:
        t.archived.append(fn)
        _touch(os.path.join(t.history, fn))

    def _add_history(self, t: Table) -> None:
        lo = self._ts()
        self._add_archived(t, f"{lo}_{lo + 500}_0.parquet")

    def _write_manifest(self, t: Table) -> None:
        t.manifest_version += 1
        v = t.manifest_version
        with open(os.path.join(t.history, f"manifest_{v}"), "w") as f:
            json.dump({"files": [{"fileName": fn, "fileLen": 1} for fn in t.archived]}, f)
        with open(os.path.join(t.history, "_version_"), "w") as f:
            f.write(str(v))

    def _pick(self, share: float) -> list[Table]:
        return self.rng.sample(self.tables, max(1, round(len(self.tables) * share)))

    def _open_inflight(self, tables: list[Table]) -> None:
        """Leave one commit in flight with completed commits after it, so
        BLOCK_ON_INCOMPLETE_COMMIT has something to hold back."""
        for t in tables:
            self._add_commit(t, completed=False)
            for _ in range(1 + self.rng.randrange(2)):
                self._add_commit(t, completed=True)

    # -- rounds ---------------------------------------------------------

    def delta(self, final: bool = False) -> None:
        """Mutate the lake before a delta round. The final delta opens no
        new in-flight commit, so none is left once it has run."""
        for t in self.tables:
            self._complete(t)
        for t in self._pick(DELTA_SHARE):
            for _ in range(1 + self.rng.randrange(5)):
                self._add_commit(t, completed=True)
        v2 = [t for t in self.tables if t.layout == V2]
        for t in self.rng.sample(v2, min(V2_BUMPS, len(v2))):
            self._add_history(t)
            self._write_manifest(t)
        if not final:
            self._open_inflight(self._pick(INFLIGHT_SHARE))

    def in_flight(self) -> int:
        return sum(1 for t in self.tables for _, c in t.commits if not c)

    # -- ledger ---------------------------------------------------------

    def expected_mirror(self, table_id) -> set[str]:
        """Relative paths the mirror must hold now, under
        `<table_id>/<active|archived>/<file>`, from the ledger. The
        properties file rides in the first batch: the V1 archived round,
        or for V2 (whose history goes through the manifest path) the
        active round."""
        out = set()
        for t in self.tables:
            tid = table_id(t.uri)
            out.update(f"{tid}/archived/{fn}" for fn in t.archived)
            out.update(f"{tid}/active/{fn}" for fn in t.expected_active())
            out.add(f"{tid}/{'archived' if t.layout == V1 else 'active'}/{PROPS}")
        return out

    def timeline_files(self, table_id) -> set[str]:
        """Every timeline file on disk, read from the lake itself rather
        than the ledger, in mirror layout: what the mirror must hold once
        no commit is in flight. LSM bookkeeping (`_version_`,
        `manifest_<v>`) is not mirrored."""
        out = set()
        for t in self.tables:
            tid = table_id(t.uri)
            for e in os.scandir(t.timeline):
                if e.is_file() and e.name != PROPS:
                    out.add(f"{tid}/active/{e.name}")
            for e in os.scandir(t.history):
                if e.name != "_version_" and not e.name.startswith("manifest_"):
                    out.add(f"{tid}/archived/{e.name}")
            out.add(f"{tid}/{'archived' if t.layout == V1 else 'active'}/{PROPS}")
        return out


def mirror_files(mirror_dir: str) -> set[str]:
    """Relative paths of every file under the mirror."""
    out = set()
    for root, _, files in os.walk(mirror_dir):
        rel = os.path.relpath(root, mirror_dir)
        out.update(os.path.join(rel, fn) for fn in files)
    return out
