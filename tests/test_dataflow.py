"""Layer-A dataflow tests: discovery (S1/P4/P6), properties (S4),
manifest (S5/J4), checkpoint store (S8/S9), uploader rules (P5/W2),
and an end-to-end run_once over a local fixture lake."""

from __future__ import annotations

import os
from datetime import datetime

import pytest

from lakeview_spark.config import load_config
from lakeview_spark.functions.ids import uuid3_from_uri
from lakeview_spark.operators.checkpoints import CheckpointStore
from lakeview_spark.operators.uploader import (
    ACTIVE,
    ARCHIVED,
    files_to_upload,
    last_uploaded_file_from_batch,
    start_after,
)
from lakeview_spark.runner import run_once
from lakeview_spark.sources.listing import discover_tables
from lakeview_spark.sources.manifest import manifest_diff, read_manifest, read_manifest_version
from lakeview_spark.sources.properties import read_hoodie_properties

# Most tests here are in the slow tier (deselected by the default
# "-m not slow" addopts; the close battery runs the full suite with
# -m "slow or not slow"). The three V1 run_once rounds (end to end,
# incremental, mirror failure) stay in the fast tier: they gate the
# extractor round itself.
slow = pytest.mark.slow



def make_table(root, name, files=(), props=True, archived=()):
    """Create a local Hudi-ish table dir with a .hoodie timeline."""
    tdir = os.path.join(root, name)
    hoodie = os.path.join(tdir, ".hoodie")
    os.makedirs(hoodie, exist_ok=True)
    if props:
        with open(os.path.join(hoodie, "hoodie.properties"), "w") as f:
            f.write(
                "#comment\nhoodie.table.name=%s\nhoodie.table.type=MERGE_ON_READ\n"
                "hoodie.table.version=6\nhoodie.timeline.layout.version=1\n" % name
            )
    for fn in files:
        with open(os.path.join(hoodie, fn), "w") as f:
            f.write("x")
    if archived:
        adir = os.path.join(hoodie, "archived")
        os.makedirs(adir, exist_ok=True)
        for fn in archived:
            with open(os.path.join(adir, fn), "w") as f:
                f.write("x")
    return tdir


@pytest.fixture()
def lake(tmp_path):
    root = str(tmp_path / "lake")
    os.makedirs(root)
    make_table(
        root,
        "tbl1",
        files=[
            "100.deltacommit.requested",
            "100.deltacommit.inflight",
            "100.deltacommit",
            "200.commit.requested",
            "200.inflight",
            "200.commit",
        ],
        archived=[".commits_.archive.1_1-0-1", ".commits_.archive.2_1-0-1"],
    )
    make_table(root, "nested/tbl2", files=["300.commit.requested", "300.inflight", "300.commit"])
    make_table(root, "excluded_tbl", files=["400.commit"])
    os.makedirs(os.path.join(root, "plain_dir/empty"), exist_ok=True)
    return root


PARSER_CFG = lambda root: [  # noqa: E731
    {"lake": "lake1", "databases": [{"name": "db1", "basePaths": [root]}]}
]


@slow
def test_discovery_finds_tables_and_prunes(spark, lake):
    tables = discover_tables(
        spark, PARSER_CFG(lake), exclusion_patterns=[r".*excluded.*"]
    )
    rows = {r["table_uri"]: r for r in tables}
    assert set(rows) == {f"{lake}/tbl1", f"{lake}/nested/tbl2"}
    r = rows[f"{lake}/tbl1"]
    assert r["table_id"] == uuid3_from_uri(f"{lake}/tbl1")
    assert r["lake"] == "lake1" and r["database"] == "db1"


@slow
def test_discovery_table_id_override(spark, lake):
    cfg = [
        {
            "lake": "lake1",
            "databases": [{"name": "db1", "basePaths": [f"{lake}/tbl1#my-pinned-id"]}],
        }
    ]
    rows = discover_tables(spark, cfg)
    assert len(rows) == 1 and rows[0]["table_id"] == "my-pinned-id"


@slow
def test_discovery_override_requires_exactly_one(spark, lake):
    cfg = [
        {
            "lake": "lake1",
            "databases": [{"name": "db1", "basePaths": [f"{lake}#pinned"]}],
        }
    ]
    # base path discovers 3 tables -> override skipped entirely (O3)
    assert len(discover_tables(spark, cfg)) == 0


@slow
def test_properties_reader_defaults(spark, tmp_path):
    p1 = tmp_path / "a.properties"
    p1.write_text("#c\nhoodie.table.name=t1\nhoodie.table.type=COPY_ON_WRITE\n")
    p2 = tmp_path / "b.properties"
    p2.write_text(
        "hoodie.table.name=t2\nhoodie.table.type=MERGE_ON_READ\n"
        "hoodie.table.version=8\nhoodie.timeline.layout.version=2\n"
    )
    df = read_hoodie_properties(spark, [str(p1), str(p2)])
    rows = {r.table_name: r for r in df.collect()}
    assert rows["t1"].table_version == 6  # default (MetadataExtractorConstants.java:27)
    assert rows["t1"].timeline_layout_version == 1
    assert rows["t2"].table_version == 8
    assert rows["t2"].timeline_layout_version == 2
    assert rows["t1"].failure_reason is None and rows["t2"].failure_reason is None


@slow
def test_properties_reader_accepts_colon_separator_and_bang_comments(spark, tmp_path):
    """java.util.Properties treats ':' as a separator and '!' as a
    comment leader (Properties.load javadoc) — a file the reference
    parses must parse here too."""
    p = tmp_path / "colon.properties"
    p.write_text(
        "! legacy comment\n"
        "hoodie.table.name: colon_table\n"
        "  hoodie.table.type = COPY_ON_WRITE\n"
        "hoodie.table.version:8\n"
    )
    r = read_hoodie_properties(spark, [str(p)]).collect()[0]
    assert r.failure_reason is None
    assert r.table_name == "colon_table"
    assert r.table_type == "COPY_ON_WRITE"
    assert r.table_version == 8


@slow
def test_properties_reader_failure_reason(spark, tmp_path):
    """Corrupt/missing hoodie.properties -> reference sentinel row
    (ParsedHudiProperties.java:16-22, HoodiePropertiesReader.java:62-80):
    table_name='', MERGE_ON_READ, defaults, failure_reason set."""
    ok = tmp_path / "ok.properties"
    ok.write_text("hoodie.table.name=good\nhoodie.table.type=COPY_ON_WRITE\n")
    no_name = tmp_path / "no_name.properties"
    no_name.write_text("hoodie.table.type=COPY_ON_WRITE\n")  # @NonNull tableName throws
    bad_type = tmp_path / "bad_type.properties"
    bad_type.write_text(
        "hoodie.table.name=t\nhoodie.table.type=NOT_A_TYPE\n"
    )  # TableType.valueOf throws
    bad_version = tmp_path / "bad_version.properties"
    bad_version.write_text(
        "hoodie.table.name=t\nhoodie.table.type=MERGE_ON_READ\n"
        "hoodie.table.version=six\n"
    )  # Integer.parseInt throws
    gone = str(tmp_path / "gone.properties")  # never written

    df = read_hoodie_properties(
        spark, [str(ok), str(no_name), str(bad_type), str(bad_version)], [gone]
    )
    rows = {r.path.split("/")[-1]: r for r in df.collect()}
    assert rows["ok.properties"].failure_reason is None
    assert rows["ok.properties"].table_name == "good"
    for f in ("no_name.properties", "bad_type.properties", "bad_version.properties"):
        r = rows[f]
        assert r.failure_reason == "HOODIE_PROPERTY_NOT_FOUND_OR_CORRUPTED", f
        assert r.table_name == "" and r.table_type == "MERGE_ON_READ"
        assert r.table_version == 6 and r.timeline_layout_version == 1
    assert rows["gone.properties"].failure_reason == "NO_SUCH_KEY"
    assert rows["gone.properties"].table_name == ""


@slow
def test_run_once_survives_corrupt_and_missing_properties(spark, tmp_path):
    """A table whose hoodie.properties is corrupt (or absent) must not
    abort the extractor run — the reference degrades it to a sentinel
    with a failure reason and a metrics increment
    (HoodiePropertiesReader.java:62-80) and keeps processing."""
    root = str(tmp_path / "lake")
    os.makedirs(root)
    make_table(root, "good", files=["100.commit.requested", "100.inflight", "100.commit"])
    bad = make_table(
        root, "bad", files=["200.commit.requested", "200.inflight", "200.commit"]
    )
    with open(os.path.join(bad, ".hoodie", "hoodie.properties"), "w") as f:
        f.write("hoodie.table.name=bad\nhoodie.table.type=NOT_A_TYPE\n")
    gone = make_table(
        root, "gone", files=["300.commit.requested", "300.inflight", "300.commit"]
    )
    os.remove(os.path.join(gone, ".hoodie", "hoodie.properties"))

    cfg = load_config(
        {
            "version": "V1",
            "metadataExtractorConfig": {
                "jobRunMode": "ONCE",
                "uploadStrategy": "BLOCK_ON_INCOMPLETE_COMMIT",
                "parserConfig": PARSER_CFG(root),
            },
        }
    )
    mirror = str(tmp_path / "mirror")
    metrics = run_once(spark, cfg, str(tmp_path / "state"), mirror)
    assert metrics["tables_discovered"] == 3
    assert metrics["table_metadata_processing_failures"] == 2
    # the healthy table processed normally (commit triple + properties)...
    assert metrics["active_batched_files"] == 4
    # ...and the two degraded tables were skipped, not uploaded: only the
    # good table's id appears in the mirror
    good_id = uuid3_from_uri(f"{root}/good")
    assert os.listdir(mirror) == [good_id]


@slow
def test_manifest_reader_and_diff(spark, tmp_path):
    v = tmp_path / "_version_"
    v.write_text("3\n")
    m = tmp_path / "manifest_3"
    m.write_text(
        '{"files": [{"fileName": "20260101_20260115_0.parquet", "fileLen": 123},'
        ' {"fileName": "20260116_20260131_0.parquet", "fileLen": 456}]}'
    )
    assert read_manifest_version(spark, str(v)) == 3
    cur = read_manifest(spark, str(m))
    assert cur.count() == 2
    prev = spark.createDataFrame(
        [("20260101_20260115_0.parquet",)], ["fileName"]
    )
    diff = manifest_diff(cur, prev).collect()
    assert [r.fileName for r in diff] == ["20260116_20260131_0.parquet"]


@slow
def test_checkpoint_store_roundtrip(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "ckpts"))
    assert store.load().count() == 0
    tables = spark.createDataFrame([("t1",), ("t2",)], ["table_id"])
    assert store.initialize_tables(tables) == 2
    assert store.initialize_tables(tables) == 0  # idempotent (J2 anti join)
    df = store.load()
    assert df.count() == 2
    row = df.filter("table_id = 't1'").collect()[0]
    assert row.batch_id == 0 and row.last_uploaded_file == ""

    upd = spark.createDataFrame(
        [("t1", 3, datetime(2026, 1, 2), "200.commit", "", False, 0)],
        store.load().schema,
    )
    store.upsert(upd)
    got = {r.table_id: r for r in store.load().collect()}
    assert got["t1"].batch_id == 3 and got["t1"].last_uploaded_file == "200.commit"
    assert got["t2"].batch_id == 0  # untouched


@slow
def test_files_to_upload_filters(spark):
    t = datetime(2026, 1, 10)
    old = datetime(2025, 1, 1)
    files = spark.createDataFrame(
        [
            ("t1", "active", "100.commit", t, False, 1),
            ("t1", "active", "150.commit", old, False, 1),  # older than ckpt_ts
            ("t1", "active", "200.commit", t, False, 1),
            ("t1", "active", "somedir", t, True, 0),  # directory
            ("t1", "active", "hoodie.properties", t, False, 1),  # excluded (re-added when batch 0)
            ("t1", "active", "not-an-instant.txt", t, False, 1),
            ("t1", "active", "", t, False, 1),  # blank
        ],
        "table_id string, timeline string, filename string, last_modified timestamp, "
        "is_directory boolean, size long",
    )
    ckpts = spark.createDataFrame(
        [("t1", 2, datetime(2026, 1, 1), "150.commit", "", False, 0)],
        "table_id string, batch_id int, checkpoint_ts timestamp, last_uploaded_file string, "
        "first_incomplete_commit_file string, archived_commits_processed boolean, "
        "last_archived_manifest_version int",
    )
    got = {
        r.filename
        for r in files_to_upload(
            files, ckpts, ACTIVE, "BLOCK_ON_INCOMPLETE_COMMIT", apply_last_modified_filter=True
        ).collect()
    }
    # 100 <= 150 (already uploaded), 150 older than watermark, dir/properties/garbage/blank dropped
    assert got == {"200.commit"}

    # batch_id = 0 -> properties row is kept (prepended downstream)
    ckpts0 = spark.createDataFrame(
        [("t1", 0, datetime(1970, 1, 1), "", "", False, 0)], ckpts.schema
    )
    got0 = {r.filename for r in files_to_upload(files, ckpts0, ACTIVE, "BLOCK_ON_INCOMPLETE_COMMIT").collect()}
    assert "hoodie.properties" in got0 and "200.commit" in got0 and "100.commit" in got0


@slow
def test_files_to_upload_continue_never_skips_by_commit_id(spark):
    t = datetime(2026, 1, 10)
    files = spark.createDataFrame(
        [("t1", "active", "100.commit", t, False, 1)],
        "table_id string, timeline string, filename string, last_modified timestamp, "
        "is_directory boolean, size long",
    )
    ckpts = spark.createDataFrame(
        [("t1", 2, datetime(2026, 1, 1), "150.commit", "", False, 0)],
        "table_id string, batch_id int, checkpoint_ts timestamp, last_uploaded_file string, "
        "first_incomplete_commit_file string, archived_commits_processed boolean, "
        "last_archived_manifest_version int",
    )
    got = {
        r.filename
        for r in files_to_upload(files, ckpts, ACTIVE, "CONTINUE_ON_INCOMPLETE_COMMIT").collect()
    }
    assert got == {"100.commit"}  # :856-861


@slow
def test_archived_numeric_ordering_and_skip(spark):
    t = datetime(2026, 1, 10)
    files = spark.createDataFrame(
        [
            ("t1", "archived", ".commits_.archive.10_1-0-1", t, False, 1),
            ("t1", "archived", ".commits_.archive.2_1-0-1", t, False, 1),
            ("t1", "archived", ".commits_.archive.3_1-0-1", t, False, 1),
        ],
        "table_id string, timeline string, filename string, last_modified timestamp, "
        "is_directory boolean, size long",
    )
    ckpts = spark.createDataFrame(
        [("t1", 1, datetime(2026, 1, 1), ".commits_.archive.2_1-0-1", "", False, 0)],
        "table_id string, batch_id int, checkpoint_ts timestamp, last_uploaded_file string, "
        "first_incomplete_commit_file string, archived_commits_processed boolean, "
        "last_archived_manifest_version int",
    )
    rows = (
        files_to_upload(files, ckpts, ARCHIVED, "BLOCK_ON_INCOMPLETE_COMMIT")
        .orderBy("sort_key")
        .collect()
    )
    # numeric sort: 3 < 10 (lexicographic would say '10' < '3'); 2 skipped
    assert [r.filename for r in rows] == [
        ".commits_.archive.3_1-0-1",
        ".commits_.archive.10_1-0-1",
    ]


@slow
def test_last_uploaded_lookback_rules():
    # archived -> last
    assert last_uploaded_file_from_batch([".commits_.archive.1_1-0-1"], ARCHIVED) == ".commits_.archive.1_1-0-1"
    # properties-only batch
    assert last_uploaded_file_from_batch(["hoodie.properties"], ACTIVE) == "hoodie.properties"
    # plain commit tail -> 3rd to last
    batch = ["100.commit", "100.commit.requested", "100.inflight"]
    assert last_uploaded_file_from_batch(batch, ACTIVE) == "100.commit"
    # savepoint tail -> 2nd to last
    batch = ["100.commit", "100.commit.requested", "100.inflight", "444.savepoint", "444.savepoint.inflight"]
    assert last_uploaded_file_from_batch(batch, ACTIVE) == "444.savepoint"
    # rollback full triple tail -> 3rd to last
    batch = ["555.rollback", "555.rollback.inflight", "555.rollback.requested"]
    assert last_uploaded_file_from_batch(batch, ACTIVE) == "555.rollback"
    # rollback 2-file tail
    batch = ["100.commit", "100.commit.requested", "100.inflight", "666.rollback", "666.rollback.inflight"]
    # last element is 666.rollback.inflight (inflight state) -> not related triple;
    # related 2-file (rollback, {inflight,completed}) -> 2nd-to-last... order check:
    assert last_uploaded_file_from_batch(batch, ACTIVE) == "666.rollback"
    # lone completed rollback tail
    batch = ["100.commit", "100.commit.requested", "100.inflight", "666.rollback"]
    assert last_uploaded_file_from_batch(batch, ACTIVE) == "666.rollback"


@slow
def test_start_after_rules():
    ck = {"last_uploaded_file": "", "first_incomplete_commit_file": ""}
    assert start_after(ck, "BLOCK_ON_INCOMPLETE_COMMIT") is None
    ck = {"last_uploaded_file": "hoodie.properties", "first_incomplete_commit_file": ""}
    assert start_after(ck, "BLOCK_ON_INCOMPLETE_COMMIT") is None
    ck = {"last_uploaded_file": "200.commit", "first_incomplete_commit_file": ""}
    assert start_after(ck, "BLOCK_ON_INCOMPLETE_COMMIT") == "200.commit"
    ck = {"last_uploaded_file": "200.commit", "first_incomplete_commit_file": "110"}
    assert start_after(ck, "CONTINUE_ON_INCOMPLETE_COMMIT") == "110"
    assert start_after(ck, "CONTINUE_ON_INCOMPLETE_COMMIT", is_first_fetch=False) == "200.commit"


@slow
def test_config_validation():
    ok = {
        "version": "V1",
        "metadataExtractorConfig": {
            "jobRunMode": "ONCE",
            "uploadStrategy": "BLOCK_ON_INCOMPLETE_COMMIT",
            "parserConfig": [
                {"lake": "l", "databases": [{"name": "d", "basePaths": ["/x"]}]}
            ],
        },
    }
    cfg = load_config(ok)
    assert cfg.job_run_mode == "ONCE"
    with pytest.raises(ValueError):
        load_config({"metadataExtractorConfig": {"parserConfig": [{"lake": "l"}]}})
    bad = dict(ok)
    bad["metadataExtractorConfig"] = {
        **ok["metadataExtractorConfig"],
        "parserConfig": [{"lake": "l", "databases": [{"name": "d"}]}],
    }
    with pytest.raises(ValueError):
        load_config(bad)


def test_run_once_end_to_end(spark, lake, tmp_path):
    cfg = load_config(
        {
            "version": "V1",
            "metadataExtractorConfig": {
                "jobRunMode": "ONCE",
                "uploadStrategy": "BLOCK_ON_INCOMPLETE_COMMIT",
                "pathExclusionPatterns": [".*excluded.*"],
                "parserConfig": PARSER_CFG(lake),
            },
        }
    )
    state = str(tmp_path / "state")
    mirror = str(tmp_path / "mirror")
    metrics = run_once(spark, cfg, state, mirror)
    assert metrics["tables_discovered"] == 2
    assert metrics["tables_initialized"] == 2

    store = CheckpointStore(spark, os.path.join(state, "checkpoints"))
    ckpts = {r.table_id: r for r in store.load().collect()}
    t1 = uuid3_from_uri(f"{lake}/tbl1")
    assert ckpts[t1].archived_commits_processed
    assert ckpts[t1].batch_id >= 1
    assert ckpts[t1].last_uploaded_file != ""

    # properties ships with the FIRST uploaded batch: t1 has an archived
    # timeline (processed first, batch 0) so properties lands there;
    # tbl2 has no archived dir so properties lands in its active mirror
    t1_archived = os.listdir(os.path.join(mirror, t1, "archived"))
    assert set(t1_archived) == {
        "hoodie.properties",
        ".commits_.archive.1_1-0-1",
        ".commits_.archive.2_1-0-1",
    }
    t1_active = os.listdir(os.path.join(mirror, t1, "active"))
    assert "100.deltacommit" in t1_active and "200.commit" in t1_active
    t2 = uuid3_from_uri(f"{lake}/nested/tbl2")
    t2_active = os.listdir(os.path.join(mirror, t2, "active"))
    assert "hoodie.properties" in t2_active and "300.commit" in t2_active

    # idempotent second run: nothing new to upload
    m2 = run_once(spark, cfg, state, mirror)
    assert m2["tables_initialized"] == 0
    assert m2["active_batched_files"] in (0, None) or m2.get("active_batched_files", 0) == 0


def test_run_once_mirror_failure_does_not_advance_checkpoint(spark, lake, tmp_path):
    """Reference poison semantics (TimelineCommitInstantsUploader.java:
    625-688): a failed upload must leave the checkpoint unadvanced so the
    next run reprocesses. Force the mirror sink to fail by planting a
    regular file where the table's mirror directory must go."""
    cfg = load_config(
        {
            "version": "V1",
            "metadataExtractorConfig": {
                "jobRunMode": "ONCE",
                "uploadStrategy": "BLOCK_ON_INCOMPLETE_COMMIT",
                "pathExclusionPatterns": [".*excluded.*"],
                "parserConfig": PARSER_CFG(lake),
            },
        }
    )
    state = str(tmp_path / "state")
    mirror = str(tmp_path / "mirror")
    os.makedirs(mirror)
    t1 = uuid3_from_uri(f"{lake}/tbl1")
    with open(os.path.join(mirror, t1), "w") as f:
        f.write("not a directory")

    with pytest.raises(Exception):
        run_once(spark, cfg, state, mirror)

    store = CheckpointStore(spark, os.path.join(state, "checkpoints"))
    ckpts = {r.table_id: r for r in store.load().collect()}
    # initialized (anti-join ran before upload) but never advanced
    assert ckpts[t1].batch_id == 0
    assert ckpts[t1].last_uploaded_file == ""
    assert not ckpts[t1].archived_commits_processed

    # unblock and re-run: the same files are reprocessed successfully
    os.remove(os.path.join(mirror, t1))
    metrics = run_once(spark, cfg, state, mirror)
    assert metrics["archived_batched_files"] > 0
    ckpts = {r.table_id: r for r in store.load().collect()}
    assert ckpts[t1].archived_commits_processed
    assert ckpts[t1].last_uploaded_file != ""


def test_run_once_incremental_second_run_uploads_only_new_commits(spark, lake, tmp_path):
    """Reference incremental semantics (TimelineCommitInstantsUploader:
    batch ids continue from the checkpoint; previously uploaded instants
    are excluded by the commit-id compare): a second run after new
    commits land uploads exactly the new files and advances batch_id."""
    cfg = load_config(
        {
            "version": "V1",
            "metadataExtractorConfig": {
                "jobRunMode": "ONCE",
                "uploadStrategy": "BLOCK_ON_INCOMPLETE_COMMIT",
                "pathExclusionPatterns": [".*excluded.*"],
                "parserConfig": PARSER_CFG(lake),
            },
        }
    )
    state = str(tmp_path / "state")
    mirror = str(tmp_path / "mirror")
    run_once(spark, cfg, state, mirror)

    store = CheckpointStore(spark, os.path.join(state, "checkpoints"))
    t1 = uuid3_from_uri(f"{lake}/tbl1")
    before = {r.table_id: r for r in store.load().collect()}[t1]

    # a new complete commit lands in tbl1's active timeline
    hoodie = os.path.join(lake, "tbl1", ".hoodie")
    for fn in ("300.commit.requested", "300.inflight", "300.commit"):
        with open(os.path.join(hoodie, fn), "w") as f:
            f.write("x")
    # poison-pill the OLD mirrored files' content to detect re-uploads
    active_dir = os.path.join(mirror, t1, "active")
    for fn in os.listdir(active_dir):
        with open(os.path.join(active_dir, fn), "w") as f:
            f.write("STALE")

    m2 = run_once(spark, cfg, state, mirror)
    after = {r.table_id: r for r in store.load().collect()}[t1]

    assert m2["active_batched_files"] == 3
    assert after.batch_id > before.batch_id
    assert after.last_uploaded_file == "300.commit"
    # new files mirrored; old files untouched (still the poison content)
    assert {"300.commit", "300.commit.requested", "300.inflight"} <= set(
        os.listdir(active_dir)
    )
    with open(os.path.join(active_dir, "200.commit")) as f:
        assert f.read() == "STALE", "previously uploaded instant must not re-upload"
    with open(os.path.join(active_dir, "300.commit")) as f:
        assert f.read() == "x"


@slow
def test_continue_strategy_checkpoint_sequence_reference_scenario(spark):
    """Port of ContinueOnIncompleteCommitStrategyTest.java:102-256: the
    mixed timeline (111 complete, 222 stale-incomplete, 333 clean, 444/
    666 incomplete rollbacks, 777 complete rollback) at upload batch
    size 4 from a batch-3 checkpoint must yield three batches (ids 4-6),
    first_incomplete = 221 (min incomplete 222 minus one), and a final
    checkpoint at last_uploaded_file 777.rollback."""
    from pyspark.sql import Row

    from lakeview_spark.operators.batcher import CONTINUE, batch_instants
    from lakeview_spark.runner import compute_checkpoint_updates
    from lakeview_spark.operators.uploader import ACTIVE

    fresh = datetime(2024, 7, 23)
    stale = datetime(2024, 7, 21)
    names = [
        ("111.deltacommit.requested", fresh),
        ("111.deltacommit.inflight", fresh),
        ("111.deltacommit", fresh),
        ("333.clean", fresh),
        ("444.rollback.requested", fresh),
        ("333.clean.requested", fresh),
        ("222.clean.inflight", stale),
        ("333.clean.inflight", fresh),
        ("222.clean.requested", stale),
        ("444.rollback.inflight", fresh),
        ("666.rollback.requested", fresh),
        ("777.rollback.requested", fresh),
        ("777.rollback.inflight", fresh),
        ("777.rollback", fresh),
    ]
    files = spark.createDataFrame(
        [("tbl", n, lm) for n, lm in names], ["table_id", "filename", "last_modified"]
    )
    ckpts = spark.createDataFrame(
        [
            Row(
                table_id="tbl",
                batch_id=3,
                checkpoint_ts=datetime(1970, 1, 1),
                last_uploaded_file="",
                first_incomplete_commit_file="",
                archived_commits_processed=True,
                last_archived_manifest_version=0,
            )
        ]
    )
    batches = batch_instants(files, max_batch_size=4, strategy=CONTINUE, checkpoints_df=ckpts)
    rows = sorted(batches.collect(), key=lambda r: (r.batch_id, r.seq_in_batch))
    got = {}
    for r in rows:
        got.setdefault(r.batch_id, []).append(r.filename)
        assert r.first_incomplete == "221"
    assert got == {
        4: ["111.deltacommit", "111.deltacommit.inflight", "111.deltacommit.requested"],
        5: ["333.clean", "333.clean.inflight", "333.clean.requested"],
        6: ["777.rollback", "777.rollback.inflight", "777.rollback.requested"],
    }

    update = compute_checkpoint_updates(batches, files, ckpts, ACTIVE).collect()[0]
    assert update.batch_id == 6
    assert update.last_uploaded_file == "777.rollback"
    assert update.first_incomplete_commit_file == "221"
    assert update.checkpoint_ts == fresh


@slow
def test_closed_form_batching_replay_matches_packer():
    """Validates the theorem behind the r8 active_batch_packing /
    checkpoint_lookback oracles (plans/coverage.py _BATCH_CTE): on a
    synthesized-timeline-shaped input (per order: .commit.requested +
    .inflight, plus a completed .commit — `k_k+1.commit` when status
    'F' — for non-'O' statuses), the greedy CONTINUE walk reduces to:
    take every ts whose 3 files are contiguous in lexicographic order,
    6 triples per batch (capacity 20), skip candidates = str(ts-1) for
    every non-taken position <= n-3, first_incomplete = STRING min."""
    import random

    from lakeview_spark.operators.batcher import CONTINUE, create_batches

    rng = random.Random(8)
    for trial in range(200):
        n_orders = rng.randint(1, 40)
        keys = rng.sample(range(1, 2000), n_orders)
        files = []
        for k in keys:
            status = rng.choice("OOFP")  # skew toward incomplete
            files.append((f"{k}.commit.requested", None))
            files.append((f"{k}.inflight", None))
            if status == "F":
                files.append((f"{k}_{k + 1}.commit", None))
            elif status == "P":
                files.append((f"{k}.commit", None))
        first_inc, batches = create_batches(files, 20, CONTINUE)

        # closed-form replay
        names = sorted(fn for fn, _ in files)
        n = len(names)
        ts_of = lambda fn: fn.split(".", 1)[0].split("_", 1)[0]  # noqa: E731
        by_ts: dict[str, list[int]] = {}
        for pos, fn in enumerate(names):
            by_ts.setdefault(ts_of(fn), []).append(pos)
        taken = {
            ts: ps
            for ts, ps in by_ts.items()
            if len(ps) == 3 and max(ps) - min(ps) == 2
        }
        triples = sorted(taken.values(), key=min)
        want_batches = [
            [names[p] for ps in triples[i : i + 6] for p in sorted(ps)]
            for i in range(0, len(triples), 6)
        ]
        taken_pos = {p for ps in triples for p in ps}
        candidates = [
            str(int(ts_of(names[p])) - 1)
            for p in range(n)
            if p not in taken_pos and p <= n - 3
        ]
        want_first = min(candidates) if candidates else ""

        assert batches == want_batches, (trial, keys)
        assert first_inc == want_first, (trial, keys)
