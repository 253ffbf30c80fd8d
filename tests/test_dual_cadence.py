"""CONTINUOUS scheduler: the reference's two cadences (VERDICT r08 next-5).

The reference runs discovery and upload as TWO independent schedules
sharing a `tablesToProcess` snapshot under a lock
(TableDiscoveryAndUploadJob.java:66-82): discovery every
tableDiscoveryIntervalMinutes (30 min), the upload poll every
processTableMetadataSyncDurationSeconds (30 s) gated to
tableMetadataUploadIntervalMinutes (5 min) since the previous upload
run START. `run_continuous` is the driver-loop twin over virtual
time; these tests drive the two clocks and assert the straddle:
two discovery rounds bracket N>2 upload rounds, with the table set
held stable between discoveries.

The monkeypatched scheduler tests need no Spark and run in the fast
tier; the end-to-end lake and CLI tests are slow.
"""

from __future__ import annotations

import os

import lakeview_spark.runner as runner_mod
from lakeview_spark.config import load_config
from lakeview_spark.runner import run_continuous
from tests.test_dataflow import lake, make_table  # noqa: F401 (fixture)
import pytest

# slow tier (deselected by the default "-m not slow" addopts; the
# builder's close battery runs the full suite with -m "slow or not
# slow"): only the tests that start Spark
slow = pytest.mark.slow


def _cfg(root, **intervals):
    mec = {
        "jobRunMode": "CONTINUOUS",
        "parserConfig": [
            {"lake": "lake1", "databases": [{"name": "db1", "basePaths": [root]}]}
        ],
    }
    mec.update(intervals)
    return load_config({"version": "V1", "metadataExtractorConfig": mec})


def test_dual_cadence_schedule_reference_defaults(monkeypatch):
    """At the reference defaults (30 min / 30 s / 5 min), two discovery
    rounds straddle exactly 6 upload runs (t=0,300,...,1500 then the
    t=1800 discovery), and the snapshot is held stable in between."""
    snapshots = iter([[{"table_id": "a"}], [{"table_id": "a"}, {"table_id": "b"}]])
    monkeypatch.setattr(
        runner_mod,
        "discover_round",
        lambda spark, config, lister: (next(snapshots), {"tables_discovered": 1}),
    )
    monkeypatch.setattr(
        runner_mod,
        "upload_round",
        lambda spark, config, tables, state_dir, mirror_dir, lister: {
            "uploaded_tables": sorted(t["table_id"] for t in tables)
        },
    )
    cfg = _cfg("/x")  # defaults: 30 min / 30 s / 5 min
    slept = []
    # enough events for: disc@0, 60 polls (t=0..1770), disc@1800, poll@1800
    events = run_continuous(
        None, cfg, "/tmp/unused", max_events=64, sleep_fn=slept.append
    )

    disc = [e for e in events if e["kind"] == "discovery"]
    polls = [e for e in events if e["kind"] == "upload_poll"]
    uploads = [e for e in polls if e["uploaded"]]
    assert [e["t"] for e in disc] == [0.0, 1800.0]
    # poll fires every 30 s; upload only when the 5-min gate opens
    assert [e["t"] for e in uploads[:6]] == [0.0, 300.0, 600.0, 900.0, 1200.0, 1500.0]
    # the polls between uploads are gate-skipped, not silently dropped
    gate_skips = [e for e in polls if e.get("skipped_reason") == "upload_interval_gate"]
    assert len(gate_skips) == len(polls) - len(uploads)
    # two discoveries straddle N>2 uploads with the table set held stable
    between = [e for e in uploads if 0.0 <= e["t"] < 1800.0]
    assert len(between) > 2
    assert all(e["uploaded_tables"] == ["a"] for e in between)
    # first upload after the second discovery sees the refreshed snapshot
    after = [e for e in uploads if e["t"] >= 1800.0]
    assert after and after[0]["uploaded_tables"] == ["a", "b"]
    # virtual clock: sleeps sum to the last event time
    assert sum(slept) == events[-1]["t"]


def test_dual_cadence_failed_discovery_keeps_last_snapshot(monkeypatch):
    """A failed discovery keeps the previous snapshot and the schedule
    (TableDiscoveryAndUploadJob.java:158-166)."""
    calls = {"n": 0}

    def flaky_discover(spark, config, lister):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("listing throttled")
        return [{"table_id": "a"}], {"tables_discovered": 1}

    monkeypatch.setattr(runner_mod, "discover_round", flaky_discover)
    monkeypatch.setattr(
        runner_mod,
        "upload_round",
        lambda spark, config, tables, state_dir, mirror_dir, lister: {
            "uploaded_tables": [t["table_id"] for t in tables]
        },
    )
    cfg = _cfg(
        "/x",
        tableDiscoveryIntervalMinutes=1,
        processTableMetadataSyncDurationSeconds=30,
        tableMetadataUploadIntervalMinutes=0.5,
    )
    events = run_continuous(
        None, cfg, "/tmp/unused", max_events=10, sleep_fn=lambda s: None
    )
    disc = [e for e in events if e["kind"] == "discovery"]
    assert [d["succeeded"] for d in disc[:2]] == [True, False]
    # uploads AFTER the failed discovery still run on the old snapshot
    later_uploads = [
        e
        for e in events
        if e["kind"] == "upload_poll" and e["uploaded"] and e["t"] > disc[1]["t"]
    ]
    assert later_uploads and all(
        e["uploaded_tables"] == ["a"] for e in later_uploads
    )


@slow
def test_dual_cadence_end_to_end_sees_new_table_only_after_discovery(
    spark, lake, tmp_path
):
    """Real lake: a table created between discoveries is invisible to
    the uploads inside the straddle and picked up by the next one."""
    state = str(tmp_path / "state")
    cfg = _cfg(
        lake,
        tableDiscoveryIntervalMinutes=2,
        processTableMetadataSyncDurationSeconds=30,
        tableMetadataUploadIntervalMinutes=0.5,
        pathExclusionPatterns=[r".*excluded.*"],
    )

    def grow_lake(_seconds):
        # the operator creates a table mid-interval; only the next
        # discovery may see it
        make_table(lake, "tbl_new", files=["500.commit.requested", "500.commit"])

    # events: disc@0, upload@0, upload@30..., disc@120, upload@120...
    events = run_continuous(
        spark, cfg, state, max_events=9, sleep_fn=grow_lake
    )
    disc = [e for e in events if e["kind"] == "discovery"]
    uploads = [e for e in events if e["kind"] == "upload_poll" and e["uploaded"]]
    assert len(disc) == 2 and disc[0]["tables_discovered"] == 2
    assert disc[1]["tables_discovered"] == 3
    between = [e for e in uploads if e["t"] < disc[1]["t"]]
    assert len(between) > 2
    assert all(e["tables_in_snapshot"] == 2 for e in between)
    after = [e for e in uploads if e["t"] >= disc[1]["t"]]
    assert after and after[0]["tables_in_snapshot"] == 3
    # the straddle uploads actually progressed the checkpoint store: the
    # new table is initialized only by the post-discovery upload
    assert after[0]["tables_initialized"] == 1
    assert os.path.isdir(os.path.join(state, "checkpoints"))


@slow
def test_cli_dual_cadence_bounded_events(spark, lake, tmp_path, capsys):
    """CONTINUOUS routes to the two-schedule loop; the first discovery
    and the first (immediately-gated-open) upload poll both fire at
    t=0, so --max-rounds bounds the emitted events without sleeping."""
    from lakeview_spark.__main__ import main

    cfg = tmp_path / "conf.yml"
    cfg.write_text(
        "version: V1\n"
        "metadataExtractorConfig:\n"
        "  jobRunMode: CONTINUOUS\n"
        "  parserConfig:\n"
        "    - lake: l\n"
        "      databases:\n"
        "        - name: d\n"
        f"          basePaths: [{lake}]\n"
    )
    import json as _json

    def run(max_rounds):
        argv = ["-p", str(cfg), "--state-dir", str(tmp_path / "s")]
        assert main(argv + ["--max-rounds", str(max_rounds)], spark=spark) == 0
        return _json.loads(capsys.readouterr().out)

    assert [e["kind"] for e in run(1)] == ["discovery"]
    events = run(2)
    assert [e["kind"] for e in events] == ["discovery", "upload_poll"]
    assert events[0]["t"] == 0.0 and events[1]["t"] == 0.0
    assert events[1]["uploaded"] is True
    # the CLI passes the config source, so refresh counters ride along
    assert events[0]["config_refresh_attempts"] >= 1


def test_cli_has_one_continuous_mode():
    """CONTINUOUS has no CLI cadence switches: the cadences come from
    the config."""
    from lakeview_spark.__main__ import build_parser

    for removed in (["--interval", "5"], ["--dual-cadence"]):
        with pytest.raises(SystemExit) as exc:
            build_parser().parse_args(["-c", "version: V1"] + removed)
        assert exc.value.code == 2


def test_unbounded_by_default(monkeypatch):
    """max_events=None runs until shutdown, as the reference does: the
    loop is still polling after 25 events."""
    monkeypatch.setattr(
        runner_mod,
        "discover_round",
        lambda spark, config, lister: ([{"table_id": "a"}], {"tables_discovered": 1}),
    )
    monkeypatch.setattr(
        runner_mod,
        "upload_round",
        lambda spark, config, tables, state_dir, mirror_dir, lister: {},
    )

    class Shutdown(Exception):
        pass

    seen = []

    def sleep(_seconds):
        if len(seen) >= 25:
            raise Shutdown

    with pytest.raises(Shutdown):
        run_continuous(
            None,
            _cfg("/x"),
            "/tmp/unused",
            max_events=None,
            sleep_fn=sleep,
            on_event=seen.append,
        )
    assert len(seen) == 25


def test_dual_cadence_refresh_clock_flips_override(monkeypatch, tmp_path):
    """The third (refresh) clock re-merges the override on its own
    cadence between poll ticks: a strategy flip written mid-run is in
    force at the next upload, and refresh ticks emit no events."""
    strategies = []
    monkeypatch.setattr(
        runner_mod,
        "discover_round",
        lambda spark, config, lister: ([{"table_id": "a"}], {"tables_discovered": 1}),
    )

    def fake_upload(spark, config, tables, state_dir, mirror_dir, lister):
        strategies.append(config.upload_strategy)
        return {}

    monkeypatch.setattr(runner_mod, "upload_round", fake_upload)
    base = {
        "version": "V1",
        "metadataExtractorConfig": {
            "jobRunMode": "CONTINUOUS",
            "tableDiscoveryIntervalMinutes": 60,
            "processTableMetadataSyncDurationSeconds": 120,
            "tableMetadataUploadIntervalMinutes": 2,
            "parserConfig": [
                {"lake": "l", "databases": [{"name": "d", "basePaths": ["/x"]}]}
            ],
        },
    }
    override = tmp_path / "override.yml"
    override.write_text(
        "metadataExtractorConfig:\n  uploadStrategy: BLOCK_ON_INCOMPLETE_COMMIT\n"
    )

    def flip(_seconds):
        override.write_text(
            "metadataExtractorConfig:\n  uploadStrategy: CONTINUE_ON_INCOMPLETE_COMMIT\n"
        )

    # refresh every 90 s; polls at t=0 (BLOCK) and t=120 (after the
    # t=90 refresh saw the flip -> CONTINUE)
    events = run_continuous(
        None,
        load_config(base),
        "/tmp/unused",
        max_events=4,
        sleep_fn=flip,
        base_config_source=base,
        override_source=str(override),
        refresh_interval_s=90.0,
    )
    assert strategies[:2] == [
        "BLOCK_ON_INCOMPLETE_COMMIT",
        "CONTINUE_ON_INCOMPLETE_COMMIT",
    ]
    assert all(e["kind"] in ("discovery", "upload_poll") for e in events)
