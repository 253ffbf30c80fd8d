"""Config override merge (S10 / ConfigRefresher parity) and
ONCE_WITH_RETRY scheduling policy."""

from __future__ import annotations

from lakeview_spark.config import (
    deep_merge,
    load_config_with_override,
    should_run_once_with_retry,
)

BASE = {
    "version": "V1",
    "metadataExtractorConfig": {
        "jobRunMode": "ONCE",
        "uploadStrategy": "BLOCK_ON_INCOMPLETE_COMMIT",
        "pathExclusionPatterns": ["a"],
        "parserConfig": [
            {"lake": "l", "databases": [{"name": "d", "basePaths": ["/x"]}]}
        ],
    },
}


def test_deep_merge_semantics():
    merged = deep_merge(
        {"a": {"b": 1, "c": 2}, "lst": [1, 2]},
        {"a": {"c": 3}, "lst": [9], "new": True},
    )
    assert merged == {"a": {"b": 1, "c": 3}, "lst": [9], "new": True}


def test_load_config_with_override():
    cfg = load_config_with_override(
        BASE,
        {"metadataExtractorConfig": {"uploadStrategy": "CONTINUE_ON_INCOMPLETE_COMMIT"}},
    )
    assert cfg.upload_strategy == "CONTINUE_ON_INCOMPLETE_COMMIT"
    assert cfg.path_exclusion_patterns == ["a"]  # untouched keys survive
    assert load_config_with_override(BASE, None).upload_strategy == "BLOCK_ON_INCOMPLETE_COMMIT"


def test_once_with_retry_policy():
    # failed run, retries remain, cron far away -> retry
    assert should_run_once_with_retry(1, False, 60.0)
    # success -> never retry
    assert not should_run_once_with_retry(1, True, 60.0)
    # retry budget exhausted (max 5)
    assert not should_run_once_with_retry(5, False, 60.0)
    # next cron run too close (<10 min) -> skip, let the cron run cover it
    assert not should_run_once_with_retry(1, False, 9.0)
    assert should_run_once_with_retry(4, False, 10.0)


# ---- cron parsing + ONCE_WITH_RETRY / CONTINUOUS refresh wiring ----

from datetime import datetime

import pytest

from lakeview_spark.config import (
    load_config,
    minutes_until_next_cron,
    next_cron_execution,
)
from lakeview_spark import runner as runner_mod
from lakeview_spark.runner import UploadRoundError, run_continuous, run_once_with_retry


def test_next_cron_execution_hourly_default():
    # reference default "0 */1 * * *" (MetadataExtractorConfig.java:28)
    assert next_cron_execution("0 */1 * * *", datetime(2026, 3, 1, 10, 30)) == datetime(
        2026, 3, 1, 11, 0
    )
    # exactly on a fire time -> strictly after
    assert next_cron_execution("0 */1 * * *", datetime(2026, 3, 1, 10, 0)) == datetime(
        2026, 3, 1, 11, 0
    )


def test_next_cron_execution_field_kinds():
    assert next_cron_execution("*/15 * * * *", datetime(2026, 3, 1, 10, 50)) == datetime(
        2026, 3, 1, 11, 0
    )
    # 2026-03-01 is a Sunday; next Monday 02:30 is 03-02
    assert next_cron_execution("30 2 * * 1", datetime(2026, 3, 1, 10, 0)) == datetime(
        2026, 3, 2, 2, 30
    )
    # dom OR dow when both restricted: fires Fri 03-06 before the 15th
    assert next_cron_execution("0 0 15 * 5", datetime(2026, 3, 1, 10, 0)) == datetime(
        2026, 3, 6, 0, 0
    )
    # month rollover
    assert next_cron_execution("0 0 1 4 *", datetime(2026, 3, 20, 10, 0)) == datetime(
        2026, 4, 1, 0, 0
    )
    assert minutes_until_next_cron("0 */1 * * *", datetime(2026, 3, 1, 10, 30)) == 30.0


def _retry_cfg(**mec_extra):
    return load_config(
        {
            "version": "V1",
            "metadataExtractorConfig": {
                "jobRunMode": "ONCE_WITH_RETRY",
                "parserConfig": [
                    {"lake": "l", "databases": [{"name": "d", "basePaths": ["/x"]}]}
                ],
                **mec_extra,
            },
        }
    )


def test_once_with_retry_retries_until_success():
    calls = []

    def flaky(spark, config, state_dir, mirror_dir, lister):
        calls.append(1)
        if len(calls) < 3:
            raise RuntimeError("throttled")
        return {"tables_discovered": 0}

    attempts = run_once_with_retry(
        None,
        _retry_cfg(cronScheduleForPullModel="0 */6 * * *"),
        "/tmp/unused",
        start_time=datetime(2026, 3, 1, 1, 0),  # next cron 06:00 — far away
        run_fn=flaky,
    )
    assert [a["succeeded"] for a in attempts] == [False, False, True]


def test_once_with_retry_respects_max_run_count():
    def always_fail(*a):
        raise RuntimeError("nope")

    attempts = run_once_with_retry(
        None,
        _retry_cfg(cronScheduleForPullModel="0 */6 * * *", maxRunCountForPullModel=2),
        "/tmp/unused",
        start_time=datetime(2026, 3, 1, 1, 0),
        run_fn=always_fail,
    )
    assert len(attempts) == 2 and not any(a["succeeded"] for a in attempts)


def test_once_with_retry_stops_when_next_cron_imminent():
    def always_fail(*a):
        raise RuntimeError("nope")

    # hourly cron, start at 10:55 -> next fire 5 min away < 10 min floor
    attempts = run_once_with_retry(
        None,
        _retry_cfg(),
        "/tmp/unused",
        start_time=datetime(2026, 3, 1, 10, 55),
        run_fn=always_fail,
    )
    assert len(attempts) == 1  # no retry: scheduled run covers it


BLOCK = "BLOCK_ON_INCOMPLETE_COMMIT"
CONTINUE = "CONTINUE_ON_INCOMPLETE_COMMIT"


def _continuous_base(**cadence):
    """A CONTINUOUS config dict. By default the upload poll fires every
    120 s and every poll uploads (2-min gate), so with the default 2-min
    refresh clock each upload runs right after one refresh."""
    mec = {
        "jobRunMode": "CONTINUOUS",
        "tableDiscoveryIntervalMinutes": 60,
        "processTableMetadataSyncDurationSeconds": 120,
        "tableMetadataUploadIntervalMinutes": 2,
        "parserConfig": [
            {"lake": "l", "databases": [{"name": "d", "basePaths": ["/x"]}]}
        ],
    }
    mec.update(cadence)
    return {"version": "V1", "metadataExtractorConfig": mec}


def _stub_rounds(monkeypatch, upload):
    """Replace both phases: discovery finds one table, and every upload
    round calls ``upload(config)``, whose dict (if any) is its metrics."""
    monkeypatch.setattr(
        runner_mod,
        "discover_round",
        lambda spark, config, lister: ([{"table_id": "a"}], {"tables_discovered": 1}),
    )
    monkeypatch.setattr(
        runner_mod,
        "upload_round",
        lambda spark, config, tables, state_dir, mirror_dir, lister: upload(config) or {},
    )


def _override_text(strategy: str) -> str:
    return f"metadataExtractorConfig:\n  uploadStrategy: {strategy}\n"


def test_continuous_mode_refreshes_override_each_round(monkeypatch, tmp_path):
    seen_strategies = []
    _stub_rounds(monkeypatch, lambda config: seen_strategies.append(config.upload_strategy))
    override = tmp_path / "override.yaml"
    override.write_text(_override_text(BLOCK))

    def flip_override(_seconds):
        # between upload rounds the operator edits the override file
        override.write_text(_override_text(CONTINUE))

    # no config object: the loop loads it from the source before its
    # first event
    events = run_continuous(
        None,
        None,
        "/tmp/unused",
        max_events=3,
        base_config_source=_continuous_base(),
        override_source=str(override),
        sleep_fn=flip_override,
    )
    assert [e["kind"] for e in events] == ["discovery", "upload_poll", "upload_poll"]
    assert seen_strategies == [BLOCK, CONTINUE]


def test_continuous_mode_keeps_last_good_config_on_bad_override(monkeypatch):
    seen = []
    _stub_rounds(monkeypatch, lambda config: seen.append(config.upload_strategy))
    base = _continuous_base()
    events = run_continuous(
        None,
        load_config(base),
        "/tmp/unused",
        max_events=3,
        base_config_source=base,
        override_source=_override_text("NOT_A_STRATEGY"),
        sleep_fn=lambda s: None,
    )
    # invalid override -> every refresh fails -> previous config stays
    assert len(events) == 3 and seen == [BLOCK] * 2
    assert events[-1]["config_refresh_failures"] == 2


def test_load_config_from_yaml_string():
    # ConfigLoaderTest.java:78-90 (yaml-string CLI path, reference -c flag)
    from lakeview_spark.config import load_config

    cfg = load_config(
        "version: V1\n"
        "metadataExtractorConfig:\n"
        "  jobRunMode: ONCE\n"
        "  uploadStrategy: CONTINUE_ON_INCOMPLETE_COMMIT\n"
        "  parserConfig:\n"
        "    - lake: l\n"
        "      databases:\n"
        "        - name: d\n"
        "          basePaths: ['/x']\n"
    )
    assert cfg.job_run_mode == "ONCE"
    assert cfg.upload_strategy == "CONTINUE_ON_INCOMPLETE_COMMIT"


def test_load_config_invalid_yaml_raises():
    # ConfigLoaderTest.java:146-153
    import pytest as _pytest

    from lakeview_spark.config import load_config

    with _pytest.raises(Exception):
        load_config("version: V1\nmetadataExtractorConfig: [unclosed\n  - ][")


def test_continuous_mode_survives_failing_rounds_and_counts_them(monkeypatch):
    calls = []

    def flaky_upload(config):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("sink exploded")
        return {"tables_initialized": 2}

    _stub_rounds(monkeypatch, flaky_upload)
    events = run_continuous(
        None,
        load_config(_continuous_base()),
        "/tmp/unused",
        max_events=3,
        sleep_fn=lambda s: None,
    )
    uploads = [e for e in events if e["kind"] == "upload_poll"]
    # upload round 1 failed but was recorded; round 2 ran on schedule
    assert [e["succeeded"] for e in uploads] == [False, True]
    assert "sink exploded" in uploads[0]["error"]
    assert uploads[1]["tables_initialized"] == 2
    assert [e["t"] for e in uploads] == [0.0, 120.0]


def test_failed_upload_round_keeps_its_counts(monkeypatch):
    """An UploadRoundError's metrics and failed tables ride beside
    ``succeeded: False`` in a ONCE_WITH_RETRY attempt and in a CONTINUOUS
    upload_poll event."""
    counts = {"tables_initialized": 2, "upload_tables_in_job": 0, "active_batched_files": 3}

    def failing_upload(*_):
        raise UploadRoundError("upload failed for 1 table(s) ['b']", dict(counts), ["b"])

    attempts = run_once_with_retry(
        None,
        _retry_cfg(cronScheduleForPullModel="0 */6 * * *", maxRunCountForPullModel=1),
        "/tmp/unused",
        start_time=datetime(2026, 3, 1, 1, 0),
        run_fn=failing_upload,
    )
    _stub_rounds(monkeypatch, failing_upload)
    events = run_continuous(
        None, load_config(_continuous_base()), "/tmp/unused", max_events=2, sleep_fn=lambda s: None
    )
    for failed in (attempts[0], events[1]):
        assert failed["succeeded"] is False and "upload failed" in failed["error"]
        assert {k: failed[k] for k in counts} == counts
        assert failed["failed_table_ids"] == ["b"]

    # a whole-phase failure after discovery still carries discovery's counts
    def broken_store(config):
        raise OSError("checkpoint store unreadable")

    _stub_rounds(monkeypatch, broken_store)
    with pytest.raises(UploadRoundError) as failure:
        runner_mod.run_once(None, load_config(_continuous_base()), "/tmp/unused")
    assert failure.value.metrics == {"tables_discovered": 1}
    assert failure.value.failed_table_ids == []


def test_continuous_mode_counts_config_refresh_failures(monkeypatch):
    _stub_rounds(monkeypatch, lambda config: None)
    events = run_continuous(
        None,
        load_config(_continuous_base()),
        "/tmp/unused",
        max_events=3,
        sleep_fn=lambda s: None,
        base_config_source={"version": "V1"},  # invalid: no parserConfig
    )
    # every refresh fails, the last good config stays in force, and the
    # failure count is visible in each event's metrics
    assert [e["config_refresh_failures"] for e in events] == [1, 1, 2]
    assert [e["config_refresh_attempts"] for e in events] == [1, 1, 2]
    assert all(e["succeeded"] for e in events)


def test_refresh_counters_are_per_attempt_not_per_round(monkeypatch):
    """The refresh clock is independent of the upload clock: 300 s
    between uploads at a 100 s refresh cadence hold THREE refreshes,
    each one attempt. The counters' unit is the attempt, so attempts
    give the denominator of the failure rate (r5 ADVICE: a per-round
    reading of the failure count inflates)."""
    _stub_rounds(monkeypatch, lambda config: None)
    cadence = {
        "processTableMetadataSyncDurationSeconds": 300,
        "tableMetadataUploadIntervalMinutes": 5,
    }
    events = run_continuous(
        None,
        load_config(_continuous_base(**cadence)),
        "/tmp/unused",
        max_events=3,
        refresh_interval_s=100,
        sleep_fn=lambda s: None,
        base_config_source={"version": "V1"},  # invalid: no parserConfig
    )
    # initial merge = attempt 1 (before the t=0 events); refreshes at
    # t=100, 200, 300 = attempts 2-4 (before the t=300 upload). Every
    # attempt fails here, so failures == attempts.
    assert [e["t"] for e in events] == [0.0, 0.0, 300.0]
    assert [e["config_refresh_attempts"] for e in events] == [1, 1, 4]
    assert [e["config_refresh_failures"] for e in events] == [1, 1, 4]
    assert all(e["succeeded"] for e in events)


def test_continuous_mode_refreshes_override_on_its_own_2min_clock(
    monkeypatch, tmp_path
):
    """ConfigRefresher.java:17,39-52: the override is re-merged every 2
    minutes on its own timer, independent of the (longer) upload
    interval. At the reference's 30 s poll and 5 min upload gate the
    refreshes land at t=120 and t=240, so an edit made in the first
    poll interval is in force by t=120 and the t=300 upload runs with
    it."""
    seen_strategies = []
    _stub_rounds(monkeypatch, lambda config: seen_strategies.append(config.upload_strategy))

    from lakeview_spark import config as runner_mod_config

    refresh_times = []
    real_loader = runner_mod_config.load_config_with_override

    def counting_loader(base, override=None):
        refresh_times.append(sum(sleeps))
        return real_loader(base, override)

    monkeypatch.setattr(
        runner_mod_config, "load_config_with_override", counting_loader
    )

    override = tmp_path / "override.yaml"
    override.write_text(_override_text(BLOCK))

    sleeps = []

    def virtual_sleep(seconds):
        sleeps.append(seconds)
        if len(sleeps) == 1:
            # the operator edits the override during the first poll
            # interval (t=0..30)
            override.write_text(_override_text(CONTINUE))

    cadence = {
        "processTableMetadataSyncDurationSeconds": 30,
        "tableMetadataUploadIntervalMinutes": 5,
    }
    # discovery@0, then polls every 30 s up to the t=300 upload
    events = run_continuous(
        None,
        None,
        "/tmp/unused",
        max_events=12,
        base_config_source=_continuous_base(**cadence),
        override_source=str(override),
        sleep_fn=virtual_sleep,
    )
    uploads = [e for e in events if e.get("uploaded")]
    assert [e["t"] for e in uploads] == [0.0, 300.0]
    # initial load at t=0, then one refresh per 2-min tick
    assert refresh_times == [0, 120, 240]
    # the edit landed mid-interval and the t=300 upload ran with it
    assert seen_strategies == [BLOCK, CONTINUE]
