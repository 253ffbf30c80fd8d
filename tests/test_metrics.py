"""Prometheus metrics exposure (lakeview_spark/metrics.py): registry
semantics, the text exposition format, the runner-metrics mapping, and
the stdlib HTTP endpoint — the reference's MetricsServer surface
(reference: metrics/Metrics.java, MetricsServer.java,
LakeViewExtractorMetrics.java)."""

from __future__ import annotations

import socket
import urllib.request

from lakeview_spark.metrics import (
    FAILED_OVERRIDE_CONFIG_COUNTER,
    METADATA_UPLOAD_FAILURE_REASONS,
    METADATA_UPLOAD_SUCCESS_COUNTER,
    PROMETHEUS_METRICS_SCRAPING_DISABLED,
    TABLE_DISCOVERY_FAILURE_COUNTER,
    TABLE_DISCOVERY_SUCCESS_COUNTER,
    TABLE_METADATA_PROCESSING_FAILURE_COUNTER,
    TABLES_DISCOVERED_GAUGE,
    TABLES_PROCESSED_GAUGE,
    MetricsRegistry,
    MetricsServer,
    observe_run_metrics,
)


def test_registry_counts_and_renders_exposition_format():
    reg = MetricsRegistry(default_labels=(("config_version", "V1"),))
    reg.increment(TABLE_DISCOVERY_SUCCESS_COUNTER)
    reg.increment(TABLE_DISCOVERY_SUCCESS_COUNTER)
    reg.increment(
        TABLE_METADATA_PROCESSING_FAILURE_COUNTER,
        {"metadata_upload_failure_reason": "ACCESS_DENIED"},
    )
    reg.set_gauge(TABLES_DISCOVERED_GAUGE, 7)
    body = reg.render()
    assert f"# TYPE {TABLE_DISCOVERY_SUCCESS_COUNTER} counter" in body
    assert f"# TYPE {TABLES_DISCOVERED_GAUGE} gauge" in body
    assert (
        f'{TABLE_DISCOVERY_SUCCESS_COUNTER}{{config_version="V1"}} 2' in body
    )
    assert (
        f'{TABLE_METADATA_PROCESSING_FAILURE_COUNTER}'
        f'{{config_version="V1",metadata_upload_failure_reason="ACCESS_DENIED"}} 1'
        in body
    )
    assert f'{TABLES_DISCOVERED_GAUGE}{{config_version="V1"}} 7' in body
    # HELP precedes TYPE precedes samples, once per family
    assert body.count(f"# TYPE {TABLE_DISCOVERY_SUCCESS_COUNTER} ") == 1
    assert "ACCESS_DENIED" in METADATA_UPLOAD_FAILURE_REASONS


def test_runner_metrics_map_to_reference_names():
    reg = MetricsRegistry()
    observe_run_metrics(
        reg,
        {
            "tables_discovered": 3,
            "tables_initialized": 2,
            "table_metadata_processing_failures": 1,
            "active_batched_files": 4,
            "archived_batched_files": 2,
            "config_refresh_failures": 1,
            "elapsed_s": 0.5,
        },
    )
    body = reg.render()
    assert f"{TABLES_DISCOVERED_GAUGE} 3" in body
    assert f"{TABLES_PROCESSED_GAUGE} 2" in body
    assert f"{TABLE_DISCOVERY_SUCCESS_COUNTER} 1" in body
    assert f"{METADATA_UPLOAD_SUCCESS_COUNTER} 6" in body
    assert f"{FAILED_OVERRIDE_CONFIG_COUNTER} 1" in body
    assert (
        'metadata_upload_failure_reason="HOODIE_PROPERTY_NOT_FOUND_OR_CORRUPTED"'
        in body
    )


def test_discovery_failure_carries_discover_reason_tag():
    reg = MetricsRegistry()
    observe_run_metrics(reg, {"succeeded": False, "error": "boom"})
    body = reg.render()
    assert 'metadata_discover_failure_reason="UNKNOWN"' in body


def test_upload_failures_are_not_discovery_failures():
    """A failed upload (an upload poll, or a ONCE_WITH_RETRY attempt that
    got past discovery) counts its failed tables as processing failures,
    not as a discovery failure; a failed discovery still counts as one."""
    reg = MetricsRegistry()
    failed_upload = {"succeeded": False, "error": "boom", "failed_table_ids": ["a", "b"]}
    observe_run_metrics(reg, {"kind": "upload_poll", "tables_initialized": 0, **failed_upload})
    observe_run_metrics(reg, {"tables_discovered": 3, "active_batched_files": 4, **failed_upload})
    observe_run_metrics(reg, {"kind": "discovery", "succeeded": False, "error": "boom"})
    body = reg.render()
    assert (
        f'{TABLE_METADATA_PROCESSING_FAILURE_COUNTER}{{metadata_upload_failure_reason="UNKNOWN"}} 4'
        in body
    )
    assert f'{TABLE_DISCOVERY_FAILURE_COUNTER}{{metadata_discover_failure_reason="UNKNOWN"}} 1' in body
    assert f"{TABLE_DISCOVERY_SUCCESS_COUNTER} 1" in body
    assert f"{METADATA_UPLOAD_SUCCESS_COUNTER} 4" in body


def test_continuous_runner_observes_each_round_live(monkeypatch):
    """run_continuous's on_event feeds the registry as events are
    emitted — the registry must show the discovery gauge after the
    first event, not only at exit (r10 ADVICE: the reference updates
    gauges inside each round)."""
    from lakeview_spark import runner
    from lakeview_spark.config import load_config

    monkeypatch.setattr(
        runner,
        "discover_round",
        lambda spark, config, lister: ([{"table_id": "t1"}], {"tables_discovered": 1}),
    )
    monkeypatch.setattr(
        runner,
        "upload_round",
        lambda spark, config, tables, state_dir, mirror_dir, lister: {
            "tables_initialized": len(tables)
        },
    )
    cfg = load_config(
        {
            "version": "V1",
            "metadataExtractorConfig": {
                "jobRunMode": "CONTINUOUS",
                "parserConfig": [
                    {"lake": "lake", "databases": [{"name": "db", "basePaths": ["/x"]}]}
                ],
            },
        }
    )
    reg = MetricsRegistry()
    seen_per_event = []

    def on_event(metrics):
        observe_run_metrics(reg, metrics)
        body = reg.render()
        seen_per_event.append(
            (TABLES_DISCOVERED_GAUGE in body, TABLES_PROCESSED_GAUGE in body)
        )

    runner.run_continuous(
        None, cfg, "/tmp/unused", max_events=2, sleep_fn=lambda s: None, on_event=on_event
    )
    # the discovery gauge was visible after the FIRST event (discovery),
    # the processed gauge after the second (the t=0 upload)
    assert seen_per_event == [(True, False), (True, True)]


def test_failed_override_counter_follows_the_running_total():
    """config_refresh_failures is cumulative, so three events carrying
    1, 2, 2 failures mean 2 failed refreshes in all, not 5."""
    reg = MetricsRegistry()
    for failures in (1, 2, 2):
        observe_run_metrics(reg, {"config_refresh_failures": failures})
    assert f"{FAILED_OVERRIDE_CONFIG_COUNTER} 2" in reg.render()


def test_http_endpoint_serves_scrapes_and_disabled_port_is_noop():
    reg = MetricsRegistry()
    reg.increment(TABLE_DISCOVERY_SUCCESS_COUNTER)
    # pick a free ephemeral port the stdlib way
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    server = MetricsServer(reg, port)
    try:
        assert server.port == port
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics", timeout=10) as r:
            assert r.status == 200
            assert "version=0.0.4" in r.headers["Content-Type"]
            body = r.read().decode()
        assert f"{TABLE_DISCOVERY_SUCCESS_COUNTER} 1" in body
        # a second scrape sees updated values (live registry, no cache)
        reg.increment(TABLE_DISCOVERY_SUCCESS_COUNTER)
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics", timeout=10) as r:
            assert f"{TABLE_DISCOVERY_SUCCESS_COUNTER} 2" in r.read().decode()
    finally:
        server.shutdown()
    # port 0 = scraping disabled: no socket, shutdown is a no-op
    disabled = MetricsServer(reg, PROMETHEUS_METRICS_SCRAPING_DISABLED)
    assert disabled.port == PROMETHEUS_METRICS_SCRAPING_DISABLED
    disabled.shutdown()
