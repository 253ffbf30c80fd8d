"""CLI entry-point tests (reference CliParserTest.java + Main.java):
-p path, -c yaml string, -h help, and the invalid-arg error paths."""

from __future__ import annotations

import json

import pytest

from lakeview_spark.__main__ import main
from tests.test_dataflow import PARSER_CFG, lake  # noqa: F401 (fixture)

# slow tier (deselected by the default "-m not slow" addopts; the
# builder's close battery runs the full suite with -m "slow or not
# slow"): end-to-end / property-simulation coverage that exceeds the
# round driver's pytest budget — correctness gating lives in
# test_oracle_parity + the hygiene/golden suites, which stay fast
pytestmark = pytest.mark.slow



def _yaml(lake_root: str, mode: str = "ONCE") -> str:
    return json.dumps(  # JSON is a YAML subset — no PyYAML quoting pitfalls
        {
            "version": "V1",
            "metadataExtractorConfig": {
                "jobRunMode": mode,
                "uploadStrategy": "BLOCK_ON_INCOMPLETE_COMMIT",
                "parserConfig": PARSER_CFG(lake_root),
            },
        }
    )


def test_cli_with_config_path(spark, lake, tmp_path, capsys):  # noqa: F811
    cfg = tmp_path / "conf.yaml"
    cfg.write_text(_yaml(lake))
    rc = main(
        ["-p", str(cfg), "--state-dir", str(tmp_path / "state")], spark=spark
    )
    assert rc == 0
    metrics = json.loads(capsys.readouterr().out)
    assert metrics["tables_discovered"] >= 2


def test_cli_with_yaml_string_and_retry_mode(spark, lake, tmp_path, capsys):  # noqa: F811
    rc = main(
        ["-c", _yaml(lake, "ONCE_WITH_RETRY"), "--state-dir", str(tmp_path / "s")],
        spark=spark,
    )
    assert rc == 0
    attempts = json.loads(capsys.readouterr().out)
    assert isinstance(attempts, list) and attempts[0]["succeeded"] is True


def test_cli_help_exits_zero(capsys):
    with pytest.raises(SystemExit) as exc:
        main(["-h"])
    assert exc.value.code == 0
    assert "--config" in capsys.readouterr().out


def test_cli_rejects_both_path_and_config(capsys):
    # CliParser.java:52-54 — "Cannot specify both file path and config string."
    with pytest.raises(SystemExit) as exc:
        main(["-p", "a.yaml", "-c", "version: V1"])
    assert exc.value.code == 2


def test_cli_requires_a_config_source(capsys):
    with pytest.raises(SystemExit) as exc:
        main([])
    assert exc.value.code == 2
    assert "required" in capsys.readouterr().err


def test_cli_serves_prometheus_metrics_during_shutdown_wait(
    spark, lake, tmp_path, capsys
):  # noqa: F811
    """--metrics-port serves the run's metrics at /metrics during the
    post-run shutdown wait (Main.java holds 120 s for the last scrape;
    the wait is parameterized here to keep the test fast), with the
    reference's metric names and the job-mode label."""
    import socket
    import threading
    import urllib.request

    from lakeview_spark.metrics import (
        TABLE_DISCOVERY_SUCCESS_COUNTER,
        TABLES_DISCOVERED_GAUGE,
    )

    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    rc_box = {}

    def run():
        rc_box["rc"] = main(
            [
                "-c",
                _yaml(lake),
                "--state-dir",
                str(tmp_path / "state"),
                "--metrics-port",
                str(port),
                "--metrics-shutdown-wait",
                "15",
            ],
            spark=spark,
        )

    th = threading.Thread(target=run)
    th.start()
    body = None
    # poll until the run finishes and metrics land: the server lives
    # only until main() returns (run + shutdown wait), so the thread's
    # lifetime IS the poll budget — a fixed iteration count raced the
    # run on a loaded host (the run alone read 44-82 s there vs the
    # 40 s the old 200x0.2 s loop allowed)
    while th.is_alive() and body is None:
        try:
            with urllib.request.urlopen(
                f"http://127.0.0.1:{port}/metrics", timeout=5
            ) as r:
                candidate = r.read().decode()
            if TABLES_DISCOVERED_GAUGE in candidate:
                body = candidate
        except OSError:
            pass
        th.join(0.2)
    th.join(30)
    assert rc_box.get("rc") == 0
    assert body is not None, "metrics endpoint never served the run's gauges"
    assert f"# TYPE {TABLES_DISCOVERED_GAUGE} gauge" in body
    assert 'extractor_job_run_mode="ONCE"' in body
    assert 'config_version="V1"' in body
    assert TABLE_DISCOVERY_SUCCESS_COUNTER in body
