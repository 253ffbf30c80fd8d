"""CLI entry point: ``python -m lakeview_spark -p config.yaml``.

Mirrors the reference's launch surface — cli_parser/CliParser.java:19-63
(mutually exclusive ``-p``/``--path`` and ``-c``/``--config``, plus
``-h``/``--help``) and Main.java:45-69 (parse args -> load config ->
run the job). Mode routing follows ``jobRunMode``: ONCE -> run_once,
CONTINUOUS -> run_continuous (the reference's discovery and upload-poll
schedules, TableDiscoveryAndUploadJob.java:66-82, with the config
re-merged from the original source every 2 min, the ConfigRefresher
equivalent), ONCE_WITH_RETRY -> run_once_with_retry. The CONTINUOUS
cadences come from the config keys tableDiscoveryIntervalMinutes,
processTableMetadataSyncDurationSeconds and
tableMetadataUploadIntervalMinutes. The run's metrics print as one
JSON line.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(
        prog="lakeview_spark",
        description="LakeView-equivalent PySpark metadata extractor",
    )
    src = ap.add_mutually_exclusive_group()
    src.add_argument("-p", "--path", help="file path to the configuration file")
    src.add_argument("-c", "--config", help="YAML configuration string")
    ap.add_argument(
        "--state-dir",
        default="./lakeview-state",
        help="checkpoint-store directory (parquet)",
    )
    ap.add_argument("--mirror-dir", default=None, help="mirror sink root (optional)")
    ap.add_argument(
        "--max-rounds",
        type=int,
        default=None,
        help=(
            "CONTINUOUS mode: stop after N events (discoveries and upload "
            "polls; default: run until shutdown)"
        ),
    )
    ap.add_argument("--master", default=None, help="Spark master override")
    ap.add_argument(
        "--metrics-port",
        type=int,
        default=0,
        help=(
            "serve Prometheus metrics at /metrics on this port "
            "(0 = disabled, the reference's "
            "PROMETHEUS_METRICS_SCRAPE_PORT default); on exit the "
            "process waits --metrics-shutdown-wait seconds so the "
            "final scrape lands (Main.java 120 s wait)"
        ),
    )
    ap.add_argument(
        "--metrics-shutdown-wait",
        type=float,
        default=None,
        help="seconds to hold the metrics endpoint open after the run "
        "(default: the reference's 120 s when --metrics-port is set)",
    )
    return ap


def main(argv: list[str] | None = None, spark=None) -> int:
    ap = build_parser()
    args = ap.parse_args(argv)
    if args.path is None and args.config is None:
        # CliParser requires a config source outside of -h (Main.java:56-63)
        ap.error("one of -p/--path or -c/--config is required")

    from lakeview_spark import runner
    from lakeview_spark.config import load_config
    from lakeview_spark.session import get_spark

    source = args.path if args.path is not None else args.config
    config = load_config(source)
    if spark is None:
        spark = get_spark("lakeview-spark", master=args.master)

    from lakeview_spark.metrics import (
        CONFIG_VERSION_TAG_KEY,
        EXTRACTOR_JOB_RUN_MODE_TAG_KEY,
        WAIT_TIME_BEFORE_SHUTDOWN_S,
        MetricsRegistry,
        MetricsServer,
        observe_run_metrics,
    )

    # the reference's default tags (LakeViewExtractorMetrics
    # getDefaultTags): config_version + extractor_job_run_mode on every
    # sample, so dashboards keyed on the reference labels match
    registry = MetricsRegistry(
        default_labels=(
            (CONFIG_VERSION_TAG_KEY, config.version),
            (EXTRACTOR_JOB_RUN_MODE_TAG_KEY, config.job_run_mode),
        )
    )
    metrics_server = MetricsServer(registry, args.metrics_port)

    # observe each round AS IT COMPLETES — in CONTINUOUS modes the
    # endpoint must serve live values during the (long-lived) run, not
    # only at exit (the reference updates gauges inside each round)
    def _observe(round_metrics):
        if isinstance(round_metrics, dict):
            observe_run_metrics(registry, round_metrics)

    if config.job_run_mode == "CONTINUOUS":
        out = runner.run_continuous(
            spark,
            config,
            args.state_dir,
            args.mirror_dir,
            max_events=args.max_rounds,
            base_config_source=source,
            on_event=_observe,
        )
    elif config.job_run_mode == "ONCE_WITH_RETRY":
        out = runner.run_once_with_retry(spark, config, args.state_dir, args.mirror_dir)
        for round_metrics in out:
            _observe(round_metrics)
    else:
        out = runner.run_once(spark, config, args.state_dir, args.mirror_dir)
        _observe(out)
    print(json.dumps(out, default=str))
    if args.metrics_port:
        # Main.java:138-156 — hold the endpoint open so the last
        # Prometheus scrape (default 120 s window) sees the final state
        import time as _time

        wait = (
            args.metrics_shutdown_wait
            if args.metrics_shutdown_wait is not None
            else WAIT_TIME_BEFORE_SHUTDOWN_S
        )
        _time.sleep(wait)
        metrics_server.shutdown()
    return 0


if __name__ == "__main__":
    sys.exit(main())
