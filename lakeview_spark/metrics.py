"""Prometheus metrics exposure — the last unported reference surface.

The reference registers gauges/counters in a micrometer->Prometheus
registry and serves them over HTTP, waiting 120 s before shutdown so
the final scrape lands (reference:
`lakeview/src/main/java/ai/onehouse/metrics/Metrics.java`,
`MetricsServer.java`, `LakeViewExtractorMetrics.java:23-108`,
`constants/MetricsConstants.java:4-10`,
`Main.java` metricsServer wiring +
`MetadataExtractorConstants.java:40-41` WAIT_TIME_BEFORE_SHUTDOWN).
This module re-expresses that surface dependency-free: a tiny typed
registry, the Prometheus text exposition format (0.0.4), and a stdlib
`http.server` endpoint. Port 0 disables scraping exactly like the
reference's PROMETHEUS_METRICS_SCRAPING_DISABLED.

The metric NAMES, the `lakeView_` prefix, the failure-reason tag enum,
and the two gauges are the reference's own, so a dashboard built
against the reference scrapes this engine unchanged. Values come from
the runner's per-round metrics dict (`runner.py run_once` /
`discover_round`) via `observe_run_metrics`.
"""

from __future__ import annotations

import http.server
import threading
from dataclasses import dataclass, field

METRICS_COMMON_PREFIX = "lakeView_"
PROMETHEUS_METRICS_SCRAPING_DISABLED = 0
WAIT_TIME_BEFORE_SHUTDOWN_S = 120  # MetadataExtractorConstants.java:40-41

# LakeViewExtractorMetrics.java:23-44 — the reference's metric names
TABLES_DISCOVERED_GAUGE = METRICS_COMMON_PREFIX + "discovered_tables"
TABLES_PROCESSED_GAUGE = METRICS_COMMON_PREFIX + "processed_tables"
TABLE_DISCOVERY_SUCCESS_COUNTER = METRICS_COMMON_PREFIX + "table_discovery_success"
TABLE_DISCOVERY_FAILURE_COUNTER = METRICS_COMMON_PREFIX + "table_discovery_failure"
TABLE_SYNC_SUCCESS_COUNTER = METRICS_COMMON_PREFIX + "table_sync_success"
TABLE_SYNC_ERROR_COUNTER = METRICS_COMMON_PREFIX + "table_sync_failure"
METADATA_UPLOAD_SUCCESS_COUNTER = METRICS_COMMON_PREFIX + "metadata_upload"
FAILED_OVERRIDE_CONFIG_COUNTER = METRICS_COMMON_PREFIX + "failed_override_config"
TABLE_METADATA_PROCESSING_FAILURE_COUNTER = (
    METRICS_COMMON_PREFIX + "table_metadata_processing_failure"
)
INCOMPLETE_COMMIT_INSTANTS_SKIPPED_COUNTER = (
    METRICS_COMMON_PREFIX + "incomplete_commit_instants_skipped"
)

# LakeViewExtractorMetrics.java:26-29 — the reference's tag keys; a
# PromQL selector written against the reference matches unchanged.
CONFIG_VERSION_TAG_KEY = "config_version"
EXTRACTOR_JOB_RUN_MODE_TAG_KEY = "extractor_job_run_mode"
METADATA_UPLOAD_FAILURE_REASON_TAG_KEY = "metadata_upload_failure_reason"
METADATA_DISCOVER_FAILURE_REASON_TAG_KEY = "metadata_discover_failure_reason"

# MetricsConstants.MetadataUploadFailureReasons
METADATA_UPLOAD_FAILURE_REASONS = (
    "API_FAILURE_USER_ERROR",
    "API_FAILURE_SYSTEM_ERROR",
    "HOODIE_PROPERTY_NOT_FOUND_OR_CORRUPTED",
    "PRESIGNED_URL_UPLOAD_FAILURE",
    "RATE_LIMITING",
    "ACCESS_DENIED",
    "NO_TABLES_TO_INITIALIZE",
    "NO_SUCH_KEY",
    "UNKNOWN",
)

_DESCRIPTIONS = {
    TABLES_DISCOVERED_GAUGE: "Number of tables discovered during extractor run",
    TABLES_PROCESSED_GAUGE: "Number of tables processed during extractor run",
}


def _fmt_labels(labels: tuple[tuple[str, str], ...]) -> str:
    if not labels:
        return ""
    inner = ",".join(
        f'{k}="{v.replace(chr(92), chr(92) * 2).replace(chr(34), chr(92) + chr(34))}"'
        for k, v in labels
    )
    return "{" + inner + "}"


@dataclass
class MetricsRegistry:
    """Counters + gauges keyed by (name, sorted label tuple) — the
    micrometer registry's role, values only (no timers; the reference
    registers none)."""

    counters: dict[tuple[str, tuple[tuple[str, str], ...]], float] = field(
        default_factory=dict
    )
    gauges: dict[tuple[str, tuple[tuple[str, str], ...]], float] = field(
        default_factory=dict
    )
    default_labels: tuple[tuple[str, str], ...] = ()

    def _key(self, name: str, labels: dict[str, str] | None):
        merged = dict(self.default_labels)
        merged.update(labels or {})
        return name, tuple(sorted(merged.items()))

    def increment(self, name: str, labels: dict[str, str] | None = None, by: float = 1):
        key = self._key(name, labels)
        self.counters[key] = self.counters.get(key, 0) + by

    def set_gauge(self, name: str, value: float, labels: dict[str, str] | None = None):
        self.gauges[self._key(name, labels)] = value

    def render(self) -> str:
        """Prometheus text exposition format 0.0.4: # HELP / # TYPE
        headers once per metric family, then one sample line per label
        set, families sorted by name and samples by labels — a
        deterministic scrape body."""
        out: list[str] = []
        for kind, table in (("counter", self.counters), ("gauge", self.gauges)):
            families: dict[str, list[tuple[tuple[tuple[str, str], ...], float]]] = {}
            for (name, labels), value in table.items():
                families.setdefault(name, []).append((labels, value))
            for name in sorted(families):
                help_text = _DESCRIPTIONS.get(name, name)
                out.append(f"# HELP {name} {help_text}")
                out.append(f"# TYPE {name} {kind}")
                for labels, value in sorted(families[name]):
                    v = int(value) if float(value).is_integer() else value
                    out.append(f"{name}{_fmt_labels(labels)} {v}")
        return "\n".join(out) + "\n"


def observe_run_metrics(registry: MetricsRegistry, run_metrics: dict) -> None:
    """Map one runner round's metrics dict (the keys runner.py
    discover_round / upload_round / run_once emit) onto the reference's
    metric names — the LakeViewExtractorMetrics role. Unknown keys are
    ignored so the runner can grow telemetry without touching this
    mapping."""
    if "tables_discovered" in run_metrics:
        registry.set_gauge(TABLES_DISCOVERED_GAUGE, run_metrics["tables_discovered"])
        registry.increment(TABLE_DISCOVERY_SUCCESS_COUNTER)
    elif run_metrics.get("succeeded") is False and run_metrics.get("kind") != "upload_poll":
        # discovery failed: a failed round that got past discovery carries
        # its counts, and an upload poll runs no discovery. The reference
        # tags discovery failures with a discover-reason
        # (LakeViewExtractorMetrics.java:79-81); the runner's event dict
        # carries no typed reason, so UNKNOWN — the enum's catch-all
        registry.increment(
            TABLE_DISCOVERY_FAILURE_COUNTER,
            {METADATA_DISCOVER_FAILURE_REASON_TAG_KEY: "UNKNOWN"},
        )
    failed_uploads = len(run_metrics.get("failed_table_ids", ()))
    if failed_uploads:
        registry.increment(
            TABLE_METADATA_PROCESSING_FAILURE_COUNTER,
            {METADATA_UPLOAD_FAILURE_REASON_TAG_KEY: "UNKNOWN"},
            by=failed_uploads,
        )
    if "tables_initialized" in run_metrics:
        # tables entering processing this round (the processed gauge is
        # per-round like the reference's resetTableProcessedGauge cycle)
        registry.set_gauge(TABLES_PROCESSED_GAUGE, run_metrics["tables_initialized"])
    failures = run_metrics.get("table_metadata_processing_failures", 0)
    if failures:
        registry.increment(
            TABLE_METADATA_PROCESSING_FAILURE_COUNTER,
            {
                METADATA_UPLOAD_FAILURE_REASON_TAG_KEY: (
                    "HOODIE_PROPERTY_NOT_FOUND_OR_CORRUPTED"
                )
            },
            by=failures,
        )
    for key, value in run_metrics.items():
        if key.endswith("_batched_files") and value:
            registry.increment(METADATA_UPLOAD_SUCCESS_COUNTER, by=value)
    if run_metrics.get("config_refresh_failures"):
        # a running total: the counter takes the latest, not the sum
        key = registry._key(FAILED_OVERRIDE_CONFIG_COUNTER, None)
        registry.counters[key] = run_metrics["config_refresh_failures"]


class MetricsServer:
    """The reference's MetricsServer on stdlib http.server: serves the
    registry's exposition body at /metrics (any path serves it, like
    the Prometheus simpleclient HTTPServer); port 0 = disabled, a
    no-op server exactly like the reference's null branch. Runs on a
    daemon thread; `shutdown()` closes the socket."""

    def __init__(self, registry: MetricsRegistry, port: int, bind_address: str = ""):
        self._registry = registry
        self._httpd = None
        self._thread = None
        if port == PROMETHEUS_METRICS_SCRAPING_DISABLED:
            return
        reg = registry

        class _Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 — stdlib API
                body = reg.render().encode()
                self.send_response(200)
                self.send_header(
                    "Content-Type", "text/plain; version=0.0.4; charset=utf-8"
                )
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):  # quiet scrapes
                pass

        # bind all interfaces by default — the reference's
        # HTTPServer(new InetSocketAddress(port)) wildcard bind, so an
        # off-host Prometheus (the feature's actual consumer in a pod)
        # can reach /metrics; bind_address narrows it for tests
        self._httpd = http.server.ThreadingHTTPServer((bind_address, port), _Handler)
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()

    @property
    def port(self) -> int:
        """Bound port (useful with port hint 0-adjacent ephemeral
        binds in tests); PROMETHEUS_METRICS_SCRAPING_DISABLED when
        disabled."""
        if self._httpd is None:
            return PROMETHEUS_METRICS_SCRAPING_DISABLED
        return self._httpd.server_address[1]

    def shutdown(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
