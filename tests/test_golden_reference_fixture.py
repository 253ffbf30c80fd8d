"""The reference's OWN golden fixture, run verbatim through our batcher.

Harness parity with ActiveTimelineInstantBatcherTest.java:508-518
(testRollBackWithJustInflight): every line of
timeline/active_timeline_with_rollback.txt becomes a file with a fixed
2024-07-23T00:00Z mtime (generateFileObj, :700-710), createBatches runs
with max_batch_size=20 and a batch-0 checkpoint (:712-727), and the
result must equal timeline/active_timeline_with_rollback.json exactly —
the reference's expectations, not hand-derived ones.

The fixture lives in a checkout of the reference repository, which is
not vendored here: without it the test skips, and the hand-derived
cases of tests/golden/timeline_batches.json keep gating the batcher.
"""

from __future__ import annotations

import json
import os
from datetime import datetime

import pytest

from lakeview_spark.operators.batcher import BLOCK, create_batches

REF_TIMELINE_DIR = "/root/reference/lakeview/src/test/resources/timeline"
TXT = os.path.join(REF_TIMELINE_DIR, "active_timeline_with_rollback.txt")
JSON = os.path.join(REF_TIMELINE_DIR, "active_timeline_with_rollback.json")

# generateFileObj default: LocalDate 23-07-2024 at UTC start of day
FIXED_MTIME = datetime(2024, 7, 23)
FIXED_EPOCH = 1721692800.0

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF_TIMELINE_DIR),
    reason=f"reference timeline fixtures not checked out at {REF_TIMELINE_DIR}",
)


def test_reference_rollback_fixture_batches_match_verbatim():
    with open(TXT) as f:
        files = [(line.strip(), FIXED_MTIME) for line in f if line.strip()]
    with open(JSON) as f:
        expected = json.load(f)

    first_incomplete, batches = create_batches(files, 20, BLOCK)

    expected_names = [[e["filename"] for e in batch] for batch in expected]
    assert batches == expected_names

    # the reference expectation file is self-consistent with the harness:
    # every entry is a plain file stamped with the generateFileObj mtime
    for batch in expected:
        for e in batch:
            assert e["lastModifiedAt"] == FIXED_EPOCH
            assert e["isDirectory"] is False

    # all 196 rollback instants are complete pairs -> nothing incomplete
    assert first_incomplete == ""
