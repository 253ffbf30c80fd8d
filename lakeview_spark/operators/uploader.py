"""Upload-pipeline filter/sort/lookback rules (SURVEY §2.2 P3/P5, §2.5 W2,
§2.6 O1/O2).

Reference: TimelineCommitInstantsUploader.java —
- shouldIncludeFile (:835-874): not a directory; last_modified >=
  checkpoint_ts (when the flag is on); filename matches an instant
  pattern; not already uploaded; not hoodie.properties; not blank
- already-uploaded (:850-874): active timeline compares commit ids as
  BigDecimal <= last uploaded (skipped entirely in CONTINUE mode);
  archived compares the numeric token from `.archive.(\\d+)_`
- sort (:812-819): active lexicographic by filename; archived numeric
- batch_id==0 prepends hoodie.properties (:830-834)
- getLastUploadedFileFromBatch (:982-1026): archived -> last file;
  savepoint tail -> 2nd-to-last; rollback tail -> 1/2/3-file lookback;
  otherwise 3rd-to-last

The rules run per table in plain Python, inside the task that uploads
the table: one table's timeline is O(100) names, and the rules are
sequential within a table anyway (sort, pack, look back).
"""

from __future__ import annotations

import re

from lakeview_spark.constants import (
    ACTIVE_COMMIT_INSTANT_PATTERN,
    ARCHIVED_COMMIT_INSTANT_PATTERN,
    ARCHIVED_COMMIT_INSTANT_PATTERN_V2,
    EPOCH,
    HOODIE_PROPERTIES_FILE,
    SAVEPOINT_ACTION,
    ROLLBACK_ACTION,
    V1_ARCHIVED_NUMERIC_PATTERN,
    full_match,
)
from lakeview_spark.operators.batcher import (
    CONTINUE,
    _are_related,
    _are_related_sp_rb,
    _sort_key,
    parse_instant,
)

ACTIVE = "active"
ARCHIVED = "archived"

# Java regex semantics: `\d` is ASCII-only, `$` may precede a final newline
_INSTANT_RES = [
    re.compile(full_match(p), re.ASCII)
    for p in (
        ACTIVE_COMMIT_INSTANT_PATTERN,
        ARCHIVED_COMMIT_INSTANT_PATTERN,
        ARCHIVED_COMMIT_INSTANT_PATTERN_V2,
    )
]
_ARCHIVED_NUMERIC_RE = re.compile(V1_ARCHIVED_NUMERIC_PATTERN, re.ASCII)


def is_instant_file(name: str) -> bool:
    """isInstantFile (:876-880): any of the three full-match patterns."""
    return any(r.match(name) for r in _INSTANT_RES)


def commit_id(name: str) -> int | None:
    """Active-timeline commit id (:940-946), None where a DECIMAL(38,0)
    cast of the leading token fails."""
    tok = name.split(".", 1)[0].split("_", 1)[0]
    return int(tok) if tok.isascii() and tok.isdigit() and len(tok.lstrip("0")) <= 38 else None


def archived_number(name: str) -> int | None:
    """Numeric token of a V1 archived name (:948-956), None when absent
    or past a long."""
    m = _ARCHIVED_NUMERIC_RE.search(name)
    n = int(m.group(1)) if m else None
    return n if n is not None and n < 2**63 else None


def files_to_upload(
    entries,
    checkpoint: dict,
    timeline_type: str = ACTIVE,
    strategy: str = "BLOCK_ON_INCOMPLETE_COMMIT",
    apply_last_modified_filter: bool = False,
) -> list[tuple]:
    """getFilesToUploadBasedOnPreviousCheckpoint (:796-838) for one table.

    ``entries`` is the table's timeline listing, a list of (filename,
    last_modified, is_directory, size) tuples. Returns the
    (filename, last_modified) pairs to upload in upload order: active by
    filename, archived by the numeric token. When the checkpoint is at
    batch 0 and the listing is not empty, hoodie.properties leads with
    EPOCH last_modified, exactly like HOODIE_PROPERTIES_FILE_OBJ
    (MetadataExtractorConstants.java:71-77); the archived listing never
    holds it, so it is synthesized rather than taken from the listing.

    apply_last_modified_filter defaults to False: both reference call
    sites (:190, :485) pass false; incrementality comes from the
    startAfter listing pushdown plus the already-uploaded compare.
    """
    batch_id = checkpoint.get("batch_id") or 0
    ckpt_ts = checkpoint.get("checkpoint_ts")
    last = checkpoint.get("last_uploaded_file") or ""
    key = commit_id if timeline_type == ACTIVE else archived_number
    # already-uploaded filter (:850-874); CONTINUE never skips active
    # files by commit id (:856-861)
    done = None
    if batch_id != 0 and is_instant_file(last) and (timeline_type == ARCHIVED or strategy != CONTINUE):
        done = key(last)

    out = []
    for name, lm, is_dir, _size in entries:
        if is_dir or name == HOODIE_PROPERTIES_FILE or not name.strip() or not is_instant_file(name):
            continue
        if apply_last_modified_filter and ckpt_ts is not None and (lm is None or lm < ckpt_ts):
            continue
        if done is not None and (k := key(name)) is not None and k <= done:
            continue
        out.append((name, lm))
    if batch_id == 0 and entries:
        out.append((HOODIE_PROPERTIES_FILE, EPOCH))
    if timeline_type == ACTIVE:
        return sorted(out, key=lambda f: _sort_key(f[0]))
    return sorted(out, key=_archived_order)


def _archived_order(file: tuple) -> tuple:
    """Numeric order, names without a token first (hoodie.properties
    leading them); the name breaks ties."""
    n = archived_number(file[0])
    return (n is not None, n or 0, file[0] != HOODIE_PROPERTIES_FILE, file[0])


def last_uploaded_file_from_batch(batch: list[str], timeline_type: str = ACTIVE) -> str:
    """getLastUploadedFileFromBatch (:982-1026) on one ordered batch."""
    if timeline_type == ARCHIVED:
        return batch[-1]
    if len(batch) == 1 and batch[0] == HOODIE_PROPERTIES_FILE:
        return batch[0]

    last = parse_instant(batch[-1])
    if last.action == SAVEPOINT_ACTION:
        return batch[-2]
    if last.action == ROLLBACK_ACTION:
        i = len(batch) - 1
        if i >= 2 and _are_related(
            last, parse_instant(batch[i - 1]), parse_instant(batch[i - 2])
        ):
            return batch[i - 2]
        if i >= 1 and _are_related_sp_rb(last, parse_instant(batch[i - 1])):
            return batch[i - 1]
        return batch[i]
    return batch[-3]


def start_after(checkpoint: dict, strategy: str, is_first_fetch: bool = True) -> str | None:
    """getStartAfterString (:958-980): listing resume point pushed to the
    object store (predicate pushdown into ListObjectsV2/startOffset)."""
    last = checkpoint.get("last_uploaded_file") or ""
    if last == HOODIE_PROPERTIES_FILE or not last.strip():
        return None
    if strategy != CONTINUE or not is_first_fetch:
        return last
    first_incomplete = checkpoint.get("first_incomplete_commit_file") or ""
    return first_incomplete if first_incomplete.strip() else last
