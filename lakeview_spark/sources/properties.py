"""hoodie.properties parser (SURVEY §2.1 S4).

Reference: HoodiePropertiesReader.java:37-61 — java.util.Properties over a
byte stream; keys hoodie.table.{name,type,version} and
hoodie.timeline.layout.version with defaults (table_version=6, layout=1,
MetadataExtractorConstants.java:25-28).

Failure propagation (ParsedHudiProperties.java:16-22,
HoodiePropertiesReader.java:62-80): any read/parse error yields a
sentinel row — tableName="", tableType=MERGE_ON_READ, version defaults —
carrying a MetadataUploadFailureReasons code instead of failing the run.
The parse errors the reference can hit are: missing hoodie.table.name
(Lombok @NonNull; an empty or comment-only file has none), TableType.valueOf
on a missing/unknown type, and Integer.parseInt on a present-but-non-numeric
version — all collapse to HOODIE_PROPERTY_NOT_FOUND_OR_CORRUPTED; an
unreadable object yields NO_SUCH_KEY (MetadataExtractorUtils.java:12-29).

Discovery reads each table's file where it finds the table
(sources/listing.py); this module only parses the text it returns.
"""

from __future__ import annotations

import re

from lakeview_spark.constants import (
    HOODIE_TABLE_NAME_KEY,
    HOODIE_TABLE_TYPE_KEY,
    HOODIE_TABLE_VERSION_KEY,
    HOODIE_TIMELINE_LAYOUT_VERSION_KEY,
    HOODIE_TABLE_VERSION_DEFAULT,
    TIMELINE_LAYOUT_VERSION_DEFAULT,
)

VALID_TABLE_TYPES = ("COPY_ON_WRITE", "MERGE_ON_READ")
# MetricsConstants.MetadataUploadFailureReasons values this reader can emit
FAILURE_CORRUPT = "HOODIE_PROPERTY_NOT_FOUND_OR_CORRUPTED"
FAILURE_NO_SUCH_KEY = "NO_SUCH_KEY"

# java.util.Properties line rules (Properties.load javadoc): after the
# leading whitespace, the key runs up to the first '=', ':' or
# whitespace; whitespace around one '=' or ':' is skipped and the rest
# is the value. Escapes and continuation lines are not handled: Hudi
# writes none in the keys read here.
_LINE = re.compile(r"([^=: \t\f]*)[ \t\f]*[=:]?[ \t\f]*(.*)")
_INT = re.compile(r"[+-]?[0-9]+")


def _parse_int(value: str | None, default: int) -> int | None:
    """Integer.parseInt: the default when absent, None when it would throw."""
    if value is None:
        return default
    if not _INT.fullmatch(value) or not -(2**31) <= int(value) < 2**31:
        return None
    return int(value)


def _sentinel(reason: str) -> dict:
    return {
        "table_name": "",
        "table_type": "MERGE_ON_READ",
        "table_version": HOODIE_TABLE_VERSION_DEFAULT,
        "timeline_layout_version": TIMELINE_LAYOUT_VERSION_DEFAULT,
        "failure_reason": reason,
    }


def read_hoodie_properties(text: str | None) -> dict:
    """Parse one hoodie.properties text (None: the file could not be read)
    -> table_name, table_type, table_version, timeline_layout_version,
    failure_reason (None on success).

    Text that would make the reference's parse throw — no
    hoodie.table.name, an unknown hoodie.table.type, or a
    present-but-non-numeric version — becomes the reference's sentinel
    row instead: table_name='', table_type='MERGE_ON_READ', default
    versions, failure_reason=HOODIE_PROPERTY_NOT_FOUND_OR_CORRUPTED
    (HoodiePropertiesReader.java:62-80). Unreadable files (listed but
    gone, access denied) give the same sentinel with
    failure_reason=NO_SUCH_KEY.
    """
    if text is None:
        return _sentinel(FAILURE_NO_SUCH_KEY)
    props: dict[str, str] = {}
    for line in re.split(r"\r\n|\r|\n", text):
        line = line.lstrip(" \t\f")
        if not line or line[0] in "#!":
            continue
        key, value = _LINE.fullmatch(line).groups()
        # Properties.load puts every pair, so a repeated key keeps its
        # last value; trailing whitespace is dropped (Hudi writes none)
        props[key] = value.rstrip()
    name = props.get(HOODIE_TABLE_NAME_KEY)
    table_type = props.get(HOODIE_TABLE_TYPE_KEY)
    version = _parse_int(props.get(HOODIE_TABLE_VERSION_KEY), HOODIE_TABLE_VERSION_DEFAULT)
    layout = _parse_int(
        props.get(HOODIE_TIMELINE_LAYOUT_VERSION_KEY), TIMELINE_LAYOUT_VERSION_DEFAULT
    )
    if name is None or table_type not in VALID_TABLE_TYPES or None in (version, layout):
        return _sentinel(FAILURE_CORRUPT)
    return {
        "table_name": name,
        "table_type": table_type,
        "table_version": version,
        "timeline_layout_version": layout,
        "failure_reason": None,
    }
