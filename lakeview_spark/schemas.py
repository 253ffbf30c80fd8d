"""Engine dataset schemas (SURVEY.md §1.4).

Fixed StructTypes mirroring the reference's value objects:
- File          -> storage/models/File.java:12-16
- Table         -> metadata_extractor/models/Table.java:16-23
- Instant       -> ActiveTimelineInstantBatcher.java:299-308
- Checkpoint    -> metadata_extractor/models/Checkpoint.java:13-24
"""

from __future__ import annotations

from pyspark.sql.types import (
    BooleanType,
    DecimalType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Object-store listing entry (File.java:12-16) + the table/timeline context
FILES_SCHEMA = StructType(
    [
        StructField("table_id", StringType()),
        StructField("timeline", StringType()),  # 'active' | 'archived'
        StructField("filename", StringType()),
        StructField("last_modified", TimestampType()),
        StructField("is_directory", BooleanType()),
        StructField("size", LongType()),
    ]
)

# Parsed timeline instant (ActiveTimelineInstantBatcher.java:267-297).
# ts is DECIMAL(38,0): commit ids are 17+-digit strings compared as
# BigDecimal in the reference (TimelineCommitInstantsUploader.java:940-946).
INSTANTS_SCHEMA = StructType(
    [
        StructField("table_id", StringType()),
        StructField("timeline", StringType()),
        StructField("filename", StringType()),
        StructField("ts", DecimalType(38, 0)),
        StructField("ts_str", StringType()),
        StructField("completion_ts", StringType()),
        StructField("action", StringType()),
        StructField("state", StringType()),
        StructField("last_modified", TimestampType()),
    ]
)

# Catalog row (Table.java:16-23 + ParsedHudiProperties.java:16-22)
TABLES_SCHEMA = StructType(
    [
        StructField("table_id", StringType()),
        StructField("table_uri", StringType()),
        StructField("lake", StringType()),
        StructField("database", StringType()),
        StructField("table_name", StringType()),
        StructField("table_type", StringType()),  # MERGE_ON_READ | COPY_ON_WRITE
        StructField("table_version", IntegerType()),
        StructField("timeline_layout_version", IntegerType()),
    ]
)

# Incremental state (Checkpoint.java:13-24; initial value
# MetadataExtractorConstants.java:61-69)
CHECKPOINTS_SCHEMA = StructType(
    [
        StructField("table_id", StringType()),
        StructField("batch_id", IntegerType()),
        StructField("checkpoint_ts", TimestampType()),
        StructField("last_uploaded_file", StringType()),
        StructField("first_incomplete_commit_file", StringType()),
        StructField("archived_commits_processed", BooleanType()),
        StructField("last_archived_manifest_version", IntegerType()),
    ]
)

# Output of the batcher (FIXTURES.md §3)
BATCHES_SCHEMA = StructType(
    [
        StructField("table_id", StringType()),
        StructField("batch_id", IntegerType()),
        StructField("seq_in_batch", IntegerType()),
        StructField("filename", StringType()),
        StructField("first_incomplete", StringType()),
    ]
)

# Filesystem entries used by discovery fixtures (FIXTURES.md §8)
FS_ENTRIES_SCHEMA = StructType(
    [
        StructField("parent_path", StringType()),
        StructField("filename", StringType()),
        StructField("is_directory", BooleanType()),
        StructField("last_modified", TimestampType()),
        StructField("size", LongType()),
    ]
)
