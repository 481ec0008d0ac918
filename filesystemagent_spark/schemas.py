"""Explicit StructType schemas for every entity in the engine.

Ports of the reference's Pydantic/SQLite data model (SURVEY.md §1,
FIXTURES.md) — declared schemas everywhere, per the design decision in
SURVEY §1.3: `spark.read.schema(...)` with permissive mode replaces the
reference's per-row try/except skipping.

Reference citations:
- files catalog   /root/reference/src/file_indexing_system.py:35-56
- FileMetadata    /root/reference/src/template_models.py:64-81
- MediaFingerprint /root/reference/src/media_fingerprinting.py:38-60
- Finding         /root/reference/src/audit/models.py:75-89
- ProcessInfo     /root/reference/src/audit/models.py:123-138
- ServiceInfo     /root/reference/src/audit/models.py:141-153
- NetworkConnection /root/reference/src/audit/models.py:156-166
- ScheduledTaskInfo /root/reference/src/audit/models.py:169-178
- RunKeyEntry     /root/reference/src/audit/models.py:181-185
- FileSystemEvent /root/reference/src/models.py:57-61
- SystemMetrics   /root/reference/src/monitoring.py:14-19
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Open string-keyed metadata — the reference's Dict[str, Any] escape
# hatches (raw_data / custom_metadata / parameters) normalize to
# MAP<STRING,STRING>: values are JSON-encoded when non-scalar.
STR_MAP = T.MapType(T.StringType(), T.StringType())


def _schema(*fields: tuple[str, T.DataType] | tuple[str, T.DataType, bool]) -> T.StructType:
    return T.StructType(
        [T.StructField(n, t, rest[0] if rest else True) for n, t, *rest in fields]
    )


def ddl_schema(ddl: str) -> T.StructType:
    """The StructType a column-list DDL (``"a int, b string"``) names,
    from the JVM's DDL parser in one py4j call. It is the parser
    ``createDataFrame(rows, ddl)`` applies, so the schema is the same,
    nullability included."""
    return T.DataType.fromDDL(ddl)


def empty_frame(spark: SparkSession, schema: T.StructType | str) -> DataFrame:
    """A 0-row frame of ``schema`` (a StructType or a DDL string) over an
    empty JVM ``LocalRelation``: the schema is kept exactly, and the
    optimizer drops the frame from unions and joins, so it adds no task.
    ``spark.createDataFrame`` of an empty list instead wraps a Python RDD
    of ``defaultParallelism`` empty slices, and each slice that reaches an
    executed plan is a task that waits on a Python worker."""
    if isinstance(schema, str):
        schema = ddl_schema(schema)
    jss = spark._jsparkSession
    jdf = jss.createDataFrame(
        spark._jvm.java.util.ArrayList(), jss.parseDataType(schema.json())
    )
    return DataFrame(jdf, spark)


SEVERITIES = ("critical", "high", "medium", "low", "info")

# Custom, non-lexicographic severity order — CRITICAL ranks first
# (/root/reference/src/audit/pipeline.py:373-379).
SEVERITY_RANK = {s: i for i, s in enumerate(SEVERITIES)}

FINDING = _schema(
    ("finding_id", T.StringType(), False),
    ("tool_name", T.StringType(), False),
    ("severity", T.StringType(), False),
    ("category", T.StringType(), False),
    ("title", T.StringType(), False),
    ("description", T.StringType(), False),
    ("target", T.StringType(), False),
    ("domain", T.StringType(), False),
    ("raw_data", STR_MAP),
    ("timestamp", T.TimestampType()),
    ("mitre_attack", T.StringType()),
)

FILES = _schema(
    ("file_path", T.StringType(), False),
    ("file_name", T.StringType(), False),
    ("file_size", T.LongType(), False),
    ("created_time", T.TimestampType(), False),
    ("modified_time", T.TimestampType(), False),
    ("accessed_time", T.TimestampType()),
    ("file_hash", T.StringType()),
    ("hash_algorithm", T.StringType()),
    ("mime_type", T.StringType()),
    ("permissions", T.StringType()),
    ("owner_name", T.StringType()),
    ("group_name", T.StringType()),
    ("is_directory", T.BooleanType(), False),
    ("is_symlink", T.BooleanType(), False),
    ("target_path", T.StringType()),
    ("indexed_at", T.TimestampType()),
    ("custom_metadata", STR_MAP),
)

MEDIA_FINGERPRINT = _schema(
    ("file_path", T.StringType(), False),
    ("file_type", T.StringType()),
    ("file_size", T.LongType()),
    ("mime_type", T.StringType()),
    ("sha256_hash", T.StringType()),
    ("dhash", T.StringType()),
    ("phash", T.StringType()),
    ("ahash", T.StringType()),
    ("whash", T.StringType()),
    ("video_hash", T.StringType()),
    ("created_at", T.TimestampType()),
    ("error_message", T.StringType()),
)

PROCESS = _schema(
    ("pid", T.IntegerType(), False),
    ("name", T.StringType(), False),
    ("path", T.StringType()),
    ("command_line", T.StringType()),
    ("parent_pid", T.IntegerType()),
    ("user", T.StringType()),
    ("cpu_percent", T.DoubleType()),
    ("ram_mb", T.DoubleType()),
    ("thread_count", T.IntegerType()),
    ("handle_count", T.IntegerType()),
    ("created_at", T.StringType()),  # WMI /Date(millis)/ wire format
    ("is_signed", T.BooleanType()),
    ("signer", T.StringType()),
)

SERVICE = _schema(
    ("name", T.StringType(), False),
    ("display_name", T.StringType()),
    ("state", T.StringType()),
    ("start_mode", T.StringType()),
    ("binary_path", T.StringType()),
    ("account", T.StringType()),
    ("description", T.StringType()),
)

CONNECTION = _schema(
    ("local_address", T.StringType(), False),
    ("local_port", T.IntegerType(), False),
    ("remote_address", T.StringType()),
    ("remote_port", T.IntegerType()),
    ("state", T.StringType()),
    ("pid", T.IntegerType(), False),
    ("process_name", T.StringType()),
)

SCHEDULED_TASK = _schema(
    ("task_name", T.StringType(), False),
    ("task_path", T.StringType()),
    ("state", T.StringType()),
    ("execute", T.StringType()),
    ("arguments", T.StringType()),
    ("user_id", T.StringType()),
    ("run_level", T.StringType()),
)

RUN_KEY = _schema(
    ("registry_path", T.StringType(), False),
    ("name", T.StringType(), False),
    ("value", T.StringType()),
)

FS_EVENT = _schema(
    ("event_type", T.StringType(), False),
    ("file_path", T.StringType(), False),
    ("timestamp", T.TimestampType(), False),
    ("metadata", STR_MAP),
)

SYSTEM_METRICS = _schema(
    ("timestamp", T.TimestampType(), False),
    ("cpu_percent", T.DoubleType()),
    ("memory_percent", T.DoubleType()),
    ("disk_usage", T.MapType(T.StringType(), T.DoubleType())),
    ("network_io", T.MapType(T.StringType(), T.LongType())),
)

# Raw tool-output shapes consumed by sources.normalizers. Declared so
# reads never rely on inference (SURVEY §1.3).
HAYABUSA_CSV = T.StructType(
    [
        T.StructField("Timestamp", T.StringType()),
        T.StructField("Computer", T.StringType()),
        T.StructField("Channel", T.StringType()),
        T.StructField("EventID", T.LongType()),
        T.StructField("Level", T.StringType()),
        T.StructField("RecordID", T.LongType()),
        T.StructField("RuleTitle", T.StringType()),
        T.StructField("Details", T.StringType()),
        T.StructField("ExtraFieldInfo", T.StringType()),
        T.StructField("RuleFile", T.StringType()),
    ]
)

SIGCHECK_CSV = T.StructType(
    [
        T.StructField("Path", T.StringType()),
        T.StructField("Verified", T.StringType()),
        T.StructField("Date", T.StringType()),
        T.StructField("Publisher", T.StringType()),
        T.StructField("Company", T.StringType()),
        T.StructField("Description", T.StringType()),
        T.StructField("Product", T.StringType()),
        T.StructField("Product Version", T.StringType()),
        T.StructField("File Version", T.StringType()),
        T.StructField("Machine Type", T.StringType()),
    ]
)

AUTORUNSC_CSV = T.StructType(
    [
        T.StructField("Entry", T.StringType()),
        T.StructField("Entry Location", T.StringType()),
        T.StructField("Enabled", T.StringType()),
        T.StructField("Category", T.StringType()),
        T.StructField("Description", T.StringType()),
        T.StructField("Publisher", T.StringType()),
        T.StructField("Image Path", T.StringType()),
        T.StructField("Launch String", T.StringType()),
        T.StructField("Signer", T.StringType()),
        T.StructField("Verified", T.StringType()),
        T.StructField("VT detection", T.StringType()),
    ]
)

_HH_PROC = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("replaced", T.LongType()),
        T.StructField("implanted", T.LongType()),
        T.StructField("hdr_modified", T.LongType()),
        T.StructField("patched", T.LongType()),
        T.StructField("iat_hooked", T.LongType()),
        T.StructField("unreachable_file", T.LongType()),
        T.StructField("other", T.LongType()),
    ]
)

HOLLOWS_HUNTER_JSON = T.StructType(
    [
        T.StructField("pid", T.LongType()),
        T.StructField("is_64bit", T.BooleanType()),
        T.StructField("scan_timestamp", T.StringType()),
        T.StructField("scanned", T.MapType(T.StringType(), _HH_PROC)),
        T.StructField("scanned_count", T.LongType()),
        T.StructField("suspicious_count", T.LongType()),
    ]
)

_YARA_META = T.StructType(
    [
        T.StructField("severity", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("mitre_attack", T.StringType()),
    ]
)

YARA_JSON = T.StructType(
    [
        T.StructField("version", T.StringType()),
        T.StructField(
            "matches",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("rule", T.StringType()),
                        T.StructField("file", T.StringType()),
                        T.StructField("metadata", _YARA_META),
                        # legacy {"path","rules":[{identifier,metadata}]}
                        T.StructField("path", T.StringType()),
                        T.StructField(
                            "rules",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("identifier", T.StringType()),
                                        T.StructField("metadata", _YARA_META),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        ),
    ]
)

CHAINSAW_JSON = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("level", T.StringType()),
        T.StructField("severity", T.StringType()),
        T.StructField("timestamp", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("authors", T.StringType()),
        T.StructField(
            "document",
            T.StructType([T.StructField("path", T.StringType())]),
        ),
    ]
)
