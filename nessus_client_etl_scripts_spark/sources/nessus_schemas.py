"""Explicit Spark schemas for the Nessus domain.

Bronze: the nested scan-run document the reference's ETL emits to S3
(shape from /root/reference/export.py:144-215; see FIXTURES.md §A.2).
Silver: the 7 normalized warehouse tables
(/root/reference/schema.sql; FIXTURES.md §A.1).

Schemas are declared, never inferred — at 100 TB schema inference is a
full extra pass and a correctness hazard (type drift across files).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Bronze: nested scan-run document
# ---------------------------------------------------------------------------

# outputs: flattened {port, output} structs (export.py:144-149). The
# raw Nessus payload carries ports as a JSON map keyed by port
# (functions.explode_port_map reads that shape).
OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("port", T.StringType()),
        T.StructField("output", T.StringType()),
    ]
)

PLUGIN_ATTRIBUTES_SCHEMA = T.StructType(
    [
        T.StructField("see_also", T.ArrayType(T.StringType())),
        T.StructField("synopsis", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("solution", T.StringType()),
        T.StructField("plugin_publication_date", T.StringType()),
        T.StructField("plugin_modification_date", T.StringType()),
        T.StructField(
            "risk_information",
            T.StructType(
                [
                    T.StructField("cvss_base_score", T.StringType()),
                    T.StructField("cvss3_base_score", T.StringType()),
                    T.StructField("cvss_vector", T.StringType()),
                    T.StructField("cvss3_vector", T.StringType()),
                ]
            ),
        ),
    ]
)

PLUGIN_SCHEMA = T.StructType(
    [
        T.StructField("plugin_id", T.IntegerType()),
        T.StructField("severity", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("family", T.StringType()),
        T.StructField("pluginattributes", PLUGIN_ATTRIBUTES_SCHEMA),
        T.StructField("ref", T.StringType()),
    ]
)

HOST_VULN_REF_SCHEMA = T.StructType(
    [
        T.StructField("nessus_host_id", T.IntegerType()),
        T.StructField("scan_run_id", T.IntegerType()),
        T.StructField("plugin_id", T.IntegerType()),
    ]
)

VULNERABILITY_SCHEMA = T.StructType(
    [
        T.StructField("plugin", PLUGIN_SCHEMA),
        T.StructField("host_vuln", HOST_VULN_REF_SCHEMA),
        T.StructField("outputs", T.ArrayType(OUTPUT_SCHEMA)),
        # per-host-vuln summary row from the scan detail (severity +
        # count drive the severity pivot, export.py:60-65)
        T.StructField("severity", T.IntegerType()),
        T.StructField("count", T.IntegerType()),
    ]
)

TARGET_SCHEMA = T.StructType(
    [
        T.StructField("host_id", T.IntegerType()),
        T.StructField("history_id", T.IntegerType()),
        T.StructField("scan_id", T.IntegerType()),
        T.StructField("host_ip", T.StringType()),
        T.StructField("host_fqdn", T.StringType()),
        T.StructField("host_start", T.StringType()),
        T.StructField("host_end", T.StringType()),
        T.StructField("os", T.StringType()),
        T.StructField("critical_count", T.IntegerType()),
        T.StructField("high_count", T.IntegerType()),
        T.StructField("medium_count", T.IntegerType()),
        T.StructField("low_count", T.IntegerType()),
        T.StructField("info_count", T.IntegerType()),
        T.StructField("vulnerabilities", T.ArrayType(VULNERABILITY_SCHEMA)),
    ]
)

SCAN_RUN_DOC_SCHEMA = T.StructType(
    [
        T.StructField("history_id", T.IntegerType()),
        T.StructField("scan_id", T.IntegerType()),
        T.StructField("scanner_start", T.LongType()),
        T.StructField("scanner_end", T.LongType()),
        T.StructField("host_count", T.IntegerType()),
        T.StructField("critical_count", T.IntegerType()),
        T.StructField("high_count", T.IntegerType()),
        T.StructField("medium_count", T.IntegerType()),
        T.StructField("low_count", T.IntegerType()),
        T.StructField("info_count", T.IntegerType()),
        T.StructField("targets", T.ArrayType(TARGET_SCHEMA)),
    ]
)

FOLDER_DOC_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("type", T.StringType()),
        T.StructField("name", T.StringType()),
    ]
)

SCAN_DOC_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("folder_id", T.IntegerType()),
        T.StructField("type", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("last_modification_date", T.LongType()),
        T.StructField(
            "history",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("history_id", T.IntegerType()),
                        T.StructField("status", T.StringType()),
                        T.StructField("last_modification_date", T.LongType()),
                    ]
                )
            ),
        ),
    ]
)

# ---------------------------------------------------------------------------
# Silver: warehouse tables (schema.sql)
# ---------------------------------------------------------------------------

_INT, _BIGINT, _STRING, _DOUBLE = (
    T.IntegerType(), T.LongType(), T.StringType(), T.DoubleType()
)
_SEVERITY_COUNTS = dict.fromkeys(
    ("critical_count", "high_count", "medium_count", "low_count", "info_count"),
    _INT,
)


def _table(**columns: T.DataType) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in columns.items()])


# one StructType per table, keyed by the table's name: the names are the
# silver layer's table list, and every silver read passes its schema
SILVER_SCHEMAS = {
    "folder": _table(folder_id=_INT, type=_STRING, name=_STRING),
    "scan": _table(scan_id=_INT, folder_id=_INT, type=_STRING, name=_STRING),
    "scan_run": _table(
        scan_run_id=_INT, scan_id=_INT, scan_start=_BIGINT, scan_end=_BIGINT,
        targets=_STRING, host_count=_INT, **_SEVERITY_COUNTS,
    ),
    "host": _table(
        host_id=_BIGINT, nessus_host_id=_INT, scan_run_id=_INT, scan_id=_INT,
        host_ip=_STRING, host_fqdn=_STRING, host_start=_STRING,
        host_end=_STRING, os=_STRING, **_SEVERITY_COUNTS,
    ),
    "host_vuln": _table(
        host_vuln_id=_BIGINT, nessus_host_id=_INT, scan_run_id=_INT, plugin_id=_INT
    ),
    "plugin": _table(
        plugin_id=_INT, severity=_INT, name=_STRING, family=_STRING,
        synopsis=_STRING, description=_STRING, solution=_STRING,
        cvss_base_score=_DOUBLE, cvss3_base_score=_DOUBLE,
        cvss_vector=_STRING, cvss3_vector=_STRING, ref=_STRING,
        pub_date=_STRING, mod_date=_STRING,
    ),
    "vuln_output": _table(
        vuln_output_id=_BIGINT, host_vuln_id=_BIGINT, port=_STRING, output=_STRING
    ),
}
