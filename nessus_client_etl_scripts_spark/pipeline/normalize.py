"""Bronze → Silver normalization — SURVEY.md §7 Phase 2.

Input: the nested scan-run documents the lake holds (one document per
(scan_id, history_id); shape per /root/reference/export.py:196-208 —
see ``sources.nessus_schemas.SCAN_RUN_DOC_SCHEMA``), plus the folder /
scan dimension snapshots (/root/reference/export.py:241-243).

Output: the 7 warehouse tables of /root/reference/schema.sql, produced
by pure column algebra:

- the reference's per-host loop (export.py:211-212) and per-vuln thread
  fan-out (export.py:182-183) dissolve into ``explode`` chains (C3/C4,
  SURVEY.md §2.8) — narrow transformations, NO shuffle anywhere in the
  explode path;
- MySQL's AUTO_INCREMENT surrogate keys (schema.sql:43,74,165) become
  ``monotonically_increasing_id()`` — unique without any cross-task
  coordination (partition id in the high bits), which is the only
  property the schema actually uses (FK linkage). Referential
  integrity is guaranteed structurally: the surrogate is minted on the
  parent row BEFORE the child explode, so every child carries its
  parent's id by construction, never by join.

Scale posture: at 100 TB of documents this plan is scan → explode →
project → write, with exactly one shuffle total (plugin dedup, a small
dimension). Severity counters are recomputed distributively (A1) only
when asked; by default the enrichment fields the ETL already computed
(export.py:172-179) are trusted and carried through.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import array_join_lines
from ..operators.aggregates import pivot_sum, SEVERITY_COLUMNS


def normalize_folders(folder_docs: DataFrame) -> DataFrame:
    """folder.json snapshot → ``folder`` (schema.sql:27-32)."""
    return folder_docs.select(
        F.col("id").cast("int").alias("folder_id"),
        "type",
        "name",
    )


def normalize_scans(scan_docs: DataFrame) -> DataFrame:
    """scan.json snapshot → ``scan`` (schema.sql:121-129)."""
    return scan_docs.select(
        F.col("id").cast("int").alias("scan_id"),
        F.col("folder_id").cast("int"),
        "type",
        "name",
    )


def normalize_scan_runs(
    scan_run_docs: DataFrame,
    folder_docs: DataFrame | None = None,
    scan_docs: DataFrame | None = None,
    id_mode: str = "monotonic",
) -> dict[str, DataFrame]:
    """Normalize nested scan-run documents into the warehouse tables.

    Returns a dict with keys ``scan_run host host_vuln plugin
    vuln_output`` (+ ``folder``/``scan`` when snapshots are given).

    The document's nesting (targets → vulnerabilities → outputs,
    export.py:144-215) is peeled one ``explode`` at a time; each level
    keeps only the columns its table needs, so column pruning reaches
    the parquet scan (ReadSchema carries just the struct fields used).

    ``id_mode``:
    - ``'monotonic'`` (batch): ``monotonically_increasing_id()`` —
      unique within one job, zero coordination.
    - ``'hash'`` (streaming/append): ``xxhash64`` of the natural key +
      array position — deterministic across micro-batches, so appending
      the same document twice yields the same ids (idempotent upsert
      key) and ids never collide between batches the way per-batch
      monotonic counters would.
    """
    if id_mode not in ("monotonic", "hash"):
        raise ValueError(f"unknown id_mode: {id_mode!r}")

    def mint(*natural: object):
        if id_mode == "monotonic":
            return F.monotonically_increasing_id()
        return F.xxhash64(*natural)

    docs = scan_run_docs

    # --- scan_run: top-level projection (P1), one row per document.
    # scan_run_id ← history_id (the reference keys runs by history_id:
    # export.py:158,198). `targets` is LONGTEXT in schema.sql:144; we
    # store the compact host-id list, not the full nested payload.
    scan_run = docs.select(
        F.col("history_id").cast("int").alias("scan_run_id"),
        F.col("scan_id").cast("int"),
        F.col("scanner_start").cast("long").alias("scan_start"),
        F.col("scanner_end").cast("long").alias("scan_end"),
        F.to_json(F.col("targets.host_id")).alias("targets"),
        F.col("host_count").cast("int"),
        *[F.col(c).cast("int") for c in SEVERITY_COLUMNS.values()],
    )

    # --- host: explode targets (C3). Surrogate host_id minted here;
    # nessus_host_id ← the document's host_id (export.py:172).
    targets = docs.select(
        F.col("history_id").cast("int").alias("scan_run_id"),
        F.posexplode("targets").alias("tpos", "t"),
    )
    host = targets.select(
        mint(F.col("scan_run_id"), F.col("t.host_id")).alias("host_id"),
        F.col("t.host_id").cast("int").alias("nessus_host_id"),
        "scan_run_id",
        F.col("t.scan_id").cast("int").alias("scan_id"),
        F.col("t.host_ip").alias("host_ip"),
        F.col("t.host_fqdn").alias("host_fqdn"),
        F.col("t.host_start").alias("host_start"),
        F.col("t.host_end").alias("host_end"),
        F.col("t.os").alias("os"),
        *[F.col(f"t.{c}").cast("int").alias(c) for c in SEVERITY_COLUMNS.values()],
    )

    # --- host_vuln: explode vulnerabilities (C4). The FK triple is
    # carried verbatim from the document (export.py:158); the surrogate
    # host_vuln_id is minted BEFORE the outputs explode so vuln_output
    # inherits it structurally.
    vulns = targets.select(
        "scan_run_id",
        F.col("t.host_id").alias("_nhid"),
        F.posexplode("t.vulnerabilities").alias("vpos", "v"),
    ).withColumn(
        "host_vuln_id",
        mint(F.col("scan_run_id"), F.col("_nhid"), F.col("vpos")),
    )

    host_vuln = vulns.select(
        "host_vuln_id",
        F.col("v.host_vuln.nessus_host_id").cast("int").alias("nessus_host_id"),
        F.col("v.host_vuln.scan_run_id").cast("int").alias("scan_run_id"),
        F.col("v.host_vuln.plugin_id").cast("int").alias("plugin_id"),
    )

    # --- vuln_output: explode outputs under the parent's surrogate id
    # (the reference's format_vuln_outputs flattening, export.py:144-149
    # — already port/output structs at this layer; the raw ports-map
    # variant is handled upstream by functions.explode_port_map).
    vuln_output = (
        vulns.select(
            "host_vuln_id",
            "scan_run_id",
            "_nhid",
            "vpos",
            F.posexplode("v.outputs").alias("opos", "o"),
        )
        .select(
            mint(
                F.col("scan_run_id"), F.col("_nhid"), F.col("vpos"), F.col("opos")
            ).alias("vuln_output_id"),
            "host_vuln_id",
            F.col("o.port").alias("port"),
            F.col("o.output").alias("output"),
        )
    )

    # --- plugin: the dimension is embedded per-vuln (J4's fetch-join,
    # export.py:151-161); dedup on plugin_id — the ONE shuffle of the
    # pipeline, over a small dimension. ref ← '\n'.join(see_also)
    # (format_plugin, export.py:136-142); CVSS scores arrive as strings
    # in pluginattributes and are declared DOUBLE (schema.sql:103-104).
    pa = "v.plugin.pluginattributes"
    plugin = (
        vulns.select(
            F.col("v.plugin.plugin_id").cast("int").alias("plugin_id"),
            F.col("v.plugin.severity").cast("int").alias("severity"),
            F.col("v.plugin.name").alias("name"),
            F.col("v.plugin.family").alias("family"),
            F.col(f"{pa}.synopsis").alias("synopsis"),
            F.col(f"{pa}.description").alias("description"),
            F.col(f"{pa}.solution").alias("solution"),
            F.col(f"{pa}.risk_information.cvss_base_score")
            .cast("double")
            .alias("cvss_base_score"),
            F.col(f"{pa}.risk_information.cvss3_base_score")
            .cast("double")
            .alias("cvss3_base_score"),
            F.col(f"{pa}.risk_information.cvss_vector").alias("cvss_vector"),
            F.col(f"{pa}.risk_information.cvss3_vector").alias("cvss3_vector"),
            array_join_lines(F.col(f"{pa}.see_also")).alias("ref"),
            F.col(f"{pa}.plugin_publication_date").alias("pub_date"),
            F.col(f"{pa}.plugin_modification_date").alias("mod_date"),
        )
        .dropDuplicates(["plugin_id"])
    )

    out = {
        "scan_run": scan_run,
        "host": host,
        "host_vuln": host_vuln,
        "plugin": plugin,
        "vuln_output": vuln_output,
    }
    if folder_docs is not None:
        out["folder"] = normalize_folders(folder_docs)
    if scan_docs is not None:
        out["scan"] = normalize_scans(scan_docs)
    return out


def write_silver(tables: dict[str, DataFrame], root: str) -> None:
    """Materialize the silver layer, one parquet table per key.

    Materializing pins the surrogate ids: ``monotonically_increasing_id``
    is deterministic per (partitioning, row order), but downstream
    consumers should join against the WRITTEN table, not re-derive the
    lineage (same rule as any surrogate-key warehouse load)."""
    import os

    for name, df in tables.items():
        df.write.mode("overwrite").parquet(os.path.join(root, name))


def read_silver(spark, root: str, names=None) -> dict[str, DataFrame]:
    """Read the silver tables under ``root`` that exist, each with its
    declared schema (``SILVER_SCHEMAS``), so no schema-inference job
    runs; ``tests/test_declared_reads.py`` keeps the declarations equal
    to what :func:`write_silver` lands."""
    import os

    from ..sources.nessus_schemas import SILVER_SCHEMAS

    return {
        name: spark.read.schema(SILVER_SCHEMAS[name]).parquet(os.path.join(root, name))
        for name in (names or SILVER_SCHEMAS)
        if os.path.isdir(os.path.join(root, name))
    }


def severity_rollup(
    docs: DataFrame, level: str = "host", faithful: bool = True
) -> DataFrame:
    """A1 — recompute severity counters from the vulnerability summaries
    instead of trusting the document's enrichment fields.

    ``calculate_severities`` (/root/reference/export.py:60-65) sums
    ``vuln.count`` into a per-severity counter; its ``if
    vuln.get('severity')`` guard drops severity 0 by falsiness, so the
    recomputed ``info_count`` is always 0. ``faithful=True`` reproduces
    that; ``faithful=False`` includes severity 0 (the intended
    behavior).

    level='host': counters per (scan_run_id, nessus_host_id)
    (export.py:170); level='run': per scan_run_id (export.py:194).

    Distributed form: explode → conditional-sum pivot; map-side partial
    aggregation means the shuffle carries ≤5 longs per group.

    Explode OUTER-ness mirrors the reference's loop semantics (found by
    the property suite): a run with zero targets still yields a
    zero-counter run row (calculate_severities over an empty list,
    export.py:194), and a host with zero vulnerabilities still yields a
    zero-counter host row (export.py:170) — but a hostless run must NOT
    mint a phantom host row, so the target explode is outer only at
    run level. pivot_sum's ``otherwise(0)`` turns the null-severity
    carrier rows into zeros.
    """
    explode_targets = F.explode_outer if level == "run" else F.explode
    base = docs.select(
        F.col("history_id").cast("int").alias("scan_run_id"),
        explode_targets("targets").alias("t"),
    ).select(
        "scan_run_id",
        F.col("t.host_id").cast("int").alias("nessus_host_id"),
        F.explode_outer("t.vulnerabilities").alias("v"),
    )
    keys = ["scan_run_id"] if level == "run" else ["scan_run_id", "nessus_host_id"]
    flat = base.select(
        *keys,
        F.col("v.severity").alias("severity"),
        F.col("v.count").alias("count"),
    )
    return pivot_sum(
        flat,
        keys,
        "severity",
        {sev: name for sev, name in SEVERITY_COLUMNS.items()},
        F.col("count").cast("long"),
        exclude=frozenset({0}) if faithful else frozenset(),
    )
