"""Config (P9) and REST source (S1/S2) tests — injectable transport,
no network."""

import pytest

from nessus_client_etl_scripts_spark.config import load_config
from nessus_client_etl_scripts_spark.pipeline import fixtures
from nessus_client_etl_scripts_spark.sources.rest import ENDPOINTS, NessusRestSource

GOOD_INI = """
[nessus]
hostname = scanner.example.test
port = 8834
access_key = ak
secret_key = sk

[aws]
bucket_name = my-lake
region_name = us-east-1

[scanner]
deployment_id = deadbeef-0000-4000-8000-000000000001
"""


def test_load_config_roundtrip(tmp_path):
    p = tmp_path / "config.ini"
    p.write_text(GOOD_INI)
    cfg = load_config(str(p))
    assert cfg.nessus.base_url == "https://scanner.example.test:8834"
    assert "accessKey=ak" in cfg.nessus.api_headers["X-ApiKeys"]
    assert cfg.lake.root == "s3a://my-lake"
    assert cfg.deployment_id.startswith("deadbeef")


def test_load_config_missing_key_raises(tmp_path):
    p = tmp_path / "config.ini"
    p.write_text(GOOD_INI.replace("secret_key = sk\n", ""))
    with pytest.raises(ValueError, match="missing required key"):
        load_config(str(p))


def test_load_config_empty_value_raises(tmp_path):
    p = tmp_path / "config.ini"
    p.write_text(GOOD_INI.replace("port = 8834", "port ="))
    with pytest.raises(ValueError, match="empty required"):
        load_config(str(p))


@pytest.fixture()
def fake_transport(spark):
    """Fixture-backed transport: the six endpoint shapes served from
    the deterministic document generators."""
    calls = []

    def fetch(path: str) -> dict:
        calls.append(path)
        if path == "/folders":
            return {"folders": [{"id": 1, "type": "custom", "name": "f"}]}
        if path == "/scans":
            return {"scans": [
                {"id": s, "folder_id": s // 3, "type": "local", "name": f"scan-{s}",
                 "status": "completed", "last_modification_date": fixtures.T0}
                for s in (0, 1)
            ]}
        if path.startswith("/scans/") and "history_id" in path:
            scan_id = int(path.split("/")[2].split("?")[0])
            return fixtures.scan_run_doc(scan_id, 0)
        if path.startswith("/scans/"):
            scan_id = int(path.split("/")[2])
            return {"history": [
                {"history_id": scan_id * 1000, "status": "completed",
                 "last_modification_date": fixtures.T0}
            ]}
        raise AssertionError(f"unexpected path: {path}")

    fetch.calls = calls
    return fetch


def test_rest_source_typed_wrappers(spark, fake_transport):
    src = NessusRestSource(spark, fake_transport)
    assert src.get_folders()[0]["id"] == 1
    run = src.get_scan_run(1, 1000)
    assert run["scan_id"] == 1 and run["history_id"] == 1000
    # endpoint templating matches the reference's URL shapes
    assert ENDPOINTS["plugin_output"].format(
        scan_id=1, host_id=2, plugin_id=3, history_id=4
    ) == "/scans/1/hosts/2/plugins/3?history_id=4"


def test_rest_source_scans_df_attaches_history(spark, fake_transport):
    src = NessusRestSource(spark, fake_transport)
    df = src.scans_df()
    rows = {r.id: r for r in df.collect()}
    assert set(rows) == {0, 1}
    assert rows[1].history[0].history_id == 1000
    # one /scans listing + one detail fetch per scan
    assert fake_transport.calls.count("/scans") == 1


def test_rest_to_pipeline_end_to_end(spark, fake_transport, tmp_path):
    """REST source feeds the same run_export pipeline as fixtures do."""
    import datetime as dt

    from nessus_client_etl_scripts_spark.pipeline.export_pipeline import run_export

    src = NessusRestSource(spark, fake_transport)
    scans = src.scans_df()
    docs = spark.createDataFrame(
        [fixtures.scan_run_doc(s, 0) for s in (0, 1)],
        __import__(
            "nessus_client_etl_scripts_spark.sources.nessus_schemas",
            fromlist=["SCAN_RUN_DOC_SCHEMA"],
        ).SCAN_RUN_DOC_SCHEMA,
    )
    out = run_export(
        spark, scans, docs, str(tmp_path / "lake"), "dep-1",
        mode="watermark", today=dt.date(2024, 2, 1),
    )
    assert out["scan_run"] == 2


def test_jsonl_roundtrip_preserves_values(spark, tmp_path):
    from pyspark.sql import types as T

    from nessus_client_etl_scripts_spark.sources.text_corpus import (
        read_jsonl,
        write_jsonl,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("n", T.LongType()),
        ]
    )
    rows = [
        (1, 'quotes " and \\ backslash', 10),
        (2, "unicode: héllo wörld — ünïcode 中文", 20),
        (3, "newline-free but\ttab and trailing space ", None),
        (4, None, 40),  # null text survives
    ]
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "corpus")
    write_jsonl(df, path)
    back = read_jsonl(spark, path, schema)
    assert sorted(map(tuple, back.collect())) == sorted(rows)


def test_python_datasource_distributed_fetch(spark):
    """The Spark 4 Python Data Source fans run fetches out as executor
    tasks (one InputPartition per run) and the payloads parse into the
    declared document schema downstream."""
    import json

    import pyspark.sql.functions as F

    from nessus_client_etl_scripts_spark.pipeline import fixtures
    from nessus_client_etl_scripts_spark.sources.nessus_schemas import (
        SCAN_RUN_DOC_SCHEMA,
    )
    from nessus_client_etl_scripts_spark.sources.rest_datasource import (
        NessusRunsDataSource,
    )

    spark.dataSource.register(NessusRunsDataSource)
    runs = [
        {"scan_id": s, "history_id": 0} for s in fixtures.all_scan_ids()[:4]
    ]
    payload = {"runs": runs}
    for r in runs:
        payload[f"scan_run_{r['scan_id']}_{r['history_id']}"] = (
            fixtures.scan_run_doc(r["scan_id"], 0)
        )
    df = (
        spark.read.format("nessus_runs")
        .option("fixture_json", json.dumps(payload))
        .load()
    )
    # one partition per run — the distributed fan-out contract
    assert df.rdd.getNumPartitions() == 4
    parsed = df.select(
        "scan_id",
        F.from_json("payload", SCAN_RUN_DOC_SCHEMA).alias("doc"),
    ).select("scan_id", "doc.history_id", F.size("doc.targets").alias("n"))
    rows = {r["scan_id"]: r["n"] for r in parsed.collect()}
    assert set(rows) == {r["scan_id"] for r in runs}
    assert all(n >= 1 for n in rows.values())


def test_data_source_http_transport_offline(monkeypatch):
    """The data source's per-task transport is rest.default_transport
    with config's X-ApiKeys header — checked against a fake
    ``requests`` module, no network."""
    import sys
    import types

    from nessus_client_etl_scripts_spark.sources.rest_datasource import (
        _http_transport,
    )

    calls = []

    class Response:
        def raise_for_status(self):
            calls.append("raise_for_status")

        def json(self):
            return {"runs": []}

    def get(url, headers, timeout):
        calls.append((url, headers, timeout))
        return Response()

    monkeypatch.setitem(sys.modules, "requests", types.SimpleNamespace(get=get))
    fetch = _http_transport(
        {"base_url": "https://scanner.test:8834", "access_key": "ak", "secret_key": "sk"}
    )
    assert fetch("/scans/runs") == {"runs": []}
    assert calls == [
        (
            "https://scanner.test:8834/scans/runs",
            {"X-ApiKeys": "accessKey=ak; secretKey=sk"},
            60,
        ),
        "raise_for_status",
    ]
