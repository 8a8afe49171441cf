"""Phase-4 external-world operators: paginated REST source, binary
document sink with manifest resume, append-only run telemetry."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ipes_data_pipeline_spark.schemas import RAW_FILING_NESTED
from ipes_data_pipeline_spark.sources.binary_sink import (
    MANIFEST_SCHEMA_DDL,
    download_documents,
    pending_work,
    read_documents,
    rewrite_doc_url,
    sniff_extension,
)
from ipes_data_pipeline_spark.sources.metrics import (
    RUN_STATS_SCHEMA,
    latest_run,
    record_run,
    run_history,
)
from ipes_data_pipeline_spark.sources.rest import (
    FileBackedTransport,
    materialize_pages,
    read_federated,
    read_paginated,
)
from tests.fixtures import RAW_FILINGS


@pytest.fixture(scope="module")
def page_root(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pages"))
    materialize_pages(root, "voip", RAW_FILINGS, page_size=4)
    # second query overlaps the first (federated dedup must drop repeats)
    materialize_pages(root, "52.15 numbering", RAW_FILINGS[10:] + RAW_FILINGS[:3],
                      page_size=4)
    return root


def test_paginated_scan_reads_all_pages(spark, page_root):
    df = read_paginated(
        spark, FileBackedTransport(page_root), "voip", RAW_FILING_NESTED,
        page_size=4,
    )
    assert df.count() == len(RAW_FILINGS)
    ids = {r["id_submission"] for r in df.select("id_submission").collect()}
    assert "s001" in ids and "s018" in ids
    # nested structure survives the JSON round-trip
    one = df.filter(F.col("id_submission") == "s006").collect()[0]
    assert [p["name"] for p in one["proceedings"]] == [
        "24-132", "24-132", "INBOX-52.15"
    ]


def test_paginated_scan_limit_pushdown(spark, page_root):
    df = read_paginated(
        spark, FileBackedTransport(page_root), "voip", RAW_FILING_NESTED,
        page_size=4, max_records=6,
    )
    # cap lands mid-page: only 2 pages fetched, final page trimmed
    assert df.count() == 6


def test_federated_union_dedup(spark, page_root):
    df = read_federated(
        spark, FileBackedTransport(page_root), ["voip", "52.15 numbering"],
        RAW_FILING_NESTED, page_size=4,
    )
    # union of both queries minus overlap == one row per distinct submission
    assert df.count() == len(RAW_FILINGS)
    assert df.groupBy("id_submission").count().filter("count > 1").count() == 0


# --- binary sink -------------------------------------------------------------

PAYLOADS = {
    "https://x/documents/1": b"%PDF-1.7 " + b"a" * 2000,
    "https://x/documents/2": b"PK\x03\x04" + b"b" * 2000,
    "https://x/documents/3": b"\xd0\xcf\x11\xe0" + b"c" * 2000,
    "https://x/documents/4": b"%PDF tiny",  # < 1000 bytes -> not ok
}


def test_sniff_extension():
    assert sniff_extension(b"%PDF-1.5 xx") == "pdf"
    assert sniff_extension(b"PK\x03\x04zz") == "docx"
    assert sniff_extension(b"\xd0\xcf\x11\xe0rest") == "doc"
    assert sniff_extension(b"plain text") == "bin"


def test_sniff_extension_col_matches_byte_sniffer(spark):
    # the column twin (q167's relational sniff) must agree with the byte
    # sniffer on all four magic classes via the latin-1 codepoint map
    from pyspark.sql import functions as F

    from ipes_data_pipeline_spark.sources.binary_sink import (
        sniff_extension_col,
    )

    payloads = [
        b"%PDF-1.5 xx",
        b"PK\x03\x04zz",
        b"\xd0\xcf\x11\xe0rest",
        b"plain text",
        b"PKzz",  # 2-byte zip magic alone
    ]
    rows = [(i, p.decode("latin-1")) for i, p in enumerate(payloads)]
    df = spark.createDataFrame(rows, "i int, prefix string").select(
        "i", sniff_extension_col(F.col("prefix")).alias("ext")
    )
    got = {r["i"]: r["ext"] for r in df.collect()}
    assert got == {i: sniff_extension(p) for i, p in enumerate(payloads)}


def test_download_sink_and_manifest_resume(spark, tmp_path):
    out_dir = str(tmp_path / "docs")
    queue = spark.createDataFrame(
        [
            ("https://x/document/1", "Acme_1"),  # /document/ -> /documents/
            ("https://x/documents/2", "Acme_2"),
            ("https://x/documents/3", "Globex_3"),
            ("https://x/documents/4", "Globex_4"),
            ("https://x/documents/404", "Gone_5"),  # fetch failure
        ],
        "url string, file_stem string",
    )

    def fake_fetch(url: str) -> bytes:  # nested: cloudpickled by value
        payloads = {
            "https://x/documents/1": b"%PDF-1.7 " + b"a" * 2000,
            "https://x/documents/2": b"PK\x03\x04" + b"b" * 2000,
            "https://x/documents/3": b"\xd0\xcf\x11\xe0" + b"c" * 2000,
            "https://x/documents/4": b"%PDF tiny",
        }
        if url not in payloads:
            raise OSError("404")
        return payloads[url]

    manifest = download_documents(queue, out_dir, fake_fetch).persist()
    rows = {r["url"]: r for r in manifest.collect()}
    assert len(rows) == 5
    assert rows["https://x/documents/1"]["content_type"] == "pdf"
    assert rows["https://x/documents/2"]["content_type"] == "docx"
    assert rows["https://x/documents/3"]["content_type"] == "doc"
    assert rows["https://x/documents/1"]["ok"]
    assert not rows["https://x/documents/4"]["ok"]  # too small
    assert rows["https://x/documents/404"]["content_type"] == "error:OSError"
    assert not rows["https://x/documents/404"]["ok"]
    assert os.path.exists(rows["https://x/documents/1"]["path"])

    # resume: only the failed/small rows remain pending
    pending = pending_work(
        queue.select(rewrite_doc_url("url").alias("url"), "file_stem"), manifest
    )
    assert {r["url"] for r in pending.collect()} == {
        "https://x/documents/4",
        "https://x/documents/404",
    }

    # read side: binaryFile source sees the written documents
    docs = read_documents(spark, out_dir)
    assert docs.count() == 4  # 3 ok + 1 tiny
    pdf = docs.filter(F.col("path").endswith("Acme_1.pdf")).collect()[0]
    assert bytes(pdf["content"])[:4] == b"%PDF"


def test_manifest_schema_matches_ddl(spark):
    df = spark.createDataFrame([], MANIFEST_SCHEMA_DDL)
    assert df.columns == ["url", "path", "n_bytes", "content_type", "ok"]


# --- run telemetry -----------------------------------------------------------

def test_run_telemetry_append_and_latest(spark, tmp_path):
    stats = str(tmp_path / "run_stats")
    record_run(spark, stats, "success", 1.11,
               {"fetch": 0.4, "structure": 0.5}, {"valid": 178}, run_ts=1_000.0)
    record_run(spark, stats, "failed", 0.3, {"fetch": 0.3}, None, run_ts=2_000.0)
    hist = run_history(spark, stats)
    assert hist.count() == 2
    last = latest_run(spark, stats)
    assert last["status"] == "failed"
    assert last["steps"] == {"fetch": 0.3}

    # the row is built on the JVM: it must read back as createDataFrame
    # wrote it — same columns and types, the epoch instant whatever the
    # session time zone, an empty step map as {}, no validation as null
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        record_run(spark, stats, "success", 0.0, {}, None, run_ts=3_000.5)
        assert [
            (f.name, f.dataType.simpleString())
            for f in spark.read.parquet(stats).schema
        ] == [(f.name, f.dataType.simpleString()) for f in RUN_STATS_SCHEMA]
        rows = {
            r["status"] + str(r["micros"]): r
            for r in run_history(spark, stats)
            .withColumn("micros", F.unix_micros("run_ts"))
            .collect()
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert set(rows) == {"success1000000000", "failed2000000000", "success3000500000"}
    first, third = rows["success1000000000"], rows["success3000500000"]
    assert first["total_duration_seconds"] == 1.11
    assert first["steps"] == {"fetch": 0.4, "structure": 0.5}
    assert json.loads(first["validation"]) == {"valid": 178}
    assert rows["failed2000000000"]["validation"] is None
    assert third["steps"] == {}
    assert third["validation"] is None
    assert latest_run(spark, stats)["status"] == "success"
