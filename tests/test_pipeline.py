"""Golden tests for the bronze→silver→gold pipeline on reference-shaped
fixtures (FIXTURES.md §1, edge cases from SURVEY §2.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ipes_data_pipeline_spark.operators.enrich import DeterministicMockBackend
from ipes_data_pipeline_spark.operators.normalize import normalize_name
from ipes_data_pipeline_spark.operators.validate import (
    company_constraints,
    validate,
    validation_report,
)
from ipes_data_pipeline_spark.pipeline.bronze import export_csv_shim, flatten_filings
from ipes_data_pipeline_spark.pipeline.gold import build_gold, empty_cache
from ipes_data_pipeline_spark.pipeline.silver import structure
from ipes_data_pipeline_spark.schemas import RAW_FILING_NESTED
from tests.fixtures import RAW_FILINGS


@pytest.fixture(scope="module")
def flat(spark):
    raw = spark.createDataFrame(RAW_FILINGS, RAW_FILING_NESTED)
    return flatten_filings(raw).cache()


@pytest.fixture(scope="module")
def star(flat):
    return structure(flat)


def test_flatten_shapes(flat):
    rows = {r["submission_id"]: r for r in flat.collect()}
    assert rows["s001"]["company_name"] == "Stratus Network, LLC"
    assert rows["s001"]["date_received"].isoformat() == "2024-03-05"
    # duplicate proceedings collapse to distinct dockets (SURVEY §2.3.4)
    assert rows["s006"]["docket_numbers"] == ["24-132", "INBOX-52.15"]
    # >200-char description truncated (fetch.py:184 parity)
    assert len(rows["s013"]["proceeding_description"]) == 200
    # missing nested structs → empty strings, not nulls (safe_get parity)
    assert rows["s014"]["submission_type"] == ""
    # unparseable date → null (coerce semantics)
    assert rows["s016"]["date_received"] is None
    # blank filer → empty name (guard applied later in silver)
    assert rows["s015"]["company_name"] == ""


def test_csv_shim_joins_arrays(flat):
    shim = export_csv_shim(flat)
    row = shim.filter(F.col("submission_id") == "s006").collect()[0]
    assert row["docket_numbers"] == "24-132; INBOX-52.15"


def test_silver_companies(star):
    companies = {r["normalized_name"]: r for r in star.companies.collect()}
    # suffix variants + near-duplicates merged to canonical names
    assert "stratus network" in companies  # canonical = component min
    assert "acme telecom" in companies
    assert companies["acme telecom"]["filing_count"] == 2
    # excluded institution, individuals, comment-only entities absent
    assert all("bureau" not in k for k in companies)
    assert "jane q doe" not in companies
    assert "hooli networks" not in companies
    # d/b/a tail stripped
    assert "globex communications" in companies
    # adversarial near-miss pair NOT merged
    assert "zeta communications" in companies
    assert "zetamax communications" in companies
    # latest date aggregated
    assert companies["acme telecom"]["latest_filing_date"].isoformat() == "2024-06-07"


def test_silver_filings_fact(star):
    filings = star.filings.collect()
    by_fid = {r["filing_id"]: r for r in filings}
    # FK integrity: every filing's company_id exists in the dim
    ids = {r["id"] for r in star.companies.collect()}
    assert {r["company_id"] for r in filings} <= ids
    assert by_fid["s001"]["primary_doc_url"] == "https://docs.fcc.gov/d/1.pdf"
    # stratus merge: both filings under one company
    stratus = [r for r in filings if r["filing_id"] in ("s001", "s002")]
    assert len({r["company_id"] for r in stratus}) == 1


def test_nested_round_trip(star):
    nested = star.companies_nested
    n_filings = nested.select(F.explode("filings")).count()
    assert n_filings == star.filings.count()
    # filings sorted desc by date within each company
    acme = nested.filter(F.col("normalized_name") == "acme telecom").collect()[0]
    dates = [f["date_received"] for f in acme["filings"]]
    assert dates == sorted(dates, reverse=True)


def test_validation_quarantine(spark, star):
    bad = spark.createDataFrame(
        [("", "X Corp", "x corp", "Company", -1, None)],
        schema="id string, entity_name string, normalized_name string, entity_type string, filing_count int, latest_filing_date date",
    )
    result = validate(star.companies.unionByName(bad), company_constraints())
    report = validation_report(result)
    assert report["invalid_records"] == 1
    assert report["valid_records"] == star.companies.count()
    assert report["error_samples"][0]["name"] == "X Corp"
    assert "id_not_null" in report["error_samples"][0]["error"]
    assert "filing_count_nonneg" in report["error_samples"][0]["error"]


def test_validation_report_clean_input(star):
    # all rows valid: the counts come from the Observation and no error
    # sample is collected
    report = validation_report(validate(star.companies, company_constraints()))
    n = star.companies.count()
    assert report == {
        "total_processed": n,
        "valid_records": n,
        "invalid_records": 0,
        "error_samples": [],
    }


def test_gold_enrichment_cache(spark, star):
    # nested so cloudpickle ships it by value to the Python workers;
    # an invocation is swallowed into an empty struct (null enrichment
    # columns) by the operator — so non-null output proves no call happened
    def exploding_backend(name, dockets):
        raise AssertionError("backend must not be called on a warmed cache")

    cache = empty_cache(spark)
    out = build_gold(
        star.companies, star.filings, cache, backend=DeterministicMockBackend()
    )
    gold = out.enriched.collect()
    n_companies = star.companies.count()
    assert len(gold) == n_companies
    assert all(r["industry_segment"] is not None for r in gold)
    # first pass: one cache row per company (each miss enriched once)
    assert out.new_cache_rows.count() == n_companies

    # second pass with warmed cache: zero backend calls — an ExplodingBackend
    # call would surface as null enrichment columns
    warmed = cache.unionByName(out.new_cache_rows)
    out2 = build_gold(star.companies, star.filings, warmed, backend=exploding_backend)
    gold2 = out2.enriched.collect()
    assert len(gold2) == n_companies
    assert all(r["industry_segment"] is not None for r in gold2)
    assert out2.new_cache_rows.count() == 0


def test_normalize_idempotent(spark):
    names = spark.createDataFrame(
        [("Stratus Network, LLC",), ("ACME   Telecom, L.L.C.",), ("A d/b/a B",),
         ("Weird !@# Name Inc.",)],
        "raw string",
    )
    once = names.select(normalize_name("raw").alias("n1"))
    twice = once.select(F.col("n1"), normalize_name("n1").alias("n2"))
    assert all(r["n1"] == r["n2"] for r in twice.collect())


def test_dedup_order_independent(spark, flat):
    # canonical assignment must not depend on input row order
    shuffled = flat.orderBy(F.desc("submission_id"))
    a = structure(flat).companies.select("normalized_name", "id").collect()
    b = structure(shuffled).companies.select("normalized_name", "id").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
