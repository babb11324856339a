"""Golden tests for the four extract chains, asserting the reference's
quirky semantics (SURVEY.md §2.11) on FIXTURES-shaped inputs."""

from __future__ import annotations

import pytest

from idr_data_pipelines_spark.pipelines import (
    build_covid_pipeline,
    build_hts_pipeline,
    build_mmd_pipeline,
    build_vls_pipeline,
)
from idr_data_pipelines_spark.plans import PipelineRunner

from .fixtures import AS_OF, load_catalog


@pytest.fixture(scope="module")
def catalog(spark):
    return load_catalog(spark)


@pytest.fixture(scope="module")
def results(spark, catalog):
    """Run all four pipelines in dependency order (VLS after MMD)."""
    mmd = build_mmd_pipeline(catalog, as_of=AS_OF)
    vls = build_vls_pipeline(catalog, as_of=AS_OF)
    covid = build_covid_pipeline(catalog)
    hts = build_hts_pipeline(catalog)
    # MMD's warehouse feeds VLS's merge, like the reference's
    # ExternalTaskSensor on the MMD DAG.
    mmd.sink = lambda df: catalog.register("art_mmd", df)
    runner = PipelineRunner(retries=0)
    out = runner.run(spark, [mmd, vls, covid, hts])
    return {k: v.cache() for k, v in out.items()}


# ------------------------------------------------------------- COVID

def test_covid_booster_and_null_defaults(results):
    rows = {r["ccc_number"]: r for r in results["covid"].collect()}
    # site 999 dropped by the inner MFL join; duplicate collapsed
    assert set(rows) == {"CCC001", "CCC002", "CCC003", "CCC004"}
    assert rows["CCC001"]["Vaccination_Final_Status"] == "Booster Shot"
    assert rows["CCC004"]["Vaccination_Final_Status"] == "Fully Vaccinated"
    assert rows["CCC002"]["Second_Vaccine_Type"] == "Unknown"
    assert rows["CCC002"]["Booster_Vaccine_Type"] == "Unknown"
    assert rows["CCC003"]["First_Vaccine_Type"] == "Unknown"
    assert rows["CCC001"]["Facility_Name"] == "Facility X (raw)"
    assert rows["CCC001"]["officialname"] == "Alpha Clinic"


# --------------------------------------------------------------- HTS

@pytest.fixture(scope="module")
def hts_cascade_rows(spark, catalog):
    """The HTS chain through HTS_summary (per-row cascade, pre-pivot)."""
    p = build_hts_pipeline(catalog)
    p.stages = p.stages[:8]  # through HTS_summary
    return p.build(spark).cache()


def test_hts_cascade_buckets(hts_cascade_rows):
    rows = {r["PatientId"]: r for r in hts_cascade_rows.collect()}
    assert rows["P1"]["hts_cascade"] == "Same Day"
    assert rows["P2"]["hts_cascade"] == ">1 day <2 weeks"
    assert rows["P3"]["hts_cascade"] == ">2 weeks"
    assert rows["P4"]["hts_cascade"] == "Clerical Error"
    assert rows["P5"]["hts_cascade"] == "Not Linked"
    # P6/P7 not positive → cascade NULL → filtered out of the summary
    assert "P6" not in rows and "P7" not in rows


def test_hts_entrypoint_two_step_classifier(results, spark, catalog):
    # inspect the warehouse stage (before the cascade filter) by
    # rebuilding the chain up to HTS_data_warehouse
    from idr_data_pipelines_spark.pipelines.hts import (
        build_hts_pipeline as build,
    )

    p = build(catalog)
    p.stages = p.stages[:7]  # through HTS_data_warehouse
    wh = p.build(spark)
    rows = {r["PatientId"]: r for r in wh.collect()}
    assert rows["P1"]["entrypointclean3"] == "CCC"
    assert rows["P2"]["entrypointclean3"] == "OPD"
    assert rows["P4"]["entrypointclean3"] == "PMTCT"
    assert rows["P5"]["entrypointclean3"] == "Other"      # unknown non-null
    assert rows["P6"]["entrypointclean3"] is None          # null stays null
    assert rows["P7"]["entrypointclean3"] == "IPD"


def test_hts_summary_counts(results):
    # the pipeline's terminal stage IS the global pivot (1 row)
    row = results["hts"].collect()[0]
    assert row["totalPositive"] == 5
    assert row["sameDay"] == 1
    assert row["oneDayToTwoWeeks"] == 1
    assert row["moreThanTwoWeeks"] == 1
    assert row["clericalError"] == 1
    assert row["notLinked"] == 1


# --------------------------------------------------------------- MMD

def test_mmd_group_max_dedup_and_flags(results):
    rows = {r["PatientID"]: r for r in results["mmd"].collect()}
    # site 999 dropped by MFL join; CCC001 pair merged to one row
    assert set(rows) == {"CCC001", "CCC002", "CCC003", "CCC004"}
    merged = rows["CCC001"]
    # MAX of each column independently across the entity-dup pair
    assert merged["weight"] == 64.5
    assert str(merged["LastARTDate"]) == "2024-04-01"
    assert merged["LastRegimenLineClean"] == "2nd line"  # max("First","Second")="Second line"
    # CurrentOnTreatment quirk: mixed-case Yes/NO
    assert rows["CCC002"]["CurrentOnTreatment"] == "Yes"
    assert rows["CCC003"]["CurrentOnTreatment"] == "NO"   # Died
    assert rows["CCC004"]["CurrentOnTreatment"] == "NO"   # lapsed
    assert rows["CCC004"]["LastRegimenLineClean"] == "Uncategorized"
    # hub enrichment
    assert rows["CCC002"]["Hub"] == "Hub B"
    # date formatting: string year + full month name
    assert merged["LastARTYear"] == "2024"
    assert merged["LastARTMonth"] == "April"


def test_mmd_date_diff_boundary_semantics(results):
    rows = {r["PatientID"]: r for r in results["mmd"].collect()}
    m = rows["CCC001"]
    # ExpectedReturn=2024-05-25 (max of pair), LastARTDate=2024-04-01:
    # BQ DATE_DIFF counts boundaries → months = 1 even though < 2 months
    assert m["months"] == 1
    assert m["years"] == 0
    assert m["days"] == 54


# --------------------------------------------------------------- VLS

def test_vls_latest_and_sentinel(results):
    vls = results["vls"]
    by_ccc = {}
    for r in vls.collect():
        by_ccc.setdefault(r["PatientID"], []).append(r)
    # CCC001: latest VL (2024-03-10, LDL) → load 0 → Suppressed (Valid, on treatment)
    c1 = by_ccc["CCC001"]
    assert len(c1) == 1
    assert str(c1[0]["vl_results_date"]) == "2024-03-10"
    assert c1[0]["vl_test_result"] == "LDL"
    assert float(c1[0]["load_numbers"]) == 0.0
    assert c1[0]["viral_load_suppressed"] == "Suppressed"
    assert c1[0]["vl_eligible"] == "Test is current"


def test_vls_tie_fanout(results):
    vls = results["vls"]
    c2 = [r for r in vls.collect() if r["PatientID"] == "CCC002"]
    # tie on max date fans out: the ART row matches BOTH tied VL rows
    assert len(c2) == 2
    assert sorted(r["vl_test_result"] for r in c2) == ["500", "800"]


def test_vls_suppression_case_gap(results):
    rows = {r["PatientID"]: r for r in results["vls"].collect() if r["PatientID"] in ("CCC003", "CCC004")}
    # CCC003: load 250000, Invalid (deceased → NO) → Unsuppressed
    assert rows["CCC003"]["vl_valid"] == "Invalid"
    assert rows["CCC003"]["viral_load_suppressed"] == "Unsuppressed"
    assert rows["CCC003"]["vl_eligible"] == "Ineligible"
    # CCC004: load 400 (<1000) but Invalid → CASE gap → NULL (§2.11)
    assert rows["CCC004"]["vl_valid"] == "Invalid"
    assert rows["CCC004"]["viral_load_suppressed"] is None


def test_vls_left_join_keeps_art_cohort(results):
    # ART patients with no VL rows keep NULL vl_* columns
    vls = results["vls"]
    # every MMD warehouse row appears at least once
    mmd_ids = {r["PatientID"] for r in results["mmd"].collect()}
    vls_ids = {r["PatientID"] for r in vls.collect()}
    assert mmd_ids == vls_ids


# ------------------------------------------------------- build cost

# py4j commands the four chains sent while building when their stages
# were Column trees (this test's measurement on the same fixture
# tables: 6,506-6,511 in three runs; parsed SQL text sends ~1,080).
_PY4J_BUILD_CALLS_COLUMN_TREES = 6_508


def test_nightly_build_cost(spark, tmp_path, monkeypatch):
    """Building the four chains over a parquet catalog runs no Spark
    job of its own — the only jobs are parquet schema inference, one
    per table the catalog resolves, however many chains read it — and
    sends few py4j commands: each stage is parsed SQL text, not a
    Column tree built node by node over py4j."""
    import gc

    from idr_data_pipelines_spark.sources import Catalog
    from idr_data_pipelines_spark.sources import catalog as catalog_mod

    from . import fixtures

    for name in ("mfl_codes", "hub_details", "mmd_staging", "hts_staging",
                 "vls_staging", "covid_staging"):
        getattr(fixtures, name)(spark).write.parquet(str(tmp_path / f"{name}.parquet"))
    resolutions = []
    read = catalog_mod.read_parquet_dir

    def counted_read(spark_, path, *a, **kw):
        resolutions.append(path)
        return read(spark_, path, *a, **kw)

    monkeypatch.setattr(catalog_mod, "read_parquet_dir", counted_read)
    cat = Catalog(spark, root=str(tmp_path))

    sc = spark.sparkContext
    client = sc._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counted_send(*a, **kw):
        calls[0] += 1
        return send(*a, **kw)

    group = "nightly-build-cost"
    sc.setJobGroup(group, "building the four nightly chains")
    gc.collect()
    gc.disable()
    client.send_command = counted_send
    try:
        mmd = build_mmd_pipeline(cat, as_of=AS_OF).build(spark)
        cat.register("art_mmd", mmd)
        for p in (build_vls_pipeline(cat, as_of=AS_OF),
                  build_covid_pipeline(cat), build_hts_pipeline(cat)):
            p.build(spark)
    finally:
        client.send_command = send
        gc.enable()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    print(f"nightly build: {calls[0]} py4j calls, {len(jobs)} jobs, "
          f"{len(resolutions)} parquet resolutions")
    assert len(resolutions) == 6  # 4 staging, mfl_codes, hub_details
    assert len(jobs) == len(resolutions)
    assert calls[0] <= _PY4J_BUILD_CALLS_COLUMN_TREES // 5, calls[0]


# py4j commands sent while building the four text registry entries
# below when the llmdata text builders were Column trees (this test's
# measurement at sf0.001, the same in three runs: 494 + 825 + 389 + 93;
# SQL text sends ~50).
_PY4J_TEXT_BUILD_CALLS_COLUMN_TREES = 1_801


def test_text_builders_build_cost(spark, sf_dir):
    """Building the text registry entries sends few py4j commands: the
    token, quality, language, BPE and PII builders return SQL text
    that each entry parses in one ``selectExpr``, instead of a Column
    tree the client builds node by node over py4j."""
    import gc

    from idr_data_pipelines_spark.queries import QUERIES

    names = ("text_quality", "text_lang_bpe", "text_redact_pii", "text_token_count")
    for name in names:  # resolve and cache the documents table first
        QUERIES[name](spark, sf_dir)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = dict.fromkeys(names, 0)
    current = [names[0]]

    def counted_send(*a, **kw):
        calls[current[0]] += 1
        return send(*a, **kw)

    built = []
    gc.collect()
    gc.disable()
    client.send_command = counted_send
    try:
        for name in names:
            current[0] = name
            built.append(QUERIES[name](spark, sf_dir))
    finally:
        client.send_command = send
        gc.enable()
    total = sum(calls.values())
    print(f"text build: {total} py4j calls {calls}")
    assert total <= _PY4J_TEXT_BUILD_CALLS_COLUMN_TREES // 10, calls
