"""Viral-load (VLS) extract chain.

Reference: idr_pipeline_from_server/dags/vls_transforms.py (11 SQL
stages, graph at :238-240). Stage names match reference task_ids
(including the copy-pasted ``deduplicate_COVID`` naming bug noted in
SURVEY.md §2.11 — preserved for discoverability).

Reference-exact semantics kept on purpose:

- ``single_patient_records`` joins the per-(Mfl_code, ccc_number) max
  date back on ``ccc_number`` ONLY, so ties and cross-site ccc
  collisions fan out (vls_transforms.py:106-109).
- ``viral_load_suppressed`` CASE covers only (<1000 & Valid) and
  (>=1000 & Invalid); a high load on a Valid test yields NULL
  (vls_transforms.py:181-185).

The chain consumes the MMD warehouse (``art_mmd``) for the merge —
the runner expresses that as ``depends_on=["mmd"]``, mirroring the
reference's ExternalTaskSensor on the MMD DAG.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idr_data_pipelines_spark.functions import (
    as_of_date,
    bq_cast,
    bq_date_diff,
    case_bucket,
    str_sentinel_decode,
)
from idr_data_pipelines_spark.operators import (
    dedup_distinct,
    filter_eq,
    filter_not_null,
    join_left_fact,
)
from idr_data_pipelines_spark.plans import Pipeline
from idr_data_pipelines_spark.sources import Catalog


def _single_patient_records(df: DataFrame) -> DataFrame:
    """latest_vl_result + single_patient_records
    (vls_transforms.py:84-117), reference-exact: per-(Mfl_code,
    ccc_number) MAX(CAST(date AS DATE)) aggregate, LEFT-joined back to
    the detail on ``ccc_number`` ALONE, then WHERE equality on the
    date (nulls out unmatched rows → effectively inner). Ties and
    cross-site ccc collisions fan out; the output carries the
    *aggregate* side's Mfl_code as SiteCode, exactly like the SQL.

    The generic window form (operators.dedup_latest_per_key) is the
    blessed API for new code; this stage keeps the legacy semantics
    for parity."""
    received = bq_cast("date_test_result_received", "DATE")
    rd = (
        df.groupBy("Mfl_code", "ccc_number")
        .agg(F.expr(f"max({received}) AS results_date"))
        .alias("rd")
    )
    joined = rd.join(
        df.alias("detail"), F.expr("rd.ccc_number = detail.ccc_number"), "left"
    ).where(
        f"rd.results_date = {bq_cast('detail.date_test_result_received', 'DATE')}"
    )
    return joined.selectExpr(
        "rd.Mfl_code AS SiteCode",
        "rd.ccc_number AS ccc_number",
        "rd.results_date AS vl_results_date",
        "detail.Gender AS Gender",
        "detail.DOB AS DOB",
        "detail.ageInYears AS vl_ageInYears",
        "detail.date_test_requested AS vl_date_test_requested",
        "detail.lab_test AS vl_lab_test",
        "detail.urgency AS vl_urgency",
        "detail.order_reason AS vl_order_reason",
        "detail.test_result AS vl_test_result",
    )


def _merge_art_vls(catalog: Catalog):
    """merge_art_vls (vls_transforms.py:132-155): art_mmd LEFT JOIN vls
    ON PatientID = ccc_number; ART keeps all rows."""

    ART_COLS = [
        "SiteCode", "county_name", "constituency_name", "sub_county_name",
        "ward_name", "lat", "long", "DOB", "Gender", "PatientID", "PatientPK",
        "AgeEnrollment", "AgeARTStart", "AgeLastVisit", "FacilityName",
        "RegistrationDate", "PatientSource", "PreviousARTStartDate",
        "StartARTAtThisFAcility", "StartARTDate", "PreviousARTUse",
        "PreviousARTPurpose", "PreviousARTRegimen", "DateLastUsed",
        "StartRegimen", "StartRegimenLine", "LastARTDate", "LastRegimen",
        "LastRegimenLine", "ExpectedReturn", "LastVisit", "Duration",
        "ExitDate", "ExitReason", "Date_Created", "Date_Last_Modified",
        "years", "months", "days", "LastRegimenLineClean",
        "StartRegimenLineClean", "DateExpected", "CurrentDays",
        "CurrentOnTreatment", "LastARTYear", "LastARTMonth", "LastARTDay",
        "StartARTYear", "StartARTMonth", "StartARTDay",
    ]
    VLS_COLS = [
        "vl_results_date", "vl_ageInYears", "vl_date_test_requested",
        "vl_lab_test", "vl_urgency", "vl_order_reason", "vl_test_result",
    ]

    def stage(vls: DataFrame) -> DataFrame:
        merged = join_left_fact(
            catalog.table("art_mmd").alias("art"),
            vls.alias("vls"),
            F.expr("art.PatientID = vls.ccc_number"),
        )
        return merged.selectExpr(
            *[f"art.{c}" for c in ART_COLS], *[f"vls.{c}" for c in VLS_COLS]
        )

    return stage


def _valid_results(as_of: str | _dt.date | None):
    """valid_results (vls_transforms.py:160-176): days since test from
    the injected as-of date, then the validity CASE."""
    days = bq_date_diff(as_of_date(as_of), "vl_results_date", "DAY")
    valid = case_bucket(
        [
            ("vl_days_since_test IS NULL", "Unknown"),
            ("vl_days_since_test < 366 AND CurrentOnTreatment = 'Yes'", "Valid"),
        ],
        default="Invalid",
    )

    def stage(df: DataFrame) -> DataFrame:
        return df.selectExpr("*", f"{days} AS vl_days_since_test").selectExpr(
            "*", f"{valid} AS vl_valid"
        )

    return stage


def _vl_suppression(df: DataFrame) -> DataFrame:
    """viral_load_suppression (vls_transforms.py:180-191): LDL→0 decode
    to DECIMAL, then the (intentionally gap-ridden) suppression CASE —
    no ELSE, uncovered combos stay NULL."""
    # strict=True: the reference's BQ CAST fails the job loudly on a
    # malformed (non-'LDL', non-null) result string
    # (dags/vls_transforms.py:189) — silently nulling a viral-load
    # reading would flip patients to 'Unknown' suppression.
    load = str_sentinel_decode(
        "vl_test_result", {"LDL": 0}, cast_to="decimal(38,9)", strict=True
    )
    suppressed = case_bucket(
        [
            ("load_numbers < 1000 AND vl_valid = 'Valid'", "Suppressed"),
            ("load_numbers >= 1000 AND vl_valid = 'Invalid'", "Unsuppressed"),
            ("load_numbers IS NULL", "Unknown"),
        ]
    )
    return df.selectExpr("*", f"{load} AS load_numbers").selectExpr(
        "*", f"{suppressed} AS viral_load_suppressed"
    )


def _eligible(df: DataFrame) -> DataFrame:
    """eligible_for_VL (vls_transforms.py:197-216)."""
    eligible = case_bucket(
        [
            ("vl_valid = 'Unknown'", "Unknown"),
            ("vl_valid = 'Invalid' AND CurrentOnTreatment = 'Yes'", "Eligible"),
            ("vl_valid = 'Valid' AND CurrentOnTreatment = 'Yes'", "Test is current"),
        ],
        default="Ineligible",
    )
    return df.selectExpr("*", f"{eligible} AS vl_eligible")


def build_vls_pipeline(catalog: Catalog, as_of: str | None = None) -> Pipeline:
    p = Pipeline(
        "vls",
        source=lambda spark: catalog.table("vls_staging"),
        depends_on=["mmd"],  # consumes warehouse.art_mmd
    )
    p.stage("deduplicate_COVID", dedup_distinct)  # sic — reference task name
    p.stage(
        "denullification_VLS",
        lambda df: filter_not_null(df, ["ccc_number", "Mfl_code"]),
    )
    p.stage("viral_load_only", lambda df: filter_eq(df, "lab_test", "VIRAL LOAD"))
    p.stage("single_patient_records", _single_patient_records)
    p.stage("VLS_Warehouse")  # identity → warehouse.vls
    p.stage("merge_art_vls", _merge_art_vls(catalog))
    p.stage("valid_results", _valid_results(as_of))
    p.stage("viral_load_suppression", _vl_suppression)
    p.stage("eligible_for_VL", _eligible)
    p.stage("art_vls_warehouse")  # identity → warehouse.art_mmd_vls
    p.stage("finish_pipeline")
    return p
