"""ART/MMD (multi-month dispensing) extract chain.

Reference: idr_pipeline_from_server/dags/mmd_transforms.py (11 SQL
stages, graph at :277-278). Stage names match reference task_ids.

This is the chain with the all-string staging input (the pandas
loader stringifies everything — dags/dependencies/parquet_solution.py:75),
so the first stage is the typed re-cast, then the (SiteCode, CCC)
group-max dedup, date arithmetic, regimen recodes, treatment-currency
flags, two dimension joins and a final distinct.

``CURRENT_DATE`` is injected (``as_of``) for deterministic runs.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame

from idr_data_pipelines_spark.functions import (
    as_of_date,
    bq_date_diff,
    case_flag,
    case_map,
    extract_part,
    format_date,
    null_normalize,
    safe_cast,
    sql_name,
)
from idr_data_pipelines_spark.operators import (
    dedup_distinct,
    dedup_groupby_max,
    join_inner_dim_cast,
)
from idr_data_pipelines_spark.plans import Pipeline
from idr_data_pipelines_spark.sources import Catalog

# assign_appropriate_data_types (mmd_transforms.py:55-63). Columns not
# listed stay STRING (DateLastUsed is deliberately left uncast).
MMD_TYPES: dict[str, str] = {
    "DOB": "DATE",
    "weight": "FLOAT64",
    "height": "FLOAT64",
    "PatientPK": "INT",
    "AgeEnrollment": "FLOAT64",
    "AgeARTStart": "FLOAT64",
    "AgeLastVisit": "FLOAT64",
    "SiteCode": "INT",
    "RegistrationDate": "DATE",
    "PreviousARTStartDate": "DATE",
    "StartARTAtThisFAcility": "DATE",
    "StartARTDate": "DATE",
    "LastARTDate": "DATE",
    "ExpectedReturn": "DATE",
    "LastVisit": "DATE",
    "Duration": "FLOAT64",
    "ExitDate": "DATE",
    "Date_Created": "TIMESTAMP",
    "Date_Last_Modified": "TIMESTAMP",
}

REGIMEN_RECODE = {
    "First line": "1st line",
    "Second line": "2nd line",
    "Third line": "3rd line",
}


def _assign_types(df: DataFrame) -> DataFrame:
    """Typed re-cast of the all-string staging table, column order
    preserved (mmd_transforms.py:52-72)."""
    typed = {
        c: f"{safe_cast(sql_name(c), t)} AS {sql_name(c)}" for c, t in MMD_TYPES.items()
    }
    return df.selectExpr(*[typed.get(c, sql_name(c)) for c in df.columns])


def _dedup_art(df: DataFrame) -> DataFrame:
    """deduplicate_ART (mmd_transforms.py:74-96): GROUP BY (SiteCode,
    CCC), MAX over the other 31 columns, outer DISTINCT (a no-op after
    grouping — kept out; semantics identical)."""
    return dedup_groupby_max(df, ["SiteCode", "CCC"])


def _return_heirarchy(df: DataFrame) -> DataFrame:
    """ART_return_dates_heirarchy (mmd_transforms.py:101-105):
    DATE_DIFF(ExpectedReturn, LastARTDate, year/month/day) with
    BigQuery boundary-counting semantics."""
    return df.selectExpr(
        "*",
        f"{bq_date_diff('ExpectedReturn', 'LastARTDate', 'YEAR')} AS years",
        f"{bq_date_diff('ExpectedReturn', 'LastARTDate', 'MONTH')} AS months",
        f"{bq_date_diff('ExpectedReturn', 'LastARTDate', 'DAY')} AS days",
    )


def _clean_regimen(df: DataFrame) -> DataFrame:
    """clean_regimen_lines (mmd_transforms.py:118-129)."""
    def clean(line: str) -> str:
        return case_map(line, REGIMEN_RECODE, default="Uncategorized")

    return df.selectExpr(
        "*",
        f"{clean('LastRegimenLine')} AS LastRegimenLineClean",
        f"{clean('StartRegimenLine')} AS StartRegimenLineClean",
    )


def _date_enrichment(df: DataFrame) -> DataFrame:
    """date_enrichment (mmd_transforms.py:143-144): DateExpected alias."""
    return df.selectExpr("*", "ExpectedReturn AS DateExpected")


def _current_days(as_of: str | _dt.date | None):
    """current_on_treatment_enrichment (mmd_transforms.py:156-159):
    CurrentDays = DATE_DIFF(CURRENT_DATE("UTC"), DateExpected, DAY) —
    as-of injected."""

    def stage(df: DataFrame) -> DataFrame:
        return df.selectExpr(
            "*",
            f"{bq_date_diff(as_of_date(as_of), 'DateExpected', 'DAY')} AS CurrentDays",
        )

    return stage


def _tx_curr2(df: DataFrame) -> DataFrame:
    """further_current_on_treatment_enrichment (mmd_transforms.py:
    169-180): LossOfLife 0/1 then CurrentOnTreatment — preserving the
    reference's mixed-case "Yes"/"NO" output."""
    lol = case_flag("ExitReason = 'Died'", 1, 0)
    cot = case_flag("CurrentDays < 31 AND LossOfLife = 0", "Yes", "NO")
    return df.selectExpr("*", f"{lol} AS LossOfLife").selectExpr(
        "*", f"{cot} AS CurrentOnTreatment"
    )


# ART_joining_MFL_Codes projection after SiteCode and the MFL columns
# (mmd_transforms.py:190-212); LossOfLife is dropped, as there.
_MFL_PASSTHROUGH = [
    "PatientPK", "weight", "height", "AgeEnrollment",
    "AgeARTStart", "AgeLastVisit", "FacilityName", "RegistrationDate",
    "PatientSource", "PreviousARTStartDate", "StartARTAtThisFAcility",
    "StartARTDate", "PreviousARTUse", "PreviousARTPurpose",
    "PreviousARTRegimen", "DateLastUsed", "StartRegimen",
    "StartRegimenLine", "LastARTDate", "LastRegimen", "LastRegimenLine",
    "ExpectedReturn", "LastVisit", "Duration", "ExitDate", "ExitReason",
    "Date_Created", "Date_Last_Modified", "years", "months", "days",
    "LastRegimenLineClean", "StartRegimenLineClean", "DateExpected",
    "CurrentDays", "CurrentOnTreatment",
]


def _join_mfl(catalog: Catalog):
    """ART_joining_MFL_Codes (mmd_transforms.py:190-212): INNER JOIN on
    SiteCode = CAST(SiteCode AS INT); CCC renamed PatientID. The
    projection drops LossOfLife (faithful to the reference column
    list)."""

    def stage(df: DataFrame) -> DataFrame:
        joined = join_inner_dim_cast(
            df.alias("art"), catalog.table("mfl_codes").alias("mfl"),
            fact_key="SiteCode", dim_key="SiteCode", cast_fact_key_to="bigint",
        )
        return joined.selectExpr(
            "mfl.SiteCode", "county_name", "constituency_name",
            "sub_county_name", "ward_name", "lat", "long", "DOB", "Gender",
            "CCC AS PatientID", *_MFL_PASSTHROUGH,
        )

    return stage


def _dates_art(df: DataFrame) -> DataFrame:
    """ART_enriching_joined_table (mmd_transforms.py:216-226):
    FORMAT_DATETIME year/month-name + day extract for Last/Start ART
    dates."""
    start = "CAST(StartARTDate AS DATE)"
    return df.selectExpr(
        "*",
        f"{format_date('LastARTDate', '%Y')} AS LastARTYear",
        f"{format_date('LastARTDate', '%B')} AS LastARTMonth",
        f"{extract_part('LastARTDate', 'DAY')} AS LastARTDay",
        f"{format_date(start, '%Y')} AS StartARTYear",
        f"{format_date(start, '%B')} AS StartARTMonth",
        f"{extract_part(start, 'DAY')} AS StartARTDay",
    )


def _join_hub(catalog: Catalog):
    """hub_details (mmd_transforms.py:234-257): INNER JOIN hub dimension
    on SiteCode = MFL_Code, appending Hub."""

    def stage(df: DataFrame) -> DataFrame:
        hub = catalog.table("hub_details")
        joined = join_inner_dim_cast(
            df, hub, fact_key="SiteCode", dim_key="MFL_Code"
        )
        return joined.drop("MFL_Code")

    return stage


def build_mmd_pipeline(catalog: Catalog, as_of: str | None = None) -> Pipeline:
    # "None"→NULL happens in the reference's *loader* (the pandas path
    # stringifies real nulls to "None" then replaces them,
    # deps/parquet_solution.py:81-82), i.e. before staging lands — so
    # it belongs on the source read, not as an MMD DAG stage. Without
    # it every untyped string column would carry the literal "None"
    # into the warehouse where the reference has NULL.
    p = Pipeline(
        "mmd",
        source=lambda spark: null_normalize(
            catalog.table("mmd_staging"), sentinels=("None",)
        ),
        depends_on=["idr_load"],
    )
    p.stage("assign_appropriate_data_types", _assign_types)
    p.stage("deduplicate_ART", _dedup_art)
    p.stage("ART_return_dates_heirarchy", _return_heirarchy)
    p.stage("clean_regimen_lines", _clean_regimen)
    p.stage("date_enrichment", _date_enrichment)
    p.stage("current_on_treatment_enrichment", _current_days(as_of))
    p.stage("further_current_on_treatment_enrichment", _tx_curr2)
    p.stage("ART_joining_MFL_Codes", _join_mfl(catalog))
    p.stage("ART_enriching_joined_table", _dates_art)
    p.stage("hub_details", _join_hub(catalog))
    p.stage("ART_MMD_data_warehouse", dedup_distinct)
    p.stage("finish_pipeline")
    # Publish the warehouse under the name downstream pipelines consume
    # (VLS's merge reads catalog.table("art_mmd")); depends_on only
    # orders execution — this sink is the data edge.
    p.sink = lambda df: catalog.register("art_mmd", df)
    return p
