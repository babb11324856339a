"""HIV-testing (HTS) extract chain.

Reference: idr_pipeline_from_server/dags/hts_transforms.py (10 SQL
stages, graph at :239-240). Stage names match reference task_ids.

The entrypoint canonicalization is the reference's signature two-step
known/unknown classifier (SURVEY.md §2.11): entrypointclean recodes
known raw values to clean names; entrypointclean2 collapses every
*known* value to the sentinel "0"; entrypointclean3 maps "0" back to
the clean name and everything else (unknown non-null) to "Other".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from idr_data_pipelines_spark.functions import (
    bq_cast,
    bq_date_diff,
    case_bucket,
    case_map,
    extract_part,
)
from idr_data_pipelines_spark.operators import (
    agg_pivot_sum_case,
    dedup_distinct,
    filter_derived,
    join_inner_dim_cast,
)
from idr_data_pipelines_spark.plans import Pipeline
from idr_data_pipelines_spark.sources import Catalog

# Raw → clean entrypoint recode (hts_transforms.py:104-117). Grouped
# raw variants share one clean name.
ENTRYPOINT_RECODE: dict[str, str] = {
    "CCC (comprehensive care center)": "CCC",
    "CCC": "CCC",
    "OPD (outpatient department)": "OPD",
    "Out Patient Department(OPD)": "OPD",
    "VCT center": "VCT",
    "VCT": "VCT",
    "Home based HIV testing program": "Home Based Testing",
    "In Patient Department(IPD)": "IPD",
    "INPATIENT CARE OR HOSPITALIZATION": "IPD",
    "PMTCT ANC": "PMTCT",
    "PMTCT MAT": "PMTCT",
    "PMTCT Program": "PMTCT",
    "PMTCT PNC": "PMTCT",
    "OTHER NON-CODED": "Other",
    "mobile VCT program": "mobile VCT program",
    "Tuberculosis treatment program": "Tuberculosis treatment program",
    "OB/GYN department": "OB/GYN department",
}


def _join_mfl(catalog: Catalog):
    """HTS_joining_MFL_Codes (hts_transforms.py:57-78): INNER JOIN on
    SiteCode = CAST(staging.SiteCode AS INT), wide rename projection."""

    def stage(df: DataFrame) -> DataFrame:
        joined = join_inner_dim_cast(
            df.alias("hts"), catalog.table("mfl_codes").alias("mfl"),
            fact_key="SiteCode", dim_key="SiteCode", cast_fact_key_to="bigint",
        )
        return joined.selectExpr(
            "mfl.SiteCode",
            "county_name",
            "sub_county_name",
            "lat",
            "long",
            "officialname AS facility_name",
            "CccNumber AS ccc_number",
            "PatientId",
            "DOB",
            "Gender",
            "ageInYears",
            "EntryPoint AS entrypoint",
            "Consent AS patient_consented",
            "ClientTestedAs AS client_tested_as",
            "TestStrategy AS approach",
            "TestResult1 AS test_1_result",
            "TestResult2 AS test_2_result",
            "FinalTestResult AS final_test_result",
            "TestDate AS date_tested",
            "PatientGivenResult AS patient_given_result",
            "FacilityLinked AS facility_linked_to",
            "art_start_date",
            "EverTestedForHiv AS ever_tested_for_hiv",
            "MonthsSinceLastTest AS months_since_last_test",
            "TbScreening AS tb_screening",
            "ClientSelfTested AS client_self_tested",
            "CoupleDiscordant AS couple_discordant",
            "TestType AS test_type",
        )

    return stage


def _dates_enrichment(df: DataFrame) -> DataFrame:
    """HTS_enriching_joined_table (hts_transforms.py:83-91): LinkageDays
    = DATE_DIFF(art_start_date, date_tested, DAY) + YEAR/QUARTER/MONTH
    extracts of both dates."""
    # strict BQ CAST (r10 review: a tolerant .cast("date") silently
    # nulls a malformed date string, misclassifying the patient as
    # 'Not Linked' where the reference's BigQuery CAST fails the job)
    tested = bq_cast("date_tested", "DATE")
    art = bq_cast("art_start_date", "DATE")
    return df.selectExpr(
        "*",
        f"{bq_date_diff(art, tested, 'DAY')} AS LinkageDays",
        *[
            f"{extract_part(d, part)} AS {name}_{part.title()}"
            for name, d in (("date_tested", tested), ("art_start_date", art))
            for part in ("YEAR", "QUARTER", "MONTH")
        ],
    )


def _entrypoint_1(df: DataFrame) -> DataFrame:
    recode = case_map("entrypoint", ENTRYPOINT_RECODE, default_to_input=True)
    return df.selectExpr("*", f"{recode} AS entrypointclean")


def _entrypoint_2(df: DataFrame) -> DataFrame:
    """Collapse all known raw entrypoints to the sentinel "0"."""
    sentinel = {raw: "0" for raw in ENTRYPOINT_RECODE}
    recode = case_map("entrypoint", sentinel, default_to_input=True)
    return df.selectExpr("*", f"{recode} AS entrypointclean2")


def _entrypoint_3(df: DataFrame) -> DataFrame:
    """known ("0") → clean name; null → null; unknown → "Other"."""
    return df.selectExpr(
        "*",
        "CASE WHEN entrypointclean2 = '0' THEN entrypointclean"
        " WHEN entrypointclean2 IS NULL THEN NULL"
        " ELSE 'Other' END AS entrypointclean3",
    )


def hts_cascade_expr() -> str:
    """hts_cascade CASE (hts_transforms.py:189-202) as SQL text:
    linkage-delay buckets among positives; no ELSE → non-positives
    stay NULL."""
    pos = "final_test_result = 'Positive'"
    return case_bucket(
        [
            (f"LinkageDays = 0 AND {pos}", "Same Day"),
            (f"LinkageDays > 0 AND LinkageDays < 15 AND {pos}", ">1 day <2 weeks"),
            (f"LinkageDays > 14 AND {pos}", ">2 weeks"),
            (f"LinkageDays < 0 AND {pos}", "Clerical Error"),
            (f"LinkageDays IS NULL AND {pos}", "Not Linked"),
        ]
    )


def _summary_1(df: DataFrame) -> DataFrame:
    """HTS_summary (hts_transforms.py:186-212): derive cascade, keep
    non-null rows."""
    return filter_derived(df, "hts_cascade", F.expr(hts_cascade_expr()))


def hts_summary(df: DataFrame) -> DataFrame:
    """HTS_warehouse_summary (hts_transforms.py:214-232): global
    conditional-count pivot over the cascade buckets."""
    return agg_pivot_sum_case(
        df,
        {
            "totalPositive": F.expr("hts_cascade IS NOT NULL"),
            "sameDay": F.expr("hts_cascade = 'Same Day'"),
            "oneDayToTwoWeeks": F.expr("hts_cascade = '>1 day <2 weeks'"),
            "moreThanTwoWeeks": F.expr("hts_cascade = '>2 weeks'"),
            "clericalError": F.expr("hts_cascade = 'Clerical Error'"),
            "notLinked": F.expr("hts_cascade = 'Not Linked'"),
        },
    )


def build_hts_pipeline(catalog: Catalog) -> Pipeline:
    p = Pipeline(
        "hts",
        source=lambda spark: catalog.table("hts_staging"),
        depends_on=["idr_load"],
    )
    p.stage("deduplicate_HTS", dedup_distinct)
    p.stage("HTS_joining_MFL_Codes", _join_mfl(catalog))
    p.stage("HTS_enriching_joined_table", _dates_enrichment)
    p.stage("HTS_enriching_entrypoint", _entrypoint_1)
    p.stage("HTS_enriching_entrypoint_2", _entrypoint_2)
    p.stage("HTS_enriching_entrypoint_3", _entrypoint_3)
    p.stage("HTS_data_warehouse")  # identity → warehouse.hts
    p.stage("HTS_summary", _summary_1)
    p.stage("HTS_warehouse_summary", hts_summary)
    p.stage("finish_pipeline")
    return p
