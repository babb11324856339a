"""COVID vaccination extract chain.

Reference: idr_pipeline_from_server/dags/covid_transforms.py (5 SQL
stages, task graph at :138). Stage names match the reference task_ids.
Unlike the reference — which materializes every stage to a BigQuery
table — the whole chain is one lazy Catalyst plan; the dedup, the
broadcast MFL join and the CASE projections fuse into two stages
around a single shuffle (the distinct).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from idr_data_pipelines_spark.functions import null_default
from idr_data_pipelines_spark.operators import dedup_distinct, join_inner_dim_cast
from idr_data_pipelines_spark.plans import Pipeline
from idr_data_pipelines_spark.sources import Catalog


def _org_enrichment(catalog: Catalog):
    """org_enrichment (covid_transforms.py:56-74): INNER JOIN MFL_Codes
    ON SiteCode = CAST(MFL_code AS INT); projection renames
    Facilty_Name (sic) → Facility_Name."""

    def stage(df: DataFrame) -> DataFrame:
        mfl = catalog.table("mfl_codes")
        joined = join_inner_dim_cast(
            df, mfl, fact_key="MFL_code", dim_key="SiteCode",
            cast_fact_key_to="bigint",
        )
        return joined.selectExpr(
            "SiteCode",
            "officialname",
            "county_name",
            "constituency_name",
            "sub_county_name",
            "ward_name",
            "lat",
            "long",
            "Facilty_Name AS Facility_Name",
            "ccc_number",
            "phone_number",
            "id_number",
            "DOB",
            "ageInYears",
            "Gender",
            "visit_date",
            "Ever_Vaccinated",
            "First_Vaccine",
            "First_Vaccination_Verified",
            "first_dose_date",
            "Second_Vaccine",
            "Second_Vaccination_Verified",
            "second_dose_date",
            "Final_Vaccination_Status",
            "Ever_recieved_Booster",
            "Booster_Vaccine",
        )

    return stage


def _status_cleaning(df: DataFrame) -> DataFrame:
    """vaccine_status_cleaning (covid_transforms.py:79-83): booster
    reclassification."""
    return df.selectExpr(
        "*",
        "CASE WHEN Final_Vaccination_Status = 'Fully Vaccinated'"
        " AND Ever_recieved_Booster = 'Yes' THEN 'Booster Shot'"
        " ELSE Final_Vaccination_Status END AS Vaccination_Final_Status",
    )


def _status_cleaning_2(df: DataFrame) -> DataFrame:
    """vaccine_status_cleaning_2 (covid_transforms.py:93-118): three
    nested null→"Unknown" defaults, applied innermost-first (First,
    Second, Booster) so the derived column order matches."""
    return df.selectExpr(
        "*",
        *[
            f"{null_default(f'{dose}_Vaccine', 'Unknown')} AS {dose}_Vaccine_Type"
            for dose in ("First", "Second", "Booster")
        ],
    )


def build_covid_pipeline(catalog: Catalog) -> Pipeline:
    p = Pipeline(
        "covid",
        source=lambda spark: catalog.table("covid_staging"),
        depends_on=["idr_load"],
    )
    p.stage("deduplicate_COVID", dedup_distinct)
    p.stage("org_enrichment", _org_enrichment(catalog))
    p.stage("vaccine_status_cleaning", _status_cleaning)
    p.stage("vaccine_status_cleaning_2", _status_cleaning_2)
    p.stage("covid_warehouse")  # identity SELECT * → warehouse.covid
    p.stage("finish_pipeline")
    return p
