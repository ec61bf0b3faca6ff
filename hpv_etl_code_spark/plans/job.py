"""End-to-end HPV job orchestration — the reference's ``main.py``
equivalent (SURVEY §3.4): env-driven config → glob discovery → pipeline
→ truncate-reload sink → row-count report.

The reference wires this as a top-to-bottom script with ~15 eager
materializations and a Snowflake sink
(``/root/reference/src/main.py:122-141``); here it is config + one lazy
plan + one write action.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.sheets import read_sheets_csv, read_sheets_excel
from ..sources.sinks import overwrite_parquet
from .hpv_pipeline import (
    PIVOT_KEYS,
    academic_year_meta,
    clean_measures,
    derive_dimensions,
    finalize,
    pivot_measures,
    rollup_cube,
)


@dataclass(frozen=True)
class JobConfig:
    """Env-driven job identity (reference: ``sample.env`` +
    ``src/main.py:123-139`` — connection/destination via dotenv)."""

    data_glob: str
    output_path: str
    extract_date: dt.date
    #: partition the sink by academic year and overwrite only the years
    #: present in the batch — the incremental alternative to the
    #: reference's truncate-everything (README.md:57)
    incremental_by_year: bool = False

    @classmethod
    def from_env(cls, env: dict[str, str] | None = None) -> "JobConfig":
        e = env if env is not None else dict(os.environ)
        date_s = e.get("HPV_EXTRACT_DATE")
        return cls(
            data_glob=e["HPV_DATA_GLOB"],
            output_path=e["HPV_OUTPUT_PATH"],
            # reference stamps datetime.today() once at import (main.py:12);
            # an env override keeps runs reproducible
            extract_date=(
                dt.date.fromisoformat(date_s) if date_s else dt.date.today()
            ),
            incremental_by_year=e.get("HPV_INCREMENTAL", "") == "1",
        )


def melted_to_final(melted: DataFrame, extract_date: dt.date) -> DataFrame:
    """Melted source rows (with per-row A1 text) → final 8-column frame,
    same plan shape as run_pipeline: narrow derive → one pivot → one
    grouping-sets rollup."""
    year_end, year_text = academic_year_meta(F.col("__a1_text"))
    derived = (
        derive_dimensions(melted)
        .withColumn("Academic_Year_End_Date", year_end)
        .withColumn("Academic_Year_Text", year_text)
        .withColumn("Date_Extract", F.lit(extract_date).cast("date"))
        .drop("__a1_text")
    )
    return finalize(rollup_cube(clean_measures(pivot_measures(derived))))


def run_hpv_job(spark: SparkSession, config: JobConfig) -> int:
    """Discover → transform → truncate-load; returns the output's row
    count after the load (the reference prints this count,
    database_util.py:54). An incremental run replaces only the years in
    the batch, and the count covers every year in the output."""
    # format from the glob — .xlsx files go through the stdlib Excel
    # parser (the reference's actual input format), anything else CSV
    reader = (
        read_sheets_excel
        if config.data_glob.lower().endswith((".xlsx", ".xlsx}"))
        else read_sheets_csv
    )
    melted = reader(spark, config.data_glob)
    final = melted_to_final(melted, config.extract_date)
    if config.incremental_by_year:
        return overwrite_parquet(
            final,
            config.output_path,
            partition_by=("ACADEMIC_YEAR_END_DATE",),
            dynamic=True,
        )
    return overwrite_parquet(final, config.output_path)
