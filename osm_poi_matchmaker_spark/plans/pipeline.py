"""The 3-job production pipeline as a checkpointed plan.

Maps the reference's 10-stage ``main()`` (``create_db.py:203-314``) onto
its three true barriers (SURVEY.md §3.1): extract → match → export-prep.
Each barrier is a checkpoint (Iceberg snapshot in production, parquet +
manifest here); a killed run resumes at the first incomplete stage, and
per-partition lineage rows land next to the match output (north_rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import synth
from ..extract.geotag import geotag_pages
from ..operators.match import match_pages
from .checkpoint import CheckpointedPipeline, Stage
from .lineage import match_lineage


def extract_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage 1: geotag extraction of the pages at ``sf_dir``."""
    return geotag_pages(synth.pages(spark, sf_dir))


def match_stage(spark: SparkSession, sf_dir: str, pages_geo: DataFrame, **opts) -> DataFrame:
    """Stage 2: the match cascade of extracted pages against the POIs
    and the brand table of ``sf_dir``; ``opts`` go to
    :func:`~..operators.match.match_pages` (the planet-scale knobs)."""
    return match_pages(
        pages_geo,
        synth.osm_pois(spark, sf_dir),
        synth.poi_common_df(spark),
        brand_rows=synth.BRAND_ROWS,
        **opts,
    )


def build_poi_pipeline(root: str, sf_dir: str) -> CheckpointedPipeline:
    def s_extract(spark: SparkSession, _outputs):
        return extract_stage(spark, sf_dir)

    def s_match(spark: SparkSession, outputs):
        return match_stage(spark, sf_dir, outputs["extract"])

    def s_export_prep(spark: SparkSession, outputs):
        # new/existing split (K6, libs/export.py:86-141) as the final stage
        from pyspark.sql import functions as F

        return outputs["match"].withColumn(
            "export_group", F.when(F.col("poi_new"), "poi_new").otherwise("poi_existing")
        )

    return CheckpointedPipeline(
        root=root,
        stages=[
            Stage("extract", s_extract),
            Stage("match", s_match, lineage=match_lineage),
            Stage("export_prep", s_export_prep),
        ],
    )
