"""The workloads: what one pass calls, and what it keeps for checks.

A pass starts from the stored input tables and ends with the complete
result. ``run_pass`` times it and returns that wall time; the reference
pass (``keep=True``) also collects the small frames the independent
checks need, after its clock has stopped.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .inputs import CENTROID_MOD, DIM, NPROBE, REPLICAS, Inputs, Sizes, dir_bytes
from .recorder import Recorder

MATCH_COLS = (
    "page_id", "osm_id", "node_type", "stage", "priority", "distance_m", "poi_code", "poi_new",
)


@dataclass
class Workload:
    name: str
    layers: tuple[str, ...]
    inputs: tuple[str, ...]  # Inputs attributes whose parquet bytes the pass reads
    out_dirs: tuple[str, ...]  # sub-directories the pass writes files under


WORKLOADS = {
    "conflate_country": Workload(
        "conflate_country",
        ("extract", "checkpoint", "match", "lineage", "tiling", "knn", "export"),
        ("pages", "pois"),
        ("checkpoint", "export"),
    ),
    "ann_ivf": Workload("ann_ivf", ("similarity",), ("corpus", "queries"), ()),
}


@dataclass
class Context:
    spark: SparkSession
    workload: Workload
    inputs: Inputs
    sizes: Sizes
    out_root: str
    rec: Recorder
    kept: dict = field(default_factory=dict)

    def out(self, name: str) -> str:
        return os.path.join(self.out_root, name)

    def items(self) -> int:
        """Input rows: pages for the POI workload, corpus vectors for ANN."""
        return self.sizes.corpus if self.workload.name == "ann_ivf" else self.inputs.pages_rows

    def input_bytes(self) -> int:
        return sum(self.inputs.bytes[k] for k in self.workload.inputs)


def _match_cols(df):
    return df.select(
        *[F.round("distance", 2).alias(c) if c == "distance_m" else c for c in MATCH_COLS]
    )


def _conflate(ctx: Context, keep: bool) -> float:
    from osm_poi_matchmaker_spark import synth
    from osm_poi_matchmaker_spark.extract.geotag import geotag_pages
    from osm_poi_matchmaker_spark.operators.knn import nearest_poi_expanding
    from osm_poi_matchmaker_spark.operators.match import match_pages
    from osm_poi_matchmaker_spark.plans.checkpoint import CheckpointedPipeline, Stage
    from osm_poi_matchmaker_spark.plans.export import write_grouped_exports
    from osm_poi_matchmaker_spark.plans.lineage import match_lineage
    from osm_poi_matchmaker_spark.tiling import tile_pyramid

    spark, rec, inp = ctx.spark, ctx.rec, ctx.inputs
    root, export_dir = ctx.out("checkpoint"), ctx.out("export")
    t0 = time.perf_counter()
    pages = spark.read.parquet(inp.pages)
    pois = spark.read.parquet(inp.pois)
    common = synth.poi_common_df(spark)

    # the plans/pipeline.py stage graph: extract and match are checkpoints,
    # lineage rows land next to the match checkpoint
    def s_extract(_spark, _outputs):
        return rec.call(
            "extract", "geotag_pages", lambda: geotag_pages(pages).persist(),
            expect_rows=inp.hu_pages,
        )

    def s_match(_spark, outputs):
        return rec.call(
            "match",
            "match_pages",
            lambda: match_pages(
                outputs["extract"], pois, common, brand_rows=synth.BRAND_ROWS
            ).persist(),
            expect_rows=inp.hu_pages,
            scan_marker=inp.pois,
        )

    made = {}

    def s_lineage(matched):
        made["lineage"] = rec.call(
            "lineage", "match_lineage", lambda: match_lineage(matched).persist()
        )
        return made["lineage"]

    stages = [Stage("extract", s_extract), Stage("match", s_match, lineage=s_lineage)]
    outputs = rec.call(
        "checkpoint", "run", lambda: CheckpointedPipeline(root, stages).run(spark), force=False
    )
    g, m = outputs["extract"], outputs["match"]
    tiles = rec.call("tiling", "tile_pyramid", lambda: tile_pyramid(g))
    knn = rec.call(
        "knn", "nearest_poi_expanding", lambda: nearest_poi_expanding(g, pois, radii=(250.0, 2000.0))
    )
    rec.call("export", "write_grouped_exports", lambda: write_grouped_exports(m, export_dir), force=False)

    def resume():
        pipe = CheckpointedPipeline(root, stages)
        resumed = pipe.run(spark)
        if pipe.executed:
            raise RuntimeError(f"resume recomputed {pipe.executed}")
        return resumed["match"]

    resumed = rec.call("checkpoint", "resume", resume, expect_rows=inp.hu_pages)
    wall = time.perf_counter() - t0
    exported = rec.call(
        "check", "export_readback", lambda: spark.read.parquet(export_dir), expect_rows=inp.hu_pages
    )
    if keep:
        # whole outputs: the checks project replica 0 or recompute aggregates
        for name, df in (
            ("extract", g), ("match", m), ("lineage", made["lineage"]), ("tiling", tiles),
            ("knn", knn), ("export", exported), ("resume", resumed),
        ):
            ctx.kept[name] = df.toPandas()
        ctx.kept["oracle_match"] = _match_cols(m.where(F.col("page_id") % REPLICAS == 0)).toPandas()
    return wall


def _ann(ctx: Context, keep: bool) -> float:
    from osm_poi_matchmaker_spark.operators.similarity import ivf_topk, kmeans_centroids

    spark, rec, inp, sz = ctx.spark, ctx.rec, ctx.inputs, ctx.sizes
    n_cents = int(sum(1 for i in range(sz.corpus) if i % CENTROID_MOD == 1))
    t0 = time.perf_counter()
    corpus = spark.read.parquet(inp.corpus)
    queries = spark.read.parquet(inp.queries)
    cents = rec.call(
        "similarity",
        "kmeans_centroids",
        lambda: kmeans_centroids(corpus, DIM, centroid_mod=CENTROID_MOD, iters=3),
        expect_rows=n_cents,
    )
    res = rec.call(
        "similarity",
        "ivf_topk",
        lambda: ivf_topk(
            queries, corpus, k=5, centroid_mod=CENTROID_MOD, nprobe=NPROBE, cents=cents
        ).persist(),
        expect_rows=5 * sz.queries,
    )
    wall = time.perf_counter() - t0
    if keep:
        ctx.kept["cents"] = cents.toPandas()
        ctx.kept["topk"] = res.toPandas()
    return wall


PASSES = {"conflate_country": _conflate, "ann_ivf": _ann}


def run_pass(ctx: Context, pass_id: int, traced: bool, keep: bool = False) -> dict:
    """One pass from stored input to complete result; returns its record."""
    spark = ctx.spark
    # persisted frames of the previous pass would be reused by this pass's
    # identical plans (a cache hit instead of the work): drop them first
    spark.catalog.clearCache()
    for d in ctx.workload.out_dirs:
        shutil.rmtree(ctx.out(d), ignore_errors=True)
    ctx.rec.begin_pass(pass_id, traced)
    rec = {"pass": pass_id, "traced": traced, "ok": True, "wall_s": None}
    try:
        rec["wall_s"] = PASSES[ctx.workload.name](ctx, keep)
    except Exception as e:  # a failed call already counted itself
        rec["ok"] = False
        rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
    written = {d: dir_bytes(ctx.out(d)) for d in ctx.workload.out_dirs}
    rec["files"] = written
    rec["file_bytes"] = sum(b for b, _ in written.values())
    return rec
