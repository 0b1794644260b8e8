#!/usr/bin/env python3
"""spark-submit entry point for the checkpointed POI pipeline.

Deployment shape per BASELINE.json north_rule:

    zip -r opm_spark.zip osm_poi_matchmaker_spark/
    spark-submit --py-files opm_spark.zip jobs/run_pipeline.py \
        --sf-dir /data/pages_sf --checkpoint-root /data/ckpt

On a cluster, master/executor sizing comes from spark-submit; locally this
falls back to the host's cores (``rig.host_cpus``). The pipeline resumes
from the last completed checkpoint (see plans/checkpoint.py) — re-running
after a failure only recomputes incomplete stages.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from jobs import rig  # noqa: E402


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    parser.add_argument("--checkpoint-root", default="/tmp/opm_pipeline_ckpt")
    parser.add_argument("--cpus", type=int, default=None)
    args = parser.parse_args()

    from osm_poi_matchmaker_spark.plans.pipeline import build_poi_pipeline

    cpus = args.cpus or rig.host_cpus()
    spark = rig.session("opm-pipeline", cpus, max(cpus, 8))
    pipe = build_poi_pipeline(args.checkpoint_root, args.sf_dir)
    sec, match_rows = rig.timed(lambda: pipe.run(spark)["match"].count())
    rig.emit({
        "executed_stages": pipe.executed,
        "resumed_stages": [s.name for s in pipe.stages if s.name not in pipe.executed],
        "match_rows": match_rows,
        "elapsed_sec": round(sec, 2),
    })
    spark.stop()


if __name__ == "__main__":
    main()
