"""The ingest generator's expected outcome against the engine's pipeline,
with and without launch rows landed twice in one batch."""

from __future__ import annotations

import os
import shutil

import pytest

import gen

DEFECT = (
    "enrich_with_payload_mass sums payload masses per launch_id over the "
    "whole batch, so a launch landed twice in one batch keeps twice its "
    "mass; once this passes, ingest_cycles should land such duplicates "
    "by default"
)


@pytest.mark.parametrize(
    "dup_share",
    [
        0.0,
        pytest.param(
            0.05,
            marks=pytest.mark.xfail(raises=AssertionError, strict=True, reason=DEFECT),
        ),
    ],
)
def test_one_load_matches_the_generator(spark, tmp_path, dup_share):
    from pyspark.sql import functions as F

    from spacex_data_engineering_pipeline_spark.pipeline.ingest import (
        IncrementalIngestionPipeline,
    )
    from spacex_data_engineering_pipeline_spark.sources.launches import (
        LocalLaunchSource,
    )

    stage, landing = str(tmp_path / "stage"), str(tmp_path / "landing")
    plan = gen.ingest_inputs(7, stage, 2_000, 1, dup_share)
    os.makedirs(landing)
    for name in plan["files"]:
        shutil.copy(os.path.join(stage, name), landing)
    IncrementalIngestionPipeline(
        spark,
        LocalLaunchSource.from_parquet(spark, landing),
        spark.read.parquet(os.path.join(stage, "payloads.parquet")),
        launches_path=str(tmp_path / "launches"),
        state_path=str(tmp_path / "state"),
        snapshots_path=str(tmp_path / "snapshots"),
    ).run()
    t = spark.read.parquet(str(tmp_path / "launches"))
    ids = sorted(r[0] for r in t.select("launch_id").collect())
    mass = t.agg(F.sum("total_payload_mass_kg")).first()[0]
    assert ids == plan["final_ids"]
    assert mass == pytest.approx(plan["final_mass"], rel=1e-9)
