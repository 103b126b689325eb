"""The flagship pipeline stages shared by bench.py, jobs/pipeline_bench.py
and bench_stress.py: the decode-verify stage passes on an intact table,
and every plan's result is identical whatever the partitioning of its
input — the in-suite stand-in for the N-vs-4N fingerprint identity of
bench_scaling.py."""

import pytest

from ariadne_spark import flagship
from ariadne_spark.functions.fingerprint import df_fingerprint
from ariadne_spark.synth.images import images_df


@pytest.fixture(scope="module")
def images(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("flagship") / "images.parquet")
    images_df(spark, 600).write.parquet(path)
    return spark.read.parquet(path)


def test_decode_verify_finds_no_mismatch(images):
    assert flagship.decode_mismatches(images) == 0


@pytest.mark.parametrize("stage", list(flagship.PLANS))
def test_stage_result_independent_of_partitioning(images, stage):
    plan = flagship.PLANS[stage]
    one = images.drop("bytes").repartition(1)
    meta = flagship.spread_meta(images)
    try:
        cores = images.sparkSession.sparkContext.defaultParallelism
        assert meta.rdd.getNumPartitions() == cores * 3
        want = df_fingerprint(plan(one))
        assert want[0] > 0
        assert df_fingerprint(plan(meta)) == want
    finally:
        meta.unpersist()
