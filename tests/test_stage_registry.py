"""Pipeline-spec lane contracts that every STAGES entry shares, and the
exact-class-name lookup of the SDC config port."""

from __future__ import annotations

import pytest

from datacollector_spark.plans.spec import PipelineSpec, ValidationError

from tests.respfake import FakeRedis


@pytest.fixture()
def fake():
    f = FakeRedis()
    f.start()
    yield f
    f.stop()


def _src(spark, tmp_path) -> str:
    path = str(tmp_path / "src")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, k string").write.parquet(path)
    return path


def test_redis_lookup_without_out_rewrites_its_input_lane(spark, tmp_path, fake):
    """A lookup with no 'out' rewrites the lane it consumes, like every
    single-lane processor: the origin's lane stays untouched and the
    consumer of the input lane sees the looked-up column."""
    fake.execute(["SET", "cust-a", "gold"])
    spec = PipelineSpec(
        {
            "stages": [
                {"name": "src", "type": "parquet_origin",
                 "path": _src(spark, tmp_path), "out": "main"},
                {"name": "ren", "type": "field_renamer", "in": "main",
                 "renames": {"k": "cust"}, "out": "renamed"},
                {"name": "lk", "type": "redis_lookup", "in": "renamed",
                 "uri": f"redis://127.0.0.1:{fake.port}",
                 "lookups": [{"key_expr": "concat('cust-', cust)",
                              "into": "segment"}]},
                {"name": "sink", "type": "memory_target", "in": "renamed"},
            ]
        }
    )
    lanes = spec.build(spark)
    assert lanes["main"].columns == ["id", "k"]
    got = {r["id"]: r["segment"] for r in lanes["sink"].collect()}
    assert got == {1: "gold", 2: None}


@pytest.mark.parametrize(
    "stage",
    [
        {"name": "m", "type": "field_masker", "columns": ["k"]},
        {"name": "t", "type": "memory_target"},
    ],
)
def test_stage_without_in_is_a_validation_error(stage):
    with pytest.raises(ValidationError, match="VALIDATION_0003.*'in'"):
        PipelineSpec(
            {
                "stages": [
                    {"name": "src", "type": "parquet_origin", "path": "/x"},
                    stage,
                ]
            }
        )


def test_processor_writing_another_stages_lane_is_rejected():
    """One producer per lane, for processors too; rewriting the lane a
    stage consumes is the one exception."""
    stages = [
        {"name": "a", "type": "parquet_origin", "path": "/a", "out": "main"},
        {"name": "b", "type": "parquet_origin", "path": "/b", "out": "other"},
        {"name": "m", "type": "field_masker", "in": "other",
         "columns": ["k"], "out": "main"},
    ]
    with pytest.raises(ValidationError, match="VALIDATION_0004.*'main'"):
        PipelineSpec({"stages": stages})
    stages[2]["out"] = "other"
    PipelineSpec({"stages": stages})


def _one_stage_config(klass: str) -> dict:
    return {
        "pipelineConfig": {
            "title": "lookup",
            "stages": [
                {"instanceName": "O", "stageName": "x_DSource",
                 "configuration": [], "inputLanes": [], "outputLanes": ["l0"]},
                {"instanceName": "H", "stageName": klass,
                 "configuration": [
                     {"name": "fieldHasherConfigs",
                      "value": [{"sourceFieldsToHash": ["/k"]}]}
                 ],
                 "inputLanes": ["l0"], "outputLanes": ["l1"]},
            ],
        }
    }


def test_sdc_port_matches_the_exact_class_name():
    ov = {"O": {"path": "/x"}}
    spec = PipelineSpec.from_sdc_config(
        _one_stage_config("x_fieldhasher_FieldHasherDProcessor"), origin_overrides=ov
    )
    assert spec.spec["stages"][1]["type"] == "field_hasher"
    with pytest.raises(ValidationError, match="VALIDATION_0006.*MyFieldHasher"):
        PipelineSpec.from_sdc_config(
            _one_stage_config("x_MyFieldHasherDProcessor"), origin_overrides=ov
        )


def test_geolocation_to_error_next_to_preconditions_keeps_both_lanes(spark, tmp_path):
    """A precondition stage owns '<name>#errors'; the geolocation lookup's
    TO_ERROR lane then gets its own name, so the ported spec validates and
    neither error lane hides the other."""
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, 50), (2, 9_999), (3, 3_000)], "id int, ip long"
    ).write.parquet(src)
    ranges = str(tmp_path / "ranges")
    spark.createDataFrame(
        [(0, 99, "US"), (100, 199, "DE")],
        "range_lo long, range_hi long, country_name string",
    ).write.parquet(ranges)
    conf = {
        "fieldTypeConverterConfigs": [
            {"inputFieldName": "/ip", "outputFieldName": "/country",
             "targetType": "COUNTRY_NAME"}
        ],
        "missingAddressAction": "TO_ERROR",
        "stageRecordPreconditions": ["${record:value('/ip') < 5000}"],
    }
    config = {
        "pipelineConfig": {
            "title": "geo",
            "stages": [
                {"instanceName": "O", "stageName": "x_DSource",
                 "configuration": [], "inputLanes": [], "outputLanes": ["l0"]},
                {"instanceName": "Geo",
                 "stageName": "x_geolocation_GeolocationDProcessor",
                 "configuration": [{"name": k, "value": v} for k, v in conf.items()],
                 "inputLanes": ["l0"], "outputLanes": ["l1"]},
            ],
        }
    }
    spec = PipelineSpec.from_sdc_config(
        config,
        origin_overrides={"O": {"path": src}},
        stage_overrides={"Geo": {"ranges_path": ranges}},
    )
    lanes = spec.build(spark)
    assert [(r["id"], r["country"]) for r in lanes["l1"].collect()] == [(1, "US")]
    assert [r["id"] for r in lanes["Geo#errors"].collect()] == [2]
    assert [r["id"] for r in lanes["Geo#geo_errors"].collect()] == [3]
