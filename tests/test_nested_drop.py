"""Tests for drop_nested (operators/transform.py) — the nested drop-select
the reference sketches as future work (/root/reference/README.md:98-102)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from config_driven_pyspark_spark import Pipeline
from config_driven_pyspark_spark.operators.transform import drop_nested
from tests.conftest import (
    SIBLING_CONTAINERS,
    analyzed_chars,
    expected_sibling_rows,
    sibling_frame,
    to_df,
)

FIXTURE = [{
    "id": 1,
    "info": {"a": 1, "b": 2, "c": {"x": 9, "junk": "z"}},
    "pets": [
        {"name": "rex", "age": 3, "face": {"eyes": [{"colour": "blue", "size": 2}]}},
        {"name": "tom", "age": 5, "face": {"eyes": [{"colour": "green", "size": 1}]}},
    ],
    "extra": "drop me",
}]


def _flat_names(schema, prefix=""):
    out = []
    for f in schema.fields:
        dt = f.dataType
        path = f"{prefix}{f.name}"
        out.append(path)
        while dt.typeName() == "array":
            dt = dt.elementType
        if dt.typeName() == "struct":
            out.extend(_flat_names(dt, path + "."))
    return out


def test_drop_struct_leaf_and_root(spark):
    df = to_df(spark, FIXTURE)
    out = drop_nested(df, ["info.b", "extra"])
    names = _flat_names(out.schema)
    assert "info.b" not in names and "extra" not in names
    assert "info.a" in names and "info.c.x" in names
    assert out.collect()[0]["info"]["a"] == 1


def test_drop_deep_and_inside_arrays(spark):
    df = to_df(spark, FIXTURE)
    out = drop_nested(df, ["info.c.junk", "pets.face.eyes.size"])
    names = _flat_names(out.schema)
    assert "info.c.junk" not in names
    assert "pets.face.eyes.size" not in names
    row = out.collect()[0]
    # untouched siblings intact, both array elements rebuilt
    assert [p["face"]["eyes"][0]["colour"] for p in row["pets"]] == ["blue", "green"]
    assert [p["age"] for p in row["pets"]] == [3, 5]


def test_drop_case_insensitive(spark):
    df = to_df(spark, FIXTURE)
    out = drop_nested(df, ["INFO.C.JUNK", "Extra"])
    names = _flat_names(out.schema)
    assert "info.c.junk" not in names and "extra" not in names


def test_drop_missing_warns_and_skips(spark, caplog):
    df = to_df(spark, FIXTURE)
    with caplog.at_level("WARNING"):
        out = drop_nested(df, ["info.nope.deep", "ghost"])
    assert "not found" in caplog.text
    assert out.columns == df.columns
    assert out.collect() == df.collect()


def test_drop_untouched_columns_pass_through(spark):
    df = to_df(spark, FIXTURE)
    out = drop_nested(df, ["info.b"])
    assert out.select("pets", "extra", "id").collect() == \
        df.select("pets", "extra", "id").collect()


def test_drop_stage_routes_nested(spark):
    out = Pipeline.from_config([
        {"stage": "source", "format": "parquet",
         "path": "/root/testdata/sf0.001/events.parquet",
         "spark_confs": {"spark.sql.legacy.parquet.nanosAsLong": "true"}},
        {"stage": "with_columns",
         "columns": {"info": "named_struct('etype', event_type, 'junk', props)"}},
        {"stage": "drop", "columns": ["info.junk", "props"]},
    ]).run(spark)
    assert "props" not in out.columns
    info_fields = [f.name for f in out.schema["info"].dataType.fields]
    assert info_fields == ["etype"]


def test_drop_struct_and_field_under_it_fails_analysis(spark):
    # pinned behavior: dropping a struct and a field under it in one call
    # is an analysis error (the child is read from the struct after the
    # drop), whichever order the paths come in
    from pyspark.errors import AnalysisException

    df = to_df(spark, FIXTURE)
    for paths in (["info.c", "info.c.junk"], ["info.c.junk", "info.c"],
                  ["pets.face", "pets.face.eyes.size"]):
        with pytest.raises(AnalysisException, match="FIELD_NOT_FOUND"):
            drop_nested(df, paths)


# -- plan size: linear in touched members ------------------------------------
# Each of n sibling members of a struct loses its ``y``; the members are
# read from the struct's input value, so the tree grows linearly in n.


def _drop_siblings(spark, n, container):
    df, prefix = sibling_frame(
        spark, container, n, "struct<x: bigint, y: bigint>",
        lambda rid, k, j, i: {"x": rid * 1000 + k * 100 + j * 50 + i, "y": -i},
    )
    paths = [f"{prefix}s{j}.f{i}.y" for j in range(2) for i in range(n)]
    return df, drop_nested(df, paths)


@pytest.mark.parametrize("container", SIBLING_CONTAINERS)
def test_sibling_drop_plan_size_linear(spark, container):
    _, out6 = _drop_siblings(spark, 6, container)
    df12, out12 = _drop_siblings(spark, 12, container)
    assert analyzed_chars(out12) < 3 * analyzed_chars(out6)
    got = [r.asDict(recursive=True) for r in out12.orderBy("id").collect()]
    assert got == expected_sibling_rows(
        df12, container, lambda i, v: {"x": v["x"]}
    )


def test_ten_sibling_drops_plan_stays_small(spark):
    _, out = _drop_siblings(spark, 10, "plain")
    assert analyzed_chars(out) < 5000
    row = out.orderBy("id").first()
    assert row["s1"]["f9"].asDict() == {"x": 59}
