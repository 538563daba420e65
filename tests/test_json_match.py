"""Golden tests for JSON_MATCH from the reference's person corpus and
documented filter forms (basics/indexing/json-index.md:9-35, 304-501),
including the maintained-array-context rule (lines 404-434) and the
leaf-only key restriction (line 500)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from apache_pinot_spark.functions.json import (
    json_match,
    json_extract_scalar,
    infer_json_schema,
    parse_json_filter,
)

ADAM = {
    "name": "adam",
    "age": 30,
    "country": "us",
    "addresses": [
        {"number": 112, "street": "main st", "country": "us"},
        {"number": 2, "street": "second st", "country": "us"},
        {"number": 3, "street": "third st", "country": "ca"},
    ],
}
# bob: has an address matching street AND country together (context test)
BOB = {
    "name": "bob",
    "age": 41,
    "country": "ca",
    "phone": "555-1212",
    "addresses": [
        {"number": 5, "street": "main st", "country": "ca", "floor": 2},
    ],
}
# carol: no addresses key at all
CAROL = {"name": "carol", "age": 22, "country": "us", "phone": "555-0000"}

PERSONS = [ADAM, BOB, CAROL]


@pytest.fixture(scope="module")
def person_df(spark):
    df = spark.createDataFrame(
        [(p["name"], json.dumps(p)) for p in PERSONS], ["id", "person"]
    ).cache()
    return df


@pytest.fixture(scope="module")
def person_schema(person_df):
    return infer_json_schema(person_df, "person")


def names(df, cond):
    return sorted(r[0] for r in df.filter(cond).select("id").collect())


def test_simple_key_lookup(person_df):
    # json-index.md:306-312: "$.name"='adam'
    assert names(person_df, json_match("person", "\"$.name\"='adam'")) == ["adam"]


def test_chained_array_lookup(person_df, person_schema):
    # json-index.md:341-349: "$.addresses[*].number"=112 — ANY address
    cond = json_match("person", '"$.addresses[*].number"=112', schema=person_schema)
    assert names(person_df, cond) == ["adam"]


def test_nested_filter_expression(person_df, person_schema):
    # json-index.md:353-361: name='adam' AND addresses[*].number=112
    cond = json_match(
        "person", "\"$.name\"='adam' AND \"$.addresses[*].number\"=112", schema=person_schema
    )
    assert names(person_df, cond) == ["adam"]


def test_positional_array_access(person_df):
    # json-index.md:365-373: "$.addresses[0].number"=112 — first address only
    assert names(person_df, json_match("person", '"$.addresses[0].number"=112')) == ["adam"]
    assert names(person_df, json_match("person", '"$.addresses[1].number"=2')) == ["adam"]


def test_field_existence(person_df):
    # json-index.md:377-385: "$.phone" IS NOT NULL
    assert names(person_df, json_match("person", '"$.phone" IS NOT NULL')) == ["bob", "carol"]
    # json-index.md:389-397: "$.addresses[0].floor" IS NULL
    assert names(person_df, json_match("person", '"$.addresses[0].floor" IS NULL')) == [
        "adam",
        "carol",
    ]


def test_array_context_maintained(person_df, person_schema):
    # json-index.md:404-418: one JSON_MATCH with street AND country must bind
    # to the SAME address element → adam does NOT match (main st is 'us',
    # the 'ca' address is third st); bob DOES (main st + ca in one element).
    cond = json_match(
        "person",
        "\"$.addresses[*].street\"='main st' AND \"$.addresses[*].country\"='ca'",
        schema=person_schema,
    )
    assert names(person_df, cond) == ["bob"]


def test_array_context_relaxed_across_calls(person_df, person_schema):
    # json-index.md:420-430: two separate JSON_MATCH predicates — adam now
    # matches (one address on main st, another in ca).
    cond = json_match(
        "person", "\"$.addresses[*].street\"='main st'", schema=person_schema
    ) & json_match("person", "\"$.addresses[*].country\"='ca'", schema=person_schema)
    assert names(person_df, cond) == ["adam", "bob"]


def test_positional_across_calls(person_df, person_schema):
    # json-index.md:432-434: first address main st AND second address second st
    cond = json_match("person", "\"$.addresses[0].street\"='main st'") & json_match(
        "person", "\"$.addresses[1].street\"='second st'"
    )
    assert names(person_df, cond) == ["adam"]


def test_root_array_forms(spark):
    # json-index.md:442-462: "$[*]"='item1' and "$[1]"='item2'
    df = spark.createDataFrame(
        [(0, '["item1","item2","item3"]'), (1, '["x","item1"]'), (2, '["a","b"]')],
        ["id", "arr"],
    )
    schema = "array<string>"
    got = sorted(
        r[0] for r in df.filter(json_match("arr", "\"$[*]\"='item1'", schema=schema)).collect()
    )
    assert got == [0, 1]
    got2 = sorted(
        r[0] for r in df.filter(json_match("arr", "\"$[1]\"='item2'")).collect()
    )
    assert got2 == [0]


def test_root_value_and_null(spark):
    # json-index.md:466-497: "$"=123 on a value column; "$" IS NULL on nulls
    df = spark.createDataFrame(
        [(0, "123"), (1, "1.23"), (2, '"Hello World"'), (3, "null")], ["id", "v"]
    )
    assert sorted(r[0] for r in df.filter(json_match("v", '"$"=123')).collect()) == [0]
    assert sorted(r[0] for r in df.filter(json_match("v", "\"$\"='Hello World'")).collect()) == [2]
    assert sorted(r[0] for r in df.filter(json_match("v", '"$" IS NULL')).collect()) == [3]


def test_numeric_compare_and_ranges(person_df):
    assert names(person_df, json_match("person", '"$.age">25')) == ["adam", "bob"]
    assert names(person_df, json_match("person", '"$.age"<=22')) == ["carol"]


def test_or_expression(person_df):
    cond = json_match("person", "\"$.name\"='carol' OR \"$.country\"='ca'")
    assert names(person_df, cond) == ["bob", "carol"]


def test_json_extract_scalar(person_df):
    # json-index.md:42-45
    out = (
        person_df.select(
            "id", json_extract_scalar("person", "$.age", "INT").alias("age")
        )
        .orderBy("id")
        .collect()
    )
    assert [(r[0], r[1]) for r in out] == [("adam", 30), ("bob", 41), ("carol", 22)]


def test_parser_rejects_garbage():
    with pytest.raises(ValueError):
        parse_json_filter('"$.a" LIKE 5')
    with pytest.raises(ValueError):
        parse_json_filter('"$.a"=')


# --------------------------------------------------------------------------
# JSON index flattening config (json-index.md:53-81)
# --------------------------------------------------------------------------


def test_json_index_config_exclude_include_paths(spark):
    from apache_pinot_spark.functions.json import JsonIndexConfig, json_match

    df = spark.createDataFrame(
        [(1, '{"name": "adam", "age": 20}'), (2, '{"name": "bob", "age": 30}')],
        ["id", "person"],
    )
    # excluded path: predicate can never match (no index entries)
    cfg = JsonIndexConfig(exclude_paths={"$.age"})
    assert df.filter(json_match("person", '"$.age"=20', config=cfg)).count() == 0
    assert df.filter(json_match("person", '"$.name"=\'adam\'', config=cfg)).count() == 1
    # includePaths: only listed prefixes are indexed
    cfg2 = JsonIndexConfig(include_paths={"$.name"})
    assert df.filter(json_match("person", '"$.name"=\'bob\'', config=cfg2)).count() == 1
    assert df.filter(json_match("person", '"$.age"=30', config=cfg2)).count() == 0


def test_json_index_config_max_levels_and_exclude_array(spark):
    from apache_pinot_spark.functions.json import JsonIndexConfig, json_match

    doc = '{"a": {"b": {"c": 5}}, "arr": [{"x": 1}]}'
    df = spark.createDataFrame([(1, doc)], ["id", "j"])
    schema = "struct<a:struct<b:struct<c:bigint>>,arr:array<struct<x:bigint>>>"
    cfg = JsonIndexConfig(max_levels=2)
    assert df.filter(json_match("j", '"$.a.b.c"=5', config=cfg)).count() == 0
    assert df.filter(json_match("j", '"$.a.b.c"=5')).count() == 1
    cfg2 = JsonIndexConfig(exclude_array=True)
    assert df.filter(json_match("j", '"$.arr[*].x"=1', schema, config=cfg2)).count() == 0
    assert df.filter(json_match("j", '"$.arr[*].x"=1', schema)).count() == 1


def test_json_index_config_disable_cross_array_unnest(spark):
    from apache_pinot_spark.functions.json import JsonIndexConfig, json_match

    doc = '{"p": [{"x": 1}], "q": [{"y": 2}]}'
    df = spark.createDataFrame([(1, doc)], ["id", "j"])
    schema = "struct<p:array<struct<x:bigint>>,q:array<struct<y:bigint>>>"
    cfg = JsonIndexConfig(disable_cross_array_unnest=True)
    # predicates under DIFFERENT arrays cannot co-match one flattened row
    assert (
        df.filter(json_match("j", '"$.p[*].x"=1 AND "$.q[*].y"=2', schema, config=cfg)).count()
        == 0
    )
    assert (
        df.filter(json_match("j", '"$.p[*].x"=1 AND "$.q[*].y"=2', schema)).count() == 1
    )
    # same-array conjunctions still work under the config
    assert df.filter(json_match("j", '"$.p[*].x"=1', schema, config=cfg)).count() == 1


def test_json_index_config_golden_person_corpus(spark):
    """Golden test over the docs' person document (json-index.md:85-110)
    with the docs' own sample config (json-index.md:56-68): maxLevels=2
    (array counts as one level, so addresses[*].country is level 3 →
    unindexed), disableCrossArrayUnnest=true (addresses[*] + skills[*]
    cannot co-match), excludeFields knocks out a field name everywhere."""
    from apache_pinot_spark.functions.json import JsonIndexConfig, json_match

    adam = (
        '{"name": "adam", "age": 20, '
        '"addresses": [{"country": "us", "street": "main st", "number": 1}, '
        '{"country": "ca", "street": "second st", "number": 2}], '
        '"skills": ["english", "programming"]}'
    )
    df = spark.createDataFrame([(1, adam)], ["id", "person"])
    schema = (
        "struct<name:string, age:bigint, "
        "addresses:array<struct<country:string,street:string,number:bigint>>, "
        "skills:array<string>>"
    )
    cfg = JsonIndexConfig.from_json(
        {"maxLevels": 2, "excludeArray": False, "disableCrossArrayUnnest": True,
         "includePaths": None, "excludePaths": None, "excludeFields": None}
    )
    # level-1/2 paths stay queryable
    assert df.filter(json_match("person", '"$.name"=\'adam\'', schema, cfg)).count() == 1
    # addresses[*].country is 3 levels (array counted) → unindexed
    assert (
        df.filter(json_match("person", '"$.addresses[*].country"=\'us\'', schema, cfg)).count()
        == 0
    )
    # without maxLevels it matches
    cfg2 = JsonIndexConfig(disable_cross_array_unnest=True)
    assert (
        df.filter(json_match("person", '"$.addresses[*].country"=\'us\'', schema, cfg2)).count()
        == 1
    )
    # cross-array unnest disabled: addresses[*] AND skills[*] cannot co-match
    cross = '"$.addresses[*].country"=\'us\' AND "$.skills[*]"=\'english\''
    assert df.filter(json_match("person", cross, schema, cfg2)).count() == 0
    assert df.filter(json_match("person", cross, schema)).count() == 1
    # excludeFields: 'country' unindexed anywhere, street still queryable
    cfg3 = JsonIndexConfig.from_json({"excludeFields": ["country"]})
    assert (
        df.filter(json_match("person", '"$.addresses[*].country"=\'us\'', schema, cfg3)).count()
        == 0
    )
    assert (
        df.filter(json_match("person", '"$.addresses[*].street"=\'main st\'', schema, cfg3)).count()
        == 1
    )


def test_unindexed_path_matches_nothing_through_engine(spark):
    """A JSON_MATCH on a path the engine's index config leaves unindexed
    folds to a constant; through the SQL front-end that constant must
    still read as a predicate, not as a table alias column list, on
    tables of one column and of two."""
    from apache_pinot_spark.functions.json import JsonIndexConfig
    from apache_pinot_spark.sqlfront import PinotEngine

    docs = ['{"name": "adam", "age": 20}', '{"name": "bob", "age": 30}']
    eng = PinotEngine(spark)
    eng.register("jm_unindexed_one", spark.createDataFrame([(d,) for d in docs], ["person"]))
    eng.register(
        "jm_unindexed_two",
        spark.createDataFrame(list(enumerate(docs, 1)), ["id", "person"]),
    )
    eng.set_json_index_config("person", JsonIndexConfig(exclude_paths={"$.age"}))

    one = eng.sql("""SELECT * FROM jm_unindexed_one WHERE JSON_MATCH(person, '"$.age"=20')""")
    assert one.columns == ["person"]
    assert one.collect() == []
    two = eng.sql("""SELECT id FROM jm_unindexed_two WHERE JSON_MATCH(person, '"$.age"=20')""")
    assert two.collect() == []
    # an indexed path next to the folded one keeps its own answer
    got = eng.sql(
        """SELECT id FROM jm_unindexed_two
           WHERE JSON_MATCH(person, '"$.name"=''bob'' OR "$.age"=20')"""
    ).collect()
    assert [r["id"] for r in got] == [2]
