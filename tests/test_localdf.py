"""local_df (Arrow-path driver-local tables) must be a drop-in for
spark.createDataFrame(list, schema): same rows, schema and null handling —
it replaced the list path on query-hot sites (centroid tables, mixture
targets, crawl seeds), so equivalence here is what keeps those queries'
oracle equality untouched."""

import pytest

from link_profiler_repo_spark.functions.localdf import local_df


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.mark.parametrize(
    "rows,schema",
    [
        ([(0, [1.0, 2.5]), (1, [0.0, -3.25])], "cell int, c array<double>"),
        ([("en", 0.6), ("de", 0.2)], "lang string, _t double"),
        ([("http://a.test/", 0), ("http://b.test/x", 1)], "url string, wave_seq long"),
        ([("u0", "u5")], "src string, dst string"),
    ],
)
def test_local_df_matches_list_path(spark, rows, schema):
    a = spark.createDataFrame(rows, schema)
    b = local_df(spark, rows, schema)
    assert a.schema == b.schema
    assert _sorted_rows(a) == _sorted_rows(b)


def test_local_df_nulls_and_dicts(spark):
    schema = "k string, v double"
    rows = [("a", None), ("b", 2.0), (None, 3.0)]
    a = spark.createDataFrame(rows, schema)
    b = local_df(spark, rows, schema)
    assert a.schema == b.schema
    assert _sorted_rows(a) == _sorted_rows(b)
    dict_rows = [{"k": "a", "v": None}, {"k": None, "v": 3.0}]
    c = local_df(spark, dict_rows, schema)
    assert c.schema == a.schema
    assert _sorted_rows(c) == sorted([("a", None), (None, 3.0)], key=repr)


def test_local_df_empty_falls_back(spark):
    df = local_df(spark, [], "k string, v long")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["k", "v"]


@pytest.mark.parametrize(
    "rows,schema",
    [
        ([("a", 1), ("b",)], "k string, v long"),  # short row
        ([("a", 1, 2)], "k string, v long"),  # long row
        ([("a", None)], "k string, v long NOT NULL"),  # None in a non-nullable field
        ([{"k": "a"}], "k string, v long NOT NULL"),  # dict row missing that field
    ],
)
def test_local_df_rejects_rows_the_list_path_rejects(spark, rows, schema):
    with pytest.raises(ValueError):
        spark.createDataFrame(rows, schema)
    with pytest.raises(ValueError):
        local_df(spark, rows, schema)
