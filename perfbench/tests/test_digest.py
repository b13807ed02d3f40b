from pyspark.sql import functions as F

from perfbench.measure import digest

SCHEMA = ("id bigint, name string, tags map<string,string>, "
          "feats array<struct<fid:bigint, geom:array<array<int>>, props:map<string,string>>>")
ROWS = [
    (1, "a", {"k": "v", "z": "1"}, [(10, [[1, 2]], {"p": "q"})]),
    (2, "b", {}, []),
    (3, None, {"k": "w"}, [(11, [[3, 4], [5, 6]], {}), (12, [], {"x": "y"})]),
    (4, "d", None, None),
]


def test_digest_ignores_row_order_and_partitioning(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    want = digest(df)
    assert want["rows"] == 4 and set(want) == {"rows", "id", "name", "tags", "feats"}
    assert digest(df.orderBy(F.desc("id"))) == want
    assert digest(df.repartition(3, "name")) == want
    assert digest(spark.createDataFrame(ROWS[::-1], SCHEMA).coalesce(1)) == want


def test_digest_sees_every_column_and_duplicates(spark):
    base = digest(spark.createDataFrame(ROWS, SCHEMA))
    changed = list(ROWS)
    changed[2] = (3, None, {"k": "w"}, [(11, [[3, 4], [5, 7]], {}), (12, [], {"x": "y"})])
    d = digest(spark.createDataFrame(changed, SCHEMA))
    assert d["feats"] != base["feats"]
    assert {k: d[k] for k in ("rows", "id", "name", "tags")} == \
        {k: base[k] for k in ("rows", "id", "name", "tags")}
    dup = digest(spark.createDataFrame(ROWS + ROWS[:1], SCHEMA))
    assert dup["rows"] == 5 and dup["id"] != base["id"]
