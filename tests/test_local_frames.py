"""Driver-built frames are JVM-resident: ``session.local_frame`` is the one
way the engine turns driver rows into a DataFrame, and nothing behind the
driver fast paths (small-graph CC, incremental unite, driver token fit
and its incremental form, driver k-means) re-runs Python workers when it
is evaluated."""

import datetime as dt
import pathlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nama_spark.schema import LINEAGE_SCHEMA

REPO = pathlib.Path(__file__).resolve().parents[1]


def _python_rdd(df) -> bool:
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


def _strings(spark, names, col="string"):
    """A single-column string frame built in SQL, so the test inputs never
    carry a Python-side RDD of their own."""
    values = ", ".join("('" + s.replace("'", "''") + "')" for s in names)
    return spark.sql(f"SELECT col1 AS {col} FROM VALUES {values}")


# ---------- lineage: no Python workers behind driver-built frames ----------


def test_small_graph_cc_output_has_no_python_rdd(spark):
    from nama_spark.operators.cluster import connected_components

    edges = spark.sql(
        "SELECT * FROM VALUES ('a', 'b'), ('b', 'c'), ('x', 'y') AS t(src, dst)"
    )
    comp = connected_components(edges)
    assert dict(comp.collect()) == {
        "a": "a", "b": "a", "c": "a", "x": "x", "y": "x"
    }
    assert not _python_rdd(comp)


@pytest.fixture
def no_broadcast(spark):
    """Shuffle joins only: a broadcast side runs as its own job and is
    missing from the lineage string, which would hide what it scans."""
    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")
    old = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    yield
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_unite_incremental_result_has_no_python_rdd(spark, no_broadcast):
    from nama_spark.operators.matchdata import MatchData

    prev = MatchData.from_unmatched(_strings(spark, ["acme", "acme inc", "beta"]))
    prev = prev.unite(["acme", "acme inc"])
    cur = prev.add_strings(_strings(spark, ["acme corp", "gamma"]))
    edges = spark.sql(
        "SELECT * FROM VALUES ('acme corp', 'acme inc') AS t(string0, string1)"
    )
    out = cur.unite_incremental(edges)
    assert {r["string"]: r["group"] for r in out.df.collect()} == {
        "acme": "acme", "acme inc": "acme", "acme corp": "acme",
        "beta": "beta", "gamma": "gamma",
    }
    assert not _python_rdd(out.df)


def test_driver_token_fit_tables_have_no_python_rdd(spark):
    from nama_spark.operators.token_similarity import TokenSimilarity

    ts = TokenSimilarity().fit(_strings(spark, ["acme widget", "acme widgets", "beta"]))
    assert ts._score_bc is not None  # the driver fit ran
    assert ts._tokens.count() > 0 and ts._weights.count() > 0
    assert not _python_rdd(ts._tokens)
    assert not _python_rdd(ts._weights)


def test_incremental_token_fit_tables_have_no_python_rdd(spark):
    from nama_spark.functions.tokenize import tokens_table
    from nama_spark.operators.token_similarity import TokenSimilarity

    ts = TokenSimilarity()
    prev = tokens_table(_strings(spark, ["acme widget", "beta"]))
    delta = ts.fit_incremental(prev, _strings(spark, ["acme widgets"]))
    assert ts._score_bc is not None  # the driver fit ran
    for df in (delta, ts._tokens, ts._weights):
        assert df.count() > 0
        assert not _python_rdd(df)


def test_driver_kmeans_centroids_have_no_python_rdd(spark):
    from nama_spark.operators.ann import ivf_fit_centroids

    corpus = spark.range(200).select(
        F.array(F.rand(1), F.rand(2), F.rand(3)).alias("embedding")
    )
    cents = ivf_fit_centroids(corpus, n_cells=4)
    assert cents.schema["cell"].dataType == T.LongType()
    assert cents.schema["centroid"].dataType == T.ArrayType(T.DoubleType())
    assert cents.count() == 4
    assert not _python_rdd(cents)


def test_no_create_dataframe_outside_local_frame():
    """Source guard: every driver-built frame in the library and the jobs
    goes through session.local_frame."""
    helper = REPO / "nama_spark" / "session.py"
    offenders = []
    for root in ("nama_spark", "jobs"):
        for path in sorted((REPO / root).rglob("*.py")):
            text = path.read_text()
            if path == helper:
                # the helper's own call is the only one allowed
                assert text.count("createDataFrame(") == 1
                continue
            for no, line in enumerate(text.splitlines(), 1):
                if "createDataFrame(" in line:
                    offenders.append(f"{path.relative_to(REPO)}:{no}")
    assert not offenders, offenders


# ---------- the helper: round trip and edge cases ----------

_TS = [
    dt.datetime(2026, 1, 2, 3, 4, 5, 678901, tzinfo=dt.timezone.utc),
    dt.datetime(1999, 12, 31, 23, 59, 59, tzinfo=dt.timezone.utc),
]


@pytest.mark.parametrize(
    "rows, schema",
    [
        pytest.param([("a",), ("b",), ("",)], "s string", id="string"),
        pytest.param([(1,), (2**40,), (-3,)], "n long", id="long"),
        pytest.param(
            [([1.0, 2.5],), ([],), ([float("inf"), -0.0],)],
            "v array<double>",
            id="array_double",
        ),
        pytest.param(
            [("a", None, 1.5), (None, 7, None)],
            "s string, n long, x double",
            id="nullable",
        ),
        pytest.param(
            [(t,) for t in _TS] + [(None,)],
            T.StructType([T.StructField("ts", T.TimestampType(), True)]),
            id="timestamp",
        ),
        pytest.param(
            [("stage", 1, None, 3, "rows", 3.0, _TS[0], None)],
            LINEAGE_SCHEMA,
            id="lineage_schema",
        ),
    ],
)
def test_local_frame_matches_list_frame(spark, rows, schema):
    from nama_spark.session import local_frame

    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert not _python_rdd(got)


def test_local_frame_empty_rows(spark):
    from nama_spark.session import local_frame

    got = local_frame(spark, [], "node string, entity_id string")
    assert got.schema == spark.createDataFrame([], "node string, entity_id string").schema
    assert got.collect() == []
    assert not _python_rdd(got)


def test_empty_prev_ids_mint_every_entity(spark):
    """--init's empty previous-id table: every component mints its id."""
    from nama_spark.operators.cluster import stable_entity_ids
    from nama_spark.session import local_frame

    prev = local_frame(spark, [], "node string, entity_id string")
    cur = spark.sql(
        "SELECT * FROM VALUES ('a', 'a'), ('b', 'a'), ('c', 'c') AS t(node, component)"
    )
    ids = {r["node"]: r["entity_id"] for r in stable_entity_ids(prev, cur).collect()}
    assert ids["a"] == ids["b"] != ids["c"]
    assert all(v.startswith("n:") for v in ids.values())


def test_cc_empty_graph_keeps_edge_type(spark):
    from nama_spark.operators.cluster import connected_components

    for sql_type, spark_type in (("string", T.StringType()), ("bigint", T.LongType())):
        # only a self-loop: the canonical edge set is empty
        edges = spark.sql(
            f"SELECT CAST(1 AS {sql_type}) AS src, CAST(1 AS {sql_type}) AS dst"
        )
        comp = connected_components(edges)
        assert comp.collect() == []
        assert [f.dataType for f in comp.schema.fields] == [spark_type, spark_type]


@pytest.mark.parametrize("id_type", ["int", "bigint"])
def test_integer_node_ids(spark, id_type):
    """int/long ids: connected_components keeps the edge's node type, and
    near_dup_clusters maps them back to long doc and cluster ids."""
    from nama_spark.operators.cluster import connected_components
    from nama_spark.operators.dedup import near_dup_clusters

    pairs = spark.sql(
        f"SELECT CAST(id0 AS {id_type}) AS id0, CAST(id1 AS {id_type}) AS id1 "
        "FROM VALUES (1, 2), (2, 3), (10, 11) AS t(id0, id1)"
    )
    comp = connected_components(pairs, src="id0", dst="id1")
    assert comp.schema["node"].dataType == pairs.schema["id0"].dataType
    assert dict(comp.collect()) == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert not _python_rdd(comp)

    ids = spark.range(1, 13).select(F.col("id").cast(id_type).alias("doc_id"))
    clusters = near_dup_clusters(pairs, ids)
    assert clusters.schema["doc_id"].dataType == T.LongType()
    assert clusters.schema["cluster_id"].dataType == T.LongType()
    got = dict(clusters.collect())
    assert got == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
        **{i: i for i in (4, 5, 6, 7, 8, 9, 12)},
    }
