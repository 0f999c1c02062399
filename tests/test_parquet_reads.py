"""Flat-layout Parquet reads take their schema from one footer on the
driver (``sources.readers.parquet_schema``): the same schema Spark's
inference gives, the same errors, and no schema-inference job."""

from __future__ import annotations

import datetime
import decimal
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from moz_datapipeline_spark.sources.readers import parquet_schema, read_parquet

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _assert_infers_alike(spark, path):
    want = spark.read.parquet(path).schema
    assert parquet_schema(spark, path) == want
    assert read_parquet(spark, path).schema == want


@pytest.mark.parametrize("name", TABLES)
def test_table_schema_matches_inference(spark, sf_dir, name):
    _assert_infers_alike(spark, f"{sf_dir}/{name}.parquet")


def test_session_conf_reaches_the_converter(spark, sf_dir):
    """``_events`` reads with ``nanosAsLong`` set: the footer converter
    must honour the session's SQLConf as Spark's inference does."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        _assert_infers_alike(spark, f"{sf_dir}/events.parquet")
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_road_sources_match_inference(spark, tmp_path):
    from perfbench import road

    road.write_sources(road.generate(7), str(tmp_path))
    for name in road.SOURCES:
        _assert_infers_alike(spark, str(tmp_path / f"{name}.parquet"))


def test_spark_checkpoint_and_appends_match_inference(spark, tmp_path):
    path = str(tmp_path / "ckpt")
    df = spark.range(40).selectExpr(
        "id", "cast(id as string) as name", "array(id, id * 2) as pair"
    )
    df.repartition(3).write.parquet(path)
    _assert_infers_alike(spark, path)
    df.limit(5).coalesce(1).write.mode("append").parquet(path)
    _assert_infers_alike(spark, path)
    assert read_parquet(spark, path).count() == 45


def test_nested_and_logical_types_match_inference(spark, tmp_path):
    path = str(tmp_path / "typed.parquet")
    table = pa.table(
        {
            "ts_us": pa.array(
                [datetime.datetime(2024, 1, 2, 3, 4, 5)], pa.timestamp("us")
            ),
            "ts_ms_utc": pa.array(
                [datetime.datetime(2024, 1, 2)], pa.timestamp("ms", tz="UTC")
            ),
            "dec": pa.array([decimal.Decimal("12.345")], pa.decimal128(9, 3)),
            "xs": pa.array([[1, 2, None]], pa.list_(pa.int32())),
            "m": pa.array([[("a", 1.5)]], pa.map_(pa.string(), pa.float64())),
            "s": pa.array(
                [{"lon": 1.0, "tags": ["x"]}],
                pa.struct([("lon", pa.float64()), ("tags", pa.list_(pa.string()))]),
            ),
            "req": pa.array([7], pa.int64()),
        }
    )
    table = table.cast(
        table.schema.set(
            table.schema.get_field_index("req"),
            pa.field("req", pa.int64(), nullable=False),
        )
    )
    pq.write_table(table, path)
    _assert_infers_alike(spark, path)


def test_missing_path_raises_sparks_error(spark, tmp_path):
    path = str(tmp_path / "absent")
    with pytest.raises(AnalysisException) as spark_err:
        spark.read.parquet(path)
    with pytest.raises(AnalysisException) as ours:
        read_parquet(spark, path)
    assert ours.value.getCondition() == spark_err.value.getCondition()


def test_directory_without_data_raises_sparks_error(spark, tmp_path):
    path = tmp_path / "empty"
    path.mkdir()
    (path / "_SUCCESS").write_text("")
    with pytest.raises(AnalysisException) as spark_err:
        spark.read.parquet(str(path))
    with pytest.raises(AnalysisException) as ours:
        read_parquet(spark, str(path))
    assert ours.value.getCondition() == spark_err.value.getCondition()


def test_partitioned_directory_raises(spark, tmp_path):
    path = str(tmp_path / "parted")
    spark.range(6).selectExpr("id", "id % 2 as p").write.partitionBy("p").parquet(
        path
    )
    with pytest.raises(ValueError, match="partitioned layout"):
        read_parquet(spark, path)


# ---------------------------------------------------------------------------
# no schema-inference job
# ---------------------------------------------------------------------------


def _group_jobs(spark, group, fn):
    """Run ``fn`` under a job group; return the ids of the jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(group))


def _schema_jobs(spark, group, fn):
    """The jobs ``fn`` ran outside any SQL execution.  A schema-inference
    job is one of those: reading is not an action, so it runs with no
    execution id, while every write or action of a DataFrame runs inside
    one."""
    jobs = _group_jobs(spark, group, fn)
    sq = spark._jsparkSession.sharedState().statusStore()
    n = sq.executionsCount()
    recent = sq.executionsList(max(0, n - 200), 200)
    in_sql = {
        j
        for i in range(recent.size())
        for j in jobs
        if recent.apply(i).jobs().contains(j)
    }
    return jobs - in_sql


def test_schema_jobs_probe_sees_inference(spark, sf_dir):
    """``_schema_jobs`` counts what it claims: Spark's own inference is
    one job outside any SQL execution."""
    got = _schema_jobs(
        spark, "probe_inference", lambda: spark.read.parquet(f"{sf_dir}/nation.parquet")
    )
    assert len(got) == 1


def test_table_opens_launch_no_job(spark, sf_dir):
    import __spark_entry__

    from moz_datapipeline_spark.session import load_tables

    def open_all():
        for name in TABLES:
            __spark_entry__._t(spark, sf_dir, name)
        load_tables(spark, sf_dir)

    assert _group_jobs(spark, "table_opens", open_all) == set()


def test_pipeline_rereads_launch_no_schema_job(spark, tmp_path):
    from moz_datapipeline_spark.plans.pipeline import Pipeline

    def build():
        return (
            Pipeline(spark, checkpoint_dir=str(tmp_path / "ck"))
            .source("src", spark.range(20))
            .stage("doubled", lambda d: d.selectExpr("id * 2 as v"), ["src"], True)
            .stage("summed", lambda d: d.groupBy().sum("v"), ["doubled"], True)
        )

    out = {}
    assert _schema_jobs(spark, "pipeline_run", lambda: out.update(build().run())) == set()
    assert out["summed"].first()[0] == 380
    assert _schema_jobs(
        spark, "pipeline_resume", lambda: out.update(build().run(resume=True))
    ) == set()
    assert out["summed"].first()[0] == 380


def test_warm_fan_out_launches_no_schema_job(spark, tmp_path):
    from moz_datapipeline_spark.graph.resume import fan_out

    def kernel(batches):
        for pdf in batches:
            yield pd.DataFrame({"sid": pdf["sid"], "v": pdf["sid"].str.len() * 1.0})

    ckpt = str(tmp_path / "fan")
    scen = pd.DataFrame({"sid": ["a", "bb", "ccc"]})

    def call(pdf):
        return fan_out(spark, pdf, "sid string", ["sid"], kernel, (), "sid string, v double", ckpt)

    res = {}
    assert _schema_jobs(spark, "fan_cold", lambda: res.update(cold=call(scen))) == set()
    assert sorted(r.sid for r in res["cold"].collect()) == ["a", "bb", "ccc"]
    more = pd.DataFrame({"sid": ["a", "bb", "ccc", "dddd"]})
    assert _schema_jobs(spark, "fan_warm", lambda: res.update(warm=call(more))) == set()
    assert sorted((r.sid, r.v) for r in res["warm"].collect()) == [
        ("a", 1.0), ("bb", 2.0), ("ccc", 3.0), ("dddd", 4.0)
    ]
    assert len([f for f in os.listdir(ckpt) if f.startswith("part-")]) >= 2
