import numpy as np
import pytest
from pyspark.sql import SparkSession

from moamosaic_spark.schema import BLOCKS_SCHEMA, DOCUMENTS_SCHEMA, FOOTPRINTS_SCHEMA


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("moamosaic-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def to_footprints(spark, pdf):
    return spark.createDataFrame(pdf, schema=FOOTPRINTS_SCHEMA)


def to_blocks(spark, pdf):
    pdf = pdf.copy()
    pdf["pixels"] = pdf["pixels"].map(lambda a: np.asarray(a, dtype="int32"))
    return spark.createDataFrame(pdf, schema=BLOCKS_SCHEMA)


def to_documents(spark, pdf):
    recs = pdf.to_dict("records")
    return spark.createDataFrame(recs, schema=DOCUMENTS_SCHEMA)


def plan_nodes(df) -> list:
    """simpleString of every operator in ``df``'s executed physical plan,
    descending through AQE wrappers and their query stages (a reused
    exchange is listed but not descended: its subtree runs once). Run an
    action on ``df`` first so the AQE plan is the final one."""
    out = []

    def walk(p):
        name = p.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            return walk(p.executedPlan())
        if name.endswith("QueryStage"):
            return walk(p.plan())
        out.append(p.simpleString(100))
        if not name.startswith("ReusedExchange"):
            ch = p.children()
            for i in range(ch.size()):
                walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out
