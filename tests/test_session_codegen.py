"""get_spark sizes Spark's generated-class cache to the session's working
set: a query shape seen before reuses its compiled class instead of being
compiled again by Janino."""


def _compiles(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def test_repeated_shapes_reuse_compiled_classes(spark):
    # more distinct shapes than Spark's default cache (100 entries) holds
    shapes = [f"id * 7 + {i} AS x" for i in range(120)]
    df = spark.range(4).selectExpr(shapes[5])
    assert [r.x for r in df.collect()] == [5, 12, 19, 26]

    def compile_all(exprs):
        # preparing a new query's physical RDD compiles its whole-stage
        # class on the driver without running a job
        for e in exprs:
            spark.range(4).selectExpr(e)._jdf.queryExecution().executedPlan().execute()

    c0 = _compiles(spark)
    compile_all(shapes)
    assert _compiles(spark) - c0 >= len(shapes) - 1  # shapes[5] ran above
    c1 = _compiles(spark)
    compile_all(shapes[:20])
    assert _compiles(spark) == c1
