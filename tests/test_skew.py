"""hot_key_skew fixture (FIXTURES.md §3): the map-side top-1 holds the hot
key to at most one row per map task across the exchange.

A single hot (conv_id, turn_idx) holding ~50% of a batch would serialize
one reducer under pk-hash partitioning if its rows crossed the exchange.
``latest_per_key`` plans a WindowGroupLimit(Partial) before the exchange,
so each map task ships one row per key it holds; the shuffle's
records-written metric shows it.
"""

from pyspark.sql import functions as F

from airbyte_custom_spark.operators.dedupe import latest_per_key

PK = ("conv_id", "turn_idx")
HOT = ("conv-hot", 0)


def skewed_events(spark, n=20_000):
    # 50% of events hit one key; rest spread over 500 keys
    df = spark.range(n)
    hot = F.col("id") % 2 == 0
    return df.select(
        (F.col("id") + 1).alias("lsn"),
        F.lit("u").alias("op"),
        F.when(hot, "conv-hot").otherwise(
            F.concat(F.lit("conv-"), (F.col("id") % 500).cast("string"))
        ).alias("conv_id"),
        F.when(hot, 0).otherwise((F.col("id") % 7).cast("int")).alias("turn_idx"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("text"),
    )


def _shuffle_records_written(df) -> list[int]:
    """records-written metric of every shuffle exchange in ``df``'s
    executed plan (AQE query stages unwrapped); read after an action."""
    out = []

    def walk(p):
        name = p.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(p.executedPlan())
        if name.endswith("QueryStageExec"):
            return walk(p.plan())
        if name == "ShuffleExchangeExec":
            out.append(p.metrics().apply("shuffleRecordsWritten").value())
        children = p.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_hot_key_crosses_exchange_once_per_map_task(spark):
    ev = skewed_events(spark)
    rows = [r.asDict() for r in ev.collect()]
    expected: dict = {}
    for r in rows:
        k = (r["conv_id"], r["turn_idx"])
        if k not in expected or r["lsn"] > expected[k][0]:
            expected[k] = (r["lsn"], r["text"])

    latest = latest_per_key(ev, PK)
    got = {(r["conv_id"], r["turn_idx"]): (r["lsn"], r["text"]) for r in latest.collect()}
    assert got == expected
    # hot events have even ids → lsn = id+1 is odd, max = 19_999
    assert got[HOT][0] == 19_999

    # per map task: does it hold the hot key, and how many cold keys
    per_task = (
        ev.groupBy(F.spark_partition_id().alias("p"))
        .agg(
            F.max((F.col("conv_id") == HOT[0]).cast("int")).alias("hot"),
            F.countDistinct(
                F.when(F.col("conv_id") != HOT[0], F.struct(*PK))
            ).alias("cold"),
        )
        .collect()
    )
    hot_tasks = sum(r["hot"] for r in per_task)
    cold_keys = sum(r["cold"] for r in per_task)
    assert hot_tasks > 1, per_task

    written = _shuffle_records_written(latest)
    assert len(written) == 1, written
    # each map task ships its cold keys once and the hot key at most once;
    # without the map-side partial all 10_000 hot rows would cross
    assert written[0] <= cold_keys + hot_tasks, (written, cold_keys, hot_tasks)
