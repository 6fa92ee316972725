"""latest_per_key against a naive Python oracle, plus its fixed cases."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F, types as T

from airbyte_custom_spark.operators.dedupe import latest_per_key

from tests.util import ev, mk_events

KEYS = ("conv_id", "turn_idx")

_ROW_SCHEMA = T.StructType([
    T.StructField("rid", T.IntegerType()),
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("lsn", T.LongType()),
    T.StructField("is_del", T.BooleanType()),
])

# small key and lsn domains so ties at equal lsn, NULL cursors and
# delete-vs-upsert pairs on one key come up often
_row = st.tuples(
    st.sampled_from(["a", "b"]),
    st.integers(min_value=0, max_value=1),
    st.one_of(st.none(), st.integers(min_value=1, max_value=4)),
    st.sampled_from([True, False, None]),
)
_hot = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=1, max_value=4)),
        st.sampled_from([True, False, None]),
    ),
    max_size=40,
)


def _oracle(rows, with_delete):
    """key → the rids that may win: greatest cursor, a NULL cursor below
    any value; with a delete column, a delete beats an upsert at an equal
    cursor.  Exact ties keep any one of the tied rows."""
    rank: dict = {}
    for rid, conv, turn, lsn, is_del in rows:
        r = (lsn is not None, lsn or 0, int(bool(is_del)) if with_delete else 0)
        best = rank.get((conv, turn))
        if best is None or r > best[0]:
            rank[(conv, turn)] = (r, {rid})
        elif r == best[0]:
            best[1].add(rid)
    return {k: v[1] for k, v in rank.items()}


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(_row, min_size=1, max_size=30), hot=_hot)
def test_latest_per_key_matches_oracle(spark, rows, hot):
    rows = [(i, *r) for i, r in enumerate(rows + [("hot", 0, *h) for h in hot])]
    df = spark.createDataFrame(rows, _ROW_SCHEMA)
    for delete_col in (None, "is_del"):
        winners = _oracle(rows, with_delete=delete_col is not None)
        out = latest_per_key(df, KEYS, order_col="lsn", delete_col=delete_col)
        assert out.columns == df.columns
        got = {(r["conv_id"], r["turn_idx"]): r["rid"] for r in out.collect()}
        assert got.keys() == winners.keys()
        for k, rid in got.items():
            assert rid in winners[k], (delete_col, k, rid, winners[k])


def test_reduce_keeps_highest_lsn(spark):
    events = mk_events(
        spark,
        [ev(1, "c", "a", 0, text="v1"), ev(7, "u", "a", 0, text="v7"), ev(3, "u", "a", 0, text="v3")],
    )
    out = latest_per_key(events, KEYS).collect()
    assert len(out) == 1 and out[0]["text"] == "v7"


def test_delete_wins_tie(spark):
    events = mk_events(spark, [ev(5, "c", "a", 0, text="up"), ev(5, "d", "a", 0)])
    events = events.withColumn("_is_del", F.col("op") == "d")
    out = latest_per_key(events, KEYS, delete_col="_is_del").collect()
    assert len(out) == 1 and out[0]["op"] == "d"


def test_window_null_cursor_sorts_oldest(spark):
    """E4: NULL cursor loses to any non-null cursor (desc_nulls_last)."""
    events = mk_events(spark, [ev(1, "c", "a", 0, text="real")])
    nulled = events.withColumn("lsn", F.lit(None).cast("long")).withColumn(
        "text", F.lit("null-cursor")
    )
    both = events.unionByName(nulled)
    out = latest_per_key(both, KEYS).collect()
    assert len(out) == 1 and out[0]["text"] == "real"
