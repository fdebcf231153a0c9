"""Event-time windowed metrics: per-window, per-key counts and totals."""

import datetime

from readur_spark.streaming.metrics import windowed_metrics

SCHEMA = "ts timestamp, event_type string, value double"


def _rows(*triples):
    return [
        {"ts": datetime.datetime(2026, 1, 1, h, m), "event_type": k, "value": float(v)}
        for (h, m, k, v) in triples
    ]


def test_batch_windowed_metrics_shape(spark):
    df = spark.createDataFrame(
        _rows((10, 5, "a", 1), (10, 20, "a", 2), (10, 40, "b", 5), (11, 10, "a", 7)),
        SCHEMA,
    )
    out = {
        (r["window_start"].hour, r["event_type"]): (r["n_events"], r["total_value"])
        for r in windowed_metrics(df, window="1 hour").collect()
    }
    assert out == {(10, "a"): (2, 3.0), (10, "b"): (1, 5.0), (11, "a"): (1, 7.0)}

