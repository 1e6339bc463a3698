"""Unit tests for the SQL-metrics reader (no Spark needed).

Run with ``python3 -m pytest perfbench/test_sqlmetrics.py -q``."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sqlmetrics import layer_totals, parse_value  # noqa: E402

MULTI = ("total (min, med, max (stageId: taskId))\n"
         "12.0 MiB (1.0 MiB, 2.0 MiB, 4.0 MiB (stage 72.0: task 117))")


def test_plain_values():
    assert parse_value("25,234") == {"total": 25234.0}
    assert parse_value("67.2 MiB") == {"total": 67.2 * 2 ** 20}
    assert parse_value("0.0 B") == {"total": 0.0}
    assert parse_value("7.9 s") == {"total": 7.9}
    assert parse_value("8 ms") == {"total": pytest.approx(0.008)}
    assert parse_value("1.5 m") == {"total": 90.0}


def test_multi_task_breakdown():
    v = parse_value(MULTI)
    assert v == {"total": 12 * 2 ** 20, "min": 2 ** 20, "med": 2 * 2 ** 20,
                 "max": 4 * 2 ** 20}
    d = parse_value("total (min, med, max (stageId: taskId))\n"
                    "2.1 s (315 ms, 415 ms, 556 ms (driver))")
    assert d["total"] == 2.1 and d["max"] == pytest.approx(0.556)


def test_unknown_unit_raises():
    with pytest.raises(ValueError):
        parse_value("3 parsecs")


def test_layer_totals_sums_per_layer():
    triples = [
        ("Scan parquet ", "number of output rows", "1,000"),
        ("Scan parquet ", "size of files read", "1.0 KiB"),
        ("Project", "number of output rows", "999"),  # not a scan: ignored
        ("Exchange", "local bytes read", MULTI),
        ("Exchange", "remote bytes read", "0.0 B"),
        ("MapInArrow", "data sent to Python workers", "1.0 MiB"),
        ("MapInPandas", "data sent to Python workers", "2.0 MiB"),
        ("AQEShuffleRead", "partition data size", MULTI),
        ("Sort", "spill size", None),  # value not reported yet
    ]
    out = layer_totals(triples)
    assert out["sources.rows_read"] == 1000
    assert out["sources.bytes_read"] == 1024
    assert out["exchange.shuffle_read_bytes"] == 12 * 2 ** 20
    assert out["python.bytes_sent"] == 3 * 2 ** 20
    assert out["exchange.skew_max_over_median"] == 2.0
    assert out["exchange.spill_bytes"] == 0.0
    assert out["python.run_s"] == 0.0
