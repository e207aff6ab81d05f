"""Session-config independence of the query battery.

The driver's correctness gate runs the battery under ITS OWN SparkSession —
Spark 4 defaults, i.e. ``spark.sql.ansi.enabled=true`` — not under the
engine's session factory (which sets ANSI off for the reference's
NULL-on-failure parse semantics, crawlspark/session.py). Every ``queries()``
entry must therefore be correct under an arbitrary session: an expression
that relies on silent long wraparound, or on a failed cast returning NULL,
throws (ARITHMETIC_OVERFLOW, CAST_INVALID_INPUT) the moment ANSI is on.

ANSI mode is a runtime SQL conf, so these tests toggle it on the shared
session and restore it afterwards.
"""

import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def ansi_spark(spark):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield spark
    spark.conf.set("spark.sql.ansi.enabled", prev)


def test_battery_runs_under_ansi(ansi_spark):
    """Whole battery executes (full collect, no limit short-circuit) with
    ANSI on — catches overflow/invalid-cast errors that only an ANSI session
    raises."""
    failures = {}
    for name, fn in entry_mod.queries().items():
        try:
            fn(ansi_spark, SF).collect()
        except Exception as e:  # noqa: BLE001 - collecting all failures
            failures[name] = repr(e)[:200]
    assert not failures, f"queries failed under ANSI: {failures}"
