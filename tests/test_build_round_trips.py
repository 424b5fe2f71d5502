"""Building a catalog plan costs few driver round trips.

Plan building runs no Spark job, but every py4j call from Python to the
JVM is a socket round trip. PySpark 4 sends each one through
``py4j.clientserver.ClientServerConnection.send_command`` (a wrapper on
``GatewayConnection`` counts zero), so counting calls there counts them
all. Memory-release commands are left out: they free Java objects that
earlier work dropped, whenever Python's collector gets to them, so
their number in one build varies from run to run (0 to ~240 at sf0.01).

Measured on sf0.01, a warm build takes 251 calls for dedup_minhash_lsh
and 505 for customer_rfm_segments. With call-site capture on and the
MinHash signatures built from Column lambdas, the same builds took
3,211 and 1,299. The budgets leave ~30% of headroom over today's
counts.

The MERGE executor's plan (``dml.build_merge_plan``) is one SQL text
over the materialized source: 27 calls on the dedup_cdc_merge fixture,
against 269 when it was built from DataFrame and Column calls; its
budget is a third of the old count.
"""

from __future__ import annotations

import py4j.clientserver
import pytest
from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

from transformers_spark import cache
from transformers_spark.queries import QUERIES

SF = "/root/testdata/sf0.01"
RELEASE = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME

BUDGETS = {
    "dedup_minhash_lsh": 350,
    "customer_rfm_segments": 650,
}
MERGE_BEFORE = 269
MERGE_BUDGET = MERGE_BEFORE // 3


def _round_trips(monkeypatch, build) -> int:
    """py4j calls ``build()`` makes, object releases not counted."""
    calls = 0
    send = py4j.clientserver.ClientServerConnection.send_command

    def counted(self, command):
        nonlocal calls
        calls += not command.startswith(RELEASE)
        return send(self, command)

    monkeypatch.setattr(
        py4j.clientserver.ClientServerConnection, "send_command", counted
    )
    try:
        build()
    finally:
        monkeypatch.undo()
        cache.release()
    return calls


@pytest.mark.parametrize("spec", sorted(BUDGETS))
def test_spec_build_stays_within_its_round_trip_budget(spark, monkeypatch, spec):
    QUERIES[spec].build(spark, SF)  # registers the tables
    cache.release()
    calls = _round_trips(monkeypatch, lambda: QUERIES[spec].build(spark, SF))
    assert 0 < calls <= BUDGETS[spec], f"{spec} build took {calls} py4j calls"


def test_merge_plan_build_stays_within_its_round_trip_budget(spark, monkeypatch):
    """dml.build_merge_plan on the dedup_cdc_merge fixture, source
    materialization included, as one SQL text: MERGE_BUDGET calls, a
    third of what the plan cost when it was built from DataFrame calls
    (MERGE_BEFORE)."""
    from transformers_spark.dml import build_merge_plan, materialize_source
    from transformers_spark.expansion4 import _cdc_merge_setup

    def build():
        source = cache.track(materialize_source(spark, stmt))
        return build_merge_plan(spark, cat, stmt, fqn, source)

    cat, _, stmt, fqn = _cdc_merge_setup(spark, SF)
    build()  # warm: the fixture's own calls
    cache.release()
    calls = _round_trips(monkeypatch, build)
    assert 0 < calls <= MERGE_BUDGET, f"build_merge_plan took {calls} py4j calls"
