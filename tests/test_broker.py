"""The broker queries' scratch dirs: the execution-feed drain's checkpoint
and staging dirs and the order-ledger dir are one fixed dir per kind,
emptied at each call — repeated calls neither pile dirs up under /tmp nor
see an earlier call's checkpoint or ledger rows."""

from __future__ import annotations

import os

import pytest

from ccirecommenderdatapipeline_spark import plans
from ccirecommenderdatapipeline_spark.plans.broker import SCRATCH_ROOT
from tests.conftest import SF_SMALL
from tools.check_oracle import duck_connect

KINDS = {
    "stream_execution_feed": {"exec_feed_ckpt", "exec_feed_stage"},
    "order_ledger_roundtrip": {"order_ledger"},
}
ALL_KINDS = set().union(*KINDS.values())


@pytest.mark.parametrize("name", sorted(KINDS))
def test_broker_scratch_dirs_are_reused(spark, name):
    kinds = KINDS[name]
    want = len(duck_connect(SF_SMALL).execute(plans.ORACLES[name]).fetchall())
    for _ in range(2):
        assert plans.QUERIES[name](spark, SF_SMALL).count() == want
    # one dir per kind, and nothing else under the root
    left = set(os.listdir(SCRATCH_ROOT))
    assert kinds <= left <= ALL_KINDS
