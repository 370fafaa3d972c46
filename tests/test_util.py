"""cached_broadcast's bounded FIFO, checked on a recording context (no
JVM)."""

import pytest

from cross_modal_multivector_search_spark import util


class _Context:
    applicationId = "app-1"

    def __init__(self):
        self.minted = []

    def broadcast(self, obj):
        bc = ("bc", len(self.minted))
        self.minted.append(obj)
        return bc


class _Session:
    def __init__(self):
        self.sparkContext = _Context()


@pytest.fixture
def spark(monkeypatch):
    monkeypatch.setattr(util, "_BC_CACHE", {})
    return _Session()


def test_hit_returns_the_same_broadcast(spark):
    obj = [1, 2, 3]
    first = util.cached_broadcast(spark, obj)
    assert util.cached_broadcast(spark, obj) is first
    assert spark.sparkContext.minted == [obj]


def test_entry_past_the_bound_evicts_the_oldest(spark):
    objs = [[i] for i in range(util._BC_CACHE_MAX + 1)]
    bcs = [util.cached_broadcast(spark, o) for o in objs]
    assert len(util._BC_CACHE) == util._BC_CACHE_MAX
    app = spark.sparkContext.applicationId
    assert (app, id(objs[0])) not in util._BC_CACHE
    assert util.cached_broadcast(spark, objs[1]) is bcs[1]
    # the evicted first object broadcasts again
    again = util.cached_broadcast(spark, objs[0])
    assert again != bcs[0]
    assert len(spark.sparkContext.minted) == util._BC_CACHE_MAX + 2


def test_reused_id_held_by_a_new_object_broadcasts_again(spark):
    """An entry whose pinned payload is not the object now at that id (a
    recycled id) is a miss: the new object broadcasts and replaces it."""
    old, new = ["old"], ["new"]
    app = spark.sparkContext.applicationId
    util._BC_CACHE[(app, id(new))] = (old, ("bc", "stale"))
    bc = util.cached_broadcast(spark, new)
    assert bc != ("bc", "stale")
    assert spark.sparkContext.minted == [new]
    assert util._BC_CACHE[(app, id(new))] == (new, bc)
