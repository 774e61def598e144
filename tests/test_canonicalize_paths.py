"""The distributed label-propagation path (driver_limit=0) must produce the
same clusters as the driver union-find path (default), and the driver path's
bound must switch paths exactly at the hot subgraph's edge-row count."""

from __future__ import annotations

from collections import Counter

import pytest

import nerzo_spark.operators.canonicalize as canon
from nerzo_spark.functions.text import norm_key, squash
from nerzo_spark.operators.canonicalize import canonical_overrides, resolve_entities


def _surfaces_df(spark, fixture_small):
    return spark.createDataFrame(
        sorted({(m["fine_type"], m["surface"]) for m in fixture_small.mentions}),
        "fine_type string, surface string",
    )


def _canonicalize(surfaces, **kwargs):
    """(fine_type, surface, canonical, entity_id) for distinct surfaces."""
    return resolve_entities(surfaces, canonical_overrides(surfaces, **kwargs))


def _hot_edge_rows(fixture_small) -> int:
    """Edge rows in multi-member buckets, counted with the Python twins of
    the bucket keys: each (fine_type, surface) node has one k1 and one k2
    bucket."""
    nodes = {(m["fine_type"], m["surface"]) for m in fixture_small.mentions}
    sizes = Counter()
    for ft, s in nodes:
        sizes[(ft, "k1", norm_key(s))] += 1
        sizes[(ft, "k2", squash(s))] += 1
    return sum(n for n in sizes.values() if n > 1)


def _assert_same_clusters(a, b):
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_driver_and_distributed_paths_agree(spark, fixture_small):
    surfaces = _surfaces_df(spark, fixture_small)
    a = _canonicalize(surfaces)  # driver union-find
    b = _canonicalize(surfaces, driver_limit=0)  # distributed loop
    _assert_same_clusters(a, b)


@pytest.mark.parametrize("slack, on_driver", [(0, True), (-1, False)])
def test_driver_limit_boundary(spark, fixture_small, monkeypatch, slack, on_driver):
    """At driver_limit == the hot edge-row count the driver path runs; one
    below it, the distributed loop.  Both give the default path's clusters."""
    hot = _hot_edge_rows(fixture_small)
    assert hot > 1
    calls = []
    union_find = canon._driver_union_find
    monkeypatch.setattr(
        canon, "_driver_union_find", lambda *a, **k: calls.append(1) or union_find(*a, **k)
    )
    surfaces = _surfaces_df(spark, fixture_small)
    got = _canonicalize(surfaces, driver_limit=hot + slack)
    assert bool(calls) == on_driver
    monkeypatch.undo()
    _assert_same_clusters(_canonicalize(surfaces), got)
