"""One way to hold and release a cache.

Tripwire: every cache in ``nerzo_spark/`` is taken through
``session.cached``, which unpersists it on every exit path, exceptions
included.  The AST of every module is walked, and a ``.persist(``,
``.cache(`` or ``.unpersist(`` call anywhere else fails the test.  A cache
that a returned lazy plan depends on is a ``localCheckpoint`` instead
(ARCHITECTURE.md, "Cache lifetime")."""

from __future__ import annotations

import ast
import gc
from pathlib import Path

import nerzo_spark
from nerzo_spark.session import cached

CACHE_CALLS = {"persist", "cache", "unpersist"}
ROOT = Path(nerzo_spark.__file__).parent


def _cache_calls(tree: ast.AST) -> list[ast.Call]:
    return [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in CACHE_CALLS
    ]


def _cached_def() -> ast.FunctionDef:
    tree = ast.parse((ROOT / "session.py").read_text())
    return next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "cached"
    )


def test_session_cached_persists_and_unpersists():
    # the walker must see the helper's own calls, so the rule below is live
    assert {c.func.attr for c in _cache_calls(_cached_def())} == {"persist", "unpersist"}


def test_caches_are_taken_only_through_session_cached():
    allowed = {(c.lineno, c.col_offset) for c in _cache_calls(_cached_def())}
    found = []
    for path in sorted(ROOT.rglob("*.py")):
        for c in _cache_calls(ast.parse(path.read_text(), filename=str(path))):
            if path.name == "session.py" and path.parent == ROOT and (
                (c.lineno, c.col_offset) in allowed
            ):
                continue
            found.append(f"{path.relative_to(ROOT.parent)}:{c.lineno} .{c.func.attr}(")
    assert found == []


def test_abandoned_cached_block_keeps_its_cache(spark):
    """A holder dropped with its block still open (an unclosed KGResult) is
    not an exit: the cache stays, as an unmanaged persist would, so a
    caller that keeps only a plan from the holder still reads the cache."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    block = cached(spark.range(7).selectExpr("id * 3 AS x"))
    df = block.__enter__()
    del block
    gc.collect()
    assert cache.numCachedEntries() == before + 1
    df.unpersist()
