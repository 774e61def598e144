"""Key-size skew guards that stay inside the plan, and the records they report.

A near-dup self-join on a key (an LSH band, a shingle) emits M(M-1)/2 rows
for a key shared by M rows: real output volume that no AQE split can fix.
The guard drops keys with more than ``cap`` members before the join.

:func:`capped_keys` sizes each key with a window count
(``count(*) OVER (PARTITION BY key)``), so the guard's exchange on the key is
the one the caller's self-join on the same key reads on both sides.  The
window buffers a key's rows in Spark's spillable window buffer; no key is
gathered into one row or array.  What the guard drops is observed with
``DataFrame.observe``: the metrics fill during the caller's own action, with
no extra job, and :func:`guard_records` reads them back as
:class:`GuardRecord` values.  Nothing is printed.
"""

from __future__ import annotations

import weakref
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


@dataclass(frozen=True)
class GuardRecord:
    """One run of one guard: ``dropped`` keys had more than ``cap`` members,
    and the largest key had ``worst`` members (0 on empty input)."""

    guard: str
    dropped: int
    cap: int
    worst: int


# returned frame -> the guards observed in its plan.  An entry lives as long
# as its frame, so plans that never run leave nothing behind here.
_WATCHED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def capped_keys(rows: DataFrame, keys: list[str], cap: int, guard: str):
    """``(observed, kept, watch)`` for ``rows``, one row per (doc_id, key)
    member: ``kept`` is the rows of non-NULL keys with at most ``cap``
    members, with the key's size as ``cnt``; ``observed`` is the same rows
    carrying the guard's observation.

    Use ``observed`` exactly once in a plan, as ONE side of the self-join:
    two copies would put two metric collectors of one name in the plan.
    ``kept`` serves every other read.  They all share the exchange on
    ``keys`` as long as each reads the same columns of ``rows``.  Pass
    ``watch`` to :func:`watch` with the frame the builder returns."""
    # a NULL key pairs with nothing.  Dropping it here, below the window,
    # also keeps every read of the exchange identical: Spark would push the
    # join's inferred not-null filter below the window on one side only,
    # and that side would shuffle again instead of reusing the exchange.
    for k in keys:
        rows = rows.filter(F.col(k).isNotNull())
    w = Window.partitionBy(*keys)
    sized = rows.select(
        "*", F.count("*").over(w).alias("cnt"), F.min("doc_id").over(w).alias("first_id")
    )
    obs = Observation()
    observed = sized.observe(
        obs,
        # one count per oversized key: its smallest member stands for it
        F.count_if((F.col("cnt") > cap) & (F.col("doc_id") == F.col("first_id"))).alias("dropped"),
        F.max("cnt").alias("worst"),
    )
    cols = [*rows.columns, "cnt"]
    keep = F.col("cnt") <= cap
    return observed.filter(keep).select(*cols), sized.filter(keep).select(*cols), (guard, cap, obs)


def watch(df: DataFrame, *watches) -> DataFrame:
    """Tie the guards ``watches`` (from :func:`capped_keys`) to ``df``, the
    frame a builder returns, for :func:`guard_records`."""
    _WATCHED[df] = watches
    return df


def guard_records(df: DataFrame) -> list[GuardRecord]:
    """The records of the guards in ``df``'s plan, from the first action
    that ran it; empty before.  The metrics reach the driver through Spark's
    listener bus, just after the action returns.  Reading never blocks and
    submits no job."""
    out = []
    for guard, cap, obs in _WATCHED.get(df, ()):
        if obs._jo.future().isCompleted():
            m = obs.get
            out.append(GuardRecord(guard, int(m["dropped"]), cap, int(m["worst"] or 0)))
    return out
