"""Spark-vs-DuckDB parity check for selected queries at a chosen SF dir.

Usage: python jobs/verify_parity.py <sf_dir> [query ...]
With no query names, checks EVERY oracle-backed query (slow at big SFs):
the driver catalog's and the training-surface catalog's
(``plans/catalog_train.py``), whose names must not overlap.
Exit code 1 on any mismatch.
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:]
    from nerzo_spark.session import get_spark, warm_python_workers

    # master and shuffle partitions: get_spark's host defaults
    spark = get_spark("verify-parity")
    spark.sparkContext.setLogLevel("ERROR")
    warm_python_workers(spark)

    from nerzo_spark.plans import catalog
    import nerzo_spark.plans.catalog_ivf  # noqa: F401
    import nerzo_spark.plans.catalog_more  # noqa: F401
    import nerzo_spark.plans.catalog_text  # noqa: F401
    import nerzo_spark.plans.catalog_vec  # noqa: F401
    import nerzo_spark.plans.catalog_kg  # noqa: F401
    from nerzo_spark.plans import catalog_train

    from tests.oracle_harness import TOLERANT, compare, compare_tolerant, duck_con

    shared = set(catalog.queries()) & set(catalog_train.queries())
    if shared:
        sys.exit(f"catalog and catalog_train both register {sorted(shared)}")
    con = duck_con(sf_dir)
    oracles = {**catalog.oracle_sql(), **catalog_train.oracle_sql()}
    qs = {**catalog.queries(), **catalog_train.queries()}
    names = names or sorted(oracles.keys())
    bad = []
    for name in names:
        if name not in oracles:
            print(f"{name}: SKIP (no oracle)")
            continue
        t0 = time.time()
        cmp = compare_tolerant if name in TOLERANT else compare
        ok, msg = cmp(qs[name](spark, sf_dir), con, oracles[name])
        status = "OK" if ok else f"FAIL: {msg[:300]}"
        print(f"{name}: {status} ({time.time() - t0:.1f}s)")
        if not ok:
            bad.append(name)
    if bad:
        print("MISMATCH:", bad)
        sys.exit(1)
    print("all green")


if __name__ == "__main__":
    main()
