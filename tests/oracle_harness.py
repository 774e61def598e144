"""Local twin of the driver's Spark-vs-DuckDB comparison: row count + schema
width + order-insensitive value multiset.  If this passes exactly, the
driver's value-hash comparison passes."""

from __future__ import annotations

import math

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


# U8's loss cells are float SUMS accumulated in different orders on the two
# engines (e.g. sum(exp(cp))) — exact rounded equality flips when a value
# lands within 1 ulp of a 6-dp rounding boundary, so these queries get the
# tolerant float compare; everything else stays hash-exact like the driver.
TOLERANT = {"u8_contrastive_losses"}


def duck_con(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # kill -0.0 and ulp noise surviving explicit in-query rounding
        return round(v + 0.0, 9)
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, list):
        return tuple(_norm_cell(x) for x in v)
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return round(float(v), 9)
    except ImportError:
        pass
    return v


def rows_multiset(cols: list[str], rows: list[tuple]) -> dict:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out: dict = {}
    for r in rows:
        key = tuple(_norm_cell(r[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


def compare_tolerant(
    spark_df, con, sql: str, atol: float = 1e-6
) -> tuple[bool, str]:
    """Like `compare` but float cells match within ``atol`` instead of
    exactly (ADVICE r5): cross-engine float aggregates (e.g. U8's
    sum(exp(cp))) accumulate in different orders, so a value within 1 ulp of
    an in-query rounding boundary can flip an exact rounded comparison —
    latent flakiness that grows with scale factor.  Schema and row count
    stay exact; rows are aligned by sorting on a coarse key."""
    sdf = spark_df.toPandas()
    s_cols = list(sdf.columns)
    s_rows = [tuple(r) for r in sdf.itertuples(index=False, name=None)]
    dres = con.execute(sql)
    d_cols = [d[0] for d in dres.description]
    d_rows = dres.fetchall()
    if sorted(map(str.lower, s_cols)) != sorted(map(str.lower, d_cols)):
        return False, f"schema mismatch: spark={sorted(s_cols)} duck={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return False, f"row count: spark={len(s_rows)} duck={len(d_rows)}"

    def _aligned(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        aligned = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
        # coarse sort key: floats at 3 dp so atol-sized diffs cannot reorder
        return sorted(
            aligned,
            key=lambda t: tuple(
                round(c, 3) if isinstance(c, float) else str(c) for c in t
            ),
        )

    for i, (sr, dr) in enumerate(
        zip(_aligned([c.lower() for c in s_cols], s_rows),
            _aligned([c.lower() for c in d_cols], d_rows))
    ):
        for sc, dc in zip(sr, dr):
            if isinstance(sc, float) and isinstance(dc, float):
                if not (abs(sc - dc) <= atol or (math.isnan(sc) and math.isnan(dc))):
                    return False, f"row {i}: float |{sc} - {dc}| > {atol}"
            elif sc != dc:
                return False, f"row {i}: {sc!r} != {dc!r}"
    return True, "ok"


def compare(spark_df, con, sql: str) -> tuple[bool, str]:
    sdf = spark_df.toPandas()
    s_cols = list(sdf.columns)
    s_rows = [tuple(r) for r in sdf.itertuples(index=False, name=None)]
    dres = con.execute(sql)
    d_cols = [d[0] for d in dres.description]
    d_rows = dres.fetchall()
    if sorted(map(str.lower, s_cols)) != sorted(map(str.lower, d_cols)):
        return False, f"schema mismatch: spark={sorted(s_cols)} duck={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return False, f"row count: spark={len(s_rows)} duck={len(d_rows)}"
    ms = rows_multiset([c.lower() for c in s_cols], s_rows)
    md = rows_multiset([c.lower() for c in d_cols], d_rows)
    if ms != md:
        only_s = [k for k in ms if ms[k] != md.get(k, 0)][:3]
        only_d = [k for k in md if md[k] != ms.get(k, 0)][:3]
        return False, f"value mismatch; spark-only={only_s} duck-only={only_d}"
    return True, "ok"
