"""Enrichment: broadcast lookup join keyed on url host, with skew salting.

The reference decorates each record with static per-file-group fields
(/root/reference/config.go:39-42 → file_reader.go:115-117).  The rebuild
upgrades this to a proper dimension join: ``host = parse_url(url,'HOST')``
left-joined against a small ``host_meta`` table.

Scale notes (100 TB / 1000 executors):
  * the dimension is small (≤10k rows) → ``broadcast()`` — zero shuffle on
    the fact side, the join rides inside the scan stage's codegen;
  * if the dimension outgrows broadcast, :func:`salted_join` defuses the
    Zipfian hot-host skew: fact side gets a crc32-derived salt, the
    dimension is replicated ×S, the shuffle key becomes (host, salt) so no
    single reducer owns the hot host.  AQE skew-join splitting is also on
    (session.py) as the runtime backstop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_host(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add a ``host`` column extracted JVM-side (no Python)."""
    return df.withColumn("host", F.parse_url(F.col(url_col), F.lit("HOST")))


def with_static_fields(df: DataFrame, fields: dict) -> DataFrame:
    """Merge constant ``fields`` into every row (≈ config.go:41 ``fields``);
    like the reference (file_reader.go:112-117), a field named like an
    existing column overwrites it."""
    return df.withColumns({k: F.lit(v) for k, v in fields.items()}) if fields else df


def enrich_broadcast(
    df: DataFrame, host_meta: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Left-join host metadata via an explicit broadcast hash join."""
    out = with_host(df, url_col)
    return out.join(F.broadcast(host_meta), on="host", how="left")


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    num_salts: int = 8,
    salt_source: str = "url",
    how: str = "left",
) -> DataFrame:
    """Skew-defusing shuffle join: salt the fact key, replicate the dim ×S.

    ``salt = pmod(crc32(salt_source), S)`` is a pure function of row content
    (deterministic under task retries — same discipline as the routing key).
    The dimension side is exploded to every salt value so each (key, salt)
    pair finds its match.  Use when ``dim`` is too big to broadcast but a
    handful of fact keys are hot.
    """
    salted_fact = fact.withColumn(
        "_salt",
        F.pmod(F.crc32(F.encode(F.col(salt_source), "utf-8")), F.lit(num_salts)),
    )
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)))
    ).withColumn("_salt", F.col("_salt").cast("bigint"))
    out = salted_fact.join(salted_dim, on=[key, "_salt"], how=how)
    return out.drop("_salt")
