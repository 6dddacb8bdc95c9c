"""Explicit skew handling for hot domains (north_rule requirement).

Common-Crawl domain distributions are zipf: a handful of hot domains can
hold orders of magnitude more pages than the median.  Two mitigations,
composable with any groupBy in this repo:

- `salted_agg`: two-stage aggregation — stage 1 groups on
  (key, salt=hash(row)%N) with map-side partial aggregation, stage 2
  merges the N partials per key.  Bounds any single reducer's input to
  ~1/N of the hottest key.
- AQE skew-join splitting is enabled session-wide (session.py) for the
  join-shaped paths.

`domain_of` extracts the salting/partitioning key used throughout
(range-partitioning by (domain_bucket, warc_ts) in the sink layout).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def domain_of(url_col: str = "url") -> Column:
    return F.regexp_extract(url_col, r"https?://([^/]+)/", 1)


def salted_agg(df: DataFrame, key: Column, aggs: list, n_salts: int = 16,
               salt_on: Column | None = None) -> DataFrame:
    """Two-stage skew-proof aggregation.

    `aggs`: list of (col_expr, partial_fn_name, final_fn_name, out_name),
    e.g. (F.col("n"), "sum", "sum", "n_total") or counts via
    (F.lit(1), "count", "sum", "n_rows").
    """
    salt = (F.abs(F.hash(salt_on if salt_on is not None else F.monotonically_increasing_id()))
            % n_salts).alias("_salt")
    partials = []
    finals = []
    for col_expr, partial_fn, final_fn, out_name in aggs:
        p = getattr(F, partial_fn)(col_expr).alias(f"_p_{out_name}")
        partials.append(p)
        finals.append(getattr(F, final_fn)(F.col(f"_p_{out_name}")).alias(out_name))
    stage1 = df.groupBy(key.alias("_key"), salt).agg(*partials)
    return stage1.groupBy("_key").agg(*finals).withColumnRenamed("_key", "key")
