"""SparkSession factory.

All engine code paths assume the settings below:

- Arrow execution ON (every UDF in this engine is a pandas/Arrow UDF —
  per-row Python UDFs are banned by design, see BASELINE.json input_hint).
- AQE ON with skew-join handling: the corpus is Common-Crawl-shaped, i.e.
  zipf-skewed hot domains; AQE splits skewed shuffle partitions at runtime
  and our own salting (pipeline/skew.py) handles the planned side.
- Shuffle partitions sized for the local harness's batch joins; on a real
  cluster this is overridden via spark-submit --conf (docs/DEPLOY.md).
  AQE coalesces a shuffle to its data size, except in a cached plan: a
  result the iterative loops hand back is persisted through
  `sparkutil.persist_result`, at the width AQE chose.  Streams do not
  use this width: `streaming.job.start_stream` runs them one state
  store per core.
- RocksDB state store for streaming state (open windows, dedup keys,
  partial CPG fragments) so state size is bounded by disk, not heap.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def get_spark(
    app_name: str = "joern-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract) or
    ``local[*]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Arrow everywhere: all our UDFs are pandas/Arrow UDFs.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # AQE: runtime coalescing + skew-join splitting for hot domains.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Keep timestamps deterministic across engines (oracle parity).
        .config("spark.sql.session.timeZone", "UTC")
        # RocksDB state store for all streaming state.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
        # Broadcast threshold: our dimension tables (semantics, query bundle,
        # nation/region-style dims) are tiny; raise a little over default.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Prefer shuffled-hash over sort-merge when the per-partition build
        # side fits (guide §3.1/§9): skips both sort passes of the big
        # equi-joins (q3-shape lineitem⋈orders measured 2.9→2.2 s at sf1);
        # AQE may also rewrite SMJ→SHJ at runtime below the local-map
        # threshold.  Values re-verified against the DuckDB oracle at
        # sf0.001/0.01/0.1/1.0 after the change (row order entering the
        # float partial aggregates shifts with join strategy).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP", "64MB"))
        # local-mode driver = the only JVM: it holds broadcast builds,
        # every cache AND all execution memory.  8g was fine to sf1 but a
        # 100x-sf0.1 probe (docs/SCALE10_r8.json) OOMed a broadcast build
        # mid-suite under accumulated caches; 16g of the sandbox's 128 GiB
        # gives the escalated-SF headroom (still env-overridable).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # -Xlog:disable: JVM unified-logging warnings (e.g. GCLocker retry
        # notices under large broadcast allocation) print to STDOUT by
        # default and would corrupt the bench driver's one-JSON-line
        # stdout contract at large scale factors (observed at the 100x
        # probe, docs/SCALE10_r8.json); Spark/log4j logging (stderr) is
        # unaffected.
        .config("spark.driver.extraJavaOptions",
                "-Dio.netty.tryReflectionSetAccessible=true -Xlog:disable")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def testdata_dir(sf: str = "0.001") -> str:
    return f"/root/testdata/sf{sf}"


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-generated parquet table."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
