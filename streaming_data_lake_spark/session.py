"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every setting is chosen to
also hold on a large cluster: AQE for runtime re-planning (skew
joins, partition coalescing), UTC session time zone (oracle parity
and cross-engine determinism), Arrow for the pandas-UDF slow path.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

from streaming_data_lake_spark.scratch import scratch_dir

# Shuffle partition count: ~cores for local mode. On a real cluster
# this would be 2-3x total executor cores (or left to AQE's
# coalescing with a high initial value).
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "streaming_data_lake_spark", cpus: str | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Settings that matter at 100 TB scale:
    - AQE enabled: runtime shuffle-partition coalescing and skew-join
      splitting replace hand-tuned partition counts.
    - ``spark.sql.files.maxPartitionBytes`` left at 128 MB default —
      matches the reference's compaction target (scripts/maintenance.sh:67).
    - UTC session TZ: window/bucket boundaries identical on every
      executor regardless of host TZ.
    """
    n = cpus or _DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # ANSI mode PINNED, not inherited: the
        # sessionize value-domain contract is "finite out-of-domain
        # RAISES on every path" — the hand fold raises explicitly,
        # the native twin via the ANSI decimal(12,2) cast. Spark 4.x
        # defaults ANSI on (verified: no behavior change here), but
        # under ANSI-off (external spark-defaults, Spark 3.x) the
        # cast silently NULLs and the paths diverge; the pin plus the
        # sessionize-side assert make the contract config-independent.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Right-sized heap, not "all of RAM": in local mode this one
        # JVM is driver + every executor, and an over-sized heap lets
        # garbage accumulate until G1 runs a multi-ten-second full GC
        # mid-query (measured: 30-60 s stalls at 90g; none at 16g).
        # 16g over 32 threads is the same 512m/core an executor would
        # get on a production cluster — where the driver heap only
        # holds plans and scalar results and stays small.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # INT64 micros timestamps on write, not the INT96 default:
        # INT96 is deprecated, carries NO column statistics (so an
        # INT96 table is opaque to row-group skipping on ts predicates
        # AND to the materializer's footer-stats max reads in M4 and
        # M6), and is 4 bytes/value fatter. Also pinned at runtime by
        # catalog.pin_session_confs for bare driver sessions.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # The driver's testdata stores timestamps as parquet
        # TIMESTAMP(NANOS), which Spark cannot represent natively;
        # read them as long nanos and convert in catalog.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Managed tables (bucketed copies) go to a per-process temp
        # warehouse: the in-memory catalog dies with the session, so a
        # persistent warehouse dir would leak orphan locations that
        # block the next process's saveAsTable.
        .config(
            "spark.sql.warehouse.dir",
            tempfile.mkdtemp(prefix="spark_warehouse_"),
        )
        # Shuffle/spill scratch on the fastest ephemeral storage the
        # host offers (guide §2.1: local disk bandwidth for shuffle
        # files is often the tighter limit). scratch_dir prefers
        # RAM-backed /dev/shm behind a free-capacity gate and honors
        # $SPARK_GRAFT_STREAM_SCRATCH as an override, falling back to
        # the tempfile default — on a production cluster the same knob
        # points at the executors' NVMe scratch volumes. Shuffle data
        # is re-creatable by stage retry, so tmpfs volatility costs
        # nothing; measured here: the per-shuffle floor drops ~40%
        # (tiny 32-partition exchange 360 → 216 ms).
        .config("spark.local.dir", scratch_dir("spark_local_"))
    )
    # Probe hook (inert unless set): "k=v;k2=v2" conf overrides, used
    # by tools/partition_sweep.py to vary scan-split sizing per
    # subprocess without forking the session recipe. Applied LAST so
    # a probe can override any default above.
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in filter(None, extra.split(";")):
        k, _, v = pair.partition("=")
        builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
