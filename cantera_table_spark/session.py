"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB posture:

- AQE on (runtime coalescing, skew-join splitting, empty-relation
  propagation — the reference hand-rolled its empty-AND short circuit,
  query.cc:419-421; AQE subsumes it).
- auto broadcast threshold left at default so small dimension sides of
  AND/ORDER BY lookups broadcast instead of shuffling.
- shuffle partitions sized for the local harness; on a real cluster AQE
  coalesces from a larger initial number.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = "cantera-table-spark") -> SparkSession:
    """Build (or fetch) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism and the shuffle
    partition count (driver contract).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(int(cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # IN lists of two or more values become InSet, whose generated
        # code references the set instead of inlining each literal: a
        # QUERY's summary lookup by page doc_ids then reuses one
        # compiled class instead of compiling a new one per page
        .config("spark.sql.optimizer.inSetConversionThreshold", "1")
        # local mode: the driver heap IS the executor heap. 32 threads
        # sharing 8g starved the cache-heavy phases (CORRELATE persist,
        # dedup clustering) — measured ~17% faster at 32g on the
        # 128 GiB harness box; still overridable via SPARK_DRIVER_MEMORY
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata writes TIMESTAMP(NANOS) parquet; read as long
        # and convert in model.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def is_utc_zone(spark, tz: str | None) -> bool:
    """True iff ``tz`` resolves to a FIXED zero UTC offset — resolved
    through ``java.time.ZoneId`` (the same resolver Spark applies to
    ``spark.sql.session.timeZone``) rather than a string whitelist,
    which rejected legitimate spellings like ``Etc/GMT``, ``GMT0``,
    ``UTC+00:00`` (r10 advisory).  Fixedness matters, not just the
    current offset: a DST zone parked at +00:00 today (Europe/London
    in winter) still shifts epoch arithmetic across a transition.
    Falls back to a literal fixed-zero whitelist when the JVM gateway
    is unavailable (e.g. a Connect session).  Shared by the streaming
    sessionizer's entry guard and model.load_table's override warning.
    """
    if not tz:
        return False
    try:
        jvm = spark._jvm
        rules = (jvm.java.time.ZoneId
                 .of(tz, jvm.java.time.ZoneId.SHORT_IDS).getRules())
        return bool(rules.isFixedOffset()) and (
            rules.getOffset(jvm.java.time.Instant.EPOCH)
            .getTotalSeconds() == 0)
    except Exception:
        return tz in ("UTC", "Etc/UTC", "Etc/GMT", "Etc/GMT0", "GMT",
                      "GMT0", "UTC+00:00", "GMT+00:00", "+00:00",
                      "+0000", "Z")


class CacheScope:
    """The DataFrames one consumer cached: ``persist`` caches and
    ``checkpoint`` local-checkpoints and registers a frame, ``release``
    (or leaving a ``with`` block, an exception included) unpersists
    every registered frame.  Releasing a persisted frame a plan still
    references only makes Spark recompute it; a released checkpoint has
    no lineage left, so reading it again fails."""

    def __init__(self):
        self._frames: list = []
        self._checkpoints: set = set()      # id()s of checkpoint frames

    def persist(self, df: DataFrame, level=None) -> DataFrame:
        df = df.cache() if level is None else df.persist(level)
        self._frames.append(df)
        return df

    def checkpoint(self, df: DataFrame) -> DataFrame:
        """``df.localCheckpoint(eager=False)``, registered: every plan
        over the result reads one materialization, whatever its shape."""
        df = df.localCheckpoint(eager=False)
        self._frames.append(df)
        self._checkpoints.add(id(df))
        return df

    def release(self, df: DataFrame | None = None) -> None:
        """Unpersist ``df`` (default: every registered frame) and drop
        it from the scope, so the scope only ever holds cached frames."""
        held, self._frames = self._frames, []
        for f in held:
            if df is not None and f is not df:
                self._frames.append(f)
            # a stopped session's cached blocks went with it
            elif f.sparkSession.sparkContext._jsc is not None:
                if id(f) in self._checkpoints:
                    # the checkpointed RDD is the frame's LogicalRDD,
                    # which DataFrame.unpersist does not reach
                    f._jdf.logicalPlan().rdd().unpersist(False)
                else:
                    f.unpersist()
        self._checkpoints &= {id(f) for f in self._frames}

    def __len__(self) -> int:
        return len(self._frames)

    def __enter__(self) -> CacheScope:
        return self

    def __exit__(self, *exc) -> None:
        self.release()
