"""Source readers (SURVEY.md §2.1, S1-S3).

Reference behavior being re-expressed (cited for parity checks):

- S1 object-store listing with date layout + ``000`` name prefix:
  ``/root/reference/taxi_trips_etl.py:29-35`` lists blobs under
  ``YYYY/MM/DD/`` and keeps names starting with ``000``.
  Spark-native: a path glob pushed into the scan — the driver never
  enumerates files itself, the Hadoop listing is distributed and the
  scan reads every matched file in one job (vs. the reference's one
  load-job *per file*).
- S2/S3 parquet & csv loads with schema autodetect or explicit schema:
  ``/root/reference/taxi_trips_etl.py:43-74``.

At 100 TB the thing that matters is that listing+reading stays one
declarative scan: partition discovery, filter pushdown and column
pruning then all happen inside Catalyst (check ``PushedFilters`` /
``ReadSchema`` in ``.explain``).
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import DataFrame, SparkSession

FILE_PREFIX = "000"  # the reference's blob-name prefix (constants.py:28-29)


def day_glob(base: str, ds: str) -> str:
    """Path glob for one day's files: ``base/YYYY/MM/DD/000*``.

    Mirrors the reference's prefix filter (taxi_trips_etl.py:33-35,
    constants.py:28-29) as a glob the scan can consume directly.
    """
    y, m, d = ds.split("-")
    return os.path.join(base, y, m, d, f"{FILE_PREFIX}*")


def list_day_files(base: str, ds: str) -> list[str]:
    """Driver-side listing used only for the short-circuit gate (O2).

    The *data* path never uses this — reads go through :func:`day_glob`
    so listing is distributed. This exists purely to answer "is there
    anything to process today?" like the reference's
    ShortCircuitOperator (taxi_trips_etl.py:84-85, 199-207).
    """
    return sorted(_glob.glob(day_glob(base, ds)))


# Zone ids whose wall-clock semantics are identical to UTC — a session
# pinned to any of these is fine; rejecting them (containers often
# resolve /etc/localtime to Etc/UTC rather than literal "UTC") would be
# a false positive.
_UTC_EQUIVALENT_ZONES = frozenset(
    {
        "UTC", "Etc/UTC", "GMT", "Etc/GMT", "GMT0", "Etc/GMT0",
        "Etc/GMT+0", "Etc/GMT-0", "Greenwich", "Etc/Greenwich",
        "Universal", "Etc/Universal", "Zulu", "Etc/Zulu", "Z",
        "+00:00", "UCT", "Etc/UCT",
    }
)


def require_utc_session(spark, what: str = "event-time readers") -> None:
    """Raise unless the session timezone is (an alias of) UTC.

    The single shared guard behind the repo invariant that entry
    points PIN utc and readers never silently flip a global conf a
    caller may have set deliberately (the NTZ→TIMESTAMP cast in
    :func:`normalize_event_ts` reinterprets wall-clock in the session
    zone, so a wrong zone shifts every timestamp).
    """
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz not in _UTC_EQUIVALENT_ZONES:
        raise ValueError(
            f"{what} require a UTC session timezone (got {tz!r}); set "
            "spark.sql.session.timeZone=UTC at the entry point"
        )


def require_nanos_as_long(spark, what: str = "event-time readers") -> None:
    """Raise unless ``spark.sql.legacy.parquet.nanosAsLong=true``.

    Same posture as :func:`require_utc_session`: readers never silently
    mutate session-global conf (flipping nanosAsLong mid-session would
    change how *other* code in the same session reads nanos-typed
    parquet). Entry points pin it — ``session.get_spark`` at build time,
    ``queries._utc`` per driver-invoked query — and readers only check.
    """
    v = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    if str(v).lower() != "true":
        raise ValueError(
            f"{what} require spark.sql.legacy.parquet.nanosAsLong=true "
            "(events parquet may carry TIMESTAMP(NANOS), which the "
            "vectorized reader otherwise rejects); build the session via "
            "taxi_trips_etl_spark.session.get_spark() or set the conf at "
            "your entry point"
        )


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the ``ts`` event-time column to session-local TIMESTAMP no matter
    how the parquet footer typed it across testdata generations:

    - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; with
      ``spark.sql.legacy.parquet.nanosAsLong`` the column arrives as
      bigint nanos — truncate to micros with an exact integer ``div``
      (a double division would lose precision at 1e18).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads
      TIMESTAMP_NTZ; cast to TIMESTAMP reinterprets the wall-clock in
      the session timezone (UTC everywhere in this repo), which matches
      DuckDB's naive read of the same file bit-for-bit.
    - TIMESTAMP: pass through unchanged.

    Keeping event time as TIMESTAMP (not NTZ) also satisfies Structured
    Streaming, whose watermarks reject NTZ event-time columns.

    Preconditions this helper enforces rather than assumes:

    - the bigint branch only means "nanos" when the session read the
      file with ``spark.sql.legacy.parquet.nanosAsLong=true`` — callers
      in this repo set it at session build (session.py), and we assert
      it here so a foreign session can't silently mis-scale;
    - the NTZ→TIMESTAMP cast is value-preserving only under a UTC
      session timezone. Like the nanosAsLong check below, we RAISE on a
      non-UTC session instead of silently flipping a global conf a
      caller may have set deliberately (the cast evaluates lazily, so a
      set-and-restore here would not even govern execution time). Every
      entry point in this repo pins UTC itself (queries._utc, the
      streaming readers).
    """
    from pyspark.sql import functions as F

    spark = df.sparkSession
    require_utc_session(spark, what="normalize_event_ts")
    t = dict(df.dtypes).get("ts")
    if t == "bigint":
        nanos_as_long = spark.conf.get(
            "spark.sql.legacy.parquet.nanosAsLong", "false"
        )
        if str(nanos_as_long).lower() != "true":
            raise ValueError(
                "normalize_event_ts: column 'ts' is bigint but "
                "spark.sql.legacy.parquet.nanosAsLong is not set; cannot "
                "tell nanos from a plain integer column. Build the session "
                "via taxi_trips_etl_spark.session.get_spark()."
            )
        df = df.withColumn("ts", F.timestamp_micros(F.expr("`ts` div 1000")))
    elif t == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_parquet(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """S2: parquet load. No schema is given, so Spark 4.1 infers it
    from a footer, and that inference runs one Spark job per call.
    ``taxi_testdata.read_lineitem`` is the job-free path: it reads the
    footer with pyarrow and hands Spark the schema."""
    return spark.read.parquet(*(path if isinstance(path, list) else [path]))


def read_csv(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """S3: CSV with header-skip + autodetected schema.

    ``skip_leading_rows=1`` (taxi_trips_etl.py:45) ≡ ``header=True``;
    ``autodetect=True`` (taxi_trips_etl.py:47-51) ≡ ``inferSchema``.
    """
    reader = spark.read.option("header", True).option("inferSchema", True)
    return reader.csv(path if isinstance(path, list) else [path])


def read_day_batch(
    spark: SparkSession,
    base: str,
    ds: str,
) -> DataFrame:
    """S1+S2 composed: one parquet scan over the day's matched files.

    The reference loads each file with its own BigQuery job, first
    TRUNCATE then APPEND (taxi_trips_etl.py:36-40, 77-80). One globbed
    scan has identical table semantics and parallelizes per-file.
    """
    return read_parquet(spark, day_glob(base, ds))


def read_jsonl(spark, path: str, schema=None):
    """JSONL corpus reader — the interchange format document corpora
    actually arrive in. An explicit schema skips Spark's whole-file
    inference scan (at 100 TB, inference reads everything twice);
    `columnNameOfCorruptRecord` quarantines bad lines instead of
    failing the ingest.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt"
    ).json(path)


def write_jsonl(df, path: str) -> None:
    """JSONL writer (one object per line, parallel part files)."""
    df.write.mode("overwrite").json(path)
