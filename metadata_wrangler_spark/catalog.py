"""Table loaders for the driver's test data.

The star schema (region nation customer supplier part orders
lineitem events) plus the training-data tables (documents,
embeddings) live as one parquet file per table under
``/root/testdata/sf{N}/``.

At cluster scale the same loaders point at partitioned parquet/Delta
directories; nothing here assumes single-file inputs.

Besides the loaders, this module holds the two driver-side helpers
every size-based plan decision goes through:

* ``table_stats`` — a table's rows (summed parquet footers) and bytes
  (summed data-file sizes), for a single file or a directory of part
  files, read at call time without a Spark job: the catalog-statistics
  lookup a cost-based optimizer makes instead of scanning. ``None``
  ("unknown") for a remote or missing path, and each caller then
  keeps its at-scale-safe side (a ``count()`` for rows, the cached
  tier for bytes).
* ``memo`` — the session-scoped store for persisted intermediates
  that several queries share (basket analytics, overlap baskets),
  keyed like the load cache; ``clear_memo`` unpersists it.
"""

from __future__ import annotations

import os
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale.
DIMENSIONS = ("region", "nation")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# session → {(sf_dir, table) → DataFrame}. A DataFrame is just a
# plan; reusing one avoids re-paying the parquet footer/schema read
# every query invocation. Keyed weakly on the live session object
# (not id(spark) — CPython reuses ids after GC, which could serve a
# plan bound to a dead session) so entries die with the session.
# Caveat: a cached plan pins the scan's file listing; for a table
# directory rewritten in place under the SAME session, call
# ``invalidate(sf_dir)`` to drop the stale listing.
import weakref

_LOAD_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def invalidate(sf_dir: str | None = None) -> None:
    """Drop cached plans (for ``sf_dir``, or all) — needed when a
    table directory is rewritten in place mid-session."""
    for per_session in _LOAD_CACHE.values():
        for key in [k for k in per_session if sf_dir is None or k[0] == sf_dir]:
            del per_session[key]


# session → {(sf_dir, name) → persisted frame or tuple of frames}:
# intermediates that several queries share, keyed like _LOAD_CACHE.
# One sf_dir's frames live per session — entering a new scale (bench
# ladders iterate sf0.001 -> sf1) evicts the old scale's persisted
# frames instead of accumulating MEMORY_AND_DISK storage for the
# life of the session.
_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], object]]" = (
    weakref.WeakKeyDictionary()
)


def memo(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[], object]
):
    """The memoized ``build()`` result for ``(sf_dir, name)`` in this
    session; a miss on a new ``sf_dir`` first unpersists the frames
    of every other ``sf_dir``."""
    per_session = _MEMO.setdefault(spark, {})
    key = (sf_dir, name)
    if key not in per_session:
        for k in [k for k in per_session if k[0] != sf_dir]:
            _unpersist(per_session.pop(k))
        per_session[key] = build()
    return per_session[key]


def clear_memo() -> None:
    """Unpersist and drop every memoized frame of every session."""
    for per_session in _MEMO.values():
        for frames in per_session.values():
            _unpersist(frames)
        per_session.clear()


def _unpersist(frames) -> None:
    for df in frames if isinstance(frames, tuple) else (frames,):
        try:
            df.unpersist()
        except Exception:  # session already stopped — nothing to free
            pass


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    per_session = _LOAD_CACHE.setdefault(spark, {})
    key = (sf_dir, name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    if name == "events":
        # events.parquet may store TIMESTAMP(NANOS), which the Spark
        # parquet reader rejects natively. The conf is runtime-settable
        # and must be applied here (not only in the session factory)
        # because callers may pass in their own SparkSession.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read via nanosAsLong: convert to a real
        # microsecond timestamp (integer division — nanos exceed 2^53,
        # so float division would corrupt them).
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    per_session[key] = df
    return df


class TableStats(NamedTuple):
    rows: int
    bytes: int


def table_stats(sf_dir: str, name: str) -> TableStats | None:
    """Rows and bytes of table ``name`` from its parquet footers and
    file sizes — a single file or a directory of part files (hidden
    ``_``/``.`` entries skipped, as Spark's file index does). Read in
    the calling process at call time; runs no Spark job. ``None``
    means unknown: a remote or missing path."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if "://" in path:
        return None
    try:
        files = [path]
        if os.path.isdir(path):
            files = []
            for root, dirs, names in os.walk(path):
                dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                files += [os.path.join(root, f) for f in names
                          if not f.startswith(("_", "."))]
        return TableStats(
            rows=sum(pq.read_metadata(f).num_rows for f in files),
            bytes=sum(os.stat(f).st_size for f in files),
        )
    except OSError:
        return None


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of table ``name`` for a tier hint or cutoff: the
    footer stats, or one ``count()`` job when they are unknown."""
    st = table_stats(sf_dir, name)
    return st.rows if st else load(spark, sf_dir, name).count()


def widen(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin repartition UP to the session parallelism — and
    never DOWN. Local single-file scans often yield fewer input
    splits than cores (a 6 MiB documents.parquet is a 5-split scan),
    serializing CPU-heavy downstream projections (tokenize, shingle,
    hash-per-window) onto a handful of tasks. At cluster scale a
    100 TB table already has orders of magnitude more splits than
    ``defaultParallelism``, in which case this is an explicit no-op —
    unlike a bare ``repartition(n)``, which would SHRINK it.

    The cost when it does fire is one narrow shuffle of the raw
    column(s), which measured cheaper than leaving 27 of 32 cores
    idle through the expensive projection (dd_span_dedup at sf0.1:
    0.96 s -> 0.77 s)."""
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def events_since(
    spark: SparkSession, sf_dir: str, watermark: str
) -> DataFrame:
    """Events strictly after ``watermark`` ('YYYY-MM-DD HH:MM:SS',
    UTC) — the incremental-feed scan.

    The exact predicate compares the DERIVED timestamp, which parquet
    statistics cannot evaluate; a redundant band predicate on the RAW
    nanos column is added first so the scan gets a pushable filter
    (row-group/partition skipping at 100 TB). The band is slackened
    by one day so it stays a strict superset of the exact filter
    under any session timezone (the exact cast is session-tz, the
    band is UTC; max offset ±14 h) — a day of slop prunes nothing
    meaningful on a multi-year fact table.
    """
    from datetime import datetime, timezone

    band_micros = int(
        datetime.strptime(watermark, "%Y-%m-%d %H:%M:%S")
        .replace(tzinfo=timezone.utc).timestamp() * 1_000_000
    ) - 86_400 * 1_000_000
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    if dict(raw.dtypes).get("ts") == "bigint":
        raw = raw.where(F.col("ts") > F.lit(band_micros * 1000))
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return raw.where(
        F.col("ts") > F.lit(watermark).cast("timestamp")
    )


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}
