"""Table catalog over the driver's parquet test data.

Mirrors memvid's track model (SURVEY §1.2): one core content table plus
derived side tables, all rebuildable from the core table. Here the driver's
synthetic star schema + ``documents``/``embeddings``/``events`` stand in.

Scale posture: each accessor returns a *lazy* DataFrame straight off
parquet so Catalyst keeps predicate pushdown / column pruning; nothing is
cached or collected at load time. On a real deployment these would be
partitioned tables (documents by ingest date, events by event date) and the
loaders would be unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

from .session import configure

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@dataclass
class Catalog:
    spark: SparkSession
    sf_dir: str
    _cache: dict = field(default_factory=dict)

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            if name not in TABLE_NAMES:
                raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
            df = self.spark.read.parquet(f"{self.sf_dir}/{name}.parquet")
            if name == "events" and isinstance(
                df.schema["ts"].dataType, (TimestampType, TimestampNTZType)
            ):
                # Engine contract: events.ts is epoch-ns long. The test
                # data stores it as parquet timestamp[us], read as
                # TimestampType — normalize it here. A TIMESTAMP(NANOS)
                # file reads as long ns under
                # spark.sql.legacy.parquet.nanosAsLong and skips this
                # branch, so the operator surface sees one type either way.
                # NTZ → LTZ cast is wall-clock; session tz is pinned UTC so
                # it matches DuckDB's naive epoch_us() on the same file.
                df = df.withColumn(
                    "ts",
                    (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)).cast("long"),
                )
            self._cache[name] = df
        return self._cache[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLE_NAMES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self, prefix: str = "") -> None:
        for name in TABLE_NAMES:
            self.table(name).createOrReplaceTempView(prefix + name)


def load(spark: SparkSession, sf_dir: str) -> Catalog:
    """Configure the session (runtime confs incl. nanos-as-long) and
    return a lazy catalog over ``sf_dir``.

    The catalog is cached per (session, sf_dir) — round 12: every query
    construction re-ran ~7 py4j conf.set round trips plus one
    spark.read.parquet per touched table (~110-130 ms each: file
    listing + footer/schema read), measured at 25-40% of a headline
    sample's wall at sf0.1. Reuse is safe: the cached DataFrames are
    lazy immutable plans over the driver's read-only test tables (a
    warehouse catalog object is long-lived for exactly this reason).
    The cache lives ON the session object, so a new session — the
    correctness driver's, a fresh bench process — never sees another
    session's plans, and dropping the session drops the cache."""
    sf_dir = sf_dir.rstrip("/")
    cache = getattr(spark, "_memvid_catalogs", None)
    if cache is None:
        cache = {}
        try:
            spark._memvid_catalogs = cache
        except Exception:
            pass  # exotic session proxy that rejects attributes
    cat = cache.get(sf_dir)
    if cat is None:
        configure(spark)
        cat = Catalog(spark=spark, sf_dir=sf_dir)
        cache[sf_dir] = cat
    return cat
