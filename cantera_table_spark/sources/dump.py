"""Export — the ``ca-dump`` equivalent (reference ca-dump.cc:220-404).

Each reference dump format becomes a DataFrame the caller can ``show``,
``collect`` or ``write`` (csv/json): the writer replaces the
single-threaded stdout loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cantera_table_spark.model import Catalog


def dump_postings(catalog: Catalog, key_filter: str | None = None,
                  prefix: str | None = None) -> DataFrame:
    """Raw postings TSV shape (ca-dump.cc:74-94) with the optional regex
    / prefix-seek filters (ca-dump.cc:78-84, 334-338)."""
    df = catalog.index().select("keyword", "doc_id", "score")
    if prefix:
        df = df.filter(F.col("keyword").startswith(prefix))
    if key_filter:
        df = df.filter(F.col("keyword").rlike(key_filter))
    return df


def dump_index_with_summaries(catalog: Catalog,
                              key_filter: str | None = None) -> DataFrame:
    """Index joined to document names (ca-dump.cc:96-129, J7).

    LEFT join: a posting whose doc_id has no summary row (stale or
    partial summary shard — a catalog integrity violation, the
    reference resolves the owning summary per posting) surfaces with a
    NULL doc_key instead of vanishing from the dump; the former inner
    join silently dropped such rows from a dump->load round trip (r11
    review; the loud-misconfiguration convention)."""
    df = dump_postings(catalog, key_filter=key_filter)
    docs = catalog.summary().select("doc_id", F.col("key").alias("doc_key"))
    return (df.join(docs, "doc_id", "left")
            .select("keyword", "doc_key", "score"))


def dump_summaries(catalog: Catalog) -> DataFrame:
    """Summaries TSV (ca-dump.cc:131-146)."""
    return catalog.summary().select("key", "doc")


def dump_timeseries(timeseries: DataFrame,
                    time_format: str = "yyyy-MM-dd HH:mm:ss") -> DataFrame:
    """Time-series dump with formatted timestamps (ca-dump.cc:148-216,
    X3).  ``time_format`` is a JAVA DateTimeFormatter pattern
    (``yyyy-MM-dd HH:mm:ss``), NOT the reference CLI's strftime style:
    date_format would treat ``%Y-%m-%d`` as mostly-literal junk and
    silently garble every row (week-based 'Y', minute 'm'...), so a
    '%'-style pattern is rejected loudly with the translation hint
    instead (r11 review)."""
    if "%" in time_format:
        raise ValueError(
            f"time_format {time_format!r} looks like a C strftime "
            "pattern; dump_timeseries takes Java DateTimeFormatter "
            "patterns (e.g. %Y-%m-%d %H:%M:%S -> yyyy-MM-dd HH:mm:ss)")
    return timeseries.select(
        "key", F.date_format("ts", time_format).alias("time"), "value")


def dump_counts(catalog: Catalog) -> DataFrame:
    """A6: per-key posting counts (ca-dump.cc:340-367)."""
    return (catalog.index().groupBy("keyword")
            .agg(F.count("*").alias("n_postings")))
