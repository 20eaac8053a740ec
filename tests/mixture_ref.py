"""The plain plan of ``functions.sampling.mixture_sample``: one
exclusive running token sum over each whole ``source`` stratum in
sample-hash order. The package runs a two-level plan instead (bucket
offsets, then a cumsum inside the boundary buckets only); the tests
compare the two row for row."""

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cantera_table_spark.functions.sampling import sample_hash
from cantera_table_spark.functions.text import tokens


def naive_mixture_sample(df: DataFrame, weights: dict,
                         total_tokens: int) -> DataFrame:
    """(source, doc_id, n_tokens) of the documents admitted while the
    tokens of the hash-earlier documents of their stratum are under the
    stratum's quota, ``total_tokens * w / sum(w)``."""
    w_sum = float(sum(weights.values()))
    quotas = {s: int(total_tokens * w / w_sum) for s, w in weights.items()}
    qdf = df.sparkSession.createDataFrame(
        [(k, int(v)) for k, v in quotas.items()],
        T.StructType([df.schema["source"],
                      T.StructField("__q", T.LongType())]))
    n_tok = F.coalesce(F.size(tokens(F.col("text"))), F.lit(0))
    base = (df.filter(F.col("doc_id").isNotNull())
            .select(F.col("source"), F.col("doc_id"),
                    n_tok.cast("long").alias("n_tokens"),
                    sample_hash(F.col("doc_id")).alias("__h"))
            .join(F.broadcast(qdf), "source"))
    w = (Window.partitionBy("source")
         .orderBy(F.col("__h").asc(), F.col("doc_id").asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (base.withColumn("__cum", cum)
            .filter(F.col("__cum") < F.col("__q"))
            .select("source", "doc_id", "n_tokens"))
