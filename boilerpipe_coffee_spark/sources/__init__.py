"""Sources and sinks for the interleaved-document pipeline.

Production target is an Iceberg table (BASELINE.json ``input_hint``);
this sandbox has no Iceberg runtime jars, so every reader/writer goes
through :func:`table_format`, which uses Iceberg's DSv2 ``writeTo`` /
``read.format("iceberg")`` when a catalog is configured and falls back
to parquet paths otherwise.  The access pattern (select only needed
columns, partition output by bucket(doc_id)) is identical either way --
Catalyst pushes projection/predicates into both scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

INTERLEAVED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN_STRUCT)),
    ]
)

OUT_SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("order", IntegerType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("title", StringType()),
        StructField("spans", ArrayType(OUT_SPAN_STRUCT)),
        StructField("error", StringType()),
    ]
)


def iceberg_available(
    spark: SparkSession, catalog: str | None = None
) -> bool:
    """True when an Iceberg catalog is configured on this session --
    either the given ``catalog`` name or one of the conventional
    defaults."""
    names = (
        [catalog] if catalog else ["spark_catalog", "local"]
    )
    try:
        for name in names:
            impl = spark.conf.get(f"spark.sql.catalog.{name}", None)
            if impl and "iceberg" in impl.lower():
                return True
    except Exception:
        pass
    return False


def _table_catalog(identifier: str) -> str | None:
    """Catalog component of a dotted table identifier (None for paths)."""
    if "/" in identifier or "." not in identifier:
        return None
    return identifier.split(".", 1)[0]


def read_interleaved(spark: SparkSession, source: str) -> DataFrame:
    """Scan the interleaved-document table, projecting only the two
    needed columns so DSv2 column pruning reaches the file scan."""
    cat = _table_catalog(source)
    if "/" not in source and iceberg_available(spark, cat):
        df = spark.read.format("iceberg").load(source)
    else:
        df = spark.read.parquet(source)
    return df.select("doc_id", "spans")


def read_docs(
    spark: SparkSession, source: str, fmt: str = "parquet"
) -> DataFrame:
    """Interleaved docs from any supported container -- the jobs'
    ``--input-format`` dispatcher:

    - ``parquet`` (default): table/path via :func:`read_interleaved`
      (Iceberg when the catalog is live).
    - ``jsonl``: the golden interchange format (FAILFAST).
    - ``warc``: crawl shards (``*.warc.gz`` glob) via
      :mod:`.warc` -- response records re-split into interleaved
      spans; records the WARC layer quarantined (corrupt gzip,
      truncated records, chunked encoding) carry no spans and are
      dropped HERE, before extraction (extraction's own quarantine
      contract covers parse errors, not container damage)."""
    if fmt == "parquet":
        return read_interleaved(spark, source)
    if fmt == "jsonl":
        return read_interleaved_jsonl(spark, source)
    if fmt == "warc":
        from .warc import read_warc, warc_to_interleaved

        return (
            warc_to_interleaved(read_warc(spark, source))
            .filter(F.col("error").isNull())
            .select("doc_id", "spans")
        )
    raise ValueError(f"unknown input format {fmt!r}")


def read_interleaved_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Interleaved documents from JSONL (optionally .gz) -- the
    format the golden corpora and tools/oracle.js exchange
    (``{"doc_id": ..., "spans": [{kind,text,media_ref,offset}, ...]}``
    per line).  An explicit schema keeps the reader single-pass (no
    inference scan) and coerces types to INTERLEAVED_SCHEMA so the
    extraction operators accept the frame unchanged; Spark's json
    source decompresses .gz by extension.  FAILFAST because this is a
    pinned interchange contract: a corrupt/truncated line must abort
    the read, not flow into extraction as an 'empty doc' with null
    doc_id/spans (the PERMISSIVE default)."""
    return (
        spark.read.schema(INTERLEAVED_SCHEMA)
        .option("mode", "FAILFAST")
        .json(path)
        .select("doc_id", "spans")
    )


def write_output(df: DataFrame, target: str) -> None:
    """Write extraction output.  With Iceberg: ``writeTo(...).append()``
    on a table partitioned by ``bucket(256, doc_id)`` (hidden
    partitioning -> partition pruning on doc_id lookups).  Parquet
    fallback: plain append."""
    spark = df.sparkSession
    if "/" not in target and iceberg_available(spark, _table_catalog(target)):
        # branch on explicit existence -- an append failure (schema
        # mismatch, permissions) must propagate, not be masked by a
        # create-on-existing-table fallback
        if spark.catalog.tableExists(target):
            df.writeTo(target).append()
        else:
            df.writeTo(target).partitionedBy(
                F.bucket(256, F.col("doc_id"))
            ).create()
        return
    df.write.mode("append").parquet(target)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_col: str,
    n_buckets: int = 8,
) -> None:
    """Bucketed parquet sink: co-locates rows by ``hash(bucket_col)``
    at WRITE time, sorted by it within each bucket, so later equi-joins
    and aggregations on that key scan pre-partitioned (and pre-sorted)
    data and plan with NO
    exchange -- the parquet-table analogue of the Iceberg
    ``bucket(256, doc_id)`` hidden partitioning :func:`write_output`
    uses.  At 100 TB this converts every repeated join against the
    table from a full shuffle into a local merge; pay the partitioning
    cost once at ingest, not per query (plan-asserted in
    tests/test_plans.py)."""
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table)
    )


def register_bucketed(
    spark: SparkSession,
    table: str,
    path: str,
    bucket_col: str,
    n_buckets: int = 8,
    schema: str | None = None,
) -> DataFrame:
    """Re-attach bucketing metadata to files :func:`write_bucketed`
    produced in ANOTHER session.  Bucket layout lives in the catalog,
    not the parquet files, and the default session catalog is
    in-memory -- so a downstream consumer session must re-register the
    external table over the existing (bucket-suffixed) files before
    its joins/aggregations can plan exchange-free.  DROP/CREATE of an
    external LOCATION table never touches the data files.  The
    declared spec must match what was written (same bucket_col /
    n_buckets) -- Spark trusts the DDL.

    ``schema`` (a DDL column list) skips file-based inference -- a
    legitimately EMPTY table (e.g. a dedup index whose band buckets
    were all capped) has no parquet file to infer from."""
    if schema is not None:
        cols = schema
    else:
        df = spark.read.parquet(path)
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in df.schema.fields
        )
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    spark.sql(
        f"CREATE TABLE `{table}` ({cols}) USING PARQUET "
        f"CLUSTERED BY (`{bucket_col}`) SORTED BY (`{bucket_col}`) "
        f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
    )
    return spark.table(table)


def synth_interleaved(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    giant_max: int = 600,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic corpus: ``range(n) -> mapInPandas`` so
    generation scales with the cluster instead of the driver.  The
    generator is seeded per doc index, so any subset of partitions
    yields the same rows -- which is also what makes per-partition
    resume (operators.pipeline) deterministic."""
    import pandas as pd

    from ..fixtures import generate_doc

    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism * 2, 8)

    def gen(batches):
        for pdf in batches:
            docs = [generate_doc(int(i), seed, giant_max) for i in pdf["id"]]
            yield pd.DataFrame(
                {
                    "doc_id": [d["doc_id"] for d in docs],
                    "spans": [d["spans"] for d in docs],
                }
            )

    return spark.range(0, n_docs, numPartitions=partitions).mapInPandas(
        gen, schema=INTERLEAVED_SCHEMA
    )
