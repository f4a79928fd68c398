"""Sinks.

The reference has none (every API returns an in-memory frame, SURVEY §2.7
"sink: none"); a Spark engine needs real ones. Thin, explicit wrappers —
the value is the scale-relevant defaults, not abstraction:

- parquet is the default interchange format (columnar, predicate/column
  pushdown on re-read);
- ``partition_by`` maps to directory partitioning (partition pruning on
  downstream scans);
- ``max_records_per_file`` bounds output file sizes so a 100 TB write
  doesn't produce multi-GB files that downstream readers can't split on
  row groups;
- small harmonization *results* (match tables, plans) round-trip through
  ``toPandas`` at the API edge — that is the parity shim with the
  reference's in-memory returns, not a data-plane sink.
"""

from __future__ import annotations

import math
from typing import Dict, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biomedical_data_integration_spark.session import local_frame


def _hadoop_fs(spark, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop API — the
    portable way to rename/delete directories that works identically on
    local FS, HDFS, and any Hadoop-compatible store, unlike
    ``os.rename`` which only sees the driver's local disk."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def replace_dir_atomically(spark, tmp_path: str, final_path: str) -> None:
    """Swap a freshly-written directory over a live one via two renames
    (directory rename is atomic per-operation on local FS and HDFS):
    ``final -> final.old``, ``tmp -> final``, delete ``final.old``.

    This is the sidecar-update discipline for persisted-index stats
    (ADVICE r11, medium): an in-place ``mode("overwrite")`` of a served
    sidecar deletes-then-rewrites under concurrent readers (mid-window
    probes FileScanRDD-fail on the vanished files) and a crash mid-write
    leaves a sidecar whose ``_SUCCESS`` marker is gone — whereas with
    the swap, readers see either the complete old or the complete new
    directory except during the two-rename window (~ms, vs a full
    parquet write). The ``.old`` directory is the crash-recovery copy:
    if the process dies between the renames, the old sidecar is still
    intact on disk under a deterministic name."""
    fs, jtmp = _hadoop_fs(spark, tmp_path)
    _, jfinal = _hadoop_fs(spark, final_path)
    _, jold = _hadoop_fs(spark, final_path + ".old")
    if fs.exists(jold):
        fs.delete(jold, True)
    if fs.exists(jfinal) and not fs.rename(jfinal, jold):
        raise IOError(
            f"replace_dir_atomically: rename {final_path} -> "
            f"{final_path}.old failed"
        )
    if not fs.rename(jtmp, jfinal):
        raise IOError(
            f"replace_dir_atomically: rename {tmp_path} -> "
            f"{final_path} failed"
        )
    fs.delete(jold, True)
    spark.catalog.refreshByPath(final_path)


def list_fragmented_partitions(
    spark, dir_path: str, partition_col: str, max_files: int = 1
) -> List:
    """Partition values under a ``partitionBy`` parquet layout whose
    directory holds more than ``max_files`` data files — the
    candidates for compaction after N ``mode("append")`` batches have
    each dropped their own part files into the partition. A pure
    driver-side listing (no Spark job): one ``listStatus`` per
    partition directory, the same metadata a 1000-executor cluster's
    driver reads to plan any scan."""
    fs, jdir = _hadoop_fs(spark, dir_path)
    out = []
    prefix = partition_col + "="
    for st in fs.listStatus(jdir):
        name = st.getPath().getName()
        if not st.isDirectory() or not name.startswith(prefix):
            continue
        n = sum(
            1
            for f in fs.listStatus(st.getPath())
            if not f.getPath().getName().startswith(("_", "."))
        )
        if n > max_files:
            raw = name[len(prefix):]
            out.append(int(raw) if raw.lstrip("-").isdigit() else raw)
    return sorted(out, key=str)


def rewrite_partitions(
    spark,
    dir_path: str,
    partition_col: str,
    values: List,
    transform=None,
) -> List:
    """Rewrite the given partitions of a ``partitionBy`` parquet layout
    IN PLACE via per-partition atomic directory renames — the shared
    engine under index COMPACTION (``transform=None``: same rows, one
    file per partition) and index DELETES (``transform`` anti-joins the
    doomed rows) for the persisted BM25/IVFPQ indexes (round-11 verdict
    items 2–3).

    Scale shape: the read prunes to exactly the named partitions
    (partition values land in the scan's PartitionFilters), one
    hash-repartition on the partition column gives each value a single
    writer task (one output file per partition), and the swap is one
    atomic rename per partition — IO is proportional to the AFFECTED
    partitions, never the index. Old partition dirs go to a sibling
    ``.rewrite_old`` trash (outside the served directory, so a
    concurrent partition-discovery listing never sees a malformed
    ``col=value.old`` name) and a partition whose rows were ALL removed
    by ``transform`` is simply trashed. Readers of an affected
    partition see the old or the new directory, except during its own
    ~ms rename window."""
    if not values:
        return []
    tmp_root = dir_path + ".rewrite_tmp"
    trash_root = dir_path + ".rewrite_old"
    fs, _ = _hadoop_fs(spark, dir_path)
    for p in (tmp_root, trash_root):
        _, jp = _hadoop_fs(spark, p)
        if fs.exists(jp):
            fs.delete(jp, True)
    df = spark.read.parquet(dir_path).where(
        F.col(partition_col).isin(values)
    )
    if transform is not None:
        df = transform(df)
    df.repartition(F.col(partition_col)).write.mode(
        "overwrite"
    ).partitionBy(partition_col).parquet(tmp_root)
    _, jtrash = _hadoop_fs(spark, trash_root)
    fs.mkdirs(jtrash)
    for v in values:
        name = f"{partition_col}={v}"
        _, jtmp = _hadoop_fs(spark, f"{tmp_root}/{name}")
        _, jfinal = _hadoop_fs(spark, f"{dir_path}/{name}")
        _, jold = _hadoop_fs(spark, f"{trash_root}/{name}")
        if fs.exists(jfinal) and not fs.rename(jfinal, jold):
            raise IOError(
                f"rewrite_partitions: rename {dir_path}/{name} aside "
                "failed"
            )
        if fs.exists(jtmp) and not fs.rename(jtmp, jfinal):
            raise IOError(
                f"rewrite_partitions: rename {tmp_root}/{name} into "
                "place failed"
            )
    for p in (tmp_root, trash_root):
        _, jp = _hadoop_fs(spark, p)
        if fs.exists(jp):
            fs.delete(jp, True)
    spark.catalog.refreshByPath(dir_path)
    return list(values)


def touch_marker(spark, path: str) -> None:
    """Create an empty marker file (overwriting any stale one)."""
    fs, jpath = _hadoop_fs(spark, path)
    fs.create(jpath, True).close()


def marker_exists(spark, path: str) -> bool:
    fs, jpath = _hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def remove_marker(spark, path: str) -> None:
    fs, jpath = _hadoop_fs(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, False)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "error",
    partition_by: Optional[List[str]] = None,
    max_records_per_file: Optional[int] = None,
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "error",
    header: bool = True,
    partition_by: Optional[List[str]] = None,
) -> None:
    w = df.write.mode(mode).option("header", str(header).lower())
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.csv(path)


def write_json(df: DataFrame, path: str, mode: str = "error") -> None:
    df.write.mode(mode).json(path)


def write_training_shards(
    df: DataFrame,
    path: str,
    shard_tokens: int = 5_000_000,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "error",
    tokens_fn=None,
) -> List[Dict]:
    """Write a corpus as token-balanced parquet shards plus a manifest —
    the layout a pretraining data loader consumes (shards small enough to
    stream, counts known up front for scheduling/epoch math).

    Sharding is ``md5(doc_id) mod n_shards`` with ``n_shards = ceil(total
    tokens / shard_tokens)`` — deterministic under reruns and any cluster
    layout, and token-balanced across shards by hash uniformity (law of
    large numbers; no global sort, no skew key). Three passes, all
    scale-bounded: one agg for the total, one write (directory-partitioned
    by shard, so loaders prune to a shard without listing others), and one
    column-pruned read-back of ``(shard, n_tokens)`` that both builds the
    manifest and verifies what actually landed on disk. ``n_tokens`` is
    stored per row — downstream packing/mixing reuses it without
    re-tokenizing. ``tokens_fn`` is the usual tokenizer seam.

    Returns the manifest rows ({shard, n_docs, n_tokens}); also written to
    ``<path>/_manifest`` as single-file JSON.
    """
    from biomedical_data_integration_spark.operators.text import tokens_expr

    tok = tokens_fn or tokens_expr
    sized = df.withColumn(
        "n_tokens", F.size(tok(F.col(text_col))).cast("bigint")
    ).withColumn(
        "n_tokens", F.greatest(F.col("n_tokens"), F.lit(0).cast("bigint"))
    )
    total = sized.agg(F.sum("n_tokens")).collect()[0][0] or 0
    n_shards = max(1, math.ceil(total / shard_tokens)) if shard_tokens else 1
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("shard|"), F.col(id_col).cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % n_shards
    )
    (
        sized.withColumn("shard", shard)
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )
    spark = df.sparkSession
    manifest_df = (
        spark.read.parquet(path)
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("shard")
    )
    rows = manifest_df.collect()
    local_frame(spark, rows, manifest_df.schema).coalesce(1).write.mode(
        "overwrite"
    ).json(f"{path}/_manifest")
    return [r.asDict() for r in rows]


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: List[str],
    num_buckets: int = 32,
    sort_by: Optional[List[str]] = None,
    mode: str = "error",
    path: Optional[str] = None,
) -> None:
    """Persist as a BUCKETED (and optionally sorted) parquet table — the
    co-location primitive for repeated large joins/aggregations.

    Two tables bucketed on the same key with the same bucket count join
    WITHOUT an Exchange on either side (bucket pruning also applies to
    single-key lookups); with ``sort_by`` the sort-merge join's per-task
    sort disappears too. At 100 TB this converts every recurring
    fact-to-fact join on the bucket key from a full shuffle of both
    inputs into a zipped per-bucket merge — the single biggest repeated
    cost a warehouse layout decision can remove. Bucketing requires the
    table catalog (``saveAsTable``); plain ``parquet(path)`` files carry
    no bucket metadata.
    """
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)
