"""The PrePartition pipeline — the reference's only live pipeline.

Reference composition (code/KustoPreForgeLib/EtlRun.cs:123-137):

    ListBlobSource → DownloadBlobTransform → [GunzipContentTransform] →
    CsvParseTransform(colIndex, partitionFn) → PartitioningTextTransform →
    PartitionedContentSink(stagingContainers, 1-min flush)

Spark-first re-expression (SURVEY §7 Phase 1): the download/gunzip/parse
stages are the Spark reader; the hash+scatter+sink stages are

    withColumn(pid, kusto_preforge_hash(key, N, seed))
      → scatter: repartition(min(N, P), pid)   # the shuffle IS the scatter
      → write.partitionBy(pid)                 # per-partition staged output
      → manifest read back from the written files

Intended semantics (not the buggy byte layout — SURVEY §4.3 #1/#2/#3):
dense per-partition concatenation of records, every input record present in
exactly one partition, partition id = XOR-fold hash of the key field.

Scale: like the reference's one pass per blob, the input is scanned once.
The only wide exchange is :func:`scatter`'s hash repartition on ``pid``,
sized to the cluster's task slots ``P = defaultParallelism`` rather than to
``N``: ``min(N, P)`` reducers, or a salted ``N × writers`` exchange when
``2N ≤ P``. Map-side the hash is computed inside WholeStageCodegen. The
manifest aggregates the written files (key and pid columns only), never
the input a second time. ``max_partition_count`` ≤ 2048 (Kusto's cap)
keeps output file counts bounded at 100 TB; per-pid output splits into
multiple files sized by ``spark.sql.files.maxRecordsPerFile`` if needed.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kusto_pre_forge_spark.catalog import PartitionPolicy
from kusto_pre_forge_spark.functions.hashing import kusto_preforge_hash

PID_COL = "_kpf_pid"
SOURCE_COL = "_kpf_source"
STAGING_COL = "_kpf_staging"


def prepartition(df: DataFrame, policy: PartitionPolicy) -> DataFrame:
    """Assign the reference's partition id to every record.

    ≡ CsvParseTransform extracting the key column + PartitioningHelper hash
    (ref: Transforms/CsvParseTransform.cs:83-102, PartitioningHelper.cs:15-24).
    NULL keys hash like the empty field (hash = seed % N): the reference
    never materializes a NULL (raw bytes of an empty CSV field are empty).
    """
    key = policy.column_name
    hashed = kusto_preforge_hash(key, policy.max_partition_count, policy.seed)
    pid = F.when(F.col(key).isNull(), policy.seed % policy.max_partition_count).otherwise(hashed)
    return df.withColumn(PID_COL, pid.cast("int"))


def partition_samples(df_with_pid: DataFrame, policy: PartitionPolicy) -> DataFrame:
    """One sample key value per partition id.

    ≡ CsvParseTransform keeping the first seen value per pid
    (ref: Transforms/CsvParseTransform.cs:93-98, sampling dict :124-133).
    "First seen" is scan-order-dependent; we pin ``min`` for determinism —
    any representative value satisfies the reference's use (it only labels
    staged blobs). Map-side partial aggregation makes this a cheap shuffle.
    """
    return df_with_pid.groupBy(PID_COL).agg(
        F.min(policy.column_name).alias("partition_value_sample"),
        F.count(F.lit(1)).alias("record_count"),
    )


def scatter(
    with_pid: DataFrame, policy: PartitionPolicy, writers: int | None = None
) -> DataFrame:
    """The hash exchange on ``pid`` that both the batch and the streaming
    PrePartition write from — the shuffle IS the reference's scatter into
    per-partition buffers (PartitioningTextTransform).

    The exchange is sized to the task slots ``P = defaultParallelism``, not
    to the pid count ``N``:

    - ``writers == 1``: ``min(N, P)`` reducers hashed on ``pid``. A pid
      lands in exactly one reducer, so every pid directory a write creates
      holds one dense file, and no task (with its scheduling and task
      deserialization) is spent on an empty reducer. Trade-off: with
      fewer reducers than pids, Murmur3 collisions put several pids on one
      reducer and the fullest reducer sets the write stage's time (a
      600k-row, 64-pid pass on 4 cores put 108k-196k rows on each of its
      4 reducers).
    - ``writers > 1`` (the default when ``2N ≤ P``): a salted
      ``N × writers`` exchange keeps every slot writing; each pid
      directory then holds up to ``writers`` files.

    ``writers`` defaults to ``max(1, P // N)``.
    """
    n = policy.max_partition_count
    slots = with_pid.sparkSession.sparkContext.defaultParallelism
    writers = writers or max(1, slots // n)
    if writers == 1:
        return with_pid.repartition(min(n, slots), F.col(PID_COL))
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(writers))
    return with_pid.repartition(n * writers, F.col(PID_COL), salt)


@dataclass
class PrePartitionResult:
    output_path: str
    manifest: list[dict]
    #: per-run counter sums ≡ PerfCounterJournal output
    #: (code/KustoPreForgeLib/PerfCounterJournal.cs:10-72) — summed from
    #: the manifest, no Spark job of their own
    journal: dict[str, int] | None = None
    #: staging roots when round-robin multi-dir output was requested
    staging_paths: list[str] | None = None


def run_prepartition(
    df: DataFrame,
    policy: PartitionPolicy,
    output_path: str | list[str],
    fmt: str = "parquet",
    compression: str | None = None,
    writers_per_partition: int | None = None,
    perf_journal=None,
) -> PrePartitionResult:
    """Full pipeline: hash → scatter → partitioned write → manifest.

    The write is the PartitionedContentSink analogue
    (ref: Transforms/PartitionedContentSink.cs:54-132): one directory per
    partition id replaces one staged block blob per pid; the returned
    manifest (pid, sample, count) replaces the sink's journal counters.
    It is aggregated from the written files, so it describes exactly what
    was written (even for a nondeterministic key) and the input is scanned
    once. Flush-interval/micro-batch semantics live in ``streaming.ingest``.

    ``writers_per_partition``: the :func:`scatter` ``writers``. A policy
    with small ``max_partition_count`` (Kusto policies are often 8-256)
    would otherwise bound the write to ``N`` reducers regardless of
    cluster size; salting the exchange to ``N × writers`` tasks keeps every
    executor writing (each pid directory then holds up to ``writers``
    dense files) — the analogue of the reference sink's
    MAX_PARALLEL_WRITES=16 concurrent block writes per blob
    (PartitionedContentSink.cs:136). Default: scale to the cluster,
    ``max(1, defaultParallelism // N)``; at 1, the exchange has
    ``min(N, defaultParallelism)`` reducers and one file per pid.

    ``output_path`` may be a LIST of staging roots — the reference's
    multi-staging-container spread (PartitionedContentSink.cs:54-65 assigns
    each new pid the next container round-robin; arrival order is
    meaningless in a parallel engine, so the deterministic analogue is
    ``pid % n_roots``). One scan, one shuffle, ONE write partitioned by
    (staging, pid) into a temp root, then per-directory moves — a
    metadata-only rename on a filesystem / same-account blob store, never
    an extra pass over the data.
    """
    staging = [output_path] if isinstance(output_path, str) else list(output_path)
    scattered = scatter(prepartition(df, policy), policy, writers_per_partition)
    root, keys = staging[0], [PID_COL]
    if len(staging) > 1:
        root = staging[0].rstrip("/") + ".__kpf_staging_tmp__"
        scattered = scattered.withColumn(
            STAGING_COL, F.pmod(F.col(PID_COL), F.lit(len(staging)))
        )
        keys = [STAGING_COL, PID_COL]
    writer = scattered.write.mode("overwrite").partitionBy(*keys)
    if compression:
        writer = writer.option("compression", compression)
    writer.format(fmt).save(root)

    # the schema lets an empty write (no data file) and formats that do
    # not describe themselves (csv) read back
    written = df.sparkSession.read.format(fmt).schema(scattered.schema).load(root)
    manifest = [r.asDict() for r in partition_samples(written, policy).collect()]
    if len(staging) > 1:
        _move_round_robin(df.sparkSession, root, staging)
        for m in manifest:
            m["staging_dir"] = staging[m[PID_COL] % len(staging)]
    counters = {
        "PrePartition.RecordCount": sum(m["record_count"] for m in manifest),
        "PrePartition.PartitionCount": len(manifest),
    }
    if perf_journal is not None:
        for name, value in counters.items():
            perf_journal.add_reading(name, value)
    return PrePartitionResult(
        output_path=staging[0],
        manifest=manifest,
        journal=counters,
        staging_paths=staging if len(staging) > 1 else None,
    )


def _move_round_robin(spark, tmp_root: str, staging: list[str]) -> None:
    """Move the ``_kpf_staging=i/_kpf_pid=*`` directories of a write
    partitioned by (staging idx, pid) into the round-robin staging roots —
    rename, not rewrite — and delete the temp root.

    Moves go through the Hadoop ``FileSystem`` API (resolved from the path
    scheme), so they work on any store Spark can write to — local/file:,
    HDFS, s3a://, abfss:// — not just the driver's local filesystem.
    On HDFS/local the rename is a metadata op; object stores implement it
    as server-side copy+delete, still never re-reading through Spark.
    All staging roots must live on the SAME filesystem as the temp root
    (the reference's multi-staging-container layout — one storage account)
    because cross-filesystem rename is not defined.
    """
    HPath = spark._jvm.org.apache.hadoop.fs.Path
    tmp_path = HPath(tmp_root)
    fs = tmp_path.getFileSystem(spark._jsc.hadoopConfiguration())
    try:
        for i, dest in enumerate(staging):
            src_dir = HPath(tmp_path, f"{STAGING_COL}={i}")
            if not fs.exists(src_dir):
                continue
            dest_path = HPath(dest)
            fs.mkdirs(dest_path)
            for status in fs.listStatus(src_dir):
                child = status.getPath()
                target = HPath(dest_path, child.getName())
                if fs.exists(target):
                    fs.delete(target, True)
                if not fs.rename(child, target):
                    raise IOError(
                        f"rename {child} -> {target} failed; are all "
                        "staging roots on the same filesystem as the "
                        "temp root?"
                    )
    finally:
        fs.delete(tmp_path, True)
