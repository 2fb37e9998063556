"""Batch ingest plan: messages -> (blob records, index metadata, dead letters).

Collapses the reference's Core + Indexer services (SURVEY.md §3.1-3.2:
persistor.go:96-166 batch handling, version split, blob write, metadata
enrichment; indexer.go:46-110 validate + finalize) into ONE declarative
DataFrame transformation.  The broker hop between the two services was an
implementation artifact — in Spark the index rows are a second projection of
the same micro-batch, so we never pay a second serialize/publish/consume.

Scale shape:
- version split (T3) = derived columns + `partitionBy` on write — distributed,
  no driver grouping;
- position assignment = one window shuffle keyed by `location_key` (bounded
  partitions, see operators.positions);
- everything else is narrow projections inside whole-stage codegen;
- dead-letter routing (K6) is a filter split, not a second pass.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation, functions as F

from persistor_spark.config import IngestConfig
from persistor_spark.functions import keys
from persistor_spark.operators import blob_naming
from persistor_spark.operators.version_batching import (
    version_column,
    version_column_names,
)

# Dead-letter reason attributes (sender.go:46-76; category strings from
# persistor.go:43-46 and indexer.go:41-44).
DL_CATEGORY_STORAGE = "Storage error"
DL_CATEGORY_PARSER = "Metadata parser error"
DL_CATEGORY_MONGO = "MongoDB storage error"
DL_SOURCE_CORE = "Dataphos Persistor - Core"
DL_SOURCE_INDEXER = "Dataphos Persistor - Indexer"


def _is_path_missing(exc: AnalysisException) -> bool:
    """True iff the AnalysisException means 'no table at this path yet': no
    directory, or a directory holding no data file (a zero-row first append
    to a partitioned table leaves only its _SUCCESS marker)."""
    cond = getattr(exc, "getCondition", lambda: None)() or ""
    msg = str(exc)
    return (
        "PATH_NOT_FOUND" in cond
        or "UNABLE_TO_INFER_SCHEMA" in cond
        or "Path does not exist" in msg
    )


@dataclass
class IngestResult:
    """The three outputs of one ingest batch (SURVEY.md §3.1)."""

    blob_records: DataFrame
    index_metadata: DataFrame
    deadletter: DataFrame
    mask_column_names: list
    _intermediate: DataFrame | None = None

    def unpersist(self) -> None:
        if self._intermediate is not None:
            self._intermediate.unpersist()


def clock_expr(cfg: IngestConfig) -> Column:
    """Deterministic clock column if configured, else wall clock
    (storage.go:104 uses time.Now(); tests inject — SURVEY.md §7.3 #4)."""
    return F.col(cfg.clock_column) if cfg.clock_column else F.current_timestamp()


def clock_sql(cfg: IngestConfig) -> str:
    """The same clock as a SQL expression string, for the expr-string plan
    builders (r14 opt, guide §1.2).  current_timestamp() is a query-start
    literal, so repeating the string across mask expressions yields the
    identical value the shared Column object did."""
    from persistor_spark.functions.sqlq import sql_ident

    return sql_ident(cfg.clock_column) if cfg.clock_column else "current_timestamp()"


def _content_hash(clock: Column) -> Column:
    """64-bit hash of every message column either sink writes, NULLs
    included (to_json names each field, so a value cannot move between
    fields unnoticed): the run_batch position window's tiebreak."""
    return F.xxhash64(
        F.to_json(
            F.struct(
                "payload",
                "publish_time",
                "ingestion_time",
                "ordering_key",
                "business_source_key",
                "business_object_key",
                "attributes",
                clock.alias("clock"),
            )
        )
    )


def run_batch(
    messages: DataFrame,
    cfg: IngestConfig,
    failure: Column | None = None,
    failure_category: Column | None = None,
    failure_source: Column | None = None,
    persist_intermediate: bool = False,
    blob_name: Column | None = None,
) -> IngestResult:
    """Transform one batch of messages.

    `failure` marks rows whose persist would fail (mirrors the reference's
    writer-failure injection tests, handler_test.go:519-645); they take the
    dead-letter path (K6) and are excluded from blobs and index.  Production
    streaming uses try/except + idempotent MERGE instead (E1 resolution).

    `blob_name` overrides the blob filename component of location_key
    (default broker_id).  The streaming path passes a batch-scoped name so
    blobs from different micro-batches never share a location_key — the
    reference gets the same uniqueness by naming each blob after its first
    message id (storage.go:50,113).
    """
    cfg.validate()
    # Dead-letter branch: original payload + attributes + 3 reason attributes.
    dl_cat = failure_category if failure_category is not None else F.lit(DL_CATEGORY_STORAGE)
    dl_src = failure_source if failure_source is not None else F.lit(DL_SOURCE_CORE)
    dl_projection = [
        keys.unique_id().alias("unique_id"),
        F.col("payload"),
        F.col("attributes"),
        dl_cat.alias("dead_letter_error_category"),
        F.lit("simulated persist failure").alias("dead_letter_error_reason"),
        dl_src.alias("dead_letter_source"),
    ]
    if failure is None:
        # No failure hook -> the split is static: live is the whole batch
        # and the dead-letter frame is empty by construction.  Skipping the
        # __failed column + the filter pair matters because every
        # DataFrame op analyzes the whole accumulated plan EAGERLY, once
        # per streaming micro-batch (r14 opt, guide §1.2 driver work).
        live = messages
        deadletter = messages.limit(0).select(*dl_projection)
    else:
        msgs = messages.withColumn("__failed", failure)
        deadletter = msgs.filter(F.col("__failed")).select(*dl_projection)
        live = msgs.filter(~F.col("__failed")).drop("__failed")
    if not cfg.dead_letter_enabled:
        deadletter = deadletter.limit(0)

    ver_cols = version_column_names(cfg.version_keys)
    clock = clock_expr(cfg)
    # Mask = configured members + version members appended (the reference
    # interleaves them via `{attr}` mask entries; config may also put the
    # version attr directly in the mask — avoid double-adding).
    mask_members = list(cfg.storage.mask)
    for vk in cfg.version_keys:
        if "{" + vk + "}" not in mask_members:
            mask_members = mask_members + ["{" + vk + "}"]
    storage_cfg = cfg.storage.__class__(
        **{**cfg.storage.__dict__, "mask": tuple(mask_members)}
    )
    # T3 version split + T4 blob naming + T6 unique_id: derived columns in
    # THREE fused withColumns ops (version+mask cols are independent;
    # location_key/unique_id reference them by name; the window columns
    # reference those) — each DataFrame op is one eager analysis of the
    # growing plan, so op count is the driver-side cost that recurs per
    # micro-batch (r14 opt, guide §1.2).
    mask_cols, lk = blob_naming.blob_column_exprs(
        storage_cfg, clock_sql(cfg), blob_name=blob_name
    )
    live = live.withColumns(
        {
            **{f"__version_{k}": version_column(k) for k in cfg.version_keys},
            **mask_cols,
        }
    )
    mask_names = list(mask_cols)
    live = live.withColumns(
        {
            "location_key": lk,
            "unique_id": keys.unique_id(),
            "__content": _content_hash(clock),
        }
    )
    # Fused position pass (r14 opt, guide §2.1): the index's
    # `location_position` and the blob records' `position` are the SAME
    # row_number over (location_key, unique_id) — record_id IS unique_id —
    # so compute the window ONCE here, before the sink fork, instead of
    # once per sink.  With persist_intermediate the cached prefix now
    # holds the window output, so the second sink's action skips the
    # shuffle+sort entirely (previously each sink ran its own Window
    # pass over the batch).  Values are unchanged: with_positions /
    # with_blob_positions produced identical row numbers from identical
    # (partition, order) specs.
    #
    # The ORDER BY breaks unique_id ties by the row's content: an
    # at-least-once source can redeliver one unique_id twice in a batch with
    # different content, and the default streaming path evaluates this
    # window once PER SINK (no cache), so both evaluations must hand each
    # delivery the same position.  The content enters as a 64-bit hash
    # (`__content`, a column so both window functions share one sort), and
    # each sink's shuffle carries 8 more bytes per row.  Ordering by the
    # raw columns would ship the payload through the index sink's shuffle
    # too, and AQE then splits the index write into more files for readers
    # to open.  Deliveries that still tie are identical in what the sinks
    # write, barring a 2^-64 hash collision.  Distinct unique_ids never
    # reach the tiebreak, so their positions are unchanged.
    from pyspark.sql import Window as _W

    _w = _W.partitionBy("location_key").orderBy("unique_id", "__content")
    live = live.withColumns(
        {
            "__pos": F.row_number().over(_w).cast("int"),
            "__blob_n": F.count(F.lit(1)).over(
                _w.rowsBetween(_W.unboundedPreceding, _W.unboundedFollowing)
            ),
        }
    )
    # blob and index projections fork here; caching the shared prefix stops
    # each sink's action from re-deriving it (used by bench, and by
    # foreachBatch under a failure hook)
    if persist_intermediate:
        live = live.persist()

    # Index projection (T5/T6 enrichment + T10 finalize).
    idx_clock = clock + F.expr(f"INTERVAL {cfg.indexer_clock_skew_s} SECOND")
    # NULL-for-singletons is an index-side convention (positions.py)
    index_metadata = live.withColumn(
        "location_position", F.when(F.col("__blob_n") > 1, F.col("__pos"))
    ).select(
        "broker_id",
        "broker_msg_id",
        "unique_id",
        "business_source_key",
        "business_object_key",
        keys.index_source_key().alias("index_source_key"),
        "ordering_key",
        keys.additional_metadata().alias("additional_metadata"),
        "location_key",
        "location_position",
        "publish_time",
        "ingestion_time",
        idx_clock.alias("indexer_ingestion_time"),
        F.lit(False).alias("confirmation_flag"),
    )

    # Blob projection (K3 record shape: persistor_record.go:23-33); blob
    # files number EVERY record, so position is the bare fused row_number.
    blob_records = live.select(
        "location_key",
        F.col("__pos").alias("position"),
        F.col("unique_id").alias("record_id"),
        "payload",
        F.col("attributes").alias("metadata"),
        *mask_names,
    )

    return IngestResult(
        blob_records,
        index_metadata,
        deadletter,
        mask_names,
        _intermediate=live if persist_intermediate else None,
    )


def write_index_merge(result: IngestResult, path: str, lock_path: str | None = None) -> int:
    """Exactly-once index append WITHOUT Delta: anti-join the incoming batch
    against the unique_ids already present, append only the new rows.
    Returns the number of rows appended.

    This is the E1 resolution for redelivered batches (at-least-once source
    -> exactly-once table): a replayed micro-batch finds all its unique_ids
    present and appends nothing.  On Delta/Iceberg clusters this whole
    function is `MERGE INTO ... WHEN NOT MATCHED THEN INSERT`; the anti-join
    formulation keeps the same semantics on plain parquet.  Scale note: the
    existing-side scan projects ONLY unique_id (column-pruned) and the join
    is key-hash distributed; with the sorted layout option row-group stats
    prune untouched files.

    `lock_path`: serialize the whole read-dedup-append sequence under a
    cross-process advisory flock (sources/_statelock).  A SINGLE writer —
    one Structured Streaming query, where the checkpoint already
    serializes batches — never needs it.  TWO CONCURRENT writers on one
    table do: without the lock each anti-joins against a snapshot missing
    the other's in-flight append, so overlapping (redelivered-across-
    writers) ids commit twice, and plain-parquet appends additionally
    race on the table's shared `_temporary` committer dir.  On Delta/
    Iceberg this is the transaction log's job; the flock is the plain-
    parquet analogue, local-FS scope like the broker stand-ins.
    """
    if lock_path is not None:
        from persistor_spark.sources._statelock import state_lock

        with state_lock(lock_path):
            return write_index_merge(result, path, None)
    spark = result.index_metadata.sparkSession
    new = result.index_metadata
    try:
        existing_ids = spark.read.parquet(path).select("unique_id")
        new = new.join(existing_ids, "unique_id", "left_anti")
    except AnalysisException as exc:
        # ONLY "table doesn't exist yet" may skip the dedup anti-join; any
        # other analysis failure (corrupt footer, schema, permissions) must
        # surface, or a transient error silently appends duplicates.
        if not _is_path_missing(exc):
            raise
    # ONE job: the appended-row count rides the write as an Observation.
    # An empty append still writes Spark's zero-row schema file here (the
    # table is unpartitioned); it holds no rows for the anti-join to see.
    obs = Observation()
    new.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("append").parquet(path)
    return obs.get["n"]


_AVRO_CHECKED: dict = {}


def avro_available(spark) -> bool:
    """spark-avro is an external module (not in every distro); probe once.
    The reference's blobs are Avro OCF (write_to_avro.go:34-43) — when the
    module is absent we persist parquet with the same schema/layout, which
    preserves every queryable property (location_key/position contract)."""
    key = id(spark)
    if key not in _AVRO_CHECKED:
        try:
            spark.sql("SELECT to_avro(named_struct('a', 1))")
            _AVRO_CHECKED[key] = True
        except Exception:  # noqa: BLE001 — any failure means "module absent"
            _AVRO_CHECKED[key] = False
    return _AVRO_CHECKED[key]


def resolve_blob_format(spark, fmt: str) -> str:
    if fmt == "avro" and not avro_available(spark):
        return "parquet"
    return fmt


def write_blobs(result: IngestResult, path: str, fmt: str = "avro") -> None:
    """Physically persist blob records, directory-partitioned by the mask
    columns so every mask member partition-prunes at read time (T4 parity:
    same directory structure the reference builds by string concat).

    Formats: `ocf` writes the reference's LIVE contract — one Avro OCF file
    per location_key, persistorrecord schema (formats.ocf_io; replay-
    idempotent by byte-identical overwrite); `avro` uses spark-avro when
    deployed and falls back to parquet; `parquet` is the columnar layout
    the query path prefers."""
    if fmt == "ocf":
        from persistor_spark.formats import ocf_io

        ocf_io.write_blobs_ocf(result, path)
        return
    fmt = resolve_blob_format(result.blob_records.sparkSession, fmt)
    # repartition on the mask columns first: the upstream position window
    # leaves rows partitioned by location_key (and AQE-coalesced), so every
    # write task would otherwise open a file in EVERY mask directory —
    # task-count x dir-count small files and serial encode per task.  With
    # mask partitioning each directory is written by one task.  The
    # explicit partition count keeps AQE from coalescing the write down to
    # a handful of tasks (parquet encode is CPU-bound; fewer tasks just
    # serialize it) — hash partitioning still maps each directory to
    # exactly one task, so the files-per-directory guarantee holds.
    spark = result.blob_records.sparkSession
    n_write = spark.sparkContext.defaultParallelism
    (
        result.blob_records.repartition(n_write, *result.mask_column_names)
        .write.mode("append")
        .partitionBy(*result.mask_column_names)
        .format(fmt)
        .save(path)
    )


def write_blobs_merge(
    result: IngestResult, path: str, fmt: str = "avro", lock_path: str | None = None
) -> int:
    """Exactly-once blob append: anti-join the batch's records on
    (location_key, record_id) against what's already persisted, append only
    the new rows.  Returns the number of rows appended.

    This is the blob-side twin of write_index_merge — a checkpoint replay
    (batch failed AFTER the blob write but before the index write, or an
    at-least-once source redelivered) finds its rows present and appends
    nothing, so the E1 exactly-once-table guarantee covers blobs too.
    Scale: the existing side projects only the two join-key columns
    (column-pruned scan) and the join hash-distributes on location_key;
    on Delta/Iceberg this is MERGE WHEN NOT MATCHED.

    `lock_path`: serialize concurrent WRITERS, exactly as in
    write_index_merge (see its docstring for when it is required).
    """
    if lock_path is not None:
        from persistor_spark.sources._statelock import state_lock

        with state_lock(lock_path):
            return write_blobs_merge(result, path, fmt, None)
    spark = result.blob_records.sparkSession
    fmt = resolve_blob_format(spark, fmt)
    new = result.blob_records
    try:
        existing = spark.read.format(fmt).load(path).select("location_key", "record_id")
        new = new.join(existing, ["location_key", "record_id"], "left_anti")
    except AnalysisException as exc:
        if not _is_path_missing(exc):
            raise
    # same mask repartition as write_blobs (see its comment): the anti-join
    # leaves rows hash-distributed on the join key, so every write task
    # would otherwise open a file in EVERY mask directory — the small-files
    # explosion, on the DEFAULT streaming blob path.  ONE job, counted by
    # an Observation as in write_index_merge; an empty append writes no
    # file, since the partitioned writer opens files on the first row.  The
    # Observation sits ABOVE the repartition: AQE replaces a shuffle stage
    # whose output is empty, and any Observation inside it is lost.
    obs = Observation()
    (
        new.repartition(spark.sparkContext.defaultParallelism, *result.mask_column_names)
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .write.mode("append")
        .partitionBy(*result.mask_column_names)
        .format(fmt)
        .save(path)
    )
    return obs.get["n"]


def write_index_bucketed(
    result: IngestResult,
    table_name: str,
    n_buckets: int = 64,
    mode: str = "append",
) -> None:
    """Catalog-managed index table BUCKETED by unique_id (hash buckets +
    in-bucket sort).  Joins and IN-list semi-joins on unique_id against
    another table bucketed the same way read co-located buckets directly —
    NO shuffle on either side (the plan shows SortMergeJoin with zero
    Exchange).  This is the 100 TB shape for the resubmit metadata join and
    repeated id-set lookups: the expensive hash-distribute happens once at
    write time, every subsequent join is free.  (Mongo gets this from the
    _id index; Delta/Iceberg deployments would use liquid clustering or
    sorted compaction instead.)"""
    (
        result.index_metadata.write.mode(mode)
        .bucketBy(n_buckets, "unique_id")
        .sortBy("unique_id")
        .format("parquet")
        .saveAsTable(table_name)
    )


def write_index(
    result: IngestResult, path: str, fmt: str = "parquet", optimize_layout: bool = False
) -> None:
    """Persist index metadata (K4 analogue).  Parquet append locally; on a
    Delta-enabled cluster this becomes MERGE on unique_id for exactly-once
    (E1 resolution, SURVEY.md §7.3 #1).

    `optimize_layout` range-partitions + sorts by unique_id so parquet
    row-group min/max statistics prune point/IN-list lookups (the poor man's
    Z-order; the reference gets the same effect from Mongo's _id index)."""
    df = result.index_metadata
    if optimize_layout:
        df = df.repartitionByRange("unique_id").sortWithinPartitions("unique_id")
    df.write.mode("append").format(fmt).save(path)
