package graft.operators

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.chain.MetadataChain
import graft.model.{DatasetVocabulary, Op}
import graft.model.MetadataEvent.{AddData, SetDataSchema}

/**
 * The slice commit pipeline every data-bearing block goes through — root
 * ingest, batch and streaming transforms, and transform replay alike:
 * [[prepareSlice]] (op, system columns, timestamp normalization, offsets,
 * column order) then [[commitSlice]] (single-file parquet slice, stats and
 * hashes over the persisted bytes, schema declaration). Mirrors the
 * reference's `DataWriterDataFusion` staging pipeline
 * (src/infra/ingest-datafusion/src/writer.rs:274-385, 552-712), which roots
 * and derivatives share, with one departure for scale:
 *
 * Offsets. The reference pins `target_partitions = 1` and uses
 * `row_number() over (order by ...)` (writer.rs:339-371), which serializes the
 * whole batch through one partition. We instead do a distributed total sort
 * (range-partitioned, spill-safe) followed by `zipWithIndex` — deterministic
 * given a deterministic sort, and parallel across the cluster. At 100 TB the
 * sort is the only global exchange; no single-partition bottleneck.
 */
object Writer {

  /** Cast every timestamp column to UTC millisecond precision semantics
    * (writer.rs:166-196). Spark's TimestampType is microsecond-precision
    * internally; we truncate sub-millisecond components for ODF parity. */
  def normalizeTimestamps(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map {
      case f if f.dataType == TimestampType =>
        timestamp_millis(unix_millis(col(f.name))).as(f.name)
      case f => col(f.name)
    }
    df.select(cols.toSeq: _*)
  }

  /**
   * Stamp `system_time` (literal commit time) and `event_time`
   * (coalesce(existing, fallback)) columns (writer.rs:295-337).
   */
  def stampSystemColumns(
      df: DataFrame,
      systemTime: Timestamp,
      eventTimeFallback: Option[Timestamp] = None,
      vocab: DatasetVocabulary = DatasetVocabulary.Default
  ): DataFrame = {
    val withSys = df.withColumn(vocab.systemTimeColumn, lit(systemTime))
    val fallback: Column = lit(eventTimeFallback.getOrElse(systemTime))
    if (withSys.columns.contains(vocab.eventTimeColumn))
      withSys.withColumn(vocab.eventTimeColumn, coalesce(col(vocab.eventTimeColumn), fallback))
    else withSys.withColumn(vocab.eventTimeColumn, fallback)
  }

  /**
   * Deterministic, distributed offset assignment: total sort by the merge
   * strategy's sort order, then dense offsets from per-partition row indexes
   * plus per-partition base offsets. Column order is normalized to
   * `offset, op, system_time, event_time, <data>` (writer.rs:374-383).
   *
   * Stays in the Dataset API end to end (no RDD round-trip through boxed
   * Rows): the sorted frame is localCheckpoint'd ONCE so both passes see the
   * identical partitioning (a re-executed range sort could re-sample
   * different boundaries), then `monotonically_increasing_id` encodes
   * (partitionId << 33 | rowIndexInPartition) — a documented stable layout —
   * from which a tiny per-partition count collect + broadcast base-offset
   * join produces dense offsets entirely inside whole-stage codegen. The
   * driver only ever sees one row per partition, never data.
   */
  def assignOffsets(
      df: DataFrame,
      sortOrder: Seq[Column],
      startOffset: Long = 0L,
      vocab: DatasetVocabulary = DatasetVocabulary.Default
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sorted =
      (if (sortOrder.nonEmpty) df.orderBy(sortOrder: _*) else df).localCheckpoint()
    val mid = monotonically_increasing_id()
    val pid = shiftrightunsigned(col("__mid"), 33)
    val idxInPartition = col("__mid").bitwiseAND(lit((1L << 33) - 1))
    val withMid = sorted.withColumn("__mid", mid)
    val counts = withMid
      .groupBy(pid.as("__pid"))
      .agg(count(lit(1)).as("__n"))
      .orderBy("__pid")
      .collect()
    var acc = startOffset
    val bases = counts.map { r =>
      val b = (r.getLong(0), acc); acc += r.getLong(1); b
    }.toSeq
    val baseDf = bases.toDF("__pid", "__base")
    val out = withMid
      .withColumn("__pid", pid)
      .join(broadcast(baseDf), Seq("__pid"))
      .withColumn(vocab.offsetColumn, col("__base") + idxInPartition)
      .drop("__pid", "__mid", "__base")
    normalizeColumnOrder(Nullability.markNotNull(out, Seq(vocab.offsetColumn)), vocab)
  }

  /** `offset, op, system_time, event_time, <data cols in input order>`. */
  def normalizeColumnOrder(
      df: DataFrame,
      vocab: DatasetVocabulary = DatasetVocabulary.Default
  ): DataFrame = {
    val sys = vocab.systemColumns.filter(df.columns.contains)
    val data = df.columns.filterNot(sys.contains)
    df.select((sys ++ data).map(col): _*)
  }

  /** Slice stats the commit needs: offset interval, record count, and the new
    * watermark = max(event_time) clamped to never regress below the previous
    * watermark (writer.rs:613-712, monotonicity at :697-704). */
  final case class SliceStats(
      offsetStart: Long,
      offsetEnd: Long,
      numRecords: Long,
      newWatermark: Option[Timestamp]
  )

  def computeStats(
      df: DataFrame,
      prevWatermark: Option[Timestamp] = None,
      vocab: DatasetVocabulary = DatasetVocabulary.Default
  ): Option[SliceStats] = computeStatsAndHash(df, prevWatermark, vocab).map(_._1)

  /**
   * Slice stats AND the layout-independent logical hash in ONE aggregation
   * pass — the commit path needs both, and a chain commit is latency-bound
   * by its job count, so they must not be two scans. The hash is the
   * [[logicalHash]] of the slice.
   */
  def computeStatsAndHash(
      df: DataFrame,
      prevWatermark: Option[Timestamp] = None,
      vocab: DatasetVocabulary = DatasetVocabulary.Default
  ): Option[(SliceStats, String)] = {
    val row = df
      .withColumn("__h", xxhash64(df.columns.map(col).toSeq: _*))
      .agg(
        min(col(vocab.offsetColumn)).as("o0"),
        max(col(vocab.offsetColumn)).as("o1"),
        count(lit(1)).as("n"),
        max(col(vocab.eventTimeColumn)).as("wm"),
        expr("bit_xor(__h)").as("x")
      )
      .head()
    if (row.getAs[Long]("n") == 0L) None
    else {
      val maxEvent = Option(row.getAs[Timestamp]("wm"))
      val wm = (maxEvent, prevWatermark) match {
        case (Some(m), Some(p)) => Some(if (m.before(p)) p else m)
        case (m, p)             => m.orElse(p)
      }
      val n = row.getAs[Long]("n")
      val logical = formatLogicalHash(row.getAs[Long]("x"), n)
      Some((SliceStats(row.getAs[Long]("o0"), row.getAs[Long]("o1"), n, wm), logical))
    }
  }

  // ---------------------------------------------------------- logical hash

  /**
   * Logical (content) hash: layout-independent digest of the slice rows.
   * XOR-aggregate of per-row xxhash64 over all columns — order- and
   * partitioning-independent (rows are unique by offset), distributed, no
   * driver materialization — suffixed with the row count. Internal-consistent
   * stand-in for the reference's arrow-digest RecordDigestV0
   * (src/odf/data-utils/src/data/hash.rs:24-64): the property that matters —
   * stable under re-encode/repartition/compaction — holds; cross-
   * implementation interop hashes do not.
   */
  def logicalHash(df: DataFrame): String = {
    val h = df
      .select(xxhash64(df.columns.map(col).toSeq: _*).as("h"))
      .agg(expr("bit_xor(h)").as("x"), count(lit(1)).as("n"))
      .head()
    formatLogicalHash(h.getAs[Long]("x"), h.getAs[Long]("n"))
  }

  /** The one encoding of a logical hash: `<xor as 16 hex digits>-<rows>`. */
  private[graft] def formatLogicalHash(xor: Long, rows: Long): String = f"$xor%016x-$rows%d"

  /** The row count a logical hash ends in. */
  private[graft] def logicalHashRecords(hash: String): Long =
    hash.substring(hash.lastIndexOf('-') + 1).toLong

  // ------------------------------------------------------------ slice commit

  /**
   * The pure half of a slice commit: `op = Append` when the frame has no op
   * column (batch-SQL transforms emit plain rows; every merge strategy
   * emits one), system columns stamped, timestamps normalized, and dense
   * offsets from `prevOffset + 1` in the caller's total order —
   * `merge.sortOrder` for ingest, `MergeStrategy.totalOrder` for transforms.
   */
  def prepareSlice(
      df: DataFrame,
      sortOrder: DataFrame => Seq[Column],
      prevOffset: Option[Long],
      systemTime: Long,
      vocab: DatasetVocabulary,
      eventTimeFallback: Option[Long] = None
  ): DataFrame = {
    val withOp =
      if (df.columns.contains(vocab.operationTypeColumn)) df
      else df.withColumn(vocab.operationTypeColumn, lit(Op.Append))
    val stamped = stampSystemColumns(
      withOp, new Timestamp(systemTime), eventTimeFallback.map(new Timestamp(_)), vocab)
    assignOffsets(
      normalizeTimestamps(stamped), sortOrder(stamped), prevOffset.map(_ + 1).getOrElse(0L), vocab)
  }

  /**
   * The effectful half: write a [[prepareSlice]]d frame as one slice file,
   * then compute stats and hashes in one pass over a re-read of the file, so
   * they describe the slice as persisted (writer.rs:613-712). Returns the
   * AddData — NOT yet appended: ingest appends it as is, transforms wrap it
   * in an ExecuteTransform — plus the written frame; None when the slice is
   * empty. `newWatermark` is max(event_time) clamped to the chain's current
   * watermark; transforms replace it with their propagated one.
   *
   * Schema rule, the same for roots and derivatives: the first slice
   * declares the schema, and a slice whose written schema differs (e.g. a
   * new column) appends a fresh SetDataSchema — the reference's
   * schema-migration-across-slices behavior (test_query_service_impl.rs:991).
   * Schema-first reads then use the DDL as of the pinned block: old slices
   * read under a newer DDL get nulls for the added columns, as-of reads see
   * the old shape. Only COMPATIBLE evolution commits (see
   * [[validateSchemaEvolution]]); anything else throws before the chain
   * moves.
   */
  def commitSlice(
      chain: MetadataChain,
      prepared: DataFrame,
      prevOffset: Option[Long],
      systemTime: Long,
      vocab: DatasetVocabulary
  ): Option[(AddData, DataFrame)] =
    writeSliceFile(chain, prepared).map { case (file, physicalHash) =>
      val spark = prepared.sparkSession
      val written = spark.read.parquet(file.toString)
      val (stats, logical) =
        computeStatsAndHash(written, chain.watermark().map(new Timestamp(_)), vocab).get
      val writtenDdl = written.schema.toDDL
      val declared = chain.schemaDdl()
      if (!declared.contains(writtenDdl)) {
        declared.foreach(validateSchemaEvolution(_, written.schema))
        chain.append(SetDataSchema(writtenDdl), systemTime)
      }
      val event = AddData(
        prevOffset = prevOffset,
        offsetStart = stats.offsetStart,
        offsetEnd = stats.offsetEnd,
        numRecords = stats.numRecords,
        physicalHash = physicalHash,
        logicalHash = logical,
        newWatermark = stats.newWatermark.map(_.getTime),
        logicalHashSha3 =
          if (RecordDigest.enabled(spark))
            Some(RecordDigest.digest(written.orderBy(vocab.offsetColumn)))
          else None
      )
      (event, written)
    }

  /**
   * Write a DataFrame as a single snappy parquet file under `data/<hash>`
   * (writer.rs:518-609); returns the final path + physical hash, or None for
   * an empty input. Physical hash = SHA-256 of the file bytes, streamed
   * through the chain's Hadoop FileSystem — fine to compute driver-side
   * because slices are size-bounded. Staging happens in a SIBLING `staging/`
   * dir (same filesystem, so the final move is a rename — atomic on
   * HDFS/posix, no cross-store copy) and NEVER inside `data/`: the data dir
   * is also a Structured Streaming file source
   * (StreamingOps.datasetStream), and a consumer listing it mid-write must
   * only ever see final content-addressed files, not transient part files
   * it would double-read.
   */
  private def writeSliceFile(chain: MetadataChain, df: DataFrame): Option[(Path, String)] = {
    val fs = chain.fs
    val tmp = new Path(new Path(chain.root, "staging"), s"tmp-${java.util.UUID.randomUUID()}")
    df.coalesce(1)
      .write
      .mode("overwrite")
      .option("compression", "snappy")
      .parquet(tmp.toString)
    val part = fs.listStatus(tmp)
      .map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
    val result = part.flatMap { p =>
      // A parquet file with zero rows still gets written (footer only, well
      // under 1 KiB of payload); detect emptiness from the FILE SIZE instead
      // of a count() scan — one fewer Spark job on every chain commit. The
      // smallest 1-row snappy file observed is ~1.5 KiB; an empty single
      // file is ~400-800 bytes of pure footer. The stats pass (numRecords)
      // is the authoritative check; this is the fast path for the common
      // identical-snapshot no-op.
      val isEmpty = fs.getFileStatus(p).getLen < 1024 &&
        df.sparkSession.read.parquet(p.toString).isEmpty
      if (isEmpty) None
      else {
        val hash = chain.sha256HexOf(p)
        val target = chain.dataFile(hash)
        if (!fs.exists(target)) fs.rename(p, target)
        Some((target, hash))
      }
    }
    // clean up the tmp dir (part file moved out or empty)
    fs.delete(tmp, true)
    result
  }

  /** Can a column of parquet type `from` be read under declared type `to`?
    * Identical always; otherwise the lossless widenings Spark's parquet
    * readers support (SPARK-40876): integral up-casts, float→double,
    * decimal precision growth that keeps all old values representable. */
  private def widens(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (a, b) if a == b                        => true
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType)     => true
      case (IntegerType, LongType)                 => true
      case (FloatType, DoubleType)                 => true
      case (a: DecimalType, b: DecimalType)        =>
        b.scale >= a.scale && (b.precision - b.scale) >= (a.precision - a.scale)
      case (ArrayType(a, _), ArrayType(b, _))      => widens(a, b)
      case (StructType(af), StructType(bf))        =>
        af.forall(f => bf.find(_.name == f.name).exists(g => widens(f.dataType, g.dataType)))
      case _                                       => false
    }

  /** Reject incompatible schema changes at write time: every previously
    * declared column must still exist with the same (or compatibly widened)
    * type. New columns are fine — old slices read under the new DDL yield
    * nulls for them. A dropped or retyped column would otherwise make head
    * reads fail on old slices (parquet type conflict) or silently hide the
    * dropped column. */
  private def validateSchemaEvolution(prevDdl: String, written: StructType): Unit = {
    val prev = StructType.fromDDL(prevDdl)
    val problems = prev.fields.flatMap { f =>
      written.fields.find(_.name == f.name) match {
        case None => Some(s"column '${f.name}' dropped")
        case Some(g) if !widens(f.dataType, g.dataType) =>
          Some(s"column '${f.name}' retyped ${f.dataType.simpleString} -> ${g.dataType.simpleString}")
        case _ => None
      }
    }
    if (problems.nonEmpty)
      throw new IllegalArgumentException(
        s"incompatible schema evolution rejected: ${problems.mkString("; ")} " +
          s"(only additive columns or lossless type widening are allowed)")
  }
}
